package graft.router

import java.nio.charset.StandardCharsets.UTF_8
import scala.util.Random
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.config._

/** Property-style randomized routing tests (SURVEY §5.2-2): both entry
  * points, `Router.route` and `Router.routeKeep`, must agree with an
  * INDEPENDENT plain-Scala interpreter of the reference semantics on
  * randomized plans and messages, and every message must land in exactly
  * one of {some split topic, unmatched, dropped}. Deterministic seeds keep
  * failures reproducible.
  */
class RouterPropertySpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  /** Independent reference interpreter over the raw value bytes:
    * first-match over splits, substring = byte containment, regex = Java
    * find on the UTF-8 decoding; drop claims; unmatched only when zero
    * splits match, or when the value is null (main.go:490-655).
    */
  private def routeScala(value: Array[Byte], s: ResolvedSpliter): Option[String] =
    if (value == null) s.unmatchedTopic
    else s.splits.find { sp =>
      if (sp.extractor.useRegex)
        java.util.regex.Pattern.compile(sp.extractor.pattern).matcher(new String(value, UTF_8)).find()
      else value.indexOfSlice(sp.extractor.pattern.getBytes(UTF_8)) >= 0
    } match {
      case Some(sp) => sp.topic
      case None     => s.unmatchedTopic
    }

  // small alphabet => dense pattern/message collisions exercise ordering
  private def word(r: Random): String =
    (1 to (1 + r.nextInt(3))).map(_ => ('a' + r.nextInt(3)).toChar).mkString

  /** Message pieces: ASCII letters (one upper case for `(?i)`), a dot, a
    * two-byte UTF-8 character and bytes that are not valid UTF-8.
    */
  private val pieces: IndexedSeq[Array[Byte]] =
    (Seq("a", "b", "c", "a", "b", "c", "A", ".", "é").map(_.getBytes(UTF_8)) ++
      Seq(Array(0xff.toByte), Array(0xc3.toByte), Array(0x80.toByte))).toIndexedSeq

  /** Text messages use only the valid UTF-8 pieces; binary ones all. */
  private def message(r: Random, binary: Boolean): Array[Byte] = {
    val n = if (binary) pieces.length else pieces.length - 3
    (0 until r.nextInt(13)).flatMap(_ => pieces(r.nextInt(n)).toSeq).toArray
  }

  /** Regex shapes: plain literals, a literal before a quantifier, a group
    * or a depth-0 alternation, inline flags, classes, wildcard wrappers and
    * escaped dots.
    */
  private def regex(r: Random): String = {
    val (w, v) = (word(r), word(r))
    val c = ('a' + r.nextInt(3)).toChar
    r.nextInt(10) match {
      case 0 => w
      case 1 => s"$w$c${Seq("*", "+", "?", "{2}")(r.nextInt(4))}"
      case 2 => s"$w($v|$c)"
      case 3 => s"$w|$v"
      case 4 => s"(?i)$w"
      case 5 => s"[ab]$w"
      case 6 => s".*$w.*"
      case 7 => s"$w\\.$v"
      case 8 => s"$w(?i)$v"
      case _ => s"$w.$v"
    }
  }

  private def substring(r: Random): String =
    if (r.nextInt(6) == 0) word(r) + "é" else word(r)

  private def genSpliter(r: Random): ResolvedSpliter = {
    val splits = (1 to (1 + r.nextInt(6))).map { _ =>
      val useRegex = r.nextInt(3) == 0
      val pat = if (useRegex) regex(r) else substring(r)
      r.nextInt(4) match {
        case 0 => Split(Extractor(pat, useRegex), outputTopic = Some(s"topic-$pat"))
        case 1 => Split(Extractor(pat, useRegex), action = Some("debug"))
        case 2 => Split(Extractor(pat, useRegex), action = Some("missing-action")) // drop
        case _ => Split(Extractor(pat, useRegex)) // implicit matched (or drop if absent)
      }
    }
    val actions = Map("debug" -> "t-debug") ++
      (if (r.nextBoolean()) Map("matched" -> "t-matched") else Map.empty) ++
      (if (r.nextBoolean()) Map("unmatched" -> "t-unmatched") else Map.empty)
    PlanResolver.resolveSpliter(Spliter("in", actions, splits))
  }

  test("Catalyst route == independent Scala interpreter on random plans") {
    (1 to 24).foreach { trial =>
      val r = new Random(42L + trial)
      val spliter = genSpliter(r)
      val binary = trial % 2 == 0
      val messages = (1 to 80).map { _ =>
        if (binary && r.nextInt(20) == 0) null else message(r, binary)
      }
      val rows = messages.zipWithIndex.map { case (m, i) => (i.toString, m) }
      val df =
        if (binary) rows.toDF("key", "value")
        else rows.map { case (k, m) => (k, new String(m, UTF_8)) }.toDF("key", "value")
      val want = messages.indices.map(i => i.toString -> routeScala(messages(i), spliter)).toMap
      val kept = Router.routeKeep(df, spliter)
        .select($"key", $"topic").as[(String, Option[String])].collect()
      val routed = Router.route(df, spliter)
        .select($"key", $"topic").as[(String, String)].collect()
      def shown(i: Int) = Option(messages(i)).map(_.map(b => f"${b & 0xff}%02x").mkString(" "))
      kept.foreach { case (k, t) =>
        assert(t == want(k), s"trial $trial routeKeep: message ${shown(k.toInt)} diverged for plan $spliter")
      }
      assert(kept.length == messages.length)
      assert(routed.toMap == want.collect { case (k, Some(t)) => k -> t },
        s"trial $trial route diverged for plan $spliter")
      assert(routed.length == want.values.count(_.isDefined)) // one row per routed message
    }
  }

  test("kernel == independent Scala interpreter on many plans, without Spark") {
    (1 to 2000).foreach { trial =>
      val r = new Random(7L + trial)
      val spliter = genSpliter(r)
      val matcher = RouteMatcher(spliter)
      (1 to 50).foreach { _ =>
        val m = message(r, binary = true)
        val got = Option(matcher.topic(matcher.firstMatch(UTF8String.fromBytes(m)))).map(_.toString)
        assert(got == routeScala(m, spliter), s"trial $trial: ${m.toSeq} diverged for plan $spliter")
      }
    }
  }

  test("totality: every message lands in exactly one disposition") {
    (1 to 8).foreach { trial =>
      val r = new Random(4242L + trial)
      val spliter = genSpliter(r)
      val messages = (1 to 60).map(_ => new String(message(r, binary = false), UTF_8))
      val df = messages.zipWithIndex.map { case (m, i) => (i, m) }.toDF("id", "value")
      val topics = Router.routeKeep(df, spliter)
        .select($"id", $"topic").as[(Int, Option[String])].collect()
      assert(topics.length == messages.length) // no row lost or duplicated
      val legal: Set[Option[String]] =
        spliter.splits.map(_.topic).toSet + spliter.unmatchedTopic + None
      topics.foreach { case (_, t) => assert(legal.contains(t)) }
    }
  }
}
