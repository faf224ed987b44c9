package graft.router

import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable
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

  /** A short pattern: (pattern, is regex). */
  private def shortPattern(r: Random): (String, Boolean) = {
    val useRegex = r.nextInt(3) == 0
    (if (useRegex) regex(r) else substring(r), useRegex)
  }

  private def genSpliter(r: Random, pattern: Random => (String, Boolean) = shortPattern): ResolvedSpliter = {
    val splits = (1 to (1 + r.nextInt(6))).map { _ =>
      val (pat, useRegex) = pattern(r)
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

  /** A literal of `minLen` to 40 bytes over a three-letter alphabet: half
    * of them periodic (`abab…`, `aabaab…`), so occurrences overlap, and
    * with `minLen == 1` half of them one byte long.
    */
  private def longLiteral(r: Random, minLen: Int): String = {
    val n = if (minLen == 1 && r.nextBoolean()) 1 else minLen + r.nextInt(41 - minLen)
    if (r.nextBoolean()) (Seq("ab", "aab", "abc")(r.nextInt(3)) * n).take(n)
    else (1 to n).map(_ => "aabbc".charAt(r.nextInt(5))).mkString
  }

  /** A pattern over a long literal, which is recorded in `planted` with
    * whether it is a regex's. Regex shapes: the literal alone, before a
    * class, a group or a quantifier, inside wildcards, and two with no
    * required literal (a leading class, `(?i)`).
    */
  private def longPattern(minLen: Int, planted: mutable.Buffer[(String, Boolean)])(r: Random): (String, Boolean) = {
    val lit = longLiteral(r, minLen)
    val useRegex = r.nextInt(3) == 0
    planted += ((lit, useRegex))
    if (!useRegex) (lit, false)
    else (Seq(lit, s"$lit[ab]", s"$lit(a|bc)", s"${lit}c*", s".*$lit.*", s"[ab]$lit", s"(?i)$lit")(r.nextInt(7)), true)
  }

  /** A message of 0–600 bytes: filler (mostly the literals' letters, so
    * near misses abound, plus the other pieces) with literals planted at
    * offset 0, back to back, overlapping, cut short by one byte, after a
    * non-ASCII or invalid UTF-8 byte (regex literals), and ending at the
    * last byte.
    */
  private def longMessage(r: Random, planted: IndexedSeq[(String, Boolean)]): Array[Byte] = {
    val target = r.nextInt(601)
    val out = mutable.ArrayBuffer[Byte]()
    def lit(): Array[Byte] = planted(r.nextInt(planted.length))._1.getBytes(UTF_8)
    if (r.nextInt(4) == 0) out ++= lit()
    while (out.length < target) r.nextInt(40) match {
      case 0 => val l = lit(); out ++= l ++= l
      case 1 => val l = lit(); out ++= l ++= l.drop(1 + r.nextInt(l.length))
      case 2 => out ++= lit().dropRight(1)
      case 3 =>
        val regexLits = planted.filter(_._2)
        if (regexLits.nonEmpty) {
          out ++= pieces(8 + r.nextInt(4)) // é, 0xff, 0xc3 or 0x80
          out ++= regexLits(r.nextInt(regexLits.length))._1.getBytes(UTF_8)
        }
      case k if k < 30 => out += "ab".charAt(k % 2).toByte
      case _ => out ++= pieces(r.nextInt(pieces.length))
    }
    if (r.nextInt(4) == 0) { val l = lit(); out.take(math.max(0, target - l.length)).toArray ++ l }
    else out.take(target).toArray
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
    // long messages and literals: a shortest literal of 1 byte in most
    // plans (every shift is 0), of 17 or more (the skip loop jumps), or
    // anything from 2 to 40
    (1 to 600).foreach { trial =>
      val r = new Random(77L + trial)
      val minLen = Seq(1, 17, 2)(trial % 3)
      val planted = mutable.ArrayBuffer[(String, Boolean)]()
      val spliter = genSpliter(r, longPattern(minLen, planted))
      val matcher = RouteMatcher(spliter)
      (1 to 20).foreach { _ =>
        val m = longMessage(r, planted.toIndexedSeq)
        val got = Option(matcher.topic(matcher.firstMatch(UTF8String.fromBytes(m)))).map(_.toString)
        assert(got == routeScala(m, spliter),
          s"long trial $trial: ${new String(m, UTF_8)} diverged for plan $spliter")
      }
    }
  }

  test("kernel stays linear when every window of a long run is a candidate") {
    // In a run of `a`, every window of m = 256 bytes ends in `aa`, which
    // ends the first 256 bytes of `a`×1023+`b`: every shift is 0. In
    // `abab…`, every other window ends in `ba`, which ends the first 257
    // bytes of (`ab`×512)+`c`. On a 4-vCPU x86 box the kernel's best of 3
    // read 13–17 ms per 4 MiB case; a per-window byte compare of each
    // literal (~1,300 bytes per window here) read 1.5–4.1 s.
    val mib = 4 << 20
    val cases = Seq(
      ("a" * mib, Seq("a" * 1023 + "b", "a" * 255 + "b", "a" * 600 + "b"), "b"),
      ("ab" * (mib / 2), Seq("ab" * 512 + "c", "ab" * 128 + "c", "ab" * 300 + "c"), "c"))
    cases.foreach { case (run, lits, terminal) =>
      val spliter = PlanResolver.resolveSpliter(Spliter("in", Map("unmatched" -> "none"),
        lits.zipWithIndex.map { case (l, i) => Split(Extractor(l, useRegex = i == 2), outputTopic = Some(s"t$i")) }))
      val matcher = RouteMatcher(spliter)
      Seq(run, run + terminal).foreach { text =>
        val bytes = text.getBytes(UTF_8)
        val value = UTF8String.fromBytes(bytes)
        val got = Option(matcher.topic(matcher.firstMatch(value))).map(_.toString)
        assert(got == routeScala(bytes, spliter), s"${lits.head.take(4)}… on ${bytes.length} bytes")
        val ms = (1 to 3).map { _ =>
          val t = System.nanoTime(); matcher.firstMatch(value); (System.nanoTime() - t) / 1e6
        }.min
        info(f"${lits.head.take(4)}… on ${bytes.length} bytes: $ms%.1f ms")
        assert(ms < 200, s"${lits.head.take(4)}… took $ms ms on ${bytes.length} bytes")
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
