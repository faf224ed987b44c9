package graft.router

import java.nio.charset.StandardCharsets.UTF_8
import java.util.regex.Pattern
import scala.collection.mutable
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import graft.config.ResolvedSpliter

/** The routing kernel: one pass over a message's UTF-8 bytes decides which
  * split claims it.
  *
  * An Aho–Corasick automaton over every substring pattern, plus one
  * required ASCII literal per regex split ([[RouteMatcher.requiredLiteral]]),
  * walks the bytes once. A substring split matches exactly when its pattern
  * occurs in the bytes — the byte-wise test `Contains` runs. A regex split
  * runs `Pattern.matcher(value.toString).find()`, as `RLike` does, but only
  * when its literal occurred (or it has none) and no lower-index split has
  * already matched. The result is the lowest-index matching split, so
  * first-match-wins order holds.
  *
  * Dispositions are split indices `0 until n`; `n` means unmatched. A null
  * value is unmatched.
  *
  * Only the plan is serialized with a task: the transition table and the
  * compiled patterns are built lazily on the executor, by the first row
  * each deserialized copy matches.
  */
final case class RouteMatcher(spliter: ResolvedSpliter) {
  private val splits = spliter.splits.toIndexedSeq
  private val n = splits.length

  /** The disposition meaning "no split matched". */
  def unmatched: Int = n

  /** Per disposition, the topics `Router.route` explodes: `[topic]` for a
    * routed split, `[]` for a drop split, the unmatched topic or `[]`.
    */
  private val topicArrays: Array[ArrayData] =
    (splits.map(_.topic) :+ spliter.unmatchedTopic).map { t =>
      new GenericArrayData(t.map(UTF8String.fromString).toArray[Any]): ArrayData
    }.toArray

  /** Per disposition, the nullable topic `Router.routeKeep` emits. */
  private val topicValues: Array[UTF8String] =
    (splits.map(_.topic) :+ spliter.unmatchedTopic).map(_.map(UTF8String.fromString).orNull).toArray

  def topics(d: Int): ArrayData = topicArrays(d)
  def topic(d: Int): UTF8String = topicValues(d)

  /** Regex splits in index order: split index, wildcard-stripped pattern
    * and the required literal ("" when there is none).
    */
  private val regexSplits: Array[(Int, String, String)] =
    splits.zipWithIndex.collect { case (s, i) if s.extractor.useRegex =>
      val p = Router.stripRedundantWildcards(s.extractor.pattern)
      (i, p, RouteMatcher.requiredLiteral(p))
    }.toArray

  /** Substring splits: split index and pattern. */
  private val substrings: Seq[(Int, String)] =
    splits.zipWithIndex.collect { case (s, i) if !s.extractor.useRegex => (i, s.extractor.pattern) }

  /** The lowest split matching every value: an empty substring pattern. */
  private val alwaysMatched: Int =
    substrings.collectFirst { case (i, "") => i }.getOrElse(n)

  /** The automaton and the compiled regexes; never serialized. */
  @transient private lazy val kernel: RouteMatcher.Kernel =
    RouteMatcher.Kernel.build(substrings.filter(_._2.nonEmpty), regexSplits)

  /** The lowest-index split whose predicate holds for `value`, or
    * [[unmatched]]. `value` may be null.
    */
  def firstMatch(value: UTF8String): Int =
    if (value == null) n else kernel.firstMatch(value, alwaysMatched)
}

object RouteMatcher {

  /** The leading run of plain ASCII literal characters of `regex`: every
    * match of `regex` contains it, so a value without it cannot match.
    * Returns "" when there is no such literal:
    *   - the pattern starts with a metacharacter (a group, a class, a flag,
    *     an anchor, a dot);
    *   - it has a `|` at depth 0, so no branch is required;
    *   - its syntax cannot be followed here (`\Q` quoting, unbalanced
    *     brackets).
    * A backslash before ASCII punctuation is that literal character. The
    * run stops at any other escape, metacharacter or non-ASCII character,
    * and drops its last character when a quantifier follows it.
    */
  def requiredLiteral(regex: String): String = {
    if (!topLevelAlternationFree(regex)) return ""
    val run = mutable.ArrayBuffer[Char]()
    var i = 0
    var stop = false
    while (!stop && i < regex.length) {
      val c = regex.charAt(i)
      if (c == '\\' && i + 1 < regex.length && isPunct(regex.charAt(i + 1))) {
        run += regex.charAt(i + 1); i += 2
      } else if (c < 0x80 && !isMeta(c) && c != '\\') {
        run += c; i += 1
      } else stop = true
    }
    if (i < regex.length && "*+?{".indexOf(regex.charAt(i)) >= 0 && run.nonEmpty)
      run.remove(run.length - 1)
    run.mkString
  }

  private def isMeta(c: Char): Boolean = ".[]()|^$*+?{}".indexOf(c) >= 0

  private def isPunct(c: Char): Boolean =
    c < 0x80 && !Character.isLetterOrDigit(c) && !Character.isISOControl(c) && c != ' '

  /** True when `regex` has no `|` outside groups and classes. False too
    * when the scan cannot be sure: `\Q` quoting or unbalanced brackets.
    */
  private def topLevelAlternationFree(regex: String): Boolean = {
    var depth = 0
    var cls = 0 // character-class nesting (Java allows `[a[b]]`)
    var i = 0
    while (i < regex.length) {
      regex.charAt(i) match {
        case '\\' =>
          if (i + 1 < regex.length && regex.charAt(i + 1) == 'Q') return false
          i += 1
        case '[' =>
          cls += 1
          // a `]` first in a class (after an optional `^`) is literal
          if (i + 1 < regex.length && regex.charAt(i + 1) == '^') i += 1
          if (i + 1 < regex.length && regex.charAt(i + 1) == ']') i += 1
        case ']' if cls > 0 => cls -= 1
        case '(' if cls == 0 => depth += 1
        case ')' if cls == 0 =>
          depth -= 1
          if (depth < 0) return false
        case '|' if cls == 0 && depth == 0 => return false
        case _ =>
      }
      i += 1
    }
    depth == 0 && cls == 0
  }

  /** The executor-side state: a dense Aho–Corasick automaton over the
    * distinct literals and the compiled regexes.
    *
    * `delta(row + byte)` is the next state's row (state × 256), with the
    * sign bit set when that state ends at least one literal. For such a
    * state, `subMin` is the lowest substring split it completes and
    * `regexSeen` the bits of the regex literals it completes (bit k for
    * the k-th regex split with a literal; only the first 64 get one, the
    * rest run on every row).
    */
  final class Kernel private (
      delta: Array[Int],
      subMin: Array[Int],
      regexSeen: Array[Long],
      regexIndex: Array[Int],
      regexBit: Array[Long],
      regex: Array[Pattern],
  ) {
    def firstMatch(value: UTF8String, alwaysMatched: Int): Int = {
      val base = value.getBaseObject
      val offset = value.getBaseOffset
      val len = value.numBytes
      var best = alwaysMatched
      var seen = 0L
      var row = 0
      var i = 0
      while (i < len) {
        var c = Platform.getByte(base, offset + i) & 0xff
        // at the root, bytes that start no literal keep it there: skip them
        // without waiting on the state-to-state load chain
        while (row == 0 && delta(c) == 0 && i + 1 < len) {
          i += 1
          c = Platform.getByte(base, offset + i) & 0xff
        }
        val e = delta(row + c)
        row = e & Int.MaxValue
        if (e < 0) {
          val st = row >>> 8
          if (subMin(st) < best) best = subMin(st)
          seen |= regexSeen(st)
        }
        i += 1
      }
      var text: String = null
      var k = 0
      while (k < regexIndex.length && regexIndex(k) < best) {
        if (regexBit(k) == 0L || (seen & regexBit(k)) != 0L) {
          if (text == null) text = value.toString
          if (regex(k).matcher(text).find()) best = regexIndex(k)
        }
        k += 1
      }
      best
    }
  }

  object Kernel {
    /** `substrings`: (split index, non-empty pattern); `regexSplits`: per
      * regex split in index order, (split index, stripped pattern, literal).
      */
    def build(substrings: Seq[(Int, String)], regexSplits: Array[(Int, String, String)]): Kernel = {
      val none = Int.MaxValue
      // literal bytes → (lowest substring split, regex literal bits)
      val literals = mutable.LinkedHashMap[Seq[Byte], (Int, Long)]()
      def add(lit: String, sub: Int, bit: Long): Unit = {
        val key = lit.getBytes(UTF_8).toSeq
        val (s0, b0) = literals.getOrElse(key, (none, 0L))
        literals(key) = (math.min(s0, sub), b0 | bit)
      }
      substrings.foreach { case (i, p) => add(p, i, 0L) }
      var bits = 0
      val regexBit = regexSplits.map { case (_, _, lit) =>
        if (lit.isEmpty || bits == 64) 0L else { add(lit, none, 1L << bits); bits += 1; 1L << (bits - 1) }
      }

      // trie
      val goto = mutable.ArrayBuffer(Array.fill(256)(-1))
      val outSub = mutable.ArrayBuffer(none)
      val outBits = mutable.ArrayBuffer(0L)
      literals.foreach { case (bytes, (sub, bits)) =>
        var s = 0
        bytes.foreach { b =>
          val c = b & 0xff
          if (goto(s)(c) < 0) {
            goto(s)(c) = goto.length
            goto += Array.fill(256)(-1); outSub += none; outBits += 0L
          }
          s = goto(s)(c)
        }
        outSub(s) = math.min(outSub(s), sub)
        outBits(s) |= bits
      }
      val states = goto.length
      require(states < (1 << 23), s"routing automaton too large: $states states")

      // breadth-first: failure links fold into a dense transition table,
      // and each state inherits the outputs of its failure state
      val fail = new Array[Int](states)
      val next = new Array[Int](states * 256)
      val queue = mutable.Queue[Int]()
      for (c <- 0 until 256) {
        val t = goto(0)(c)
        if (t > 0) { fail(t) = 0; next(c) = t; queue += t } else next(c) = 0
      }
      while (queue.nonEmpty) {
        val s = queue.dequeue()
        outSub(s) = math.min(outSub(s), outSub(fail(s)))
        outBits(s) |= outBits(fail(s))
        for (c <- 0 until 256) {
          val t = goto(s)(c)
          if (t > 0) {
            fail(t) = next(fail(s) * 256 + c)
            next(s * 256 + c) = t
            queue += t
          } else next(s * 256 + c) = next(fail(s) * 256 + c)
        }
      }
      val hasOut = Array.tabulate(states)(s => outSub(s) != none || outBits(s) != 0L)
      val delta = next.map(t => if (hasOut(t)) (t << 8) | Int.MinValue else t << 8)

      new Kernel(
        delta, outSub.toArray, outBits.toArray,
        regexSplits.map(_._1), regexBit, regexSplits.map(r => Pattern.compile(r._2)))
    }
  }
}

/** Catalyst face of a [[RouteMatcher]]: the disposition of `child` (the
  * string view of `value`) as the topics `Router.route` explodes
  * (`keep = false`, array<string>) or the nullable topic
  * `Router.routeKeep` adds (`keep = true`). Codegen calls the matcher
  * through `addReferenceObj`, so the surrounding plan stays in whole-stage
  * codegen. Unlike `NativeUnaryKernel` it is not null-intolerant: a null
  * value has a disposition (unmatched) too.
  */
case class RouteMatch(child: Expression, matcher: RouteMatcher, keep: Boolean)
    extends UnaryExpression {
  override def dataType: DataType =
    if (keep) StringType else ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = keep
  override def prettyName: String = "route_match"
  override protected def stringArgs: Iterator[Any] = Iterator(child)

  override def eval(input: InternalRow): Any = {
    val d = matcher.firstMatch(child.eval(input).asInstanceOf[UTF8String])
    if (keep) matcher.topic(d) else matcher.topics(d)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("routeMatcher", matcher, classOf[RouteMatcher].getName)
    val c = child.genCode(ctx)
    val d = ctx.freshName("disposition")
    val first = s"int $d = ${c.isNull} ? $m.unmatched() : $m.firstMatch(${c.value});"
    val javaType = CodeGenerator.javaType(dataType)
    if (keep)
      ev.copy(code = code"""
        ${c.code}
        $first
        $javaType ${ev.value} = $m.topic($d);
        boolean ${ev.isNull} = ${ev.value} == null;""")
    else
      ev.copy(code = code"""
        ${c.code}
        $first
        $javaType ${ev.value} = $m.topics($d);""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
