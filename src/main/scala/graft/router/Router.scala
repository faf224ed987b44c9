package graft.router

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnShim
import graft.config.ResolvedSpliter

/** The routing core: first-match-wins ordered multiway routing through one
  * matching kernel ([[RouteMatcher]]) that each message goes through once.
  *
  * Reference semantics replicated (reference main.go:490-655):
  *   1. predicates evaluate in declared split order; first hit wins
  *      (main.go:595-597) — the kernel returns the lowest-index split that
  *      matches;
  *   2. a drop split (resolved topic == None) still CLAIMS the message:
  *      later splits and the unmatched route never see it
  *      (main.go:533-541);
  *   3. "unmatched" = matched by zero splits (main.go:599-606); when no
  *      unmatched topic is configured the row is discarded;
  *   4. matching reads only `value` as UTF-8 bytes; `key` rides along
  *      untouched (main.go:515,521 / main.go:497);
  *   5. payloads are forwarded verbatim — no rewrite (main.go:496-499).
  *
  * A null `value` (a Kafka tombstone) matches no split and goes to the
  * unmatched disposition. The reference instead treats a nil value as
  * empty bytes, so there a pattern that matches `""` would claim it; graft
  * keeps the unmatched behaviour.
  *
  * Why this design scales: `route` is ONE `Generate` over the input —
  * `explode` of the constant per-disposition topic array the kernel picks
  * — with no `Filter` for Catalyst to push below it and so evaluate the
  * kernel twice. The kernel finds every substring split and every regex
  * split's required literal in one forward pass over the bytes: a
  * Wu–Manber skip jumps over bytes where no literal can start, and an
  * Aho–Corasick automaton reads the rest, each byte at most once; a regex
  * runs only when its literal occurs. Tasks carry only
  * the plan; the automaton and the regexes are built on the executor
  * before the first row (mirroring the reference's plan-time precompile,
  * main.go:447-457). No shuffle, no state:
  * throughput scales linearly with input partitions.
  *
  * Regex dialect note (SURVEY §2.1 F1): the reference uses Go RE2
  * `regexp.Match` (unanchored find); the kernel runs Java regex unanchored
  * find, as `rlike` does. All shipped patterns are in the RE2∩Java common
  * subset. Patterns using RE2-only or Java-only syntax would diverge;
  * `PlanResolver` compiles each pattern with java.util.regex at plan time
  * to fail fast.
  */
object Router {

  /** Strip redundant leading/trailing `.*` from a pattern destined for
    * unanchored find: `find(".*X.*")` ≡ `find("X")`. The reference's RE2 is
    * linear-time so its plans carry the wrappers harmlessly
    * (topic.yaml:5); Java regex backtracks, making a leading `.*` O(n²) on
    * misses — measured 3× router throughput from this rewrite alone.
    * Conservative: only bare `.*` (not `\.*`, not `.*?`, no anchors) is
    * stripped, and never below an empty pattern.
    */
  private[graft] def stripRedundantWildcards(p: String): String = {
    var s = p
    // leading ".*" strips only when what follows is not another quantifier:
    // ".*?x" is lazy, ".*+x" possessive, ".*{2}x" counted, ".**x" stacked —
    // stripping any of those changes semantics or leaves an invalid regex
    def leadingBare(t: String): Boolean =
      t.startsWith(".*") &&
        (t.length == 2 || !"?*+{".contains(t.charAt(2)))
    while (leadingBare(s) && s.length > 2) s = s.substring(2)
    // trailing ".*" unless the dot is escaped ("\.*") or quantifier is lazy
    def endsWithBare(t: String): Boolean =
      t.endsWith(".*") && !t.endsWith("\\.*") && !t.endsWith(".*?")
    while (endsWithBare(s)) s = s.substring(0, s.length - 2)
    if (s.isEmpty) p else s
  }

  private def matchValue(spliter: ResolvedSpliter, keep: Boolean): Column =
    ColumnShim.column(RouteMatch(
      ColumnShim.expression(col("value").cast("string")), RouteMatcher(spliter), keep))

  /** Route a DataFrame that has `key`/`value` columns (any type castable to
    * string for `value`): discards claimed-drop and unroutable rows and
    * projects to the Kafka-sink shape `(key, value, topic)` — the
    * reference's P1 projection (main.go:496-499), which strips
    * headers/offsets/timestamps.
    */
  def route(df: DataFrame, spliter: ResolvedSpliter): DataFrame =
    df.select(col("key"), col("value"), explode(matchValue(spliter, keep = false)).as("topic"))

  /** Like `route` but keeps all columns and rows, with a nullable `topic`
    * (NULL = dropped or unroutable) — useful for diagnostics and for the
    * correctness harness (count drops/unmatched).
    */
  def routeKeep(df: DataFrame, spliter: ResolvedSpliter): DataFrame =
    df.withColumn("topic", matchValue(spliter, keep = true))

  /** The route rendered as ANSI SQL (CASE WHEN ... RLIKE / LIKE), for the
    * DuckDB oracle track. Must stay semantically identical to `routeKeep`.
    */
  def routeSql(valueExpr: String, spliter: ResolvedSpliter): String = {
    def sq(s: String) = "'" + s.replace("'", "''") + "'"
    def like(p: String) = {
      // substring containment via LIKE with escaped wildcards
      val esc = p.replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_")
      s"$valueExpr LIKE ${sq("%" + esc + "%")} ESCAPE '\\'"
    }
    val whens = spliter.splits.map { s =>
      val pred =
        if (s.extractor.useRegex) s"regexp_matches($valueExpr, ${sq(s.extractor.pattern)})"
        else like(s.extractor.pattern)
      val dest = s.topic.map(sq).getOrElse("CAST(NULL AS VARCHAR)")
      s"WHEN $pred THEN $dest"
    }
    val unmatched = spliter.unmatchedTopic.map(sq).getOrElse("CAST(NULL AS VARCHAR)")
    if (whens.isEmpty) unmatched
    else s"CASE ${whens.mkString(" ")} ELSE $unmatched END"
  }
}
