package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One query (SURVEY §7): its name, its builder over an sf directory, and
  * its DuckDB oracle SQL. Query names map to SURVEY §2 operator ids in
  * comments.
  *
  * Hash-compare hygiene rules applied throughout (both sides identically):
  *   - every aggregate/computed column aliased to the same name;
  *   - double aggregates rounded (2–4 dp) so summation-order ulps can't
  *     flip the hash; ints/strings preferred in outputs;
  *   - timestamps emitted as epoch seconds (floor), never formatted;
  *   - every result deterministically ordered.
  *
  * @param oracleSql DuckDB SQL equivalent — since round 10, for EVERY query:
  *   the last three sketch queries (q_approx_distinct, q_percentiles_approx,
  *   text_decontaminate_bloom) are promoted via within-documented-bound
  *   verdicts — the sketch value is engine-specific, but the accuracy
  *   CONTRACT is a deterministic boolean both engines state identically
  *   (sketches here are hash-seeded, not random), emitted alongside the
  *   exact values the oracle checks in full.
  *   (sim_topk_ivf carries an oracle since its round-8 promotion to
  *   the planted-twin exact leg — see the query comment. dedup_simhash and
  *   dedup_minhash_estimate carry oracles since round 9: OracleHashSql
  *   recomputes the xxhash64 dialect in DuckDB, so their hash-seeded
  *   values are exactly reproducible.)
  *   (dedup_minhash_lsh and dedup_embedding_cosine DO carry oracles: their
  *   LSH recall is exact on the test corpora, spec-proven, so they share
  *   their brute-force counterparts' SQL.)
  * @param oracleOnly the query exists ONLY as a correctness oracle for a
  *   scale-path counterpart — a deliberately quadratic/unbounded shape that
  *   the harness runs at test SFs but that must never be mistaken for a
  *   production entry (at 100× it cannot run). Bench reports such queries
  *   under a separate "oracles" key so the headline totals are the
  *   production surface only. (dedup_ngram_jaccard is the brute-force
  *   exact-Jaccard oracle whose production shape is dedup_minhash_lsh.)
  */
final case class QuerySpec(name: String, build: (SparkSession, String) => DataFrame,
                           oracleSql: String, oracleOnly: Boolean = false) {
  require(oracleSql.trim.nonEmpty, s"query $name has no oracle SQL")
}

object QuerySpec {
  /** Concatenates family lists into one registry; a name defined twice
    * fails here, naming every duplicate, instead of one definition
    * silently shadowing the other in a name-keyed view.
    */
  def registry(families: Seq[QuerySpec]*): Seq[QuerySpec] = {
    val all = families.flatten
    val dups = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    all
  }
}
