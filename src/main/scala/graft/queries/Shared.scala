package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops.TextAnalysis

/** Builder and oracle-SQL fragments used by more than one query family. */
private[queries] object Shared {
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.read(spark, dir, name)

  // shared text-analysis fragments (DuckDB dialect)
  val toks = raw"string_split_regex(trim(text), '\s+')"
  val subw = raw"regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')"
  def markers(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("[", ", ", "]")
  val mk = TextAnalysis.langMarkers.toMap
  // exact n-gram Jaccard — also the oracle for dedup_minhash_lsh: LSH
  // candidate recall is exact on the test corpora (DedupSpec proves LSH
  // output == brute-force Jaccard at every SF), so both queries must
  // produce these exact rows
  val jaccardSql =
    s"""WITH toks AS (SELECT doc_id, $toks AS w FROM documents),
       |grams AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS g
       |          FROM toks, unnest(generate_series(1, greatest(len(w)-2, 1))) AS t(i)),
       |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
       |          FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
       |SELECT id_a, id_b, round(c * 1.0 / (sa.n + sb.n - c), 4) AS jaccard
       |FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
       |WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.5 ORDER BY id_a, id_b""".stripMargin
}
