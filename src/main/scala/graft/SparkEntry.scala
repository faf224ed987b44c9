package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._
import graft.queries._
import graft.queries.DedupQueries.clusterArtifact
import graft.queries.TextQueries.{classifierArtifact, multiclassArtifact,
  sampledClassifierArtifact, unigramArtifact}

/** What Verify, Bench and the other mains read: the flagship `entry`,
  * the query registry (one `QuerySpec` per query, defined by family under
  * `graft.queries`), its two name-keyed views, and the trainer warmers.
  */
object SparkEntry {
  /** Every query, in family order; a name defined twice fails here. */
  val registry: Seq[QuerySpec] = QuerySpec.registry(
    RouterQueries.specs, DedupQueries.specs, SimilarityQueries.specs, TextQueries.specs,
    EventQueries.specs, RelationalQueries.specs, MultimodalQueries.specs)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  val oracleSql: Map[String, String] = registry.map(q => q.name -> q.oracleSql).toMap

  /** Bench seam: the build-once artifact memos, exposed so the bench can
    * force (and time) each trainer BEFORE the per-query sweep instead of
    * letting the training cost land inside whichever consumer query the
    * sweep happens to time first (BENCH_r11: `docs_classifier_apply`
    * max 99.15 s vs med 8.48 s was exactly the memoized 64-round train).
    * A 100 TB deployment trains once and serves the artifact table —
    * train and apply are separate bench lines because they are separate
    * jobs there. Keys are the bench-payload line names.
    */
  val trainerWarmers: Map[String, (SparkSession, String) => Unit] = Map(
    "cluster_build" -> ((s, dir) => { clusterArtifact(s, dir).count(); () }),
    "classifier_train" -> ((s, dir) => { classifierArtifact(s, dir); () }),
    "classifier_train_sampled" -> ((s, dir) => { sampledClassifierArtifact(s, dir); () }),
    "multiclass_train" -> ((s, dir) => { multiclassArtifact(s, dir); () }),
    "unigram_train" -> ((s, dir) => { unigramArtifact(s, dir); () }))

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Analytics.pricingSummary(spark, "/root/testdata/sf0.001")
      .orderBy(col("l_returnflag"), col("l_linestatus"))
}
