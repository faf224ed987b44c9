package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Observability + supervision for the routing fleet.
  *
  * Reference model (main.go:339-345): one shared error channel; any
  * consume/produce error → logger.Fatal → process exit → container restart.
  * Spark-first equivalent: a StreamingQueryListener logging progress
  * (structured, replacing zap — O1), and `awaitAnyFailure` that rethrows
  * the first query failure so the process exits non-zero and the
  * supervisor restarts it. Checkpoints make the restart resume from
  * committed offsets — strictly safer than the reference's
  * commit-ahead-of-flush window (SURVEY §4.3).
  *
  * We do NOT replicate the reference's error-path bug of forwarding a
  * zero-value message after a failed read (main.go:355-359): a failed Spark
  * task retries or fails the query; it never emits phantom rows.
  */
object Supervision {

  // hand-built JSON must stay VALID: escape strings (exception text and
  // message payloads hold quotes/newlines) and never emit bare NaN (Spark
  // reports NaN rates on the first batch) — downstream log ingestion
  // rejects both
  import graft.Json.{str => js}
  private[streaming] def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  /** Structured per-batch progress logging (rows/sec per query), the O1
    * surface. Debug mode additionally logs query start/stop lifecycle.
    */
  final class ProgressLogger(debug: Boolean) extends StreamingQueryListener {
    private val log = org.slf4j.LoggerFactory.getLogger("graft.streaming")

    override def onQueryStarted(e: QueryStartedEvent): Unit =
      if (debug) log.info(s"""{"event":"query_started","name":${js(String.valueOf(e.name))},"id":${js(e.id.toString)}}""")
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      log.info(s"""{"event":"progress","name":${js(String.valueOf(p.name))},"batch":${p.batchId},""" +
        s""""numInputRows":${p.numInputRows},"inputRowsPerSecond":${num(p.inputRowsPerSecond)},""" +
        s""""processedRowsPerSecond":${num(p.processedRowsPerSecond)}}""")
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      log.info(s"""{"event":"query_terminated","id":${js(e.id.toString)},"exception":${e.exception.map(js).getOrElse("null")}}""")
  }

  /** Sampled per-message match logging — the scale-adapted form of the
    * reference's per-message DEBUG lines (main.go:511-514 regex matches,
    * main.go:526-531 substring matches, which log EVERY match). At 100 TB
    * per-row executor logging is both a throughput killer (it breaks the
    * codegen'd projection) and a log-volume DoS, so this taps a
    * deterministic ~1/sampleMod sample by xxhash64(value), caps the
    * driver-collected sample at maxRows per call, and logs one structured
    * line per sampled row. The production query's plan is untouched.
    *
    * Input is a `Router.routeKeep`-shaped frame (`value`, `topic`
    * columns); NULL topic (dropped/unmatched) logs as "__dropped".
    */
  def debugMatchTap(routedKeep: org.apache.spark.sql.DataFrame,
                    sampleMod: Int = 1000, maxRows: Int = 20, batchId: Long = -1L,
                    sink: String => Unit = defaultDebugSink): Unit = {
    import org.apache.spark.sql.functions._
    // coalesce FIRST: a tombstone (null value) hashes to the seed (42),
    // which passes the sample filter whenever sampleMod divides 42 — an
    // unguarded getString would then NPE, fail the tap query, and take the
    // whole router down through awaitAnyFailure
    val v = coalesce(col("value").cast("string"), lit(""))
    routedKeep
      .filter(pmod(xxhash64(v), lit(sampleMod.toLong)) === 0)
      .select(substring(v, 1, 80).as("prefix"), col("topic"))
      .limit(maxRows)
      .collect()
      .foreach { r =>
        val topic = Option(r.getString(1)).getOrElse("__dropped")
        val batch = if (batchId >= 0) s""","batch":$batchId""" else ""
        sink(s"""{"event":"match","value_prefix":${js(r.getString(0))},"topic":${js(topic)}$batch}""")
      }
  }

  private def defaultDebugSink: String => Unit =
    org.slf4j.LoggerFactory.getLogger("graft.streaming").debug(_)

  def install(spark: SparkSession, debug: Boolean = false): ProgressLogger = {
    val l = new ProgressLogger(debug)
    spark.streams.addListener(l)
    l
  }

  /** Block until any query fails (crash-and-restart model, E1) or all
    * queries terminate cleanly. Rethrows the failure.
    */
  def awaitAnyFailure(spark: SparkSession): Unit = {
    // loop: after a clean termination other queries may still be running
    while (spark.streams.active.nonEmpty) {
      spark.streams.awaitAnyTermination()
      spark.streams.resetTerminated()
    }
  }
}
