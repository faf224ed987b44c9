package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.Row
import graft.config.ResolvedSpliter
import graft.router.Router

/** Structured-Streaming wiring for the router core.
  *
  * Reference topology (main.go:333-336): one consume goroutine + one produce
  * goroutine + one bounded channel PER SPLITER. Spark-first equivalent: one
  * `StreamingQuery` per spliter — each with its own Kafka source topic,
  * group id, and checkpoint — supervised together via
  * `spark.streams.awaitAnyTermination()` which mirrors the reference's
  * fail-fast error channel (main.go:339-345).
  *
  * Delivery semantics: checkpointed source offsets + Kafka sink give
  * at-least-once, strictly stronger than the reference, which auto-commits
  * consumer offsets on read cadence and can therefore LOSE messages still
  * buffered in its producer batches on crash (SURVEY §4.3). We deliberately
  * do NOT replicate that loss window, nor the reference's error-path bug of
  * forwarding a zero-value message after a failed read (main.go:355-359).
  *
  * Batching: the reference flushes per-topic batches at count=100 or a 10 s
  * timer (main.go:484-488, 544-592). Spark's unit of progress is the
  * trigger; `Trigger.ProcessingTime(10s)` reproduces the time bound, and
  * Kafka producer `linger.ms`/`batch.size` options reproduce transport
  * batching. Empty micro-batches still fire on the trigger, matching the
  * reference's idle-tick flush behavior (main.go:494-502).
  *
  * The Kafka connector jar is absent in this offline environment (SURVEY
  * §7.0), so `fromKafka`/Kafka sink are exercised in production deployments
  * only; tests drive the identical `routeStream` transform via MemoryStream
  * (see RouterStreamingSpec).
  */
object StreamRouter {

  /** Consumer-group id templating, reference main.go:318-323:
    * `{prefix}-streamer-{suffix}_{inputTopic}`, with the 64-char caps of
    * main.go:207-221 enforced at build time.
    */
  def groupId(prefix: String, suffix: String, inputTopic: String): String = {
    require(prefix.length <= 64, s"group prefix exceeds 64 chars: $prefix")
    require(suffix.length <= 64, s"group suffix exceeds 64 chars: $suffix")
    s"$prefix-streamer-${suffix}_$inputTopic"
  }

  /** Kafka source for one spliter (prod-only here; see scaladoc above).
    * startingOffsets=earliest mirrors the reference's FirstOffset default
    * (main.go:62).
    */
  def fromKafka(
      spark: SparkSession,
      brokers: String,
      spliter: ResolvedSpliter,
      groupPrefix: String,
      groupSuffix: String,
      extraOptions: Map[String, String] = Map.empty,
  ): DataFrame = {
    val base = spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", spliter.inputTopic)
      .option("startingOffsets", "earliest")
      .option("kafka.group.id", groupId(groupPrefix, groupSuffix, spliter.inputTopic))
    extraOptions.foldLeft(base) { case (b, (k, v)) => b.option(k, v) }.load()
  }

  /** The pure streaming transform: identical to the batch `Router.route`
    * (same Column expression — this is the seam that keeps test and prod
    * paths on one code path).
    */
  def routeStream(df: DataFrame, spliter: ResolvedSpliter): DataFrame =
    Router.route(df, spliter)

  /** Kafka sink honoring the per-row `topic` column (multiway routing with
    * a SINGLE sink — the Kafka connector routes each row by its `topic`).
    */
  def toKafka(
      routed: DataFrame,
      brokers: String,
      checkpointLocation: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
      extraOptions: Map[String, String] = Map.empty,
  ): DataStreamWriter[Row] = {
    val base = routed.writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("checkpointLocation", checkpointLocation)
      .trigger(trigger)
    extraOptions.foldLeft(base) { case (b, (k, v)) => b.option(k, v) }
  }

  /** Kafka-less multiplex sink: fan the routed stream out into per-topic
    * directories (`<root>/topic=<name>/...`) — the filesystem analogue of
    * per-topic Kafka delivery, giving a complete production path when no
    * broker is present (or for archival taps). Exactly-once via the file
    * sink manifest; partition pruning makes per-topic consumption a
    * directory read.
    */
  def toPartitionedFiles(
      routed: DataFrame,
      outputRoot: String,
      checkpointLocation: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
  ): DataStreamWriter[Row] =
    routed.writeStream
      .format("parquet")
      .partitionBy("topic")
      .option("path", outputRoot)
      .option("checkpointLocation", checkpointLocation)
      .trigger(trigger)

  /** Debug-only sampled match tap (O1 parity, reference main.go:511-531):
    * a separate lightweight query over the same source that logs a capped
    * sample of (value-prefix, winning topic) per micro-batch via
    * `Supervision.debugMatchTap`. Running it as its OWN query (own
    * consumer group, own checkpoint) keeps the production query's
    * codegen'd plan completely untouched — the cost is one extra
    * debug-only consumer, paid only when DEBUG is set.
    */
  def debugTap(
      src: DataFrame,
      spliter: ResolvedSpliter,
      checkpointLocation: String,
      sampleMod: Int = 1000,
      maxRows: Int = 20,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
  ): DataStreamWriter[Row] =
    Router.routeKeep(src, spliter)
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        Supervision.debugMatchTap(batch, sampleMod, maxRows, id)
      }
      .option("checkpointLocation", checkpointLocation)
      .trigger(trigger)
}
