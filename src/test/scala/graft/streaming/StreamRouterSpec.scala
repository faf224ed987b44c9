package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.config._

/** Streaming-path tests without Kafka (the connector jar is absent offline —
  * SURVEY §7.0): MemoryStream drives the IDENTICAL routeStream transform the
  * Kafka path uses; the memory sink stands in for the Kafka sink.
  */
class StreamRouterSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val spliter = PlanResolver.resolveSpliter(Spliter(
    inputTopic = "in",
    actions = Map("matched" -> "m-topic", "unmatched" -> "u-topic"),
    splits = Seq(
      Split(Extractor("alpha"), outputTopic = Some("a-topic")),
      Split(Extractor("beta"), action = Some("gone")), // drop (R5)
      Split(Extractor("gamma")),                       // implicit matched
    ),
  ))

  test("routeStream over MemoryStream: routing, drop, unmatched, ordering") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String)]
    val routed = StreamRouter.routeStream(
      input.toDF().toDF("key", "value"), spliter)
    input.addData(
      ("k1", "xx alpha yy"),      // -> a-topic
      ("k2", "xx beta yy"),       // dropped (claimed, discarded)
      ("k3", "xx gamma yy"),      // -> m-topic (implicit matched)
      ("k4", "nothing"),          // -> u-topic
      ("k5", "beta then alpha"),  // matches splits 1 and 2; split 1 is
                                  // checked FIRST -> a-topic
    )
    val q = routed.writeStream
      .format("memory").queryName("route_out")
      .trigger(Trigger.AvailableNow())  // = the reference's drain-then-flush
      .start()
    q.awaitTermination(60000)
    val out = spark.table("route_out")
      .select($"key", $"topic").as[(String, String)].collect().toMap
    assert(out == Map("k1" -> "a-topic", "k3" -> "m-topic", "k4" -> "u-topic", "k5" -> "a-topic"))
    assert(!out.contains("k2")) // dropped row never reaches the sink
    spark.streams.active.foreach(_.stop())
  }

  test("incremental micro-batches preserve routing across triggers") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String)]
    val routed = StreamRouter.routeStream(input.toDF().toDF("key", "value"), spliter)
    val q = routed.writeStream.format("memory").queryName("route_inc").start()
    input.addData(("b1", "alpha"))
    q.processAllAvailable()
    input.addData(("b2", "gamma"), ("b3", "???"))
    q.processAllAvailable()
    val out = spark.table("route_inc").select($"key", $"topic")
      .as[(String, String)].collect().toMap
    assert(out == Map("b1" -> "a-topic", "b2" -> "m-topic", "b3" -> "u-topic"))
    q.stop()
  }

  test("drop split, no unmatched topic: only routed rows reach the sink, once") {
    implicit val sqlCtx = spark.sqlContext
    val dropping = PlanResolver.resolveSpliter(Spliter(
      inputTopic = "in",
      actions = Map("matched" -> "m-topic"), // no unmatched topic
      splits = Seq(
        Split(Extractor("alpha"), outputTopic = Some("a-topic")),
        Split(Extractor("beta"), action = Some("gone")),  // drop (R5)
        Split(Extractor("gam+a", useRegex = true)),       // implicit matched
      ),
    ))
    val batches = Seq(
      Seq(("d1", "alpha"), ("d2", "beta"), ("d3", "gammma"), ("d4", "none")),
      Seq(("d5", "beta alpha"), ("d6", "xbetax"), ("d7", ""), ("d8", "xgamay")))
    val input = MemoryStream[(String, String)]
    val q = StreamRouter.routeStream(input.toDF().toDF("key", "value"), dropping)
      .writeStream.format("memory").queryName("route_drop").start()
    batches.foreach { b => input.addData(b); q.processAllAvailable() }
    q.stop()
    val out = spark.table("route_drop").select($"key", $"topic").as[(String, String)].collect()
    // claimed (d2, d6) and unroutable (d4, d7) rows never arrive; the rest once
    assert(out.map(_._1).sorted.toSeq == Seq("d1", "d3", "d5", "d8"))
    val batch = graft.router.Router.route(batches.flatten.toDF("key", "value"), dropping)
      .groupBy("topic").count().as[(String, Long)].collect().toMap
    assert(out.groupBy(_._2).map { case (t, rows) => t -> rows.length.toLong } == batch)
    assert(batch == Map("a-topic" -> 2L, "m-topic" -> 2L))
  }

  test("group id templating matches the reference format with 64-char caps") {
    assert(StreamRouter.groupId("pfx", "sfx", "topicA") == "pfx-streamer-sfx_topicA")
    intercept[IllegalArgumentException] {
      StreamRouter.groupId("x" * 65, "s", "t")
    }
  }

  test("late data beyond the watermark is dropped; in-horizon late data counts") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val agg = graft.ops.Events.tumblingStream(
      input.toDF().toDF("ts", "event_type"), "1 hour", "2 hours")
    val q = agg.writeStream.format("memory").queryName("late_out")
      .outputMode("append").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    input.addData((t("2024-01-01 00:10:00"), "click"))
    q.processAllAvailable()
    // advance event time far enough that hour-0's window finalizes
    input.addData((t("2024-01-01 05:00:00"), "view"))
    q.processAllAvailable()
    // hour-0 arrives again: beyond watermark (05:00 - 2h = 03:00) → dropped
    input.addData((t("2024-01-01 00:20:00"), "click"))
    q.processAllAvailable()
    input.addData((t("2024-01-01 09:00:00"), "view")) // flush remaining windows
    q.processAllAvailable()
    val rows = spark.table("late_out")
      .select(col("window.start").cast("string"), $"event_type", $"n_events")
      .as[(String, String, Long)].collect().toSet
    // the late 00:20 click did NOT bump hour-0's count
    assert(rows.contains(("2024-01-01 00:00:00", "click", 1L)))
    q.stop()
  }

  test("watermarked tumbling aggregation runs on a stream (event-time surface)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val df = input.toDF().toDF("ts", "event_type")
    val agg = graft.ops.Events.tumblingStream(df, "1 hour", "2 hours")
    val q = agg.writeStream.format("memory").queryName("tumble_out")
      .outputMode("append").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    input.addData(
      (t("2024-01-01 00:10:00"), "click"),
      (t("2024-01-01 00:20:00"), "click"),
      (t("2024-01-01 01:10:00"), "view"),
      (t("2024-01-01 09:00:00"), "click"), // advances watermark far past hour 0
    )
    q.processAllAvailable()
    val rows = spark.table("tumble_out")
      .select(col("window.start").cast("string"), $"event_type", $"n_events")
      .as[(String, String, Long)].collect().toSet
    assert(rows.contains(("2024-01-01 00:00:00", "click", 2L)))
    assert(rows.contains(("2024-01-01 01:00:00", "view", 1L)))
    q.stop()
  }
}
