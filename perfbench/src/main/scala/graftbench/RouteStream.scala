package graftbench

import java.time.Instant
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import graft.config.ResolvedSpliter
import graft.streaming.StreamRouter

/** `route_stream`: an open loop at a fixed rate. `PacedSource` makes row i
  * due at `t0 + i / rate`; `StreamRouter.routeStream` routes it to the noop
  * sink under `Trigger.ProcessingTime(0)`. A row's latency is its batch's
  * commit time (batch start + `triggerExecution`) minus its due time, so a
  * stall shows as latency on every row that waited behind it.
  */
object RouteStream {
  /** A run is invalid when the generator ran later than this: about one
    * micro-batch, so a generator that costs as much as the batch it feeds
    * cannot go unnoticed, while a descheduled reader thread on a busy
    * machine does not fail the run.
    */
  val GeneratorLateBoundMs = 250.0

  val Phases = Seq("latestOffset" -> "latest_offset", "walCommit" -> "wal_commit",
    "getBatch" -> "get_batch", "queryPlanning" -> "query_planning", "addBatch" -> "add_batch",
    "commitOffsets" -> "commit_offsets")

  /** One committed micro-batch. */
  final case class Batch(id: Long, lo: Long, hi: Long, startMs: Long, commitMs: Long,
                         durations: Map[String, Long]) {
    def rows: Long = hi - lo
  }

  def batches(q: StreamingQuery): Seq[Batch] = q.recentProgress.toSeq.flatMap { p: StreamingQueryProgress =>
    val src = p.sources.headOption
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    for {
      sp <- src
      hi <- Option(sp.endOffset).map(_.trim.toLong)
      trig <- d.get("triggerExecution")
    } yield {
      val lo = Option(sp.startOffset).map(_.trim.toLong).getOrElse(0L)
      val start = Instant.parse(p.timestamp).toEpochMilli
      Batch(p.batchId, lo, hi, start, start + trig, d)
    }
  }.filter(_.rows > 0)

  def source(ctx: Ctx, id: String, rate: Double, limit: Long): DataFrame =
    ctx.spark.readStream.format(classOf[PacedSource].getName)
      .option("seed", ctx.s.seed.toString).option("rate", rate.toString)
      .option("partitions", ctx.s.cpus.toString).option("limit", limit.toString)
      .option("id", id).load()

  /** End-to-end figures of the batches committed in a window `spanMs` long. */
  final case class Window(spanMs: Long, bs: Seq[Batch], t0: Long, rate: Double) {
    lazy val latencies: Array[Double] = {
      val a = new Array[Double](bs.map(_.rows).sum.toInt)
      var k = 0
      bs.foreach { b =>
        var i = b.lo
        while (i < b.hi) { a(k) = b.commitMs - (t0 + i * 1000.0 / rate); k += 1; i += 1 }
      }
      java.util.Arrays.sort(a); a
    }
    def q(p: Double): Double = Stats.quantileSorted(latencies, p)
    def e2e: Seq[(String, Double)] = Seq(
      "pass_s" -> Stats.median(bs.map(_.durations("triggerExecution").toDouble)) / 1e3,
      "latency_p50_ms" -> q(0.5),
      "latency_geomean_ms" -> math.exp(latencies.iterator.map(math.log).sum / latencies.length))
    def rowsPerS: Double = bs.map(_.rows).sum / (spanMs / 1e3)
    def backlogMax: Double = bs.map(b => math.floor((b.commitMs - t0) * rate / 1e3) + 1 - b.hi).max
  }

  def run(ctx: Ctx): Setup = {
    val (spark, s, out) = (ctx.spark, ctx.s, ctx.out)
    var plan: ResolvedSpliter = null
    val resolveMs = mutable.ArrayBuffer[Double]()
    val (inputS, overheadS) = Stats.setupRounds(ctx, 3) {
      Corpus.forget(s.seed)
      val (p, ms) = Plans.decode()
      plan = p; resolveMs += ms
      Corpus.pool(s.seed)
    }
    Plans.checkMatchesFixture(ctx, plan)

    val id = s"paced-${java.util.UUID.randomUUID()}"
    val w0 = System.nanoTime()
    val q = StreamRouter.routeStream(source(ctx, id, s.rate, Long.MaxValue), plan)
      .writeStream.format("noop").trigger(Trigger.ProcessingTime(0))
      .option("checkpointLocation", s"${s.workDir}/ckpt/$id").start()
    // The engine's per-batch driver code keeps getting faster until the JIT
    // has seen some tens of batches; how long that takes depends on how busy
    // the machine is, so the warm-up counts batches rather than seconds.
    val (warmupBatches, warmupMax) = if (s.tiny) (5, ctx.deadline(20)) else (20, ctx.deadline(20))
    while (q.isActive && batches(q).size < warmupBatches && System.nanoTime() < warmupMax)
      Thread.sleep(20)
    val warmupS = (System.nanoTime() - w0) / 1e9
    val stream = PacedSource.streams.get(id)

    // the window: one untraced segment, or (traced) untraced and traced
    // segments alternating, so neither side sees only the later, warmer part
    val kinds = if (ctx.tracer.isDefined) Seq(false, true, false, true) else Seq(false)
    val segments = kinds.map { on =>
      if (on) ctx.tracer.foreach(_.attach())
      val a = System.currentTimeMillis()
      Thread.sleep((s.seconds / kinds.size * 1000).toLong)
      val b = System.currentTimeMillis()
      if (on) ctx.tracer.foreach(_.detach())
      (on, a, b)
    }
    val last = segments.last._3
    val settle = ctx.deadline(30)
    while (q.isActive && !batches(q).exists(_.commitMs > last) && System.nanoTime() < settle)
      Thread.sleep(10)
    val failure = q.exception
    val all = batches(q)
    q.stop()
    PacedSource.streams.remove(id)

    val t0 = stream.t0Ms
    def window(traced: Boolean): Window = {
      val segs = segments.filter(_._1 == traced)
      val bs = all.filter(b => segs.exists { case (_, a, z) =>
        b.commitMs > a && b.commitMs <= z && (!traced || b.startMs >= a) })
      Window(segs.map(x => x._3 - x._2).sum, bs, t0, s.rate)
    }
    val winA = window(traced = false)
    out.attempted += winA.bs.size
    out.op("stream query")(failure.foreach(e => throw e))
    out.check("route_stream.batches_in_window", winA.bs.nonEmpty, s"${winA.bs.size} batches committed")

    def lateMs(b: Batch): Double = Option(stream.batches.get(b.lo))
      .map(g => g.clockLagMs + g.genNs.get.toDouble / s.cpus / 1e6).getOrElse(0.0)
    val lateMax = all.filter(_.commitMs > segments.head._2).map(lateMs).foldLeft(0.0)(math.max)
    out.check("route_stream.generator_on_time", lateMax <= GeneratorLateBoundMs,
      f"generator ran at most $lateMax%.3f ms late (bound $GeneratorLateBoundMs%.0f ms)")

    // untimed check leg: the first rows of the same seed, due at once
    val checkRows = if (s.tiny) 10000L else 100000L
    val got = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    val collectCounts: (DataFrame, Long) => Unit = (df, _) =>
      df.groupBy("topic").count().collect().foreach(r => got.merge(r.getString(0), r.getLong(1), _ + _))
    val checkId = s"paced-check-${java.util.UUID.randomUUID()}"
    out.op("stream check leg") {
      val cq = StreamRouter.routeStream(source(ctx, checkId, 1e15, checkRows), plan)
        .writeStream.foreachBatch(collectCounts).trigger(Trigger.ProcessingTime(0))
        .option("checkpointLocation", s"${s.workDir}/ckpt/$checkId").start()
      try cq.processAllAvailable()
      finally { cq.stop(); PacedSource.streams.remove(checkId) }
    }
    val routed = got.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val counts = routed.updated(Corpus.Dropped, checkRows - routed.values.sum)
    Plans.checkCounts(ctx, "route_stream.topic_counts", counts, Corpus.expected(s.seed, 0, checkRows))

    if (winA.bs.nonEmpty) out.e2e ++= winA.e2e
    out.info ++= Seq("window_s" -> winA.spanMs / 1e3,
      "rows_committed" -> winA.bs.map(_.rows).sum, "batches" -> winA.bs.size,
      "stream_rows_per_s" -> winA.rowsPerS, "stream_latency_p90_ms" -> winA.q(0.9),
      "stream_latency_p99_ms" -> winA.q(0.99), "generator_late_ms_max" -> lateMax,
      "generator_late_bound_ms" -> GeneratorLateBoundMs, "check_rows" -> checkRows,
      "batch_rows_trigger_ms" -> all.map(b => Seq(b.rows, b.durations("triggerExecution"),
        if (b.commitMs <= segments.head._2) "warm-up" else if (winA.bs.contains(b)) "window" else "other")))

    ctx.tracer.foreach { t =>
      Plans.routerCounts(out, checkRows, counts)
      out.layer.put("config.resolve_ms", Stats.median(resolveMs.toSeq))
      val winB = window(traced = true)
      val bs = winB.bs
      bs.foreach { b =>
        t.add(Span(s"b${b.id}", "", "batch", b.startMs.toDouble, b.commitMs.toDouble))
        Phases.foldLeft(b.startMs.toDouble) { case (at, (k, name)) =>
          val d = b.durations.getOrElse(k, 0L)
          t.add(Span(s"b${b.id}.$name", s"b${b.id}", name, at, at + d)); at + d
        }
      }
      def p50(k: String) = Stats.median(bs.map(_.durations.getOrElse(k, 0L).toDouble))
      out.layer.put("streaming.batches", bs.size.toDouble)
      out.layer.put("streaming.rows_per_batch_p50", Stats.median(bs.map(_.rows.toDouble)))
      Phases.foreach { case (k, name) => out.layer.put(s"streaming.${name}_ms_p50", p50(k)) }
      out.layer.put("streaming.trigger_execution_ms_p50", p50("triggerExecution"))
      out.layer.put("streaming.trigger_execution_ms_p90",
        Stats.quantile(bs.map(_.durations("triggerExecution").toDouble), 0.9))
      out.layer.put("streaming.busy_ratio", bs.map(_.durations("triggerExecution")).sum / winB.spanMs.toDouble)
      out.layer.put("streaming.backlog_rows_max", winB.backlogMax)
      out.layer.put("streaming.generator_late_ms_max", lateMax)
      out.layer.put("streaming.generator_ns_per_row",
        bs.flatMap(b => Option(stream.batches.get(b.lo)).map(_.genNs.get.toDouble)).sum / bs.map(_.rows).sum)
      out.layer.put("streaming.rows_per_s", winB.rowsPerS)
      val plans = t.takePlans()
      for (ph <- Seq("analysis", "optimization", "planning"))
        out.layer.put(s"plans.${ph}_ms", plans.getOrElse(ph, 0.0) / bs.size)
      Exec.put(out, bs.map(b => (t.exec(s"b${b.id}"), t.jobCoverMs(s"b${b.id}"),
        b.durations.getOrElse("addBatch", 0L).toDouble)))
      out.layer.put("router.cpu_ns_per_row", bs.map(b => t.exec(s"b${b.id}").cpuNs.toDouble).sum / bs.map(_.rows).sum)
      out.layer.put("pass.accounted_share", bs.map(b => Phases.map(p => b.durations.getOrElse(p._1, 0L)).sum.toDouble /
        b.durations("triggerExecution")).sum / bs.size)
      winB.e2e.foreach { case (k, v) => out.layer.put(s"trace_overhead.$k", v - out.e2e.getOrElse(k, Double.NaN)) }
    }
    Setup(inputS, warmupS, overheadS)
  }
}
