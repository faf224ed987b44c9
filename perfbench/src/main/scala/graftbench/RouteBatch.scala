package graftbench

import scala.collection.immutable.ListMap
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
import graft.config.ResolvedSpliter
import graft.router.Router

/** `route_batch`: a closed loop, one driver thread. Each pass routes the
  * whole cached corpus with `Router.route` and forces it to the noop sink,
  * so the time is the routing projection alone: no shuffle, no table read,
  * no micro-batch overhead.
  */
object RouteBatch {
  def rows(s: Settings): Long = if (s.tiny) 10000L else 2000000L

  def corpus(spark: SparkSession, seed: Long, n: Long, parts: Int): DataFrame = {
    val rdd = spark.sparkContext.range(0L, n, 1L, parts).mapPartitions { it =>
      val p = Corpus.pool(seed)
      it.map(i => Row(Corpus.key(i), p.values(Corpus.slot(seed, i))))
    }
    spark.createDataFrame(rdd, StructType(Seq(
      StructField("key", BinaryType, nullable = false),
      StructField("value", BinaryType, nullable = false))))
  }

  final case class PassTrace(wallMs: Double, forceMs: Double, planMs: Map[String, Double], exec: ExecAgg,
                             jobMs: Double)

  def run(ctx: Ctx): Setup = {
    val (spark, s, out) = (ctx.spark, ctx.s, ctx.out)
    val n = rows(s)
    var data: DataFrame = null
    var plan: ResolvedSpliter = null
    val resolveMs = mutable.ArrayBuffer[Double]()
    val (inputS, overheadS) = Stats.setupRounds(ctx, 3) {
      if (data != null) data.unpersist(blocking = true)
      Corpus.forget(s.seed)
      val (p, ms) = Plans.decode()
      plan = p; resolveMs += ms
      data = corpus(spark, s.seed, n, s.cpus * 16).cache()
      data.count()
    }
    Plans.checkMatchesFixture(ctx, plan)
    /** One pass; returns the time (ms) spent forcing the routed frame. */
    def pass(): Double = {
      val routed = Router.route(data, plan)
      val a = System.nanoTime(); ctx.force(routed); (System.nanoTime() - a) / 1e6
    }

    val w0 = System.nanoTime()
    out.op("warm-up pass")(pass())
    val warmupS = (System.nanoTime() - w0) / 1e9

    val plain = mutable.ArrayBuffer[Double]()
    val traced = mutable.ArrayBuffer[PassTrace]()
    val workload = ctx.tracer.map(_.newId("w")).getOrElse("")
    val t0 = ctx.tracer.map(_.now()).getOrElse(0.0)
    val end = ctx.deadline(s.seconds)
    var k = 0
    while (System.nanoTime() < end || plain.size < 3 || (ctx.tracer.isDefined && traced.size < 3)) {
      ctx.tracer match {
        case Some(t) if k % 2 == 1 =>
          t.attach()
          out.op(s"traced pass $k") {
            t.span("pass", workload) { id =>
              val a = System.nanoTime(); val force = pass(); ((System.nanoTime() - a) / 1e6, force, id)
            }
          }.foreach { case (ms, force, id) =>
            traced += PassTrace(ms, force, t.takePlans(), t.exec(id), t.jobCoverMs(id))
          }
          t.detach()
        case _ =>
          out.op(s"pass $k") {
            val a = System.nanoTime(); pass(); (System.nanoTime() - a) / 1e6
          }.foreach(plain += _)
      }
      k += 1
    }
    ctx.tracer.foreach(t => t.add(Span(workload, "", "workload", t0, t.now())))

    val counts = Router.routeKeep(data, plan).select(coalesce(col("topic"), lit(Corpus.Dropped)).as("t"))
      .groupBy("t").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Plans.checkCounts(ctx, "route_batch.topic_counts", counts, Corpus.expected(s.seed, 0, n))

    val ms = plain.toSeq
    val passMs = Stats.median(ms)
    def e2e(xs: Seq[Double]) = ListMap(
      "pass_s" -> Stats.median(xs) / 1e3, "latency_p50_ms" -> Stats.median(xs),
 "latency_geomean_ms" -> Stats.geomean(xs))
    out.e2e ++= e2e(ms)
    out.info ++= Seq("input_rows" -> n,
      "passes" -> ms.size, "route_rows_per_s" -> n / (passMs / 1e3), "pass_ms" -> ms)

    if (ctx.tracer.isDefined) {
      Plans.routerCounts(out, n, counts)
      out.layer.put("config.resolve_ms", Stats.median(resolveMs.toSeq))
      val tr = traced.toSeq
      def mean(f: PassTrace => Double) = tr.map(f).sum / tr.size
      for (ph <- Seq("analysis", "optimization", "planning"))
        out.layer.put(s"plans.${ph}_ms", mean(_.planMs.getOrElse(ph, 0.0)))
      Exec.put(out, tr.map(p => (p.exec, p.jobMs, p.forceMs - p.planMs.values.sum)))
      out.layer.put("router.cpu_ns_per_row", tr.map(_.exec.cpuNs.toDouble).sum / (n.toDouble * tr.size))
      out.layer.put("router.rows_per_s", n / (passMs / 1e3))
      out.layer.put("pass.accounted_share", mean(_.forceMs) / mean(_.wallMs))
      val tracedE2e = e2e(tr.map(_.wallMs))
      tracedE2e.foreach { case (k2, v) => out.layer.put(s"trace_overhead.$k2", v - out.e2e(k2)) }
    }
    Setup(inputS, warmupS, overheadS)
  }
}

/** Per-pass Spark execution figures shared by the workloads. */
object Exec {
  /** `passes`: per pass, its execution totals, the wall time its jobs
    * cover (ms) and its execution window (ms): the time spent executing
    * after Catalyst planning. The scheduler gap is the part of the window
    * in which no Spark job ran: stage planning, code generation, adaptive
    * re-planning and broadcast collection on the driver. Every figure is
    * the mean per pass.
    */
  def put(out: Outcome, passes: Seq[(ExecAgg, Double, Double)]): Unit = {
    val n = passes.size.max(1).toDouble
    def sum(f: ExecAgg => Long) = passes.map(p => f(p._1).toDouble).sum / n
    out.layer.put("exec.wall_s", passes.map(_._3).sum / n / 1e3)
    out.layer.put("exec.jobs", sum(_.jobs))
    out.layer.put("exec.stages", sum(_.stages))
    out.layer.put("exec.tasks", sum(_.tasks))
    out.layer.put("exec.run_ms", sum(_.runMs))
    out.layer.put("exec.cpu_ms", sum(_.cpuNs) / 1e6)
    out.layer.put("exec.sched_gap_ms", passes.map { case (_, cover, window) => math.max(0.0, window - cover) }.sum / n)
    out.layer.put("exec.gc_ms", sum(_.gcMs))
    out.layer.put("exec.shuffle_read_bytes", sum(_.shuffleRead))
    out.layer.put("exec.shuffle_write_bytes", sum(_.shuffleWrite))
    out.layer.put("exec.spill_bytes", sum(_.spill))
    out.layer.put("exec.peak_exec_mem_bytes", passes.map(_._1.peakMem.toDouble).foldLeft(0.0)(math.max))
  }
}
