package graftbench

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** Command-line settings, passed by `perfbench/run.py`. */
final case class Settings(
    workload: String, seed: Long, seconds: Double, trace: Boolean, cpus: Int,
    workDir: String, dataDir: String, sf: String, pins: String, writePins: Boolean, tiny: Boolean,
    launchMs: Long, preSetupS: Double, rate: Double, env: Map[String, String])

/** What one run measured and checked. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  /** End-to-end metrics (untraced measurements). */
  val e2e = mutable.LinkedHashMap[String, Double]()
  /** Per-layer metrics (traced measurements). */
  val layer = mutable.LinkedHashMap[String, Double]()
  /** Workload-specific figures for the record line. */
  val info = mutable.LinkedHashMap[String, Any]()
  val checks = mutable.ArrayBuffer[ListMap[String, Any]]()

  /** Runs one counted operation. A throw counts as failed and yields None,
    * so a crash never becomes a timing.
    */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[graftbench] $what failed: $e")
        None
    }
  }

  def check(name: String, ok: Boolean, detail: String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; System.err.println(s"[graftbench] check $name failed: $detail") }
    checks += ListMap("check" -> name, "ok" -> ok, "detail" -> detail)
  }
}

/** Shared state of one run. `tracer` is defined only in a traced run. */
final class Ctx(val spark: SparkSession, val s: Settings, val out: Outcome,
                val tracer: Option[Tracer]) {
  def force(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  def deadline(seconds: Double): Long = System.nanoTime() + (seconds * 1e9).toLong
}

object Main {
  val Workloads = Seq("route_batch", "route_stream", "query_mix")

  def main(argv: Array[String]): Unit = {
    val s = parse(argv)
    val load0 = Stats.loadAvg()
    val cpu0 = Stats.processCpuNs()
    val wall0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${s.cpus}]")
      .appName(s"graftbench-${s.workload}")
      .config("spark.sql.shuffle.partitions", s.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.broadcastTimeout", "1800")
      .config("spark.local.dir", s"${s.workDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${s.workDir}/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - s.launchMs) / 1e3
    val out = new Outcome
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val tracer = if (s.trace) Some(new Tracer(runId, spark)) else None
    val ctx = new Ctx(spark, s, out, tracer)
    val setup = try s.workload match {
      case "route_batch" => RouteBatch.run(ctx)
      case "route_stream" => RouteStream.run(ctx)
      case "query_mix" => QueryMix.run(ctx)
    } catch {
      case NonFatal(e) =>
        out.attempted += 1; out.failed += 1
        System.err.println(s"[graftbench] workload ${s.workload} failed: $e")
        e.printStackTrace()
        Setup(Double.NaN, Double.NaN, 0.0)
    }
    tracer.foreach(_.detach())
    val setupS = s.preSetupS + sessionS + setup.inputS + setup.warmupS
    val rssMb = Stats.rssPeakMb()
    val wall = (System.nanoTime() - wall0) / 1e9
    val cpuRatio = (Stats.processCpuNs() - cpu0) / 1e9 / wall
    out.e2e.put("setup_s", setupS)
    out.layer.put("jvm.rss_peak_mb", rssMb)
    if (s.trace) out.layer.put("trace_overhead.setup_s", setup.tracedOverheadS)
    val env = ListMap[String, Any](
      "nproc" -> Runtime.getRuntime.availableProcessors(), "spark_master_n" -> s.cpus,
      "load_start" -> load0, "load_end" -> Stats.loadAvg(), "cpu_wall_ratio" -> cpuRatio,
      "xmx_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20), "spark_version" -> spark.version,
      "seed" -> s.seed, "stream_rate_rows_per_s" -> s.rate, "trace" -> s.trace,
      "seconds" -> s.seconds) ++ s.env
    val record = ListMap[String, Any](
      "workload" -> s.workload, "run_id" -> runId, "env" -> env,
      "setup" -> ListMap("setup_s" -> setupS, "pre_jvm_s" -> s.preSetupS, "session_s" -> sessionS,
        "input_s_median" -> setup.inputS, "warmup_s" -> setup.warmupS),
      "ops_attempted" -> out.attempted, "ops_failed" -> out.failed,
      "ops_failed_ratio" -> out.failed.toDouble / math.max(1L, out.attempted),
      "rss_peak_mb" -> rssMb) ++ out.info ++ ListMap("checks" -> out.checks)
    tracer.foreach { t =>
      val dir = java.nio.file.Paths.get(s.workDir, "traces")
      t.write(dir.resolve(s"${s.workload}-seed${s.seed}-$runId.jsonl"))
    }
    val selfMs = tracer.map(_.selfTimes().map { case (k, (n, tot, self)) =>
      k -> ListMap("spans" -> n, "total_ms" -> tot, "self_ms" -> self) }).getOrElse(Map.empty)
    println("GRAFTBENCH_RECORD " + Json.enc(record ++ ListMap(
      "end_to_end" -> out.e2e, "per_layer" -> out.layer, "span_self_ms" -> selfMs)))
    val correct = out.failed == 0
    println("GRAFTBENCH_RESULT " + Json.enc(ListMap(
      "correct" -> correct, "attempted" -> out.attempted, "failed" -> out.failed,
      "metrics" -> (if (s.trace) out.layer else out.e2e))))
    System.out.flush()
    spark.stop()
    sys.exit(if (correct) 0 else 1)
  }

  private def parse(argv: Array[String]): Settings = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w")
    Settings(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("cpus").toInt, need("work-dir"), m.getOrElse("data-dir", ""), m.getOrElse("sf", ""),
      m.getOrElse("pins", ""),
      m.get("write-pins").contains("1"), m.get("size").contains("tiny"),
      need("launch-ms").toLong, m.getOrElse("pre-setup-s", "0").toDouble,
      m.getOrElse("rate", "200000").toDouble,
      m.collect { case (k, v) if k.startsWith("env.") => k.drop(4) -> v })
  }
}

/** Set-up timing: the median input round, the warm-up, and (traced runs)
  * the traced-minus-untraced difference of the input rounds.
  */
final case class Setup(inputS: Double, warmupS: Double, tracedOverheadS: Double)

object Stats {
  def loadAvg(): Double =
    try new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("/proc/loadavg"))).split(" ")(0).toDouble
    catch { case NonFatal(_) => -1.0 }

  def processCpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => -1L
  }

  /** `VmHWM` of this process in MB. */
  def rssPeakMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of `xs`; NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double = quantileSorted(xs.toArray.sorted, q)

  def quantileSorted(s: Array[Double], q: Double): Double =
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)

  /** Runs the input set-up `k` times untraced and returns the median. A
    * traced run then repeats it `k - 1` times traced; the tracing overhead
    * is their median minus that of the untraced rounds after the first,
    * so both sides are warm.
    */
  def setupRounds(ctx: Ctx, k: Int)(round: => Unit): (Double, Double) = {
    def timed(): Double = { val t0 = System.nanoTime(); round; (System.nanoTime() - t0) / 1e9 }
    val plain = Seq.fill(k)(timed())
    val overhead = ctx.tracer.fold(0.0) { t =>
      t.attach()
      try median(Seq.fill(k - 1)(timed())) - median(plain.drop(1)) finally t.detach()
    }
    (median(plain), overhead)
  }
}
