package graft

import java.lang.management.ManagementFactory

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter

import scala.util.control.NonFatal

/** The one harness behind every offline entry point (Bench, Verify,
  * QueryBench, BenchProfile, Explain, ScaleProbe, the specs' TestSpark):
  * the session policy, forcing and warm-up, timing telemetry and the
  * failure rule. The production router `graft.Main` keeps its own
  * session, since its master comes from spark-submit.
  */
object Harness {

  /** Local worker threads and shuffle partitions: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  /** `local[n]`, n shuffle partitions, UTC (Tables relies on it for
    * oracle-exact timestamps), no UI, WARN, plus `extra`. The 1800 s
    * broadcast timeout: a contended box can stall a small-side build past
    * the 300 s default and fail one query.
    */
  def session(n: Int = cpus, extra: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.broadcastTimeout", "1800")
      .config(extra)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Runs every output column through the noop sink. `count()` would let
    * Catalyst prune unaggregated projections and under-measure
    * scan+compute queries.
    */
  def force(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** The streaming form of `force`: a noop-sink writer, not yet started. */
  def forceStream(df: DataFrame): DataStreamWriter[Row] = df.writeStream.format("noop")

  /** Touches each table once and exercises the codegen and shuffle
    * machinery, so JVM and session start-up do not land on whichever query
    * runs first. Best effort: a missing table only skips the rest.
    */
  def warmUp(spark: SparkSession, sfDir: String): Unit =
    try {
      Seq("lineitem", "orders", "customer", "documents", "embeddings", "events")
        .foreach(n => force(Tables.read(spark, sfDir, n).limit(1000)))
      force(spark.range(1000000).selectExpr("sum(id) as s"))
    } catch { case NonFatal(_) => () }

  /** 1-minute system load average, or a negative value where unavailable.
    * Every timing carries it so a swing is attributable from the payload
    * alone: high load with a depressed CPU ratio on an unchanged plan is
    * box contention; normal load with an unchanged ratio is code.
    */
  def loadAvg(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Cumulative CPU nanos burned by this JVM (all threads), or -1. */
  def processCpuNanos(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => -1L
  }

  /** One timed execution: wall seconds, process-CPU / wall (0..cpus;
    * drops under contention), 1-min load at finish, and a failed run's error.
    */
  final case class Run(sec: Double, cpu: Double, load: Double,
                       error: Option[Throwable] = None) {
    def failed: Boolean = error.isDefined
  }

  def timedRun(body: => Unit): Run = {
    val c0 = processCpuNanos(); val t0 = System.nanoTime()
    body
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu =
      if (c0 >= 0 && wall > 0) (processCpuNanos() - c0) / 1e9 / wall else -1.0
    Run(wall, cpu, loadAvg())
  }

  /** The failure rule for one unit of work (a query's build → force, a
    * trainer, a probe). The body runs timed; then `Cleanup.drain()` frees
    * what it registered, also when it throws. A NonFatal throw is reported
    * on stderr under `label` and returned as a failed run, so a crash can
    * never read as a fast timing. A fatal error leaves the driver in an
    * undefined state, so it is rethrown after the drain.
    */
  def run(label: String)(body: => Unit): Run =
    try {
      var error: Option[Throwable] = None
      val r = timedRun(try body catch { case NonFatal(e) => error = Some(e) })
      error.foreach(e => System.err.println(s"$label failed: $e"))
      r.copy(error = error)
    } finally Cleanup.drain()
}
