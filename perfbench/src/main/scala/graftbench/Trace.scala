package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds with sub-ms digits. */
final case class Span(id: String, parent: String, name: String, start: Double, end: Double) {
  def ms: Double = end - start
}

/** Spark execution totals of one operation, summed over its stages. */
final class ExecAgg {
  var jobs, stages, tasks, runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill, peakMem = 0L
  def +=(o: ExecAgg): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; peakMem = math.max(peakMem, o.peakMem)
  }
}

/** The traced run's recorder, registered only when `--trace 1`.
  *
  * Operations the benchmark times are tagged by setting the local property
  * `graftbench.op` to the operation's span id before calling into the
  * program; Spark copies it into every job the call starts. Streaming jobs
  * are tagged instead by the batch id Spark writes into their job
  * description. Spans are kept in memory and written by `write`.
  */
final class Tracer(val runId: String, spark: SparkSession)
    extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val ids = new AtomicLong(0)
  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer[Span]()
  private val jobs = mutable.Map[Int, (String, Long)]() // job id -> (op, start)
  private val stageOp = mutable.Map[Int, (String, Int)]() // stage id -> (op, job id)
  private val aggs = mutable.Map[String, ExecAgg]()
  private val plans = new ConcurrentLinkedQueue[Map[String, Double]]()

  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
  def newId(prefix: String): String = s"$prefix${ids.incrementAndGet()}"
  def add(s: Span): Unit = synchronized { spans += s }

  /** Runs `body` with its Spark jobs tagged as operation `op`. */
  def tagged[T](op: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(OpKey)
    sc.setLocalProperty(OpKey, op)
    try body finally sc.setLocalProperty(OpKey, prev)
  }

  /** Runs `body` as span `name` under `parent`, tagging its Spark jobs. */
  def span[T](name: String, parent: String)(body: String => T): T = {
    val id = newId("s")
    val t0 = now()
    try tagged(id)(body(id)) finally add(Span(id, parent, name, t0, now()))
  }

  /** Wall time (ms) covered by the jobs of operation `op`. */
  def jobCoverMs(op: String): Double = synchronized {
    var covered = 0.0; var edge = Double.MinValue
    spans.filter(s => s.parent == op && s.name == "job").map(s => (s.start, s.end)).sortBy(_._1)
      .foreach { case (a, b) => if (b > edge) { covered += b - math.max(a, edge); edge = b } }
    covered
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Waits until every queued listener event has been delivered. */
  def drain(): Unit = org.apache.spark.graftbench.Bus.drain(spark.sparkContext)

  /** Catalyst phase times (ms), summed over the executions finished since
    * the last call.
    */
  def takePlans(): Map[String, Double] = {
    drain()
    Iterator.continually(plans.poll()).takeWhile(_ != null).foldLeft(Map.empty[String, Double]) {
      (acc, m) => m.foldLeft(acc) { case (a, (k, v)) => a.updated(k, a.getOrElse(k, 0.0) + v) }
    }
  }

  def exec(op: String): ExecAgg = synchronized { aggs.getOrElse(op, new ExecAgg) }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    plans.add(qe.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble })
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  private def opOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(OpKey))).getOrElse {
      val desc = Option(props).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      BatchInDesc.findFirstMatchIn(desc).map(m => s"b${m.group(1)}").getOrElse("untagged")
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = opOf(e.properties)
    jobs(e.jobId) = (op, e.time)
    e.stageIds.foreach(s => if (!stageOp.contains(s)) stageOp(s) = (op, e.jobId))
    aggs.getOrElseUpdate(op, new ExecAgg).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { case (op, t0) =>
      spans += Span(s"j${e.jobId}", op, "job", t0.toDouble, e.time.toDouble)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val (op, job) = stageOp.getOrElse(info.stageId, ("untagged", -1))
    for (t0 <- info.submissionTime; t1 <- info.completionTime)
      spans += Span(s"st${info.stageId}.${info.attemptNumber()}", s"j$job", "stage", t0.toDouble, t1.toDouble)
    val m = info.taskMetrics
    val a = aggs.getOrElseUpdate(op, new ExecAgg)
    a.stages += 1
    a.tasks += info.numTasks
    if (m != null) {
      a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime; a.gcMs += m.jvmGCTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
    }
  }

  /** Self time per span name: each span's duration minus the part of it
    * that its children cover, summed by name.
    */
  def selfTimes(): Map[String, (Int, Double, Double)] = synchronized {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      val self = ss.map { s =>
        val cover = kids.getOrElse(s.id, Nil).map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter(c => c._2 > c._1).sortBy(_._1)
        var covered = 0.0; var edge = s.start
        cover.foreach { case (a, b) => if (b > edge) { covered += b - math.max(a, edge); edge = b } }
        s.ms - covered
      }.sum
      name -> (ss.size, ss.map(_.ms).sum, self)
    }
  }

  /** Writes every span as one JSON line to `path`. */
  def write(path: java.nio.file.Path): Unit = synchronized {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.map(s => Json.enc(scala.collection.immutable.ListMap(
      "run" -> runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ms" -> s.start, "end_ms" -> s.end)))
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val OpKey = "graftbench.op"
  private val BatchInDesc = """batch = (\d+)""".r
}
