package graft

import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** CPU-profiling harness around a headline query (round 16 — closes the
  * §2.1 O2 row: the reference exposes pprof HTTP hooks at
  * `main.go:124-161`; the Spark-native equivalent is a JFR flight
  * recording around the query, captured with the JDK's built-in
  * `jdk.jfr` API — no agent, no extra dependency, works in any fork).
  * Usage:
  *
  *   runMain graft.BenchProfile [sfDir] [queryName] [reps] [outJfr]
  *
  * Runs the query once UNPROFILED (JIT warmup — profiling the first run
  * mostly profiles the interpreter and C2), then `reps` recorded runs
  * with 5 ms execution sampling, dumps the .jfr, and prints a
  * flame-graph summary: failed reps, total samples, top LEAF methods
  * (exclusive self-time — where the CPU actually is) and top INCLUSIVE
  * frames (which operators/stages carry them). In local mode the executor
  * threads are in-process, so the samples cover the real query work,
  * exactly what the reference's pprof profile shows for its single
  * process.
  */
object BenchProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val name = if (args.length > 1) args(1) else "q01_pricing_summary"
    val reps = if (args.length > 2) args(2).toInt else 3
    val out = if (args.length > 3) args(3) else "/tmp/graft_profile.jfr"
    val spark = Harness.session()
    // `trainer:<name>` profiles a trainerWarmers entry instead of a query,
    // re-training for real on every rep via a fresh child session (the
    // memo is keyed on session identity — the Bench rerun trick), so the
    // samples cover featurize+rounds rather than a memo hit.
    val fn: (SparkSession, String) => Unit =
      if (name.startsWith("trainer:")) {
        val warm = SparkEntry.trainerWarmers.getOrElse(name.stripPrefix("trainer:"),
          sys.error(s"unknown trainer: $name"))
        (s, d) => warm(s.newSession(), d)
      } else {
        val q = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query: $name"))
        (s, d) => Harness.force(q(s, d))
      }

    def once(): Harness.Run = Harness.run(s"[profile] $name")(fn(spark, sfDir))
    once() // unprofiled JIT warmup

    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ExecutionSample")
      .withPeriod(java.time.Duration.ofMillis(5))
    rec.start()
    val runs = (1 to reps).map(_ => once())
    val secs = runs.map(_.sec).sum
    rec.stop()
    val path = java.nio.file.Paths.get(out)
    rec.dump(path)
    rec.close()

    val samples = RecordingFileSummary.executionSamples(path)
    println(f"PROFILE query=$name reps=$reps failed=${runs.count(_.failed)} secs=$secs%.2f samples=${samples.size} jfr=$out")
    def fmtTop(counts: Map[String, Int], tag: String): Unit =
      counts.toSeq.sortBy(-_._2).take(20).foreach { case (m, c) =>
        println(f"PROFILE $tag ${100.0 * c / math.max(samples.size, 1)}%5.1f%% $c%6d  $m")
      }
    fmtTop(samples.groupBy(_.head).view.mapValues(_.size).toMap, "leaf ")
    // inclusive: a frame counts once per sample it appears in (dedup
    // within a stack so recursion doesn't double-count)
    val inclusive = samples.flatMap(_.distinct)
      .groupBy(identity).view.mapValues(_.size).toMap
    fmtTop(inclusive, "frame")
    spark.stop()
  }
}

/** JFR parsing split out for testability: reads jdk.ExecutionSample
  * events and returns each sample's stack as leaf-first method names.
  */
object RecordingFileSummary {
  def executionSamples(path: java.nio.file.Path): Seq[Seq[String]] = {
    val events = jdk.jfr.consumer.RecordingFile.readAllEvents(path).asScala
    events.iterator
      .filter(_.getEventType.getName == "jdk.ExecutionSample")
      .flatMap { e =>
        Option(e.getStackTrace).map(_.getFrames.asScala.toSeq.map { f =>
          val m = f.getMethod
          s"${m.getType.getName}.${m.getName}"
        })
      }
      .filter(_.nonEmpty)
      .toSeq
  }
}
