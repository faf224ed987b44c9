package graft

/** Single-query micro-bench for regression ADJUDICATION (round 16 —
  * VERDICT item 6): times named `SparkEntry.queries` entries inside ONE
  * JVM with the same Harness session, warm-up and noop-sink forcing as
  * `graft.Bench`, so a suspect committed delta can be A/B'd across two
  * binaries (e.g. two git worktrees) interleaved on the same box without
  * paying a full 197-query sweep per sample. Usage:
  *
  *   runMain graft.QueryBench <sfDir> <reps> <name> [name ...]
  *
  * Prints one `QBENCH <name> rep=<i> secs=<s>` line per execution (or
  * `QBENCH <name> rep=<i> FAILED` for a run that threw) plus the box load
  * before/after — read medians of the later reps (rep 1 carries
  * JIT/codegen warmup by design, same as Bench's per-query position in a
  * long sweep).
  */
object QueryBench {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: QueryBench <sfDir> <reps> <name> [name ...]")
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2).toSeq
    val spark = Harness.session()
    Harness.warmUp(spark, sfDir)

    println(f"QBENCH load_start=${Harness.loadAvg()}%.1f")
    for (rep <- 1 to reps; name <- names) {
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))
      val r = Harness.run(s"[qbench] $name")(Harness.force(fn(spark, sfDir)))
      println(if (r.failed) s"QBENCH $name rep=$rep FAILED"
              else f"QBENCH $name rep=$rep secs=${r.sec}%.3f")
    }
    println(f"QBENCH load_end=${Harness.loadAvg()}%.1f")
    spark.stop()
  }
}
