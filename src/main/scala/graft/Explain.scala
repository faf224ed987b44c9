package graft

/** Plan-audit utility: prints the formatted physical plan for each named
  * query (or all) so shuffle/pushdown/broadcast/codegen properties can be
  * inspected and regressions caught. Usage:
  *   runMain graft.Explain [sfDir] [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = Harness.session()
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries.get(n) match {
        case Some(fn) => Harness.run(s"[explain] $n")(println(
          fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)))
        case None => println(s"unknown query: $n")
      }
    }
    spark.stop()
  }
}
