package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A query that
  * fails leaves no directory, which the compare reports as missing. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (local iteration;
    // the driver always calls with exactly two args = full dump)
    require(args.length == 2 || args.length == 3,
      "usage: Verify <sfDir> <outDir> [name,name,...]")
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.lift(2).fold(Set.empty[String])(_.split(",").toSet)
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
        Harness.run(s"[verify] $name")(
          fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
      }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleSqlJson)
    spark.stop()
  }

  /** `oracle_sql.json`: query name → oracle SQL, one JSON object. */
  private[graft] def oracleSqlJson: String = SparkEntry.oracleSql
    .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
}
