package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite (Spark startup is ~5 s;
  * per-suite sessions would dominate test time).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    // keep catalog artifacts (derby metastore, warehouse) out of the repo
    System.setProperty("derby.system.home", "/tmp/graft-derby")
    Harness.session(4, Map("spark.sql.warehouse.dir" -> "/tmp/graft-warehouse"))
  }
  val sf0001 = "/root/testdata/sf0.001"
  // the growth-measurement twin (WindowKeySweepSpec): 10× the corpus
  val sf01 = "/root/testdata/sf0.1"
}
