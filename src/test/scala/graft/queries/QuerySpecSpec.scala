package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The registry assembly rejects a name defined twice, and the build-once
  * artifact memo keys on the session reference: the same session hits,
  * a fresh child session rebuilds.
  */
class QuerySpecSpec extends AnyFunSuite {
  import TestSpark.spark

  private val noBuild: (SparkSession, String) => DataFrame = (s, _) => s.emptyDataFrame
  private def spec(name: String) = QuerySpec(name, noBuild, "SELECT 1")

  test("registry assembly fails on a duplicate name and names it") {
    val e = intercept[IllegalArgumentException](
      QuerySpec.registry(Seq(spec("a"), spec("dup")), Seq(spec("b"), spec("dup"))))
    assert(e.getMessage.contains("duplicate query names: dup"))
    assert(QuerySpec.registry(Seq(spec("a")), Seq(spec("b"))).map(_.name) == Seq("a", "b"))
  }

  test("a spec without oracle SQL is rejected") {
    intercept[IllegalArgumentException](QuerySpec("x", noBuild, " "))
  }

  test("a session memo hits on the same session and rebuilds for a fresh child session") {
    var builds = 0
    val memo = new SessionMemo[Int]((_, _) => { builds += 1; builds })
    assert(memo(spark, "d") == 1 && memo(spark, "d") == 1 && builds == 1)
    assert(memo(spark, "e") == 2, "another dir is another artifact")
    val child = spark.newSession()
    assert(memo(child, "d") == 3 && memo(child, "d") == 3 && builds == 3)
    assert(memo(spark, "d") == 1, "the parent's artifact is unaffected")
  }
}
