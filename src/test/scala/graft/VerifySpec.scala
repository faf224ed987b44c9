package graft

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The driver json.loads Verify's oracle_sql.json: every oracle SQL string
  * must survive the escaper unchanged.
  */
class VerifySpec extends AnyFunSuite {

  test("oracle_sql.json parses back to every SparkEntry.oracleSql entry unchanged") {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(Verify.oracleSqlJson)
    val parsed = root.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    assert(parsed.keySet == SparkEntry.oracleSql.keySet)
    val changed = SparkEntry.oracleSql.collect { case (k, v) if parsed(k) != v => k }
    assert(changed.isEmpty, s"oracle SQL altered by the escaper: $changed")
  }

  test("a wrong argument count fails with the usage line") {
    for (args <- Seq(Array("only-one"), Array("a", "b", "c", "d"))) {
      val e = intercept[IllegalArgumentException](Verify.main(args))
      assert(e.getMessage.contains("usage: Verify <sfDir> <outDir>"))
    }
  }

  test("the escaper round-trips quotes, backslashes and control chars") {
    val s = "a\"b\\c\nd\re\tf\u0001g\u001fh é"
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(Json.str(s))
    assert(node.isTextual && node.asText() == s)
  }
}
