package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract smoke: entry() returns rows; the bench headline and
  * the oracle-only set name real queries; every query runs. (Every query
  * carries oracle SQL by construction: `QuerySpec` holds both.)
  */
class SparkEntrySpec extends AnyFunSuite {
  import TestSpark.spark

  test("entry (flagship) returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  private def oracleOnly: Set[String] = SparkEntry.registry.filter(_.oracleOnly).map(_.name).toSet

  test("bench headline subset names only real, production (non-oracle) queries") {
    val unknown = Bench.headline.filterNot(SparkEntry.queries.keySet)
    assert(unknown.isEmpty, s"headline entries with no query: $unknown")
    val inHeadline = Bench.headline.filter(oracleOnly)
    assert(inHeadline.isEmpty, s"oracle-only queries in the headline: $inHeadline")
    assert(Bench.headline.distinct.size == Bench.headline.size, "duplicate headline entries")
  }

  test("oracle-only queries are declared, oracle-bearing, and few") {
    // the deliberately-quadratic oracles must stay a recognized subset so
    // Bench can report them outside the production totals
    assert(oracleOnly.subsetOf(SparkEntry.queries.keySet))
    assert(oracleOnly.forall(SparkEntry.oracleSql(_).trim.nonEmpty),
      "an oracle-only query without oracle SQL would be untestable")
    assert(oracleOnly == Set("dedup_ngram_jaccard"))
  }

  test("every query runs and is non-empty on sf0.001") {
    val empties = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val n = fn(spark, TestSpark.sf0001).count()
      graft.Cleanup.drain() // free per-query checkpoint blocks (t90, tfidf…)
      if (n == 0) Some(name) else None
    }
    // the set-algebra queries are data-dependent and may legitimately go
    // empty at tiny SF (10 suppliers at sf0.001 → few high-balance overlaps)
    val dataDependent = Set("q_set_except", "q_set_intersect")
    assert(empties.forall(dataDependent), s"unexpected empty queries: $empties")
  }
}
