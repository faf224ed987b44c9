package graft.router

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.config._
import graft.fixtures.RefRoutePlan

/** Routing-semantics contract tests (SURVEY §2.1 contract points 1–5),
  * mirroring the reference's seven embedded fixture cases
  * (reference topic.yaml:25-55, documented in FIXTURES.md §A) plus the two
  * gaps the reference never covers: true discard (R5) and first-match
  * ordering when multiple splits match.
  */
class RouterSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  /** Plans shaped like the reference's two spliters: one regex-only, one
    * four-split with debug/implicit/drop-as-topic routes.
    */
  private val cidrPattern =
    """.*"source":"10\.220\.(6[4-9]|7[0-1])\.(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])".*"""

  private val proxySpliter = PlanResolver.resolveSpliter(Spliter(
    inputTopic = "proxy-in",
    actions = Map("unmatched" -> "proxy-unmatched", "debug" -> "proxy-debug"),
    splits = Seq(Split(Extractor(cidrPattern, useRegex = true), outputTopic = Some("office-match"))),
  ))

  private val openstackSpliter = PlanResolver.resolveSpliter(Spliter(
    inputTopic = "openstack-in",
    actions = Map(
      "matched" -> "os-match", "unmatched" -> "os-unmatched",
      "drop" -> "os-drop", "debug" -> "os-debug"),
    splits = Seq(
      Split(Extractor("source\":\"/var/log/syslog"), outputTopic = Some("forti-match")),
      Split(Extractor("source\":\"/var/log/ceph/ceph-mon"), action = Some("debug")),
      Split(Extractor("source\":\"/var/log/ceph/ceph.log")),
      Split(Extractor("source\":\"/var/log/ceph/ceph-osd"), action = Some("drop")),
    ),
  ))

  private def routeOne(value: String, s: ResolvedSpliter): Option[String] = {
    val df = Seq(("k", value)).toDF("key", "value")
    Router.routeKeep(df, s).select("topic").as[Option[String]].head()
  }

  test("seven reference fixture cases route to their expected topics") {
    // FIXTURES.md §A cases 1–7
    assert(routeOne("sasdjioa\"source\":\"10.220.64.10\"saskld;jas", proxySpliter).contains("office-match"))
    assert(routeOne("sadjasdasd", proxySpliter).contains("proxy-unmatched"))
    assert(routeOne("ewewerewrewrsource\":\"/var/log/syslogeee", openstackSpliter).contains("forti-match"))
    assert(routeOne("uuuuwwwwsource\":\"/var/log/ceph/ceph-monowowowowo", openstackSpliter).contains("os-debug"))
    assert(routeOne("KavaklWsource\":\"/var/log/ceph/ceph.logweWIx", openstackSpliter).contains("os-match"))
    assert(routeOne("sadjasdasd", openstackSpliter).contains("os-unmatched"))
    assert(routeOne("source\":\"/var/log/ceph/ceph-osd", openstackSpliter).contains("os-drop"))
  }

  test("regex is unanchored find, and near-miss decoys must NOT match") {
    // decoy lines lack the source":" prefix (FIXTURES.md §B)
    assert(routeOne("/var/log/ceph/ceph.logweWIx", openstackSpliter).contains("os-unmatched"))
    assert(routeOne("/var/log/ceph/ceph-monowowowowo", openstackSpliter).contains("os-unmatched"))
    // CIDR boundary: .72 is outside 10.220.64.0/21
    assert(routeOne("\"source\":\"10.220.72.1\"", proxySpliter).contains("proxy-unmatched"))
  }

  test("true drop (R5): absent action key claims the message and discards") {
    val s = PlanResolver.resolveSpliter(Spliter(
      "in", Map("matched" -> "m", "unmatched" -> "u"),
      Seq(
        Split(Extractor("aaa"), action = Some("not_in_actions")), // drop
        Split(Extractor("aaa")),                                  // would match → m
      )))
    // drop split claims it: does NOT fall through to split 2 or unmatched
    assert(routeOne("xxaaaxx", s).isEmpty)
    val routed = Router.route(Seq(("k", "xxaaaxx")).toDF("key", "value"), s)
    assert(routed.count() == 0)
  }

  test("first-match-wins: earlier split claims a message matching several") {
    // 'ceph.log' text also contains... construct value matching splits 1 and 3
    val v = "source\":\"/var/log/syslog and source\":\"/var/log/ceph/ceph.log"
    assert(routeOne(v, openstackSpliter).contains("forti-match"))
    // reversed containment: matches 2 and 3 -> split 2 wins
    val v2 = "source\":\"/var/log/ceph/ceph.log source\":\"/var/log/ceph/ceph-mon"
    assert(routeOne(v2, openstackSpliter).contains("os-debug"))
  }

  test("no unmatched topic configured: unmatched rows are discarded") {
    val s = PlanResolver.resolveSpliter(Spliter(
      "in", Map("matched" -> "m"), Seq(Split(Extractor("hit")))))
    assert(routeOne("miss", s).isEmpty)
  }

  test("synthetic load corpus with decoys: exact golden counts") {
    // Shaped like sample_input.txt (FIXTURES.md §B): noise + matches + decoys
    val noise = (1 to 1000).map(i => s"noise-line-$i-${"x" * (i % 7)}")
    val syslog = (1 to 100).map(i => s"prefix${i}source\":\"/var/log/syslogsuffix")
    val cephlog = (1 to 2).map(i => s"a${i}source\":\"/var/log/ceph/ceph.logZZ")
    val cephmon = Seq("source\":\"/var/log/ceph/ceph-monQQQ")
    val decoys = (1 to 98).map(_ => "/var/log/ceph/ceph.logweWIx") ++
      (1 to 99).map(_ => "/var/log/ceph/ceph-monowowowowo")
    val all = noise ++ syslog ++ cephlog ++ cephmon ++ decoys
    val df = all.zipWithIndex.map { case (v, i) => (i.toString, v) }.toDF("key", "value")
    val counts = Router.routeKeep(df, openstackSpliter)
      .groupBy("topic").count().as[(String, Long)].collect().toMap
    assert(counts("forti-match") == 100)
    assert(counts("os-match") == 2)
    assert(counts("os-debug") == 1)
    assert(counts("os-unmatched") == 1000 + 98 + 99)
  }

  test("P1 projection: route keeps exactly (key, value, topic), value verbatim") {
    val df = Seq(("theKey", "xxsource\":\"/var/log/syslogyy")).toDF("key", "value")
    val out = Router.route(df, openstackSpliter)
    assert(out.columns.toSeq == Seq("key", "value", "topic"))
    val row = out.head()
    assert(row.getString(0) == "theKey")
    assert(row.getString(1) == "xxsource\":\"/var/log/syslogyy") // untouched payload
  }

  test("binary key/value pass through untouched (schemaless data plane)") {
    val payload = Array[Byte](1, 2, -7, 115, 111, 117) // arbitrary bytes
    val df = Seq((Array[Byte](9), payload)).toDF("key", "value")
    val s = PlanResolver.resolveSpliter(
      Spliter("in", Map("unmatched" -> "u"), Seq(Split(Extractor("zzz"), outputTopic = Some("t")))))
    val out = Router.route(df, s).head()
    assert(out.getAs[Array[Byte]]("value").sameElements(payload))
    assert(out.getAs[Array[Byte]]("key").sameElements(Array[Byte](9)))
  }

  test("substring patterns with regex metacharacters stay literal") {
    // use_regex: false must never interpret the pattern — '(', '.', '*'
    // are literal bytes (reference: strings.Contains, main.go:517-522)
    val s = PlanResolver.resolveSpliter(Spliter(
      "in", Map("unmatched" -> "u"),
      Seq(Split(Extractor("a(b.*"), outputTopic = Some("t-lit")))))
    assert(routeOne("xx a(b.* yy", s).contains("t-lit"))
    assert(routeOne("xx a(bZZZ yy", s).contains("u")) // would match as regex
  }

  test("redundant .* wrappers are stripped only when semantics-preserving") {
    assert(Router.stripRedundantWildcards(""".*"x".*""") == "\"x\"")
    assert(Router.stripRedundantWildcards(".*.*abc.*.*") == "abc")
    assert(Router.stripRedundantWildcards("a\\.*") == "a\\.*")   // escaped dot: keep
    assert(Router.stripRedundantWildcards(".*?lazy") == ".*?lazy") // lazy: keep
    assert(Router.stripRedundantWildcards(".*") == ".*")         // never to empty
    assert(Router.stripRedundantWildcards("(?s).*x") == "(?s).*x") // flagged: keep
    // quantifier-stacked leading wrappers must NOT strip (would leave an
    // invalid or semantically-different regex)
    assert(Router.stripRedundantWildcards(".*+foo") == ".*+foo")   // possessive
    assert(Router.stripRedundantWildcards(".*{2}foo") == ".*{2}foo") // counted
    assert(Router.stripRedundantWildcards(".**x") == ".**x")       // stacked star
    // routing results are unchanged by the rewrite (CIDR fixture case 1)
    assert(routeOne("sasdjioa\"source\":\"10.220.64.10\"saskld;jas", proxySpliter).contains("office-match"))
  }

  test("route evaluates the kernel once: one route_match, no Filter") {
    val df = spark.range(10).select($"id".cast("string").as("key"), $"id".cast("string").as("value"))
    val plan = Router.route(df, openstackSpliter).queryExecution.optimizedPlan.toString
    assert("route_match\\(".r.findAllMatchIn(plan).size == 1, plan)
    assert(!plan.contains("Filter"), plan)
  }

  test("null value (a Kafka tombstone) routes to the unmatched topic") {
    // row 0 has a null value, row 1 a syslog match: generated, not folded
    val df = spark.range(2).select($"id".cast("string").as("key"),
      when($"id" === 1, lit("source\":\"/var/log/syslog")).cast("binary").as("value"))
    val kept = Router.routeKeep(df, openstackSpliter)
      .select($"key", $"topic").as[(String, String)].collect().toMap
    assert(kept == Map("0" -> "os-unmatched", "1" -> "forti-match"))
    val routed = Router.route(df, openstackSpliter)
      .select($"key", $"topic").as[(String, String)].collect().toMap
    assert(routed == kept)
    // a constant null folds through the interpreted path to the same answer
    assert(routeOne(null, openstackSpliter).contains("os-unmatched"))
    // with no unmatched topic the tombstone is discarded
    val s = PlanResolver.resolveSpliter(Spliter("in", Map.empty, Seq(Split(Extractor(".*", useRegex = true)))))
    assert(Router.route(df.filter($"id" === 0), s).count() == 0)
  }

  test("regex required literal: leading ASCII run, none when not required") {
    import RouteMatcher.requiredLiteral
    assert(requiredLiteral("abc") == "abc")
    assert(requiredLiteral("ab*") == "a")          // quantified last char dropped
    assert(requiredLiteral("ab{2}c") == "a")
    assert(requiredLiteral("ab(c|a)") == "ab")     // alternation inside a group
    assert(requiredLiteral("ab|c") == "")          // depth-0 alternation
    assert(requiredLiteral("x[|]y|z") == "")
    assert(requiredLiteral("x[|]y") == "x")        // `|` inside a class
    assert(requiredLiteral("(?i)ab") == "")        // leading flag
    assert(requiredLiteral("[ab]c") == "")         // leading class
    assert(requiredLiteral("a\\.b\\d") == "a.b")   // escaped dot is literal, \d is not
    assert(requiredLiteral("\\Qab\\E") == "")      // quoting is not followed
    assert(requiredLiteral("caf\u00e9") == "caf")  // ASCII only
    assert(requiredLiteral(Router.stripRedundantWildcards(RefRoutePlan.cidrPattern)) ==
      "\"source\":\"10.220.")
  }

  test("routeSql renders semantics identical to the Column route") {
    val df = Seq(
      "xxspark query planner", "a window here", "filter me", "a join b",
      "spark stream job with window", "filter then join", "nothing",
    ).zipWithIndex.map { case (v, i) => (i, v) }.toDF("id", "value")
    df.createOrReplaceTempView("route_sql_probe")
    val viaCol = Router.routeKeep(df, graft.fixtures.DocRoutePlan.resolved)
      .select($"id", $"topic").as[(Int, Option[String])].collect().toMap
    val sql = Router.routeSql("value", graft.fixtures.DocRoutePlan.resolved)
      // translate the two DuckDB-dialect spellings to Spark SQL; semantics
      // are identical (unanchored regex find, plain substring LIKE)
      .replace("regexp_matches(", "regexp_like(")
      .replace(" ESCAPE '\\'", "")
      .replace("AS VARCHAR)", "AS STRING)")
    val viaSql = spark.sql(s"SELECT id, $sql AS topic FROM route_sql_probe")
      .as[(Int, Option[String])].collect().toMap
    assert(viaCol == viaSql)
  }
}
