package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import graft.config.{PlanCodec, PlanResolver, ResolvedSpliter}
import graft.fixtures.RefRoutePlan

/** The routing plan both route workloads use, as the base64 `SPLIT_CONF`
  * the production entry point receives: the YAML form of
  * `RefRoutePlan.openstack`.
  */
object Plans {
  val yaml: String =
    s"""spliters_templates:
       |  - input_topic: openstack-in
       |    actions:
       |      matched: os-match
       |      unmatched: os-unmatched
       |      debug: os-debug
       |    splits:
       |      - extractor:
       |          pattern: '${RefRoutePlan.cidrPattern}'
       |          use_regex: true
       |        output_topic: office-match
       |      - extractor:
       |          pattern: 'source":"/var/log/syslog'
       |        output_topic: forti-match
       |      - extractor:
       |          pattern: 'source":"/var/log/ceph/ceph-mon'
       |        action: debug
       |      - extractor:
       |          pattern: 'source":"/var/log/ceph/ceph.log'
       |      - extractor:
       |          pattern: 'source":"/var/log/ceph/ceph-osd'
       |        action: drop-missing
       |""".stripMargin

  val splitConf: String = java.util.Base64.getEncoder.encodeToString(yaml.getBytes(UTF_8))

  /** Decodes and resolves `splitConf`; returns the plan and the time taken (ms). */
  def decode(): (ResolvedSpliter, Double) = {
    val t0 = System.nanoTime()
    val plan = PlanResolver.resolve(PlanCodec.fromBase64(splitConf)).head
    (plan, (System.nanoTime() - t0) / 1e6)
  }

  def checkMatchesFixture(ctx: Ctx, plan: ResolvedSpliter): Unit =
    ctx.out.check("config.plan_matches_fixture", plan == RefRoutePlan.openstack,
      s"decoded SPLIT_CONF ${if (plan == RefRoutePlan.openstack) "equals" else "differs from"} RefRoutePlan.openstack")

  /** Compares routed per-topic counts with the generator's expectation. */
  def checkCounts(ctx: Ctx, name: String, got: Map[String, Long], want: Map[String, Long]): Unit = {
    val keys = (got.keySet ++ want.keySet).toSeq.sorted
    val bad = keys.filter(k => got.getOrElse(k, 0L) != want.getOrElse(k, 0L))
    ctx.out.check(name, bad.isEmpty,
      if (bad.isEmpty) s"${keys.size} topics match"
      else bad.map(k => s"$k got ${got.getOrElse(k, 0L)} want ${want.getOrElse(k, 0L)}").mkString("; "))
  }

  /** The router-layer counts of one routed range. */
  def routerCounts(out: Outcome, rows: Long, got: Map[String, Long]): Unit = {
    val dropped = got.getOrElse(Corpus.Dropped, 0L)
    out.layer.put("router.rows_in", rows.toDouble)
    out.layer.put("router.rows_out", (rows - dropped).toDouble)
    out.layer.put("router.rows_unmatched", got.getOrElse("os-unmatched", 0L).toDouble)
    out.layer.put("router.rows_dropped", dropped.toDouble)
    Corpus.topics.filter(_ != Corpus.Dropped).foreach(t =>
      out.layer.put(s"router.topic.$t", got.getOrElse(t, 0L).toDouble))
  }
}
