package graft

import org.apache.spark.sql.SparkSession

import graft.queries.QuerySpec

import Harness.{Run, force, loadAvg, processCpuNanos, timedRun}

/** Driver-run benchmark: times every SparkEntry query on SPARK_GRAFT_SF_DIR
  * and prints ONE JSON line. Session, warm-up, noop-sink forcing, timing
  * and the failure rule are `Harness`'s: a failed run is counted in
  * `env.n_failed` and left out of every timing figure.
  */
object Bench {
  /** Stable, importance-ordered headline subset carried by the final
    * stdout line (the full map goes to BENCH_OUT + the sentinel; see the
    * emission comment below). Spec-pinned ⊆ SparkEntry.queries so a
    * rename can't silently drop an entry from the compact payload.
    */
  private[graft] val headline: Seq[String] = Seq(
    "q01_pricing_summary", "q03_shipping_priority", "q05_revenue_by_nation",
    "q06_forecast_revenue", "q09_profit_by_nation", "q18_large_volume",
    "q21_waiting_supplier", "text_simjoin_tfidf", "dedup_clusters",
    "dedup_cluster_sizes", "dedup_keep_best", "dedup_minhash_lsh",
    "dedup_exact_groups", "dedup_embedding_cosine_t90", "docs_lm_score",
    "vocab_bpe_merges", "docs_mix_interleave", "docs_quality_gate",
    "docs_quality_calibrated", "docs_shuffle_shards", "docs_curation_pipeline",
    "sim_topk_bruteforce", "sim_topk_ivf", "text_bm25", "text_decontaminate",
    "text_dup_spans", "events_funnel", "events_sessions", "route_first_match",
    "q02_min_cost_supplier", "q04_priority_late", "q07_volume_shipping",
    "q08_market_share", "q10_returned_items", "q11_important_parts",
    "q12_delay_priority", "q13_custdist", "q14_promo_revenue",
    "q15_top_supplier", "q16_part_supplier_variety", "q17_small_qty_revenue",
    "q19_or_of_ands", "q20_excess_share", "q22_prospects",
    "docs_source_cap", "dedup_cross_corpus", "emb_cross_corpus",
    "docs_calibrate_apply", "text_postings_segments", "mm_phash_cross_corpus",
    "text_dup_spans_removed", "text_remove_spans_cross", "mm_video_neardups",
    "mm_video_cross_corpus", "docs_score_drift",
    "vocab_bpe_encode", "docs_bpe_token_counts",
    "text_edit_neighbors", "docs_gram_novelty", "docs_mix_allocate",
    "docs_weighted_sample", "sim_hard_negatives", "sim_knn_classify",
    "emb_coreset_kcenter", "emb_pca_power", "events_scd2",
    "sim_mmr_select", "docs_rrf_hybrid", "emb_whiten_residual",
    "dedup_containment", "docs_boilerplate", "vocab_fertility",
    "emb_ivf_drift", "docs_score_drift_by_source", "dedup_containment_cross",
    "dedup_exact_cross", "docs_source_digest", "dedup_lsh_quality",
    "text_cms_heavy", "text_textrank", "emb_ivf_recall",
    "emb_pq_codes", "emb_pq_topk", "emb_pq_distortion", "emb_ivfpq_topk",
    "docs_cluster_labels", "events_attribution", "emb_hamming_topk",
    "docs_dedup_survivorship", "docs_weighted_sample_by", "emb_hamming_refined",
    "docs_classifier_multiclass_apply", "emb_ivfpq_drift", "emb_sq8_topk",
    "text_winnowing", "text_winnowing_matches", "text_winnowing_cross",
    "docs_qnorm_length", "docs_len_hist_quantiles", "events_ewma",
    "src_format_census", "vocab_unigram_encode", "docs_unigram_bits",
    "mm_audio_neardups", "mm_audio_cross_corpus", "docs_tokenizer_compare")

  /** Reference figures from a prior committed bench payload, used as the
    * same-binary baseline for the outlier-rerun policy — per-query medians
    * (`query_stats.<name>.med`) PLUS the non-query line families the
    * round-13 verdict found uncovered (trainer secs, router med secs,
    * streaming med rows/s): the round-13 driver capture read
    * `stream_router` at 754 k rows/s vs 3.5 M committed and the payload
    * carried telemetry but no rerun reading to adjudicate it. Read BEFORE
    * the sweep overwrites BENCH_OUT; an absent or unparseable file
    * degrades to "no reruns", never to failure.
    */
  private final case class Refs(query: Map[String, Double],
                                trainer: Map[String, Double],
                                routerMedSec: Double, streamMedRps: Double)

  private def refFigures(path: String): Refs =
    try {
      val root = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new java.io.File(path))
      def medMap(node: String, field: String): Map[String, Double] = {
        val it = root.path(node).properties().iterator()
        val b = Map.newBuilder[String, Double]
        while (it.hasNext) {
          val e = it.next(); b += e.getKey -> e.getValue.path(field).asDouble(-1.0)
        }
        b.result().filter(_._2 > 0)
      }
      Refs(medMap("query_stats", "med"), medMap("trainer_stats", "sec"),
        root.path("router_throughput").path("secs_med").asDouble(-1.0),
        root.path("stream_router").path("rows_per_sec").asDouble(-1.0))
    } catch { case _: Throwable => Refs(Map.empty, Map.empty, -1.0, -1.0) }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Harness.cpus
    // reference figures for the outlier policy — read FIRST: BENCH_OUT may
    // point at the same file this run overwrites at the end
    val refs = refFigures(sys.env.getOrElse("BENCH_REF", "bench_out.json"))
    val sweepLoad0 = loadAvg()
    val sweepCpu0 = processCpuNanos(); val sweepT0 = System.nanoTime()
    val spark = Harness.session(cpus)
    Harness.warmUp(spark, sfDir)

    // every failed run of the sweep (queries, trainers, reruns): it shows
    // as env.n_failed and never as a timing
    var nFailed = 0
    def attempt(label: String)(body: => Unit): Run = {
      val r = Harness.run(s"[bench] $label")(body)
      if (r.failed) nFailed += 1
      r
    }

    import org.apache.spark.sql.functions._

    // ------------------------------------------------------ router benches
    // Run FIRST, right after warmup (round-11 verdict task 1): in round 11
    // these were the LAST measurements of a 567-execution sweep and the two
    // unchanged-code router metrics read 6-8× their r07-r10 values together
    // — accumulated JVM/listener/GC pressure, not a plan change. They are
    // the only reference-workload-shaped numbers in the payload, so they
    // get the cold-ish, just-warmed JVM the reference's single binary gets.
    //
    // Batch router throughput: the reference's own workload shape — a
    // synthetic corpus with sample_input.txt's composition (noise + matches
    // + CIDR hits + near-miss decoys) routed through a production-shaped
    // plan (regex CIDR + 4 substring splits + drop). rows/sec of the pure
    // routing projection, the number to compare against the reference's
    // single-node message loop.
    val nCorpus = 4000000L
    def mkCorpus() = spark.range(nCorpus).select(
      col("id").cast("string").as("key"),
      when(pmod(col("id"), lit(100)) === 0,
          concat(lit("pre"), col("id"), lit("source\":\"/var/log/syslog tail")))
        .when(pmod(col("id"), lit(100)) === 1,
          concat(lit("x\"source\":\"10.220.64."), pmod(col("id"), lit(250)), lit("\"y")))
        .when(pmod(col("id"), lit(100)) === 2, lit("/var/log/ceph/ceph.logweWIx")) // decoy
        .when(pmod(col("id"), lit(100)) === 3,
          concat(lit("a"), col("id"), lit("source\":\"/var/log/ceph/ceph-mon t")))
        .otherwise(concat(lit("noise-"), md5(col("id").cast("string"))))
        .as("value"))
      .cache()
    val corpus = mkCorpus()
    corpus.count() // materialize: measure routing, not generation
    val routedBatch = graft.router.Router.route(corpus, graft.fixtures.RefRoutePlan.openstack)
    val routerRuns = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      force(routedBatch)
      (System.nanoTime() - t0) / 1e9
    }.sorted
    corpus.unpersist()
    // one more timed routing pass for the rerun policy (cache+count
    // excluded from the timing exactly like the committed legs)
    def routerRerun(): Run = {
      val c = mkCorpus(); c.count()
      val r = timedRun(force(
        graft.router.Router.route(c, graft.fixtures.RefRoutePlan.openstack)))
      c.unpersist(); r
    }
    val routerSecs = routerRuns.head
    val rowsPerSec = (nCorpus / routerSecs).toLong

    // Streaming-path router throughput: the same routing expression driven
    // through Structured Streaming micro-batches (rate-micro-batch source →
    // route → noop sink) — the honest comparison against the reference's
    // streaming loop, including per-batch planning/commit overhead. THREE
    // independent stream runs (fresh query + fresh temp checkpoint each)
    // with med/min/max over per-run throughput — round 11's single 30 s
    // window was the last spread-less figure in the payload and it read 8×
    // off on unchanged code.
    def streamRun(): Option[(Long, Long, Long)] = try {
      val perBatch = 2000000L
      val stream = spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", perBatch.toString)
        .option("numPartitions", cpus)
        .load()
        .select(col("value").cast("string").as("key"),
          when(pmod(col("value"), lit(100)) === 0,
              concat(lit("pre"), col("value"), lit("source\":\"/var/log/syslog tail")))
            .when(pmod(col("value"), lit(100)) === 1, lit("/var/log/ceph/ceph.logweWIx"))
            // cheap non-matching noise pad (NOT md5: the batch router number
            // excludes corpus synthesis via cache(), so the stream synthesis
            // must stay negligible for the comparison to isolate routing +
            // micro-batch overhead). Width matches the batch corpus's
            // 38-char md5 noise so both paths route comparable payloads.
            .otherwise(concat(lit("noise-"), col("value"),
              lit("-qqpadqqwwpadwwxxpadxxyypadyy")))
            .as("value"))
      val routed = graft.router.Router.route(stream, graft.fixtures.RefRoutePlan.openstack)
      val q = Harness.forceStream(routed)
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
        .start()
      val deadline = System.nanoTime() + 30L * 1000000000L
      var done = false
      while (!done && System.nanoTime() < deadline) {
        Thread.sleep(500)
        val p = q.recentProgress
        done = p.map(_.numInputRows).sum >= perBatch * 6
      }
      val progresses = q.recentProgress
      // silence the TaskKilled/stage-cancelled WARN burst that query.stop()
      // triggers, then restore WARN once the query has left the active set
      // and its killed tasks have ended (bounded wait, not a fixed sleep — a
      // slow async stop would otherwise spray cancellation WARNs and
      // `Aborting commit` ERRORs into the sweep log; the runs happen at the
      // START of the sweep, so leaving the level OFF would swallow every
      // later query's diagnostics). A cancelled stage leaves the active set
      // before its tasks stop: only the executors' running-task counts show
      // when the aborts are over.
      spark.sparkContext.setLogLevel("OFF")
      try {
        q.stop()
        val tracker = spark.sparkContext.statusTracker
        def busy = spark.streams.active.nonEmpty || tracker.getActiveStageIds.nonEmpty ||
          tracker.getExecutorInfos.exists(_.numRunningTasks > 0)
        val quiet = System.nanoTime() + 5L * 1000000000L
        while (busy && System.nanoTime() < quiet)
          Thread.sleep(100)
      } finally spark.sparkContext.setLogLevel("WARN") // a throwing stop()
      // must not leave the level OFF for the whole subsequent sweep
      val rows = progresses.map(_.numInputRows).sum
      val execMs = progresses.flatMap(p => Option(p.durationMs.get("triggerExecution")).map(_.toLong)).sum
      if (rows > 0 && execMs > 0) Some((rows, execMs, rows * 1000L / execMs)) else None
    } catch { case e: Throwable => System.err.println(s"[bench] stream failed: $e"); None }
    val streamRuns = (1 to 3).flatMap(_ => streamRun())
    // med/min/max over per-run rows_per_sec; rows/exec_ms reported from the
    // median-throughput run so the three headline figures cohere
    val streamStats = streamRuns.sortBy(_._3) match {
      case rs if rs.nonEmpty => Some((rs(rs.size / 2), rs.head._3, rs.last._3, rs.size))
      case _ => None
    }
    val streamJson = streamStats
      .map { case ((r, ms, rps), mn, mx, n) =>
        s""","stream_router":{"rows":$r,"exec_ms":$ms,"rows_per_sec":$rps,"rps_min":$mn,"rps_max":$mx,"runs":$n}""" }
      .getOrElse("")

    // ------------------------------------------------- trainer attribution
    // Force the build-once artifact memos BEFORE the timed sweep and report
    // each as its own line (round-11 verdict task 5): the memoized 64-round
    // classifier train previously landed inside whichever docs_classifier_*
    // query the sweep happened to time first (max 99.15 s vs med 8.48 s in
    // BENCH_r11), misread as an apply-path regression. A 100 TB deployment
    // trains once and serves the artifact table; timing train and apply as
    // separate lines is that deployment's honest cost model.
    val trainerRuns: Seq[(String, Run)] = SparkEntry.trainerWarmers.toSeq.sortBy(_._1)
      .map { case (name, warm) => name -> attempt(s"trainer $name")(warm(spark, sfDir)) }
      .filterNot(_._2.failed)

    // three runs per query, EVERY query (round 11 — previously 2 with a
    // 3-sample headline subset): min-of-3 suppresses GC/compilation noise
    // from earlier queries in the shared JVM (the steady-state number a
    // long-running cluster job would see), and the med/min/max spread now
    // covers the full sweep. The round-10 driver capture carried a
    // 24.99 s single-shot `emb_pca_power` where the committed same-code
    // run measured 2.97 s — an 8× box-noise artifact sitting exactly in
    // the 89-query gap the old headline-only stats didn't cover, misread
    // as a regression by anyone not doing git archaeology. No
    // single-shot (or spread-less) figure appears anywhere in the
    // payload now.
    def runOnce(name: String,
                fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Run =
      attempt(name)(force(fn(spark, sfDir)))
    // failed runs are dropped; a query whose every run failed has no entry
    def time(entries: Seq[QuerySpec], runs: Int = 3): Seq[(String, Seq[Run])] =
      entries.sortBy(_.name).map { q =>
        q.name -> (1 to runs).map(_ => runOnce(q.name, q.build)).filterNot(_.failed)
      }.filter(_._2.nonEmpty)
    // production surface vs oracle-only: the deliberately-quadratic
    // correctness oracles (QuerySpec.oracleOnly) are timed and reported
    // under a separate key so they never masquerade as production entries
    // in the headline totals
    val (oracleEntries, prodEntries) = SparkEntry.registry.partition(_.oracleOnly)
    val headlineSet = headline.toSet
    val prodSamples = time(prodEntries)
    val results = prodSamples.map { case (n, ts) => n -> ts.map(_.sec).min }
    val oracleSamples = time(oracleEntries)
    val oracleResults = oracleSamples.map { case (n, ts) => n -> ts.map(_.sec).min }
    // per-query median with min/max spread over the 3 samples — goes in
    // the full payload only (the compact stdout line is size-capped).
    // `query_stats` covers EVERY production query; `headline_stats` is
    // retained as the stable subset earlier rounds' payloads carried so
    // round-over-round comparisons don't lose their anchor. Each entry
    // also carries the MEDIAN run's cpu/wall ratio and 1-min loadavg
    // (telemetry scaladoc above) so per-query swings are attributable.
    def spread(samples: Seq[(String, Seq[Run])]) =
      samples.map { case (n, ts) =>
        val s = ts.sortBy(_.sec); val m = s(s.size / 2)
        n -> (m.sec, s.head.sec, s.last.sec, m.cpu, m.load)
      }
    val queryStats = spread(prodSamples)
    val headlineStats = queryStats.filter(e => headlineSet(e._1))
    val oracleStats = spread(oracleSamples)

    // ------------------------------------------------- outlier rerun policy
    // (round-12 verdict task 2; extended to every line family in round 14
    // per the round-13 verdict; trigger lowered 3× → 2× in round 15): any
    // line whose reading is > 2× its committed same-binary reference gets
    // ONE extra reading at sweep end — both ship. A transiently loaded box
    // usually relaxes by sweep end, so rerun ≪ med ⇒ load artifact; rerun ≈
    // med ⇒ either sustained load (see its load/cpu fields) or a real code
    // cost. The round-14 committed sweep left 2.3–2.5× inflations with no
    // rerun reading because they sat below the old 3× trigger — exactly the
    // band a reader still has to adjudicate. Families and their rerun
    // semantics:
    //  - queries: one more runOnce (secs);
    //  - trainer:<name>: one more REAL train in a fresh child session (the
    //    memo is keyed on session identity, so the artifact rebuilds);
    //  - router: one more timed routing pass over a fresh cached corpus;
    //  - stream_router: one more independent stream run — values in
    //    rows/sec, and the trigger is INVERTED (med < ref/2).
    // A CRASHED rerun reports rerun = -1, never its time-to-failure — a
    // fast failure must not read as "transient load relaxed".
    // Capped at 16 reruns, most-inflated FIRST (sortBy(-factor) below), so
    // a fully saturated box can't double the sweep while the largest
    // ratios are always the ones adjudicated; the cap, when hit, shows as
    // n_inflated > n_rerun in env.
    // absolute floor 0.5 s: a 2× ratio on a 0.1 s line is timer noise,
    // and rerunning it would spend the 16-slot budget on lines whose
    // swing no reader will ever investigate
    final case class Cand(name: String, med: Double, ref: Double,
                          factor: Double, rerun: () => Run)
    val qCands = queryStats
      .flatMap { case (n, (med, mn, _, _, _)) =>
        refs.query.get(n).collect {
          // 2× trigger — OR the round-16 "repeat offender" rule (the
          // q_percentiles case: a 1.6× r/r drift with min ≈ med sat
          // below the trigger for a full round before a worktree A/B
          // adjudicated it environmental): med > 1.5× ref with min ≥
          // 0.8·med means the regression REPRODUCED across every rep
          // rather than one loaded rep widening the spread — exactly
          // the readings a rerun can still adjudicate in-sweep
          case r if (med > 2 * r || (med > 1.5 * r && mn >= 0.8 * med)) && med > 0.5 =>
            Cand(n, med, r, med / r, () => runOnce(n, SparkEntry.queries(n))) } }
    val tCands = trainerRuns.flatMap { case (n, run) =>
      refs.trainer.get(n).collect {
        case r if run.sec > 2 * r && run.sec > 0.5 =>
          Cand(s"trainer:$n", run.sec, r, run.sec / r, () =>
            attempt(s"trainer rerun $n")(
              SparkEntry.trainerWarmers(n)(spark.newSession(), sfDir))) } }
    val routerMed = routerRuns(routerRuns.size / 2)
    val rCands =
      if (refs.routerMedSec > 0 && routerMed > 2 * refs.routerMedSec && routerMed > 0.5)
        Seq(Cand("router", routerMed, refs.routerMedSec,
          routerMed / refs.routerMedSec, routerRerun _))
      else Seq.empty
    val sCands = streamStats.toSeq.flatMap { case ((_, _, rps), _, _, _) =>
      if (refs.streamMedRps > 0 && rps * 2 < refs.streamMedRps)
        Seq(Cand("stream_router", rps.toDouble, refs.streamMedRps,
          refs.streamMedRps / rps,
          // the rerun reading for a THROUGHPUT line is rows/sec in the
          // Run.sec slot (native unit per family, documented above)
          () => streamRun() match {
            case Some((_, _, rps2)) => Run(rps2.toDouble, -1.0, loadAvg())
            case None => Run(-1.0, -1.0, loadAvg())
          }))
      else Seq.empty
    }
    val inflated = (qCands ++ tCands ++ rCands ++ sCands).sortBy(-_.factor)
    val reruns = inflated.take(16).map(c => (c.name, c.med, c.ref, c.rerun()))
    val anyRef = refs.query.nonEmpty || refs.trainer.nonEmpty ||
      refs.routerMedSec > 0 || refs.streamMedRps > 0

    // 4-decimal (0.1 ms) timings for the on-disk payload; 2-decimal for
    // the stdout line, whose size is a hard constraint (below)
    def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.4f", v)
    def fmt2(v: Double): String = String.format(java.util.Locale.ROOT, "%.2f", v)
    def obj(entries: Seq[(String, Double)], f: Double => String): String =
      entries.map { case (k, v) => "\"" + k + "\":" + f(v) }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    def fmt1(v: Double): String = String.format(java.util.Locale.ROOT, "%.1f", v)
    def statsObj(stats: Seq[(String, (Double, Double, Double, Double, Double))]): String = stats
      .map { case (k, (med, mn, mx, cpu, load)) =>
        "\"" + k + s"""\":{"med":${fmt(med)},"min":${fmt(mn)},"max":${fmt(mx)},"cpu":${fmt1(cpu)},"load":${fmt1(load)}}""" }
      .mkString("{", ",", "}")
    val statsJson = statsObj(headlineStats)
    val queryStatsJson = statsObj(queryStats)
    val oracleStatsJson = statsObj(oracleStats)
    val trainersJson = obj(trainerRuns.map { case (n, r) => n -> r.sec }, fmt)
    val trainerStatsJson = trainerRuns
      .map { case (k, r) =>
        "\"" + k + s"""\":{"sec":${fmt(r.sec)},"cpu":${fmt1(r.cpu)},"load":${fmt1(r.load)}}""" }
      .mkString("{", ",", "}")
    val rerunsJson =
      if (!anyRef) "\"none: no reference payload\""
      else reruns
        .map { case (n, med, ref, r) =>
          "\"" + n + s"""\":{"med":${fmt(med)},"ref":${fmt(ref)},"rerun":${fmt(if (r.failed) -1.0 else r.sec)},"cpu":${fmt1(r.cpu)},"load":${fmt1(r.load)}}""" }
        .mkString("{", ",", "}")
    // sweep-phase environment summary: loadavg at start/end plus this JVM's
    // whole-sweep CPU/wall ratio — the one-glance "was the box contended"
    // answer; per-query fields localize WHICH queries the pressure hit
    val sweepWall = (System.nanoTime() - sweepT0) / 1e9
    val sweepCpu =
      if (sweepCpu0 >= 0 && sweepWall > 0) (processCpuNanos() - sweepCpu0) / 1e9 / sweepWall
      else -1.0
    val envJson =
      s""""env":{"load_start":${fmt1(sweepLoad0)},"load_end":${fmt1(loadAvg())},"cpu_wall_ratio":${fmt1(sweepCpu)},"cpus":$cpus,"n_inflated":${inflated.size},"n_rerun":${reruns.size},"n_failed":$nFailed}"""
    val tailCommon =
      s""""sf":"$sfDir",$envJson,"trainers":$trainersJson,"router_throughput":{"rows":$nCorpus,"secs":${fmt(routerSecs)},"rows_per_sec":$rowsPerSec,"secs_med":${fmt(routerRuns(routerRuns.size / 2))},"secs_max":${fmt(routerRuns.last)}}$streamJson}"""
    val json =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${obj(results, fmt)},"headline_stats":$statsJson,"query_stats":$queryStatsJson,"oracles":${obj(oracleResults, fmt)},"oracle_stats":$oracleStatsJson,"reruns":$rerunsJson,"trainer_stats":$trainerStatsJson,""" + tailCommon

    // The driver keeps only the LAST 2000 characters of the sbt log (plus
    // sbt's ~81-char "[success] ..." trailer lands after us), so the final
    // stdout line must fit COMPLETELY inside ~1900 chars or the driver
    // records parsed:null — which the full 121-query map (~3.3 KB) never
    // can. The stdout line therefore carries a stable HEADLINE subset
    // (importance-ordered: the TPC-H shapes + the flagship pipeline ops)
    // at 2-decimal precision, with n_queries + a pointer to the full
    // payload; the complete 4-decimal result always goes to BENCH_OUT
    // (bench_out.json, committed per round) and to the sentinel line for
    // tools/extract_bench.py, which reads whole logs, not tails.
    val byName = results.toMap
    def compactJson(n: Int): String = {
      val subset = headline.take(n).flatMap(q => byName.get(q).map(q -> _))
      s"""{"metric":"total","value":${fmt2(total)},"unit":"sec","queries":${obj(subset, fmt2)},"n_queries":${results.size},"full":"bench_out.json","oracles":${obj(oracleResults, fmt2)},""" + tailCommon
    }
    // deterministic fit guard: drop least-important headline entries until
    // the line is comfortably inside the tail window
    val compact = Iterator.range(headline.size, 0, -1).map(compactJson)
      .find(_.length <= 1800).getOrElse(compactJson(0))

    // Emission order matters for the tail window: BENCH_OUT file first,
    // then the full-payload sentinel line (grammar, also in README
    // §Benchmarks: `GRAFT_BENCH_JSON <one-line JSON object>`, possibly
    // sbt-"[info]"-wrapped), then the compact bare JSON line LAST — all
    // after logging is fully silenced and BEFORE spark.stop() so nothing
    // interleaves.
    spark.sparkContext.setLogLevel("OFF")
    val outPath = sys.env.getOrElse("BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(outPath), (json + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] write $outPath failed: $e") }
    println(s"GRAFT_BENCH_JSON $json")
    println(compact)
    System.out.flush()
    spark.stop()
  }
}
