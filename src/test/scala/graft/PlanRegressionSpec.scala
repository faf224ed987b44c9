package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the physical-plan properties the 100 TB design depends on — a
  * refactor that silently loses a pushdown, a broadcast, or the shuffle-free
  * router shape should fail HERE, not in a cluster.
  */
class PlanRegressionSpec extends AnyFunSuite {
  import TestSpark.{spark, sf0001}

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf0001).queryExecution.executedPlan.toString

  /** Substring from the last occurrence of `marker`, failing with the full
    * plan (not a StringIndexOutOfBounds) when the marker is absent.
    */
  private def fromLast(p: String, marker: String): String = {
    val i = p.lastIndexOf(marker)
    assert(i >= 0, s"expected plan marker '$marker' absent:\n$p")
    p.substring(i)
  }

  test("q01: filter pushed to parquet scan, schema pruned, partial agg") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    assert(!p.contains("l_orderkey"), "scan reads columns the query never uses")
    assert(p.contains("partial_sum"), "map-side partial aggregation missing")
  }

  test("q03: dimension joins broadcast (no fact-table shuffle for dims)") {
    val p = plan("q03_shipping_priority")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"), "segment filter not pushed")
  }

  test("router: single narrow projection, no shuffle before the sort") {
    val p = plan("route_topic_counts")
    // the route itself must not shuffle: below the LAST exchange (the
    // groupBy's) the plan must be partial-agg → route_match projection →
    // scan, with no further exchange
    val belowLastExchange = fromLast(p, "Exchange")
    assert(belowLastExchange.contains("route_match"), s"route not below the shuffle:\n$p")
    assert(belowLastExchange.contains("Scan parquet"), s"route not directly on the scan:\n$p")
    assert(belowLastExchange.contains("partial_count"), "map-side partial count missing")
  }

  test("sim_topk: partial top-k pushed below the shuffle (WindowGroupLimit)") {
    val p = plan("sim_topk_bruteforce")
    val idxLimit = p.indexOf("WindowGroupLimit")
    val idxExchange = p.lastIndexOf("Exchange hashpartitioning")
    assert(idxLimit >= 0, "WindowGroupLimit missing")
    assert(idxExchange >= 0 && p.indexOf("WindowGroupLimit", idxExchange) > 0,
      "no per-partition top-k below the shuffle")
  }

  test("minhash: native kernels present; signature computed once per side") {
    val p = plan("dedup_minhash_lsh")
    assert(p.contains("minhashsig(shinglengrams("))
    assert(p.contains("xxhash64"), "band bucket hashing missing")
  }

  test("exact dedup: fingerprint keys the exchange; keeper path hash-aggregates") {
    val groups = plan("dedup_exact_groups")
    // the grouping exprs are the two xxhash64 fingerprint longs (rendered
    // as _groupingexpression aliases), and the aggregation exchange
    // partitions on them — never on the raw value column
    assert(groups.contains("xxhash64(prefix80"),
      s"fingerprint projection missing:\n$groups")
    assert(groups.contains("hashpartitioning(_groupingexpression"),
      s"exchange not keyed on the content fingerprint:\n$groups")
    assert(!groups.contains("hashpartitioning(prefix80"),
      s"exchange keyed on the raw value:\n$groups")
    val keep = plan("dedup_exact_keep")
    assert(keep.contains("HashAggregate"),
      "keeper selection lost the fixed-width HashAggregate path")
    assert(keep.contains("LeftSemi"), "keeper filter is not a semi join")
  }

  test("embedding LSH: no all-pairs product; candidates verified by id join") {
    val p = plan("dedup_embedding_cosine")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"all-pairs product crept back into the LSH plan:\n$p")
    assert(p.contains("vecdot"), "native cosine verification missing")
  }

  test("top n-grams: per-partition top-k merge, not a global sort") {
    val p = plan("text_top_ngrams")
    assert(p.contains("TakeOrderedAndProject"),
      s"heavy-hitter top-k lost its TakeOrdered shape:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"global sort crept into the top-k plan:\n$p")
  }

  test("bloom decontamination: the production probe is a shuffle-free scan (no exchange, no join)") {
    // round 10: the WIRED query grew an exact leg (the within-bound
    // verdict boolean that bought the oracle promotion), so the pin moves
    // to the production op itself — decontaminationScoreBloom is the
    // scale path and must stay a narrow projection over the scan
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val bloom = graft.ops.TextAnalysis.benchmarkBloom(
      docs.filter(col("doc_id") < 10), "text", 3, fpp = 1e-6)
    val p = graft.ops.TextAnalysis
      .decontaminationScoreBloom(docs, bloom, "doc_id", "text", 3)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"bloom probe plan contains a join:\n$p")
    assert(p.contains("bloommightcontain"),
      s"native bloom probe kernel missing:\n$p")
    assert(!p.contains("Exchange"), s"bloom probe plan shuffles:\n$p")

    // the wired verdict query still carries the probe kernel; its only
    // joins/aggregates are the exact leg the oracle hash-checks
    val wired = plan("text_decontaminate_bloom")
    assert(wired.contains("bloommightcontain"),
      s"wired query lost the native bloom probe:\n$wired")
  }

  test("stratified sample: filter is a narrow scan projection, no shuffle") {
    val p = plan("docs_sample_stratified")
    val belowSort = fromLast(p, "Exchange rangepartitioning")
    assert(belowSort.contains("fingerprint("), s"content-hash filter missing:\n$p")
    assert(!belowSort.contains("Exchange hashpartitioning"),
      s"sampling filter shuffles:\n$p")
  }

  test("salted join: the exchange keys on (salt, suppkey) — hot keys spread") {
    val p = plan("q05_salted")
    assert(p.contains("hashpartitioning(__salt"),
      s"salted exchange lost the composite (salt, key) distribution:\n$p")
  }

  test("sort-merge join: both sides shuffle once, no broadcast of the fact side") {
    val p = plan("q_sortmerge_join")
    assert(p.contains("SortMergeJoin"), s"merge hint lost the SMJ path:\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      s"orders side broadcast despite the merge hint:\n$p")
  }

  test("ivf: centroid selection is a bounded TakeOrdered, not a full sort") {
    // centroids() runs eagerly (driver-collected) during ivfTopK plan
    // construction, so it must be audited as its own plan
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val p = graft.ops.Similarity.centroids(emb, 20)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"nlist centroid cap lost its per-partition top-k shape:\n$p")
  }

  test("q19: the brand implication prunes the part build side AT THE SCAN") {
    // broadcasting 3 brands vs broadcasting the whole part table — the
    // IN-list must reach the parquet reader as a pushed filter
    val p = plan("q19_or_of_ands")
    assert(p.contains("In(p_brand"), s"brand IN-list not pushed to the part scan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"pruned part side not broadcast:\n$p")
  }

  test("q18: lineitem collapses BEFORE the metadata joins; scan reads 2 columns") {
    val p = plan("q18_large_volume")
    assert(p.contains("partial_sum"), "map-side partial quantity sum missing")
    assert(!p.contains("l_extendedprice") && !p.contains("l_shipdate"),
      s"lineitem scan reads columns q18 never uses:\n$p")
    // the HAVING survivor set is tiny -> both metadata joins broadcast-able
    assert(p.contains("BroadcastHashJoin"), s"post-agg joins did not broadcast:\n$p")
  }

  test("q04: EXISTS executes as a semi join, orders never duplicated") {
    val p = plan("q04_priority_late")
    assert(p.contains("LeftSemi"), s"EXISTS did not become a semi join:\n$p")
  }

  test("pattern sequence: stage filters pushed to the event scan") {
    val p = plan("events_pattern_seq")
    assert(p.contains("EqualTo(event_type,view)"),
      s"stage-type filter not pushed to parquet:\n$p")
  }

  test("dup spans: duplicated grams rejoin via semi join, never a payload product") {
    val p = plan("text_dup_spans")
    assert(p.contains("LeftSemi"), s"dup-gram membership is not a semi join:\n$p")
    assert(p.contains("Generate posexplode"), s"positioned-gram explode missing:\n$p")
  }

  test("bm25: corpus stats and df broadcast; the only exchanges key on doc/term") {
    val p = plan("text_bm25")
    assert(p.contains("BroadcastHashJoin"), s"df join not broadcast:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"1-row corpus-stats join not a broadcast cross join:\n$p")
  }

  test("shuffle shards: forced two-phase — the data window keys (shard, bucket)") {
    // autoDegradeBelow = 0 forces the SCALE shape regardless of test-corpus
    // size — this is the plan a 100 TB run executes
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val p = graft.ops.TextAnalysis.shuffleShards(docs, "doc_id", "text", 8,
        autoDegradeBelow = 0)
      .queryExecution.executedPlan.toString
    // the corpus-sized window must be partitioned by BOTH shard and the
    // fp-range sub-bucket (parallelism nShards × posBuckets, never a
    // whole n/nShards shard through one task)
    val i = p.indexOf("windowspecdefinition(shard")
    assert(i >= 0, s"data window lost its shard partitioning:\n$p")
    assert(p.substring(i, i + 60).contains("__b"),
      s"data window not sub-bucketed — one task per shard at scale:\n$p")
    // bucket offsets are a histogram-sized relation that rejoins broadcast
    assert(p.contains("BroadcastHashJoin"),
      s"bucket offsets did not rejoin as a broadcast:\n$p")
  }

  test("pack bins: forced two-phase — the cumsum window keys (lang, bucket)") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val p = graft.ops.TextAnalysis.packBins(docs, "doc_id", "text", 4096L,
        Seq("lang"), autoDegradeBelow = 0)
      .queryExecution.executedPlan.toString
    val i = p.indexOf("windowspecdefinition(lang")
    assert(i >= 0, s"cumsum window lost its key partitioning:\n$p")
    assert(p.substring(i, i + 60).contains("__b"),
      s"cumsum window not sub-bucketed — one task per key at scale:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"bucket-census offsets did not rejoin as a broadcast:\n$p")
  }

  test("shuffle shards wired: probe-degraded to ONE clean shard window at toy scale") {
    val p = plan("docs_shuffle_shards")
    // 500 test rows sit far below the degrade threshold: the wired query
    // must take the one-window form with NO census stages (the 2.2×
    // toy-scale overhead the round-7 bench measured on pack_bins)
    assert(p.contains("windowspecdefinition(shard"),
      s"degraded form lost its shard partitioning:\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      s"census join present despite probe degrade:\n$p")
    val n = "windowspecdefinition".r.findAllIn(p).length
    assert(n == 1, s"expected exactly the per-shard rank window, got $n:\n$p")
  }

  test("mix interleave: two-phase intra-source rank; analytic position stays a projection") {
    val p = plan("docs_mix_interleave")
    // the corpus-sized rank window must be partitioned by BOTH source and
    // the id-range sub-bucket — parallelism |sources| × posBuckets, never
    // a whole source through one task (the round-7 scale defect)
    val i = p.indexOf("windowspecdefinition(lang")
    assert(i >= 0, s"intra-source rank lost its source partitioning:\n$p")
    assert(p.substring(i, i + 60).contains("__b"),
      s"rank window not sub-bucketed — one task per source at scale:\n$p")
    // bucket offsets are a histogram-sized census that rejoins broadcast
    assert(p.contains("BroadcastHashJoin"),
      s"bucket-census offsets did not rejoin as a broadcast:\n$p")
    // the GLOBAL position must stay the analytic |sources|-term projection:
    // exactly the two rank windows (corpus intra-bucket + census cumsum),
    // and no exchange keyed on the ~corpus-distinct virtual time
    val n = "windowspecdefinition".r.findAllIn(p).length
    assert(n == 2, s"expected intra-bucket rank + census cumsum windows, got $n:\n$p")
    assert(!p.contains("hashpartitioning(vt"),
      s"O(corpus) global rank on virtual time crept back:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a corpus-sized relation joined non-broadcast:\n$p")
  }

  test("quality gate: histogram median — no buffering percentile aggregate") {
    val p = plan("docs_quality_gate")
    // exact percentile() holds every group value in one task's agg buffer
    // — the median must come from the bounded (lang, score) histogram
    assert(!p.contains("percentile"), s"buffering percentile crept back:\n$p")
    assert(p.contains("windowspecdefinition(lang"),
      s"running-count window lost its language partitioning:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"per-language medians did not rejoin as a broadcast:\n$p")
  }

  test("quality calibration: ppm from the histogram — no whole-language rank window") {
    val p = plan("docs_quality_calibrated")
    // rank() over partitionBy(lang) sorts an entire language through one
    // task; ppm must derive from the histogram's exclusive running count
    assert(!p.contains("rank("), s"whole-language rank window crept back:\n$p")
    assert(p.contains("windowspecdefinition(lang"),
      s"histogram running-count window lost its language partitioning:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"histogram ranks did not rejoin as a broadcast:\n$p")
  }

  test("q06: every predicate pushed to the scan; schema pruned to 4 columns") {
    // FormattedMode: toString truncates long PushedFilters lists with "..."
    val p = SparkEntry.queries("q06_forecast_revenue")(spark, sf0001)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    for (f <- Seq("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount,0.05)", "LessThanOrEqual(l_discount,0.07)",
        "LessThan(l_quantity,24.0)"))
      assert(p.contains(f), s"predicate not pushed: $f\n$p")
    assert(!p.contains("l_orderkey"), "scan reads columns the query never uses")
    assert(p.contains("partial_sum"), "map-side partial aggregation missing")
  }

  test("q21: the fact join appears once — per-order rollup is a window") {
    val p = plan("q21_waiting_supplier")
    val liScans = "lineitem".r.findAllIn(p).length
    assert(p.contains("Window"), "per-order rollup is not a window")
    // one lineitem scan: the aggregate-join-back form had two
    assert("Scan parquet ".r.findAllIn(p).length == 3,
      s"expected exactly 3 scans (lineitem, orders, supplier):\n$p")
    assert(liScans >= 1 && p.indexOf("lineitem") == p.lastIndexOf("lineitem"),
      s"lineitem scanned more than once:\n$p")
  }

  test("events_retention: one event scan, cohort via window min, no join") {
    val p = plan("events_retention")
    assert("Scan parquet ".r.findAllIn(p).length == 1,
      s"expected exactly 1 scan:\n$p")
    assert(!p.contains("Join"), s"cohort must be a window, not a join:\n$p")
    assert(p.contains("Window"), "window-min cohort missing")
  }

  test("events_anomaly: moments broadcast back; fact table never shuffled") {
    val p = plan("events_anomaly")
    assert(p.contains("BroadcastHashJoin"), "stats must broadcast")
    // the only hash exchange is the 5-group moment aggregate's
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n == 1, s"expected 1 hash exchange (moment agg), got $n:\n$p")
  }

  test("emb_dim_stats: posexplode feeds a partial agg — no collect_list") {
    val p = plan("emb_dim_stats")
    assert(p.contains("Generate posexplode"), "posexplode missing")
    assert(p.contains("partial_sum"), "map-side partial aggregation missing")
    assert(!p.contains("collect_list"), "O(1)-state agg regressed to a collect")
  }

  test("word lift: pairs from a HOF, never a token-table self-join") {
    val p = plan("text_word_lift")
    assert(!p.contains("SortMergeJoin"), s"token self-join appeared:\n$p")
    assert(p.contains("BroadcastHashJoin"), "vocab/df must broadcast")
    assert(p.contains("Generate explode"), "pair HOF explode missing")
  }

  test("q02: argmin window runs on the aggregated grain, dims broadcast") {
    val p = plan("q02_min_cost_supplier")
    assert(p.contains("BroadcastHashJoin"), "part/supplier dims must broadcast")
    // the correlated MIN is a window over the (part, supplier) aggregate —
    // the window must sit ABOVE the final HashAggregate, never on raw rows
    val iAgg = p.lastIndexOf("HashAggregate")
    val iWin = p.indexOf("Window")
    assert(iWin >= 0 && iWin < iAgg,
      s"window not above the grain aggregate:\n$p")
    assert(!p.contains("SortMergeJoin"), "agg-joined-back decorrelation leaked in")
  }

  test("q11: the per-part value exchange is planned once, reused at runtime") {
    val df = SparkEntry.queries("q11_important_parts")(TestSpark.spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange"),
      s"global-total branch recomputed the fact subtree:\n$p")
  }

  test("q12: year filter pushed to the lineitem scan before the join") {
    val p = plan("q12_delay_priority")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"),
      s"ship-year range not pushed:\n$p")
    assert(p.contains("partial_sum"), "conditional counts must partial-aggregate")
  }

  test("q20: grain aggregate materialized once; roster joins as semi join") {
    val df = SparkEntry.queries("q20_excess_share")(TestSpark.spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Scan ExistingRDD"),
      s"(part, supplier) aggregate not checkpoint-materialized:\n$p")
    assert(p.contains("LeftSemi"), s"excess probe must be a semi join:\n$p")
    df.collect(); graft.Cleanup.drain()
  }

  test("global rank: corpus window is key-partitioned, offsets join broadcast") {
    val p = plan("docs_global_rank")
    // the corpus-side row_number must be partitioned by the sort key;
    // the only unpartitioned window runs above a HashAggregate (per-key
    // counts), never over the document relation itself
    assert(p.contains("row_number() windowspecdefinition(n_chars#"),
      s"intra-key rank missing or lost its n_chars partitioning — " +
        s"single-task global sort:\n$p")
    assert(p.contains("BroadcastHashJoin"), "offset join must broadcast")
  }

  test("ohlc: one aggregate pair over the scan — no window, no join") {
    val p = plan("events_ohlc")
    assert(!p.contains("Window"), s"windowed form regressed in:\n$p")
    assert(!p.contains("Join"), s"self-join appeared:\n$p")
    assert(p.contains("partial_min_by") || p.contains("partial_min"),
      "map-side partial min_by missing")
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n == 1, s"expected 1 hash exchange (bar agg), got $n:\n$p")
  }

  test("budget select: prefix-sum window is rank_key-partitioned, offsets broadcast") {
    val p = plan("docs_budget_select")
    // the corpus-side running sum must stay partitioned by the rank key —
    // the single-partition window may only exist above a HashAggregate
    // (per-key subtotals)
    assert(p.contains("windowspecdefinition(rank_key#"),
      s"intra-key cumsum lost its rank_key partitioning:\n$p")
    assert(p.contains("BroadcastHashJoin"), "offset join must broadcast")
  }

  test("lm score: model joins shuffle on bigram/w1 keys, never the payload") {
    val p = plan("docs_lm_score")
    // every hash exchange must key on model columns (w1/w2 or an agg of
    // them) — the document text must never be a shuffle key
    assert(!p.contains("hashpartitioning(text#"),
      s"document payload used as an exchange key:\n$p")
    assert(p.contains("partial_count"), "map-side partial count missing")
  }

  test("transitions: lag window partitioned by user, matrix aggs partial") {
    val p = plan("events_transitions")
    assert(p.contains("windowspecdefinition(user_id#"),
      s"per-user lag window lost its user_id partitioning — global sort:\n$p")
    assert(p.contains("partial_count"), "map-side partial count missing")
  }

  test("calibration: hash exchanges carry only the bounded histogram") {
    val p = plan("docs_quality_calibrated")
    // the histogram side shuffles twice — the (lang, score) groupBy and the
    // lang running-count window — both over ≤101·|langs| rows; the corpus
    // side must reach the join without a hash exchange of its own
    val keys = "Exchange hashpartitioning\\(([a-z_]+)[#,]".r
      .findAllMatchIn(p).map(_.group(1)).toList.sorted
    assert(keys == List("lang", "lang"),
      s"expected exactly the two histogram exchanges (lang[,score]), got $keys:\n$p")
  }

  test("session paths: top-k is a TakeOrdered merge, never a global sort") {
    val p = plan("events_session_paths")
    assert(p.contains("TakeOrderedAndProject"), s"top-k regressed to a sort:\n$p")
    assert(!p.contains("Join"), s"self-join appeared in path mining:\n$p")
  }

  test("snapshot diff: exchanges carry (id, fingerprint), never the payload") {
    val p = plan("docs_snapshot_diff")
    assert(p.contains("FullOuter"), "diff must be a full-outer join")
    assert(!p.contains("hashpartitioning(text#"),
      s"document payload used as an exchange key:\n$p")
    // the fingerprint kernel is in-plan (sides reduced to (id, fp) —
    // with no text exchange key above, it must evaluate scan-side)
    assert(p.contains("fingerprint"), s"fingerprint kernel missing:\n$p")
  }

  test("multigrain: three grains from ONE scan via Expand, not a union of scans") {
    val p = plan("events_multigrain")
    assert(p.contains("Expand"), s"grouping sets lost the Expand plan:\n$p")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected 1 event-log scan, got $scans:\n$p")
    assert(!p.contains("Union"), s"multi-grain regressed to a union of scans:\n$p")
  }

  test("postings: one term-doc exchange; selected terms come back broadcast") {
    val p = plan("text_postings")
    assert(p.contains("BroadcastHashJoin"),
      s"top-k term roster must broadcast, not shuffle the term-doc relation:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-df selection regressed to a global sort:\n$p")
    assert(!p.contains("hashpartitioning(text#"),
      s"document payload used as an exchange key:\n$p")
  }

  test("postings segments: the assembly exchange keys include the segment") {
    val p = plan("text_postings_segments")
    // the posting assembly must never key on term alone — (term, seg)
    // bounds each aggregation buffer at segSize ids for any term
    assert("hashpartitioning\\(term#\\d+, df#\\d+L?, seg#".r.findFirstIn(p).isDefined,
      s"assembly exchange not keyed (term, df, seg):\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-df roster selection regressed to a global sort:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"top-k term roster must broadcast:\n$p")
    assert(!p.contains("hashpartitioning(text#"),
      s"document payload used as an exchange key:\n$p")
  }

  test("chunk: generator directly over the pruned scan — no hash exchange, no join") {
    val p = plan("docs_chunk")
    assert(p.contains("Generate"), s"posexplode generator missing:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"chunking must be shuffle-free (only the orderBy range exchange):\n$p")
    assert(!p.contains("Join"), s"join appeared in a per-row generator op:\n$p")
    assert(!p.contains("n_chars"), "scan schema not pruned to (doc_id, text)")
  }

  test("keep best: one map-side-partial max_by aggregation, never a window sort") {
    val p = plan("dedup_keep_best")
    assert(p.contains("partial_max_by"),
      s"keeper selection must partial-aggregate map-side:\n$p")
    assert(!p.contains("Window"),
      s"keeper selection regressed to a per-cluster window sort:\n$p")
  }

  test("cluster consumers read the build-once assignment artifact") {
    // the three cluster queries must share ONE persisted (id, rep)
    // assignment — a consumer whose plan lacks the in-memory artifact
    // scan is silently re-running MinHash + connected components
    for (q <- Seq("dedup_clusters", "dedup_cluster_sizes", "dedup_keep_best")) {
      val p = plan(q)
      assert(p.contains("InMemoryTableScan"),
        s"$q does not read the shared cluster artifact:\n$p")
    }
  }

  test("split leakage: train gram set broadcasts; the doc payload is never a shuffle key") {
    val p = plan("docs_split_leakage")
    assert(p.contains("BroadcastHashJoin"),
      s"train grams must broadcast to the probe side:\n$p")
    assert(!p.contains("hashpartitioning(text#"),
      s"document payload used as an exchange key:\n$p")
  }

  test("profile: all per-column aggregates fed by ONE scan via Expand") {
    val p = plan("orders_profile")
    assert(p.contains("Expand"),
      s"multi-distinct profile must plan as Expand, not separate scans:\n$p")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"profiler re-scanned the table:\n$p")
  }

  test("incremental curation: quality stage gated by a semi join on the delta") {
    val p = plan("docs_incremental_curation")
    assert(p.contains("LeftSemi"),
      s"curation must run on the diff delta only, via semi join:\n$p")
    assert(p.contains("FullOuter") || p.contains("full_outer"),
      s"snapshot diff must be a full-outer join on (id, fingerprint):\n$p")
  }

  test("priority sample: TakeOrdered heap merge — no corpus shuffle, no window") {
    val p = plan("docs_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"),
      s"the top-(k+1) must plan as per-partition heaps + driver merge:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"a global sort appeared where TakeOrdered suffices:\n$p")
    assert(!p.contains("Window"), s"no window belongs in priority sampling:\n$p")
    // tau joins back as a broadcast scalar, never a shuffle
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"tau must attach as a broadcast 1-row relation:\n$p")
  }

  test("hard negatives / knn: label-aware scoring keeps the WindowGroupLimit top-k shape") {
    for (q <- Seq("sim_hard_negatives", "sim_knn_classify")) {
      val p = plan(q)
      val idxLimit = p.indexOf("WindowGroupLimit")
      val idxExchange = p.lastIndexOf("Exchange hashpartitioning")
      assert(idxLimit >= 0, s"$q: WindowGroupLimit missing:\n$p")
      assert(idxExchange >= 0 && p.indexOf("WindowGroupLimit", idxExchange) > 0,
        s"$q: no per-partition top-k below the per-query shuffle:\n$p")
      assert(p.contains("BroadcastNestedLoopJoin"),
        s"$q: the query side must broadcast (corpus never shuffles to score):\n$p")
    }
  }

  test("scd2: one exchange — change flags, run numbers and the run aggregate share the key partitioning") {
    val p = plan("events_scd2")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"the whole compaction must reuse ONE user_id exchange:\n$p")
    assert(p.contains("partial_min") || p.contains("partial_count"),
      s"run collapse must partially aggregate map-side:\n$p")
  }

  test("pca power round: shuffle-free scan with partial aggregation (no explode, no exchange)") {
    // one round's aggregate over the checkpointed base — the shape every
    // iteration repeats
    val base = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val oneRound = {
      import org.apache.spark.sql.{functions => F}
      val vl = F.array(Array.fill(64)(F.lit(0.125)).toIndexedSeq: _*)
      val vd = F.transform(F.col("embedding"), x => x.cast("double"))
      val dotC = F.aggregate(F.zip_with(vd, vl, (x, b) => x * b),
        F.lit(0.0), (s, x) => s + x)
      base.withColumn("dot", dotC)
        .agg(F.sum(F.round(F.element_at(vd, 1) * F.col("dot") * F.lit(1048576.0))
          .cast("decimal(27,0)")))
    }
    val p = oneRound.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"),
      s"a power-iteration round must not hash-shuffle (partial agg + single merge):\n$p")
    assert(!p.contains("Generate"), s"no explode belongs in the round:\n$p")
    assert(p.contains("partial_sum") || p.contains("HashAggregate"),
      s"map-side partial sums missing:\n$p")
  }

  test("zorder: pure projection over the scan — no shuffle, no window, 3-col schema") {
    val p = plan("orders_zorder")
    assert(!p.contains("Exchange hashpartitioning"),
      s"z-key computation must be shuffle-free:\n$p")
    assert(!p.contains("Window"), s"window appeared in a pure projection:\n$p")
    assert(p.contains("o_orderdate") && !p.contains("o_totalprice"),
      "scan schema not pruned to the three used columns")
  }
}
