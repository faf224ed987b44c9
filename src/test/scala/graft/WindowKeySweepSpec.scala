package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count}
import org.apache.spark.sql.catalyst.plans.logical._

/** Mechanical closure of the round-7 sweep gap: the manual anti-pattern
  * audit judged every `Window.partitionBy` by key cardinality, caught
  * `packBins`, and then mis-graded `mixInterleave`'s per-source rank as
  * "key-local" — a config-scale key (|sources| ≈ a handful) that funnels
  * corpus/|sources| rows through one task at 100 TB. This spec applies
  * the cardinality test to EVERY window and collect buffer in EVERY wired
  * query, so the next config-scale window can't slip through on prose.
  *
  * Round-9 upgrade: classification is MEASURED, not name-trusted. The
  * round-8 version keyed "data-scale" off a column-name allowlist ("id",
  * "term", "bucket", …) — DESIGN §11's own lesson is that name-based
  * auditing broke once already (the `asOfJoin` rename hid a data-scale
  * key behind "k"), and the inverse failure — a config-scale column that
  * happens to be NAMED `id` — passed silently. Now every non-exempt
  * window/collect key set is measured against the corpus at TWO scales
  * (sf0.001 and sf0.1) on the node's actual optimized-plan input:
  *
  *   - if the input row count doesn't grow with the corpus, the grain is
  *     bounded (a census/histogram the structural check can't always
  *     see) — fine at any key cardinality;
  *   - if the key's distinct count grows with the corpus, parallelism
  *     grows with the data — fine (doc ids, user ids, fingerprints, and
  *     any rename of them pass on measurement alone);
  *   - an input that GROWS under a key that DOESN'T is the config-scale
  *     funnel this spec exists to catch — flagged regardless of name,
  *     fixed by sub-bucketing or carried as a written audit entry.
  *
  * Growth, not absolute count, is the test because the synthetic corpus
  * makes single-SF counts lie in both directions: the generator
  * vocabulary is ~flat (a genuinely data-scale `term` key measures ~30
  * distinct at every SF), while a config-scale (grp × dim) product
  * measures 512 — larger than the sf0.001 doc count.
  *
  * Structural exemptions stay: sub-bucket terms (`__b`, `__salt`, `seg`)
  * are the two-phase decomposition by construction, and an Aggregate /
  * WindowGroupLimit input bounds the grain plan-visibly. (For reference,
  * the keys the retired allowlist named: doc/vec/user/query/event/
  * session ids, join keys, fingerprints, terms/grams/shingles, bucket —
  * all of these now pass by measured growth instead of by name.)
  */
class WindowKeySweepSpec extends AnyFunSuite {
  import TestSpark.{spark, sf0001, sf01}

  /** Sub-bucket terms that restore parallelism under a config-scale key
    * (the two-phase window decomposition, the salted join, and posting
    * segmentation) — structural, not data-dependent.
    */
  private val subBucketKeys: Set[String] = Set("__b", "__salt", "seg")

  /** Growth factor separating "grows with the corpus" from "flat". The
    * corpus grows 10× from sf0.001 to sf0.1 (docs 500→5000); config
    * dimensions (langs, sources, shards, grid cells) grow 1×. 2× is the
    * midpoint with margin for sampling effects on sparse keys.
    */
  private val growMin = 2.0

  /** Windows/collects audited by hand as bounded despite a measured
    * config-scale key over a growing input. Keyed by (query, sorted
    * partition-key names; empty for an unpartitioned window); value = the
    * justification the audit rests on. Adding an entry here requires the
    * same written argument these carry.
    */
  private val auditedExceptions: Map[(String, Seq[String]), String] = Map(
    ("docs_source_cap", Seq("source")) ->
      ("boundary-bucket rank: the row_number runs ONLY over rows whose " +
        "score equals the per-source threshold — one histogram bucket per " +
        "source, not the source's corpus rows (sourceCap scaladoc; " +
        "boundary_audit.py proves the bucket is exercised)"),
    ("docs_shuffle_shards", Seq("shard")) ->
      ("probe-degraded one-window form: twoPhaseWorthIt measured ≤64k " +
        "total rows at test SF, where one task per shard is milliseconds; " +
        "the production two-phase shape is forced and plan-pinned in " +
        "PlanRegressionSpec (autoDegradeBelow = 0)"),
    ("text_pack_bins", Seq("lang")) ->
      ("probe-degraded one-window cumsum, same argument as " +
        "docs_shuffle_shards; two-phase shape plan-pinned separately"),
    ("emb_mean_pool", Seq("grp", "pos")) ->
      ("deterministic sorted-fold mean: collecting per (group, dimension) " +
        "is the price of a bit-exact oracle hash across partitionings — " +
        "`meanPoolAvg` is the implemented production variant (plain avg, " +
        "O(1) mergeable state, spec-pinned equal after rounding); the " +
        "8-bucket grp here is the wired test shape, not the op's contract"),
    ("docs_global_rank", Seq("n_chars")) ->
      ("probe-degraded tie-local rank at ≤64k measured rows. The measured " +
        "sweep surfaced this in round 9: a VALUE key's distinct count " +
        "saturates (n_chars 316→590 under 10× corpus growth) while its tie " +
        "groups grow — the config-scale funnel. Fixed in " +
        "Analytics.twoPhaseOrdered: above the probe threshold the rank is " +
        "keyed (key, __b) by global id-range; forced shape plan-pinned in " +
        "PlanRegressionSpec, equality spec-pinned in AnalyticsSpec"),
    ("docs_budget_select", Seq("rank_key")) ->
      ("probe-degraded tie-local cumsum, same argument and same " +
        "twoPhaseOrdered fix as docs_global_rank (rank_key is a rounded " +
        "score — a saturating value key); forced (key, __b) shape " +
        "plan-pinned, equality spec-pinned"),
    ("docs_qnorm_length", Seq("n_chars")) ->
      ("the POOLED leg of quantileNormalize is globalRankAll over the " +
        "value key — the probe-degraded tie-local rank at ≤64k measured " +
        "rows, the same saturating-value-key case and the same " +
        "twoPhaseOrdered fix as docs_global_rank (forced (key, __b) " +
        "shape plan-pinned there); the within-GROUP leg carries no " +
        "group-partitioned window at all — it derives from the composite " +
        "(group, value) two-phase rank minus census offsets, " +
        "equality spec-pinned in AnalyticsSpec"),
    ("docs_qnorm_length", Nil) ->
      ("the within-group leg's offsets running sum (unpartitioned) over " +
        "the composite (source, n_chars) census: its lattice is |sources| × " +
        "|distinct n_chars| rows (× posBuckets in the forced two-phase " +
        "form), bounded by the length range and the source count, not by " +
        "the document count. 5000 docs do not fill it, so the census " +
        "measures 490→3933 rows across the 10× step and fails the " +
        "sub-linear confirmation. The query's other unpartitioned windows " +
        "share this key: the pooled leg's n_chars census saturates " +
        "(316→590) and the group offsets run over |sources| rows"),
    ("text_postings", Seq("df", "term")) ->
      ("whole-list postings are the top-k oracle surface: the k=20 " +
        "broadcast roster bounds the GROUP COUNT (measured flat), but " +
        "each kept term's buffer is its full df — growing with the " +
        "corpus by design here; the production form is " +
        "text_postings_segments, whose seg key caps every buffer at " +
        "segSize (postingsSegments scaladoc)"))

  /** Descend from a window's input through row-preserving nodes to decide
    * whether the grain is bounded plan-structurally: an Aggregate
    * (histogram/census — its output cardinality is the group-key lattice,
    * not the corpus) or a WindowGroupLimit (per-partition top-k: ≤k rows
    * per key reach the window). Project/Filter/Sort/aliasing don't change
    * the argument; another Window doesn't either (row-preserving).
    *
    * Round-12 upgrade: "Aggregate ⇒ bounded" was a blanket bless, but a
    * census's LATTICE can itself be corpus-scale (group-by-doc_id). For
    * PARTITIONED windows/collects the bless is now CONFIRMED by
    * measurement — see censusConfirmed: the aggregate's output must grow
    * SUB-linearly vs its input across SFs (a saturating lattice), else
    * the node falls through to the ordinary measured rule / audit. An
    * UNPARTITIONED window over such a census gets the same confirmation
    * (wnodes lists it with no keys), so `row_number() OVER ()` over a
    * group-by-doc_id census is the whole-corpus single task it is.
    */
  private def boundedGrain(p: LogicalPlan): Boolean = p match {
    case _: Aggregate => true
    case _: WindowGroupLimit => true
    // a GLOBAL limit bounds the window's input to a plan-constant row
    // count — the "rank within a TakeOrdered top-N" shape (rrfFuse's
    // feeders); same plan-structural argument as WindowGroupLimit.
    // Deliberately NOT LocalLimit: per-partition limits bound rows × the
    // cluster's partition count, which grows with the deployment.
    case _: GlobalLimit => true
    // a Range leaf is a plan-constant relation (spark.range(dim) — the
    // bucket-roster shape dsirBucketLift joins its census against).
    // Deliberately NO Join rule: "Aggregate ⇒ bounded" is a census
    // heuristic whose lattice can still be corpus-scale (group-by-doc_id),
    // so propagating it through joins would structurally bless genuinely
    // growing buffers (text_postings' audited whole-df window, for one)
    case _: Range => true
    case n @ (_: Project | _: Filter | _: Sort | _: SubqueryAlias |
              _: Window | _: RepartitionOperation) =>
      boundedGrain(n.children.head)
    case _ => false
  }

  private case class WNode(kind: String, keys: Seq[String],
                           keyExprs: Seq[Expression], child: LogicalPlan)

  private def hasCollect(a: Aggregate): Boolean =
    a.aggregateExpressions.exists(_.collectFirst {
      case f: org.apache.spark.sql.catalyst.expressions.aggregate.CollectList => f
      case f: org.apache.spark.sql.catalyst.expressions.aggregate.CollectSet => f
    }.nonEmpty)

  private def keyNames(es: Seq[Expression]): Seq[String] =
    es.flatMap(_.references.toSeq.collect { case a: Attribute => a.name })
      .distinct.sorted

  /** Partitioned windows, collect-aggregates and the unpartitioned
    * windows over a bounded-grain input (their bless still needs its
    * census confirmed), in deterministic pre-order — the unit of
    * classification. An unpartitioned window over any other input is
    * flagged outright (classify's `unpart`).
    */
  private def wnodes(plan: LogicalPlan): Seq[WNode] = plan.collect {
    case w: Window if w.partitionSpec.nonEmpty =>
      WNode("window", keyNames(w.partitionSpec), w.partitionSpec, w.child)
    case w: Window if boundedGrain(w.child) =>
      WNode("unpartitioned window", Nil, Nil, w.child)
    case a: Aggregate if hasCollect(a) =>
      WNode("collect", keyNames(a.groupingExpressions), a.groupingExpressions, a.child)
  }

  /** (input rows, distinct key values) of `keys` over `child`, executed
    * through the session — the measured ground truth the classification
    * rests on.
    */
  private def measure(child: LogicalPlan, keys: Seq[Expression]): (Long, Long) = {
    val n = Alias(AggregateExpression(Count(Seq(Literal(1))), Complete, isDistinct = false), "__n")()
    if (keys.isEmpty) {
      // a GLOBAL collect (no grouping key) buffers its entire input in one
      // aggregation buffer: its "key" is one constant value, so only the
      // input-growth half of the rule applies — measuredOk(n1, 1, nL, 1)
      // flags it exactly when the input grows with the corpus
      val row = spark.sessionState.executePlan(Aggregate(Nil, Seq(n), child))
        .executedPlan.executeCollect().head
      return (row.getLong(0), 1L)
    }
    val d = Alias(AggregateExpression(Count(keys), Complete, isDistinct = true), "__d")()
    val row = spark.sessionState.executePlan(Aggregate(Nil, Seq(n, d), child))
      .executedPlan.executeCollect().head
    (row.getLong(0), row.getLong(1))
  }

  private def structurallyOk(nd: WNode): Boolean =
    nd.keys.exists(subBucketKeys) || boundedGrain(nd.child)

  /** The Aggregate a bounded-grain bless rests on, if that is what the
    * bless would rest on (same row-preserving descent as boundedGrain;
    * None when the bless comes from WindowGroupLimit/GlobalLimit/Range,
    * which are corpus-independent by construction and need no census
    * confirmation).
    */
  private def blessAggregate(p: LogicalPlan): Option[Aggregate] = p match {
    case a: Aggregate => Some(a)
    case _: WindowGroupLimit | _: GlobalLimit | _: Range => None
    case n @ (_: Project | _: Filter | _: Sort | _: SubqueryAlias |
              _: Window | _: RepartitionOperation) =>
      blessAggregate(n.children.head)
    case _ => None
  }

  /** Measured confirmation of an Aggregate-based bless (round 12): the
    * census is genuinely bounded only if its OUTPUT grows sub-linearly
    * vs its INPUT across the 10× corpus step — a saturating lattice
    * (histogram bins, value domains) passes; a corpus-lattice census
    * (group-by-doc_id) tracks its input 1:1 and fails, sending the node
    * to the ordinary measured rule / audit path. Tiny outputs never
    * fail (the growth signal is meaningless under ~100 rows).
    */
  private def censusConfirmed(agg1: Aggregate, aggL: Aggregate): Boolean = {
    val (i1, _) = measure(agg1.child, Nil)
    val (o1, _) = measure(agg1, Nil)
    val (iL, _) = measure(aggL.child, Nil)
    val (oL, _) = measure(aggL, Nil)
    val inGrowth = iL.toDouble / math.max(i1, 1L)
    val outGrowth = oL.toDouble / math.max(o1, 1L)
    oL < 100 || inGrowth < growMin || outGrowth <= 0.5 * inGrowth
  }

  /** The measured rule (scaladoc): flag iff the input grows while the key
    * set stays flat. Tiny inputs at the large SF are never flagged — the
    * growth signal is meaningless under ~100 rows.
    *
    * Round-12 extension (the ewmaByUser lesson): for COLLECT buffers the
    * key-growth escape is not enough — a collect whose keys grow with
    * the corpus can still hold a per-key buffer that ALSO grows with the
    * corpus (rows/key = n/d rising across SFs), which is a per-task OOM
    * at 100 TB however parallel the key is. Collect nodes therefore
    * additionally require a FLAT per-key buffer (n/d growing < growMin×
    * between SFs). Known limitation, documented rather than hidden: a
    * buffer that is corpus-INVARIANT on the synthetic data but unbounded
    * in the wild (the old `ewmaByUser` collected a user's whole history;
    * events/user is flat at every SF by generator design) is invisible
    * to any growth measurement — that class is closed by construction
    * instead (the op was rewritten to an O(1)-state ordered partition
    * scan), and new order-restoring collects (`sort_array(collect_list)`)
    * should state their buffer bound in the op scaladoc the way
    * `sessionPaths` (session-gap-bounded) and the per-doc token ops
    * (document-length-bounded) do.
    */
  private def measuredOk(kind: String, n1: Long, d1: Long, nL: Long, dL: Long): Boolean = {
    val keyRule = nL < 100 || nL < 2L * n1 || dL >= growMin * d1
    if (kind != "collect") keyRule
    else {
      val buf1 = n1.toDouble / math.max(d1, 1L)
      val bufL = nL.toDouble / math.max(dL, 1L)
      val bufferFlat = nL < 100 || bufL < growMin * math.max(buf1, 1.0)
      keyRule && bufferFlat
    }
  }

  /** Classify every window/collect of one query build; returns violation
    * strings. Shared by the wired-surface sweep and the planted-defect
    * tests so both exercise the same code path.
    */
  private def classify(name: String, build: String => org.apache.spark.sql.DataFrame,
                       seenAudited: scala.collection.mutable.Set[(String, Seq[String])])
      : Seq[String] = {
    val p1 = build(sf0001).queryExecution.optimizedPlan
    val ns1 = wnodes(p1)
    val unpart = p1.collect {
      case w: Window if w.partitionSpec.isEmpty && !boundedGrain(w.child) =>
        s"$name: UNPARTITIONED window over a non-aggregate input — " +
          "whole-corpus single task"
    }
    def unaudited(nd: WNode): Boolean = {
      val audited = auditedExceptions.contains((name, nd.keys))
      if (audited) seenAudited += ((name, nd.keys))
      !audited
    }
    val pending = ns1.zipWithIndex.filter { case (nd, _) => !structurallyOk(nd) && unaudited(nd) }
    // round-12: an Aggregate-based bless is CONFIRMED by measurement —
    // the census output must grow sub-linearly vs its input (a
    // corpus-lattice census like group-by-doc_id tracks its input 1:1
    // and gets no bless). Pre-filtered at sf0.001: a census under 64
    // rows there is offsets/model/roster grain and needs no sf0.1
    // build — this keeps artifact-training queries out of the
    // confirmation path unless they actually carry a big census window.
    val needConfirm = ns1.zipWithIndex.filter { case (nd, _) =>
      !nd.keys.exists(subBucketKeys) && unaudited(nd) &&
        blessAggregate(nd.child).exists(a => measure(a, Nil)._1 >= 64)
    }
    if (pending.isEmpty && needConfirm.isEmpty) { Cleanup.drain(); return unpart }
    val m1 = pending.map { case (nd, _) => measure(nd.child, nd.keyExprs) }
    Cleanup.drain()
    val pL = build(sf01).queryExecution.optimizedPlan
    val nsL = wnodes(pL)
    assert(nsL.length == ns1.length &&
      ns1.map(n => (n.kind, n.keys)) == nsL.map(n => (n.kind, n.keys)),
      s"$name: plan shape differs between sf0.001 and sf0.1 — " +
        s"${ns1.map(_.keys)} vs ${nsL.map(_.keys)}; align the branches or " +
        "audit the SF-dependent form")
    val out = pending.zip(m1).flatMap { case ((nd, idx), (n1, d1)) =>
      val (nL, dL) = measure(nsL(idx).child, nsL(idx).keyExprs)
      if (measuredOk(nd.kind, n1, d1, nL, dL)) None
      else Some(s"$name: ${nd.kind} over (${nd.keys.mkString(", ")}) — input " +
        s"$n1→$nL rows, key $d1→$dL distinct (buffer " +
        f"${n1.toDouble / math.max(d1, 1L)}%.1f→${nL.toDouble / math.max(dL, 1L)}%.1f rows/key): " +
        "config-scale funnel or growing per-key buffer at 100 TB " +
        "(sub-bucket / segment it, or write an audit entry)")
    }
    val confirmOut = needConfirm.flatMap { case (nd, idx) =>
      (blessAggregate(nd.child), blessAggregate(nsL(idx).child)) match {
        case (Some(a1), Some(aL)) if !censusConfirmed(a1, aL) =>
          // a failed confirmation REVOKES the structural bless — it does
          // not flag by itself: the node drops to the ordinary measured
          // rule, where a data-scale window key (user_id over a per-user
          // census) still passes on key growth exactly as it would with
          // a raw-row input
          val (n1, d1) = measure(nd.child, nd.keyExprs)
          val (nL, dL) = measure(nsL(idx).child, nsL(idx).keyExprs)
          if (measuredOk(nd.kind, n1, d1, nL, dL)) None
          else Some(s"$name: ${nd.kind} over (${nd.keys.mkString(", ")}) rests " +
            "on an Aggregate bless whose census output tracks its input " +
            s"across SFs (a corpus-lattice census), and the node itself " +
            s"measures input $n1→$nL rows with key $d1→$dL distinct: " +
            "config-scale funnel at 100 TB (sub-bucket it or write an " +
            "audit entry naming the lattice bound)")
        case _ => None
      }
    }
    Cleanup.drain()
    unpart ++ out ++ confirmOut
  }

  test("every wired window and collect buffer is sub-bucketed, bounded-grain, measured data-scale, or audited") {
    val violations = scala.collection.mutable.ArrayBuffer.empty[String]
    val seenAudited = scala.collection.mutable.Set.empty[(String, Seq[String])]
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1))
      violations ++= classify(name, dir => fn(spark, dir), seenAudited)
    assert(violations.isEmpty,
      s"config-scale windows/collects over corpus rows:\n  ${violations.mkString("\n  ")}")
    // stale-allowlist guard: every audited exception must still exist —
    // an entry that stops matching is either fixed (delete it) or renamed
    // (re-audit it)
    val stale = auditedExceptions.keySet -- seenAudited
    assert(stale.isEmpty, s"audited exceptions no longer present: $stale")
  }

  test("planted config-scale window named 'id' IS flagged; odd-named data-scale key is NOT") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.{Window => W}
    val seen = scala.collection.mutable.Set.empty[(String, Seq[String])]
    // the allowlist's inverse failure: a 5-value key that HAPPENS to be
    // named like a doc id — the round-8 sweep passed this silently
    val planted = classify("planted_config_scale", dir => {
      val d = spark.read.parquet(s"$dir/documents.parquet")
        .select((col("doc_id") % 5).as("id"), col("n_chars"))
      d.withColumn("rk", row_number().over(W.partitionBy(col("id")).orderBy(col("n_chars"))))
    }, seen)
    assert(planted.exists(_.contains("planted_config_scale")),
      s"a config-scale window keyed 'id' must be flagged by measurement, got: $planted")
    // and the mirror: a genuinely data-scale key with a name no allowlist
    // would bless must pass on measurement alone
    val renamed = classify("planted_data_scale", dir => {
      val d = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id").as("zz_opaque_handle"), col("n_chars"))
      d.withColumn("rk", row_number().over(
        W.partitionBy(col("zz_opaque_handle")).orderBy(col("n_chars"))))
    }, seen)
    assert(renamed.isEmpty,
      s"a data-scale key must pass regardless of its name, got: $renamed")
  }

  test("planted growing-buffer collect IS flagged even though its key grows; flat-buffer collect is NOT") {
    import org.apache.spark.sql.functions._
    val seen = scala.collection.mutable.Set.empty[(String, Seq[String])]
    // keys grow ~3× (⌊√docs⌋: 22→70 across the 10× corpus) — the old
    // key-growth rule passes — but rows/key ALSO grows ~3×: the per-task
    // buffer that OOMs at 100 TB however parallel the key is
    val planted = classify("planted_growing_buffer", dir => {
      val d = spark.read.parquet(s"$dir/documents.parquet")
      d.select(floor(sqrt(col("doc_id"))).as("k"), col("n_chars"))
        .groupBy(col("k")).agg(collect_list(col("n_chars")).as("vs"))
    }, seen)
    assert(planted.exists(_.contains("planted_growing_buffer")),
      s"a collect whose per-key buffer grows with the corpus must be flagged: $planted")
    // mirror: per-doc buffers are corpus-invariant (documents don't get
    // longer as the corpus grows) — the buffer clause must pass them
    val flat = classify("planted_flat_buffer", dir => {
      val d = spark.read.parquet(s"$dir/documents.parquet")
      d.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .groupBy(col("doc_id")).agg(collect_list(col("tok")).as("toks"))
    }, seen)
    assert(flat.isEmpty,
      s"a data-scale key with a flat per-key buffer must pass: $flat")
  }

  test("planted corpus-lattice census does NOT bless its window; saturating census DOES") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.{Window => W}
    val seen = scala.collection.mutable.Set.empty[(String, Seq[String])]
    // group-by-doc_id "census": output tracks input 1:1 across SFs — the
    // blanket 'Aggregate ⇒ bounded' bless the round-12 confirmation
    // exists to revoke (a flat-key window over it is a corpus funnel)
    val lattice = classify("planted_corpus_lattice_census", dir => {
      val d = spark.read.parquet(s"$dir/documents.parquet")
        .groupBy(col("doc_id")).agg(sum(col("n_chars")).as("s"))
        .withColumn("k", col("doc_id") % 5)
      d.withColumn("rk", row_number().over(W.partitionBy(col("k")).orderBy(col("s"))))
    }, seen)
    assert(lattice.exists(_.contains("corpus-lattice census")),
      s"a group-by-doc_id census must not bless a flat-key window: $lattice")
    // mirror: a value-domain census saturates (n_chars distinct count
    // grows far slower than the 10× corpus) — the bless must stand
    val saturating = classify("planted_saturating_census", dir => {
      val d = spark.read.parquet(s"$dir/documents.parquet")
        .groupBy(col("n_chars")).agg(count(lit(1)).as("n"))
        .withColumn("k", col("n_chars") % 5)
      d.withColumn("rk", row_number().over(W.partitionBy(col("k")).orderBy(col("n"))))
    }, seen)
    assert(saturating.isEmpty,
      s"a saturating value-domain census must keep its bless: $saturating")
  }

  test("planted unpartitioned window over a corpus-lattice census IS flagged; over a saturating census is NOT") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.{Window => W}
    val seen = scala.collection.mutable.Set.empty[(String, Seq[String])]
    // row_number() OVER (ORDER BY s) over a group-by-doc_id census: one
    // task ranks a row per document — the corpus, not a lattice
    val lattice = classify("planted_unpartitioned_lattice", dir =>
      spark.read.parquet(s"$dir/documents.parquet")
        .groupBy(col("doc_id")).agg(sum(col("n_chars")).as("s"))
        .withColumn("rk", row_number().over(W.orderBy(col("s")))), seen)
    assert(lattice.exists(_.contains("planted_unpartitioned_lattice: unpartitioned window")),
      s"an unpartitioned window over a group-by-doc_id census must be flagged: $lattice")
    // mirror: the same window over a value-domain census ranks a
    // saturating lattice — the bless must stand
    val saturating = classify("planted_unpartitioned_saturating", dir =>
      spark.read.parquet(s"$dir/documents.parquet")
        .groupBy(col("n_chars")).agg(count(lit(1)).as("n"))
        .withColumn("rk", row_number().over(W.orderBy(col("n")))), seen)
    assert(saturating.isEmpty,
      s"an unpartitioned window over a saturating census must keep its bless: $saturating")
  }
}
