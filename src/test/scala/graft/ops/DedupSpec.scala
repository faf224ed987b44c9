package graft.ops
// (duplicateClusters cases appended round 2)

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class DedupSpec extends AnyFunSuite {
  import TestSpark.{spark, sf0001}
  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"$sf0001/documents.parquet")

  test("shingles: 3-grams of a short text, deduped") {
    val df = Seq("a b c d", "a b").toDF("text")
    val got = df.select(Dedup.shingles($"text", 3)).as[Seq[String]].collect()
    assert(got(0) == Seq("a b c", "b c d"))
    assert(got(1) == Seq("a b")) // shorter than n: whole text as one shingle
  }

  test("exactDedup keeps exactly the min id per group") {
    val df = Seq((10L, "x"), (3L, "x"), (7L, "y")).toDF("id", "k")
    val kept = Dedup.exactDedup(df, "k", "id").select("id").as[Long].collect().toSet
    assert(kept == Set(3L, 7L))
  }

  test("minhash LSH near-dups equal brute-force jaccard pairs on real docs") {
    // The scale path (LSH + verify-candidates) must agree with the exact
    // quadratic op at the 0.5 threshold on the planted near-dup corpus.
    val lsh = Dedup.minHashNearDups(docs, "doc_id", "text", 3, 16, 4, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val brute = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(brute.nonEmpty)
    assert(lsh == brute)
  }

  test("crossCorpusNearDups == brute-force cross-half jaccard best-match") {
    val newer = docs.filter($"doc_id" % 2 === 1)
    val ref = docs.filter($"doc_id" % 2 === 0)
    val got = Dedup.crossCorpusNearDups(newer, ref, "doc_id", "text",
        3, 16, 4, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    // brute-force spec: all cross-parity pairs from the exact self-sweep
    // at threshold 0, re-thresholded, best ref per odd doc by
    // (jaccard desc, ref id asc)
    val allPairs = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .as[(Long, Long, Double)].collect()
    val crossPairs = allPairs.flatMap { case (a, b, j) =>
      if (a % 2 != b % 2) {
        val (n, r) = if (a % 2 == 1) (a, b) else (b, a)
        Some((n, r, j))
      } else None
    }
    val expect = crossPairs.groupBy(_._1).map { case (n, ms) =>
      val best = ms.minBy(m => (-m._3, m._2))
      (n, best._2, best._3)
    }.toSet
    assert(got == expect, "asymmetric LSH path diverges from brute force")
    assert(got.nonEmpty, "planted dups must cross the parity split")
  }

  test("cross-corpus artifact path == raw path; wired cap has wide headroom") {
    val newer = docs.filter($"doc_id" % 2 === 1)
    val ref = docs.filter($"doc_id" % 2 === 0)
    val raw = Dedup.crossCorpusNearDups(newer, ref, "doc_id", "text",
        3, 16, 4, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    // build once, query twice (build-once/query-many): both batches must
    // see exactly the raw-path semantics, with and without the wired cap
    val idx = Dedup.crossCorpusBuild(ref, "doc_id", "text", 3, 16, 4).persist()
    try {
      val viaIdx = Dedup.crossCorpusNearDupsWith(newer, idx, "doc_id", "text", 0.5)
        .as[(Long, Long, Double)].collect().toSet
      assert(viaIdx == raw, "prebuilt-artifact path diverges from the raw path")
      val viaIdxCapped = Dedup.crossCorpusNearDupsWith(newer, idx, "doc_id", "text",
          0.5, maxBucketSize = 1000)
        .as[(Long, Long, Double)].collect().toSet
      assert(viaIdxCapped == raw, "the wired cap (1000) changed test-scale output")
      // headroom measurement backing the wired maxBucketSize = 1000: the
      // largest COMBINED (band, bucket) membership must sit far below it
      val maxBucket = Dedup.lshBuckets(newer, "doc_id", "text", 3, 16, 4)
        .select($"band", $"bucket")
        .unionByName(idx.refBuckets.select($"band", $"bucket"))
        .groupBy($"band", $"bucket").agg(count(lit(1)).as("n"))
        .agg(max($"n")).as[Long].collect()(0)
      assert(maxBucket < 100,
        s"wired cap assumes ≥10× headroom over the largest test bucket, got $maxBucket")
    } finally idx.unpersist()
  }

  test("maxBucketSize drops a planted hot bucket; clean buckets unaffected") {
    // 60 byte-identical boilerplate docs split across the halves: their
    // bucket hits the cap in EVERY band (identical signature), so capping
    // removes exactly those flags and nothing else — the documented trade
    // (mass-duplicated boilerplate belongs to exact dedup upstream)
    val boiler = spark.range(60).select(($"id" + 100000L).as("doc_id"),
      lit("identical boilerplate navigation header and footer page block").as("text"))
    val withB = docs.select($"doc_id", $"text").unionByName(boiler)
    val newer = withB.filter($"doc_id" % 2 === 1)
    val ref = withB.filter($"doc_id" % 2 === 0)
    val capped = Dedup.crossCorpusNearDups(newer, ref, "doc_id", "text",
        3, 16, 4, 0.5, maxBucketSize = 20)
      .as[(Long, Long, Double)].collect().toSet
    val clean = Dedup.crossCorpusNearDups(
        docs.filter($"doc_id" % 2 === 1), docs.filter($"doc_id" % 2 === 0),
        "doc_id", "text", 3, 16, 4, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(capped == clean,
      "cap must drop exactly the hot-bucket flags and keep every clean flag")
    // sanity: uncapped, the boilerplate twins DO flag (the bucket is real)
    val uncapped = Dedup.crossCorpusNearDups(newer, ref, "doc_id", "text",
        3, 16, 4, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(uncapped.exists(_._1 >= 100000L), "planted hot bucket never collided")
  }

  test("duplicatedSpans hashed-gram keying == string keying; exchanges carry longs") {
    val str = Dedup.duplicatedSpans(docs, "doc_id", "text", 3)
      .collect().map(_.toString).toSet
    val hashed = Dedup.duplicatedSpans(docs, "doc_id", "text", 3, hashGrams = true)
      .collect().map(_.toString).toSet
    assert(hashed == str, "8-byte gram keying changed the span profile")
    // the production plan must not exchange gram STRINGS: the df aggregate
    // and semi join key on the xxhash64 long
    val p = Dedup.duplicatedSpans(docs, "doc_id", "text", 3, hashGrams = true)
      .queryExecution.executedPlan.toString
    assert(p.contains("xxhash64"), s"gram hashing missing from the plan:\n$p")
    assert("hashpartitioning\\(gram#\\d+L".r.findFirstIn(p).isDefined,
      s"exchange not keyed on the 8-byte gram hash:\n$p")
  }

  test("clusterBuild artifact + clusterSizeHistogram match the inline pipeline") {
    val assign = Dedup.clusterBuild(docs, "doc_id", "text")
    val viaArtifact = Dedup.clusterSizeHistogram(assign)
      .as[(Long, Long)].collect().toSet
    val inline = Dedup.duplicateClusters(
        Dedup.minHashNearDups(docs, "doc_id", "text", 3, 16, 4, 0.5),
        docs, "doc_id")
      .groupBy($"rep").agg(count(lit(1)).as("cluster_size"))
      .groupBy($"cluster_size").agg(count(lit(1)).as("n_clusters"))
      .as[(Long, Long)].collect().toSet
    assert(viaArtifact == inline && viaArtifact.nonEmpty,
      "consumer over the build artifact diverges from the inline pipeline")
  }

  test("simhash pigeonhole banding finds ALL pairs within maxHamming") {
    val viaBanding = Dedup.simHashNearDups(docs, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // brute force: all-pairs hamming over the raw simhash values
    val sims = docs.select($"doc_id", Dedup.simHash($"text").as("s"))
    val brute = sims.as("a").join(sims.as("b"), $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id", $"b.doc_id",
        bit_count($"a.s".bitwiseXOR($"b.s")).as("h"))
      .filter($"h" <= 3)
      .select($"a.doc_id", $"b.doc_id").as[(Long, Long)].collect().toSet
    assert(viaBanding == brute)
    assert(viaBanding.nonEmpty)
  }

  test("bucket-size cap bounds degenerate corpora; off by default") {
    import org.apache.spark.sql.functions.{concat, lit, col => c}
    // 200 identical docs: every band-bucket holds all 200 → uncapped
    // candidates are the full 200*199/2 pair set
    val degenerate = spark.range(200)
      .select(c("id").as("doc_id"), lit("same words every time here").as("text"))
    val uncapped = Dedup.minHashCandidates(degenerate, "doc_id", "text").count()
    assert(uncapped == 200L * 199 / 2)
    val capped = Dedup.minHashCandidates(degenerate, "doc_id", "text",
      maxBucketSize = 50).count()
    assert(capped == 0, "cap must drop the degenerate buckets entirely")
    // cap high enough to keep normal buckets: real corpus results unchanged
    val normal = Dedup.minHashCandidates(docs, "doc_id", "text").count()
    val normalCapped = Dedup.minHashCandidates(docs, "doc_id", "text",
      maxBucketSize = 100).count()
    assert(normal == normalCapped)
  }

  test("minhash signature is deterministic and k-wide") {
    val sig = docs.limit(5)
      .select(Dedup.minHashSignature(Dedup.shingles($"text", 3), 64).as("s"))
      .as[Seq[Long]].collect()
    assert(sig.forall(_.size == 64))
    val sig2 = docs.limit(5)
      .select(Dedup.minHashSignature(Dedup.shingles($"text", 3), 64).as("s"))
      .as[Seq[Long]].collect()
    assert(sig.toSeq == sig2.toSeq)
  }

  test("minhash Jaccard estimate tracks the exact Jaccard on candidate pairs") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val est = Dedup.minHashEstimatedPairs(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(est.nonEmpty)
    // exact Jaccard (no threshold) restricted to the same candidate pairs
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.0)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val errs = est.map { case (pair, e) => math.abs(e - exact.getOrElse(pair, 0.0)) }
    // k=64 lanes: stderr ≈ sqrt(J(1-J)/64) ≤ 0.0625; mean |err| well under
    // one stderr, max within ~3
    assert(errs.sum / errs.size < 0.05, s"mean |err| too high: ${errs.sum / errs.size}")
    assert(errs.max < 0.2, s"max |err| too high: ${errs.max}")
    // an exact duplicate pair estimates exactly 1.0 (identical signatures)
    val dup = Seq((1L, "a b c d e f g"), (2L, "a b c d e f g")).toDF("doc_id", "text")
    val one = Dedup.minHashEstimatedPairs(dup, "doc_id", "text")
      .as[(Long, Long, Double)].collect()
    assert(one.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("MinHashAgg (UDAF over exploded rows) equals the MinHashSig kernel exactly") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val k = 64
    // kernel path: one pass over each doc's shingle array
    val viaKernel = docs.select($"doc_id",
        Dedup.minHashSignature(Dedup.shingles($"text", 3), k).as("sig"))
      .as[(Long, Seq[Long])].collect().map(r => r._1 -> r._2).toMap
    // aggregator path: exploded (doc, shingle) rows, xxhash64 (seed 42 =
    // SQL default, same as the kernel's internal hash), mergeable UDAF
    val viaAgg = docs
      .select($"doc_id", explode(Dedup.shingles($"text", 3)).as("g"))
      .select($"doc_id", xxhash64($"g").as("h"))
      .repartition(7) // force partial/merge across partitions
      .groupBy($"doc_id")
      .agg(graft.functions.MinHashAgg.udaf(k)($"h").as("sig"))
      .as[(Long, Seq[Long])].collect().map(r => r._1 -> r._2).toMap
    assert(viaAgg.keySet == viaKernel.keySet)
    viaKernel.foreach { case (id, sig) =>
      assert(viaAgg(id) == sig, s"doc $id signatures differ")
    }
  }

  test("duplicateClusters: chains merge transitively, singletons label themselves") {
    // components: {1,2,3,4} via chain edges (A~B, B~C, C~D — A~D never
    // emitted), {10,11}, and singleton 20
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val ids = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("doc_id")
    val got = Dedup.duplicateClusters(pairs, ids, "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("duplicateClusters converges on a long path (diameter-bound rounds)") {
    // a path of 9 nodes: min label must walk the full diameter
    val pairs = (1L until 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val ids = (1L to 9L).toDF("doc_id")
    val got = Dedup.duplicateClusters(pairs, ids, "doc_id")
      .as[(Long, Long)].collect()
    assert(got.forall(_._2 == 1L), s"path did not collapse to one cluster: ${got.toSeq}")
  }

  test("large-star/small-star collapses a 10k-node path in O(log n) rounds") {
    // the adversarial giant-component case: a single path of diameter
    // 9999. Plain min-label propagation advances the min ONE hop per
    // round (~10k shuffle rounds); the star rounds halve the diameter
    // each pass, so convergence must stay logarithmic.
    val n = 10000L
    val pairs = spark.range(1, n)
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val ids = spark.range(1, n + 1).select(col("id").as("doc_id"))
    val (labels, rounds) = Dedup.duplicateClustersWithRounds(pairs, ids, "doc_id")
    assert(rounds <= 30, s"expected O(log n) star rounds on a 10k path, took $rounds")
    val wrong = labels.filter(col("rep") =!= 1L).count()
    assert(wrong == 0, s"$wrong nodes not labeled with the component min")
  }

  test("star rounds preserve exact cluster labels on branchy multi-component graphs") {
    // components with branching + a cycle + isolated pairs — shapes where
    // a buggy star rewrite could split or cross-link components:
    //   {1..7} (star at 1 + chain 5-6-7 + cycle edge 7-1), {50,51,52}
    //   (triangle), {80,81}, singletons 90, 91
    val pairs = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (4L, 5L), (5L, 6L), (6L, 7L), (7L, 1L),
      (50L, 51L), (51L, 52L), (50L, 52L),
      (80L, 81L)).toDF("id_a", "id_b")
    val ids = (Seq(90L, 91L) ++ (1L to 7L) ++ Seq(50L, 51L, 52L, 80L, 81L)).toDF("doc_id")
    val got = Dedup.duplicateClusters(pairs, ids, "doc_id")
      .as[(Long, Long)].collect().toMap
    val expect = (1L to 7L).map(_ -> 1L).toMap ++
      Map(50L -> 50L, 51L -> 50L, 52L -> 50L, 80L -> 80L, 81L -> 80L,
        90L -> 90L, 91L -> 91L)
    assert(got == expect)
  }

  test("keepBest: highest score wins, ties break to the smallest id") {
    // cluster 1 = {1,2,3}: 3 has the top score → keeper despite max id;
    // cluster 10 = {10,11}: tied scores → keeper is min id 10;
    // cluster 20 = {20}: singleton keeps itself
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L),
      (20L, 20L)).toDF("id", "rep")
    val scored = Seq((1L, 0.5), (2L, 0.7), (3L, 0.9), (10L, 0.4), (11L, 0.4),
      (20L, 0.1)).toDF("doc_id", "quality_score")
    val got = Dedup.keepBest(clusters, scored, "doc_id", "quality_score")
      .as[(Long, Long, Double, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 3L, 0.9, 3L)))
    assert(got(10L) == ((10L, 10L, 0.4, 2L)))
    assert(got(20L) == ((20L, 20L, 0.1, 1L)))
  }

  test("duplicatedSpans: cross-doc positions flagged, within-doc-only repeats are not") {
    val df = Seq(
      (1L, "a b c d e f g"),     // shares gram "c d e" with doc 2 at pos 2
      (2L, "x y c d e z w"),     // ... at pos 2 as well
      (3L, "p q r p q r p q"),   // repeats ITSELF only — not cross-doc
      (4L, "s t")).toDF("doc_id", "text") // shorter than n: zero grams
    val got = Dedup.duplicatedSpans(df, "doc_id", "text", 3)
      .orderBy($"doc_id")
      .as[(Long, Int, Long, Double, Int)].collect()
    assert(got(0) == ((1L, 5, 1L, 0.2, 2)))
    assert(got(1) == ((2L, 5, 1L, 0.2, 2)))
    // doc 3: 6 grams, "p q r" twice within one doc -> df(distinct docs)=1,
    // so nothing is duplicated text
    assert(got(2) == ((3L, 6, 0L, 0.0, -1)))
    assert(got(3) == ((4L, 0, 0L, 0.0, -1)))
  }

  test("duplicatedSpans counts every position of a shared gram, including repeats") {
    val df = Seq(
      (1L, "c d e q c d e"),     // "c d e" at pos 0 AND pos 4 + bridging grams
      (2L, "c d e")).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(df, "doc_id", "text", 3)
      .orderBy($"doc_id")
      .as[(Long, Int, Long, Double, Int)].collect()
    // doc1 grams: [c d e, d e q, e q c, q c d, c d e] -> positions 0 and 4
    assert(got(0)._3 == 2L && got(0)._5 == 0)
    assert(got(1) == ((2L, 1, 1L, 1.0, 0)))
  }

  test("removeDupSpans cuts exactly the covered spans and reassembles in order") {
    val df = Seq(
      (1L, "a b c d e f g"),     // "c d e" shared with doc 2 → cut pos 2..4
      (2L, "x y c d e z w"),     // same span position
      (3L, "p q r p q r p q"),   // self-repeat only: untouched (ws-normalized)
      (4L, "s t")).toDF("doc_id", "text") // shorter than n: untouched
    val got = Dedup.removeDupSpans(df, "doc_id", "text", 3)
      .orderBy($"doc_id")
      .as[(Long, Int, Long, String)].collect()
    assert(got(0) == ((1L, 7, 3L, "a b f g")))
    assert(got(1) == ((2L, 7, 3L, "x y z w")))
    assert(got(2) == ((3L, 8, 0L, "p q r p q r p q")))
    assert(got(3) == ((4L, 2, 0L, "s t")))
    // overlapping flagged grams cover the union of their spans, and a doc
    // that is ALL duplicated text empties (kept row absent → coalesce)
    val df2 = Seq(
      (1L, "c d e q c d e"),     // "c d e" at 0 and 4 → covers 0-2 and 4-6
      (2L, "c d e")).toDF("doc_id", "text")
    val got2 = Dedup.removeDupSpans(df2, "doc_id", "text", 3)
      .orderBy($"doc_id")
      .as[(Long, Int, Long, String)].collect()
    assert(got2(0) == ((1L, 7, 6L, "q")))
    assert(got2(1) == ((2L, 3, 3L, "")))
    // rewrite is consistent with the measure: a doc with zero flagged
    // grams in duplicatedSpans loses zero tokens here (whole sf corpus)
    val measure = Dedup.duplicatedSpans(docs, "doc_id", "text", 5)
      .select($"doc_id", $"n_dup").as[(Long, Long)].collect().toMap
    val rewrite = Dedup.removeDupSpans(docs, "doc_id", "text", 5)
      .select($"doc_id", $"n_removed").as[(Long, Long)].collect().toMap
    assert(measure.keySet == rewrite.keySet)
    measure.foreach { case (id, nDup) =>
      assert((nDup == 0L) == (rewrite(id) == 0L),
        s"doc $id: measure flags $nDup grams but rewrite cut ${rewrite(id)} tokens")
    }
    assert(rewrite.values.exists(_ > 0L), "corpus must contain cut spans")
  }

  test("removeDupSpans hashed-gram keying is output-identical to string keying") {
    val str = Dedup.removeDupSpans(docs, "doc_id", "text", 3)
      .as[(Long, Int, Long, String)].collect().toSet
    val hashed = Dedup.removeDupSpans(docs, "doc_id", "text", 3, hashGrams = true)
      .as[(Long, Int, Long, String)].collect().toSet
    assert(str == hashed, "xxhash64 gram keying changed the rewrite output")
  }

  test("dupGram artifact: two batches against one index == one-shot; reference-only flags") {
    // the rewrite's flags depend only on the INDEX, so disjoint batches
    // against one artifact must union to the whole-corpus rewrite
    val idx = Dedup.dupGramBuild(docs, "doc_id", "text", 5).persist()
    try {
      val whole = Dedup.removeDupSpansWith(docs, idx, "doc_id", "text")
        .as[(Long, Int, Long, String)].collect().toSet
      val b1 = Dedup.removeDupSpansWith(docs.filter($"doc_id" % 2 === 0), idx,
        "doc_id", "text").as[(Long, Int, Long, String)].collect().toSet
      val b2 = Dedup.removeDupSpansWith(docs.filter($"doc_id" % 2 === 1), idx,
        "doc_id", "text").as[(Long, Int, Long, String)].collect().toSet
      assert((b1 ++ b2) == whole, "batched artifact rewrites diverge from one-shot")
    } finally idx.unpersist()
    // a reference-built index flags the REFERENCE's duplicated grams, not
    // the batch's: docs 1+2 share "c d e" but only the reference pair 3+4
    // defines the index, so the batch keeps its own duplicate and loses
    // the reference-taught one ("u v w")
    val ref = Seq((3L, "u v w x"), (4L, "y u v w")).toDF("doc_id", "text")
    val batch = Seq((1L, "a c d e u v w b"), (2L, "c d e z")).toDF("doc_id", "text")
    val got = Dedup.removeDupSpansWith(batch,
        Dedup.dupGramBuild(ref, "doc_id", "text", 3), "doc_id", "text")
      .orderBy($"doc_id").as[(Long, Int, Long, String)].collect()
    assert(got(0) == ((1L, 8, 3L, "a c d e b")))
    assert(got(1) == ((2L, 4, 0L, "c d e z")))
  }

  test("removeDupSpansBloom == exact rewrite; sketch probe is a pure projection") {
    val idx = Dedup.dupGramBuild(docs, "doc_id", "text", 5)
    // fpp 1e-12 for the exact-equality pin (~5e-8 corpus-wide FP odds —
    // the default 1e-8 measurably produced ONE deterministic false
    // positive over this corpus's ~45k distinct grams, doc 259, cutting
    // one extra span: exactly the documented conservative failure mode)
    val bloom = Dedup.dupGramBloom(idx, fpp = 1e-12)
    val viaBloom = Dedup.removeDupSpansBloom(docs, bloom, "doc_id", "text", 5)
      .as[(Long, Int, Long, String)].collect().toSet
    val exact = Dedup.removeDupSpans(docs, "doc_id", "text", 5)
      .as[(Long, Int, Long, String)].collect().toSet
    assert(viaBloom == exact,
      "Bloom scrub diverges from the exact rewrite (false positive?)")
    // stateless claim: the plan has no join, aggregate, or generator —
    // what makes the same call legal on a stream
    val plan = Dedup.removeDupSpansBloom(docs, bloom, "doc_id", "text", 5)
      .queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate, Join}
    assert(plan.collect { case j: Join => j; case a: Aggregate => a;
      case g: Generate => g }.isEmpty,
      "the Bloom scrub must stay a pure projection")
  }

  test("containmentPairs: catches short-in-long inclusion Jaccard misses; asymmetric; cap only lowers") {
    // planted inclusion: doc 1 is fully quoted inside doc 2 (plus a long
    // unrelated tail), doc 3 unrelated — J(1,2) is low, C(1→2) = 1
    val planted = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta " +
        (1 to 40).map(i => s"tail$i").mkString(" ")),
      (3L, "unrelated words only here nothing shared"),
    ).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(planted, "doc_id", "text", 3, 0.9, maxDf = 10)
      .as[(Long, Long, Double)].collect().toSet
    assert(cont.contains((1L, 2L, 1.0)), s"inclusion not detected: $cont")
    // asymmetry: the containing direction scores |S1|/|S2| ≈ 0.1, far
    // below threshold — only the contained direction fires
    assert(!cont.exists { case (a, b, _) => a == 2L && b == 1L }, s"got $cont")
    // and Jaccard at the same threshold sees nothing
    val jac = Dedup.jaccardPairs(planted, "doc_id", "text", 3, 0.9).count()
    assert(jac == 0, "Jaccard should miss the inclusion pair")

    // on the real corpus: every capped-run score is <= its uncapped twin
    // (the documented miss direction — a dropped gram can only LOWER a
    // containment, never raise it), and pairs at cap=corpus-size match
    // the cap-free computation exactly
    val n = docs.count().toInt
    val uncapped = Dedup.containmentPairs(docs, "doc_id", "text", 3, 0.0, maxDf = n + 1)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val capped = Dedup.containmentPairs(docs, "doc_id", "text", 3, 0.0, maxDf = 50)
      .as[(Long, Long, Double)].collect()
    assert(capped.nonEmpty)
    capped.foreach { case (a, b, c) =>
      val u = uncapped.getOrElse((a, b), 0.0)
      assert(c <= u + 1e-9, s"cap RAISED containment for ($a,$b): $c > $u")
    }

    // plan pin (round 11): the candidate self-join must key on LONGs —
    // the hashGrams rule applied to the one corpus-scale exchange this
    // family still carried on raw gram strings; a string key here is a
    // ~5× shuffle-payload regression at scale
    val joins = Dedup.containmentPairs(docs, "doc_id", "text", 3, 0.6, maxDf = 100)
      .queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.condition.isDefined => j }
    val keyTypes = joins.flatMap(_.condition.get.collect {
      case eq: org.apache.spark.sql.catalyst.expressions.EqualTo => eq.left.dataType })
    assert(keyTypes.contains(org.apache.spark.sql.types.LongType),
      s"no long-keyed join found in containmentPairs plan: $keyTypes")
    assert(!keyTypes.contains(org.apache.spark.sql.types.StringType),
      s"containmentPairs still carries a string-keyed join: $keyTypes")
  }

  test("winnowing: matches the reference selection exactly; offset-invariant shared-passage guarantee; cap only narrows") {
    val n = 3; val w = 4
    // reference implementation straight from the paper: hash every
    // n-gram, keep each w-window's min, distinct
    def reference(text: String): Set[Long] = {
      val ts = text.trim.split("\\s+").toSeq
      if (ts.length < n) Set.empty
      else {
        val gh = (0 to ts.length - n).map { i =>
          val g = ts.slice(i, i + n).mkString(" ")
          // replay Spark xxhash64 through the engine itself (1-row eval)
          spark.sql(s"SELECT xxhash64('${g}')").head().getLong(0)
        }
        if (gh.length <= w) Set(gh.min)
        else (0 to gh.length - w).map(i => gh.slice(i, i + w).min).toSet
      }
    }
    val passage = "quick brown fox jumps over the lazy sleeping dog tonight again"
    val a = passage
    val b = s"alpha beta gamma delta $passage omega psi"
    val fix = Seq((1L, a), (2L, b), (3L, "unrelated words only here nothing shared zz yy xx")).toDF("doc_id", "text")
    val got = Dedup.winnowFingerprints(fix, "doc_id", "text", n, w)
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(got(1L) == reference(a), "doc 1 selection diverges from the paper's algorithm")
    assert(got(2L) == reference(b), "doc 2 selection diverges from the paper's algorithm")
    // the winnowing guarantee: a shared passage of >= window+n-1 words
    // shares >= 1 fingerprint REGARDLESS of its offset in each document
    // (the min rule is position-free — a fixed-stride subsample has no
    // such property)
    assert((got(1L) & got(2L)).nonEmpty, "offset copy must share a fingerprint")
    assert((got(1L) & got(3L)).isEmpty && (got(2L) & got(3L)).isEmpty)
    // the detector surfaces the pair
    val pairs = Dedup.winnowMatches(fix, "doc_id", "text", n, w,
        minShared = 1, maxDf = 10)
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)), s"got $pairs")
    // density sanity on the corpus: expected ~2/(w+1) of positions; pin a
    // generous envelope so a selection bug (keep-everything or
    // keep-one-per-doc) fails loudly
    val fps = Dedup.winnowFingerprints(docs, "doc_id", "text", n, w)
    val perDoc = fps.groupBy(col("doc_id")).agg(count(lit(1)).as("nfp"))
      .join(docs.select(col("doc_id"),
        (size(Dedup.tokens(col("text"))) - (n - 1)).as("ng")), "doc_id")
      .select((col("nfp").cast("double") / col("ng")).as[Double]).collect()
    val meanDensity = perDoc.sum / perDoc.length
    assert(meanDensity > 0.15 && meanDensity < 0.75,
      s"winnowing density out of envelope: $meanDensity (expected ~${2.0 / (w + 1)})")
    // df-cap monotonicity: capped pairs are a subset of uncapped pairs
    val unc = Dedup.winnowMatches(docs, "doc_id", "text", n, w, 2, 1000000)
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
    val cap = Dedup.winnowMatches(docs, "doc_id", "text", n, w, 2, 20)
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
    assert(cap.nonEmpty && (cap -- unc).isEmpty,
      "the df cap may only DROP candidate pairs, never add")
    graft.Cleanup.drain()
  }

  test("cross-corpus containment: artifact == one-shot; batch folding invariant; matches directed brute force") {
    val n = docs.count().toInt
    val ref = docs.filter($"doc_id" % 2 === 0)
    val fresh = docs.filter($"doc_id" % 2 === 1)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double)].collect().toSet

    // cap high enough to be a no-op: best-match flags must equal the
    // directed brute-force containment (union corpus, direction odd→even)
    val idxFull = Dedup.containmentBuild(ref, "doc_id", "text", 3, n + 1)
    val gotFull = rows(Dedup.containmentFlagsWith(fresh, idxFull, "doc_id", "text", 0.6))
    val brute = Dedup.containmentPairs(docs, "doc_id", "text", 3, 0.6, maxDf = n + 1)
      .as[(Long, Long, Double)].collect()
      .filter { case (a, b, _) => a % 2 == 1 && b % 2 == 0 }
    val expect = brute.groupBy(_._1).map { case (a, hits) =>
      val best = hits.maxBy(h => (h._3, -h._2))
      (a, best._2, best._3)
    }.toSet
    assert(gotFull == expect, "flags diverge from directed brute force")
    assert(gotFull.nonEmpty)

    // production cap: artifact path == one-shot, and splitting the crawl
    // into batches changes nothing (reference-side-only capping)
    val idx = Dedup.containmentBuild(ref, "doc_id", "text", 3, 100).persist()
    val oneShot = rows(Dedup.crossCorpusContainment(fresh, ref, "doc_id", "text", 3, 0.6, 100))
    assert(rows(Dedup.containmentFlagsWith(fresh, idx, "doc_id", "text", 0.6)) == oneShot)
    val b1 = rows(Dedup.containmentFlagsWith(
      fresh.filter($"doc_id" % 4 === 1), idx, "doc_id", "text", 0.6))
    val b2 = rows(Dedup.containmentFlagsWith(
      fresh.filter($"doc_id" % 4 === 3), idx, "doc_id", "text", 0.6))
    assert((b1 ++ b2) == oneShot, "micro-batching changed the flag set")
    idx.unpersist()
  }

  test("crossCorpusContainment: maxDf drops a planted hot gram; clean flags unaffected") {
    // 60 byte-identical boilerplate docs split across the halves: each of
    // their grams has reference df 30, over the cap of 20, so capping
    // removes exactly the boilerplate flags and nothing else
    val boiler = spark.range(60).select(($"id" + 100000L).as("doc_id"),
      lit("identical boilerplate navigation header and footer page block").as("text"))
    val clean = docs.select($"doc_id", $"text")
    val withB = clean.unionByName(boiler)
    def flags(c: org.apache.spark.sql.DataFrame, maxDf: Int) =
      Dedup.crossCorpusContainment(c.filter($"doc_id" % 2 === 1),
          c.filter($"doc_id" % 2 === 0), "doc_id", "text", 3, 0.6, maxDf)
        .as[(Long, Long, Double)].collect().toSet
    val capped = flags(withB, 20)
    assert(capped.nonEmpty && capped == flags(clean, 20),
      "cap must drop exactly the hot-gram flags and keep every clean flag")
    // sanity: under a cap above the planted df the boilerplate DOES flag
    assert(flags(withB, 100).exists(_._1 >= 100000L), "planted hot gram never matched")
  }

  test("exact cross seam: keep/flag partition the batch; flags match string ground truth; batch folding") {
    val d = docs.withColumn("prefix80", substring($"text", 1, 80))
    val ref = d.filter($"doc_id" % 2 === 0)
    val fresh = d.filter($"doc_id" % 2 === 1)
    val idx = Dedup.exactBuild(ref, "prefix80").persist()
    val kept = Dedup.exactDedupWith(fresh, idx, "prefix80")
      .select("doc_id").as[Long].collect().toSet
    val flagged = Dedup.exactFlagsWith(fresh, idx, "prefix80", "doc_id")
      .as[Long].collect().toSet
    val all = fresh.select("doc_id").as[Long].collect().toSet
    assert((kept intersect flagged).isEmpty && (kept ++ flagged) == all,
      "keep and flag must partition the batch")
    // ground truth by raw string comparison — a fingerprint collision
    // would show here
    val refPrefixes = ref.select("prefix80").as[String].collect().toSet
    val expect = fresh.select($"doc_id", $"prefix80").as[(Long, String)]
      .collect().filter(r => refPrefixes(r._2)).map(_._1).toSet
    assert(flagged == expect)
    assert(flagged.nonEmpty, "fixture must contain cross-half exact prefixes")
    // per-row verdicts: micro-batching cannot change the flag set
    val b1 = Dedup.exactFlagsWith(fresh.filter($"doc_id" % 4 === 1), idx,
      "prefix80", "doc_id").as[Long].collect().toSet
    val b2 = Dedup.exactFlagsWith(fresh.filter($"doc_id" % 4 === 3), idx,
      "prefix80", "doc_id").as[Long].collect().toSet
    assert((b1 ++ b2) == flagged)
    idx.unpersist()
  }

  test("lshQualityCensus: integer decile bands, identical docs in band 10, detection consistent") {
    // hand-checkable fixture: (1,2) identical → J = 1 → band 10, and
    // identical signatures collide in EVERY band so detection is certain;
    // (1,3) and (2,3) share 6 of 14 union shingles → (6·10) div 14 = band 4;
    // doc 4 is disjoint from all (no shared gram → absent unless a lane
    // collision detects it, impossible here to assert absent-or-band-0)
    val fix = Seq(
      (1L, "a b c d e f g h i j k l"),
      (2L, "a b c d e f g h i j k l"),
      (3L, "a b c d e f g h x y z w"),
      (4L, "p q r s t u v aa bb cc")
    ).toDF("doc_id", "text")
    val got = Dedup.lshQualityCensus(fix, "doc_id", "text")
      .as[(Int, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(10) == ((1L, 1L)), "the identical pair must land in band 10, detected")
    assert(got(4)._1 == 2L, "both 6/14-overlap pairs must land in band 4")
    assert(got.keySet.subsetOf(Set(0, 4, 10)))
    // every band's detections are bounded by its pairs
    got.values.foreach { case (n, d) => assert(d <= n) }
    // real-corpus consistency: total detected mass == the production
    // banding's candidate-pair count; every truth pair is censused
    val census = Dedup.lshQualityCensus(docs, "doc_id", "text")
      .as[(Int, Long, Long)].collect()
    val nDet = census.map(_._3).sum
    val nCand = Dedup.minHashCandidates(docs, "doc_id", "text").count()
    assert(nDet == nCand, s"census detected $nDet != candidate pairs $nCand")
    val truthPairs = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.0).count()
    assert(census.map(_._2).sum >= truthPairs,
      "census universe must cover the whole shared-gram pair set")
    // the ≥0.5 mass agrees with the verified near-dup op at its threshold
    val hi = census.filter(_._1 >= 5).map(_._2).sum
    val nd = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5).count()
    assert(hi == nd, s"bands ≥5 hold $hi pairs but J≥0.5 brute force finds $nd")
  }

  test("dedupSurvivorship: per-quality-bucket kept/dropped counts on a planted mix") {
    import spark.implicits._
    // 11 tokens, sane lengths, stopwords present -> score 1.0 -> bucket 10;
    // the three copies collapse to one keeper. Two distinct one-token docs
    // score 0.0 -> bucket 0, both self-keepers.
    val hq = "the quick brown fox jumps over and beyond a lazy dog"
    val df = Seq(
      (1L, hq), (2L, hq), (3L, hq),
      (4L, "x"), (5L, "y"),
    ).toDF("doc_id", "text")
    val got = Dedup.dedupSurvivorship(df)
      .select("bucket", "n_total", "n_kept", "n_dropped", "kept_share_r")
      .as[(Int, Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (0, 2L, 2L, 0L, 1.0),
      (10, 3L, 1L, 2L, 0.3333),
    ))
  }
}
