package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dedup partition: MinHash signatures, LSH banding, candidate and verified near-dup pairs, the cross-corpus flag family with its build-once reference artifact and streaming twins, and the signature-estimate form.
  * See [[Dedup]].
  */
trait DedupMinHash { self: Dedup.type =>

  /** MinHash signature as an array<long> column: for shingle set S,
    * sig[j] = min over s∈S of ((a_j * xxhash64(s) + b_j) mod p).
    * Pure higher-order functions — the per-row cost is k×|S| multiplies,
    * no UDF, no shuffle.
    */
  def minHashSignature(shingleCol: Column, k: Int, p: Long = 2147483647L): Column =
    graft.functions.VectorFunctions.minHashSig(shingleCol, k, p)

  /** MinHash + LSH banding: emits (band, bucket, id) rows; ids sharing a
    * (band, bucket) are near-dup candidates. bands × rowsPerBand = k.
    */
  def lshBuckets(df: DataFrame, idCol: String, textCol: String,
                 shingleN: Int, bands: Int, rowsPerBand: Int): DataFrame = {
    val k = bands * rowsPerBand
    val sigs = df.select(col(idCol).as("id"),
      minHashSignature(shingles(col(textCol), shingleN), k).as("sig"))
    sigBandBuckets(sigs, bands, rowsPerBand).withColumnRenamed("id", idCol)
  }

  /** Banding over an existing (id, sig) relation: one (band, bucket, id)
    * row per band, bucket = hash of that band's signature slice. Shared by
    * `lshBuckets` (signature inline) and `minHashEstimatedPairs`
    * (signature materialized once, reused for the estimate).
    */
  private[ops] def sigBandBuckets(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sigs
      .select(
        col("id"),
        explode(
          transform(
            sequence(lit(0), lit(bands - 1)),
            b => struct(b.as("band"), xxhash64(array_join(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)), ",")).as("bucket")),
          )
        ).as("bb"),
      )
      .select(col("id"), col("bb.band"), col("bb.bucket"))

  /** Candidate near-dup pairs from MinHash LSH (distinct id pairs, a<b) —
    * banding via `lshBuckets`, pair generation via the shared
    * `bucketCandidatePairs` core below.
    */
  def minHashCandidates(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
                        maxBucketSize: Int = 0): DataFrame =
    bucketCandidatePairs(
      lshBuckets(df, idCol, textCol, shingleN, bands, rowsPerBand)
        .withColumnRenamed(idCol, "id"),
      maxBucketSize)

  /** Distinct candidate id pairs (id_a < id_b) from (band, bucket, id)
    * rows — the banding-join core shared by MinHash LSH and sign-bit
    * embedding LSH (Similarity.cosineNearDupLsh). The join is
    * band-bucket-local: shuffle key (band, bucket) keeps it linear in
    * bucket volume; `maxBucketSize` (0 = off) drops buckets larger than
    * the cap before pair generation — the guard against pathologically
    * self-similar corpora where one bucket would otherwise go quadratic
    * (members of a dropped bucket still meet through their other bands
    * unless they collide everywhere).
    */
  private[ops] def bucketCandidatePairs(bucketed: DataFrame, maxBucketSize: Int): DataFrame = {
    val bounded =
      if (maxBucketSize <= 0) bucketed
      else {
        val sizes = bucketed.groupBy(col("band"), col("bucket"))
          .agg(count(lit(1)).as("__bsz"))
          .filter(col("__bsz") <= maxBucketSize)
        // merge-pinned (round-15 mechanical sweep): the size census is
        // corpus-derived — never an AQE broadcast candidate
        bucketed.join(sizes.select(col("band"), col("bucket")).hint("merge"),
          Seq("band", "bucket"), "leftsemi")
      }
    val l = bounded.select(col("band"), col("bucket"), col("id").as("id_a"))
    val r = bounded.select(col("band"), col("bucket"), col("id").as("id_b"))
    l.join(r.hint("merge"), Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** Full MinHash near-dup pipeline: LSH candidates, then exact Jaccard
    * verification computed ONLY for candidate pairs (array_intersect on the
    * two shingle sets — O(candidates), never all-pairs). This is the
    * 100 TB-scale near-dup path; `jaccardPairs` below is the brute-force
    * oracle it is validated against in the spec suite.
    */
  def minHashNearDups(df: DataFrame, idCol: String, textCol: String,
                      shingleN: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
                      threshold: Double = 0.5): DataFrame = {
    // NOTE (round 17, measured and NOT materialized): the plan re-derives
    // the tokenize+shingle chain three times (signature banding + both
    // exact-verify legs). A lazy localCheckpoint of the (id, shingles)
    // relation was tried against the 1M-grain probe and REGRESSED ~20%
    // (minhash_lsh_neardups 32.8 → 40.6 s, keep_best_canonical 42.6 →
    // 45.1): the shingle chain is map-only (scan→project, no shuffle), so
    // re-derivation is free pipeline parallelism, while materializing a
    // corpus-grain array-of-strings relation pays a barrier plus
    // deserialized storage. The dedup_lsh_quality round-16 lesson again —
    // recompute beats materialize when the duplicated subtree has no
    // exchange in it.
    val cand = minHashCandidates(df, idCol, textCol, shingleN, bands, rowsPerBand)
    val sh = df.select(col(idCol).as("id"), shingles(col(textCol), shingleN).as("sh"))
    cand
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")).hint("merge"), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")).hint("merge"), "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Cross-corpus near-duplicate detection: flag documents in `corpus`
    * (the fresh crawl) whose shingle Jaccard with ANY document in
    * `reference` (the existing training set) reaches `threshold` —
    * dedup-the-new-data-against-what-you-already-have, the asymmetric
    * sibling of `minHashNearDups`' full-corpus self-sweep. Both sides
    * band identically (same signature kernel, same band hashing), the
    * candidate join is (band, bucket)-local reference×corpus — no
    * self-pairs, no a<b halving — and exact Jaccard verifies candidates
    * only. Output is one row per flagged corpus doc with its best
    * reference match (ties: highest Jaccard, then smallest reference id
    * — a lexicographic struct max, one map-side-partial hash agg), so
    * the consumer anti-joins it to keep the clean remainder; the
    * reference side is never rewritten.
    *
    * 100 TB notes: the reference is usually the big side and changes
    * slowly — its (band, bucket, id) relation and shingle sets are
    * build-once artifacts persisted across crawl batches:
    * `crossCorpusBuild` + `crossCorpusNearDupsWith` below ARE that seam
    * (this raw-DataFrame form re-derives them per plan — correct, and
    * fine when the reference is small, but rebanding 100 TB per crawl
    * would dominate the whole job). Shuffle keys are (band, bucket) and
    * ids, never payloads; `maxBucketSize` (0 = off) drops degenerate
    * buckets by COMBINED membership before pair generation, same guard
    * as `bucketCandidatePairs` — wire it non-zero in production: one
    * boilerplate bucket of B members is B²·bands candidate pairs (the
    * sizing rule and the planted-hot-bucket probe live in DESIGN §11).
    */
  def crossCorpusNearDups(corpus: DataFrame, reference: DataFrame,
                          idCol: String, textCol: String,
                          shingleN: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
                          threshold: Double = 0.5, maxBucketSize: Int = 0): DataFrame =
    crossCorpusNearDupsWith(corpus,
      crossCorpusBuild(reference, idCol, textCol, shingleN, bands, rowsPerBand),
      idCol, textCol, threshold, maxBucketSize)

  /** The build-once reference artifact for cross-corpus near-dedup: the
    * (band, bucket, id_ref) LSH relation and the (id_ref, shingles)
    * verification relation, plus the banding parameters they were built
    * with (a query banded differently would never collide). In production
    * both DataFrames are persisted/written ONCE per reference snapshot
    * (parquet keyed by (band, bucket) / id_ref) and every crawl batch
    * reads them — `persist()` below is the in-session form (DedupSpec
    * pins artifact path == raw path).
    */
  case class CrossCorpusIndex(refBuckets: DataFrame, refShingles: DataFrame,
                              shingleN: Int, bands: Int, rowsPerBand: Int) {
    def persist(): this.type = { refBuckets.persist(); refShingles.persist(); this }
    def unpersist(): this.type = { refBuckets.unpersist(); refShingles.unpersist(); this }
  }

  /** Band + shingle the reference corpus once — the expensive
    * per-reference-snapshot half of cross-corpus dedup (the
    * `ivfBuild`/`ivfQuery` seam; rebanding 100 TB of reference per crawl
    * batch is the cost this split exists to avoid).
    */
  def crossCorpusBuild(reference: DataFrame, idCol: String, textCol: String,
                       shingleN: Int = 3, bands: Int = 16,
                       rowsPerBand: Int = 4): CrossCorpusIndex =
    CrossCorpusIndex(
      lshBuckets(reference, idCol, textCol, shingleN, bands, rowsPerBand)
        .select(col("band"), col("bucket"), col(idCol).as("id_ref")),
      reference.select(col(idCol).as("id_ref"),
        shingles(col(textCol), shingleN).as("sh_r")),
      shingleN, bands, rowsPerBand)

  /** Cross-corpus near-dedup against a PREBUILT reference index — the
    * per-batch half: band the (small) fresh batch, probe the artifact's
    * (band, bucket) relation, exact-verify candidates against the
    * artifact's shingle sets. Work is linear in the batch, not the
    * reference. Semantics identical to `crossCorpusNearDups`
    * (spec-pinned artifact-path == raw-path).
    *
    * `maxBucketSize` counts REFERENCE-side membership only, which makes
    * the keep/drop decision batch-invariant — splitting a crawl into
    * micro-batches can never flip a bucket that the one-shot run keeps
    * (a combined count would shrink with each split) — and bounds every
    * kept bucket's fan-out at `maxBucketSize` reference rows per new
    * row: candidates <= |batch| x bands x cap, linear in the batch even
    * against a degenerate self-similar reference.
    */
  def crossCorpusNearDupsWith(corpus: DataFrame, index: CrossCorpusIndex,
                              idCol: String, textCol: String,
                              threshold: Double = 0.5,
                              maxBucketSize: Int = 0): DataFrame = {
    val nb = lshBuckets(corpus, idCol, textCol,
        index.shingleN, index.bands, index.rowsPerBand)
      .select(col("band"), col("bucket"), col(idCol).as("id_new"))
    val rb = index.refBuckets
    val (nbB, rbB) =
      if (maxBucketSize <= 0) (nb, rb)
      else {
        // reference-side membership only: batch-invariant (see scaladoc)
        val hot = rb.groupBy(col("band"), col("bucket"))
          .agg(count(lit(1)).as("__bsz"))
          .filter(col("__bsz") > maxBucketSize)
          .select(col("band"), col("bucket"))
        // the hot-bucket census is corpus-derived — merge-hinted
        // (containmentPairs rule), as are every leg below: the reference
        // bucket/shingle relations scale with the reference corpus
        (nb.join(hot.hint("merge"), Seq("band", "bucket"), "leftanti"),
          rb.join(hot.hint("merge"), Seq("band", "bucket"), "leftanti"))
      }
    val cand = nbB.join(rbB.hint("merge"), Seq("band", "bucket"))
      .select(col("id_new"), col("id_ref")).distinct()
    val shN = corpus.select(col(idCol).as("id_new"),
      shingles(col(textCol), index.shingleN).as("sh_n"))
    cand.join(shN.hint("merge"), "id_new")
      .join(index.refShingles.hint("merge"), "id_ref")
      .withColumn("__inter", size(array_intersect(col("sh_n"), col("sh_r"))))
      .withColumn("__jac", col("__inter").cast("double") /
        (size(col("sh_n")) + size(col("sh_r")) - col("__inter")))
      .filter(col("__jac") >= threshold)
      .groupBy(col("id_new"))
      .agg(max(struct(col("__jac").as("j"), (-col("id_ref")).as("ni"))).as("__best"))
      .select(col("id_new"), (-col("__best.ni")).as("matched_ref"),
        round(col("__best.j"), 4).as("best_jaccard"))
  }

  /** STREAMING near-duplicate candidate detection: MinHash-LSH banding as
    * a watermark-bounded stream-stream SELF-join — each arriving document
    * is banded into (band, bucket) keys and joined against other documents
    * whose buckets collided within ±`horizonSecs` of event time. The
    * watermark bounds both join state (Spark drops bucket rows older than
    * watermark − horizon) and the output-dedup state, so the query runs
    * indefinitely: this is online ingest dedup — catch the re-crawl/
    * re-post while it's arriving — versus the batch operator's full-corpus
    * sweep. Emits (ts, id_a, id_b) candidate pairs (id_a < id_b), deduped
    * across bands within the watermark; exact-verify downstream if LSH
    * precision isn't enough (same contract as `minHashCandidates`).
    *
    * 100 TB notes: state size is O(rows-in-horizon × bands) fixed-width
    * keys, partitioned by (band, bucket) — the same shuffle shape as the
    * batch join, just windowed; a hot bucket is a hot key (cap with
    * maxBucketSize upstream or shorten the horizon).
    */
  def streamingMinHashCandidates(docs: DataFrame, tsCol: String, idCol: String,
                                 textCol: String, watermark: String,
                                 horizonSecs: Long,
                                 shingleN: Int = 3, bands: Int = 16,
                                 rowsPerBand: Int = 4): DataFrame = {
    val k = bands * rowsPerBand
    val sig = minHashSignature(shingles(col(textCol), shingleN), k)
    val bucketed = docs
      .withWatermark(tsCol, watermark)
      .select(col(tsCol).as("ts"), col(idCol).as("id"), sig.as("sig"))
      .select(col("ts"), col("id"),
        explode(
          transform(
            sequence(lit(0), lit(bands - 1)),
            b => struct(b.as("band"),
              xxhash64(array_join(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)), ",")).as("bucket")),
          )
        ).as("bb"))
      .select(col("ts"), col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val l = bucketed.select(col("ts").as("ts_a"), col("id").as("id_a"),
      col("band").as("band_a"), col("bucket").as("bucket_a"))
    val r = bucketed.select(col("ts").as("ts_b"), col("id").as("id_b"),
      col("band").as("band_b"), col("bucket").as("bucket_b"))
    // the time-range condition is what lets Spark expire join state; the
    // id_a < id_b asymmetry emits each collision once per band
    val joined = l.join(r,
      col("band_a") === col("band_b") && col("bucket_a") === col("bucket_b") &&
        col("id_a") < col("id_b") &&
        col("ts_b").between(
          col("ts_a") - expr(s"INTERVAL $horizonSecs SECONDS"),
          col("ts_a") + expr(s"INTERVAL $horizonSecs SECONDS")))
    // band-level collisions collapse to one pair within the watermark —
    // ts_a keeps its event-time watermark through the join, so the dedup
    // state is bounded by the SAME watermark (re-declaring one downstream
    // of a stateful operator is disallowed)
    joined
      .select(col("ts_a").as("ts"), col("id_a"), col("id_b"))
      .dropDuplicatesWithinWatermark(Seq("id_a", "id_b"))
  }

  /** STREAMING cross-corpus near-dedup: each arriving document is banded
    * and joined against the STATIC reference corpus's (band, bucket)
    * relation, exact-Jaccard-verified against the reference shingle sets,
    * and emitted as a flagged (ts, id_new, id_ref, jaccard) row — online
    * ingest decontamination: drop the re-crawl against what you already
    * have WHILE it arrives, the streaming twin of `crossCorpusNearDups`
    * (which sweeps a finished batch). Every join here is stream-static —
    * the stream side never joins itself — so banding, candidate lookup
    * and verification are all STATELESS; the only state is the band-
    * collision dedup, bounded by the watermark. Emits pairs, not
    * best-per-doc: a best-match aggregate would hold per-doc state and
    * add nothing to the drop decision (any verified hit ≥ threshold
    * flags the doc); consumers needing one row per doc aggregate the
    * bounded per-watermark output downstream.
    *
    * 100 TB notes: the reference relations are the same build-once
    * artifacts the batch op uses — compute them ONCE per reference
    * snapshot with `crossCorpusBuild`, persist/write them, and hand the
    * index to `streamingCrossCorpusFlagsWith` for every micro-batch;
    * handing THIS function the raw reference DataFrame re-derives them
    * per plan (correct, but rebanding 100 TB per crawl stream is the
    * cost the artifact seam exists to avoid). Both are static DataFrames
    * re-read per micro-batch at worst, broadcast or shuffle-joined by
    * Catalyst on (band, bucket) / id_ref fixed-width keys.
    */
  def streamingCrossCorpusFlags(stream: DataFrame, reference: DataFrame,
                                tsCol: String, idCol: String, textCol: String,
                                watermark: String,
                                shingleN: Int = 3, bands: Int = 16,
                                rowsPerBand: Int = 4,
                                threshold: Double = 0.5): DataFrame =
    streamingCrossCorpusFlagsWith(stream,
      crossCorpusBuild(reference, idCol, textCol, shingleN, bands, rowsPerBand),
      tsCol, idCol, textCol, watermark, threshold)

  /** Streaming cross-corpus flags against a PREBUILT reference index —
    * the production form: the reference is banded/shingled once per
    * snapshot (`crossCorpusBuild`, persisted), and each micro-batch only
    * bands its own rows and probes the static relations. Semantics
    * identical to `streamingCrossCorpusFlags` (parity spec).
    */
  def streamingCrossCorpusFlagsWith(stream: DataFrame, index: CrossCorpusIndex,
                                    tsCol: String, idCol: String, textCol: String,
                                    watermark: String,
                                    threshold: Double = 0.5): DataFrame = {
    val k = index.bands * index.rowsPerBand
    val sig = minHashSignature(shingles(col(textCol), index.shingleN), k)
    val streamBucketed = stream
      .withWatermark(tsCol, watermark)
      .select(col(tsCol).as("ts"), col(idCol).as("id_new"),
        shingles(col(textCol), index.shingleN).as("sh_n"), sig.as("sig"))
      .select(col("ts"), col("id_new"), col("sh_n"),
        explode(
          transform(
            sequence(lit(0), lit(index.bands - 1)),
            b => struct(b.as("band"),
              xxhash64(array_join(slice(col("sig"), b * index.rowsPerBand + 1, lit(index.rowsPerBand)), ",")).as("bucket")),
          )
        ).as("bb"))
      .select(col("ts"), col("id_new"), col("sh_n"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    streamBucketed
      .join(index.refBuckets, Seq("band", "bucket")) // stream-static: no state
      .join(index.refShingles, "id_ref")             // stream-static: no state
      .withColumn("__inter", size(array_intersect(col("sh_n"), col("sh_r"))))
      .withColumn("jaccard", round(col("__inter").cast("double") /
        (size(col("sh_n")) + size(col("sh_r")) - col("__inter")), 4))
      .filter(col("jaccard") >= threshold)
      // band-level collisions collapse to one flagged pair; state bounded
      // by the stream's own watermark (ts flows through the static joins)
      .select(col("ts"), col("id_new"), col("id_ref"), col("jaccard"))
      .dropDuplicatesWithinWatermark(Seq("id_new", "id_ref"))
  }

  /** MinHash ESTIMATED Jaccard for every LSH candidate pair: the fraction
    * of agreeing signature lanes is an unbiased estimator of the true
    * Jaccard (stderr ≈ √(J(1−J)/k) ≈ 0.06 at k=64) — the
    * verification-FREE scale path. `minHashNearDups` verifies candidates
    * with an exact `array_intersect` over the full shingle sets, which at
    * 100 TB means joining wide shingle arrays back to every candidate; when
    * a ±0.1 similarity band is acceptable (corpus triage, cluster
    * pre-grouping, threshold sweeps), comparing two k-long signatures is
    * O(k) per pair with fixed-width rows — the shuffle carries k longs, not
    * documents. Output: every candidate pair with `jaccard_est` (rounded),
    * UNthresholded — thresholding an estimate is the caller's accuracy
    * trade to make. Deterministic (hash-seeded); accuracy is spec-pinned
    * against the exact Jaccard on the same pairs.
    */
  def minHashEstimatedPairs(df: DataFrame, idCol: String, textCol: String,
                            shingleN: Int = 3, bands: Int = 16,
                            rowsPerBand: Int = 4): DataFrame = {
    val k = bands * rowsPerBand
    // ONE tokenize+sign pass over the corpus: Catalyst does not dedupe
    // canonically-identical projection subtrees across self-joins
    // (DESIGN.md §8), so the signature relation is materialized (lazy
    // localCheckpoint, drained by the harness via Cleanup) and feeds BOTH
    // the banding and the lane-agreement estimate — computing signatures
    // inside minHashCandidates AND again here would double the dominant
    // per-document cost, contrary to the operator's 100 TB motivation.
    val sigs = graft.Cleanup.register(
      df.select(col(idCol).as("id"),
        minHashSignature(shingles(col(textCol), shingleN), k).as("sig"))
        .localCheckpoint(false))
    val cand = bucketCandidatePairs(sigBandBuckets(sigs, bands, rowsPerBand), 0)
    cand
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")).hint("merge"), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")).hint("merge"), "id_b")
      // per-candidate-pair lane agreement — native kernel (round 15,
      // DESIGN §18: 1M probe 6.7 → 1.0 s); integer census, same value
      .withColumn("agree",
        graft.functions.VectorFunctions.vecEqCount(col("sig_a"), col("sig_b")))
      .select(col("id_a"), col("id_b"),
        round(col("agree").cast("double") / k, 4).as("jaccard_est"))
  }

  /** Exact n-gram Jaccard similarity for given id pairs (verification pass
    * after LSH, or standalone brute force on small inputs).
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String, shingleN: Int,
                   threshold: Double): DataFrame = {
    val sh = df.select(col(idCol).as("id"), shingles(col(textCol), shingleN).as("sh"))
    val ex = sh.select(col("id"), explode(col("sh")).as("g"))
    val sizes = sh.select(col("id"), size(col("sh")).as("n"))
    val inter = ex.as("a").join(ex.as("b").hint("merge"),
        col("a.g") === col("b.g") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnsRenamed(Map("id" -> "id_a", "n" -> "na")).hint("merge"), "id_a")
      .join(sizes.withColumnsRenamed(Map("id" -> "id_b", "n" -> "nb")).hint("merge"), "id_b")
      .withColumn("jaccard", col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** ASYMMETRIC containment similarity: directed pairs (a → b), a ≠ b,
    * with C(a→b) = |Sₐ ∩ S_b| / |Sₐ| ≥ `threshold` over distinct word
    * `shingleN`-grams. The quote-inclusion detector Jaccard structurally
    * misses: a short document fully embedded in a long one has
    * J = |Sₐ|/|S_b| ≈ 0 but C(a→b) = 1 — exactly the "document a is
    * contained in document b" signal a dedup pipeline needs for
    * quote-heavy or concatenated pages (and the reason MinHash-LSH
    * candidates, which approximate JACCARD, are the wrong recall set
    * here: high-containment/low-Jaccard pairs never co-bucket).
    *
    * Candidates come from a document-frequency-capped shared-gram join
    * instead: grams appearing in more than `maxDf` documents are dropped
    * BEFORE the self-join (the `text_simjoin_tfidf` hot-term rule), so
    * each surviving gram contributes ≤ maxDf² directed pairs and the
    * join never goes quadratic on boilerplate. The denominator |Sₐ|
    * stays the FULL pre-cap shingle count, so a capped gram can only
    * LOWER a measured containment, never raise it — the miss direction
    * is documented recall on pairs whose overlap is mostly boilerplate
    * grams, the pairs a containment detector is least interested in.
    * The DuckDB oracle replays the cap exactly, so the trade is
    * value-checked, not hidden.
    *
    * 100 TB shape: one gram explode, one ≤maxDf-bounded self-join, one
    * (id_a, id_b) count aggregate, one broadcast-size join back to
    * per-doc counts. Every corpus-scale exchange — the df census, the
    * semi-join, and the candidate self-join — is keyed on xxhash64(gram)
    * 8-byte longs, never the gram string (the `dupGramBuild`
    * hashGrams rule: word `shingleN`-grams average tens of bytes, so the
    * exploded gram relation's shuffle payload drops ~5×). The DuckDB
    * oracle keeps RAW-STRING grouping, so a hash collision (two distinct
    * grams sharing an xxhash64, inflating an intersection count) fails
    * the hash compare loudly instead of passing silently. No window, no
    * driver state.
    *
    * 64-bit collision budget at target scale (round-11 advice — in
    * production no oracle runs, so the rate must be argued, not
    * observed): with V distinct grams, expected colliding PAIRS are
    * ≈ V²/2⁶⁵; at the 100 TB ambition's V ≈ 10¹⁰ that is ~2.7 collisions
    * across the whole vocabulary — present, as the birthday bound says,
    * but bounded in EFFECT, not just count. A collision merges exactly
    * two grams, so per affected document pair the intersection count
    * inflates by at most min(df_g1, df_g2) ≤ maxDf occurrences — i.e.
    * containment shifts by ≤ maxDf/|Sₐ| absolute on the handful of pairs
    * touching a colliding gram (or, if the merged df exceeds maxDf, both
    * grams fall to the cap — the documented LOWER-only miss direction).
    * With ~3 collisions among 10¹⁰ grams this perturbs a measured ratio
    * on a ~10⁻⁹ fraction of candidate pairs by ≤ maxDf shingles — far
    * below the threshold granularity any dedup policy acts on. If a
    * deployment needs exact counts regardless, widen the key to the
    * 128-bit (xxhash64(g), xxhash64(reverse(g))) pair — 16-byte keys,
    * same plan shape; the default stays 8-byte because the error budget
    * above doesn't justify 2× key payload.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String, shingleN: Int,
                       threshold: Double, maxDf: Int): DataFrame = {
    require(maxDf > 0, "containmentPairs requires a positive gram df cap " +
      "(the self-join is quadratic in the hottest gram's document frequency)")
    val sh = df.select(col(idCol).as("id"), shingles(col(textCol), shingleN).as("sh"))
    // hash at the explode — no downstream operator ever needs the string
    // back (counts and sizes are gram-identity-only), so the string dies
    // before the first exchange
    val ex = sh.select(col("id"), explode(col("sh")).as("g"))
      .select(col("id"), xxhash64(col("g")).as("gh"))
    val sizes = sh.select(col("id"), size(col("sh")).as("n"))
    val cool = ex.groupBy(col("gh")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf)
    // materialize the capped gram relation ONCE: it feeds BOTH sides of
    // the self-join, and without the checkpoint each side re-pays the
    // tokenize+shingle explode plus the census semi-join (measured 4.3 s
    // → 3.4 s at sf0.1 — the minHashEstimatedPairs lesson; the remaining
    // cost is the genuine Σ df² directed-candidate aggregate)
    // CORPUS-DERIVED BUILD SIDES NEVER RIDE AN AQE BROADCAST DECISION
    // (round-14 rule, CorpusJoinHintSpec-swept): the 1M probe measured
    // AQE choosing a broadcast build of this capped-gram relation on a
    // pressured 8 GB heap and dying mid-build (DESIGN §16) — at sf0.1
    // broadcast happens to fit and at true scale AQE merge-joins anyway,
    // but the awkward middle is exactly where a pressured production job
    // lands. Every join leg whose build side derives from the corpus is
    // merge-hinted explicitly (AQE honors user join hints when
    // re-planning); artifact-grain relations keep explicit broadcast().
    val bounded = graft.Cleanup.register(
      ex.join(cool.select(col("gh")).hint("merge"), Seq("gh"), "leftsemi")
        .localCheckpoint(false))
    val inter = bounded.as("a").join(bounded.as("b").hint("merge"),
        col("a.gh") === col("b.gh") && col("a.id") =!= col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnsRenamed(Map("id" -> "id_a", "n" -> "na"))
        .hint("merge"), "id_a")
      .withColumn("containment", col("inter").cast("double") / col("na"))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("containment"), 4).as("containment"))
  }

  /** The build-once reference artifact for cross-corpus containment: the
    * reference's distinct (g, id_ref) gram relation, df-capped on the
    * REFERENCE side (grams in more than `maxDf` reference docs dropped —
    * batch-invariant like `crossCorpusNearDupsWith`'s bucket cap: how a
    * crawl is micro-batched can never change which grams survive, and
    * every surviving gram bounds probe fan-out at `maxDf` reference rows
    * per new-doc gram). `refGrams` carries (gh = xxhash64(gram), id_ref) —
    * 16 bytes/row however long the grams are (the `containmentPairs`
    * hashing rule; probes hash their own grams before the join, and the
    * raw-string DuckDB oracle turns any collision into a loud hash
    * mismatch). In production this is persisted once per reference
    * snapshot (parquet keyed by gram hash); `persist()` is the
    * in-session form.
    */
  case class ContainmentIndex(refGrams: DataFrame, shingleN: Int, maxDf: Int) {
    def persist(): this.type = { refGrams.persist(); this }
    def unpersist(): this.type = { refGrams.unpersist(); this }
  }

  /** Gram + df-cap the reference corpus once — the per-reference-snapshot
    * half of cross-corpus containment (the `crossCorpusBuild` seam).
    */
  def containmentBuild(reference: DataFrame, idCol: String, textCol: String,
                       shingleN: Int, maxDf: Int): ContainmentIndex = {
    require(maxDf > 0, "containmentBuild requires a positive reference-side gram df cap")
    val grams = reference.select(col(idCol).as("id_ref"),
        explode(shingles(col(textCol), shingleN)).as("g"))
      .select(col("id_ref"), xxhash64(col("g")).as("gh"))
    val cool = grams.groupBy(col("gh")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf).select(col("gh"))
    // merge-hinted: the df census is corpus-derived (containmentPairs rule)
    ContainmentIndex(grams.join(cool.hint("merge"), Seq("gh"), "leftsemi"),
      shingleN, maxDf)
  }

  /** One-shot convenience: build the reference artifact and probe it. */
  def crossCorpusContainment(corpus: DataFrame, reference: DataFrame,
                             idCol: String, textCol: String, shingleN: Int,
                             threshold: Double, maxDf: Int): DataFrame =
    containmentFlagsWith(corpus,
      containmentBuild(reference, idCol, textCol, shingleN, maxDf),
      idCol, textCol, threshold)

  /** Cross-corpus containment against a PREBUILT reference artifact: flag
    * new documents whose gram set is ≥ `threshold` contained in some
    * reference document — the "this crawl page is mostly a quote of
    * training data" decontamination signal, asymmetric where the
    * cross-corpus Jaccard path needs overall similarity. One row per
    * flagged new doc with its best reference match (containment desc,
    * ref id asc — the `crossCorpusNearDupsWith` contract). Work is
    * linear in the batch: each new-doc gram meets ≤ maxDf reference
    * rows, the denominator is the new doc's FULL pre-cap gram count
    * (reference-side capping can only LOWER a measured containment —
    * same miss direction as `containmentPairs`, value-checked by the
    * wired oracle).
    */
  def containmentFlagsWith(corpus: DataFrame, index: ContainmentIndex,
                           idCol: String, textCol: String,
                           threshold: Double): DataFrame = {
    val sh = corpus.select(col(idCol).as("id_new"),
      shingles(col(textCol), index.shingleN).as("sh"))
    val ex = sh.select(col("id_new"), explode(col("sh")).as("g"))
      .select(col("id_new"), xxhash64(col("g")).as("gh"))
    val sizes = sh.select(col("id_new"), size(col("sh")).as("n"))
    // reference gram relation and batch sizes are both corpus-derived —
    // merge-hinted (containmentPairs rule; a 100 TB reference's capped
    // gram table is terabytes, the textbook broadcast-build OOM)
    ex.join(index.refGrams.hint("merge"), Seq("gh"))
      .groupBy(col("id_new"), col("id_ref")).agg(count(lit(1)).as("__c"))
      .join(sizes.hint("merge"), "id_new")
      .withColumn("__cont", col("__c").cast("double") / col("n"))
      .filter(col("__cont") >= threshold)
      .groupBy(col("id_new"))
      .agg(max(struct(col("__cont").as("c"), (-col("id_ref")).as("ni"))).as("__best"))
      .select(col("id_new"), (-col("__best.ni")).as("matched_ref"),
        round(col("__best.c"), 4).as("best_containment"))
  }

  /** STREAMING cross-corpus containment: each arriving document grams
    * per row, joins the STATIC reference artifact (stream-static — no
    * join state), and the shared-gram count per (new doc, reference doc)
    * comes from ONE watermark-bounded windowed aggregation (the
    * `streamingVideoFlagsWith` shape). Emits flagged pairs, not
    * best-per-doc (any hit ≥ threshold settles the drop decision; a
    * best-match aggregate would hold per-doc state for nothing — the
    * streaming-twin convention).
    */
  def streamingContainmentFlagsWith(stream: DataFrame, index: ContainmentIndex,
                                    tsCol: String, idCol: String, textCol: String,
                                    threshold: Double, watermark: String = "10 minutes",
                                    windowLen: String = "1 hour"): DataFrame =
    stream
      .select(col(tsCol).cast("timestamp").as("ts"), col(idCol).as("id_new"),
        shingles(col(textCol), index.shingleN).as("__sh"))
      .withColumn("__n", size(col("__sh")))
      .select(col("ts"), col("id_new"), col("__n"), explode(col("__sh")).as("g"))
      .select(col("ts"), col("id_new"), col("__n"), xxhash64(col("g")).as("gh"))
      .withWatermark("ts", watermark)
      .join(index.refGrams, Seq("gh")) // stream-static: no state
      .groupBy(window(col("ts"), windowLen), col("id_new"), col("__n"), col("id_ref"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("containment_r",
        round(col("__c").cast("double") / col("__n"), 4))
      .filter(col("containment_r") >= threshold)
      .select(col("window.start").as("ts"), col("id_new"), col("id_ref"),
        col("containment_r"))

  /** LSH quality census — the banding-parameter AUDIT: for every pair in
    * the exact-similarity universe (pairs sharing ≥ 1 shingle — complete
    * for any Jaccard > 0, since J > 0 requires a shared gram), how many
    * does the (bands × rowsPerBand) banding detect, bucketed by exact
    * Jaccard decile? The output is the measured S-curve: per `jband`
    * (⌊10·J⌋ by INTEGER arithmetic — (inter·10) div union, no IEEE
    * division anywhere near a band boundary, so the census can never
    * flip on engine rounding; J = 1 lands in band 10), `n_pairs` and
    * `n_detected`. Recall at a target threshold reads off the high
    * bands; precision is the detected mass in bands below it. This is
    * how bands/rowsPerBand get TUNED instead of trusted: the standard
    * (16, 4) S-curve midpoint sits near J = (1/16)^(1/4) ≈ 0.5, and the
    * census shows where it actually sits on this corpus.
    *
    * Detected-but-disjoint pairs (possible: min-hash lane values of
    * disjoint shingle sets can coincide mod p) surface through the
    * full-outer join as jband-0 detections — counted, not hidden.
    *
    * Scale shape: the DETECTION leg is the production LSH (band-bucket
    * join). The TRUTH leg is the shared-gram self-join — linear in
    * Σ_gram df², which is quadratic-adjacent on hot grams. That cost is
    * the census's point (it measures ground truth), so this is the
    * audit you run on a SAMPLE or holdout shard to pick banding
    * parameters, not on the full corpus — the same quarantine the
    * brute-force `jaccardPairs` oracle lives under. One tokenize+sign
    * pass is shared by both legs (the `minHashEstimatedPairs`
    * materialization rule).
    */
  def lshQualityCensus(df: DataFrame, idCol: String, textCol: String,
                       shingleN: Int = 3, bands: Int = 16,
                       rowsPerBand: Int = 4): DataFrame = {
    val k = bands * rowsPerBand
    val shs = graft.Cleanup.register(
      df.select(col(idCol).as("id"), shingles(col(textCol), shingleN).as("sh"))
        .localCheckpoint(false))
    val sigs = shs.select(col("id"), minHashSignature(col("sh"), k).as("sig"))
    val det = bucketCandidatePairs(sigBandBuckets(sigs, bands, rowsPerBand), 0)
      .withColumn("__det", lit(1L))
    // NOTE (round 16): hashing the exploded grams at the explode (the
    // containmentPairs xxhash64 rule) was TRIED here and measured a
    // consistent ~20% REGRESSION in an interleaved A/B (warm meds 4.31 →
    // 5.17 s at sf0.1): the census population is id-quarantined and
    // small, so the two extra hash passes over both self-join legs cost
    // more than the narrower sort keys save. Reverted — the string keying
    // stays; at true corpus scale this exact leg is quarantined to a
    // sample by construction, so the string exchange never sees
    // corpus-scale rows.
    val ex = shs.select(col("id"), explode(col("sh")).as("g"))
    val sizes = shs.select(col("id"), size(col("sh")).as("n"))
    val truth = ex.as("a").join(ex.as("b").hint("merge"),
      col("a.g") === col("b.g") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.withColumnsRenamed(Map("id" -> "id_a", "n" -> "na")).hint("merge"), "id_a")
      .join(sizes.withColumnsRenamed(Map("id" -> "id_b", "n" -> "nb")).hint("merge"), "id_b")
      .select(col("id_a"), col("id_b"),
        expr("CAST((inter * 10) DIV (na + nb - inter) AS INT)").as("jband"))
    truth.join(det.hint("merge"), Seq("id_a", "id_b"), "full_outer")
      .select(coalesce(col("jband"), lit(0)).as("jband"),
        coalesce(col("__det"), lit(0L)).as("det"))
      .groupBy(col("jband"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("det")).as("n_detected"))
  }
}
