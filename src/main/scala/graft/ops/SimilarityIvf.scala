package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity partition: the IVF coarse-quantizer lifecycle — deterministic k-means training, centroid assignment, the build-once index artifact, incremental append, assignment-score drift monitoring with the gated rebuild policy, and bucket-probed queries.
  * See [[Similarity]].
  */
trait SimilarityIvf { self: Similarity.type =>

  /** Deterministic fixed-size IVF seed selection: the `nlist` corpus
    * vectors with the smallest xxhash64(id) — a uniform deterministic
    * sample whose size is INDEPENDENT of corpus size. (The previous
    * stride rule yielded n/stride centroids, so the driver-collected
    * coarse-quantizer matrix grew with the corpus — a driver OOM at
    * scale.) orderBy+limit compiles to TakeOrderedAndProject: each
    * partition keeps a local top-nlist, the driver merges nlist rows —
    * O(nlist·dim) driver memory at any n. Used as the k-means INIT (see
    * kmeansCentroids); a raw hash sample alone is a uniform sample of the
    * corpus, not cluster centers — the 1M-vector probe measured recall
    * 0.49 at nprobe 32/nlist 1000 without Lloyd refinement.
    */
  def centroids(corpus: DataFrame, nlist: Int,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    corpus.select(col(idCol).as("centroid_id"), col(vecCol).as("centroid"))
      .orderBy(xxhash64(col("centroid_id")).asc, col("centroid_id").asc)
      .limit(nlist)

  /** Collect the (small) centroid set to the driver for the coarse
    * quantizer kernel — nlist × dim doubles, the standard IVF shape.
    */
  def collectCentroids(cents: DataFrame): (Seq[Long], Seq[Seq[Double]]) = {
    val rows = cents.select(col("centroid_id"),
        transform(col("centroid"), x => x.cast("double")).as("c"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
      .sortBy(_._1)
    (rows.map(_._1).toSeq, rows.map(_._2).toSeq)
  }

  /** Deterministic sampled k-means (Lloyd) IVF training: hash-sample
    * `nlist · sampleMult` vectors once (TakeOrderedAndProject — bounded at
    * any corpus size), init with the first `nlist` DISTINCT vector values
    * in hash order (duplicate seeds would permanently empty their twin
    * clusters), then `iters` Lloyd rounds over the sample. Per round, only the
    * centroid matrix (nlist × dim) crosses the driver boundary; the sample
    * stays distributed and is localCheckpoint'ed so rounds don't recompute
    * the scan.
    *
    * Determinism (the correctness harness re-runs this): the sample and
    * init are hash-ordered; per-(bucket, dimension) means fold the values
    * in SORTED order (array_sort(collect_list(x))) so floating-point
    * summation order can't vary between runs/partitionings — groups are
    * sample/nlist ≈ sampleMult values, so the sort is trivially cheap.
    * Empty clusters keep their previous centroid.
    *
    * Returned centroid ids are 0..nlist-1 (synthetic points, not corpus
    * rows).
    */
  def kmeansCentroids(corpus: DataFrame, nlist: Int, iters: Int = 4,
                      sampleMult: Int = 32,
                      idCol: String = "vec_id", vecCol: String = "embedding"
                     ): (Seq[Long], Seq[Seq[Double]]) = {
    val sample = corpus
      .select(col(idCol).as("id"), transform(col(vecCol), x => x.cast("double")).as("v"))
      .orderBy(xxhash64(col("id")).asc, col("id").asc)
      .limit(nlist * sampleMult)
      .localCheckpoint()
    try {
      // seed selection DEDUPLICATES on the vector value (groupBy v, min id):
      // identical seed vectors would tie-break every assignment to the lower
      // centroid id, leaving the higher one a permanently empty cluster that
      // keeps its stale centroid — silently shrinking effective nlist. With
      // distinct seeds every centroid can attract points from round one.
      var mat: Array[Array[Double]] = sample
        .groupBy(col("v")).agg(min(col("id")).as("id"))
        .orderBy(xxhash64(col("id")).asc, col("id").asc).limit(nlist)
        .collect().map(_.getSeq[Double](0).toArray)
      val ids: Seq[Long] = (0L until mat.length.toLong)
      var it = 0
      while (it < iters) {
        val assigned = sample.select(
          element_at(graft.functions.VectorFunctions.nearestCentroids(
            col("v"), ids, mat.map(_.toSeq).toSeq, 1), 1).as("bucket"),
          col("v"))
        val sums = assigned
          .select(col("bucket"), posexplode(col("v")).as(Seq("pos", "x")))
          .groupBy(col("bucket"), col("pos"))
          // buffer-bound: training-sample values per (cell, dim) — the
          // whole input is the ≤ nlist·sampleMult-row sample limited above.
          // VecSortedSum = the same ascending fold, kernel'd (round-16 §18)
          .agg(
            graft.functions.VectorFunctions.vecSortedSum(collect_list(col("x"))).as("sx"),
            count(lit(1)).as("n"))
          .collect()
        val next = mat.map(_.clone()) // empty cluster -> keep previous centroid
        sums.foreach { r =>
          val b = r.getLong(0).toInt
          next(b)(r.getInt(1)) = r.getDouble(2) / r.getLong(3)
        }
        mat = next
        it += 1
      }
      (ids, mat.map(_.toSeq).toSeq)
    } finally sample.unpersist()
  }

  /** Assign each corpus vector to its nearest centroid from a
    * driver-collected (ids, matrix) pair — one narrow pass with the
    * NearestCentroids kernel. (A join+window formulation materializes
    * |corpus|×|centroids| array-carrying rows and OOMs at 1M vectors —
    * see DESIGN.md §4.)
    */
  def assignTo(corpus: DataFrame, ids: Seq[Long], mat: Seq[Seq[Double]],
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    corpus.select(col(idCol), col(vecCol),
      element_at(graft.functions.VectorFunctions.nearestCentroids(col(vecCol), ids, mat, 1), 1)
        .as("bucket"))

  /** DataFrame-centroids convenience wrapper over `assignTo`. */
  def assign(corpus: DataFrame, cents: DataFrame,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (ids, mat) = collectCentroids(cents)
    assignTo(corpus, ids, mat, idCol, vecCol)
  }

  /** A built IVF index: the trained coarse quantizer plus the
    * bucket-assigned corpus. BUILD-ONCE ARTIFACT: in production, `bucketed`
    * is persisted (parquet partitioned by bucket, or cached) and the
    * centroid matrix stored alongside; every query batch then pays only
    * the probe join — neither training (one k-means) nor assignment (one
    * full-corpus scan) recurs. The spec suite proves build-once/
    * query-many equals the one-shot path.
    */
  case class IvfIndex(bucketed: DataFrame, ids: Seq[Long], mat: Seq[Seq[Double]],
                      idCol: String, vecCol: String)

  /** Train the quantizer (deterministic sampled k-means; `trainIters` 0
    * falls back to the raw hash-sample seeds) and assign every corpus
    * vector to its nearest centroid — the expensive, once-per-corpus half
    * of IVF.
    */
  def ivfBuild(corpus: DataFrame, nlist: Int = 64, trainIters: Int = 4,
               idCol: String = "vec_id", vecCol: String = "embedding"): IvfIndex = {
    val (ids, mat) =
      if (trainIters <= 0) collectCentroids(centroids(corpus, nlist, idCol, vecCol))
      else kmeansCentroids(corpus, nlist, trainIters, sampleMult = 32, idCol, vecCol)
    IvfIndex(assignTo(corpus, ids, mat, idCol, vecCol), ids, mat, idCol, vecCol)
  }

  /** Incremental index growth: assign a fresh vector batch through the
    * FROZEN quantizer and append it to the bucketed relation — crawl
    * batches join the ANN index at O(batch) cost, no retraining, no
    * touch of existing rows (centroids never move, so neither do
    * existing assignments). Querying the appended index is IDENTICAL to
    * one-shot-assigning the unioned corpus through the same quantizer
    * (spec-pinned): same centroids → same buckets → same probe results.
    * In the parquet form of the artifact this is literally appending
    * bucket-partitioned files. Drift caveat: a quantizer trained on an
    * old snapshot loses recall as the embedding distribution moves —
    * monitor (e.g. `Analytics.scoreDrift` over assignment-distance
    * buckets per batch) and rebuild when it drifts; append-only is the
    * between-rebuilds regime.
    */
  def ivfAppend(index: IvfIndex, batch: DataFrame): IvfIndex =
    index.copy(bucketed = index.bucketed.unionByName(
      assignTo(batch, index.ids, index.mat, index.idCol, index.vecCol)))

  /** Assignment-quality scores for drift monitoring: each vector's cosine
    * to its ASSIGNED (nearest) centroid, rounded to the 2-dp lattice that
    * `Analytics.scoreDrift` buckets on. When the embedding distribution
    * the quantizer was trained on still holds, these scores concentrate
    * high; as a crawl drifts away from the training snapshot, mass slides
    * toward low assignment cosines — exactly the recall-loss signal the
    * `ivfAppend` scaladoc says to monitor. One narrow scan: bucket
    * assignment is the NearestCentroids kernel, the centroid lookup is a
    * broadcast join against the ≤nlist-row centroid relation, and the
    * output is (id, acos) — no corpus shuffle at any scale.
    */
  def ivfAssignScores(index: IvfIndex, batch: DataFrame): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val cents = index.ids.zip(index.mat.map(_.toSeq))
      .toDF("bucket", "__cent")
    assignTo(batch, index.ids, index.mat, index.idCol, index.vecCol)
      .join(broadcast(cents), Seq("bucket"))
      .select(col(index.idCol),
        round(cosine(col(index.vecCol), col("__cent")), 2).as("acos"))
  }

  /** Drift-gated rebuild policy — the wiring between the `scoreDrift`
    * monitor and the frozen-quantizer append regime (closes the "drift
    * routes to a rebuild" contract, previously prose). `driftReport` is
    * `Analytics.scoreDrift(refScores, batchScores, "acos")` over
    * [[ivfAssignScores]] outputs (reference snapshot vs the incoming
    * batch); its TVD is Σ d_ppm / 2·10⁶. At or below `tvdThreshold` the
    * SAME index object returns (`eq`-identical — append-only regime
    * continues, zero cost beyond the 1-row TVD aggregate). Above it, the
    * quantizer retrains on the full current corpus (existing rows + any
    * already-appended batches) via `ivfBuild` — new centroids, full
    * reassignment, fresh artifact. Threshold choice is documented in
    * DESIGN §13: TVD is in [0,1] with no distributional assumptions;
    * 0.1 (the default) means ≥10 % of assignment-cosine probability mass
    * moved buckets since training, the point where the measured IVF
    * recall curve starts bending at the spec's planted-shift geometry.
    * The TVD reduction is a driver-side 1-row aggregate — bounded, like
    * every other `.collect` site in this repo.
    */
  def ivfMaybeRebuild(index: IvfIndex, driftReport: DataFrame,
                      tvdThreshold: Double = 0.1,
                      trainIters: Int = 4): IvfIndex = {
    val row = driftReport.agg(coalesce(sum(col("d_ppm")), lit(0.0)).as("s")).head()
    val tvd = row.getDouble(0) / 2e6
    if (tvd <= tvdThreshold) index
    else ivfBuild(index.bucketed.drop("bucket"), nlist = index.ids.size,
      trainIters = trainIters, idCol = index.idCol, vecCol = index.vecCol)
  }

  /** Probe a built index: the `nprobe` nearest buckets per query are
    * scanned, nothing else — the cheap, per-query-batch half of IVF.
    */
  def ivfQuery(index: IvfIndex, queries: DataFrame, k: Int, nprobe: Int = 8): DataFrame = {
    import index._
    val probes = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .select(col("query_id"), col("qv"),
        explode(graft.functions.VectorFunctions.nearestCentroids(col("qv"), ids, mat, nprobe))
          .as("bucket"))
    val scored = bucketed.join(broadcast(probes), Seq("bucket"))
      .filter(col(idCol) =!= col("query_id"))
      .withColumn("cos", cosine(col("qv"), col(vecCol)))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col(idCol).asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col(idCol).as("neighbor_id"),
        round(col("cos"), 4).as("cosine_r"))
  }

  /** IVF recall census — the ANN audit, `lshQualityCensus`'s sibling:
    * per query, how many of the exact brute-force top-k the
    * probe-limited IVF search actually returns (`n_hit` of `k`). The
    * number every (nlist, nprobe) choice is implicitly claiming —
    * measured on THE deployed search path (`ivfTopK` verbatim), not a
    * parallel implementation that can drift from it.
    *
    * Scale shape: the exact leg is the brute-force scan — the audit's
    * inherent cost — so this runs on a query SAMPLE against the corpus
    * (one broadcast-join scan per query batch), the same quarantine the
    * LSH census and `jaccardPairs` live under; the approximate leg is
    * the production probe. Determinism: both legs rank with explicit
    * index-order cosine folds and (cos DESC, id ASC) tie-breaks, so the
    * top-k sets — and therefore the intersection counts — are
    * bit-identical in any engine; with `trainIters = 0` the quantizer
    * is the hash-ordered seed set and the DuckDB oracle replays the
    * whole audit end-to-end (the `emb_ivf_drift` machinery).
    */
  def ivfRecallCensus(corpus: DataFrame, queries: DataFrame, k: Int,
                      nlist: Int, nprobe: Int, trainIters: Int = 4,
                      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val approx = ivfTopK(corpus, queries, k, nlist, nprobe, trainIters, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id"))
    val exact = bruteForceTopK(corpus, queries, k, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id"))
    val hits = exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
    queries.select(col(idCol).as("query_id"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("n_hit"), lit(0L)).as("n_hit"))
  }

  /** One-shot IVF top-k (build + query). Approximate — recall measured
    * against bruteForceTopK in the spec suite. Training is a build
    * artifact, not a per-query cost: for many query batches over one
    * corpus, use `ivfBuild` + `ivfQuery` and persist the index.
    */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 64, nprobe: Int = 8, trainIters: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
  ): DataFrame =
    ivfQuery(ivfBuild(corpus, nlist, trainIters, idCol, vecCol), queries, k, nprobe)
}
