package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity partition: product quantization — the compressed-corpus half
  * of the standard IVF-PQ architecture for billion-vector ANN [Jégou,
  * Douze, Schmid, "Product Quantization for Nearest Neighbor Search",
  * TPAMI 2011]. The vector is split into `m` equal subspaces; each slice is
  * quantized to the nearest of `ksub` per-subspace codewords, so a
  * dim-float vector stores as m small codes (dim·4 bytes → m bytes at
  * ksub ≤ 256 — 32× at the repo's 64-dim/m=8 defaults), and search scores
  * against codeword reconstructions instead of raw vectors.
  *
  * Scale shape (100 TB): training reads a BOUNDED hash-ordered sample
  * (TakeOrderedAndProject — O(ksub·sampleMult·dim) driver memory at any
  * corpus size, the kmeansCentroids rule) and Lloyd-iterates on the driver
  * over that sample only; encoding is one narrow codegen'd pass (the
  * PqEncodeCodes kernel — no shuffle, no row explosion); the encoded
  * corpus is the BUILD-ONCE ARTIFACT a query batch scores against
  * (reconstruct + VecDot fused in one projection, queries broadcast,
  * WindowGroupLimit top-k — the bruteForceTopK shape over a corpus that
  * now fits in a fraction of the memory). Compose with the IVF partition
  * for IVF-PQ: `ivfBuild` buckets prune the scan, PQ codes shrink what the
  * probed buckets scan.
  *
  * Determinism: the sample and seeds are hash-ordered, driver-side Lloyd
  * folds in fixed sample order, assignment ties break to the lower code,
  * and the encode kernel accumulates squared diffs in element order — with
  * `iters = 0` the codebooks are exact slices of corpus vectors and the
  * whole encode→reconstruct→ADC pipeline replays in DuckDB bit-for-bit
  * (the emb_ivf_recall machinery).
  */
trait SimilarityPq { self: Similarity.type =>

  /** Trained PQ codebooks: `books(s)(c)` is codeword c of subspace s
    * (dim/m doubles). Driver-held, like the IVF coarse quantizer; persist
    * alongside the encoded corpus as the index artifact.
    */
  case class PqBooks(m: Int, books: Seq[Seq[Seq[Double]]]) {
    def ksub: Int = if (books.isEmpty) 0 else books.head.size
    def dsub: Int = if (books.isEmpty || books.head.isEmpty) 0 else books.head.head.size
  }

  /** Train per-subspace codebooks on a bounded hash-ordered sample.
    *
    * `iters = 0` pins the codebooks to slices of the `ksub` hash-smallest
    * corpus vectors, ordered by id (the `centroids()` convention) — the
    * oracle-replayable path. With `iters > 0`, each subspace seeds from
    * its first `ksub` DISTINCT slices in hash order (duplicate seeds would
    * freeze their twin codes — the kmeansCentroids dedup rule, applied per
    * subspace since codebooks are independent) and runs Lloyd with
    * lower-code tie-breaks and keep-previous empty-cluster handling; all
    * folds run in fixed sample order, so retraining is reproducible.
    */
  def pqTrain(corpus: DataFrame, m: Int = 8, ksub: Int = 16, iters: Int = 4,
              sampleMult: Int = 32,
              idCol: String = "vec_id", vecCol: String = "embedding"): PqBooks = {
    // iters = 0 uses only the first ksub rows — don't collect the 32×
    // larger Lloyd sample for a path that ignores it
    val need = if (iters <= 0) ksub else ksub * math.max(sampleMult, 1)
    val rows = corpus
      .select(col(idCol).as("id"),
        transform(col(vecCol), x => x.cast("double")).as("v"))
      .orderBy(xxhash64(col("id")).asc, col("id").asc)
      .limit(need)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    require(rows.nonEmpty, "pqTrain: empty corpus")
    val dim = rows(0)._2.length
    require(dim % m == 0, s"pqTrain: dim $dim not divisible by m = $m")
    val dsub = dim / m
    def slice(v: Array[Double], s: Int): Array[Double] =
      java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub)
    val books = (0 until m).map { s =>
      var book: Array[Array[Double]] =
        if (iters <= 0) {
          // oracle convention: first ksub rows in hash order, codes by id asc
          rows.take(ksub).sortBy(_._1).map(r => slice(r._2, s))
        } else {
          val distinct = rows.iterator.map(r => slice(r._2, s))
            .map(_.toSeq).distinct.take(ksub).map(_.toArray).toArray
          // fewer distinct slices than ksub: pad with repeats (harmless —
          // the duplicate codes simply never win the strict-< argmin)
          Array.tabulate(math.max(ksub, 1))(i => distinct(i % distinct.length))
        }
      var it = 0
      while (it < iters) {
        val sums = Array.fill(book.length, dsub)(0.0)
        val counts = new Array[Long](book.length)
        rows.foreach { case (_, v) =>
          val x = slice(v, s)
          var best = -1; var bestD = Double.MaxValue
          var c = 0
          while (c < book.length) {
            var d2 = 0.0; var i = 0
            while (i < dsub) { val d = x(i) - book(c)(i); d2 += d * d; i += 1 }
            if (d2 < bestD) { bestD = d2; best = c }
            c += 1
          }
          var i = 0
          while (i < dsub) { sums(best)(i) += x(i); i += 1 }
          counts(best) += 1
        }
        book = Array.tabulate(book.length) { c =>
          if (counts(c) == 0) book(c) // empty cluster keeps its codeword
          else Array.tabulate(dsub)(i => sums(c)(i) / counts(c))
        }
        it += 1
      }
      book.map(_.toSeq).toSeq
    }
    PqBooks(m, books)
  }

  /** Encode the corpus: one narrow kernel pass → (id, codes array<int>).
    * This is the persistable artifact (m small ints per vector); encoding
    * never shuffles and appending a crawl batch is encoding it — the
    * frozen-codebook regime, same as `ivfAppend`.
    */
  def pqEncode(corpus: DataFrame, books: PqBooks,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    corpus.select(col(idCol),
      graft.functions.VectorFunctions.pqEncodeCodes(col(vecCol), books.books).as("codes"))

  /** Reconstruction column for an encoded `codes` column (exact codeword
    * concatenation — no float arithmetic).
    */
  def pqReconstructCol(codes: Column, books: PqBooks): Column =
    graft.functions.VectorFunctions.pqReconstruct(codes, books.books)

  /** ADC top-k over an ENCODED corpus: score = dot(query, reconstruction),
    * which equals the classic per-subspace ADC table sum Σ_s
    * dot(q_s, codeword(x_s)) — computed here as one full-dim index-order
    * fold so the ranking bits are engine-reproducible. Approximate in the
    * PQ sense (scores quantize the corpus side); spec-measured against the
    * exact dot-product ranking. Output (query_id, rnk, neighbor_id, adc_r)
    * with (adc DESC, id ASC) tie-breaks.
    */
  def pqTopK(encoded: DataFrame, queries: DataFrame, k: Int, books: PqBooks,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val enc = encoded.select(col(idCol).as("neighbor_id"),
      pqReconstructCol(col("codes"), books).as("rv"))
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val scored = enc.join(q, col("neighbor_id") =!= col("query_id"))
      .withColumn("adc", dot(col("qv"), col("rv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("neighbor_id").asc)
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        round(col("adc"), 4).as("adc_r"))
  }

  /** One-shot train + encode + ADC search (the ivfTopK convenience shape;
    * for query-many production use, train once, persist `pqEncode`, and
    * call `pqTopK` per batch).
    */
  def pqTopKTrained(corpus: DataFrame, queries: DataFrame, k: Int,
                    m: Int = 8, ksub: Int = 16, iters: Int = 4,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val books = pqTrain(corpus, m, ksub, iters, idCol = idCol, vecCol = vecCol)
    pqTopK(pqEncode(corpus, books, idCol, vecCol), queries, k, books, idCol, vecCol)
  }

  /** A built IVF-PQ index: the coarse quantizer prunes which corpus rows a
    * query scans (`nprobe` of `nlist` buckets), the PQ codes shrink what
    * the probed rows cost to score — together the standard billion-vector
    * serving shape [Jégou et al. 2011; the FAISS `IVFx,PQy` factory
    * string]. Codes quantize the RESIDUAL x − centroid(x), not the raw
    * vector: raw-vector codes spend their whole resolution on the
    * between-cluster variance the coarse quantizer already removed, and
    * within-bucket ranking collapses to noise — measured on the 1M
    * clustered probe (1000 clusters, nlist 1000, nprobe 32, ksub 256),
    * raw-vector ADC recall\@10 was 0.012 (random-within-cluster) vs the
    * residual form's 0.218 at m=8 and 0.376 at m=16; the refine stage
    * ([[ivfPqQueryRefined]], refineMult 8) lifts those to 0.544 / 0.688.
    * The remaining gap is the within-cluster noise floor of this
    * adversarial geometry — the tuning axes are m, nprobe, refineMult.
    * `encoded` holds (id, bucket, codes): m+1 small integers per vector,
    * the whole searchable corpus at ~(m+8)/(4·dim) of the raw footprint.
    * BUILD-ONCE ARTIFACT like [[IvfIndex]]: persist `encoded` partitioned
    * by bucket and the two quantizers alongside.
    */
  case class IvfPqIndex(encoded: DataFrame, ids: Seq[Long], mat: Seq[Seq[Double]],
                        books: PqBooks, idCol: String, vecCol: String)

  /** The ≤nlist-row centroid relation (bucket, __cent) — broadcast
    * wherever a row needs its centroid back (residual computation,
    * ADC reconstruction).
    */
  private def centRelation(spark: org.apache.spark.sql.SparkSession,
                           ids: Seq[Long], mat: Seq[Seq[Double]]): DataFrame = {
    import spark.implicits._
    ids.zip(mat.map(_.toSeq)).toDF("bucket", "__cent")
  }

  /** (id, bucket, __resid) for a batch under a frozen coarse quantizer:
    * one narrow assignment-kernel pass plus a ≤nlist-row broadcast join.
    */
  private def residuals(batch: DataFrame, ids: Seq[Long], mat: Seq[Seq[Double]],
                        idCol: String, vecCol: String): DataFrame =
    batch.select(col(idCol), col(vecCol),
        element_at(graft.functions.VectorFunctions.nearestCentroids(
          col(vecCol), ids, mat, 1), 1).as("bucket"))
      .join(broadcast(centRelation(batch.sparkSession, ids, mat)), Seq("bucket"))
      .select(col(idCol), col("bucket"),
        // elementwise subtract as a native kernel (round 15, DESIGN §18):
        // zip_with is CodegenFallback; identical per-element arithmetic
        graft.functions.VectorFunctions.vecSub(col(vecCol), col("__cent"))
          .as("__resid"))

  /** Train the coarse quantizer, then the PQ codebooks ON THE RESIDUALS,
    * then encode every corpus row — assignment and encode are narrow
    * passes (the only join is the ≤nlist-row centroid broadcast).
    * `trainIters`/`pqIters` = 0 pin both quantizers to the hash-ordered
    * seed set for oracle replay.
    */
  def ivfPqBuild(corpus: DataFrame, nlist: Int = 64, m: Int = 8, ksub: Int = 16,
                 trainIters: Int = 4, pqIters: Int = 4,
                 idCol: String = "vec_id", vecCol: String = "embedding"): IvfPqIndex = {
    val (ids, mat) =
      if (trainIters <= 0) collectCentroids(centroids(corpus, nlist, idCol, vecCol))
      else kmeansCentroids(corpus, nlist, trainIters, sampleMult = 32, idCol, vecCol)
    // pre-sample the TRAINING rows by the same hash order pqTrain uses
    // (identical row set — xxhash64(id) + limit commute with the residual
    // projection), so the nlist×dim assignment kernel runs over the
    // bounded sample for training and corpus-wide exactly ONCE, in the
    // encode pass. Feeding pqTrain the full residual relation made the
    // TakeOrdered evaluate the assignment for every corpus row and the
    // encode repeat it — 2× the build's dominant cost at probe scale.
    val trainRows = corpus
      .orderBy(xxhash64(col(idCol)).asc, col(idCol).asc)
      .limit(if (pqIters <= 0) ksub else ksub * 32)
    val books = pqTrain(residuals(trainRows, ids, mat, idCol, vecCol),
      m, ksub, pqIters, idCol = idCol, vecCol = "__resid")
    IvfPqIndex(encodeInto(residuals(corpus, ids, mat, idCol, vecCol), books, idCol),
      ids, mat, books, idCol, vecCol)
  }

  private def encodeInto(resid: DataFrame, books: PqBooks, idCol: String): DataFrame =
    resid.select(col(idCol), col("bucket"),
      graft.functions.VectorFunctions.pqEncodeCodes(col("__resid"), books.books).as("codes"))

  /** Frozen-quantizer append, the `ivfAppend` regime: a crawl batch joins
    * the index at O(batch) — one narrow encode pass, existing rows
    * untouched (neither quantizer moves, so neither do assignments nor
    * codes).
    */
  def ivfPqAppend(index: IvfPqIndex, batch: DataFrame): IvfPqIndex =
    index.copy(encoded = index.encoded.unionByName(
      encodeInto(residuals(batch, index.ids, index.mat, index.idCol, index.vecCol),
        index.books, index.idCol)))

  /** Probe-then-ADC search: the `nprobe` nearest buckets per query are
    * scanned (everything else is pruned), and the scanned rows score as
    * dot(query, centroid + residual-reconstruction) — centroid broadcast,
    * decode + add + VecDot fused in one projection over the probed slice.
    * Output shape/tie-breaks identical to [[pqTopK]].
    */
  def ivfPqQuery(index: IvfPqIndex, queries: DataFrame, k: Int,
                 nprobe: Int = 8): DataFrame = {
    import index._
    val probes = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .select(col("query_id"), col("qv"),
        explode(graft.functions.VectorFunctions.nearestCentroids(
          col("qv"), ids, mat, nprobe)).as("bucket"))
    val scored = encoded
      .join(broadcast(probes), Seq("bucket"))
      .join(broadcast(centRelation(encoded.sparkSession, ids, mat)), Seq("bucket"))
      .filter(col(idCol) =!= col("query_id"))
      // fused ADC per probed candidate pair — native kernel (round 15,
      // DESIGN §18): 1M probe 7.4 → 0.9 s; Σ q·(cent + recon) in the same
      // element order as dot(q, zip_with(+)), so adc bits are unchanged.
      .withColumn("adc", graft.functions.VectorFunctions.vecDotPlus(col("qv"),
        col("__cent"), pqReconstructCol(col("codes"), books)))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col(idCol).asc)
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col(idCol).as("neighbor_id"),
        round(col("adc"), 4).as("adc_r"))
  }

  /** Over-retrieve-then-refine: ADC-rank the probed slice to `refineMult·k`
    * candidates, join the survivors back to the RAW corpus by id (the only
    * touch of full-precision vectors — k·refineMult rows per query, the
    * FAISS refine stage), and re-rank by exact dot. This is how production
    * ANN recovers exact-ranking quality from lossy codes: the codes decide
    * WHO gets scored exactly, never the final order.
    */
  def ivfPqQueryRefined(index: IvfPqIndex, corpus: DataFrame, queries: DataFrame,
                        k: Int, nprobe: Int = 8, refineMult: Int = 4): DataFrame = {
    import index._
    val cand = ivfPqQuery(index, queries, k * refineMult, nprobe)
      .select(col("query_id"), col("neighbor_id"))
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val exact = cand
      .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")), "neighbor_id")
      .join(q, Seq("query_id"))
      .withColumn("score", dot(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    exact.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        round(col("score"), 4).as("score_r"))
  }

  /** Per-vector squared reconstruction error UNDER THE COMPOSITE INDEX —
    * the residual-space twin of [[pqDistortion]]: assign to the frozen
    * coarse quantizer, take the residual, encode with the frozen
    * codebooks, and measure ‖resid − recon‖². This is the staleness
    * monitor for the frozen-codebook append regime ([[ivfPqAppend]]): as
    * a crawl drifts away from the training snapshot, residuals leave the
    * codebooks' coverage and distortion mass slides upward — the same
    * recall-loss signal `ivfAssignScores` gives the coarse half. One
    * narrow kernel pass + the ≤nlist-row centroid broadcast; the fold is
    * index-order and rounded ONCE at the 2-dp monitor lattice (the
    * `ivfAssignScores` acos convention — a 4-dp intermediate round
    * manufactures exact .xx50 halves that a second 2-dp round splits
    * differently across engines; measured one bucket-flip per ~1000
    * vectors at sf0.1).
    */
  def ivfPqDistortion(index: IvfPqIndex, batch: DataFrame): DataFrame = {
    import index._
    val res = residuals(batch, ids, mat, idCol, vecCol)
    val rv = pqReconstructCol(
      graft.functions.VectorFunctions.pqEncodeCodes(col("__resid"), books.books), books)
    res.select(col(idCol),
      // L2² fold as a native kernel (round 15, DESIGN §18: 1M probe
      // 1.1 → 0.4 s) — same index-order (x−y)² accumulation
      round(graft.functions.VectorFunctions.vecL2Sq(col("__resid"), rv), 2)
        .as("pq_err_r"))
  }

  /** Drift-gated rebuild for the COMPOSITE index — `ivfMaybeRebuild`
    * extended to IVF-PQ (round 11: the frozen-codebook append regime has
    * the same drift exposure its coarse half got gated for in round 10).
    * `driftReport` is `Analytics.scoreDrift(refDistortion, batchDistortion,
    * "pq_err_r")` over [[ivfPqDistortion]] outputs (training snapshot vs
    * the incoming batch); TVD = Σ d_ppm / 2·10⁶ over the distortion
    * lattice. At or below `tvdThreshold` the SAME index returns
    * (`eq`-identical — append-only continues for free). Above it, BOTH
    * quantizers retrain on `corpus` — the caller passes the raw current
    * corpus because, unlike `IvfIndex.bucketed`, the encoded artifact
    * deliberately no longer carries full-precision vectors (that is the
    * 32× compression), so a rebuild is a fresh [[ivfPqBuild]] over the
    * source-of-truth relation. nlist/m/ksub carry over from the index;
    * geometry changes are a new build, not a rebuild.
    */
  def ivfPqMaybeRebuild(index: IvfPqIndex, corpus: DataFrame,
                        driftReport: DataFrame, tvdThreshold: Double = 0.1,
                        trainIters: Int = 4, pqIters: Int = 4): IvfPqIndex = {
    val row = driftReport.agg(coalesce(sum(col("d_ppm")), lit(0.0)).as("s")).head()
    val tvd = row.getDouble(0) / 2e6
    if (tvd <= tvdThreshold) index
    else ivfPqBuild(corpus, nlist = index.ids.size, m = index.books.m,
      ksub = index.books.ksub, trainIters = trainIters, pqIters = pqIters,
      idCol = index.idCol, vecCol = index.vecCol)
  }

  /** Per-vector squared reconstruction error — the codebook-quality census
    * (PQ's distortion objective, the number `iters` is spent minimizing).
    * Index-order fold over (v − recon)², so the 4-dp rounded output is
    * engine-exact. One narrow pass; at scale this is the monitor that
    * decides when drifted data has outgrown frozen codebooks (the
    * `ivfMaybeRebuild` pattern applies verbatim).
    */
  def pqDistortion(corpus: DataFrame, books: PqBooks,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val rv = pqReconstructCol(
      graft.functions.VectorFunctions.pqEncodeCodes(col(vecCol), books.books), books)
    corpus.select(col(idCol),
      // same kernel as ivfPqDistortion (round 15); float elements widen
      // per side exactly as the cast in the HOF form did
      round(graft.functions.VectorFunctions.vecL2Sq(col(vecCol), rv), 4)
        .as("pq_err_r"))
  }
}
