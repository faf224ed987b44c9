package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class SimilarityPqSpec extends AnyFunSuite {
  import TestSpark.{spark, sf0001}
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")

  test("pqEncode: m codes in [0, ksub), identical through a reshuffle") {
    val books = Similarity.pqTrain(emb, m = 8, ksub = 16, iters = 2)
    val codes = Similarity.pqEncode(emb, books)
      .as[(Long, Seq[Int])].collect().sortBy(_._1)
    assert(codes.nonEmpty)
    codes.foreach { case (_, cs) =>
      assert(cs.length == 8)
      cs.foreach(c => assert(c >= 0 && c < 16))
    }
    val again = Similarity.pqEncode(emb.repartition(13), books)
      .as[(Long, Seq[Int])].collect().sortBy(_._1)
    assert(codes.toSeq == again.toSeq, "encoding must be partition-order independent")
  }

  test("pqTrain iters=0: codebooks are exact slices of the hash-smallest vectors by id") {
    val books = Similarity.pqTrain(emb, m = 8, ksub = 16, iters = 0)
    val seeds = emb
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))
      .orderBy(xxhash64($"vec_id").asc, $"vec_id".asc).limit(16)
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    assert(books.m == 8 && books.ksub == 16 && books.dsub == 8)
    for (s <- 0 until 8; c <- 0 until 16)
      assert(books.books(s)(c) == seeds(c)._2.slice(s * 8, s * 8 + 8),
        s"codebook ($s, $c) is not the seed slice")
  }

  test("Lloyd refinement does not increase training-set distortion (iters 4 <= iters 1)") {
    // at sf0.001 the 16·32 sample covers the whole 500-vector corpus, so
    // corpus distortion IS the Lloyd objective and must be non-increasing
    // across iterations of the same init path
    def total(iters: Int): Double = {
      val books = Similarity.pqTrain(emb, m = 8, ksub = 16, iters = iters)
      Similarity.pqDistortion(emb, books).agg(sum($"pq_err_r")).as[Double].head()
    }
    val d1 = total(1); val d4 = total(4)
    assert(d4 <= d1 + 1e-6, s"Lloyd objective rose: iters=1 $d1 -> iters=4 $d4")
    assert(d1 > 0.0) // 16 codewords cannot represent 500 distinct vectors exactly
  }

  test("pqTopK: ADC ranking recalls the exact dot-product top-k usably") {
    val queries = emb.filter($"vec_id" < 10)
    val adc = Similarity.pqTopKTrained(emb, queries, 10, m = 8, ksub = 16, iters = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // exact dot-product (MIPS) top-k, same tie-breaks
    val exact = exactDotTopK(emb, queries, 10)
    assert(adc.size == exact.size) // full k per query either way
    val recall = (adc intersect exact).size.toDouble / exact.size
    assert(recall >= 0.15, s"ADC recall $recall collapsed (random would be ~0.02)")
  }

  // clustered corpus (the 1M-vector probe shape — what trained-model embedding
  // spaces look like): 50 tight clusters, center + 15% noise. The corpus
  // where residual-vs-raw coding is decided: within a cluster, vectors
  // differ ONLY at noise scale, below raw-code quantization error.
  private lazy val clustered = {
    val cid = pmod(xxhash64($"id"), lit(50L))
    spark.range(4000).select(
      $"id".as("vec_id"),
      transform(sequence(lit(0), lit(63)), i => {
        val center = (pmod(xxhash64(cid, i), lit(2001L)).cast("double") - 1000.0) / 1000.0
        val noise = (pmod(xxhash64($"id", i, lit(11)), lit(2001L)).cast("double") - 1000.0) / 1000.0
        center + noise * 0.15
      }).as("embedding")).localCheckpoint()
  }

  private def exactDotTopK(corpus: org.apache.spark.sql.DataFrame,
                           queries: org.apache.spark.sql.DataFrame,
                           k: Int): Set[(Long, Long)] =
    Similarity.dotTopK(corpus, queries, k)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet

  test("residual coding is the difference between working and collapsed ANN on clustered data") {
    val queries = clustered.filter($"vec_id" < 10)
    val exact = exactDotTopK(clustered, queries, 10)
    // raw-vector codes: all resolution spent on between-cluster variance
    val raw = Similarity.pqTopKTrained(clustered, queries, 10,
        m = 8, ksub = 64, iters = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // residual codes under the SAME (m, ksub) budget, full probe (no
    // pruning effect)
    val index = Similarity.ivfPqBuild(clustered, nlist = 50, m = 8, ksub = 64,
      trainIters = 2, pqIters = 4)
    val res = Similarity.ivfPqQuery(index, queries, 10, nprobe = 50)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val rawRecall = (raw intersect exact).size.toDouble / exact.size
    val resRecall = (res intersect exact).size.toDouble / exact.size
    // the corpus is hash-deterministic, so these are exact reproductions,
    // not flaky statistics: measured raw=0.18 residual=0.36 (2.0×) — codes
    // spent on between-cluster variance vs zoomed into the cluster. The
    // refine stage (next test) takes the residual form to ≥0.9.
    assert(resRecall >= rawRecall * 1.7,
      s"residual coding must dominate raw coding here: raw=$rawRecall residual=$resRecall")
    assert(resRecall >= 0.3, s"residual ADC recall $resRecall collapsed")
    assert(rawRecall <= 0.25, s"raw coding unexpectedly healthy ($rawRecall) — corpus no longer clustered?")
    // partial probe: still k rows per query
    val pruned = Similarity.ivfPqQuery(index, queries, 10, nprobe = 8)
      .groupBy($"query_id").count().as[(Long, Long)].collect()
    pruned.foreach { case (_, n) => assert(n == 10L) }
  }

  test("ivfPqQueryRefined: exact rerank of ADC candidates recovers exact-ranking order") {
    val queries = clustered.filter($"vec_id" < 10)
    val index = Similarity.ivfPqBuild(clustered, nlist = 50, m = 8, ksub = 16,
      trainIters = 2, pqIters = 4)
    // with a full probe and a generous refine pool, the refined top-k must
    // BE the exact dot top-k whenever the pool contains it; measure the
    // end-to-end recall jump over unrefined ADC
    val exact = exactDotTopK(clustered, queries, 10)
    val adc = Similarity.ivfPqQuery(index, queries, 10, nprobe = 50)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val refined = Similarity.ivfPqQueryRefined(index, clustered, queries, 10,
        nprobe = 50, refineMult = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val adcR = (adc intersect exact).size.toDouble / exact.size
    val refR = (refined intersect exact).size.toDouble / exact.size
    assert(refR >= adcR, s"refine must not lose recall: adc=$adcR refined=$refR")
    assert(refR >= 0.9, s"refined recall $refR — the refine stage is broken")
    // refined scores are EXACT dots: spot-check one row against Similarity.dot
    val row = Similarity.ivfPqQueryRefined(index, clustered, queries, 1,
        nprobe = 50, refineMult = 8)
      .select("query_id", "neighbor_id", "score_r")
      .as[(Long, Long, Double)].head()
    val want = clustered.filter($"vec_id" === row._1).select($"embedding".as("a"))
      .crossJoin(clustered.filter($"vec_id" === row._2).select($"embedding".as("b")))
      .select(round(Similarity.dot($"a", $"b"), 4)).as[Double].head()
    assert(row._3 == want)
  }

  test("ivfPqAppend: frozen quantizers, appended == one-shot encode of the union") {
    val old = emb.filter($"vec_id" % 2 === 0)
    val base = Similarity.ivfPqBuild(old, nlist = 20, m = 8, ksub = 16,
      trainIters = 2, pqIters = 2)
    val appended = Similarity.ivfPqAppend(base, emb.filter($"vec_id" % 2 === 1))
    val queries = emb.filter($"vec_id" < 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    // one-shot: same quantizers applied to the whole union in one pass
    val oneShot = Similarity.ivfPqAppend(
      base.copy(encoded = base.encoded.limit(0)), emb)
    assert(rows(Similarity.ivfPqQuery(appended, queries, 5, nprobe = 4)) ==
      rows(Similarity.ivfPqQuery(oneShot, queries, 5, nprobe = 4)))
  }

  test("encoded corpus persists to parquet and answers identically to in-memory") {
    val books = Similarity.pqTrain(emb, m = 8, ksub = 16, iters = 2)
    val enc = Similarity.pqEncode(emb, books)
    val dir = java.nio.file.Files.createTempDirectory("graft-pq").toFile.getAbsolutePath
    enc.write.mode("overwrite").parquet(s"$dir/codes")
    val reloaded = spark.read.parquet(s"$dir/codes")
    val queries = emb.filter($"vec_id" < 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(rows(Similarity.pqTopK(reloaded, queries, 5, books)) ==
      rows(Similarity.pqTopK(enc, queries, 5, books)))
  }
}
