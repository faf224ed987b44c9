package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._
import Shared._

/** Dedup: exact and near-duplicate detection, and the cluster artifact. */
object DedupQueries {
  // Build-once duplicate-cluster artifact shared by the three cluster
  // consumers (dedup_clusters / dedup_cluster_sizes / dedup_keep_best).
  // At 100 TB the (id, rep) assignment is a parquet table written by ONE
  // build job (Dedup.clusterBuild) and read by every report — nobody runs
  // MinHash + connected components three times. In-session this memo IS
  // that artifact: built and persisted once per (session, sf dir),
  // serialized storage (compact longs), and deliberately NOT
  // Cleanup-registered so the harness's per-query drain can't evict it
  // between independent consumer queries. Lineage stays intact, so an
  // evicted block recomputes instead of failing.
  private[graft] val clusterArtifact: SessionMemo[DataFrame] = new SessionMemo((s, dir) =>
    Dedup.clusterBuild(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))

  val specs: Seq[QuerySpec] = Seq(
    // ---- dedup (SURVEY §2.3 extension surface) ----
    QuerySpec("dedup_exact_groups", (s, dir) =>
      Dedup.exactDupGroups(
          t(s, dir, "documents").withColumn("prefix80", substring(col("text"), 1, 80)),
          "prefix80", "doc_id")
        .orderBy(col("prefix80")), oracleSql =
        "SELECT substr(text, 1, 80) AS prefix80, min(doc_id) AS keeper_id, count(*) AS dup_count FROM documents GROUP BY prefix80 ORDER BY prefix80"),
    QuerySpec("dedup_exact_keep", (s, dir) =>
      Dedup.exactDedup(
          t(s, dir, "documents").withColumn("prefix80", substring(col("text"), 1, 80)),
          "prefix80", "doc_id")
        .select(col("doc_id")).orderBy(col("doc_id")), oracleSql =
        "SELECT doc_id FROM documents WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY substr(text, 1, 80)) ORDER BY doc_id"),
    QuerySpec("dedup_ngram_jaccard", (s, dir) =>
      Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text", 3, 0.5)
        .orderBy(col("id_a"), col("id_b")), oracleSql = jaccardSql, oracleOnly = true),
    QuerySpec("dedup_containment", (s, dir) =>
      // ASYMMETRIC containment C(a→b) = |Sₐ∩S_b|/|Sₐ| ≥ 0.6 — the
      // quote-inclusion detector Jaccard structurally misses (a short doc
      // embedded in a long one has J ≈ 0 but C = 1); candidates from a
      // df-capped shared-gram join (cap 100 ≈ 4× the hottest legitimate
      // gram at sf0.1), never an all-pairs product — see
      // Dedup.containmentPairs for the cap's documented miss direction
      Dedup.containmentPairs(t(s, dir, "documents"), "doc_id", "text", 3,
          threshold = 0.6, maxDf = 100)
        .orderBy(col("id_a"), col("id_b")), oracleSql =
        // directed containment with the SAME df-cap the operator applies
        // (cap replayed, so the recall trade is value-checked); explicit
        // DOUBLE division matches Spark's cast-then-divide bit-for-bit
        s"""WITH toks AS (SELECT doc_id, $toks AS w FROM documents),
           |grams AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS g
           |          FROM toks, unnest(generate_series(1, greatest(len(w)-2, 1))) AS t(i)),
           |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
           |cool AS (SELECT g FROM (SELECT g, count(*) AS df FROM grams GROUP BY g)
           |         WHERE df <= 100),
           |bg AS (SELECT doc_id, g FROM grams JOIN cool USING (g)),
           |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
           |          FROM bg a JOIN bg b ON a.g = b.g AND a.doc_id <> b.doc_id
           |          GROUP BY 1, 2)
           |SELECT id_a, id_b, round(CAST(c AS DOUBLE) / sa.n, 4) AS containment
           |FROM inter JOIN sizes sa ON sa.doc_id = id_a
           |WHERE CAST(c AS DOUBLE) / sa.n >= 0.6 ORDER BY id_a, id_b""".stripMargin),
    QuerySpec("dedup_exact_cross", (s, dir) => {
      // cross-corpus EXACT dedup through the new fingerprint-artifact
      // seam: fresh crawl docs (odd ids) whose 80-char prefix is
      // verbatim-present in the training set (even ids) — one anti/semi
      // join on the 16-byte fingerprint keys; this query wires the flag
      // form (the decontamination report). The oracle compares raw
      // prefix strings, so a fingerprint collision fails loudly.
      val d = t(s, dir, "documents")
        .withColumn("prefix80", substring(col("text"), 1, 80))
      val idx = Dedup.exactBuild(d.filter(col("doc_id") % 2 === 0), "prefix80")
      Dedup.exactFlagsWith(d.filter(col("doc_id") % 2 === 1), idx,
          "prefix80", "doc_id")
        .orderBy(col("doc_id"))
    }, oracleSql =
        """SELECT n.doc_id FROM documents n
          |WHERE n.doc_id % 2 = 1 AND EXISTS (
          |  SELECT 1 FROM documents r WHERE r.doc_id % 2 = 0
          |  AND substr(r.text, 1, 80) = substr(n.text, 1, 80))
          |ORDER BY n.doc_id""".stripMargin),
    QuerySpec("dedup_containment_cross", (s, dir) => {
      // cross-corpus containment through the Build/With seam: flag fresh
      // crawl docs (odd ids) ≥60% contained in some training doc (even
      // ids), best reference per new doc; the df cap counts the
      // REFERENCE side only (batch-invariant — the crossCorpusNearDups
      // rule), replayed by the oracle
      val d = t(s, dir, "documents")
      Dedup.crossCorpusContainment(
          d.filter(col("doc_id") % 2 === 1), d.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", 3, threshold = 0.6, maxDf = 100)
        .orderBy(col("id_new"))
    }, oracleSql =
        // reference-side-only df cap (batch-invariant), best match per
        // new doc by (containment DESC, ref id ASC) — exact-division
        // tie-break parity with the Spark max(struct) argmax
        s"""WITH toks AS (SELECT doc_id, $toks AS w FROM documents),
           |grams AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS g
           |          FROM toks, unnest(generate_series(1, greatest(len(w)-2, 1))) AS t(i)),
           |rg0 AS (SELECT doc_id AS id_ref, g FROM grams WHERE doc_id % 2 = 0),
           |cool AS (SELECT g FROM (SELECT g, count(*) AS df FROM rg0 GROUP BY g)
           |         WHERE df <= 100),
           |rg AS (SELECT id_ref, rg0.g FROM rg0 JOIN cool USING (g)),
           |ng AS (SELECT doc_id AS id_new, g FROM grams WHERE doc_id % 2 = 1),
           |sizes AS (SELECT doc_id AS id_new, count(*) AS n FROM grams
           |          WHERE doc_id % 2 = 1 GROUP BY 1),
           |inter AS (SELECT id_new, id_ref, count(*) AS c FROM ng JOIN rg USING (g)
           |          GROUP BY 1, 2),
           |sc AS (SELECT inter.id_new, id_ref, CAST(c AS DOUBLE) / s.n AS cont
           |       FROM inter JOIN sizes s ON s.id_new = inter.id_new
           |       WHERE CAST(c AS DOUBLE) / s.n >= 0.6),
           |best AS (SELECT id_new, id_ref, cont, row_number() OVER
           |         (PARTITION BY id_new ORDER BY cont DESC, id_ref ASC) AS rnk FROM sc)
           |SELECT id_new, id_ref AS matched_ref, round(cont, 4) AS best_containment
           |FROM best WHERE rnk = 1 ORDER BY id_new""".stripMargin),
    QuerySpec("dedup_minhash_lsh", (s, dir) => // oracle-checked: recall is exact at test SFs
      Dedup.minHashNearDups(t(s, dir, "documents"), "doc_id", "text",
          shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)
        .orderBy(col("id_a"), col("id_b")), oracleSql = jaccardSql),
    QuerySpec("dedup_lsh_quality", (s, dir) => {
      // the banding-parameter audit: exact-Jaccard decile census of the
      // shared-shingle pair universe with the (16×4) banding's detection
      // flag — recall reads off the high bands, detected mass below the
      // threshold is the precision cost (Dedup.lshQualityCensus; bands
      // by INTEGER (inter·10) div union, immune to engine rounding).
      // The raw corpus only populates the curve's ENDS (J≈0 incidental
      // overlap, J≥0.9 planted near-dups), so every 5th doc gets a
      // 2/3-prefix twin PLANTED (the docs_boilerplate augmentation rule:
      // the probabilistic mid-curve region is exactly what this audit
      // exists to measure, and an S-curve sampled only at its asymptotes
      // is vacuous) — integer char arithmetic, replayed by the oracle
      val d = t(s, dir, "documents")
      val twins = d.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + lit(10000000L)).as("doc_id"),
          expr("substr(text, 1, CAST(length(text) * 2 DIV 3 AS INT))").as("text"))
      Dedup.lshQualityCensus(
          d.select(col("doc_id"), col("text")).unionByName(twins), "doc_id", "text")
        .orderBy(col("jband"))
    }, oracleSql = OracleHashSql.lshQualityCensusSql(docsSelect =
        // the 2/3-prefix twin plant replayed with the same integer char
        // arithmetic (DuckDB // == Spark DIV on positive ints)
        """SELECT doc_id AS id, text FROM documents
          |UNION ALL
          |SELECT doc_id + 10000000 AS id,
          |  substr(text, 1, CAST(length(text) * 2 // 3 AS INT)) AS text
          |FROM documents WHERE doc_id % 5 = 0""".stripMargin)),
    QuerySpec("dedup_cross_corpus", (s, dir) => {
      // dedup the "fresh crawl" (odd doc ids) against the "training set"
      // (even ids): asymmetric LSH band join + exact-Jaccard verify; one
      // row per flagged new doc with its best reference match. Recall is
      // exact at test SFs (same banding regime dedup_minhash_lsh proves).
      // maxBucketSize wired NON-ZERO (round-8): a degenerate boilerplate
      // bucket of B members is B²·bands candidate pairs — quadratic in
      // the hot bucket. 1000 is ~20× the largest legitimate near-dup
      // cluster the corpus generator plants (probed: max combined bucket
      // size is 4 at sf0.1), so recall is untouched at every SF while a
      // mass-duplicated page can never blow the candidate join (DESIGN
      // §11 sizing rule; planted-hot-bucket leg in ScaleProbe).
      val d = t(s, dir, "documents")
      Dedup.crossCorpusNearDups(
          d.filter(col("doc_id") % 2 === 1), d.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", shingleN = 3, bands = 16, rowsPerBand = 4,
          threshold = 0.5, maxBucketSize = 1000)
        .orderBy(col("id_new"))
    }, oracleSql =
        // exact cross-half Jaccard (even ids = reference, odd = new),
        // best reference per new doc by (jaccard desc, ref id asc) — the
        // brute-force specification of the asymmetric LSH path
        s"""WITH toks AS (SELECT doc_id, $toks AS w FROM documents),
           |grams AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS g
           |          FROM toks, unnest(generate_series(1, greatest(len(w)-2, 1))) AS t(i)),
           |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
           |inter AS (SELECT b.doc_id AS id_new, a.doc_id AS id_ref, count(*) AS c
           |          FROM grams a JOIN grams b ON a.g = b.g
           |          WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1 GROUP BY 1, 2),
           |jac AS (SELECT id_new, id_ref, c * 1.0 / (sa.n + sb.n - c) AS j
           |        FROM inter JOIN sizes sa ON sa.doc_id = id_ref JOIN sizes sb ON sb.doc_id = id_new
           |        WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.5),
           |r AS (SELECT id_new, id_ref, j,
           |      row_number() OVER (PARTITION BY id_new ORDER BY j DESC, id_ref) AS rn FROM jac)
           |SELECT id_new, id_ref AS matched_ref, round(j, 4) AS best_jaccard
           |FROM r WHERE rn = 1 ORDER BY id_new""".stripMargin),
    QuerySpec("dedup_minhash_estimate", (s, dir) => // full oracle since round 9:
      // the verification-free path: signature-agreement Jaccard estimate
      // for every LSH candidate pair. The DuckDB oracle recomputes the
      // xxhash64-seeded signatures exactly (OracleHashSql), so the
      // estimates are value-hash-checked; accuracy vs exact Jaccard stays
      // spec-pinned.
      Dedup.minHashEstimatedPairs(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("id_a"), col("id_b")), oracleSql = OracleHashSql.minHashEstimateSql()),
    QuerySpec("dedup_simhash", (s, dir) => // full oracle since round 9: the DuckDB
      // oracle recomputes the 64-bit SimHash (xxhash64 per-token votes)
      // exactly and brute-forces the hamming<=3 join — pigeonhole banding
      // recall is exact, so brute force IS the op's semantics.
      Dedup.simHashNearDups(t(s, dir, "documents"), "doc_id", "text", maxHamming = 3)
        .orderBy(col("id_a"), col("id_b")), oracleSql =
        // round-9 promotions: the seeded-hash pair ops get FULL value oracles
        // by recomputing Spark's xxhash64 dialect in DuckDB SQL (XXH64
        // short-input path unrolled — see OracleHashSql scaladoc). Raw
        // corpus, natural near-pairs included; no planted-twin restriction.
        OracleHashSql.simhashNearDupsSql(maxHamming = 3)),
    QuerySpec("dedup_clusters", (s, dir) =>
      // pairs → duplicate CLUSTERS (connected components): every doc gets
      // its component's min id; the keep-one-per-cluster step pair
      // detection alone can't provide (near-dup isn't transitive).
      // Reads the shared build-once assignment artifact (clusterArtifact).
      clusterArtifact(s, dir)
        .select(col("id").as("doc_id"), col("rep").as("cluster_rep"))
        .orderBy(col("doc_id")), oracleSql =
        // connected components over the exact-Jaccard pair graph (== the
        // LSH pairs, spec-proven) via transitive-closure recursion
        s"""WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ($jaccardSql)),
           |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
           |          UNION ALL SELECT id_b, id_a FROM pairs),
           |reach(id, n) AS (
           |  SELECT doc_id, doc_id FROM documents
           |  UNION
           |  SELECT r.id, e.b FROM reach r JOIN edges e ON r.n = e.a)
           |SELECT id AS doc_id, min(n) AS cluster_rep
           |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin),
    QuerySpec("docs_leakage_split", (s, dir) =>
      // leakage-safe train/val/test split: the split is a pure function of
      // the near-dup COMPONENT representative (pmod(xxhash64(rep), 100)),
      // so a connected cluster of near-copies lands on one side of every
      // split boundary by construction — closing the near-copy train/eval
      // leakage content-hash splits admit (splitLeakage measures it; this
      // op zeroes it). One id-grain equi-join against the build-once
      // cluster artifact plus a scan-speed hash projection.
      TextAnalysis.leakageSafeSplit(t(s, dir, "documents"),
          clusterArtifact(s, dir), "doc_id")
        .select(col("doc_id"), col("cluster_rep"), col("split"))
        .orderBy(col("doc_id")), oracleSql = {
        // the dedup_clusters recursion, then Spark's xxhash64-of-BIGINT on
        // the component representative (xxh64LongChain closed form) → the
        // same pmod-100 train/val/test bucketing
        val (hashCtes, hashFinal) = OracleHashSql.xxh64LongChain("comp", "rep", "lk")
        val hashCteStr = hashCtes.map { case (n, q) => s"$n AS ($q)" }.mkString(",\n")
        s"""WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ($jaccardSql)),
           |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
           |          UNION ALL SELECT id_b, id_a FROM pairs),
           |reach(id, n) AS (
           |  SELECT doc_id, doc_id FROM documents
           |  UNION
           |  SELECT r.id, e.b FROM reach r JOIN edges e ON r.n = e.a),
           |comp AS (SELECT id, min(n) AS rep FROM reach GROUP BY id),
           |$hashCteStr,
           |b AS (SELECT id, rep, ((lkh % 100) + 100) % 100 AS bkt FROM $hashFinal)
           |SELECT id AS doc_id, rep AS cluster_rep,
           |  CASE WHEN bkt < 90 THEN 'train' WHEN bkt < 95 THEN 'val' ELSE 'test' END AS split
           |FROM b ORDER BY doc_id""".stripMargin
      }),
    QuerySpec("dedup_semantic", (s, dir) => {
      // SemDeDup (within-k-means-cell cosine dedup, keep-min rule) on its
      // EXACT leg, hash-checked by DuckDB: corpus = originals ∪ int8-
      // dequantized twins (twin id = vec_id + 10M) at the production 0.9
      // threshold. Every twin sits at cosine ≈ 0.9999 of its original and
      // every cross pair stays below 0.62 (measured; SimilaritySpec pins
      // recall exact), so the unique correct output is "keep every
      // original, drop every twin" — deterministic and oracle-expressible
      // even though cell seeding is hash-based. The seed-dependent
      // `bucket` column is deliberately not emitted. The derived corpus is
      // materialized once (localCheckpoint, harness-drained): semanticDedup
      // reads its input from 4 plan branches (sampling, assignment, both
      // pair-search sides).
      val emb = t(s, dir, "embeddings")
      val orig = emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val twins = emb
        .select(col("vec_id"), Similarity.quantizeInt8(col("embedding")).as("qz"))
        .select((col("vec_id") + lit(10000000L)).as("vec_id"),
          Similarity.dequantizeInt8(col("qz")).as("embedding"))
      val corpus = Cleanup.register(orig.unionByName(twins).localCheckpoint(false))
      Similarity.semanticDedup(corpus, threshold = 0.9, nlist = 8, trainIters = 2)
        .select(col("vec_id"), col("keep").cast("int").as("keep_flag"))
        .orderBy(col("vec_id"))
    }, oracleSql =
        // the exact leg's unique correct outcome (see the query comment):
        // with twins at cosine ≈ 0.9999 and all cross pairs < 0.62, a 0.9
        // cut with the keep-min rule keeps every original and drops every
        // twin — no similarity computation needed oracle-side
        """SELECT vec_id, CAST(1 AS INT) AS keep_flag FROM embeddings
          |UNION ALL
          |SELECT vec_id + 10000000 AS vec_id, CAST(0 AS INT) AS keep_flag FROM embeddings
          |ORDER BY vec_id""".stripMargin),
    QuerySpec("dedup_embedding_cosine", (s, dir) =>
      // LSH-bucketed scale path; equality with the brute-force all-pairs
      // oracle (cosineNearDupPairs) is proven in SimilaritySpec at every
      // test SF, so it shares the brute-force DuckDB oracle below
      Similarity.cosineNearDupLsh(t(s, dir, "embeddings"), 0.45, dim = 64)
        .orderBy(col("id_a"), col("id_b")), oracleSql =
        """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          |round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) AS cosine_r
          |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
          |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.45
          |ORDER BY id_a, id_b""".stripMargin),
    QuerySpec("dedup_embedding_cosine_t90", (s, dir) => {
      // the PRODUCTION-threshold LSH demonstration. The raw corpus has no
      // pair above cosine 0.61 at any SF (measured), so a 0.9 threshold
      // over it alone would be a vacuous 0-row check. Instead compose the
      // int8 quantizer: corpus = originals ∪ dequantized twins (twin id =
      // vec_id + 10M — "re-encodes of the same content"). Every (v,
      // deq(v)) twin sits at cosine ≈ 0.9999; every cross pair stays below
      // 0.62 — so threshold 0.9 must find exactly the planted twins, and
      // 16-bit bands prune the candidate set to ~the true-pair count
      // (vs ~1.5× ALL pairs for the 0.45-threshold floor case).
      val emb = t(s, dir, "embeddings")
      val orig = emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      // two projection levels, NOT dequantize(quantize(x)) in one
      // expression: dequantize reads the quant struct inside a per-element
      // lambda, and HOF lambdas get no codegen CSE — composed directly,
      // the whole quantize chain re-evaluates per element (O(d²)/row;
      // measured 6.3 s vs 0.8 s for this query at sf0.1). A separate
      // level materializes the struct once per row (CollapseProject keeps
      // multi-referenced non-cheap projections apart).
      val twins = emb
        .select(col("vec_id"), Similarity.quantizeInt8(col("embedding")).as("qz"))
        .select((col("vec_id") + lit(10000000L)).as("vec_id"),
          Similarity.dequantizeInt8(col("qz")).as("embedding"))
      // materialize the CONSTRUCTED corpus once: the LSH consumer reads its
      // input from 3+ plan branches (bucketing, both verify-join sides,
      // plus the orderBy range-sampling pass), and re-deriving the
      // union+quantize tree per branch measured 6× slower (3.7 s vs
      // 0.6 s at sf0.1). The same rule at 100 TB: never feed a derived
      // corpus to a multi-branch consumer without materializing it.
      // Cleanup.register: the harness drains (unpersists) the checkpoint
      // after the query runs — otherwise each invocation leaves its blocks
      // in executor storage until GC.
      val corpus = Cleanup.register(orig.union(twins).localCheckpoint(false))
      Similarity.cosineNearDupLsh(corpus, 0.9, dim = 64,
          bitsPerBand = 16, bands = 8)
        .orderBy(col("id_a"), col("id_b"))
    }, oracleSql =
        // same int8 quantize→dequantize arithmetic as the emb_quant_error
        // oracle (already hash-proven vs the Spark kernel), then brute-force
        // all-pairs cosine at the 0.9 production threshold over
        // originals ∪ dequantized twins
        """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          |s AS (SELECT vec_id, v,
          |  greatest(list_max(list_transform(v, x -> abs(x))) / 127.0,
          |           2.2250738585072014e-308) AS scale FROM e),
          |d AS (SELECT vec_id + 10000000 AS vec_id,
          |  list_transform(v, x -> round(x / scale) * scale) AS v FROM s),
          |c AS (SELECT vec_id, v FROM e UNION ALL SELECT vec_id, v FROM d)
          |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          |round(list_cosine_similarity(a.v, b.v), 4) AS cosine_r
          |FROM c a JOIN c b ON a.vec_id < b.vec_id
          |WHERE list_cosine_similarity(a.v, b.v) >= 0.9
          |ORDER BY id_a, id_b""".stripMargin),

    QuerySpec("emb_cross_corpus", (s, dir) => {
      // embedding-space decontamination: flag re-encodes of the reference
      // set arriving in a new batch. reference = the original vectors,
      // corpus = their int8-dequantized twins (id + 10M) — every twin
      // sits at cosine ≈ 0.9999 to exactly its own original (all cross
      // pairs ≤ 0.62 measured), so threshold 0.9 must flag every twin
      // with its original as the best match. Same two-level quantize
      // projection + materialize-the-derived-corpus rules as the t90
      // query (scaladoc there).
      val emb = t(s, dir, "embeddings")
      val orig = Cleanup.register(emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
        .localCheckpoint(false))
      val twins = Cleanup.register(emb
        .select(col("vec_id"), Similarity.quantizeInt8(col("embedding")).as("qz"))
        .select((col("vec_id") + lit(10000000L)).as("vec_id"),
          Similarity.dequantizeInt8(col("qz")).as("embedding"))
        .localCheckpoint(false))
      // maxBucketSize: same quadratic-hot-bucket guard as
      // dedup_cross_corpus (comment there); 1000 ≫ any test bucket
      Similarity.crossCorpusCosineFlags(twins, orig, 0.9, dim = 64,
          bitsPerBand = 16, bands = 8, maxBucketSize = 1000)
        .orderBy(col("id_new"))
    }, oracleSql =
        // brute-force cross cosine (twins × originals) at 0.9, best
        // original per twin by (cosine desc, ref id asc) — the
        // specification of the asymmetric sign-bit LSH path; quantize
        // arithmetic identical to the t90/emb_quant_error oracles
        """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          |s AS (SELECT vec_id, v,
          |  greatest(list_max(list_transform(v, x -> abs(x))) / 127.0,
          |           2.2250738585072014e-308) AS scale FROM e),
          |d AS (SELECT vec_id + 10000000 AS vec_id,
          |  list_transform(v, x -> round(x / scale) * scale) AS v FROM s),
          |p AS (SELECT d.vec_id AS id_new, e.vec_id AS id_ref,
          |  list_cosine_similarity(d.v, e.v) AS c
          |  FROM d JOIN e ON list_cosine_similarity(d.v, e.v) >= 0.9),
          |r AS (SELECT id_new, id_ref, c,
          |  row_number() OVER (PARTITION BY id_new ORDER BY c DESC, id_ref) AS rn FROM p)
          |SELECT id_new, id_ref AS matched_ref, round(c, 4) AS best_cosine
          |FROM r WHERE rn = 1 ORDER BY id_new""".stripMargin),
  )
}
