package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._
import Shared._
import DedupQueries.clusterArtifact

/** Text analysis over `documents`, with its build-once trained artifacts. */
object TextQueries {
  /** Fixed BPE merge table for the encode queries — FIXED (not learned)
    * so the DuckDB oracle can replay the exact same table; chosen so the
    * merges CHAIN (st→str, ll→all, jo→joi→join), exercising the
    * merged-piece-as-left-side path on real corpus words ("the" → [the],
    * "stream" → [str, e, am], "small" → [s, m, all], "join" → [join]).
    * The learned-table path (`bpeMerges` output into `bpeEncode`) is
    * spec-pinned instead (BpeEncodeSpec): its table is the product of an
    * iterative driver loop no single SQL statement can replay.
    */
  private val BpeFixedMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("s", "t"), ("e", "r"), ("st", "r"), ("a", "m"),
    ("l", "l"), ("a", "ll"), ("j", "o"), ("jo", "i"), ("joi", "n"))

  // Build-once trained-classifier artifact shared by the two classifier
  // consumers (docs_classifier_train / docs_classifier_apply). At 100 TB
  // the (dim+1)-row weight table is written by ONE training job
  // (TextAnalysis.classifierTrainVector) and read back as literals by
  // every scoring pass — the memo is that artifact in-session. The
  // trained state is a plain driver-side array (O(dim)), so unlike
  // clusterArtifact there is nothing to persist or drain. The teacher label
  // (classifierTarget) is the stopword-density rule at 15% — a
  // content-derived signal the hashed bag-of-words map can actually
  // learn (the corpus metadata columns are token-independent by
  // construction, so lang/source labels would train a coin flip).
  private def classifierTarget = col("stopword_ratio") >= 0.15
  private def classifierLabeled(s: SparkSession, dir: String): DataFrame =
    // non-null text only: the oracle's unnest drops tokenless docs, so the
    // censuses must count the same population (no-op on the driver corpus)
    TextAnalysis.qualityFeatures(
      t(s, dir, "documents").where(col("text").isNotNull), "text")
  private[graft] val classifierArtifact: SessionMemo[(Array[Double], Double)] =
    new SessionMemo((s, dir) =>
      TextAnalysis.classifierTrainVector(classifierLabeled(s, dir), "text",
        classifierTarget, dim = 32, iters = 64, eta = 1.0 / 64))

  // Sampled-shard sibling of classifierArtifact (round-12 verdict task 5):
  // the same 64-round LMS train on the deterministic doc_id % 4 == 0
  // quarter shard — iters/4 corpus-scan-equivalents per retrain instead of
  // iters (the 100 TB retrain contract classifierTrainSampled documents;
  // DESIGN §16). The id-modulus shard is the lshQualityCensus quarantine
  // pattern: content-independent (ids are assignment-order opaque here),
  // so the shard is exchangeable with the corpus, and exactly replayable
  // by DuckDB's integer arithmetic. Weights apply CORPUS-WIDE through the
  // same literal seam every classifier consumer uses.
  // ONE source for the shard on both engines (the enMarkers rule:
  // independently hard-coding the predicate here and in the oracle SQL
  // would silently desynchronize the train populations on the day either
  // side changes) — the oracle string below renders from this constant
  private val sampledShardMod = 4
  private val sampledShard = col("doc_id") % sampledShardMod === 0
  private[graft] def sampledShardSql = s"id % $sampledShardMod = 0"
  private[graft] val sampledClassifierArtifact: SessionMemo[(Array[Double], Double)] =
    new SessionMemo((s, dir) =>
      TextAnalysis.classifierTrainSampled(classifierLabeled(s, dir), "text",
        classifierTarget, sampledShard, dim = 32, iters = 64, eta = 1.0 / 64))

  // One-vs-rest distillation artifact (docs_classifier_multiclass): the
  // teacher is the 3-BAND stopword-density rule (lo < 0.12 ≤ mid < 0.17 ≤
  // hi over the binary teacher's own rounded swr) — content-derived AND
  // balanced at every SF (langId was tried first and is 97% one class on
  // this corpus, a degenerate demonstration; the metadata lang column is
  // token-independent by construction and would train a coin flip).
  // Alphabetical class order is the argmax tie-break priority. The mid
  // band is an interval — NOT linearly separable one-vs-rest — which is
  // exactly what makes the argmax composition the interesting part: the
  // boundary probes approach their linear ceilings while mid is carved
  // only where both neighbors go negative (measured 0.56 accuracy at 24
  // rounds vs 0.59 at 48 — a structural ceiling, not under-training, so
  // the cheaper round count is the right default).
  private val multiclassClasses = Seq("hi", "lo", "mid")
  private def densityBand = when(col("stopword_ratio") < 0.12, "lo")
    .when(col("stopword_ratio") < 0.17, "mid").otherwise("hi")
  private[graft] val multiclassArtifact: SessionMemo[Seq[(String, Array[Double], Double)]] =
    new SessionMemo((s, dir) =>
      TextAnalysis.classifierTrainOneVsRest(classifierLabeled(s, dir), "text",
        densityBand, multiclassClasses, dim = 32, iters = 24, eta = 1.0 / 64))

  // Build-once unigram-LM tokenizer artifact (round 13 — the BPE
  // sibling): hard-EM trained inventory with fixed-point log2 scores,
  // shared by the train-surface, encode and bits queries. ONE shared
  // constant set feeds the trainer AND the oracle generator (the
  // enMarkers rule). Round 14: the trainer seeds seedK = 2·vocabK
  // multi-char pieces and PRUNES to vocabK per round, and the corpus is
  // AUGMENTED with a deterministic >UnigramMaxLen token on every
  // UnigramPlantMod-th doc (the text_pii_redact augmentation rule: the
  // raw corpus' max word is 8 chars at every SF, so the pre-chunk path
  // would be exercised only on its vacuous negative branch) — the
  // oracle replays the same plant from the same constants.
  private val UnigramVocabK = 200
  private val UnigramSeedK = 2 * UnigramVocabK
  private val UnigramPieceLen = 4
  private val UnigramRounds = 3
  private val UnigramPlantMod = 5
  private val UnigramPlantToken = "longpathtokenexample"
  private def unigramCorpus(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % UnigramPlantMod === 0,
        concat(col("text"), lit(" " + UnigramPlantToken),
          col("doc_id").cast("string")))
        .otherwise(col("text")).as("text"))
  private[graft] def unigramAugSql: String =
    s"CASE WHEN doc_id % $UnigramPlantMod = 0 THEN text || ' $UnigramPlantToken' " +
      "|| CAST(doc_id AS VARCHAR) ELSE text END"
  private[graft] val unigramArtifact: SessionMemo[TextAnalysis.UnigramModel] =
    new SessionMemo((s, dir) =>
      TextAnalysis.unigramTrain(unigramCorpus(s, dir), "text",
        vocabK = UnigramVocabK, pieceLen = UnigramPieceLen,
        rounds = UnigramRounds, seedK = UnigramSeedK))

  // TextRank replayed round-for-round: exact fixed-point longs (1e-12
  // units), integer floor divisions, order-independent contribution
  // sums — the vocab_bpe_merges chained-CTE pattern; HUGEINT carries
  // the intermediate products exactly like Spark's ANSI longs
  private val textRankSql = {
    val iters = 10
    val sb = new StringBuilder
    sb ++= s"WITH t AS (SELECT $toks AS ts FROM documents),\n"
    sb ++= "p0 AS (SELECT ts[i] AS a, ts[i+1] AS b " +
      "FROM t, unnest(generate_series(1, len(ts) - 1)) AS u(i)),\n"
    sb ++= "p1 AS (SELECT a, b FROM p0 WHERE a <> b),\n"
    sb ++= "e AS MATERIALIZED (SELECT a, b, count(*) AS wab FROM " +
      "(SELECT a, b FROM p1 UNION ALL SELECT b AS a, a AS b FROM p1) GROUP BY 1, 2),\n"
    sb ++= "sw AS MATERIALIZED (SELECT a, sum(wab) AS s FROM e GROUP BY a),\n"
    sb ++= "n AS MATERIALIZED (SELECT DISTINCT unnest(ts) AS w FROM t),\n"
    sb ++= "r0 AS (SELECT w, 1000000000000::HUGEINT AS r FROM n),\n"
    for (k <- 1 to iters)
      sb ++= s"r$k AS MATERIALIZED (SELECT n.w, " +
        "150000000000::HUGEINT + (85 * coalesce(c.s, 0)) // 100 AS r " +
        "FROM n LEFT JOIN (SELECT e.b, sum((r.r * e.wab) // sw.s) AS s " +
        s"FROM e JOIN r${k - 1} r ON r.w = e.a JOIN sw ON sw.a = e.a " +
        "GROUP BY e.b) c ON c.b = n.w),\n"
    sb ++= s"fin AS (SELECT w, CAST(r AS BIGINT) AS rank_e12 FROM r$iters)\n"
    sb ++= "SELECT w, rank_e12 FROM fin ORDER BY rank_e12 DESC, w"
    sb.toString
  }
  // cluster labeling: the hash-seeded 8-bucket assignment (the
  // ivfRecallSql coarse machinery) + doc join on the shared id space +
  // per-bucket top-5 lift terms; lift = (n_bw·N)/(n_b·df_w) computed as
  // cast-then-multiply doubles (the Spark side's ANSI-overflow-safe
  // form) — identical bits, so the raw-double rank order can't flip
  private val clusterLabelsSql = {
    def dt(a: String, b: String) =
      s"list_reduce(list_prepend(0.0, list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i])), (x, y) -> x + y)"
    val (hashCtes, hashFinal) = OracleHashSql.xxh64LongChain(
      "(SELECT vec_id FROM embeddings)", "vec_id")
    val hashCteStr = hashCtes.map { case (n, q) => s"$n AS ($q)" }.mkString(",\n")
    s"""WITH $hashCteStr,
       |seeds AS (SELECT vec_id FROM $hashFinal ORDER BY zh, vec_id LIMIT 8),
       |cents0 AS (SELECT e.vec_id AS cid, CAST(e.embedding AS DOUBLE[]) AS cv
       |           FROM embeddings e JOIN seeds s ON e.vec_id = s.vec_id),
       |cents AS MATERIALIZED (SELECT cid, cv, sqrt(${dt("cv", "cv")}) AS cn FROM cents0),
       |corpn AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |            sqrt(${dt("CAST(embedding AS DOUBLE[])", "CAST(embedding AS DOUBLE[])")}) AS vn
       |          FROM embeddings),
       |asg AS (SELECT vec_id, cid AS bucket FROM (
       |  SELECT c.vec_id, ct.cid, row_number() OVER (PARTITION BY c.vec_id
       |    ORDER BY ${dt("c.v", "ct.cv")} / (c.vn * ct.cn) DESC, ct.cid ASC) AS rnk
       |  FROM corpn c, cents ct) WHERE rnk = 1),
       |joined AS (SELECT d.doc_id, d.text, a.bucket
       |           FROM documents d JOIN asg a ON a.vec_id = d.doc_id),
       |terms AS (SELECT doc_id, bucket, unnest(list_distinct($toks)) AS term
       |          FROM joined),
       |nbw AS (SELECT bucket, term, count(*) AS n_bw FROM terms GROUP BY 1, 2),
       |dfw AS (SELECT term, count(*) AS df_w FROM terms GROUP BY 1),
       |nb AS (SELECT bucket, count(*) AS n_b FROM joined GROUP BY 1),
       |nn AS (SELECT count(*) AS n_docs FROM joined),
       |sc AS (SELECT nbw.bucket, nbw.term, n_bw,
       |    (CAST(n_bw AS DOUBLE) * CAST(n_docs AS DOUBLE))
       |      / (CAST(n_b AS DOUBLE) * CAST(df_w AS DOUBLE)) AS lift
       |  FROM nbw JOIN dfw USING (term) JOIN nb USING (bucket), nn
       |  WHERE n_bw >= 2),
       |rk AS (SELECT bucket, term, n_bw, lift, row_number() OVER
       |    (PARTITION BY bucket ORDER BY lift DESC, n_bw DESC, term ASC) AS rnk
       |  FROM sc)
       |SELECT bucket, CAST(rnk AS INT) AS rnk, term, n_bw, round(lift, 4) AS lift_r
       |FROM rk WHERE rnk <= 5 ORDER BY bucket, rnk""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    // ---- text analysis ----
    QuerySpec("text_token_stats", (s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text"))).as("sum_tokens"),
          sum(TextAnalysis.subwordCount(col("text"))).as("sum_subwords"),
          round(avg(TextAnalysis.tokenCount(col("text"))), 4).as("avg_tokens"),
        )
        .orderBy(col("lang")), oracleSql =
        // CAST(sum(...) AS BIGINT): DuckDB sum(BIGINT) is HUGEINT, which pandas
        // renders float64 ("99111.0") and breaks the driver's string hash.
        s"""SELECT lang, count(*) AS n_docs, CAST(sum(len($toks)) AS BIGINT) AS sum_tokens,
           |CAST(sum(len($subw)) AS BIGINT) AS sum_subwords, round(avg(len($toks)), 4) AS avg_tokens
           |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
    QuerySpec("text_langid", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id")), oracleSql =
        s"""WITH s AS (SELECT doc_id, lang, string_split_regex(trim(lower(text)), '\\s+') AS w FROM documents),
           |sc AS (SELECT doc_id, lang,
           |  len(list_filter(w, x -> list_contains(${markers(mk("en"))}, x))) AS s_en,
           |  len(list_filter(w, x -> list_contains(${markers(mk("fr"))}, x))) AS s_fr,
           |  len(list_filter(w, x -> list_contains(${markers(mk("es"))}, x))) AS s_es,
           |  len(list_filter(w, x -> list_contains(${markers(mk("de"))}, x))) AS s_de,
           |  len(list_filter(w, x -> list_contains(${markers(mk("zh"))}, x))) AS s_zh FROM s)
           |SELECT doc_id, lang, CASE
           |  WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
           |  WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
           |  WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
           |  WHEN s_fr >= s_zh THEN 'fr' ELSE 'zh' END AS lang_pred
           |FROM sc ORDER BY doc_id""".stripMargin),
    QuerySpec("text_langid_confusion", (s, dir) =>
      // language-ID evaluation as a confusion matrix (actual × predicted
      // counts) — the accuracy report a curation run ships with; all
      // reduction, |langs|² keys
      t(s, dir, "documents")
        .select(col("lang"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("lang_pred")), oracleSql =
        // the text_langid prediction CTEs + an (actual, predicted) census
        s"""WITH s AS (SELECT doc_id, lang, string_split_regex(trim(lower(text)), '\\s+') AS w FROM documents),
           |sc AS (SELECT doc_id, lang,
           |  len(list_filter(w, x -> list_contains(${markers(mk("en"))}, x))) AS s_en,
           |  len(list_filter(w, x -> list_contains(${markers(mk("fr"))}, x))) AS s_fr,
           |  len(list_filter(w, x -> list_contains(${markers(mk("es"))}, x))) AS s_es,
           |  len(list_filter(w, x -> list_contains(${markers(mk("de"))}, x))) AS s_de,
           |  len(list_filter(w, x -> list_contains(${markers(mk("zh"))}, x))) AS s_zh FROM s),
           |p AS (SELECT lang, CASE
           |  WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
           |  WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
           |  WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
           |  WHEN s_fr >= s_zh THEN 'fr' ELSE 'zh' END AS lang_pred FROM sc)
           |SELECT lang, lang_pred, count(*) AS n FROM p GROUP BY lang, lang_pred
           |ORDER BY lang, lang_pred""".stripMargin),
    QuerySpec("dedup_cluster_sizes", (s, dir) =>
      // dedup impact report: distribution of duplicate-cluster sizes
      // (how much of the corpus is singletons vs k-way duplicates) —
      // two tiny aggs over the shared assignment artifact
      Dedup.clusterSizeHistogram(clusterArtifact(s, dir))
        .orderBy(col("cluster_size")), oracleSql =
        // the dedup_clusters recursion + a size histogram on top
        s"""WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ($jaccardSql)),
           |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
           |          UNION ALL SELECT id_b, id_a FROM pairs),
           |reach(id, n) AS (
           |  SELECT doc_id, doc_id FROM documents
           |  UNION
           |  SELECT r.id, e.b FROM reach r JOIN edges e ON r.n = e.a),
           |comp AS (SELECT id, min(n) AS rep FROM reach GROUP BY id),
           |sz AS (SELECT rep, count(*) AS cluster_size FROM comp GROUP BY rep)
           |SELECT cluster_size, count(*) AS n_clusters FROM sz
           |GROUP BY cluster_size ORDER BY cluster_size""".stripMargin),
    QuerySpec("dedup_keep_best", (s, dir) => {
      // canonicalization: clusters → keep the HIGHEST-QUALITY member of
      // each cluster (ties to the smallest id) — the "which copy survives
      // dedup" decision, not just "a copy survives"; consumes the shared
      // assignment artifact
      val scored = TextAnalysis.qualityScore(t(s, dir, "documents"), "text")
        .select(col("doc_id"), col("quality_score"))
      Dedup.keepBest(clusterArtifact(s, dir), scored, "doc_id", "quality_score")
        .orderBy(col("cluster_rep"))
    }, oracleSql =
        // the dedup_clusters recursion joined with the text_quality score
        // fold; keeper = row_number over (score DESC, id ASC) per cluster
        s"""WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ($jaccardSql)),
           |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
           |          UNION ALL SELECT id_b, id_a FROM pairs),
           |reach(id, n) AS (
           |  SELECT doc_id, doc_id FROM documents
           |  UNION
           |  SELECT r.id, e.b FROM reach r JOIN edges e ON r.n = e.a),
           |comp AS (SELECT id, min(n) AS rep FROM reach GROUP BY id),
           |f AS (SELECT doc_id, $toks AS w FROM documents),
           |q AS (SELECT doc_id, len(w) AS n_tokens,
           |  round(list_sum(list_transform(w, x -> length(x))) * 1.0 / greatest(len(w), 1), 4) AS avg_token_len,
           |  round(len(list_filter(w, x -> list_contains(${markers(mk("en"))}, lower(x)))) * 1.0 / greatest(len(w), 1), 4) AS stopword_ratio
           |  FROM f),
           |sc AS (SELECT doc_id,
           |  round((CASE WHEN n_tokens BETWEEN 10 AND 200 THEN 0.4 ELSE 0.0 END)
           |    + (CASE WHEN avg_token_len BETWEEN 2.0 AND 10.0 THEN 0.3 ELSE 0.0 END)
           |    + (CASE WHEN stopword_ratio > 0.0 THEN 0.3 ELSE 0.0 END), 2) AS quality_score FROM q),
           |j AS (SELECT c.rep, c.id, s.quality_score FROM comp c JOIN sc s ON c.id = s.doc_id),
           |r AS (SELECT rep, id, quality_score,
           |  row_number() OVER (PARTITION BY rep ORDER BY quality_score DESC, id ASC) AS rn,
           |  count(*) OVER (PARTITION BY rep) AS csize FROM j)
           |SELECT rep AS cluster_rep, id AS keeper_id, quality_score AS keeper_score,
           |CAST(csize AS BIGINT) AS cluster_size
           |FROM r WHERE rn = 1 ORDER BY cluster_rep""".stripMargin),
    QuerySpec("text_quality", (s, dir) =>
      TextAnalysis.qualityScore(t(s, dir, "documents"), "text")
        .select(col("doc_id"), col("n_tokens"), col("avg_token_len"),
          col("punct_ratio"), col("stopword_ratio"), col("quality_score"))
        .orderBy(col("doc_id")), oracleSql =
        s"""WITH f AS (SELECT doc_id, $toks AS w, $subw AS sw, length(text) AS nc FROM documents),
           |g AS (SELECT doc_id, len(w) AS n_tokens,
           |  round(list_sum(list_transform(w, x -> length(x))) * 1.0 / greatest(len(w), 1), 4) AS avg_token_len,
           |  round(len(list_filter(sw, x -> regexp_matches(x, '^[^A-Za-z0-9]$$'))) * 1.0 / greatest(len(sw), 1), 4) AS punct_ratio,
           |  round(len(list_filter(w, x -> list_contains(${markers(mk("en"))}, lower(x)))) * 1.0 / greatest(len(w), 1), 4) AS stopword_ratio
           |FROM f)
           |SELECT doc_id, n_tokens, avg_token_len, punct_ratio, stopword_ratio,
           |round((CASE WHEN n_tokens BETWEEN 10 AND 200 THEN 0.4 ELSE 0.0 END)
           |  + (CASE WHEN avg_token_len BETWEEN 2.0 AND 10.0 THEN 0.3 ELSE 0.0 END)
           |  + (CASE WHEN stopword_ratio > 0.0 THEN 0.3 ELSE 0.0 END), 2) AS quality_score
           |FROM g ORDER BY doc_id""".stripMargin),
    QuerySpec("text_fingerprint", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id")), oracleSql =
        """SELECT doc_id, list_reduce(
          |  list_prepend(CAST(0 AS BIGINT),
          |    list_transform(range(1, length(text) + 1), i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
          |  (h, c) -> (h * 31 + c) % 1000000007) AS fp
          |FROM documents ORDER BY doc_id""".stripMargin),
    QuerySpec("docs_split_assign", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          pmod(TextAnalysis.fingerprint(col("text")), lit(100L)).as("bucket"),
          TextAnalysis.splitAssignment(col("text")).as("split"))
        .orderBy(col("doc_id")), oracleSql =
        // same rolling-hash fold as the text_fingerprint oracle, mod 100
        """WITH f AS (SELECT doc_id, list_reduce(
          |  list_prepend(CAST(0 AS BIGINT),
          |    list_transform(range(1, length(text) + 1), i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
          |  (h, c) -> (h * 31 + c) % 1000000007) % 100 AS bucket
          |FROM documents)
          |SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
          |CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
          |FROM f ORDER BY doc_id""".stripMargin),
    QuerySpec("docs_chunk", (s, dir) =>
      // RAG / context-window chunking: 120-char windows every 90 chars
      // (25% overlap), source offsets preserved for span mapping
      TextAnalysis.chunkDocs(t(s, dir, "documents"), "doc_id", "text",
          size = 120, stride = 90)
        .orderBy(col("doc_id"), col("chunk_id")), oracleSql =
        // list-form generate_series (lateral-unnested) has the same
        // inclusive-stop semantics as Spark's sequence(); the stop bound
        // min(len, len-size+stride)-1 emits a chunk only when it adds new
        // characters; substr past the end truncates in both engines
        """SELECT doc_id, CAST(s // 90 AS BIGINT) AS chunk_id,
          |CAST(s AS BIGINT) AS chunk_start,
          |substr(text, CAST(s AS INT) + 1, 120) AS chunk_text,
          |CAST(length(substr(text, CAST(s AS INT) + 1, 120)) AS BIGINT) AS chunk_len
          |FROM documents, unnest(generate_series(0,
          |  greatest(least(length(text), length(text) - 120 + 90) - 1, 0), 90)) AS g(s)
          |ORDER BY doc_id, chunk_id""".stripMargin),
    QuerySpec("docs_split_leakage", (s, dir) =>
      // train→held-out contamination: 3-gram containment of every
      // val/test doc against the train split's gram set, splits from the
      // same content-hash assignment as docs_split_assign
      TextAnalysis.splitLeakage(t(s, dir, "documents"), "doc_id", "text", 3)
        .orderBy(col("doc_id")), oracleSql =
        // the docs_split_assign bucket fold gates the text_decontaminate
        // containment CTEs: train grams = bucket < 90, probes = the rest
        s"""WITH f AS (SELECT doc_id, text, list_reduce(
           |  list_prepend(CAST(0 AS BIGINT),
           |    list_transform(range(1, length(text) + 1), i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
           |  (h, c) -> (h * 31 + c) % 1000000007) % 100 AS bucket FROM documents),
           |t AS (SELECT doc_id, bucket, $toks AS w FROM f),
           |grams AS (SELECT DISTINCT doc_id, bucket, array_to_string(w[i:i+2], ' ') AS g
           |          FROM t, unnest(generate_series(1, greatest(len(w)-2, 1))) AS u(i)),
           |train AS (SELECT DISTINCT g FROM grams WHERE bucket < 90),
           |c AS (SELECT doc_id, count(*) AS n_grams,
           |      count(*) FILTER (g IN (SELECT g FROM train)) AS train_hits
           |      FROM grams WHERE bucket >= 90 GROUP BY doc_id)
           |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
           |CAST(train_hits AS BIGINT) AS train_hits,
           |round(train_hits * 1.0 / greatest(n_grams, 1), 4) AS containment
           |FROM c ORDER BY doc_id""".stripMargin),
    QuerySpec("text_decontaminate", (s, dir) => {
      // benchmark = docs with doc_id < 10 (stand-in eval set); flags any
      // training doc whose distinct 3-gram containment vs it is high
      val docs = t(s, dir, "documents")
      TextAnalysis.decontaminationScore(
          docs, docs.filter(col("doc_id") < 10), "doc_id", "text", 3)
        .orderBy(col("doc_id"))
    }, oracleSql =
        s"""WITH t AS (SELECT doc_id, $toks AS w FROM documents),
           |grams AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS g
           |          FROM t, unnest(generate_series(1, greatest(len(w)-2, 1))) AS u(i)),
           |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id < 10),
           |c AS (SELECT doc_id, count(*) AS n_grams,
           |      count(*) FILTER (g IN (SELECT g FROM bench)) AS bench_hits
           |      FROM grams GROUP BY doc_id)
           |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
           |CAST(bench_hits AS BIGINT) AS bench_hits,
           |round(bench_hits * 1.0 / greatest(n_grams, 1), 4) AS containment
           |FROM c ORDER BY doc_id""".stripMargin),
    QuerySpec("docs_curation_pipeline", (s, dir) => {
      // the COMPOSED curation pipeline as one oracle-checked query —
      // normalize → quality gate → stratified sample → exact dedup →
      // split assignment, the batch shape of the streaming pipeline spec.
      // Every stage is individually oracle-proven; this pins that they
      // compose (each stage consumes the previous stage's exact output).
      val docs = t(s, dir, "documents")
      // normalize ONCE per row (round 16): without the materialization,
      // predicate pushdown + CollapseProject inline the 5-regex chain
      // into every consumer — the physical plan evaluated it SIX times
      // per doc (token-count filter + the sampler's pushed fingerprint
      // predicate + the norm projection, × the two scan branches
      // exactDedup's min-id aggregate duplicates), and JFR put ~45% of
      // the query in java.util.regex. The normalized corpus is the
      // natural write-once artifact of a real curation pipeline anyway.
      val normed = Cleanup.register(docs
        .select(col("doc_id"), col("lang"),
          TextAnalysis.normalize(col("text")).as("norm"))
        .localCheckpoint(false))
      val cleaned = normed
        .filter(TextAnalysis.tokenCount(col("norm")) >= 5)
      val sampled = TextAnalysis.stratifiedSample(cleaned, "lang", "norm",
        Map("en" -> 600), defaultPerMille = 800)
      Dedup.exactDedup(sampled, "norm", "doc_id")
        .select(col("doc_id"), col("lang"),
          TextAnalysis.splitAssignment(col("norm")).as("split"),
          TextAnalysis.tokenCount(col("norm")).as("n_tokens"))
        .orderBy(col("doc_id"))
    }, oracleSql =
        // the composed stages, each reproduced verbatim from its
        // individually-proven oracle fragment
        """WITH n AS (SELECT doc_id, lang, trim(regexp_replace(
          |  regexp_replace(
          |    regexp_replace(
          |      regexp_replace(
          |        regexp_replace(lower(text), '<[^>]*>', ' ', 'g'),
          |      'https?://[^ \t\n\x0b\f\r]+', '[url]', 'g'),
          |    '[a-z0-9._%+-]+@[a-z0-9.-]+', '[email]', 'g'),
          |  '[\x00-\x1f]', ' ', 'g'),
          |'\s+', ' ', 'g')) AS norm FROM documents),
          |q AS (SELECT * FROM n WHERE len(string_split_regex(trim(norm), '\s+')) >= 5),
          |fp AS (SELECT doc_id, lang, norm, list_reduce(
          |  list_prepend(CAST(0 AS BIGINT),
          |    list_transform(range(1, length(norm) + 1), i -> CAST(ascii(substr(norm, i, 1)) AS BIGINT))),
          |  (h, c) -> (h * 31 + c) % 1000000007) AS f FROM q),
          |s AS (SELECT * FROM fp WHERE f % 1000 <
          |  CASE lang WHEN 'en' THEN 600 ELSE 800 END),
          |d AS (SELECT * FROM s WHERE doc_id IN
          |  (SELECT min(doc_id) FROM s GROUP BY norm))
          |SELECT doc_id, lang,
          |CASE WHEN f % 100 < 90 THEN 'train' WHEN f % 100 < 95 THEN 'val' ELSE 'test' END AS split,
          |CAST(len(string_split_regex(trim(norm), '\s+')) AS BIGINT) AS n_tokens
          |FROM d ORDER BY doc_id""".stripMargin),
    QuerySpec("text_decontaminate_bloom", (s, dir) => {
      // the scale shape of text_decontaminate: benchmark grams as a compact
      // Bloom sketch, probed in a shuffle-free scan. Promoted to a FULL
      // hash oracle via the no-false-negatives verdict (the forced-outcome
      // pattern): per doc, bloom_hits ≥ exact bench_hits is the Bloom
      // CONTRACT — deterministic (the filter is hash-seeded, not random),
      // so both engines state the boolean identically; the exact n_grams
      // and bench_hits ride along so the oracle checks real values. The
      // exact leg reuses decontaminationScore — precisely the side-by-side
      // the FP-only-extra spec pins, now driver-checked per round.
      val docs = t(s, dir, "documents")
      val bloom = TextAnalysis.benchmarkBloom(
        docs.filter(col("doc_id") < 10), "text", 3, fpp = 1e-6)
      val approx = TextAnalysis.decontaminationScoreBloom(docs, bloom, "doc_id", "text", 3)
        .select(col("doc_id"), col("bloom_hits"))
      TextAnalysis.decontaminationScore(
          docs, docs.filter(col("doc_id") < 10), "doc_id", "text", 3)
        .join(approx.hint("merge"), "doc_id")
        .select(col("doc_id"), col("n_grams"), col("bench_hits"),
          (col("bloom_hits") >= col("bench_hits")).as("bloom_superset_ok"))
        .orderBy(col("doc_id"))
    }, oracleSql =
        // same exact CTEs; the Bloom leg's contract (no false negatives →
        // bloom_hits ≥ bench_hits) is the constant-true verdict column
        s"""WITH t AS (SELECT doc_id, $toks AS w FROM documents),
           |grams AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS g
           |          FROM t, unnest(generate_series(1, greatest(len(w)-2, 1))) AS u(i)),
           |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id < 10),
           |c AS (SELECT doc_id, count(*) AS n_grams,
           |      count(*) FILTER (g IN (SELECT g FROM bench)) AS bench_hits
           |      FROM grams GROUP BY doc_id)
           |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
           |CAST(bench_hits AS BIGINT) AS bench_hits, true AS bloom_superset_ok
           |FROM c ORDER BY doc_id""".stripMargin),
    QuerySpec("text_repetition", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.repetitionRatio(col("text"), 2).as("rep_ratio"))
        .orderBy(col("doc_id")), oracleSql =
        s"""WITH t AS (SELECT doc_id, $toks AS w FROM documents),
           |g AS (SELECT doc_id, greatest(len(w) - 1, 1) AS total,
           |  len(list_distinct(list_transform(
           |    generate_series(1, greatest(len(w) - 1, 1)),
           |    i -> array_to_string(w[i:i+1], ' ')))) AS dist
           |  FROM t)
           |SELECT doc_id, round(1.0 - dist * 1.0 / total, 4) AS rep_ratio
           |FROM g ORDER BY doc_id""".stripMargin),
    QuerySpec("text_normalize", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.normalize(col("text")).as("norm_text"))
        .orderBy(col("doc_id")), oracleSql =
        // same regexp chain, RE2∩Java common-subset patterns; DuckDB needs
        // the explicit 'g' flag (Java replaces all matches by default)
        """SELECT doc_id, trim(regexp_replace(
          |  regexp_replace(
          |    regexp_replace(
          |      regexp_replace(
          |        regexp_replace(lower(text), '<[^>]*>', ' ', 'g'),
          |      'https?://[^ \t\n\x0b\f\r]+', '[url]', 'g'),
          |    '[a-z0-9._%+-]+@[a-z0-9.-]+', '[email]', 'g'),
          |  '[\x00-\x1f]', ' ', 'g'),
          |'\s+', ' ', 'g')) AS norm_text
          |FROM documents ORDER BY doc_id""".stripMargin),
    QuerySpec("text_pack_bins", (s, dir) =>
      TextAnalysis.packBins(t(s, dir, "documents"), "doc_id", "text", 4096L, Seq("lang"))
        .groupBy(col("lang"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("bin_tokens"))
        .orderBy(col("lang"), col("bin")), oracleSql =
        s"""WITH t AS (SELECT lang, doc_id, len($toks) AS n_tokens FROM documents),
           |c AS (SELECT lang, doc_id, n_tokens,
           |  sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id, n_tokens ROWS UNBOUNDED PRECEDING) AS cum
           |  FROM t)
           |SELECT lang, CAST(floor((cum - n_tokens) / 4096.0) AS BIGINT) AS bin,
           |count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
           |FROM c GROUP BY lang, bin ORDER BY lang, bin""".stripMargin),
    QuerySpec("docs_sample_stratified", (s, dir) =>
      // corpus mixing: downsample the dominant language, keep more of the
      // rest — content-hash keyed, so the sample is stable across re-runs
      TextAnalysis.stratifiedSample(t(s, dir, "documents"), "lang", "text",
          Map("en" -> 200, "fr" -> 400, "es" -> 400, "de" -> 600, "zh" -> 600),
          defaultPerMille = 300)
        .select(col("doc_id"), col("lang"),
          pmod(TextAnalysis.fingerprint(col("text")), lit(1000L)).as("bucket"))
        .orderBy(col("doc_id")), oracleSql =
        // same rolling-hash fold as the text_fingerprint oracle, mod 1000,
        // against the per-language per-mille keep rates
        """WITH f AS (SELECT doc_id, lang, list_reduce(
          |  list_prepend(CAST(0 AS BIGINT),
          |    list_transform(range(1, length(text) + 1), i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
          |  (h, c) -> (h * 31 + c) % 1000000007) % 1000 AS b
          |FROM documents)
          |SELECT doc_id, lang, CAST(b AS BIGINT) AS bucket FROM f
          |WHERE b < CASE lang WHEN 'en' THEN 200 WHEN 'fr' THEN 400 WHEN 'es' THEN 400
          |                    WHEN 'de' THEN 600 WHEN 'zh' THEN 600 ELSE 300 END
          |ORDER BY doc_id""".stripMargin),
    QuerySpec("docs_weighted_sample", (s, dir) =>
      // priority sampling: deterministic weighted sample (w = n_chars)
      // without replacement, exactly 100 docs; est_w = max(w, τ) is the
      // unbiased subset-sum estimator (τ = the 101st priority) — the
      // column that lets the sample answer "how many chars/tokens does
      // this represent" without rescanning the corpus
      TextAnalysis.prioritySample(t(s, dir, "documents"), "doc_id", "n_chars",
          "text", 100)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          round(col("priority"), 4).as("priority_r"),
          round(col("est_w"), 4).as("est_w_r"))
        .orderBy(col("doc_id")), oracleSql =
        // priority sampling replay: same rolling-hash fold; the priority
        // w·M/u is one exact double multiply + one IEEE divide, so the
        // top-101 boundary and τ are bit-identical across engines
        """WITH f AS (SELECT doc_id, lang, n_chars, list_reduce(
          |  list_prepend(CAST(0 AS BIGINT),
          |    list_transform(range(1, length(text) + 1), i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
          |  (h, c) -> (h * 31 + c) % 1000000007) AS fp FROM documents),
          |p AS (SELECT doc_id, lang, n_chars,
          |  CAST(n_chars AS DOUBLE) * 1000003.0 / CAST(fp % 1000003 + 1 AS DOUBLE) AS pr FROM f),
          |t AS MATERIALIZED (SELECT * FROM p ORDER BY pr DESC, doc_id LIMIT 101),
          |tau AS (SELECT CASE WHEN count(*) = 101 THEN min(pr) ELSE 0.0 END AS tau FROM t),
          |s AS (SELECT * FROM t ORDER BY pr DESC, doc_id LIMIT 100)
          |SELECT doc_id, lang, n_chars, round(pr, 4) AS priority_r,
          |round(greatest(CAST(n_chars AS DOUBLE), tau), 4) AS est_w_r
          |FROM s, tau ORDER BY doc_id""".stripMargin),
    QuerySpec("docs_weighted_sample_by", (s, dir) =>
      // stratified priority sampling: exactly 20 docs PER LANGUAGE,
      // weighted by n_chars — the per-source quota form (a global sample
      // lets one heavy source starve the rest); per-group τ estimator,
      // WindowGroupLimit top-(k+1) (see TextAnalysis.prioritySampleBy)
      TextAnalysis.prioritySampleBy(t(s, dir, "documents"), "lang", "doc_id",
          "n_chars", "text", 20)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          round(col("priority"), 4).as("priority_r"),
          round(col("est_w"), 4).as("est_w_r"))
        .orderBy(col("doc_id")), oracleSql =
        // the per-group replay: same fingerprint fold and priority
        // arithmetic, per-language rank/τ instead of the global top-101
        """WITH f AS (SELECT doc_id, lang, n_chars, list_reduce(
          |  list_prepend(CAST(0 AS BIGINT),
          |    list_transform(range(1, length(text) + 1), i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
          |  (h, c) -> (h * 31 + c) % 1000000007) AS fp FROM documents),
          |p AS (SELECT doc_id, lang, n_chars,
          |  CAST(n_chars AS DOUBLE) * 1000003.0 / CAST(fp % 1000003 + 1 AS DOUBLE) AS pr FROM f),
          |t AS MATERIALIZED (SELECT *, row_number() OVER
          |  (PARTITION BY lang ORDER BY pr DESC, doc_id) AS rk FROM p),
          |top AS (SELECT * FROM t WHERE rk <= 21),
          |tau AS (SELECT lang, CASE WHEN count(*) = 21 THEN min(pr) ELSE 0.0 END AS tau
          |        FROM top GROUP BY lang),
          |s AS (SELECT * FROM top WHERE rk <= 20)
          |SELECT s.doc_id, s.lang, s.n_chars, round(pr, 4) AS priority_r,
          |round(greatest(CAST(n_chars AS DOUBLE), tau), 4) AS est_w_r
          |FROM s JOIN tau USING (lang) ORDER BY doc_id""".stripMargin),
    QuerySpec("vocab_bpe_merges", (s, dir) => // iterative trainer: rows-only oracle
      // BPE tokenizer induction: one corpus-scale word count, then 20
      // merge rounds over the small weighted vocab; deterministic
      // (lexicographic tie-break) — the trace is spec-pinned by hand
      TextAnalysis.bpeMerges(t(s, dir, "documents"), "text", 20)
        .orderBy(col("rank")), oracleSql =
        // the TRAINING loop replayed: 20 data-dependent census→argmax→
        // refold rounds chained through materialized one-row pair relations
        // (OracleBpeSql.mergesSql scaladoc — this sat rows-only for three
        // rounds under an "oracle-inexpressible" claim that proved wrong)
        OracleBpeSql.mergesSql(20)),
    QuerySpec("vocab_unigram_train", (s, dir) => {
      // unigram-LM (SentencePiece-style) tokenizer TRAINING, the BPE
      // sibling (TextAnalysis.unigramTrain): substring-seeded inventory
      // (seedK = 2·vocabK), 3 hard-EM rounds (exact fixed-point log2
      // scores -> per-chunk Viterbi -> usage census -> prune to vocabK),
      // every step integer arithmetic — the DuckDB oracle replays the
      // plant, the MaxLen pre-chunking, seeding, all rounds (prune
      // included) and the final scores as ONE chained-CTE statement with
      // a RELATIONAL position-DP (OracleUnigramSql). Output: the full
      // surviving inventory with final usage counts and the
      // add-one-smoothed scores an encoder applies
      val m = unigramArtifact(s, dir)
      import s.implicits._
      m.pieces.toDF("piece", "n_uses", "score_fp").orderBy(col("piece"))
    }, oracleSql = OracleUnigramSql.trainSql(
        UnigramVocabK, UnigramPieceLen, UnigramRounds,
        TextAnalysis.UnigramOovScore, UnigramSeedK, unigramAugSql)),
    QuerySpec("vocab_unigram_encode", (s, dir) =>
      // tokenizer APPLICATION: per-doc exact piece count under the
      // trained unigram model — Viterbi over the DISTINCT chunk vocab
      // (one kernel pass), docs re-acquire counts through ONE hash-keyed
      // equi-join (the bpeEncode shape); the oracle replays train+encode
      TextAnalysis.unigramEncode(unigramCorpus(s, dir), "doc_id", "text",
          unigramArtifact(s, dir))
        .orderBy(col("doc_id")), oracleSql = OracleUnigramSql.encodeSql(
        UnigramVocabK, UnigramPieceLen, UnigramRounds,
        TextAnalysis.UnigramOovScore, UnigramSeedK, unigramAugSql)),
    QuerySpec("docs_unigram_bits", (s, dir) =>
      // LM quality surface (round 14): per-doc surprisal under the
      // trained unigram model — bits_fp = -Σ piece score_fp (2^-16-bit
      // units), and the integer bits-per-token the CCNet-style
      // perplexity gate thresholds on. Zero new arithmetic beyond the
      // encode kernel's own integers, so the whole surface hash-oracles;
      // compare docs_lm_score (the bigram model's gate) for the same
      // family's transcendental-free design
      TextAnalysis.unigramScore(unigramCorpus(s, dir), "doc_id", "text",
          unigramArtifact(s, dir))
        .select(col("doc_id"), col("n_tokens"), col("bits_fp"),
          when(col("n_tokens") > 0,
            expr("bits_fp DIV n_tokens")).as("bpt_fp"))
        .orderBy(col("doc_id")), oracleSql = OracleUnigramSql.bitsSql(
        UnigramVocabK, UnigramPieceLen, UnigramRounds,
        TextAnalysis.UnigramOovScore, UnigramSeedK, unigramAugSql)),
    QuerySpec("docs_tokenizer_compare", (s, dir) => {
      // the pre-vocab-commit report every pipeline runs before freezing a
      // tokenizer (round-15, verdict item 6): BPE (fixed table) vs
      // unigram-LM (trained artifact) over the SAME corpus (the
      // augmented/planted one the unigram chain uses, so both tokenizers
      // see the >MaxLen branch), per language — pieces, fertility
      // (pieces/word, the vocab_fertility arithmetic) and the unigram
      // model's bits/token (the docs_unigram_bits arithmetic). ZERO new
      // arithmetic: three existing oracle chains composed; the oracle
      // replays both tokenizers in ONE statement (OracleBpeSql fragment
      // namespaced beside OracleUnigramSql.bitsCtes).
      val aug = unigramCorpus(s, dir)
      val langs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      val bpe = TextAnalysis.bpeEncode(aug, "doc_id", "text", BpeFixedMerges)
        .select(col("doc_id"), col("n_tokens").as("__bp"))
      val uni = TextAnalysis.unigramScore(aug, "doc_id", "text",
          unigramArtifact(s, dir))
        .select(col("doc_id"), col("n_tokens").as("__up"), col("bits_fp"))
      val words = aug.select(col("doc_id"),
        size(filter(TextAnalysis.tokens(col("text")),
          w => length(w) > 0)).as("__nw"))
      words.join(langs.hint("merge"), "doc_id")
        .join(bpe.hint("merge"), "doc_id")
        .join(uni.hint("merge"), "doc_id")
        .groupBy(col("lang"))
        .agg(sum(col("__nw").cast("long")).as("n_words"),
          sum(col("__bp").cast("long")).as("bpe_pieces"),
          sum(col("__up")).as("uni_pieces"),
          sum(col("bits_fp")).as("uni_bits_fp"))
        .select(col("lang"), col("n_words"), col("bpe_pieces"),
          col("uni_pieces"),
          round(col("bpe_pieces").cast("double")
            / greatest(col("n_words"), lit(1L)), 4).as("bpe_fertility"),
          round(col("uni_pieces").cast("double")
            / greatest(col("n_words"), lit(1L)), 4).as("uni_fertility"),
          col("uni_bits_fp"),
          expr("uni_bits_fp DIV greatest(uni_pieces, CAST(1 AS BIGINT))")
            .as("uni_bpt_fp"))
        .orderBy(col("lang"))
    }, oracleSql =
        // both tokenizers replayed in ONE statement: the unigram bits chain
        // (train + encode over the augmented corpus) beside the b_-prefixed
        // BPE fold chain over the SAME aug CTE; per-language census +
        // the two fertility divides and the integer bits-per-token
        {
        val uniC = OracleUnigramSql.bitsCtes(UnigramVocabK, UnigramPieceLen,
          UnigramRounds, TextAnalysis.UnigramOovScore, UnigramSeedK,
          unigramAugSql)
        val bpeC = OracleBpeSql.pieceCtesFragment(BpeFixedMerges,
          srcRel = "aug", prefix = "b_")
        s"""$uniC,
           |$bpeC,
           |bstat AS (SELECT doc_id, count(*) AS np FROM b_pieces GROUP BY doc_id),
           |wstat AS (SELECT doc_id, len(list_filter(ts, x -> length(x) > 0)) AS nw FROM tk),
           |per AS (SELECT d.doc_id, d.lang,
           |    coalesce(w.nw, 0) AS nw, coalesce(b.np, 0) AS bp,
           |    coalesce(u.n, 0) AS up, coalesce(-u.ss, 0) AS bits
           |  FROM documents d
           |  LEFT JOIN wstat w USING (doc_id)
           |  LEFT JOIN bstat b USING (doc_id)
           |  LEFT JOIN udoc u USING (doc_id))
           |SELECT lang, CAST(sum(nw) AS BIGINT) AS n_words,
           |  CAST(sum(bp) AS BIGINT) AS bpe_pieces,
           |  CAST(sum(up) AS BIGINT) AS uni_pieces,
           |  round(CAST(sum(bp) AS DOUBLE) / greatest(sum(nw), 1), 4) AS bpe_fertility,
           |  round(CAST(sum(up) AS DOUBLE) / greatest(sum(nw), 1), 4) AS uni_fertility,
           |  CAST(sum(bits) AS BIGINT) AS uni_bits_fp,
           |  CAST(sum(bits) // greatest(sum(up), 1) AS BIGINT) AS uni_bpt_fp
           |FROM per GROUP BY lang ORDER BY lang""".stripMargin
      }),
    QuerySpec("vocab_bpe_encode", (s, dir) =>
      // tokenizer APPLICATION (TextAnalysis.bpeEncode): corpus piece
      // census under the fixed merge table — every piece is a char or a
      // merge product, so the census is ≤ |alphabet| + |merges| rows at
      // any SF; the oracle replays the per-rank greedy fold as a DuckDB
      // list_reduce chain (OracleBpeSql)
      TextAnalysis.bpeEncode(t(s, dir, "documents"), "doc_id", "text",
          BpeFixedMerges)
        .select(explode(col("enc_tokens")).as("piece"))
        .groupBy(col("piece")).agg(count(lit(1)).as("freq"))
        .orderBy(col("piece")), oracleSql =
        // fixed-table BPE encode: the in-order greedy fold replayed as a
        // list_reduce chain, one CTE per merge rank (OracleBpeSql scaladoc)
        OracleBpeSql.pieceCensusSql(BpeFixedMerges)),
    QuerySpec("docs_bpe_token_counts", (s, dir) =>
      // per-document EXACT token count under the same fixed table — the
      // packing/budget-selection input the whitespace and regex counters
      // approximate; empty docs keep n_tokens = 0 (left-join totality)
      TextAnalysis.bpeEncode(t(s, dir, "documents"), "doc_id", "text",
          BpeFixedMerges)
        .select(col("doc_id"), col("n_tokens"))
        .orderBy(col("doc_id")), oracleSql = OracleBpeSql.tokenCountsSql(BpeFixedMerges)),
    QuerySpec("vocab_fertility", (s, dir) => {
      // tokenizer fertility per language under the fixed merge table:
      // pieces/word (high = the vocab under-serves that language — each
      // word shatters into more pieces, so the same text costs more
      // tokens) and chars/piece (the compression the vocab achieves).
      // Exact integer censuses + two correctly-rounded IEEE divides;
      // aggregation grain is |languages|
      val docs = t(s, dir, "documents")
      val enc = TextAnalysis.bpeEncode(docs, "doc_id", "text", BpeFixedMerges)
        .select(col("doc_id"), col("n_tokens"),
          aggregate(col("enc_tokens"), lit(0L),
            (acc, p) => acc + length(p).cast("long")).as("nc"))
      val words = docs.select(col("doc_id"), col("lang"),
        size(filter(TextAnalysis.tokens(col("text")),
          w => length(w) > 0)).as("nw"))
      words.join(enc.hint("merge"), "doc_id")
        .groupBy(col("lang"))
        .agg(sum(col("n_tokens").cast("long")).as("n_pieces"),
          sum(col("nw").cast("long")).as("n_words"),
          sum(col("nc")).as("n_chars"))
        .select(col("lang"), col("n_pieces"), col("n_words"), col("n_chars"),
          round(col("n_pieces").cast("double")
            / greatest(col("n_words"), lit(1L)), 4).as("fertility"),
          round(col("n_chars").cast("double")
            / greatest(col("n_pieces"), lit(1L)), 4).as("chars_per_piece"))
        .orderBy(col("lang"))
    }, oracleSql = OracleBpeSql.fertilitySql(BpeFixedMerges)),
    QuerySpec("text_tfidf", (s, dir) =>
      TextAnalysis.topTermsPerDoc(t(s, dir, "documents"), "doc_id", "text", 3)
        .orderBy(col("doc_id"), col("rnk")), oracleSql =
        // score = tf/df (rational, IEEE-exact division) — see
        // TextAnalysis.topTermsPerDoc for why there is deliberately no ln()
        s"""WITH toks AS (SELECT doc_id, unnest($toks) AS term FROM documents),
           |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
           |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
           |s AS (SELECT doc_id, term, tf, df, tf * 1.0 / df AS score FROM tf JOIN dfreq USING (term)),
           |r AS (SELECT doc_id, term, tf, df, score,
           |  row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rnk FROM s)
           |SELECT doc_id, rnk, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
           |round(score, 4) AS score_r
           |FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin),
    QuerySpec("text_dup_spans", (s, dir) =>
      // substring-level duplication profile (Lee et al. shape): per doc,
      // how many 5-gram positions are cross-document duplicated text
      // hashGrams (round 16): the production xxhash64 keying — 8-byte
      // gram ids through the df exchange instead of 5-word strings;
      // output spec-pinned identical to the string keying (DedupSpec)
      Dedup.duplicatedSpans(t(s, dir, "documents"), "doc_id", "text", 5,
          hashGrams = true)
        .orderBy(col("doc_id")), oracleSql =
        // positioned 5-grams; a gram in >=2 distinct docs marks all its
        // positions duplicated (same construction as Dedup.duplicatedSpans:
        // Spark sequence(0, size-n) == generate_series(0, len-n), both
        // inclusive; Spark slice(w, i+1, n) == w[i+1:i+n] 1-based)
        s"""WITH t AS (SELECT doc_id, $toks AS w FROM documents),
           |ex AS (SELECT doc_id, i AS pos, array_to_string(w[i+1:i+5], ' ') AS gram
           |       FROM t, unnest(generate_series(0, len(w) - 5)) AS u(i)
           |       WHERE len(w) >= 5),
           |dup AS (SELECT gram FROM ex GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
           |dp AS (SELECT doc_id, count(*) AS n_dup, min(pos) AS first_dup_pos
           |       FROM ex JOIN dup USING (gram) GROUP BY doc_id),
           |tot AS (SELECT doc_id, greatest(len(w) - 4, 0) AS n_grams FROM t)
           |SELECT tot.doc_id, CAST(n_grams AS INT) AS n_grams,
           |CAST(coalesce(n_dup, 0) AS BIGINT) AS n_dup,
           |round(CAST(coalesce(n_dup, 0) AS DOUBLE) / greatest(n_grams, 1), 4) AS dup_ratio,
           |CAST(coalesce(first_dup_pos, -1) AS INT) AS first_dup_pos
           |FROM tot LEFT JOIN dp USING (doc_id) ORDER BY doc_id""".stripMargin),
    QuerySpec("text_dup_spans_removed", (s, dir) =>
      // the REWRITE over the same flagging rule: cut every token covered
      // by a cross-document duplicated 5-gram, reassemble the remainder
      // (Dedup.removeDupSpans — measure and rewrite share one rule, so
      // n_removed here is consistent with text_dup_spans' n_dup counts)
      Dedup.removeDupSpans(t(s, dir, "documents"), "doc_id", "text", 5,
          hashGrams = true) // round 16: production keying, spec-pinned
        .orderBy(col("doc_id")), oracleSql =
        // same flagging CTEs as text_dup_spans; then covered positions
        // (span explode), anti-join tokens, position-ordered reassembly
        s"""WITH t AS (SELECT doc_id, $toks AS w FROM documents),
           |ex AS (SELECT doc_id, i AS pos, array_to_string(w[i+1:i+5], ' ') AS gram
           |       FROM t, unnest(generate_series(0, len(w) - 5)) AS u(i)
           |       WHERE len(w) >= 5),
           |dup AS (SELECT gram FROM ex GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
           |cov AS (SELECT DISTINCT doc_id, pos + j AS t
           |        FROM ex JOIN dup USING (gram), unnest(generate_series(0, 4)) AS v(j)),
           |tokpos AS (SELECT doc_id, i - 1 AS t, w[i] AS tok
           |           FROM t, unnest(generate_series(1, len(w))) AS u(i)),
           |kept AS (SELECT doc_id, count(*) AS n_kept,
           |         string_agg(tok, ' ' ORDER BY t) AS text_clean
           |         FROM tokpos ANTI JOIN cov USING (doc_id, t)
           |         GROUP BY doc_id)
           |SELECT t.doc_id, CAST(len(w) AS INT) AS n_tokens,
           |CAST(len(w) - coalesce(n_kept, 0) AS BIGINT) AS n_removed,
           |coalesce(text_clean, '') AS text_clean
           |FROM t LEFT JOIN kept USING (doc_id) ORDER BY doc_id""".stripMargin),
    QuerySpec("text_remove_spans_cross", (s, dir) => {
      // the rewrite against a PREBUILT reference gram index
      // (Dedup.dupGramBuild / removeDupSpansWith): the index knows only
      // the even-id half's duplicated grams, so the rewrite cuts what the
      // REFERENCE taught — the "scrub new crawls of known boilerplate"
      // production shape (streaming form: dupGramBloom + the stateless
      // removeDupSpansBloom projection, parity spec-pinned)
      val docs = t(s, dir, "documents")
      Dedup.removeDupSpansWith(docs,
          Dedup.dupGramBuild(docs.filter(col("doc_id") % 2 === 0),
            "doc_id", "text", 5, hashGrams = true), // round 16 keying
          "doc_id", "text")
        .orderBy(col("doc_id"))
    }, oracleSql =
        // same construction, but the dup-gram set comes from the even-id
        // REFERENCE half only (the prebuilt-index semantics); coverage
        // and reassembly run over every document
        s"""WITH t AS (SELECT doc_id, $toks AS w FROM documents),
           |ex AS (SELECT doc_id, i AS pos, array_to_string(w[i+1:i+5], ' ') AS gram
           |       FROM t, unnest(generate_series(0, len(w) - 5)) AS u(i)
           |       WHERE len(w) >= 5),
           |dup AS (SELECT gram FROM ex WHERE doc_id % 2 = 0
           |        GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
           |cov AS (SELECT DISTINCT doc_id, pos + j AS t
           |        FROM ex JOIN dup USING (gram), unnest(generate_series(0, 4)) AS v(j)),
           |tokpos AS (SELECT doc_id, i - 1 AS t, w[i] AS tok
           |           FROM t, unnest(generate_series(1, len(w))) AS u(i)),
           |kept AS (SELECT doc_id, count(*) AS n_kept,
           |         string_agg(tok, ' ' ORDER BY t) AS text_clean
           |         FROM tokpos ANTI JOIN cov USING (doc_id, t)
           |         GROUP BY doc_id)
           |SELECT t.doc_id, CAST(len(w) AS INT) AS n_tokens,
           |CAST(len(w) - coalesce(n_kept, 0) AS BIGINT) AS n_removed,
           |coalesce(text_clean, '') AS text_clean
           |FROM t LEFT JOIN kept USING (doc_id) ORDER BY doc_id""".stripMargin),
    QuerySpec("text_winnowing", (s, dir) =>
      // MOSS winnowing fingerprints [Schleimer et al., SIGMOD 2003]: the
      // min-hash-per-window selection whose coverage guarantee (every
      // window contributes a fingerprint) and ~2/(w+1) density make it
      // the gram index you can AFFORD to self-join at corpus scale; the
      // selection rides the hash VALUES, so the oracle replays xxhash64
      // in closed form (Dedup.winnowFingerprints / OracleHashSql)
      Dedup.winnowFingerprints(t(s, dir, "documents"), "doc_id", "text",
          n = 3, window = 4)
        .orderBy(col("doc_id"), col("fp")), oracleSql = OracleHashSql.winnowingSql()),
    QuerySpec("text_winnowing_matches", (s, dir) =>
      // the detector over the sparse index: doc pairs sharing >= 2
      // df-capped fingerprints — quote-reuse/plagiarism candidates at
      // ~(w+1)²/4 the containment join's candidate cost
      // trigrams + a TIGHT df cap: the synthetic 25-word vocabulary
      // makes bigram fingerprints non-discriminative (the sf0.1 bigram
      // census measured ~10^7 candidate pairs — the exact blowup the
      // df cap exists to prevent; with n = 3, maxDf = 20 the candidate
      // budget is sum df^2 <= 400*|fps|)
      Dedup.winnowMatches(t(s, dir, "documents"), "doc_id", "text",
          n = 3, window = 4, minShared = 2, maxDf = 20)
        .orderBy(col("id_a"), col("id_b")), oracleSql = OracleHashSql.winnowMatchesSql()),
    QuerySpec("text_winnowing_cross", (s, dir) => {
      // the quote-reuse detector through the Build/With seam: fresh
      // crawl docs (odd ids) sharing >= 2 capped fingerprints with some
      // training doc (even ids) — the sparse-index sibling of
      // dedup_containment_cross, at ~2/(w+1) the index size; reference-
      // side df cap only (batch-invariant), streaming twin spec-pinned
      val d = t(s, dir, "documents")
      Dedup.winnowFlagsWith(d.filter(col("doc_id") % 2 === 1),
          Dedup.winnowBuild(d.filter(col("doc_id") % 2 === 0),
            "doc_id", "text", n = 3, window = 4, maxDf = 20),
          "doc_id", "text", minShared = 2)
        .orderBy(col("id_new"), col("id_ref"))
    }, oracleSql = OracleHashSql.winnowCrossSql()),
    QuerySpec("text_bm25", (s, dir) =>
      // retrieval scoring for topic mining: rational-idf Okapi BM25 of
      // every doc vs a fixed 3-term query (see bm25Score for why no ln)
      TextAnalysis.bm25Score(t(s, dir, "documents"), "doc_id", "text",
          Seq("merge", "window", "scan"))
        .orderBy(col("doc_id")), oracleSql =
        // same arithmetic, same parenthesization, same fixed-order
        // term-wise summation as TextAnalysis.bm25Score — every float op
        // is IEEE-identical so round(,4) compares hash-exact
        s"""WITH base AS (SELECT doc_id, $toks AS w FROM documents),
           |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
           |       CAST(sum(len(w)) AS DOUBLE) / count(*) AS avgdl FROM base),
           |tf AS (SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl, u.term,
           |       CAST(count(*) AS DOUBLE) AS tf
           |       FROM base, unnest(w) AS u(term)
           |       WHERE u.term IN ('merge', 'window', 'scan')
           |       GROUP BY doc_id, dl, u.term),
           |dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
           |s AS (SELECT doc_id, term,
           |      ((n_docs - df + 0.5) / (df + 0.5)) * (tf * (1.2 + 1.0))
           |      / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS s
           |      FROM tf JOIN dfreq USING (term), st)
           |SELECT doc_id,
           |round(sum(CASE WHEN term = 'merge' THEN s ELSE 0.0 END)
           |    + sum(CASE WHEN term = 'window' THEN s ELSE 0.0 END)
           |    + sum(CASE WHEN term = 'scan' THEN s ELSE 0.0 END), 4) AS bm25,
           |count(*) AS n_hit_terms
           |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    QuerySpec("docs_shuffle_shards", (s, dir) =>
      // deterministic training shuffle: content-salted hash → shard,
      // rank within shard = reproducible "random" example order
      TextAnalysis.shuffleShards(t(s, dir, "documents"), "doc_id", "text", 8)
        .orderBy(col("shard"), col("pos")), oracleSql =
        // same rolling-hash fold as text_fingerprint, salted; rank within
        // shard ordered by (hash, id)
        """WITH f AS (SELECT doc_id, list_reduce(
          |  list_prepend(CAST(0 AS BIGINT),
          |    list_transform(range(1, length(text || ':shuffle-v1') + 1),
          |      i -> CAST(ascii(substr(text || ':shuffle-v1', i, 1)) AS BIGINT))),
          |  (h, c) -> (h * 31 + c) % 1000000007) AS fp
          |FROM documents),
          |s AS (SELECT doc_id, fp, fp % 8 AS shard FROM f)
          |SELECT doc_id, CAST(shard AS BIGINT) AS shard,
          |CAST(row_number() OVER (PARTITION BY shard ORDER BY fp, doc_id) AS INT) AS pos
          |FROM s ORDER BY shard, pos""".stripMargin),
    QuerySpec("docs_length_histogram", (s, dir) =>
      // corpus profiling: per-language doc-length histogram, 100-char
      // buckets capped at 9 (the "look at your data" pre-curation step).
      // Pure integer bucketing + one aggregation — exact at any scale.
      t(s, dir, "documents")
        .select(col("lang"),
          least(floor(col("n_chars").cast("double") / lit(100)), lit(9L))
            .cast("int").as("bucket"))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang"), col("bucket")), oracleSql =
        """SELECT lang,
          |CAST(least(floor(CAST(n_chars AS DOUBLE) / 100), 9) AS INT) AS bucket,
          |count(*) AS n_docs
          |FROM documents GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin),
    QuerySpec("text_top_ngrams", (s, dir) =>
      TextAnalysis.topNGrams(t(s, dir, "documents"), "text", 2, 20), oracleSql =
        s"""WITH t AS (SELECT doc_id, $toks AS w FROM documents),
           |grams AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+1], ' ') AS g
           |          FROM t, unnest(generate_series(1, greatest(len(w)-1, 1))) AS u(i)),
           |c AS (SELECT g, count(*) AS doc_freq FROM grams GROUP BY g)
           |SELECT g, CAST(doc_freq AS BIGINT) AS doc_freq FROM c
           |ORDER BY doc_freq DESC, g LIMIT 20""".stripMargin),
    QuerySpec("text_simjoin_tfidf", (s, dir) =>
      // exact weighted near-dup scoring as a df-capped sparse similarity
      // join — the bounded-exact third leg beside minhash_lsh (approx) and
      // ngram_jaccard (quadratic oracle); see TextAnalysis.tfidfSimJoin
      TextAnalysis.tfidfSimJoin(t(s, dir, "documents"), "doc_id", "text",
          shingleN = 3, dfCap = 20, threshold = 0.5)
        .orderBy(col("id_a"), col("id_b")), oracleSql =
        // identical gram construction (w[i:i+2] 1-based == Spark slice),
        // identical rational weights, identical sorted-fold dot/norm order
        s"""WITH toks AS (SELECT doc_id AS doc, $toks AS wd FROM documents),
           |g AS (SELECT doc, array_to_string(wd[i:i+2], ' ') AS term
           |      FROM toks, unnest(generate_series(1, greatest(len(wd)-2, 1))) AS u(i)),
           |tf AS (SELECT doc, term, CAST(count(*) AS DOUBLE) AS tf FROM g GROUP BY doc, term),
           |dfq AS (SELECT term, count(*) AS df0 FROM tf GROUP BY term HAVING count(*) <= 20),
           |w AS (SELECT doc, term, tf / CAST(df0 AS DOUBLE) AS w FROM tf JOIN dfq USING (term)),
           |norms AS (SELECT doc, sqrt(list_reduce(list_prepend(0.0, list_sort(list(w * w))), (a, x) -> a + x)) AS nrm
           |          FROM w GROUP BY doc),
           |p AS (SELECT a.doc AS id_a, b.doc AS id_b,
           |      list_reduce(list_prepend(0.0, list_sort(list(a.w * b.w))), (s, x) -> s + x) AS dot
           |      FROM w a JOIN w b ON a.term = b.term AND a.doc < b.doc GROUP BY 1, 2)
           |SELECT id_a, id_b, round(dot / (na.nrm * nb.nrm), 4) AS cosine_r
           |FROM p JOIN norms na ON na.doc = id_a JOIN norms nb ON nb.doc = id_b
           |WHERE dot / (na.nrm * nb.nrm) >= 0.5
           |ORDER BY id_a, id_b""".stripMargin),
    QuerySpec("text_word_lift", (s, dir) =>
      // co-occurrence mining over the top-40 vocabulary: which word pairs
      // appear together more than their frequencies predict (lift > 1) —
      // ordered by the rational lift score, ties broken lexically
      TextAnalysis.wordLift(t(s, dir, "documents"), "doc_id", "text",
          vocabK = 40, minCoDocs = 5)
        .orderBy(col("lift_r").desc, col("term_a"), col("term_b"))
        .limit(20), oracleSql =
        s"""WITH t AS (SELECT doc_id, unnest(list_distinct($toks)) AS term FROM documents),
           |dfq AS (SELECT term, count(*) AS df FROM t GROUP BY term),
           |v AS (SELECT term, df FROM dfq ORDER BY df DESC, term LIMIT 40),
           |dt AS (SELECT doc_id, t.term FROM t JOIN v USING (term)),
           |p AS (SELECT a.term AS term_a, b.term AS term_b, count(*) AS co_docs
           |      FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.term < b.term
           |      GROUP BY 1, 2 HAVING count(*) >= 5),
           |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents)
           |SELECT term_a, term_b, CAST(co_docs AS BIGINT) AS co_docs,
           |CAST(va.df AS BIGINT) AS df_a, CAST(vb.df AS BIGINT) AS df_b,
           |round(n_docs * CAST(co_docs AS DOUBLE) / CAST(va.df * vb.df AS DOUBLE), 4) AS lift_r
           |FROM p JOIN v va ON va.term = p.term_a JOIN v vb ON vb.term = p.term_b, n
           |ORDER BY lift_r DESC, term_a, term_b LIMIT 20""".stripMargin),
    QuerySpec("docs_quality_gate", (s, dir) =>
      // distribution-relative curation cut: keep docs at/above their
      // language's median quality score (absolute thresholds don't
      // transfer across languages)
      TextAnalysis.qualityGate(t(s, dir, "documents"), "text")
        .orderBy(col("doc_id")), oracleSql =
        // the text_quality oracle's score construction + per-language
        // median gate (quantile_cont == Spark percentile, proven by
        // q_percentiles)
        s"""WITH f AS (SELECT doc_id, lang, $toks AS w, $subw AS sw FROM documents),
           |g AS (SELECT doc_id, lang, len(w) AS n_tokens,
           |  round(list_sum(list_transform(w, x -> length(x))) * 1.0 / greatest(len(w), 1), 4) AS avg_token_len,
           |  round(len(list_filter(w, x -> list_contains(${markers(mk("en"))}, lower(x)))) * 1.0 / greatest(len(w), 1), 4) AS stopword_ratio
           |FROM f),
           |q AS (SELECT doc_id, lang,
           |round((CASE WHEN n_tokens BETWEEN 10 AND 200 THEN 0.4 ELSE 0.0 END)
           |  + (CASE WHEN avg_token_len BETWEEN 2.0 AND 10.0 THEN 0.3 ELSE 0.0 END)
           |  + (CASE WHEN stopword_ratio > 0.0 THEN 0.3 ELSE 0.0 END), 2) AS quality_score
           |FROM g),
           |m AS (SELECT lang, quantile_cont(quality_score, 0.5) AS med FROM q GROUP BY lang)
           |SELECT doc_id, q.lang, quality_score, round(med, 2) AS lang_median
           |FROM q JOIN m USING (lang) WHERE quality_score >= med
           |ORDER BY doc_id""".stripMargin),
    QuerySpec("docs_dedup_survivorship", (s, dir) =>
      // per-quality-decile kept/dropped census of the exact keep-min dedup
      // — the "did dedup shift my quality mix" monitor (see
      // Dedup.dedupSurvivorship)
      Dedup.dedupSurvivorship(t(s, dir, "documents"))
        .orderBy(col("bucket")), oracleSql =
        // the quality-gate score CTEs + full-text keep-min keepers (raw
        // GROUP BY text — a fingerprint collision on the Spark side fails
        // loudly, the dedup_exact_cross convention) + an 11-key integer
        // census; bucket = round(score·10) from the same 2-dp double
        s"""WITH f AS (SELECT doc_id, $toks AS w FROM documents),
           |g AS (SELECT doc_id, len(w) AS n_tokens,
           |  round(list_sum(list_transform(w, x -> length(x))) * 1.0 / greatest(len(w), 1), 4) AS avg_token_len,
           |  round(len(list_filter(w, x -> list_contains(${markers(mk("en"))}, lower(x)))) * 1.0 / greatest(len(w), 1), 4) AS stopword_ratio
           |FROM f),
           |q AS (SELECT doc_id,
           |round((CASE WHEN n_tokens BETWEEN 10 AND 200 THEN 0.4 ELSE 0.0 END)
           |  + (CASE WHEN avg_token_len BETWEEN 2.0 AND 10.0 THEN 0.3 ELSE 0.0 END)
           |  + (CASE WHEN stopword_ratio > 0.0 THEN 0.3 ELSE 0.0 END), 2) AS quality_score
           |FROM g),
           |k AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
           |j AS (SELECT q.doc_id, CAST(round(quality_score * 10, 0) AS INT) AS bucket,
           |      CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END AS kept
           |      FROM q LEFT JOIN k ON k.doc_id = q.doc_id)
           |SELECT bucket, count(*) AS n_total, CAST(sum(kept) AS BIGINT) AS n_kept,
           |  CAST(count(*) - sum(kept) AS BIGINT) AS n_dropped,
           |  round(CAST(sum(kept) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) AS kept_share_r
           |FROM j GROUP BY bucket ORDER BY bucket""".stripMargin),
    QuerySpec("docs_cluster_labels", (s, dir) => {
      // the data-map op end-to-end: assign embeddings to the hash-seeded
      // 8-bucket quantizer (trainIters = 0 — the xxh64LongChain replay),
      // join documents on the shared id space, label each bucket with its
      // top-5 lift terms. Lift is ONE IEEE divide of exact-integer-valued
      // doubles, so the (lift DESC, n_bw DESC, term ASC) ranking is
      // bit-identical in DuckDB.
      val emb = t(s, dir, "embeddings")
      val docs = t(s, dir, "documents")
      val (ids, mat) = Similarity.collectCentroids(Similarity.centroids(emb, 8))
      val assigned = Similarity.assignTo(emb, ids, mat)
        .select(col("vec_id").as("doc_id"), col("bucket"))
      Analytics.clusterLabels(docs, assigned, topK = 5, minDocs = 2)
        .orderBy(col("bucket"), col("rnk"))
    }, oracleSql = clusterLabelsSql),

    QuerySpec("docs_classifier_train", (s, dir) => {
      // the fasttext-shaped linear quality classifier, trained end-to-end
      // (64 full-batch LMS rounds over density-relative hashed
      // bag-of-words features, teacher = the stopword-density rule) —
      // distilling a quality gate into a scan-speed linear scorer, the
      // CCNet/LLaMA-pipeline curation op. Fixed-point (2^-20) quantized
      // gradient sums make the training trajectory order-independent and
      // engine-exact: the oracle replays all 64 rounds as a chained-CTE
      // loop (OracleClassifierSql) and hash-matches the weights
      val (w, b) = classifierArtifact(s, dir)
      TextAnalysis.classifierWeightsFrom(w, b, s)
        .select(col("pos"), round(col("w"), 6).as("w_r"))
        .orderBy(col("pos"))
    }, oracleSql =
        // classifier training replayed round-for-round; apply census under
        // the final weights; DSIR bucket model + selection — all exact
        // arithmetic, chained-CTE loops where iterative (OracleClassifierSql)
        OracleClassifierSql.weightsSql()),
    QuerySpec("docs_classifier_apply", (s, dir) => {
      // the trained model applied: per-source prediction census (margin
      // > 0 => predicted target-class). The margin is a bit-identical
      // index-order IEEE fold against the learned literals, so the
      // boolean census is exact — the accuracy/coverage report a
      // classifier-gated curation stage ships with
      val (w, b) = classifierArtifact(s, dir)
      val sc = TextAnalysis.classifierScore(col("text"), w, b, dim = 32)
      classifierLabeled(s, dir)
        .select(col("source"), classifierTarget.as("__pos"), sc.as("__sc"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("__sc") > 0, 1L).otherwise(0L)).as("n_pred_pos"),
          sum(when((col("__sc") > 0) === col("__pos"), 1L).otherwise(0L)).as("n_correct"))
        .withColumn("acc_r", round(col("n_correct").cast("double") /
          col("n_docs").cast("double"), 4))
        .orderBy(col("source"))
    }, oracleSql = OracleClassifierSql.applySql()),
    QuerySpec("docs_classifier_train_sampled", (s, dir) => {
      // sampled-shard retrain (classifierTrainSampled): the SAME 64-round
      // LMS trajectory over the deterministic doc_id % 4 == 0 quarter
      // shard — iters/4 corpus-scan-equivalents per retrain — with the
      // learned weights applied CORPUS-WIDE through the literal seam.
      // Output is the per-source prediction census over the FULL corpus,
      // so the hash transitively pins the whole sampled trajectory AND
      // the apply seam; comparing acc_r against docs_classifier_apply's
      // is the sampled-vs-full validation surface the
      // classifierTrainSampled scaladoc prescribes
      val (w, b) = sampledClassifierArtifact(s, dir)
      val sc = TextAnalysis.classifierScore(col("text"), w, b, dim = 32)
      classifierLabeled(s, dir)
        .select(col("source"), classifierTarget.as("__pos"), sc.as("__sc"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("__sc") > 0, 1L).otherwise(0L)).as("n_pred_pos"),
          sum(when((col("__sc") > 0) === col("__pos"), 1L).otherwise(0L)).as("n_correct"))
        .withColumn("acc_r", round(col("n_correct").cast("double") /
          col("n_docs").cast("double"), 4))
        .orderBy(col("source"))
    }, oracleSql =
        OracleClassifierSql.sampledApplySql(shardSql = sampledShardSql)),
    QuerySpec("docs_classifier_multiclass", (s, dir) => {
      // one-vs-rest distillation of the 3-band density teacher into 3
      // scan-speed linear probes (24 LMS rounds each over ONE shared
      // featurized checkpoint), reported as the (teacher, predicted)
      // confusion census. Argmax ties break to the alphabetically-first
      // class — bit-exact in both engines (margins are index-order
      // folds), and the oracle replays all 3×8 training rounds as
      // prefixed CTE chains
      val models = multiclassArtifact(s, dir)
      classifierLabeled(s, dir)
        .select(densityBand.as("band_true"),
          TextAnalysis.classifierPredict(col("text"), models, dim = 32)
            .as("band_pred"))
        .groupBy(col("band_true"), col("band_pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("band_true"), col("band_pred"))
    }, oracleSql =
        OracleClassifierSql.multiclassSql(multiclassClasses, iters = 24)),
    QuerySpec("docs_classifier_multiclass_apply", (s, dir) => {
      // the SAME confusion census scored through the RELATIONAL seam:
      // the one-vs-rest artifact lives as a (cls, cls_idx, pos, w)
      // relation (classifierWeightsMulti — at 100 TB: train once,
      // persist the 3·33-row table, score every later crawl or stream
      // through classifierPredictWith's broadcast fold). Predictions are
      // bit-identical to the in-memory path (spec-pinned), so this query
      // shares docs_classifier_multiclass's full 3×24-round oracle
      // replay — the strongest possible check that the seam loses
      // nothing: same hash, different execution path
      val model = TextAnalysis.classifierWeightsMultiFrom(
        multiclassArtifact(s, dir), s)
      TextAnalysis.classifierPredictWith(
          classifierLabeled(s, dir).select(col("text"),
            densityBand.as("band_true")),
          "text", model, dim = 32)
        .groupBy(col("band_true"), col("clf_pred").as("band_pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("band_true"), col("band_pred"))
    }, oracleSql =
        // the relational-seam twin is bit-identical to the in-memory
        // path by construction (classifierPredictWith spec), so it
        // replays the SAME 3×24-round training + argmax census — one
        // oracle, two execution paths, both must land on its hash
        OracleClassifierSql.multiclassSql(multiclassClasses, iters = 24)),
    QuerySpec("docs_classifier_calibration", (s, dir) => {
      // the reliability diagram next to the accuracy number: margin
      // buckets (0.25-wide, clamped to [-2,2)) × observed teacher-positive
      // share. Bucket boundaries are engine-exact (index-order-fold margin
      // × a power-of-two constant, exact floor, integer clamp), so the
      // census hash-oracles through the same 64-round weight replay
      val (w, b) = classifierArtifact(s, dir)
      TextAnalysis.classifierCalibration(classifierLabeled(s, dir), "text",
          classifierTarget, w, b, dim = 32)
        .orderBy(col("bucket"))
    }, oracleSql = OracleClassifierSql.calibrationSql()),
    QuerySpec("docs_dsir_lift", (s, dir) =>
      // the DSIR hashed-bucket importance model [Xie et al. 2023]: per
      // feature bucket, target-subset vs whole-corpus token counts and
      // the add-one-smoothed importance ratio — exact integer censuses
      // plus three correctly-rounded IEEE divides, so the 32-row model
      // relation is engine-exact (see TextClassifier.dsirBucketLift)
      TextAnalysis.dsirBucketLift(classifierLabeled(s, dir), "text",
          classifierTarget, dim = 32)
        .select(col("bucket"), col("n_target"), col("n_all"),
          round(col("lift"), 6).as("lift_r"))
        .orderBy(col("bucket")), oracleSql = OracleClassifierSql.liftSql()),
    QuerySpec("docs_dsir_select", (s, dir) =>
      // DSIR-shaped domain-targeted selection: top-50 documents by mean
      // per-token importance ratio (ratio form, not log form — the
      // no-transcendental discipline; see TextClassifier.dsirSelect).
      // The lift vector rides as a broadcast 1-row array; the top-k is
      // TakeOrderedAndProject — no corpus shuffle, no window
      TextAnalysis.dsirSelect(classifierLabeled(s, dir), "doc_id", "text",
          classifierTarget, dim = 32, k = 50)
        .select(col("doc_id"), col("lang"), col("source"),
          round(col("dsir_w"), 6).as("w_r"))
        .orderBy(col("doc_id")), oracleSql = OracleClassifierSql.selectSql()),

    QuerySpec("docs_dsir_lift2", (s, dir) =>
      // the DSIR paper's ACTUAL feature space: hashed unigrams + BIGRAMS
      // (maxN = 2) — bigrams carry the word-order signal a pure bag of
      // words discards; same dim-bounded census/smoothing machinery, the
      // oracle hashes w_i||' '||w_{i+1} through the identical XXH64 chain
      TextAnalysis.dsirBucketLift(classifierLabeled(s, dir), "text",
          classifierTarget, dim = 32, maxN = 2)
        .select(col("bucket"), col("n_target"), col("n_all"),
          round(col("lift"), 6).as("lift_r"))
        .orderBy(col("bucket")), oracleSql = OracleClassifierSql.liftSql(maxN = 2)),
    QuerySpec("docs_dsir_select2", (s, dir) =>
      // selection under the unigram+bigram importance model — the full
      // Xie et al. configuration, end-to-end
      TextAnalysis.dsirSelect(classifierLabeled(s, dir), "doc_id", "text",
          classifierTarget, dim = 32, k = 50, maxN = 2)
        .select(col("doc_id"), col("lang"), col("source"),
          round(col("dsir_w"), 6).as("w_r"))
        .orderBy(col("doc_id")), oracleSql = OracleClassifierSql.selectSql(maxN = 2)),
    QuerySpec("docs_dsir_resample", (s, dir) => {
      // DSIR as the paper actually runs it: importance RESAMPLING — the
      // frozen bucket-lift model weighs every document (dsirWeightWith)
      // and the deterministic priority sampler draws 50 without
      // replacement ∝ weight, τ subset-sum estimator riding along. Pure
      // composition of two audited ops: census + broadcast fold, then
      // top-(k+1) TakeOrderedAndProject — no corpus shuffle anywhere
      val labeled = classifierLabeled(s, dir)
      val weighted = TextAnalysis.dsirWeightWith(labeled, "text",
        TextAnalysis.dsirBucketLift(labeled, "text", classifierTarget,
          dim = 32), dim = 32)
      TextAnalysis.prioritySample(weighted, "doc_id", "dsir_w", "text", 50)
        .select(col("doc_id"), col("lang"), col("source"),
          round(col("dsir_w"), 6).as("w_r"),
          round(col("priority"), 4).as("priority_r"),
          round(col("est_w"), 4).as("est_w_r"))
        .orderBy(col("doc_id"))
    }, oracleSql = OracleClassifierSql.resampleSql()),

    QuerySpec("docs_score_drift", (s, dir) => {
      // quality-score distribution drift between two snapshots (the
      // per-crawl scorer monitor, Analytics.scoreDrift): the parity
      // split stands in for consecutive crawls; TVD's per-bucket |p−q|
      // needs no ln and no smoothing, so the report is oracle-exact
      val scored = TextAnalysis.qualityScore(t(s, dir, "documents"), "text")
        .select(col("doc_id"), col("quality_score"))
      Analytics.scoreDrift(
          scored.filter(col("doc_id") % 2 === 0),
          scored.filter(col("doc_id") % 2 === 1), "quality_score")
        .orderBy(col("bucket"))
    }, oracleSql =
        // the text_quality CTE chain (same rounding points), then
        // integer-cent buckets, per-side counts, full-outer census join,
        // IEEE-double ratio delta in ppm — no ln, no smoothing
        s"""WITH f AS (SELECT doc_id, $toks AS w, $subw AS sw FROM documents),
           |g AS (SELECT doc_id, len(w) AS n_tokens,
           |  round(list_sum(list_transform(w, x -> length(x))) * 1.0 / greatest(len(w), 1), 4) AS avg_token_len,
           |  round(len(list_filter(w, x -> list_contains(${markers(mk("en"))}, lower(x)))) * 1.0 / greatest(len(w), 1), 4) AS stopword_ratio
           |FROM f),
           |q AS (SELECT doc_id,
           |  round((CASE WHEN n_tokens BETWEEN 10 AND 200 THEN 0.4 ELSE 0.0 END)
           |    + (CASE WHEN avg_token_len BETWEEN 2.0 AND 10.0 THEN 0.3 ELSE 0.0 END)
           |    + (CASE WHEN stopword_ratio > 0.0 THEN 0.3 ELSE 0.0 END), 2) AS s
           |  FROM g),
           |hr AS (SELECT CAST(round(round(s, 2) * 100, 0) AS INT) AS bucket, count(*) AS n
           |       FROM q WHERE doc_id % 2 = 0 GROUP BY 1),
           |hc AS (SELECT CAST(round(round(s, 2) * 100, 0) AS INT) AS bucket, count(*) AS n
           |       FROM q WHERE doc_id % 2 = 1 GROUP BY 1),
           |tot AS (SELECT (SELECT sum(n) FROM hr) AS tr, (SELECT sum(n) FROM hc) AS tc)
           |SELECT coalesce(hr.bucket, hc.bucket) AS bucket,
           |  CAST(coalesce(hr.n, 0) AS BIGINT) AS n_ref,
           |  CAST(coalesce(hc.n, 0) AS BIGINT) AS n_cur,
           |  round(abs(CAST(coalesce(hr.n, 0) AS DOUBLE) / tr
           |    - CAST(coalesce(hc.n, 0) AS DOUBLE) / tc) * 1e6, 4) AS d_ppm
           |FROM hr FULL OUTER JOIN hc ON hr.bucket = hc.bucket, tot
           |ORDER BY bucket""".stripMargin),
    QuerySpec("docs_score_drift_by_source", (s, dir) => {
      // the GROUPED monitor (Analytics.scoreDriftBy): per-language drift
      // census — a one-source regression pooled TVD dilutes to nothing
      // shows at full strength under its own language, and the vanished-
      // source path is exercised by PLANTING one: the "current crawl"
      // side drops zh entirely, so zh's reference mass reads as maximal
      // drift through the guarded zero-share divide
      val scored = TextAnalysis.qualityScore(t(s, dir, "documents"), "text")
        .select(col("doc_id"), col("lang"), col("quality_score"))
      Analytics.scoreDriftBy(
          scored.filter(col("doc_id") % 2 === 0),
          scored.filter(col("doc_id") % 2 === 1 && col("lang") =!= "zh"),
          "lang", "quality_score")
        .orderBy(col("lang"), col("bucket"))
    }, oracleSql =
        // the grouped census: per-(lang, bucket) counts, per-lang totals,
        // guarded zero-share divide for the planted vanished source (the
        // current side drops zh, so zh's reference mass reads as maximal
        // drift — the CASE both engines state identically)
        s"""WITH f AS (SELECT doc_id, lang, $toks AS w FROM documents),
           |g AS (SELECT doc_id, lang, len(w) AS n_tokens,
           |  round(list_sum(list_transform(w, x -> length(x))) * 1.0 / greatest(len(w), 1), 4) AS avg_token_len,
           |  round(len(list_filter(w, x -> list_contains(${markers(mk("en"))}, lower(x)))) * 1.0 / greatest(len(w), 1), 4) AS stopword_ratio
           |FROM f),
           |q AS (SELECT doc_id, lang,
           |  round((CASE WHEN n_tokens BETWEEN 10 AND 200 THEN 0.4 ELSE 0.0 END)
           |    + (CASE WHEN avg_token_len BETWEEN 2.0 AND 10.0 THEN 0.3 ELSE 0.0 END)
           |    + (CASE WHEN stopword_ratio > 0.0 THEN 0.3 ELSE 0.0 END), 2) AS s
           |  FROM g),
           |hr AS (SELECT lang, CAST(round(round(s, 2) * 100, 0) AS INT) AS bucket, count(*) AS n
           |       FROM q WHERE doc_id % 2 = 0 GROUP BY 1, 2),
           |hc AS (SELECT lang, CAST(round(round(s, 2) * 100, 0) AS INT) AS bucket, count(*) AS n
           |       FROM q WHERE doc_id % 2 = 1 AND lang <> 'zh' GROUP BY 1, 2),
           |tr AS (SELECT lang, sum(n) AS t FROM hr GROUP BY lang),
           |tc AS (SELECT lang, sum(n) AS t FROM hc GROUP BY lang),
           |cen AS (SELECT coalesce(hr.lang, hc.lang) AS lang,
           |  coalesce(hr.bucket, hc.bucket) AS bucket,
           |  CAST(coalesce(hr.n, 0) AS BIGINT) AS n_ref,
           |  CAST(coalesce(hc.n, 0) AS BIGINT) AS n_cur
           |  FROM hr FULL OUTER JOIN hc ON hr.lang = hc.lang AND hr.bucket = hc.bucket)
           |SELECT cen.lang, bucket, n_ref, n_cur,
           |  round(abs(
           |    (CASE WHEN tr.t IS NULL OR tr.t = 0 THEN 0.0 ELSE CAST(n_ref AS DOUBLE) / tr.t END)
           |    - (CASE WHEN tc.t IS NULL OR tc.t = 0 THEN 0.0 ELSE CAST(n_cur AS DOUBLE) / tc.t END)) * 1e6, 4) AS d_ppm
           |FROM cen LEFT JOIN tr ON tr.lang = cen.lang LEFT JOIN tc ON tc.lang = cen.lang
           |ORDER BY cen.lang, bucket""".stripMargin),
    QuerySpec("docs_source_digest", (s, dir) =>
      // order-independent per-source integrity digest: n_rows + the exact
      // decimal(38,0) sum of a 60-bit md5 content hash per row — the
      // sort-free snapshot-equality primitive for replication audits
      // (Analytics.contentDigest; the digest renders as a STRING so both
      // engines hash the identical decimal digits)
      Analytics.contentDigest(t(s, dir, "documents"), Seq("source"),
          Seq("doc_id", "text", "lang", "source", "n_chars"))
        .select(col("source"), col("n_rows"),
          col("digest").cast("string").as("digest"))
        .orderBy(col("source")), oracleSql =
        // the identical 60-bit md5 row hash, natively: DuckDB parses the
        // same 15 hex chars Spark conv()s, sums in HUGEINT (exact, like
        // Spark's decimal(38,0)), renders as VARCHAR — digit-identical
        """SELECT source, count(*) AS n_rows,
          |  CAST(sum(CAST(('0x' || substr(md5(concat_ws(chr(1),
          |    CAST(doc_id AS VARCHAR), text, lang, source,
          |    CAST(n_chars AS VARCHAR))), 1, 15)) AS BIGINT)::HUGEINT) AS VARCHAR) AS digest
          |FROM documents GROUP BY source ORDER BY source""".stripMargin),
    QuerySpec("src_format_census", (s, dir) =>
      // SURVEY §2.2 "scans/sources beyond Kafka", wired end-to-end:
      // documents mirrored once into ORC / Avro / JSON-lines / CSV
      // (session temp dir, build-once memo; Avro through the bundled
      // FQCN source — FormatMatrix scaladoc), each read back through
      // its own Spark source with an EXPLICIT schema, and a format-invariant
      // census (count, Σ n_chars, distinct langs, id range, 60-bit md5
      // whole-row digest in exact decimal sums) emitted per format —
      // the oracle recomputes the census from parquet alone, so a
      // reader that drops/re-types/mangles anything fails that
      // format's row loudly (graft.sources.FormatMatrix scaladoc for
      // the per-reader 100 TB configuration rules)
      graft.sources.FormatMatrix.formatCensus(s, dir)
        .orderBy(col("format")), oracleSql =
        // the census is format-INVARIANT: DuckDB computes it ONCE from
        // the parquet table (the same 60-bit md5 row-hash decimal sum as
        // docs_source_digest) and replicates it under each format label —
        // Spark's per-reader legs must all land on these exact values.
        // The label list renders from FormatMatrix.formats (the enMarkers
        // single-source rule): adding a reader leg on the Spark side
        // grows the oracle's row set in the same commit, never out of step
        ("""WITH c AS (SELECT count(*) AS n_docs,
          |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
          |  count(DISTINCT lang) AS n_langs,
          |  min(doc_id) AS id_min, max(doc_id) AS id_max,
          |  CAST(sum(CAST(('0x' || substr(md5(concat_ws(chr(1),
          |    CAST(doc_id AS VARCHAR), text, lang, source,
          |    CAST(n_chars AS VARCHAR))), 1, 15)) AS BIGINT)::HUGEINT) AS VARCHAR) AS digest
          |  FROM documents)
          |SELECT f.format, c.n_docs, c.sum_chars, c.n_langs, c.id_min, c.id_max, c.digest
          |FROM (VALUES """.stripMargin +
          graft.sources.FormatMatrix.formats.map(f => s"('$f')").mkString(", ") +
          """) AS f(format), c
            |ORDER BY f.format""".stripMargin)),
    QuerySpec("docs_source_cap", (s, dir) =>
      // per-source contribution cap: at most 10 docs per source,
      // best-quality-first, doc-id tie-break — histogram threshold +
      // boundary-bucket rank, never a whole-source sort window
      TextAnalysis.sourceCap(t(s, dir, "documents"), "text", 10)
        .orderBy(col("doc_id")), oracleSql =
        // same score construction, then top-10 per source by
        // (quality_score desc, doc_id asc) — the window form IS the
        // specification; the Spark side computes the identical set via
        // the bounded histogram threshold + boundary-bucket rank
        s"""WITH f AS (SELECT doc_id, source, $toks AS w FROM documents),
           |g AS (SELECT doc_id, source, len(w) AS n_tokens,
           |  round(list_sum(list_transform(w, x -> length(x))) * 1.0 / greatest(len(w), 1), 4) AS avg_token_len,
           |  round(len(list_filter(w, x -> list_contains(${markers(mk("en"))}, lower(x)))) * 1.0 / greatest(len(w), 1), 4) AS stopword_ratio
           |FROM f),
           |q AS (SELECT doc_id, source,
           |round((CASE WHEN n_tokens BETWEEN 10 AND 200 THEN 0.4 ELSE 0.0 END)
           |  + (CASE WHEN avg_token_len BETWEEN 2.0 AND 10.0 THEN 0.3 ELSE 0.0 END)
           |  + (CASE WHEN stopword_ratio > 0.0 THEN 0.3 ELSE 0.0 END), 2) AS quality_score
           |FROM g),
           |r AS (SELECT doc_id, source, quality_score,
           |  row_number() OVER (PARTITION BY source ORDER BY quality_score DESC, doc_id) AS rn FROM q)
           |SELECT doc_id, source, quality_score FROM r WHERE rn <= 10
           |ORDER BY doc_id""".stripMargin),
    QuerySpec("docs_boilerplate", (s, dir) =>
      // shared-prefix boilerplate census: per doc, how many same-language
      // docs open with its first 4 tokens (template headers/nav bars —
      // the signal quality scores can't see and pairwise near-dup misses
      // when bodies differ); exchange keys are the prefix's 128-bit
      // fingerprint, never the string (TextAnalysis.boilerplatePrefixes).
      // The raw corpus has no shared openings, so every 4th doc gets a
      // deterministic template header PLANTED (the text_pii_redact
      // augmentation rule: a detector exercised only on its negative
      // branch is vacuous) — flagged and unflagged docs both exist at
      // every SF, and the oracle replays the plant
      TextAnalysis.boilerplatePrefixes(
          t(s, dir, "documents").select(col("doc_id"), col("lang"),
            when(col("doc_id") % 4 === 0,
              concat(lit("site nav home about "), col("text")))
              .otherwise(col("text")).as("text")),
          "doc_id", "text", "lang", prefixTokens = 4, minShare = 3)
        .orderBy(col("doc_id")), oracleSql =
        // census on the RAW prefix string — a Spark-side fingerprint
        // collision would surface as a count mismatch, loudly; the
        // planted template header replayed in the aug CTE
        s"""WITH aug AS (SELECT doc_id, lang,
           |  CASE WHEN doc_id % 4 = 0 THEN 'site nav home about ' || text ELSE text END AS text
           |  FROM documents),
           |toks AS (SELECT doc_id, lang, $toks AS w FROM aug),
           |p AS (SELECT doc_id, lang, array_to_string(w[1:4], ' ') AS prefix FROM toks),
           |c AS (SELECT lang, prefix, count(*) AS prefix_df FROM p GROUP BY 1, 2)
           |SELECT p.doc_id, p.lang, CAST(c.prefix_df AS BIGINT) AS prefix_df,
           |  c.prefix_df >= 3 AS is_boilerplate
           |FROM p JOIN c ON p.lang = c.lang AND p.prefix = c.prefix
           |ORDER BY p.doc_id""".stripMargin),
    QuerySpec("text_textrank", (s, dir) => {
      // TextRank keyword centrality: 10 exact fixed-point PageRank rounds
      // over the word-adjacency graph (TextAnalysis.textRank) — which
      // words the corpus is ABOUT, by stationary centrality rather than
      // raw frequency; every arithmetic op is exact long math, so the
      // oracle replays the full trajectory round-for-round.
      //
      // Runs in an AQE-OFF child session (round 13): AQE re-optimizes
      // the remaining plan at every materialized exchange, and an
      // iterative query is ~1 sequential exchange PER ROUND over an
      // ever-deeper plan — measured ~0.35 s of pure driver-CPU replan
      // per round at sf0.1 (7.0 s → 3.8 s for the identical plan), the
      // data-independent fixed cost box pressure amplifies. AQE has
      // nothing to offer this loop: the round partitioning is explicitly
      // pinned and vocab-grain, and the corpus-scale setup is two
      // partial-aggregated exchanges whose zipfian token skew is
      // absorbed map-side, not a join AQE could re-plan. The child
      // session isolates the conf — the shared session's AQE stays on
      // for every other query; caches/Cleanup ride the shared context.
      val quiet = s.newSession()
      quiet.conf.set("spark.sql.adaptive.enabled", "false")
      Seq("spark.sql.shuffle.partitions", "spark.sql.session.timeZone")
        .foreach(k => quiet.conf.set(k, s.conf.get(k)))
      TextAnalysis.textRank(t(quiet, dir, "documents"), "text")
        .orderBy(col("rank_e12").desc, col("w").asc)
    }, oracleSql = textRankSql),
    QuerySpec("text_cms_heavy", (s, dir) => {
      // count-min sketch heavy hitters: the exact top-20 tokens with
      // their sketch estimates and overcounts — the sketch is fully
      // deterministic (md5 lane hash both engines compute natively), so
      // the ESTIMATES are the oracle surface, not a verdict about them.
      // TWO sketches ride along: the production-shaped (1024×4), which
      // never collides on this 31-word vocabulary (every overcount 0 —
      // the accuracy story), and a deliberately NARROW (16×4) one whose
      // collisions exercise the overcount arithmetic on both branches
      // (the vacuous-negative-branch rule: the collision pattern depends
      // only on the token strings, so both branches appear at EVERY SF)
      // ONE corpus tokenize + vocab-grain count feeds both sketch builds
      // AND the exact top-k (round 16 — the plan previously re-derived
      // the corpus tokenization five times: 2 token-grain sketch builds
      // + the exact subtree duplicated under its three join arms, the
      // DESIGN §8.1 twin-subtree rule); md5 now runs at vocab grain
      // (cmsBuildFromCounts scaladoc). Persist + Cleanup: multi-branch
      // consumer of a derived relation, the dedup_embedding_cosine rule.
      val d = t(s, dir, "documents")
      val wc = Cleanup.register(
        d.select(explode(TextAnalysis.tokens(col("text"))).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("cnt")).persist())
      val sk = TextAnalysis.cmsBuildFromCounts(wc)
      val skN = TextAnalysis.cmsBuildFromCounts(wc, depth = 4, width = 16)
      val exact = wc.select(col("w"), col("cnt").as("n_exact"))
        .orderBy(col("n_exact").desc, col("w").asc).limit(20)
      TextAnalysis.cmsEstimateWith(exact, "w", sk)
        .join(TextAnalysis.cmsEstimateWith(exact, "w", skN)
          .withColumnRenamed("n_cms", "n_cms16"), Seq("w"))
        .join(exact, Seq("w"))
        .select(col("w"), col("n_exact"), col("n_cms"),
          (col("n_cms") - col("n_exact")).as("overcount"),
          col("n_cms16"), (col("n_cms16") - col("n_exact")).as("overcount16"))
        .orderBy(col("n_exact").desc, col("w").asc)
    }, oracleSql =
        // both sketches replayed natively: same md5 (lane, token) bucket
        // hash, same (j, bucket) counters, same min-over-lanes point
        // query — DuckDB computes the identical sketches, no closed form
        s"""WITH tok AS (SELECT unnest($toks) AS w FROM documents),
           |exact AS (SELECT w, count(*) AS n_exact FROM tok GROUP BY w
           |          ORDER BY n_exact DESC, w LIMIT 20),
           |cnt AS (SELECT j, CAST(('0x' || substr(md5(concat_ws(chr(1), CAST(j AS VARCHAR), w)), 1, 15)) AS BIGINT) % 1024 AS bucket,
           |          count(*) AS n
           |        FROM tok, range(0, 4) r(j) GROUP BY 1, 2),
           |cntn AS (SELECT j, CAST(('0x' || substr(md5(concat_ws(chr(1), CAST(j AS VARCHAR), w)), 1, 15)) AS BIGINT) % 16 AS bucket,
           |          count(*) AS n
           |        FROM tok, range(0, 4) r(j) GROUP BY 1, 2),
           |probe AS (SELECT e.w, r.j,
           |    CAST(('0x' || substr(md5(concat_ws(chr(1), CAST(r.j AS VARCHAR), e.w)), 1, 15)) AS BIGINT) AS h
           |  FROM exact e, range(0, 4) r(j)),
           |est AS (SELECT p.w, min(coalesce(c.n, 0)) AS n_cms
           |        FROM probe p LEFT JOIN cnt c ON c.j = p.j AND c.bucket = p.h % 1024
           |        GROUP BY p.w),
           |estn AS (SELECT p.w, min(coalesce(c.n, 0)) AS n_cms16
           |        FROM probe p LEFT JOIN cntn c ON c.j = p.j AND c.bucket = p.h % 16
           |        GROUP BY p.w)
           |SELECT e.w, e.n_exact, CAST(s.n_cms AS BIGINT) AS n_cms,
           |  CAST(s.n_cms - e.n_exact AS BIGINT) AS overcount,
           |  CAST(sn.n_cms16 AS BIGINT) AS n_cms16,
           |  CAST(sn.n_cms16 - e.n_exact AS BIGINT) AS overcount16
           |FROM exact e JOIN est s ON s.w = e.w JOIN estn sn ON sn.w = e.w
           |ORDER BY n_exact DESC, e.w""".stripMargin),
    QuerySpec("text_pii_redact", (s, dir) =>
      // PII scrub over documents AUGMENTED with synthetic addresses (the
      // raw corpus contains none — redaction over it would be a vacuous
      // no-op): append a deterministic per-doc email + phone, then redact
      // and count. Pure regexp projections, scan-speed.
      t(s, dir, "documents")
        .select(col("doc_id"),
          concat(col("text"), lit(" contact user"), col("doc_id"),
            lit("@example.com or +1-555-"), col("doc_id")).as("aug"))
        .select(col("doc_id"),
          TextAnalysis.piiEmailCount(col("aug")).as("n_emails"),
          TextAnalysis.piiPhoneCount(col("aug")).as("n_phones"),
          substring(TextAnalysis.redactPii(col("aug")), -30, 30).as("redacted_tail"))
        .orderBy(col("doc_id")), oracleSql =
        """WITH aug AS (SELECT doc_id,
          |  text || ' contact user' || doc_id || '@example.com or +1-555-' || doc_id AS aug
          |  FROM documents)
          |SELECT doc_id,
          |CAST(len(regexp_extract_all(aug, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
          |CAST(len(regexp_extract_all(aug, '\+[0-9]{1,3}-[0-9]{3}-[0-9]{3,10}')) AS INT) AS n_phones,
          |CASE WHEN length(redacted) <= 30 THEN redacted
          |     ELSE substr(redacted, length(redacted) - 29, 30) END AS redacted_tail
          |FROM (SELECT doc_id, aug, regexp_replace(
          |    regexp_replace(aug, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          |    '\+[0-9]{1,3}-[0-9]{3}-[0-9]{3,10}', '<PHONE>', 'g') AS redacted FROM aug)
          |ORDER BY doc_id""".stripMargin),
    QuerySpec("text_edit_distance", (s, dir) =>
      // Levenshtein distance between each (English) document's prefix and
      // its normalized form — "how much did cleaning change the text", a
      // per-row O(len²) dynamic program fused into the scan: shuffle-free,
      // the shape in which edit-distance dedup verification runs at scale
      // (always against a bounded prefix, never unbounded documents).
      // English-only: DuckDB's levenshtein counts bytes, Java's counts
      // chars — identical on ASCII, divergent on CJK.
      t(s, dir, "documents").filter(col("lang") === "en")
        .select(col("doc_id"),
          levenshtein(substring(col("text"), 1, 120),
            substring(TextAnalysis.normalize(col("text")), 1, 120)).as("edit_dist"))
        .orderBy(col("doc_id")), oracleSql =
        """SELECT doc_id, CAST(levenshtein(substr(text, 1, 120),
          |substr(trim(regexp_replace(
          |  regexp_replace(
          |    regexp_replace(
          |      regexp_replace(
          |        regexp_replace(lower(text), '<[^>]*>', ' ', 'g'),
          |      'https?://[^ \t\n\x0b\f\r]+', '[url]', 'g'),
          |    '[a-z0-9._%+-]+@[a-z0-9.-]+', '[email]', 'g'),
          |  '[\x00-\x1f]', ' ', 'g'),
          |'\s+', ' ', 'g')), 1, 120)) AS INT) AS edit_dist
          |FROM documents WHERE lang = 'en' ORDER BY doc_id""".stripMargin),
    QuerySpec("text_edit_neighbors", (s, dir) =>
      // edit-distance similarity JOIN (symmetric-deletion candidates, no
      // all-pairs product) over the corpus' distinct word vocabulary ∪
      // source labels — the label set carries the near-identical tags
      // (src0/src1 substitutions, src1/src11 insertions) an alias-
      // reconciliation pass is after; the oracle is the quadratic exact
      // Levenshtein join over the same value set
      TextAnalysis.editNeighbors(
        t(s, dir, "documents")
          .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
          .union(t(s, dir, "documents").select(col("source").as("w"))),
        "w", maxEdit = 1)
        .orderBy(col("w1"), col("w2")), oracleSql =
        // quadratic exact form of the symmetric-deletion join; the 64-char
        // gate mirrors the operator's maxLen default
        """WITH tk AS (SELECT DISTINCT unnest(string_split_regex(trim(text), '\s+')) AS w
          |  FROM documents),
          |v AS (SELECT w FROM tk WHERE length(w) > 0 AND length(w) <= 64
          |      UNION SELECT DISTINCT source FROM documents)
          |SELECT a.w AS w1, b.w AS w2, CAST(levenshtein(a.w, b.w) AS INT) AS dist
          |FROM v a JOIN v b ON a.w < b.w AND levenshtein(a.w, b.w) <= 1
          |ORDER BY w1, w2""".stripMargin),
    QuerySpec("docs_gram_novelty", (s, dir) =>
      // first-occurrence novelty attribution (hashGrams = the production
      // xxhash64 keying — counts are hash-invariant, so the string-gram
      // DuckDB oracle still applies); n_novel/n_grams is the dedup-aware
      // selection signal boilerplate-heavy docs fail
      TextAnalysis.gramNovelty(t(s, dir, "documents"), "doc_id", "text",
          n = 3, hashGrams = true)
        .orderBy(col("doc_id")), oracleSql =
        // string-gram replay of the hash-keyed novelty attribution: the
        // truncated-gram construction (greatest(len-2, 1)) makes every doc
        // own >= 1 gram, so ng covers the corpus and the LEFT JOIN only
        // fills docs owning no first occurrence
        s"""WITH t AS (SELECT doc_id, string_split_regex(trim(coalesce(text, '')), '\\s+') AS w FROM documents),
           |grams AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS g
           |          FROM t, unnest(generate_series(1, greatest(len(w)-2, 1))) AS u(i)),
           |firsts AS (SELECT g, min(doc_id) AS doc_id FROM grams GROUP BY g),
           |ng AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id),
           |nv AS (SELECT doc_id, count(*) AS n_novel FROM firsts GROUP BY doc_id)
           |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
           |CAST(COALESCE(n_novel, 0) AS BIGINT) AS n_novel
           |FROM ng LEFT JOIN nv USING (doc_id) ORDER BY doc_id""".stripMargin),
    QuerySpec("docs_novelty_incremental", (s, dir) => {
      // the seen-gram seam driver-checked (noveltyBuild/gramNoveltyWith):
      // the artifact knows the even-id reference half's grams; the odd-id
      // batch's novelty counts only grams absent from the artifact AND
      // first-within-batch — "how much new content does this crawl add"
      val docs = t(s, dir, "documents")
      TextAnalysis.gramNoveltyWith(docs.filter(col("doc_id") % 2 === 1),
          TextAnalysis.noveltyBuild(docs.filter(col("doc_id") % 2 === 0),
            "doc_id", "text", 3, hashGrams = true),
          "doc_id", "text", 3, hashGrams = true)
        .orderBy(col("doc_id"))
    }, oracleSql =
        // same gram construction; the seen set is the even half's DISTINCT
        // grams, batch novelty = anti-join survivors first-within-batch
        s"""WITH t AS (SELECT doc_id, string_split_regex(trim(coalesce(text, '')), '\\s+') AS w FROM documents),
           |grams AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS g
           |          FROM t, unnest(generate_series(1, greatest(len(w)-2, 1))) AS u(i)),
           |seen AS (SELECT DISTINCT g FROM grams WHERE doc_id % 2 = 0),
           |bg AS (SELECT doc_id, g FROM grams WHERE doc_id % 2 = 1),
           |firsts AS (SELECT g, min(doc_id) AS doc_id FROM bg ANTI JOIN seen USING (g) GROUP BY g),
           |ng AS (SELECT doc_id, count(*) AS n_grams FROM bg GROUP BY doc_id),
           |nv AS (SELECT doc_id, count(*) AS n_novel FROM firsts GROUP BY doc_id)
           |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
           |CAST(COALESCE(n_novel, 0) AS BIGINT) AS n_novel
           |FROM ng LEFT JOIN nv USING (doc_id) ORDER BY doc_id""".stripMargin),
  )
}
