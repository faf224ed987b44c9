package graft
package queries

import org.apache.spark.sql.functions._
import graft.ops._
import Shared._

/** Similarity search and product quantization over `embeddings`. */
object SimilarityQueries {
  // k-center greedy traversal replayed as a materialized-CTE chain (the
  // vocab_bpe_merges multi-round pattern): c1 = smallest id; round r —
  // dr = running min of squared distance to the selected set (exact
  // least() fold, same index-order summation as the Spark op), c{r+1} =
  // the farthest unselected point. AS MATERIALIZED is load-bearing
  // (DESIGN §12: inlined CTEs re-expand the chain combinatorially).
  private val kcenterSql = {
    val k = 8
    def dist(p: String, c: String) =
      s"list_reduce(list_prepend(0.0, list_transform(range(1, len($p.v) + 1), " +
        s"i -> ($p.v[i] - $c.v[i]) * ($p.v[i] - $c.v[i]))), (a, x) -> a + x)"
    val sb = new StringBuilder
    sb ++= "WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),\n"
    sb ++= "c1 AS MATERIALIZED (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1),\n"
    for (r <- 2 to k) {
      val prev = if (r == 2) "e" else s"d${r - 2}"
      val d = if (r == 2) dist("p", "c")
              else s"least(p.d, ${dist("p", "c")})"
      sb ++= s"d${r - 1} AS MATERIALIZED (SELECT p.vec_id, p.v, $d AS d FROM $prev p, c${r - 1} c),\n"
      val excl = (1 until r).map(i => s"SELECT vec_id FROM c$i").mkString(" UNION ALL ")
      sb ++= s"c$r AS MATERIALIZED (SELECT vec_id, v, d FROM d${r - 1} WHERE vec_id NOT IN ($excl) ORDER BY d DESC, vec_id LIMIT 1),\n"
    }
    val rows = (s"SELECT CAST(1 AS INT) AS rnk, vec_id, CAST(-1.0 AS DOUBLE) AS mindist_r FROM c1" +:
      (2 to k).map(r =>
        s"SELECT CAST($r AS INT), vec_id, round(sqrt(d), 4) FROM c$r")).mkString("\n UNION ALL ")
    sb ++= s"sel AS ($rows)\nSELECT rnk, vec_id, mindist_r FROM sel ORDER BY rnk"
    sb.toString
  }
  // power iteration replayed (6 rounds, dim 64): per round — dot against
  // the previous round's 1-row vector relation, per-dimension HUGEINT
  // sums of the 2^20-quantized addends (integer addition is associative,
  // so the sum matches Spark's decimal aggregation bit-for-bit), then
  // normalize with the same index-order fold the driver uses. v0 =
  // 1/sqrt(64) = 0.125 exactly (a power of two — no literal rounding).
  private val pcaIters = 6
  private val pcaCtes = { // the WITH chain through v{iters}, shared by the
    // component dump (emb_pca_power) and the whitening projection
    // (emb_whiten_residual)
    val d = 64
    def fold(expr: String) = s"list_reduce(list_prepend(0.0, $expr), (a, x) -> a + x)"
    val sb = new StringBuilder
    sb ++= "WITH e AS MATERIALIZED (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),\n"
    sb ++= s"v0 AS (SELECT list_transform(range(1, ${d + 1}), i -> 0.125) AS vv),\n"
    for (r <- 1 to pcaIters) {
      sb ++= s"d$r AS MATERIALIZED (SELECT e.v, " +
        fold(s"list_transform(range(1, ${d + 1}), i -> e.v[i] * c.vv[i])") +
        s" AS dot FROM e, v${r - 1} c),\n"
      sb ++= s"a$r AS MATERIALIZED (SELECT i, sum(CAST(round(v[i] * dot * 1048576.0) AS HUGEINT)) AS s " +
        s"FROM d$r, unnest(range(1, ${d + 1})) AS t(i) GROUP BY i),\n"
      sb ++= s"v$r AS MATERIALIZED (SELECT list_transform(sl, x -> x / nrm) AS vv FROM " +
        s"(SELECT sl, sqrt(${fold("list_transform(sl, x -> x * x)")}) AS nrm FROM " +
        s"(SELECT list(CAST(s AS DOUBLE) / 1048576.0 ORDER BY i) AS sl FROM a$r)))" +
        (if (r == pcaIters) "\n" else ",\n")
    }
    sb.toString
  }
  private val pcaSql = pcaCtes +
    s"SELECT CAST(i - 1 AS BIGINT) AS pos, round(vv[i], 5) AS loading_r " +
    s"FROM v$pcaIters, unnest(range(1, 65)) AS t(i) ORDER BY pos"
  private val whitenSql = {
    def fold(expr: String) = s"list_reduce(list_prepend(0.0, $expr), (a, x) -> a + x)"
    pcaCtes.stripSuffix("\n") + ",\n" +
      "pr AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),\n" +
      s"pd AS (SELECT pr.vec_id, pr.v, c.vv, ${fold("list_transform(range(1, 65), i -> pr.v[i] * c.vv[i])")} AS d " +
      s"FROM pr, v$pcaIters c)\n" +
      s"SELECT vec_id, round(sqrt(${fold("list_transform(range(1, 65), i -> v[i] * v[i])")}), 4) AS l2_before_r, " +
      s"round(sqrt(${fold("list_transform(range(1, 65), i -> (v[i] - d * vv[i]) * (v[i] - d * vv[i]))")}), 4) AS l2_after_r " +
      "FROM pd ORDER BY vec_id"
  }
  // MMR greedy selection replayed (k rounds, λ = 0.7): every cosine is
  // the explicit index-order fold (dot and both norms — deliberately NOT
  // list_cosine_similarity, whose internal order is engine-private), the
  // λ blend keeps 1−λ as a computed double (CAST(1.0)−CAST(0.7) — the
  // same 0.30000000000000004 the Scala side uses; a literal 0.3 would
  // be a DIFFERENT double), so the argmax chain cannot diverge.
  private val mmrSql = {
    val k = 8
    // the oracle replays the SAME pool-then-rerank contract the Spark
    // side runs (mmrSelect default poolM = 64·k = 512): cut to the
    // top-512 by relevance first — rel is a bit-identical index-order
    // IEEE fold in both engines and the (rel DESC, id ASC) tie-break is
    // exact, so the cut is engine-reproducible — then replay the k
    // greedy rounds over the POOL. Both sides therefore compute pooled
    // MMR by construction; the oracle validates the production
    // semantics rather than coinciding with them only while the
    // full-corpus traversal happens to stay inside the pool.
    val poolM = 64 * k
    def dt(a: String, b: String) =
      s"list_reduce(list_prepend(0.0, list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i])), (x, y) -> x + y)"
    val lam = "CAST(0.7 AS DOUBLE)"
    val sb = new StringBuilder
    sb ++= "WITH e AS MATERIALIZED (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),\n"
    sb ++= "q AS (SELECT v AS qv FROM e WHERE id = 0),\n"
    sb ++= s"b0 AS MATERIALIZED (SELECT id, v, ${dt("v", "qv")} / (sqrt(${dt("v", "v")}) * sqrt(${dt("qv", "qv")})) AS rel, " +
      s"sqrt(${dt("v", "v")}) AS vn, CAST(0.0 AS DOUBLE) AS ms FROM e, q),\n"
    sb ++= s"b AS MATERIALIZED (SELECT * FROM b0 ORDER BY rel DESC, id LIMIT $poolM),\n"
    for (r <- 1 to k) {
      val src = if (r == 1) "b" else s"m${r - 1}"
      val excl = if (r == 1) "" else " WHERE id NOT IN (" +
        (1 until r).map(i => s"SELECT id FROM c$i").mkString(" UNION ALL ") + ")"
      sb ++= s"c$r AS MATERIALIZED (SELECT id, v, rel, vn, ms, $lam * rel - (CAST(1.0 AS DOUBLE) - $lam) * ms AS score " +
        s"FROM $src$excl ORDER BY score DESC, id LIMIT 1),\n"
      if (r < k)
        sb ++= s"m$r AS MATERIALIZED (SELECT p.id, p.v, p.rel, p.vn, " +
          s"greatest(p.ms, ${dt("p.v", "c.v")} / (p.vn * sqrt(${dt("c.v", "c.v")}))) AS ms FROM $src p, c$r c),\n"
    }
    val rows = (1 to k).map(r =>
      s"SELECT CAST($r AS INT) AS rnk, id AS vec_id, round(score, 4) AS score_r FROM c$r")
      .mkString("\n UNION ALL ")
    sb ++= s"sel AS ($rows)\nSELECT rnk, vec_id, score_r FROM sel ORDER BY rnk"
    sb.toString
  }
  // the drift-gated rebuild verdict replayed end-to-end: hash-ordered
  // seed selection (xxh64LongChain — Spark's ORDER BY xxhash64(vec_id)),
  // kernel-exact assignment cosines (explicit index-order folds, argmax
  // tie-broken (cos DESC, cid ASC) like NearestCentroids), the scoreDrift
  // census, and the INTEGER TVD comparison (Σ round(d_ppm·10⁴)::BIGINT
  // — order-independent, can never flip on summation order)
  private val ivfDriftSql = {
    def dt(a: String, b: String) =
      s"list_reduce(list_prepend(0.0, list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i])), (x, y) -> x + y)"
    val (hashCtes, hashFinal) = OracleHashSql.xxh64LongChain(
      "(SELECT vec_id FROM embeddings WHERE vec_id % 2 = 0)", "vec_id")
    val hashCteStr = hashCtes.map { case (n, q) => s"$n AS ($q)" }.mkString(",\n")
    s"""WITH $hashCteStr,
       |seeds AS (SELECT vec_id FROM $hashFinal ORDER BY zh, vec_id LIMIT 16),
       |cents0 AS (SELECT e.vec_id AS cid, CAST(e.embedding AS DOUBLE[]) AS cv
       |           FROM embeddings e JOIN seeds s ON e.vec_id = s.vec_id),
       |cents AS MATERIALIZED (SELECT cid, cv, sqrt(${dt("cv", "cv")}) AS cn FROM cents0),
       |refv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |         FROM embeddings WHERE vec_id % 2 = 0),
       |curv AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
       |           x -> CAST(CAST(x * 0.25 + 2.0 AS FLOAT) AS DOUBLE)) AS v
       |         FROM embeddings WHERE vec_id % 2 = 1),
       |rs AS (SELECT r.vec_id, c.cid,
       |         ${dt("r.v", "c.cv")} / (sqrt(${dt("r.v", "r.v")}) * c.cn) AS cos
       |       FROM refv r, cents c),
       |ra AS (SELECT vec_id, round(cos, 2) AS acos FROM (
       |         SELECT vec_id, cos, row_number() OVER
       |           (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rnk FROM rs)
       |       WHERE rnk = 1),
       |cs AS (SELECT r.vec_id, c.cid,
       |         ${dt("r.v", "c.cv")} / (sqrt(${dt("r.v", "r.v")}) * c.cn) AS cos
       |       FROM curv r, cents c),
       |ca AS (SELECT vec_id, round(cos, 2) AS acos FROM (
       |         SELECT vec_id, cos, row_number() OVER
       |           (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rnk FROM cs)
       |       WHERE rnk = 1),
       |hr AS (SELECT CAST(round(round(acos, 2) * 100, 0) AS INT) AS bucket, count(*) AS n
       |       FROM ra GROUP BY 1),
       |hc AS (SELECT CAST(round(round(acos, 2) * 100, 0) AS INT) AS bucket, count(*) AS n
       |       FROM ca GROUP BY 1),
       |tot AS (SELECT (SELECT sum(n) FROM hr) AS tr, (SELECT sum(n) FROM hc) AS tc),
       |census AS (SELECT coalesce(hr.bucket, hc.bucket) AS bucket,
       |  CAST(coalesce(hr.n, 0) AS BIGINT) AS n_ref,
       |  CAST(coalesce(hc.n, 0) AS BIGINT) AS n_cur,
       |  round(abs(CAST(coalesce(hr.n, 0) AS DOUBLE) / tr
       |    - CAST(coalesce(hc.n, 0) AS DOUBLE) / tc) * 1e6, 4) AS d_ppm
       |  FROM hr FULL OUTER JOIN hc ON hr.bucket = hc.bucket, tot),
       |fired AS (SELECT sum(CAST(round(d_ppm * 1e4, 0) AS BIGINT)) > 2000000000
       |          AS rebuild_fired FROM census)
       |SELECT bucket, n_ref, n_cur, d_ppm, rebuild_fired
       |FROM census, fired ORDER BY bucket""".stripMargin
  }
  // the IVF recall census replayed end-to-end: hash-ordered seed
  // selection (the same xxh64LongChain as ivfDriftSql, over the FULL
  // corpus), kernel-exact bucket assignment and probe selection (explicit
  // index-order folds, (cos DESC, cid ASC) argmax — NearestCentroids'
  // tie-break), then both search legs with the identical fold so the
  // k=10 membership boundary — a raw-double comparison — can't flip
  // between engines, and the per-query intersection counts hash-match
  private val ivfRecallSql = {
    def dt(a: String, b: String) =
      s"list_reduce(list_prepend(0.0, list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i])), (x, y) -> x + y)"
    val (hashCtes, hashFinal) = OracleHashSql.xxh64LongChain(
      "(SELECT vec_id FROM embeddings)", "vec_id")
    val hashCteStr = hashCtes.map { case (n, q) => s"$n AS ($q)" }.mkString(",\n")
    s"""WITH $hashCteStr,
       |seeds AS (SELECT vec_id FROM $hashFinal ORDER BY zh, vec_id LIMIT 16),
       |cents0 AS (SELECT e.vec_id AS cid, CAST(e.embedding AS DOUBLE[]) AS cv
       |           FROM embeddings e JOIN seeds s ON e.vec_id = s.vec_id),
       |cents AS MATERIALIZED (SELECT cid, cv, sqrt(${dt("cv", "cv")}) AS cn FROM cents0),
       |corp0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |corp AS MATERIALIZED (SELECT vec_id, v, sqrt(${dt("v", "v")}) AS vn FROM corp0),
       |asg AS MATERIALIZED (SELECT vec_id, cid AS bucket FROM (
       |  SELECT c.vec_id, ct.cid, row_number() OVER (PARTITION BY c.vec_id
       |    ORDER BY ${dt("c.v", "ct.cv")} / (c.vn * ct.cn) DESC, ct.cid ASC) AS rnk
       |  FROM corp c, cents ct) WHERE rnk = 1),
       |qs AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv, vn AS qn
       |      FROM corp WHERE vec_id < 20),
       |probes AS (SELECT query_id, cid AS bucket FROM (
       |  SELECT q.query_id, ct.cid, row_number() OVER (PARTITION BY q.query_id
       |    ORDER BY ${dt("q.qv", "ct.cv")} / (q.qn * ct.cn) DESC, ct.cid ASC) AS rnk
       |  FROM qs q, cents ct) WHERE rnk <= 4),
       |appr AS (SELECT query_id, neighbor_id FROM (
       |  SELECT p.query_id, c.vec_id AS neighbor_id,
       |    row_number() OVER (PARTITION BY p.query_id
       |      ORDER BY ${dt("q.qv", "c.v")} / (q.qn * c.vn) DESC, c.vec_id ASC) AS rnk
       |  FROM probes p JOIN asg a ON a.bucket = p.bucket
       |    JOIN corp c ON c.vec_id = a.vec_id
       |    JOIN qs q ON q.query_id = p.query_id
       |  WHERE c.vec_id <> p.query_id) WHERE rnk <= 10),
       |exct AS (SELECT query_id, neighbor_id FROM (
       |  SELECT q.query_id, c.vec_id AS neighbor_id,
       |    row_number() OVER (PARTITION BY q.query_id
       |      ORDER BY ${dt("q.qv", "c.v")} / (q.qn * c.vn) DESC, c.vec_id ASC) AS rnk
       |  FROM qs q, corp c WHERE c.vec_id <> q.query_id) WHERE rnk <= 10),
       |hits AS (SELECT e.query_id, count(*) AS n_hit FROM exct e
       |  JOIN appr a ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
       |  GROUP BY 1)
       |SELECT q.query_id, CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit
       |FROM qs q LEFT JOIN hits h ON h.query_id = q.query_id
       |ORDER BY q.query_id""".stripMargin
  }
  // product quantization replayed end-to-end (iters = 0): codebooks are
  // slices of the 16 hash-smallest vectors ordered by id (code = position),
  // per-subspace assignment is the argmin of an index-order squared-diff
  // fold (ties to the lower code — PqEncodeCodes' strict <), the
  // reconstruction is an exact codeword concat, and ADC/distortion are
  // index-order folds over it — every raw-double comparison bit-identical
  private val pqCtes = {
    val (hashCtes, hashFinal) = OracleHashSql.xxh64LongChain(
      "(SELECT vec_id FROM embeddings)", "vec_id")
    val hashCteStr = hashCtes.map { case (n, q) => s"$n AS ($q)" }.mkString(",\n")
    s"""WITH $hashCteStr,
       |seeds AS (SELECT vec_id FROM $hashFinal ORDER BY zh, vec_id LIMIT 16),
       |sv AS (SELECT row_number() OVER (ORDER BY e.vec_id) - 1 AS code,
       |         CAST(e.embedding AS DOUBLE[]) AS v
       |       FROM embeddings e JOIN seeds s ON e.vec_id = s.vec_id),
       |ss AS (SELECT CAST(unnest(range(0, 8)) AS INT) AS subspace),
       |cb AS MATERIALIZED (SELECT ss.subspace, CAST(sv.code AS INT) AS code,
       |       sv.v[ss.subspace*8+1 : ss.subspace*8+8] AS cw FROM sv, ss),
       |corp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |sub AS (SELECT c.vec_id, ss.subspace,
       |          c.v[ss.subspace*8+1 : ss.subspace*8+8] AS x FROM corp c, ss),
       |dist AS (SELECT s.vec_id, s.subspace, cb.code,
       |    list_reduce(list_prepend(0.0, list_transform(range(1, 9),
       |      i -> (s.x[i] - cb.cw[i]) * (s.x[i] - cb.cw[i]))), (a, b) -> a + b) AS d2
       |  FROM sub s JOIN cb ON cb.subspace = s.subspace),
       |enc AS MATERIALIZED (SELECT vec_id, subspace, code FROM (
       |    SELECT vec_id, subspace, code, row_number() OVER
       |      (PARTITION BY vec_id, subspace ORDER BY d2 ASC, code ASC) AS rnk
       |    FROM dist) WHERE rnk = 1),
       |recon AS MATERIALIZED (SELECT e.vec_id,
       |    flatten(list(cb.cw ORDER BY e.subspace)) AS rv
       |  FROM enc e JOIN cb ON cb.subspace = e.subspace AND cb.code = e.code
       |  GROUP BY e.vec_id)""".stripMargin
  }
  private val pqCodesSql =
    s"""$pqCtes
       |SELECT vec_id, subspace, code FROM enc ORDER BY vec_id, subspace""".stripMargin
  private val pqTopkSql =
    s"""$pqCtes,
       |qs AS (SELECT vec_id AS query_id, v AS qv FROM corp WHERE vec_id < 20),
       |sc AS (SELECT q.query_id, r.vec_id AS neighbor_id,
       |    list_reduce(list_prepend(0.0, list_transform(range(1, len(q.qv) + 1),
       |      i -> q.qv[i] * r.rv[i])), (a, b) -> a + b) AS adc
       |  FROM qs q, recon r WHERE r.vec_id <> q.query_id),
       |rk AS (SELECT query_id, neighbor_id, adc, row_number() OVER
       |    (PARTITION BY query_id ORDER BY adc DESC, neighbor_id ASC) AS rnk FROM sc)
       |SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id, round(adc, 4) AS adc_r
       |FROM rk WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin
  private val pqDistortionSql =
    s"""$pqCtes
       |SELECT c.vec_id, round(list_reduce(list_prepend(0.0,
       |    list_transform(range(1, len(c.v) + 1),
       |      i -> (c.v[i] - r.rv[i]) * (c.v[i] - r.rv[i]))), (a, b) -> a + b), 4)
       |  AS pq_err_r
       |FROM corp c JOIN recon r ON r.vec_id = c.vec_id ORDER BY c.vec_id""".stripMargin
  // IVF-PQ end-to-end, RESIDUAL encoding (codes quantize x − centroid —
  // the Jégou architecture; raw-vector coding measured recall 0.012 on
  // the 1M clustered probe): the same 16 hash-ordered seeds feed both
  // quantizers — coarse centroids are the seed vectors, PQ codebooks are
  // slices of the seed rows' RESIDUALS ordered by id. Assignment/probes
  // via index-order cosine folds, residual argmin via squared-diff folds,
  // ADC = Σ q[i]·(centroid[i] + recon[i]) — bit-identical both engines.
  private val ivfPqTopkSql = {
    def dt(a: String, b: String) =
      s"list_reduce(list_prepend(0.0, list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i])), (x, y) -> x + y)"
    val (hashCtes, hashFinal) = OracleHashSql.xxh64LongChain(
      "(SELECT vec_id FROM embeddings)", "vec_id")
    val hashCteStr = hashCtes.map { case (n, q) => s"$n AS ($q)" }.mkString(",\n")
    s"""WITH $hashCteStr,
       |seeds AS (SELECT vec_id FROM $hashFinal ORDER BY zh, vec_id LIMIT 16),
       |cents0 AS (SELECT e.vec_id AS cid, CAST(e.embedding AS DOUBLE[]) AS cv
       |           FROM embeddings e JOIN seeds s ON e.vec_id = s.vec_id),
       |cents AS MATERIALIZED (SELECT cid, cv, sqrt(${dt("cv", "cv")}) AS cn FROM cents0),
       |corp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |corpn AS MATERIALIZED (SELECT vec_id, v, sqrt(${dt("v", "v")}) AS vn FROM corp),
       |asg AS MATERIALIZED (SELECT vec_id, cid AS bucket FROM (
       |  SELECT c.vec_id, ct.cid, row_number() OVER (PARTITION BY c.vec_id
       |    ORDER BY ${dt("c.v", "ct.cv")} / (c.vn * ct.cn) DESC, ct.cid ASC) AS rnk
       |  FROM corpn c, cents ct) WHERE rnk = 1),
       |resid AS MATERIALIZED (SELECT c.vec_id, a.bucket,
       |    list_transform(range(1, len(c.v) + 1), i -> c.v[i] - ct.cv[i]) AS r
       |  FROM corp c JOIN asg a ON a.vec_id = c.vec_id
       |    JOIN cents ct ON ct.cid = a.bucket),
       |rsv AS (SELECT row_number() OVER (ORDER BY r2.vec_id) - 1 AS code, r2.r AS v
       |        FROM resid r2 JOIN seeds s ON s.vec_id = r2.vec_id),
       |ss AS (SELECT CAST(unnest(range(0, 8)) AS INT) AS subspace),
       |cb AS MATERIALIZED (SELECT ss.subspace, CAST(rsv.code AS INT) AS code,
       |       rsv.v[ss.subspace*8+1 : ss.subspace*8+8] AS cw FROM rsv, ss),
       |sub AS (SELECT r2.vec_id, ss.subspace,
       |          r2.r[ss.subspace*8+1 : ss.subspace*8+8] AS x FROM resid r2, ss),
       |pdist AS (SELECT s.vec_id, s.subspace, cb.code,
       |    list_reduce(list_prepend(0.0, list_transform(range(1, 9),
       |      i -> (s.x[i] - cb.cw[i]) * (s.x[i] - cb.cw[i]))), (a, b) -> a + b) AS d2
       |  FROM sub s JOIN cb ON cb.subspace = s.subspace),
       |enc AS (SELECT vec_id, subspace, code FROM (
       |    SELECT vec_id, subspace, code, row_number() OVER
       |      (PARTITION BY vec_id, subspace ORDER BY d2 ASC, code ASC) AS rnk
       |    FROM pdist) WHERE rnk = 1),
       |reconr AS MATERIALIZED (SELECT e.vec_id,
       |    flatten(list(cb.cw ORDER BY e.subspace)) AS rv
       |  FROM enc e JOIN cb ON cb.subspace = e.subspace AND cb.code = e.code
       |  GROUP BY e.vec_id),
       |qs AS (SELECT vec_id AS query_id, v AS qv, vn AS qn
       |       FROM corpn WHERE vec_id < 20),
       |probes AS (SELECT query_id, cid AS bucket FROM (
       |  SELECT q.query_id, ct.cid, row_number() OVER (PARTITION BY q.query_id
       |    ORDER BY ${dt("q.qv", "ct.cv")} / (q.qn * ct.cn) DESC, ct.cid ASC) AS rnk
       |  FROM qs q, cents ct) WHERE rnk <= 4),
       |sc AS (SELECT p.query_id, a.vec_id AS neighbor_id,
       |    list_reduce(list_prepend(0.0, list_transform(range(1, len(q.qv) + 1),
       |      i -> q.qv[i] * (ct.cv[i] + rr.rv[i]))), (x, y) -> x + y) AS adc
       |  FROM probes p JOIN asg a ON a.bucket = p.bucket
       |    JOIN cents ct ON ct.cid = p.bucket
       |    JOIN reconr rr ON rr.vec_id = a.vec_id
       |    JOIN qs q ON q.query_id = p.query_id
       |  WHERE a.vec_id <> p.query_id),
       |rk AS (SELECT query_id, neighbor_id, adc, row_number() OVER
       |    (PARTITION BY query_id ORDER BY adc DESC, neighbor_id ASC) AS rnk FROM sc)
       |SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id, round(adc, 4) AS adc_r
       |FROM rk WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin
  }
  // the composite drift monitor replayed end-to-end: frozen coarse
  // quantizer (16 hash-smallest EVEN ids), frozen residual codebooks
  // (32 hash-smallest even ids — 16 zero seed-residuals + 16 real ones,
  // codes by id asc), assign → residual → encode → ‖resid − recon‖²
  // for the even snapshot AND the planted drifted odd batch in one
  // pipeline (ids are parity-disjoint), then the scoreDrift cent-bucket
  // census and the integer-summed TVD > 0.1 verdict
  private val ivfPqDriftSql = {
    def dt(a: String, b: String) =
      s"list_reduce(list_prepend(0.0, list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i])), (x, y) -> x + y)"
    val (hashCtes, hashFinal) = OracleHashSql.xxh64LongChain(
      "(SELECT vec_id FROM embeddings WHERE vec_id % 2 = 0)", "vec_id")
    val hashCteStr = hashCtes.map { case (n, q) => s"$n AS ($q)" }.mkString(",\n")
    s"""WITH $hashCteStr,
       |seeds AS (SELECT vec_id FROM $hashFinal ORDER BY zh, vec_id LIMIT 16),
       |pq32 AS (SELECT vec_id FROM $hashFinal ORDER BY zh, vec_id LIMIT 32),
       |cents0 AS (SELECT e.vec_id AS cid, CAST(e.embedding AS DOUBLE[]) AS cv
       |           FROM embeddings e JOIN seeds s ON e.vec_id = s.vec_id),
       |cents AS MATERIALIZED (SELECT cid, cv, sqrt(${dt("cv", "cv")}) AS cn FROM cents0),
       |allv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |         FROM embeddings WHERE vec_id % 2 = 0
       |         UNION ALL
       |         SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
       |           x -> CAST(CAST(x * 0.25 + 2.0 AS FLOAT) AS DOUBLE)) AS v
       |         FROM embeddings WHERE vec_id % 2 = 1),
       |alln AS MATERIALIZED (SELECT vec_id, v, sqrt(${dt("v", "v")}) AS vn FROM allv),
       |asg AS MATERIALIZED (SELECT vec_id, cid AS bucket FROM (
       |  SELECT a.vec_id, ct.cid, row_number() OVER (PARTITION BY a.vec_id
       |    ORDER BY ${dt("a.v", "ct.cv")} / (a.vn * ct.cn) DESC, ct.cid ASC) AS rnk
       |  FROM alln a, cents ct) WHERE rnk = 1),
       |resid AS MATERIALIZED (SELECT c.vec_id, a.bucket,
       |    list_transform(range(1, len(c.v) + 1), i -> c.v[i] - ct.cv[i]) AS r
       |  FROM allv c JOIN asg a ON a.vec_id = c.vec_id
       |    JOIN cents ct ON ct.cid = a.bucket),
       |rsv AS (SELECT row_number() OVER (ORDER BY r2.vec_id) - 1 AS code, r2.r AS v
       |        FROM resid r2 JOIN pq32 p ON p.vec_id = r2.vec_id),
       |ss AS (SELECT CAST(unnest(range(0, 8)) AS INT) AS subspace),
       |cb AS MATERIALIZED (SELECT ss.subspace, CAST(rsv.code AS INT) AS code,
       |       rsv.v[ss.subspace*8+1 : ss.subspace*8+8] AS cw FROM rsv, ss),
       |sub AS (SELECT r2.vec_id, ss.subspace,
       |          r2.r[ss.subspace*8+1 : ss.subspace*8+8] AS x FROM resid r2, ss),
       |pdist AS (SELECT s.vec_id, s.subspace, cb.code,
       |    list_reduce(list_prepend(0.0, list_transform(range(1, 9),
       |      i -> (s.x[i] - cb.cw[i]) * (s.x[i] - cb.cw[i]))), (a, b) -> a + b) AS d2
       |  FROM sub s JOIN cb ON cb.subspace = s.subspace),
       |enc AS (SELECT vec_id, subspace, code FROM (
       |    SELECT vec_id, subspace, code, row_number() OVER
       |      (PARTITION BY vec_id, subspace ORDER BY d2 ASC, code ASC) AS rnk
       |    FROM pdist) WHERE rnk = 1),
       |reconr AS MATERIALIZED (SELECT e.vec_id,
       |    flatten(list(cb.cw ORDER BY e.subspace)) AS rv
       |  FROM enc e JOIN cb ON cb.subspace = e.subspace AND cb.code = e.code
       |  GROUP BY e.vec_id),
       |err AS (SELECT r2.vec_id,
       |    round(list_reduce(list_prepend(0.0, list_transform(range(1, len(r2.r) + 1),
       |      i -> (r2.r[i] - rr.rv[i]) * (r2.r[i] - rr.rv[i]))), (a, b) -> a + b), 2)
       |      AS pq_err
       |  FROM resid r2 JOIN reconr rr ON rr.vec_id = r2.vec_id),
       |hr AS (SELECT CAST(round(round(pq_err, 2) * 100, 0) AS INT) AS bucket,
       |       count(*) AS n FROM err WHERE vec_id % 2 = 0 GROUP BY 1),
       |hc AS (SELECT CAST(round(round(pq_err, 2) * 100, 0) AS INT) AS bucket,
       |       count(*) AS n FROM err WHERE vec_id % 2 = 1 GROUP BY 1),
       |tot AS (SELECT (SELECT sum(n) FROM hr) AS tr, (SELECT sum(n) FROM hc) AS tc),
       |census AS (SELECT coalesce(hr.bucket, hc.bucket) AS bucket,
       |  CAST(coalesce(hr.n, 0) AS BIGINT) AS n_ref,
       |  CAST(coalesce(hc.n, 0) AS BIGINT) AS n_cur,
       |  round(abs(CAST(coalesce(hr.n, 0) AS DOUBLE) / tr
       |    - CAST(coalesce(hc.n, 0) AS DOUBLE) / tc) * 1e6, 4) AS d_ppm
       |  FROM hr FULL OUTER JOIN hc ON hr.bucket = hc.bucket, tot),
       |fired AS (SELECT sum(CAST(round(d_ppm * 1e4, 0) AS BIGINT)) > 2000000000
       |          AS rebuild_fired FROM census)
       |SELECT bucket, n_ref, n_cur, d_ppm, rebuild_fired
       |FROM census, fired ORDER BY bucket""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    // ---- similarity search ----
    QuerySpec("sim_topk_bruteforce", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 20), 10)
        .withColumnRenamed("rank", "rnk")
        .orderBy(col("query_id"), col("rnk"))
    }, oracleSql =
        """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 20),
          |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
          |s AS (SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos FROM q JOIN c ON neighbor_id <> query_id),
          |r AS (SELECT query_id, neighbor_id, cos, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk FROM s)
          |SELECT query_id, rnk, neighbor_id, round(cos, 4) AS cosine_r FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin),
    QuerySpec("sim_topk_ivf", (s, dir) => {
      // IVF top-k on its EXACT leg, hash-checked by DuckDB (the
      // dedup_semantic promotion pattern: find the leg where the correct
      // answer is forced): corpus = originals ∪ int8-dequantized twins
      // (twin id = vec_id + 10M), queries = the first 20 originals, k = 1.
      // Every twin sits at cosine ≈ 0.9999 of its original while every
      // cross pair stays below 0.62 (measured), so the unique correct
      // top-1 neighbor of each query is its own twin regardless of the
      // hash-seeded quantizer; nprobe 4 of nlist 8 covers the twin's cell
      // with the same margin semanticDedup's probes=2 leg proves. IVF
      // recall on RAW corpora remains approximate and is spec-pinned
      // instead (SimilaritySpec vs brute force, the 1M clustered probe).
      // Derived corpus materialized once (localCheckpoint, harness-
      // drained): ivfBuild reads it from several plan branches.
      val emb = t(s, dir, "embeddings")
      val orig = Cleanup.register(emb.select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("embedding"))
        .localCheckpoint(false))
      val twins = emb
        .select(col("vec_id"), Similarity.quantizeInt8(col("embedding")).as("qz"))
        .select((col("vec_id") + lit(10000000L)).as("vec_id"),
          Similarity.dequantizeInt8(col("qz")).as("embedding"))
      val corpus = Cleanup.register(orig.unionByName(twins).localCheckpoint(false))
      Similarity.ivfTopK(corpus, orig.filter(col("vec_id") < 20), 1,
          nlist = 8, nprobe = 4, trainIters = 2)
        .withColumnRenamed("rank", "rnk")
        .orderBy(col("query_id"))
    }, oracleSql =
        // the exact leg's unique correct outcome (see the query comment):
        // each query's top-1 is its own int8-dequantized twin, with the
        // twin cosine computed by the same quantize arithmetic as the
        // emb_quant_error / emb_cross_corpus oracles
        """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          |           FROM embeddings WHERE vec_id < 20),
          |s AS (SELECT vec_id, v,
          |  greatest(list_max(list_transform(v, x -> abs(x))) / 127.0,
          |           2.2250738585072014e-308) AS scale FROM e),
          |d AS (SELECT vec_id, list_transform(v, x -> round(x / scale) * scale) AS deq
          |      FROM s)
          |SELECT e.vec_id AS query_id, CAST(1 AS INT) AS rnk,
          |  e.vec_id + 10000000 AS neighbor_id,
          |  round(list_cosine_similarity(d.deq, e.v), 4) AS cosine_r
          |FROM e JOIN d ON e.vec_id = d.vec_id
          |ORDER BY query_id""".stripMargin),

    QuerySpec("sim_hard_negatives", (s, dir) => {
      // hard-negative mining for contrastive training: top-5 nearest
      // DIFFERENT-label vectors per query — label predicate inside the
      // join, so same-label crowd-out can't under-fill k
      val emb = t(s, dir, "embeddings")
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 20), 5)
        .orderBy(col("query_id"), col("rnk"))
    }, oracleSql =
        // same brute-force shape as sim_topk_bruteforce with the label
        // predicate INSIDE the join (the retrieve-then-filter trap the
        // scaladoc documents); cosine is the EXPLICIT index-order fold
        // (matches VecDot bit-for-bit) because the k-boundary cut and
        // knn's tie-breaks compare raw doubles — list_cosine_similarity's
        // engine-private summation order is not safe there
        """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv, label AS q_label FROM embeddings WHERE vec_id < 20),
          |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv, label AS neg_label FROM embeddings),
          |s AS (SELECT query_id, neighbor_id, neg_label, list_reduce(list_prepend(0.0, list_transform(range(1, len(qv) + 1), i -> qv[i] * cv[i])), (a, x) -> a + x) / (sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(qv) + 1), i -> qv[i] * qv[i])), (a, x) -> a + x)) * sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(cv) + 1), i -> cv[i] * cv[i])), (a, x) -> a + x))) AS cos
          |      FROM q JOIN c ON neighbor_id <> query_id AND neg_label <> q_label),
          |r AS (SELECT query_id, neighbor_id, neg_label, cos,
          |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk FROM s)
          |SELECT query_id, rnk, neighbor_id, neg_label, round(cos, 4) AS cosine_r
          |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin),
    QuerySpec("sim_knn_classify", (s, dir) => {
      // k-NN weak labeling: the labeled seed set (vec_id >= 20) votes on
      // each fresh vector (vec_id < 20) — majority of the 10 nearest,
      // ties toward (best cosine, smaller label)
      val emb = t(s, dir, "embeddings")
      Similarity.knnClassify(emb.filter(col("vec_id") >= 20),
          emb.filter(col("vec_id") < 20), 10)
        .orderBy(col("query_id"))
    }, oracleSql =
        // top-10 per query among the labeled seed half, then the
        // (votes DESC, best_cos DESC, label ASC) argmax — all exact
        // comparisons
        """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 20),
          |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv, label AS nb_label FROM embeddings WHERE vec_id >= 20),
          |s AS (SELECT query_id, neighbor_id, nb_label, list_reduce(list_prepend(0.0, list_transform(range(1, len(qv) + 1), i -> qv[i] * cv[i])), (a, x) -> a + x) / (sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(qv) + 1), i -> qv[i] * qv[i])), (a, x) -> a + x)) * sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(cv) + 1), i -> cv[i] * cv[i])), (a, x) -> a + x))) AS cos FROM q JOIN c ON neighbor_id <> query_id),
          |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk FROM s),
          |v AS (SELECT query_id, nb_label, count(*) AS votes, max(cos) AS best_cos FROM r WHERE rnk <= 10 GROUP BY 1, 2),
          |p AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, best_cos DESC, nb_label) AS vr FROM v)
          |SELECT query_id, nb_label AS pred_label, votes, round(best_cos, 4) AS top_cosine_r
          |FROM p WHERE vr = 1 ORDER BY query_id""".stripMargin),
    QuerySpec("emb_coreset_kcenter", (s, dir) =>
      // greedy k-center coreset (Gonzalez): the 8 most mutually-distant
      // vectors, in selection order — diversity-first labeling budget;
      // the DuckDB oracle replays all 8 farthest-point rounds as a
      // materialized-CTE chain (the vocab_bpe_merges multi-round pattern)
      Similarity.kCenterCoreset(t(s, dir, "embeddings"), 8)
        .orderBy(col("rnk")), oracleSql = kcenterSql),
    QuerySpec("emb_ivf_drift", (s, dir) => {
      // the drift-gated rebuild policy END-TO-END as an oracle-checked
      // query: even vec_ids are the training snapshot (trainIters = 0 so
      // the quantizer is the hash-ordered deterministic seed set — DuckDB
      // replays the selection via OracleHashSql.xxh64LongChain), odd ids
      // arrive as a PLANTED drifted crawl (x·0.25 + 2.0, exact binary
      // constants, collapsing vectors toward the all-ones direction).
      // Output: the full scoreDrift census over assignment cosines plus
      // the rebuild verdict. The verdict comparison is INTEGER: d_ppm is
      // a 4-dp double, so Σ round(d_ppm·10⁴)::long is an exact
      // order-independent sum and `> 2·10⁹` (TVD > 0.1) can never flip
      // on summation order — the DESIGN §12 rule that floats feeding
      // comparisons must be order-pinned.
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val ref = emb.filter(col("vec_id") % 2 === 0)
      val drifted = emb.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id"),
          transform(col("embedding"),
            x => (x * lit(0.25) + lit(2.0)).cast("float")).as("embedding"))
      val index = Similarity.ivfBuild(ref, nlist = 16, trainIters = 0)
      val report = Analytics.scoreDrift(
        Similarity.ivfAssignScores(index, ref),
        Similarity.ivfAssignScores(index, drifted), "acos")
      val fired = report.agg(
        (sum(round(col("d_ppm") * 1e4).cast("long")) > 2000000000L)
          .as("rebuild_fired"))
      report.crossJoin(fired) // 1-row verdict broadcast
        .orderBy(col("bucket"))
    }, oracleSql = ivfDriftSql),

    QuerySpec("emb_ivf_recall", (s, dir) => {
      // the ANN recall audit as an oracle-checked query: per query (the
      // first 20 vectors), how many of the exact brute-force top-10 the
      // nprobe=4-of-nlist=16 IVF probe returns. trainIters = 0 pins the
      // quantizer to the hash-ordered seed set (xxh64LongChain replay, the
      // emb_ivf_drift machinery), and BOTH legs rank on the explicit
      // index-order cosine fold with (cos DESC, id ASC) tie-breaks, so the
      // top-k MEMBERSHIP sets — the raw-double k-boundary cut — are
      // bit-identical in DuckDB (the sim_hard_negatives fold rule; raw
      // aggregate hashing over them is safe).
      val emb = t(s, dir, "embeddings")
      Similarity.ivfRecallCensus(emb, emb.filter(col("vec_id") < 20),
          k = 10, nlist = 16, nprobe = 4, trainIters = 0)
        .orderBy(col("query_id"))
    }, oracleSql = ivfRecallSql),

    QuerySpec("emb_hamming_topk", (s, dir) => {
      // binary-quantization search: sign bits + popcount-of-XOR distances
      // — pure integers end to end, so the RAW corpus oracles directly
      // with no planted-twin forcing (see Similarity.hammingTopK)
      val emb = t(s, dir, "embeddings")
      Similarity.hammingTopK(emb, emb.filter(col("vec_id") < 20), 10, dim = 64)
        .orderBy(col("query_id"), col("rnk"))
    }, oracleSql =
        // 32-bit chunks (DuckDB errors on 1 << 63), chunk = sum of distinct
        // powers of two, distance = Σ bit_count(xor) — all integers, the
        // one ANN oracle needing no determinism machinery at all
        """WITH corp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          |bits AS (SELECT vec_id, list_transform(range(0, 2), c ->
          |    list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 32),
          |      j -> CASE WHEN v[c*32 + j + 1] > 0 THEN (1::BIGINT << CAST(j AS INT))
          |                ELSE 0::BIGINT END)), (a, b) -> a + b)) AS b
          |  FROM corp),
          |qs AS (SELECT vec_id AS query_id, b AS qb FROM bits WHERE vec_id < 20),
          |sc AS (SELECT q.query_id, c.vec_id AS neighbor_id,
          |    list_reduce(list_prepend(0::BIGINT, list_transform(range(1, 3),
          |      i -> CAST(bit_count(xor(c.b[i], q.qb[i])) AS BIGINT))),
          |      (x, y) -> x + y) AS hamming
          |  FROM qs q, bits c WHERE c.vec_id <> q.query_id),
          |rk AS (SELECT query_id, neighbor_id, hamming, row_number() OVER
          |    (PARTITION BY query_id ORDER BY hamming ASC, neighbor_id ASC) AS rnk FROM sc)
          |SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id, hamming
          |FROM rk WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin),

    QuerySpec("emb_sq8_topk", (s, dir) => {
      // scalar 8-bit quantization search (FAISS SQ8): per-vector max-abs
      // scale, round-to-int8 codes, quantized dot = (s_q·s_c)·Σ cq·cc —
      // the training-free 4× compression rung between sign bits and PQ;
      // the integer sum is exact and the two scale multiplies are
      // fixed-order IEEE, so the raw corpus oracles directly (see
      // Similarity.sq8TopK)
      val emb = t(s, dir, "embeddings")
      Similarity.sq8TopK(emb, emb.filter(col("vec_id") < 20), 10)
        .orderBy(col("query_id"), col("rnk"))
    }, oracleSql =
        // training-free scalar quantization: scale and codes recompute
        // exactly (abs/max exact, one divide, round half-away — both
        // engines), the dot's integer sum is order-free, and the two
        // scale multiplies are stated in the same fixed order as
        // Similarity.sq8TopK: (qs · cs) · Σ
        """WITH corp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          |sc AS (SELECT vec_id, v,
          |    list_max(list_transform(v, x -> abs(x))) / 127.0 AS s FROM corp),
          |enc AS MATERIALIZED (SELECT vec_id, s,
          |    CASE WHEN s = 0 THEN list_transform(v, x -> 0::BIGINT)
          |         ELSE list_transform(v, x -> CAST(round(x / s, 0) AS BIGINT)) END AS c
          |  FROM sc),
          |qs AS (SELECT vec_id AS query_id, s AS q_s, c AS qc FROM enc WHERE vec_id < 20),
          |sco AS (SELECT q.query_id, e.vec_id AS neighbor_id,
          |    (q.q_s * e.s) * CAST(list_sum(list_transform(range(1, len(q.qc) + 1),
          |      i -> q.qc[i] * e.c[i])) AS DOUBLE) AS sqdot
          |  FROM qs q, enc e WHERE e.vec_id <> q.query_id),
          |rk AS (SELECT query_id, neighbor_id, sqdot, row_number() OVER
          |    (PARTITION BY query_id ORDER BY sqdot DESC, neighbor_id ASC) AS rnk FROM sco)
          |SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id, round(sqdot, 4) AS sqdot_r
          |FROM rk WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin),
    QuerySpec("emb_hamming_refined", (s, dir) => {
      // BQ + refine end-to-end: Hamming prefilter to 40 candidates, exact
      // dot rerank of only those rows — the codes pick WHO gets scored,
      // never the final order (see Similarity.hammingTopKRefined)
      val emb = t(s, dir, "embeddings")
      Similarity.hammingTopKRefined(emb, emb.filter(col("vec_id") < 20), 10,
          dim = 64, refineMult = 4)
        .orderBy(col("query_id"), col("rnk"))
    }, oracleSql =
        // the hamming CTEs cut to rank <= 40, then an exact index-order
        // dot fold reranks only the candidates (the sim_hard_negatives
        // fold rule — the refined k-boundary compares raw doubles)
        """WITH corp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          |bits AS (SELECT vec_id, list_transform(range(0, 2), c ->
          |    list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 32),
          |      j -> CASE WHEN v[c*32 + j + 1] > 0 THEN (1::BIGINT << CAST(j AS INT))
          |                ELSE 0::BIGINT END)), (a, b) -> a + b)) AS b
          |  FROM corp),
          |qs AS (SELECT vec_id AS query_id, b AS qb FROM bits WHERE vec_id < 20),
          |sc AS (SELECT q.query_id, c.vec_id AS neighbor_id,
          |    list_reduce(list_prepend(0::BIGINT, list_transform(range(1, 3),
          |      i -> CAST(bit_count(xor(c.b[i], q.qb[i])) AS BIGINT))),
          |      (x, y) -> x + y) AS hamming
          |  FROM qs q, bits c WHERE c.vec_id <> q.query_id),
          |cand AS (SELECT query_id, neighbor_id FROM (
          |    SELECT query_id, neighbor_id, row_number() OVER
          |      (PARTITION BY query_id ORDER BY hamming ASC, neighbor_id ASC) AS rnk
          |    FROM sc) WHERE rnk <= 40),
          |ex AS (SELECT cd.query_id, cd.neighbor_id,
          |    list_reduce(list_prepend(0.0, list_transform(range(1, len(qv.v) + 1),
          |      i -> qv.v[i] * cv.v[i])), (x, y) -> x + y) AS d
          |  FROM cand cd JOIN corp cv ON cv.vec_id = cd.neighbor_id
          |    JOIN corp qv ON qv.vec_id = cd.query_id),
          |rk2 AS (SELECT query_id, neighbor_id, d, row_number() OVER
          |    (PARTITION BY query_id ORDER BY d DESC, neighbor_id ASC) AS rnk FROM ex)
          |SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id, round(d, 4) AS dot_r
          |FROM rk2 WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin),

    // ---- product quantization (the compressed half of IVF-PQ) ----
    // all three run the iters = 0 codebooks (slices of the 16 hash-smallest
    // vectors, ordered by id) so DuckDB replays train→encode→reconstruct→
    // score end-to-end; every argmin/rank comparison is over index-order
    // folds, bit-identical across engines (the emb_ivf_recall rule)
    QuerySpec("emb_pq_codes", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val books = Similarity.pqTrain(emb, m = 8, ksub = 16, iters = 0)
      Similarity.pqEncode(emb, books)
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("subspace", "code")))
        .orderBy(col("vec_id"), col("subspace"))
    }, oracleSql = pqCodesSql),
    QuerySpec("emb_pq_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.pqTopKTrained(emb, emb.filter(col("vec_id") < 20), 10,
          m = 8, ksub = 16, iters = 0)
        .orderBy(col("query_id"), col("rnk"))
    }, oracleSql = pqTopkSql),
    QuerySpec("emb_pq_distortion", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val books = Similarity.pqTrain(emb, m = 8, ksub = 16, iters = 0)
      Similarity.pqDistortion(emb, books).orderBy(col("vec_id"))
    }, oracleSql = pqDistortionSql),
    QuerySpec("emb_ivfpq_topk", (s, dir) => {
      // the full IVF-PQ serving shape end-to-end: coarse probe prunes to
      // nprobe=4 of nlist=16 buckets, PQ codes score the probed slice via
      // ADC. Both quantizers pinned to the (shared) hash-ordered seed set,
      // so DuckDB replays bucket assignment, probe choice, encode,
      // reconstruction, and the ADC ranking — all raw-double cuts are
      // index-order folds on both sides.
      val emb = t(s, dir, "embeddings")
      val index = Similarity.ivfPqBuild(emb, nlist = 16, m = 8, ksub = 16,
        trainIters = 0, pqIters = 0)
      Similarity.ivfPqQuery(index, emb.filter(col("vec_id") < 20), 10, nprobe = 4)
        .orderBy(col("query_id"), col("rnk"))
    }, oracleSql = ivfPqTopkSql),
    QuerySpec("emb_ivfpq_drift", (s, dir) => {
      // the COMPOSITE index's drift-gated rebuild end-to-end (the
      // emb_ivf_drift machinery over the residual-distortion lattice):
      // even ids are the training snapshot, odd ids the planted drifted
      // crawl (x·0.25 + 2.0 — exact binary constants); the monitor is
      // scoreDrift over ivfPqDistortion (assign → residual → encode →
      // ‖resid − recon‖², all frozen artifacts), and the verdict is the
      // integer-summed TVD > 0.1 gate ivfPqMaybeRebuild applies.
      // ksub = 32 > nlist = 16 so the pinned codebooks carry 16 REAL
      // residual codewords beyond the 16 zero seed-residuals — the
      // monitor measures codebook coverage, not just coarse distance
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val ref = emb.filter(col("vec_id") % 2 === 0)
      val drifted = emb.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id"),
          transform(col("embedding"),
            x => (x * lit(0.25) + lit(2.0)).cast("float")).as("embedding"))
      val index = Similarity.ivfPqBuild(ref, nlist = 16, m = 8, ksub = 32,
        trainIters = 0, pqIters = 0)
      // the census feeds TWO branches (output rows + the verdict
      // aggregate) — materialize its ≤|lattice| rows once or the whole
      // assign→residual→encode→reconstruct pipeline runs twice for both
      // populations (the dedup_embedding_cosine multi-branch rule)
      val report = graft.Cleanup.register(Analytics.scoreDrift(
          Similarity.ivfPqDistortion(index, ref),
          Similarity.ivfPqDistortion(index, drifted), "pq_err_r")
        .localCheckpoint(false))
      val fired = report.agg(
        (sum(round(col("d_ppm") * 1e4).cast("long")) > 2000000000L)
          .as("rebuild_fired"))
      report.crossJoin(fired) // 1-row verdict broadcast
        .orderBy(col("bucket"))
    }, oracleSql = ivfPqDriftSql),

    QuerySpec("docs_rrf_hybrid", (s, dir) => {
      // hybrid retrieval: lexical BM25 top-50 ⊕ dense cosine top-50 fused
      // by reciprocal rank (Analytics.rrfFuse) — doc_id and vec_id share
      // the synthetic id space, the classic two-tower retrieval join
      import org.apache.spark.sql.expressions.Window
      val lex = TextAnalysis.bm25Score(t(s, dir, "documents"), "doc_id", "text",
          Seq("merge", "window", "scan"))
        .orderBy(col("bm25").desc, col("doc_id").asc).limit(50)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("bm25").desc, col("doc_id").asc)))
        .select(col("doc_id"), col("rank"))
      val emb = t(s, dir, "embeddings")
      val dense = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") === 0), 50)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      Analytics.rrfFuse(Seq(lex, dense), "doc_id", kConst = 60L, topK = 20)
        .orderBy(col("doc_id"))
    }, oracleSql =
        // text_bm25's exact CTEs feed the lexical ranking (ranks are over
        // the ROUNDED bm25 — the hash-green shared value), dense ranks
        // over cosine to vec 0; fusion keeps 1/(60+rank) in pure doubles.
        // The dense-leg cosine is the explicit index-order fold (NOT
        // list_cosine_similarity) so its bits match bruteForceTopK's
        // VecDot exactly — ranks 1..50 feed the fused score directly, so
        // a last-ulp divergence between the two cosines could flip
        // adjacent dense ranks (same rule as sim_knn_classify)
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
           |      FROM tf JOIN dfreq USING (term), st),
           |bm AS (SELECT doc_id,
           |round(sum(CASE WHEN term = 'merge' THEN s ELSE 0.0 END)
           |    + sum(CASE WHEN term = 'window' THEN s ELSE 0.0 END)
           |    + sum(CASE WHEN term = 'scan' THEN s ELSE 0.0 END), 4) AS bm25
           |FROM s GROUP BY doc_id),
           |lex AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS ra
           |        FROM bm ORDER BY bm25 DESC, doc_id LIMIT 50),
           |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
           |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings WHERE vec_id <> 0),
           |s2 AS (SELECT vec_id, list_reduce(list_prepend(0.0, list_transform(range(1, len(qv) + 1), i -> qv[i] * cv[i])), (a, x) -> a + x) / (sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(qv) + 1), i -> qv[i] * qv[i])), (a, x) -> a + x)) * sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(cv) + 1), i -> cv[i] * cv[i])), (a, x) -> a + x))) AS cos FROM c, q),
           |den AS (SELECT vec_id AS doc_id, row_number() OVER (ORDER BY cos DESC, vec_id) AS rb
           |        FROM s2 ORDER BY cos DESC, vec_id LIMIT 50),
           |f AS (SELECT coalesce(lex.doc_id, den.doc_id) AS doc_id, ra, rb
           |      FROM lex FULL OUTER JOIN den ON lex.doc_id = den.doc_id),
           |sc AS (SELECT doc_id,
           |       coalesce(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + CAST(ra AS DOUBLE)), CAST(0.0 AS DOUBLE))
           |     + coalesce(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + CAST(rb AS DOUBLE)), CAST(0.0 AS DOUBLE)) AS sc,
           |       ra, rb FROM f),
           |top AS (SELECT * FROM sc ORDER BY sc DESC, doc_id LIMIT 20)
           |SELECT doc_id, round(sc, 6) AS rrf_score_r,
           |CAST(coalesce(ra, -1) AS BIGINT) AS rank_0, CAST(coalesce(rb, -1) AS BIGINT) AS rank_1
           |FROM top ORDER BY doc_id""".stripMargin),
    QuerySpec("sim_mmr_select", (s, dir) => {
      // maximal-marginal-relevance: the 8 most relevant-AND-mutually-
      // distinct vectors for query vec 0 at λ = 0.7 — the diversified
      // retrieval twin of emb_coreset_kcenter (see Similarity.mmrSelect;
      // oracle replays the greedy rounds as a materialized-CTE chain)
      val emb = t(s, dir, "embeddings")
      Similarity.mmrSelect(emb, emb.filter(col("vec_id") === 0), 8, 0.7)
        .orderBy(col("rnk"))
    }, oracleSql = mmrSql),
    QuerySpec("emb_whiten_residual", (s, dir) => {
      // all-but-the-top whitening: the powerIteration component applied —
      // per-vector before/after L2 norms of the dominant-direction
      // removal (Similarity.removeDominantComponent); the oracle reuses
      // the pca CTE chain plus one projection
      val emb = t(s, dir, "embeddings")
      val v = Similarity.powerIterationVector(emb, iters = 6)
      Similarity.removeDominantComponent(emb, v).orderBy(col("vec_id"))
    }, oracleSql = whitenSql),
    QuerySpec("emb_pca_power", (s, dir) =>
      // dominant principal component by power iteration — fixed-point
      // (2^-20) quantized addends make the corpus-scale reduction
      // order-independent and engine-exact (see Similarity.powerIteration;
      // the oracle replays all 6 rounds as a materialized-CTE chain)
      Similarity.powerIteration(t(s, dir, "embeddings"), iters = 6)
        .orderBy(col("pos")), oracleSql = pcaSql),
    QuerySpec("emb_mean_pool", (s, dir) =>
      // per-bucket embedding centroids (cluster/shard summarization)
      Similarity.meanPool(t(s, dir, "embeddings"), pmod(col("vec_id"), lit(8L)))
        .orderBy(col("grp"), col("pos")), oracleSql =
        // sorted left fold with a 0.0 seed == Spark's
        // aggregate(array_sort(collect_list(x)), 0.0, +) — identical
        // summation order, so the rounded means are bit-exact
        """WITH e AS (SELECT vec_id % 8 AS grp, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          |x AS (SELECT grp, i - 1 AS pos, v[i] AS val
          |      FROM e, unnest(generate_series(1, len(v))) AS u(i))
          |SELECT CAST(grp AS BIGINT) AS grp, CAST(pos AS BIGINT) AS pos,
          |round(list_reduce(list_prepend(0.0, list_sort(list(val))), (a, b) -> a + b)
          |      / count(*), 4) AS mean_r
          |FROM x GROUP BY grp, pos ORDER BY grp, pos""".stripMargin),
    QuerySpec("emb_l2_norm", (s, dir) =>
      // per-vector L2 norm + dimension: the normalization prerequisite for
      // cosine ops, as a pure HOF left-fold (seed 0.0, elements cast to
      // double BEFORE squaring) — the identical summation order the DuckDB
      // oracle's list_reduce uses, so the rounded norms are bit-exact.
      // Scan-speed, shuffle-free.
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          round(sqrt(aggregate(
            transform(col("embedding"), x => x.cast("double") * x.cast("double")),
            lit(0.0), (a, x) => a + x)), 4).as("l2_norm"),
          size(col("embedding")).as("dim"))
        .orderBy(col("vec_id")), oracleSql =
        // same left fold, same 0.0 seed, elements cast to double BEFORE
        // squaring — bit-identical summation order to the Spark HOF
        """SELECT vec_id,
          |round(sqrt(list_reduce(list_prepend(0.0,
          |  list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
          |  (a, b) -> a + b)), 4) AS l2_norm,
          |CAST(len(embedding) AS INT) AS dim
          |FROM embeddings ORDER BY vec_id""".stripMargin),
    QuerySpec("emb_dim_stats", (s, dir) =>
      // per-dimension corpus health profile (dead/saturated/off-center
      // dims) — exact-integer-sum means, O(1) agg state per dimension
      Similarity.dimStats(t(s, dir, "embeddings"))
        .orderBy(col("pos")), oracleSql =
        // micro-unit integer sums (round(x·1e6) as BIGINT) — order-proof
        // exact mean, same discipline as the Spark kernel
        """WITH x AS (SELECT CAST(i - 1 AS INT) AS pos, CAST(embedding[i] AS DOUBLE) AS xd
          |           FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i))
          |SELECT pos, count(*) AS n,
          |round(CAST(sum(CAST(round(xd * 1000000) AS BIGINT)) AS DOUBLE) / 1000000.0 / CAST(count(*) AS DOUBLE), 4) AS mean_r,
          |round(min(xd), 4) AS min_r, round(max(xd), 4) AS max_r
          |FROM x GROUP BY pos ORDER BY pos""".stripMargin),
    QuerySpec("emb_quant_error", (s, dir) => {
      // int8 storage quantization: per-vector scale + reconstruction error
      // + cosine fidelity of the dequantized vector vs the original
      val e = t(s, dir, "embeddings")
        .withColumn("qz", Similarity.quantizeInt8(col("embedding")))
        .withColumn("deq", Similarity.dequantizeInt8(col("qz")))
      e.select(
        col("vec_id"),
        round(col("qz.scale"), 6).as("scale_r"),
        round(array_max(zip_with(col("deq"), col("embedding"),
          (a, b) => abs(a - b.cast("double")))), 6).as("max_err_r"),
        round(Similarity.cosine(col("deq"), col("embedding")), 4).as("cos_r"))
        .orderBy(col("vec_id"))
    }, oracleSql =
        """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          |s AS (SELECT vec_id, v,
          |  greatest(list_max(list_transform(v, x -> abs(x))) / 127.0,
          |           2.2250738585072014e-308) AS scale FROM e),
          |q AS (SELECT vec_id, v, scale,
          |  list_transform(v, x -> round(x / scale) * scale) AS deq FROM s)
          |SELECT vec_id, round(scale, 6) AS scale_r,
          |round(list_max(list_transform(range(1, len(v) + 1),
          |  i -> abs(deq[i] - v[i]))), 6) AS max_err_r,
          |round(list_cosine_similarity(deq, v), 4) AS cos_r
          |FROM q ORDER BY vec_id""".stripMargin),
  )
}
