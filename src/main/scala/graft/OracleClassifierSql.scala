package graft

/** DuckDB-SQL replay of `TextAnalysis.classifierTrainVector` /
  * `dsirBucketLift` / `dsirSelect` — the oracles for the
  * `docs_classifier_*` and `docs_dsir_*` queries.
  *
  * The training loop replays round-for-round as a chained-CTE loop (the
  * `OracleBpeSql`/`emb_pca_power` pattern): round r's weight vector is a
  * one-row relation `w{r}` cross-joined into round r+1's residual pass.
  * The arithmetic is the operator's own: margins are index-order IEEE
  * folds over bit-identical feature doubles, each LMS gradient addend
  * (y − s)·x_b is quantized to 2⁻²⁰ fixed point and summed in HUGEINT
  * (associative — matches Spark's decimal(27,0) aggregation bit-for-bit),
  * and the weight update performs the identical divide/divide/multiply/add
  * sequence, so the learned trajectory cannot diverge between engines.
  *
  * Token hashing reuses [[OracleHashSql.xxhChain]] (closed-form XXH64 of
  * short-ASCII tokens, loud error() preconditions) — the classifier's
  * feature buckets are `pmod(xxhash64(token), dim)` on both sides. The
  * default teacher label replays `TextAnalysis.qualityFeatures`'
  * stopword_ratio (the same rounded-4dp fragment the docs_score_drift
  * oracle uses) at the fixed 0.15 threshold.
  */
object OracleClassifierSql {

  /** The default y = +1 teacher rule: English-function-word density ≥ 15%
    * (`q.swr` comes from the qf CTE in [[featCtes]]).
    */
  val DefaultTargetSql = "q.swr >= 0.15"

  /** The English-function-word list, rendered from the SAME
    * `TextAnalysis.langMarkers` source the operators read — hardcoding it
    * here would silently desynchronize these oracles from the teacher rule
    * the day the marker list changes.
    */
  private def enMarkers: String =
    graft.ops.TextAnalysis.langMarkers.toMap.apply("en")
      .map(w => s"'$w'").mkString("[", ", ", "]")

  /** Render a dyadic double as an exact SQL literal (0.015625 etc.). */
  private def dlit(x: Double): String =
    new java.math.BigDecimal(x).stripTrailingZeros().toPlainString

  /** The index-order left fold both engines share — the load-bearing
    * summation contract; every consumer must use THIS string.
    */
  private def fold(list: String): String =
    s"list_reduce(list_prepend(0.0, $list), (a, z) -> a + z)"

  /** Shared prefix: documents → stopword-density teacher → tokens → XXH64
    * chain → per-doc density-relative feature vectors with the ±1 label.
    * `targetSql` is the y = +1 predicate over doc columns aliased `d` and
    * the teacher column `q.swr`.
    */
  private def featCtes(dim: Int, targetSql: String, maxN: Int = 1): String = {
    require(maxN >= 1 && maxN <= 2, s"featCtes: maxN must be 1 or 2: $maxN")
    val (ctes, last) = OracleHashSql.xxhChain("tok")
    val chain = ctes.map { case (n, q) => s"$n AS ($q)" }.mkString(",\n")
    val toks = raw"string_split_regex(trim(text), '\s+')"
    // maxN = 2 appends word bigrams (w_i || ' ' || w_{i+1} — byte-identical
    // to Spark's concat) to the hashed gram stream; everything downstream
    // (bucketing, censuses, density normalization by the GRAM total) is
    // n-agnostic on both engines
    val tokCte =
      if (maxN == 1)
        raw"tok AS (SELECT id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w FROM docs)"
      else
        raw"""t0 AS (SELECT id, regexp_split_to_array(trim(text), '\s+') AS ws FROM docs),
             |tok AS (SELECT id, unnest(ws) AS w FROM t0
             |        UNION ALL
             |        SELECT id, ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT) + 1]
             |        FROM t0, unnest(generate_series(1, len(ws) - 1)) AS t(i))""".stripMargin
    s"""WITH docs AS (SELECT doc_id AS id, text, lang, source FROM documents),
       |qf AS (SELECT doc_id AS id,
       |  round(len(list_filter($toks, x -> list_contains($enMarkers, lower(x)))) * 1.0
       |        / greatest(len($toks), 1), 4) AS swr
       |  FROM documents),
       |$tokCte,
       |$chain,
       |hb AS (SELECT id, ((h % $dim) + $dim) % $dim AS b FROM $last),
       |dg AS (SELECT id, list(b) AS hs, count(*) AS n FROM hb GROUP BY id),
       |feat AS MATERIALIZED (SELECT d.id,
       |  list_transform(range(0, $dim), bb ->
       |    (CAST(len(list_filter(g.hs, z -> z = bb)) AS DOUBLE) * ${dlit(dim.toDouble)}.0) / CAST(g.n AS DOUBLE)) AS x,
       |  CASE WHEN $targetSql THEN 1.0 ELSE -1.0 END AS y, d.lang, d.source
       |  FROM docs d JOIN dg g ON g.id = d.id JOIN qf q ON q.id = d.id)""".stripMargin
  }

  /** One class's training-round chain `${p}w0 .. ${p}w{iters}` (each
    * round: residuals under `yExpr` against the previous round's weights,
    * fixed-point gradient sums, update). Reads `feat` and `cn`, which the
    * caller must have emitted; `yExpr` is the ±1 label over `f`. Emitted
    * WITHOUT a trailing comma so chains concatenate.
    */
  private def trainChain(p: String, dim: Int, iters: Int, eta: Double,
                         yExpr: String, featRel: String = "feat"): String = {
    require(eta > 0 && java.lang.Double.isFinite(eta) &&
      math.abs(math.getExponent(eta)) <= 30 &&
      eta == math.pow(2, math.getExponent(eta)),
      s"oracle replays dyadic steps only (exact literals): $eta")
    val d1 = dim + 1
    val e = dlit(eta)
    val sb = new StringBuilder
    // AS MATERIALIZED on EVERY per-round CTE is load-bearing (the
    // emb_coreset_kcenter lesson, DESIGN §12): w{r} references w{r-1}
    // twice — inlined, the chain re-expands combinatorially across 64
    // rounds and the statement never finishes
    sb ++= s"${p}w0 AS (SELECT list_transform(range(0, $dim), i -> 0.0) AS vv, 0.0 AS bias),\n"
    for (r <- 1 to iters) {
      sb ++= s"${p}m$r AS MATERIALIZED (SELECT f.x, ($yExpr) - (" +
        fold(s"list_transform(range(1, $d1), i -> f.x[i] * c.vv[i])") +
        s" + c.bias) AS rs FROM $featRel f, ${p}w${r - 1} c),\n"
      sb ++= s"${p}a$r AS MATERIALIZED (SELECT i, " +
        "sum(CAST(round(rs * x[i] * 1048576.0) AS HUGEINT)) AS sb " +
        s"FROM ${p}m$r, unnest(range(1, $d1)) AS t(i) GROUP BY i),\n"
      sb ++= s"${p}b$r AS MATERIALIZED (SELECT sum(CAST(round(rs * 1048576.0) AS HUGEINT)) AS sb FROM ${p}m$r),\n"
      sb ++= s"${p}w$r AS MATERIALIZED (SELECT " +
        s"(SELECT list(c.vv[a.i] + $e * ((CAST(a.sb AS DOUBLE) / 1048576.0) / CAST(cn.n AS DOUBLE)) ORDER BY a.i) " +
        s"FROM ${p}a$r a, ${p}w${r - 1} c, cn) AS vv, " +
        s"(SELECT c.bias + $e * ((CAST(b.sb AS DOUBLE) / 1048576.0) / CAST(cn.n AS DOUBLE)) " +
        s"FROM ${p}b$r b, ${p}w${r - 1} c, cn) AS bias)" + (if (r == iters) "" else ",\n")
    }
    sb.toString
  }

  /** The binary training prefix: features + count + one unprefixed chain
    * through `w{iters}` (the shape every binary classifier oracle reads).
    */
  private def trainCtes(dim: Int, iters: Int, eta: Double,
                        targetSql: String): String =
    featCtes(dim, targetSql) +
      ",\ncn AS MATERIALIZED (SELECT count(*) AS n FROM feat),\n" +
      trainChain("", dim, iters, eta, "f.y") + "\n"

  /** Feature CTEs with a multiclass STRING label `lbl` instead of the ±1
    * `y`: the teacher is the 3-band stopword-density rule (lo < 0.12 ≤
    * mid < 0.17 ≤ hi over the same rounded-4dp swr the binary teacher
    * uses) — content-derived, balanced at every SF, and computed
    * identically by both engines.
    */
  private def featCtesLabeled(dim: Int): String = {
    val (ctes, last) = OracleHashSql.xxhChain("tok")
    val chain = ctes.map { case (n, q) => s"$n AS ($q)" }.mkString(",\n")
    val toks = raw"string_split_regex(trim(text), '\s+')"
    s"""WITH docs AS (SELECT doc_id AS id, text FROM documents),
       |qf AS (SELECT doc_id AS id,
       |  round(len(list_filter($toks, x -> list_contains($enMarkers, lower(x)))) * 1.0
       |        / greatest(len($toks), 1), 4) AS swr
       |  FROM documents),
       |lb AS (SELECT id, CASE WHEN swr < 0.12 THEN 'lo'
       |  WHEN swr < 0.17 THEN 'mid' ELSE 'hi' END AS lbl FROM qf),
       |tok AS (SELECT id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w FROM docs),
       |$chain,
       |hb AS (SELECT id, ((h % $dim) + $dim) % $dim AS b FROM $last),
       |dg AS (SELECT id, list(b) AS hs, count(*) AS n FROM hb GROUP BY id),
       |feat AS MATERIALIZED (SELECT d.id,
       |  list_transform(range(0, $dim), bb ->
       |    (CAST(len(list_filter(g.hs, z -> z = bb)) AS DOUBLE) * ${dlit(dim.toDouble)}.0) / CAST(g.n AS DOUBLE)) AS x,
       |  l.lbl
       |  FROM docs d JOIN dg g ON g.id = d.id JOIN lb l ON l.id = d.id)""".stripMargin
  }

  /** Oracle for `docs_classifier_multiclass`: one-vs-rest distillation of
    * the langId teacher — |classes| independent LMS chains over the shared
    * feature relation, then the argmax-margin prediction (CASE chain in
    * class order: the earliest class wins exact-margin ties, matching
    * `classifierPredict`'s (margin, -index) struct max) and the
    * (teacher, predicted) confusion census.
    */
  def multiclassSql(classes: Seq[String], dim: Int = 32, iters: Int = 16,
                    eta: Double = 1.0 / 64): String = {
    require(classes.nonEmpty && classes.distinct == classes)
    // class names are interpolated verbatim into CTE identifiers
    // (`${c}_w0`) and string literals — a space, quote, or dash would
    // emit malformed SQL with no loud precondition (round-10 advice
    // finding); fail here, not in DuckDB's parser
    require(classes.forall(_.matches("[A-Za-z0-9_]+")),
      s"multiclassSql: class names must be SQL-identifier-safe ([A-Za-z0-9_]+): $classes")
    val chains = classes.map { c =>
      trainChain(s"${c}_", dim, iters, eta,
        s"CASE WHEN f.lbl = '$c' THEN 1.0 ELSE -1.0 END")
    }.mkString(",\n")
    val froms = classes.map(c => s"${c}_w$iters ${c}c").mkString(", ")
    val margins = classes.map { c =>
      fold(s"list_transform(range(1, ${dim + 1}), i -> f.x[i] * ${c}c.vv[i])") +
        s" + ${c}c.bias AS m_$c"
    }.mkString(",\n|  ")
    val pred = classes.init.zipWithIndex.map { case (c, i) =>
      val rest = classes.drop(i + 1).map(o => s"m_$c >= m_$o").mkString(" AND ")
      s"WHEN $rest THEN '$c'"
    }.mkString("CASE\n|  ", "\n|  ", s"\n|  ELSE '${classes.last}' END")
    s"""${featCtesLabeled(dim)},
       |cn AS MATERIALIZED (SELECT count(*) AS n FROM feat),
       |$chains,
       |app AS (SELECT f.lbl,
       |  $margins
       |  FROM feat f, $froms),
       |p AS (SELECT lbl, $pred AS pred FROM app)
       |SELECT lbl AS band_true, pred AS band_pred, count(*) AS n
       |FROM p GROUP BY lbl, pred ORDER BY band_true, band_pred""".stripMargin
  }

  /** Oracle for `docs_classifier_train`: the final weight vector (and
    * bias at pos = dim), rounded to 6 dp.
    */
  def weightsSql(dim: Int = 32, iters: Int = 64, eta: Double = 1.0 / 64,
                 targetSql: String = DefaultTargetSql): String =
    s"""${trainCtes(dim, iters, eta, targetSql)},
       |sel AS (SELECT CAST(i - 1 AS BIGINT) AS pos, round(vv[i], 6) AS w_r
       |        FROM w$iters, unnest(range(1, ${dim + 1})) AS t(i)
       |        UNION ALL SELECT CAST($dim AS BIGINT), round(bias, 6) FROM w$iters)
       |SELECT pos, w_r FROM sel ORDER BY pos""".stripMargin

  /** Oracle for `docs_classifier_apply`: per-source prediction census
    * under the final weights (margin > 0 ⇒ predicted positive).
    */
  def applySql(dim: Int = 32, iters: Int = 64, eta: Double = 1.0 / 64,
               targetSql: String = DefaultTargetSql): String = {
    s"""${trainCtes(dim, iters, eta, targetSql)},
       |app AS (SELECT f.source, f.y, ${fold(s"list_transform(range(1, ${dim + 1}), i -> f.x[i] * c.vv[i])")} + c.bias AS sc
       |        FROM feat f, w$iters c)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN sc > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_pos,
       |  CAST(sum(CASE WHEN (sc > 0) = (y = 1.0) THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       |  round(CAST(sum(CASE WHEN (sc > 0) = (y = 1.0) THEN 1 ELSE 0 END) AS DOUBLE) /
       |        CAST(count(*) AS DOUBLE), 4) AS acc_r
       |FROM app GROUP BY source ORDER BY source""".stripMargin
  }

  /** Oracle for `docs_classifier_train_sampled`: the LMS chain trains on
    * the deterministic `shardSql` subset of the feature relation (the
    * quarantine pattern — integer id arithmetic, engine-exact), with the
    * 1/n divisor counting SHARD rows (matching
    * `classifierTrainSampled`'s base count), and the final weights apply
    * CORPUS-WIDE: the same per-source prediction census as
    * `docs_classifier_apply`, so the hash transitively pins the whole
    * sampled trajectory.
    */
  def sampledApplySql(dim: Int = 32, iters: Int = 64, eta: Double = 1.0 / 64,
                      targetSql: String = DefaultTargetSql,
                      // no default: the shard must come from the caller's
                      // single shared constant (TextQueries.sampledShardSql)
                      // or the two engines' train populations can
                      // silently desynchronize
                      shardSql: String): String = {
    s"""${featCtes(dim, targetSql)},
       |featsh AS MATERIALIZED (SELECT * FROM feat WHERE $shardSql),
       |cn AS MATERIALIZED (SELECT count(*) AS n FROM featsh),
       |${trainChain("", dim, iters, eta, "f.y", "featsh")},
       |app AS (SELECT f.source, f.y, ${fold(s"list_transform(range(1, ${dim + 1}), i -> f.x[i] * c.vv[i])")} + c.bias AS sc
       |        FROM feat f, w$iters c)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN sc > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_pos,
       |  CAST(sum(CASE WHEN (sc > 0) = (y = 1.0) THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       |  round(CAST(sum(CASE WHEN (sc > 0) = (y = 1.0) THEN 1 ELSE 0 END) AS DOUBLE) /
       |        CAST(count(*) AS DOUBLE), 4) AS acc_r
       |FROM app GROUP BY source ORDER BY source""".stripMargin
  }

  /** Oracle for `docs_classifier_calibration`: the reliability census —
    * margin buckets (0.25-wide via an exact ×4 floor, integer-clamped to
    * [-8, 7]) × docs × observed teacher-positives under the final weights.
    */
  def calibrationSql(dim: Int = 32, iters: Int = 64, eta: Double = 1.0 / 64,
                     targetSql: String = DefaultTargetSql): String = {
    s"""${trainCtes(dim, iters, eta, targetSql)},
       |app AS (SELECT f.y, ${fold(s"list_transform(range(1, ${dim + 1}), i -> f.x[i] * c.vv[i])")} + c.bias AS sc
       |        FROM feat f, w$iters c),
       |bk AS (SELECT greatest(least(CAST(floor(sc * 4.0) AS BIGINT), 7), -8) AS bucket, y FROM app)
       |SELECT bucket, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       |  round(CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS DOUBLE) /
       |        CAST(count(*) AS DOUBLE), 4) AS pos_share_r
       |FROM bk GROUP BY bucket ORDER BY bucket""".stripMargin
  }

  /** The per-bucket importance census CTEs (shared by lift + select):
    * bucket-grain token counts for the target subset and the whole
    * corpus, with every bucket present, plus the smoothed UNROUNDED
    * ratio — the exact rational arithmetic `dsirBucketLift` runs.
    */
  private def liftCtes(dim: Int, targetSql: String): String =
    s"""tb AS (SELECT hb.id, hb.b, CASE WHEN $targetSql THEN 1 ELSE 0 END AS tgt
       |       FROM hb JOIN docs d ON d.id = hb.id JOIN qf q ON q.id = hb.id),
       |cb AS (SELECT b, CAST(sum(tgt) AS BIGINT) AS n_target, CAST(count(*) AS BIGINT) AS n_all
       |       FROM tb GROUP BY b),
       |fb AS (SELECT r.bucket, coalesce(cb.n_target, 0) AS n_target, coalesce(cb.n_all, 0) AS n_all
       |       FROM (SELECT unnest(range(0, $dim)) AS bucket) r LEFT JOIN cb ON cb.b = r.bucket),
       |tots AS (SELECT sum(n_target) AS nt, sum(n_all) AS na FROM fb),
       |fl AS (SELECT bucket, n_target, n_all,
       |  (CAST(n_target + 1 AS DOUBLE) / CAST(nt + $dim AS DOUBLE)) /
       |  (CAST(n_all + 1 AS DOUBLE) / CAST(na + $dim AS DOUBLE)) AS lift
       |  FROM fb, tots)""".stripMargin

  /** Oracle for `docs_dsir_lift`: the dim-row bucket census with the
    * smoothed importance ratio rounded to 6 dp.
    */
  def liftSql(dim: Int = 32, targetSql: String = DefaultTargetSql,
              maxN: Int = 1): String =
    s"""${featCtes(dim, targetSql, maxN)},
       |${liftCtes(dim, targetSql)}
       |SELECT CAST(bucket AS BIGINT) AS bucket, n_target, n_all,
       |  round(lift, 6) AS lift_r
       |FROM fl ORDER BY bucket""".stripMargin

  /** Oracle for `docs_dsir_select`: top-k documents by mean per-token
    * importance ratio (ties by id), with the weight rounded to 6 dp.
    * The weight fold divides the density-relative features back by dim
    * (exact dyadic divide) so the score is the plain per-token mean
    * ratio — matching `dsirSelect`.
    */
  def selectSql(dim: Int = 32, k: Int = 50,
                targetSql: String = DefaultTargetSql, maxN: Int = 1): String = {
    s"""${featCtes(dim, targetSql, maxN)},
       |${liftCtes(dim, targetSql)},
       |lfv AS (SELECT list(lift ORDER BY bucket) AS lv FROM fl),
       |scored AS (SELECT f.id, f.lang, f.source,
       |  ${fold(s"list_transform(range(1, ${dim + 1}), i -> (f.x[i] / ${dlit(dim.toDouble)}.0) * lf.lv[i])")} AS wgt
       |  FROM feat f, lfv lf),
       |sel AS (SELECT * FROM scored ORDER BY wgt DESC, id LIMIT $k)
       |SELECT id AS doc_id, lang, source, round(wgt, 6) AS w_r
       |FROM sel ORDER BY doc_id""".stripMargin
  }

  /** Oracle for `docs_dsir_resample`: the DSIR weight pipeline feeding the
    * deterministic priority sampler — the same rolling-hash fingerprint
    * fold and w·M/u priority arithmetic the `docs_weighted_sample` oracle
    * replays (one IEEE multiply + one divide on the exact dsir weight, so
    * the top-(k+1) boundary and τ are bit-identical across engines).
    */
  def resampleSql(dim: Int = 32, k: Int = 50,
                  targetSql: String = DefaultTargetSql): String = {
    s"""${featCtes(dim, targetSql)},
       |${liftCtes(dim, targetSql)},
       |lfv AS (SELECT list(lift ORDER BY bucket) AS lv FROM fl),
       |scored AS (SELECT f.id, f.lang, f.source,
       |  ${fold(s"list_transform(range(1, ${dim + 1}), i -> (f.x[i] / ${dlit(dim.toDouble)}.0) * lf.lv[i])")} AS wgt
       |  FROM feat f, lfv lf),
       |fp AS (SELECT s.id, s.lang, s.source, s.wgt, list_reduce(
       |  list_prepend(CAST(0 AS BIGINT),
       |    list_transform(range(1, length(d.text) + 1), i -> CAST(ascii(substr(d.text, i, 1)) AS BIGINT))),
       |  (h, c) -> (h * 31 + c) % 1000000007) AS f FROM scored s JOIN docs d ON d.id = s.id),
       |p AS (SELECT id, lang, source, wgt,
       |  wgt * 1000003.0 / CAST(f % 1000003 + 1 AS DOUBLE) AS pr FROM fp),
       |t AS MATERIALIZED (SELECT * FROM p ORDER BY pr DESC, id LIMIT ${k + 1}),
       |tau AS (SELECT CASE WHEN count(*) = ${k + 1} THEN min(pr) ELSE 0.0 END AS tau FROM t),
       |s AS (SELECT * FROM t ORDER BY pr DESC, id LIMIT $k)
       |SELECT id AS doc_id, lang, source, round(wgt, 6) AS w_r,
       |  round(pr, 4) AS priority_r,
       |  round(greatest(wgt, tau), 4) AS est_w_r
       |FROM s, tau ORDER BY doc_id""".stripMargin
  }
}
