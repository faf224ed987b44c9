package graft

/** DuckDB-SQL recomputation of the repo's seeded-hash primitives, used to
  * promote hash-seeded operators (`dedup_simhash`, `dedup_minhash_estimate`)
  * from rows-only checks to full value-hash oracles on the RAW corpus — no
  * planted-twin restriction needed, natural near-pairs included.
  *
  * The crux is Spark's `xxhash64(string)` (XXH64 of the UTF-8 bytes, seed
  * 42 — the SQL default seed): DuckDB has no compatible hash, but XXH64's
  * short-input path (< 32 bytes: no stripe accumulators — seed-derived
  * state, at most three 8-byte rounds, one 4-byte round, three tail bytes,
  * then the avalanche) unrolls into pure closed-form SQL. All 64-bit
  * wrap-around arithmetic runs in HUGEINT mod 2^64; a*b mod 2^64 splits the
  * multiplicand into 32-bit halves so no intermediate exceeds 2^97 (HUGEINT
  * is 128-bit and errors on overflow rather than wrapping); rotl becomes
  * shift-mod + integer division (disjoint bit ranges, so `+` is `|`).
  *
  * Corpus preconditions, enforced IN the SQL via error() so a testdata
  * regeneration that breaks them fails loudly rather than hash-mismatching:
  * every hashed string is ASCII (char count == byte count — byte access via
  * ascii(substr)) and < 32 bytes. Measured: max token 8 bytes, max 3-word
  * shingle 26 bytes, zero non-ASCII chars at sf0.001/0.01/0.1.
  *
  * MinHash lane constants (a_j, b_j) are SplitMix64-derived exactly as in
  * `functions.MinHashAgg` / the MinHashSig kernel; they are computed here
  * by calling the same `SplitMix.mix64` and inlined as literals, so the
  * oracle can never drift from the implementation's seeding.
  *
  * One deliberate divergence, candidate-set-equivalent: the Spark LSH join
  * keys band buckets on xxhash64 of the comma-joined signature slice (an
  * 8-byte exchange key — the 100 TB shape); the oracle joins on the joined
  * slice STRING itself. Equal strings imply equal hashes, so the sets can
  * differ only on an xxhash64 collision between distinct 64-long-slice
  * strings (~1e-10 at sf0.1 volumes; a collision would surface as a visible
  * row-count mismatch, not silent corruption).
  */
object OracleHashSql {
  private val M = "18446744073709551616::HUGEINT" // 2^64
  private def mul64(a: String, b: String): String =
    s"(((( ($a) // 4294967296::HUGEINT) * ($b)) % 4294967296::HUGEINT) * 4294967296::HUGEINT" +
      s" + (($a) % 4294967296::HUGEINT) * ($b)) % $M"
  private def rotl(x: String, r: Int): String =
    s"((($x) * ${1L << r}::HUGEINT) % $M + (($x) // ${java.lang.Long.toUnsignedString(1L << (64 - r))}::HUGEINT))"
  private def xor(a: String, b: String): String = s"xor($a, $b)"
  // XXH64 primes, as unsigned decimal HUGEINT literals
  private val P1 = "11400714785074694791::HUGEINT"
  private val P2 = "14029467366897019727::HUGEINT"
  private val P3 = "1609587929392839161::HUGEINT"
  private val P4 = "9650029242287828579::HUGEINT"
  private val P5 = "2870177450012600261::HUGEINT"

  /** CTE chain computing `hu` (unsigned HUGEINT) and `h` (signed BIGINT,
    * == Spark xxhash64) for each row of `srcCte(id, w)`. Returns
    * (cteClauses, finalCteName).
    */
  def xxhChain(srcCte: String): (Seq[(String, String)], String) = {
    val steps = scala.collection.mutable.ArrayBuffer[(String, String)]()
    def S(name: String, expr: String): Unit = steps += ((name, expr))
    def read8(off: Int): String = // little-endian: byte j weighted 256^j = 2^(8j)
      (0 until 8).map(j => s"ba[${off + j + 1}]::HUGEINT * ${1L << (8 * j)}::HUGEINT")
        .mkString("(", " + ", ")")
    def read4(offExpr: String): String =
      (0 until 4).map(j => s"ba[($offExpr)+${j + 1}]::HUGEINT * ${1L << (8 * j)}::HUGEINT")
        .mkString("(", " + ", ")")
    S("h0", s"(42::HUGEINT + $P5 + n::HUGEINT) % $M")
    for (r <- 0 until 3) { // 8-byte rounds, unrolled (n < 32 => at most 3)
      val prev = if (r == 0) "h0" else s"r$r"
      S(s"k${r}a", mul64(read8(8 * r), P2))
      S(s"k${r}b", rotl(s"k${r}a", 31))
      S(s"k${r}c", mul64(s"k${r}b", P1))
      S(s"x$r", xor(prev, s"k${r}c"))
      S(s"y$r", s"(${mul64(rotl(s"x$r", 27), P1)} + $P4) % $M")
      S(s"r${r + 1}", s"CASE WHEN n >= ${8 * (r + 1)} THEN y$r ELSE $prev END")
    }
    S("off4", "(n // 8) * 8")
    S("f4a", xor("r3", mul64(read4("off4"), P1)))
    S("f4b", s"(${mul64(rotl("f4a", 23), P2)} + $P3) % $M")
    S("h4", "CASE WHEN n % 8 >= 4 THEN f4b ELSE r3 END")
    S("tb", "off4 + CASE WHEN n % 8 >= 4 THEN 4 ELSE 0 END")
    for (t <- 0 until 3) { // tail bytes, unrolled (at most n%4 <= 3)
      val prev = if (t == 0) "h4" else s"t$t"
      S(s"u$t", xor(prev, mul64(s"ba[tb+${t + 1}]::HUGEINT", P5)))
      S(s"v$t", mul64(rotl(s"u$t", 11), P1))
      S(s"t${t + 1}", s"CASE WHEN n - tb >= ${t + 1} THEN v$t ELSE $prev END")
    }
    S("a1", xor("t3", s"t3 // ${1L << 33}::HUGEINT"))
    S("a2", mul64("a1", P2))
    S("a3", xor("a2", s"a2 // ${1L << 29}::HUGEINT"))
    S("a4", mul64("a3", P3))
    S("hu", xor("a4", s"a4 // ${1L << 32}::HUGEINT"))
    S("h", "CASE WHEN hu >= 9223372036854775808::HUGEINT THEN (hu - 18446744073709551616::HUGEINT)::BIGINT ELSE hu::BIGINT END")

    val ctes = scala.collection.mutable.ArrayBuffer[(String, String)]()
    ctes += (("g0",
      s"SELECT id, w, octet_length(CAST(w AS BLOB)) AS n, " +
        "list_transform(range(1, 33), i -> CASE WHEN i <= length(w) THEN ascii(substr(w, CAST(i AS INT), 1)) ELSE 0 END) AS ba " +
        s"FROM $srcCte"))
    // loud precondition: short ASCII only (see scaladoc)
    ctes += (("g1",
      "SELECT * FROM g0 WHERE CASE WHEN n >= 32 OR n <> length(w) " +
        "THEN error('xxh64 oracle: token not short-ASCII') ELSE true END"))
    var prev = "g1"
    var bi = 2
    steps.grouped(4).foreach { batch =>
      val cols = batch.map { case (nm, ex) => s"$ex AS $nm" }.mkString(", ")
      ctes += ((s"g$bi", s"SELECT *, $cols FROM $prev"))
      prev = s"g$bi"
      bi += 1
    }
    (ctes.toSeq, prev)
  }

  /** CTE chain computing Spark's `xxhash64(<bigint col>)` (seed 42) for
    * each row of `srcCte` — the XXH64 single-8-byte-block path in closed
    * form: one k-round over the little-endian value, then the avalanche.
    * Unlike [[xxhChain]] there is no variable-length branching (a long is
    * exactly one full block, no 4-byte/1-byte tail), so the chain is 11
    * steps. Used to replay hash-ordered deterministic sampling (e.g. the
    * IVF seed selection `ORDER BY xxhash64(id)`) in DuckDB. Returns
    * (cteClauses, finalCteName); the final CTE carries all source columns
    * plus `<prefix>h` (signed BIGINT, == Spark) — validated step-for-step
    * against the reference algorithm on boundary values (0, ±1, ±2⁶³∓1).
    */
  def xxh64LongChain(srcCte: String, inCol: String,
                     prefix: String = "z"): (Seq[(String, String)], String) = {
    val steps = scala.collection.mutable.ArrayBuffer[(String, String)]()
    def S(name: String, expr: String): Unit = steps += ((prefix + name, expr))
    def N(name: String): String = prefix + name
    // unsigned 64-bit view of the signed BIGINT input
    S("u", s"((($inCol)::HUGEINT % $M) + $M) % $M")
    S("k1", mul64(N("u"), P2))
    S("k2", rotl(N("k1"), 31))
    S("k3", mul64(N("k2"), P1))
    // h0 = (seed 42 + PRIME5 + len 8) mod 2^64, as a literal
    S("h1", xor("2870177450012600311::HUGEINT", N("k3")))
    S("h2", s"(${mul64(rotl(N("h1"), 27), P1)} + $P4) % $M")
    S("a1", xor(N("h2"), s"${N("h2")} // ${1L << 33}::HUGEINT"))
    S("a2", mul64(N("a1"), P2))
    S("a3", xor(N("a2"), s"${N("a2")} // ${1L << 29}::HUGEINT"))
    S("a4", mul64(N("a3"), P3))
    S("hu", xor(N("a4"), s"${N("a4")} // ${1L << 32}::HUGEINT"))
    S("h", s"CASE WHEN ${N("hu")} >= 9223372036854775808::HUGEINT " +
      s"THEN (${N("hu")} - $M)::BIGINT ELSE ${N("hu")}::BIGINT END")
    val ctes = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var prev = srcCte
    var bi = 0
    steps.grouped(3).foreach { batch =>
      val cols = batch.map { case (nm, ex) => s"$ex AS $nm" }.mkString(", ")
      ctes += ((s"${prefix}c$bi", s"SELECT *, $cols FROM $prev"))
      prev = s"${prefix}c$bi"
      bi += 1
    }
    (ctes.toSeq, prev)
  }

  private def cteStr(ctes: Seq[(String, String)]): String =
    ctes.map { case (n, q) => s"$n AS ($q)" }.mkString(",\n")

  private val pow2List: String =
    (0 until 64).map(b => s"${java.lang.Long.toUnsignedString(1L << b)}::HUGEINT").mkString("[", ",", "]")

  /** Full-value oracle for `dedup_simhash` (Dedup.simHashNearDups on
    * documents, maxHamming = 3): recompute each doc's 64-bit SimHash
    * (per-bit vote of xxhash64(token)) and brute-force the hamming<=3 pair
    * join — pigeonhole banding has EXACT recall, so brute force is the
    * banding's semantics (same stand-in the mm_phash oracle uses).
    */
  def simhashNearDupsSql(maxHamming: Int = 3): String = {
    val (ctes, last) = xxhChain("tok")
    s"""WITH docs AS (SELECT doc_id AS id, text FROM documents),
       |tok AS (SELECT id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w FROM docs),
       |${cteStr(ctes)},
       |votes AS (
       |  SELECT id, r.b AS b,
       |         sum(CASE WHEN (hu // ($pow2List)[r.b + 1]) % 2 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM $last, range(0, 64) r(b) GROUP BY 1, 2),
       |simu AS (SELECT id, coalesce(sum(CASE WHEN v > 0 THEN ($pow2List)[b + 1] ELSE 0::HUGEINT END), 0::HUGEINT) AS su FROM votes GROUP BY id),
       |sims AS (SELECT id, CASE WHEN su >= 9223372036854775808::HUGEINT THEN (su - 18446744073709551616::HUGEINT)::BIGINT ELSE su::BIGINT END AS sim FROM simu)
       |SELECT x.id AS id_a, y.id AS id_b, CAST(bit_count(xor(x.sim, y.sim)) AS INT) AS hamming
       |FROM sims x JOIN sims y ON x.id < y.id
       |WHERE bit_count(xor(x.sim, y.sim)) <= $maxHamming
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** The MinHash lane constants (a_j, b_j) as SQL VALUES rows — computed
    * from the same `SplitMix.mix64` the Spark kernel seeds with, so no
    * oracle can drift from the implementation's seeding.
    */
  private def laneValues(k: Int, p: Long): String =
    (0 until k).map { j =>
      val a = Math.floorMod(functions.SplitMix.mix64(j.toLong), p - 1) + 1L
      val b = Math.floorMod(functions.SplitMix.mix64(j.toLong + 0x51AF_E00DL), p)
      s"($j, $a::BIGINT, $b::BIGINT)"
    }.mkString(", ")

  /** Full-value oracle for `dedup_minhash_estimate`
    * (Dedup.minHashEstimatedPairs on documents, 16 bands x 4 rows):
    * recompute the 64-lane MinHash signatures ((a_j*h + b_j) mod p over the
    * distinct 3-word shingle set), generate LSH candidates by band-slice
    * equality, and emit the lane-agreement estimate for each pair.
    */
  def minHashEstimateSql(shingleN: Int = 3, bands: Int = 16, rowsPerBand: Int = 4): String = {
    val k = bands * rowsPerBand
    val p = 2147483647L
    val laneVals = laneValues(k, p)
    val (ctes, last) = xxhChain("sh")
    s"""WITH docs AS (SELECT doc_id AS id, text FROM documents),
       |tk AS (SELECT id, regexp_split_to_array(trim(text), '\\s+') AS ts FROM docs),
       |sh AS (SELECT id, unnest(list_distinct(list_transform(range(0, greatest(len(ts) - $shingleN, 0) + 1),
       |        i -> array_to_string(ts[i + 1 : least(i + $shingleN, len(ts))], ' ')))) AS w FROM tk),
       |${cteStr(ctes)},
       |hh AS (SELECT id, ((h % $p) + $p) % $p AS hp FROM $last),
       |ln(j, a, b) AS (VALUES $laneVals),
       |sigv AS (SELECT id, j, min((a * hp + b) % $p) AS v FROM hh, ln GROUP BY 1, 2),
       |sigs AS (SELECT id, array_agg(v ORDER BY j) AS sig FROM sigv GROUP BY id),
       |bb AS (SELECT id, r.b AS band, array_to_string(sig[r.b * $rowsPerBand + 1 : (r.b + 1) * $rowsPerBand], ',') AS bkt
       |       FROM sigs, range(0, $bands) r(b)),
       |cand AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
       |         FROM bb x JOIN bb y ON x.band = y.band AND x.bkt = y.bkt AND x.id < y.id)
       |SELECT c.id_a, c.id_b,
       |  round(CAST(list_sum(list_transform(range(1, ${k + 1}), i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) AS DOUBLE) / $k, 4) AS jaccard_est
       |FROM cand c JOIN sigs sa ON sa.id = c.id_a JOIN sigs sb ON sb.id = c.id_b
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Full-value oracle for `dedup_lsh_quality` (Dedup.lshQualityCensus on
    * documents): the exact-Jaccard decile census of the shared-shingle
    * pair universe with the banding's detection flag — the truth leg is
    * integer arithmetic end to end ((inter·10) // union), the detection
    * leg replays the signature banding via [[xxhChain]] exactly as
    * [[minHashEstimateSql]] does.
    */
  def lshQualityCensusSql(shingleN: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
                          docsSelect: String = "SELECT doc_id AS id, text FROM documents"): String = {
    val k = bands * rowsPerBand
    val p = 2147483647L
    val laneVals = laneValues(k, p)
    val (ctes, last) = xxhChain("sh")
    s"""WITH docs AS ($docsSelect),
       |tk AS (SELECT id, regexp_split_to_array(trim(text), '\\s+') AS ts FROM docs),
       |shl AS (SELECT id, list_distinct(list_transform(range(0, greatest(len(ts) - $shingleN, 0) + 1),
       |        i -> array_to_string(ts[i + 1 : least(i + $shingleN, len(ts))], ' '))) AS shs FROM tk),
       |sh AS (SELECT id, unnest(shs) AS w FROM shl),
       |${cteStr(ctes)},
       |hh AS (SELECT id, ((h % $p) + $p) % $p AS hp FROM $last),
       |ln(j, a, b) AS (VALUES $laneVals),
       |sigv AS (SELECT id, j, min((a * hp + b) % $p) AS v FROM hh, ln GROUP BY 1, 2),
       |sigs AS (SELECT id, array_agg(v ORDER BY j) AS sig FROM sigv GROUP BY id),
       |bb AS (SELECT id, r.b AS band, array_to_string(sig[r.b * $rowsPerBand + 1 : (r.b + 1) * $rowsPerBand], ',') AS bkt
       |       FROM sigs, range(0, $bands) r(b)),
       |cand AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
       |         FROM bb x JOIN bb y ON x.band = y.band AND x.bkt = y.bkt AND x.id < y.id),
       |sizes AS (SELECT id, len(shs) AS n FROM shl),
       |inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
       |          FROM sh a JOIN sh b ON a.w = b.w AND a.id < b.id GROUP BY 1, 2),
       |truth AS (SELECT inter.id_a, inter.id_b, CAST((i * 10) // (sa.n + sb.n - i) AS INT) AS jband
       |          FROM inter JOIN sizes sa ON sa.id = inter.id_a JOIN sizes sb ON sb.id = inter.id_b),
       |u AS (SELECT coalesce(t.jband, 0) AS jband,
       |        CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END AS det
       |      FROM truth t FULL OUTER JOIN cand c ON t.id_a = c.id_a AND t.id_b = c.id_b)
       |SELECT jband, count(*) AS n_pairs, CAST(sum(det) AS BIGINT) AS n_detected
       |FROM u GROUP BY jband ORDER BY jband""".stripMargin
  }

  /** The winnowing selection CTE prefix shared by `text_winnowing` and
    * `text_winnowing_matches` (Dedup.winnowFingerprints): positioned word
    * `n`-grams (position folded into the chain's opaque id as
    * doc_id·10⁶ + pos — the chain is row-wise, so a composite key rides
    * through it losslessly; token counts are far below 10⁶), closed-form
    * xxhash64 per gram, per-doc hash sequence in position order, window
    * minima, distinct. Ends in `fps(doc_id, fp)`.
    */
  private def winnowFpsCtes(n: Int, window: Int): String = {
    val (ctes, last) = xxhChain("gr")
    s"""tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts FROM documents),
       |gr AS (SELECT doc_id * 1000000 + r.i AS id, array_to_string(ts[r.i + 1 : r.i + $n], ' ') AS w
       |       FROM tk, unnest(generate_series(0, len(ts) - $n)) AS r(i) WHERE len(ts) >= $n),
       |${cteStr(ctes)},
       |gh AS (SELECT id // 1000000 AS doc_id, id % 1000000 AS pos, h FROM $last),
       |ghl AS (SELECT doc_id, list(h ORDER BY pos) AS hs FROM gh GROUP BY doc_id),
       |fps AS (SELECT doc_id, unnest(CASE WHEN len(hs) <= $window THEN [list_min(hs)]
       |        ELSE list_distinct(list_transform(range(0, len(hs) - ${window - 1}),
       |          i -> list_min(hs[i + 1 : i + $window]))) END) AS fp
       |        FROM ghl)""".stripMargin
  }

  /** Full-value oracle for `text_winnowing`: the per-doc selected
    * fingerprint relation itself — the strongest check (the hash VALUES
    * drive selection, so the replay must agree fingerprint-for-
    * fingerprint, not just in counts).
    */
  def winnowingSql(n: Int = 3, window: Int = 4): String =
    s"""WITH ${winnowFpsCtes(n, window)}
       |SELECT doc_id, fp FROM fps ORDER BY doc_id, fp""".stripMargin

  /** Full-value oracle for `text_winnowing_matches`
    * (Dedup.winnowMatches): df-cap the fingerprint relation, self-join,
    * count shared fingerprints.
    */
  def winnowMatchesSql(n: Int = 3, window: Int = 4,
                       minShared: Int = 2, maxDf: Int = 20): String =
    s"""WITH ${winnowFpsCtes(n, window)},
       |cool AS (SELECT fp FROM (SELECT fp, count(*) AS df FROM fps GROUP BY fp)
       |         WHERE df <= $maxDf),
       |fpc AS (SELECT f.doc_id, f.fp FROM fps f JOIN cool c ON c.fp = f.fp)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared_fp
       |FROM fpc a JOIN fpc b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= $minShared ORDER BY id_a, id_b""".stripMargin

  /** Full-value oracle for `text_winnowing_cross`
    * (Dedup.winnowBuild/winnowFlagsWith: even ids are the reference,
    * odd ids the fresh crawl; the df cap counts REFERENCE docs only —
    * batch-invariant).
    */
  def winnowCrossSql(n: Int = 3, window: Int = 4,
                     minShared: Int = 2, maxDf: Int = 20): String =
    s"""WITH ${winnowFpsCtes(n, window)},
       |ref AS (SELECT doc_id AS id_ref, fp FROM fps WHERE doc_id % 2 = 0),
       |cool AS (SELECT fp FROM (SELECT fp, count(*) AS df FROM ref GROUP BY fp)
       |         WHERE df <= $maxDf),
       |refc AS (SELECT r.id_ref, r.fp FROM ref r JOIN cool c ON c.fp = r.fp),
       |nw AS (SELECT doc_id AS id_new, fp FROM fps WHERE doc_id % 2 = 1)
       |SELECT nw.id_new, refc.id_ref, count(*) AS shared_fp
       |FROM nw JOIN refc ON nw.fp = refc.fp
       |GROUP BY 1, 2 HAVING count(*) >= $minShared ORDER BY id_new, id_ref""".stripMargin
}
