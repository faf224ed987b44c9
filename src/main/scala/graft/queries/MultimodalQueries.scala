package graft
package queries

import org.apache.spark.sql.functions._
import graft.ops._
import Shared._

/** Multimodal columns derived from `documents`. */
object MultimodalQueries {
  val specs: Seq[QuerySpec] = Seq(
    // ---- multimodal columns ----
    QuerySpec("mm_media_meta", (s, dir) =>
      Multimodal.fromDocuments(t(s, dir, "documents"))
        .select(col("media_id"), col("meta.format").as("format"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          col("meta.n_bytes").as("n_bytes"))
        .orderBy(col("media_id")), oracleSql =
        """SELECT doc_id AS media_id, ['png','jpeg','webp'][CAST(doc_id % 3 AS INT) + 1] AS format,
          |CAST(n_chars % 640 + 32 AS INT) AS width, CAST((n_chars * 7) % 480 + 32 AS INT) AS height,
          |CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes
          |FROM documents ORDER BY media_id""".stripMargin),
    QuerySpec("mm_features", (s, dir) =>
      Multimodal.extractFeatures(Multimodal.fromDocuments(t(s, dir, "documents")))
        .orderBy(col("media_id")), oracleSql =
        """SELECT doc_id AS media_id, ['png','jpeg','webp'][CAST(doc_id % 3 AS INT) + 1] AS format,
          |CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
          |CAST(list_sum(list_transform(range(1, length(text) + 1), i -> ascii(substr(text, i, 1)))) AS BIGINT) AS byte_sum,
          |CAST(0 AS BIGINT) AS n_high_bytes
          |FROM documents ORDER BY media_id""".stripMargin),
    QuerySpec("mm_frames", (s, dir) =>
      Multimodal.sampleFrames(Multimodal.fromDocuments(t(s, dir, "documents")))
        .orderBy(col("media_id"), col("frame_idx")), oracleSql =
        """SELECT doc_id AS media_id, CAST(i AS INT) AS frame_idx,
          |CAST(greatest(least(64, length(text) - i * 64), 0) AS INT) AS frame_len
          |FROM documents, unnest(generate_series(0, CAST(floor(length(text) / 64.0) AS BIGINT))) AS t(i)
          |WHERE i % 4 = 0 ORDER BY media_id, frame_idx""".stripMargin),
    QuerySpec("mm_resize", (s, dir) =>
      Multimodal.resizeStub(Multimodal.fromDocuments(t(s, dir, "documents")))
        .orderBy(col("media_id")), oracleSql =
        """SELECT doc_id AS media_id,
          |CAST(n_chars % 640 + 32 AS INT) AS src_width,
          |CAST((n_chars * 7) % 480 + 32 AS INT) AS src_height,
          |CAST(length(text) AS BIGINT) AS src_bytes,
          |CAST(greatest(floor(length(text) / 256.0), 1) AS INT) AS stride,
          |CAST(ceil(length(text) * 1.0 / greatest(floor(length(text) / 256.0), 1)) AS BIGINT) AS resized_bytes
          |FROM documents ORDER BY media_id""".stripMargin),
    QuerySpec("mm_phash_neardups", (s, dir) => {
      // perceptual (average-hash) near-dup pairs over the media payloads —
      // integer-exact 48-bit hash, pigeonhole chunk banding, exact hamming
      // verification on candidates only (Multimodal.phashNearDups scaladoc).
      // Byte-identical planted twins (media_id + 10M) guarantee hamming-0
      // pairs at EVERY SF — natural ≤3-bit pairs only exist at sf0.1 —
      // while the op still surfaces every close pair among originals too.
      val media = Multimodal.fromDocuments(t(s, dir, "documents"))
      val twins = media.withColumn("media_id", col("media_id") + lit(10000000L))
      Multimodal.phashNearDups(media.unionByName(twins), maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))
    }, oracleSql =
        // the 48-bit average-hash recomputed byte-exactly (ASCII corpus:
        // ascii(char) == byte, proven by mm_features' n_high_bytes = 0),
        // block threshold integer-cross-multiplied exactly as the op;
        // brute-force hamming join stands in for the pigeonhole banding
        """WITH b AS (
          |  SELECT doc_id,
          |    list_transform(range(1, length(text) + 1), i -> ascii(substr(text, i, 1))) AS a,
          |    CAST(length(text) AS BIGINT) AS n
          |  FROM documents),
          |h AS (
          |  SELECT doc_id,
          |    CAST(coalesce(list_sum(list_transform(range(0, 48), k ->
          |      CASE WHEN coalesce(list_sum(a[CAST(k * n // 48 AS INT) + 1 : CAST((k + 1) * n // 48 AS INT)]), 0) * n
          |              > coalesce(list_sum(a), 0) * ((k + 1) * n // 48 - k * n // 48)
          |           THEN 1::BIGINT << k ELSE 0 END)), 0) AS BIGINT) AS phash
          |  FROM b),
          |h2 AS (SELECT doc_id AS mid, phash FROM h
          |       UNION ALL SELECT doc_id + 10000000 AS mid, phash FROM h)
          |SELECT x.mid AS id_a, y.mid AS id_b,
          |  CAST(bit_count(xor(x.phash, y.phash)) AS INT) AS hamming
          |FROM h2 x JOIN h2 y ON x.mid < y.mid
          |WHERE bit_count(xor(x.phash, y.phash)) <= 3
          |ORDER BY id_a, id_b""".stripMargin),
    QuerySpec("mm_video_neardups", (s, dir) => {
      // video near-dup via frame-fingerprint set overlap
      // (Multimodal.videoNearDups): each doc's payload plus a planted
      // "re-encoded copy" (same bytes + a per-id tail — every full frame
      // shared, the tail frame changed) → twins pair at high Jaccard
      // wherever the doc spans enough frames, and the corpus' exact-dup
      // docs surface naturally at 1.0
      val docs = t(s, dir, "documents")
      val media = Multimodal.fromDocuments(docs)
        .select(col("media_id"), col("payload"))
      val twins = docs.select(
        (col("doc_id") + lit(10000000L)).as("media_id"),
        encode(concat(col("text"), lit(" tail"), col("doc_id").cast("string")),
          "UTF-8").as("payload"))
      Multimodal.videoNearDups(media.unionByName(twins),
          frameBytes = 64, threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    }, oracleSql =
        // frames = consecutive 64-char slices (short tail kept); per-frame
        // rolling hash is the text_fingerprint fold; Jaccard over DISTINCT
        // frame-hash sets, rounded-then-thresholded exactly as the op
        """WITH d AS (SELECT doc_id AS media_id, text AS s FROM documents
          |           UNION ALL
          |           SELECT doc_id + 10000000 AS media_id,
          |                  text || ' tail' || doc_id AS s FROM documents),
          |fr AS (SELECT media_id, substr(s, i*64 + 1, 64) AS frame
          |       FROM d, unnest(generate_series(0, (length(s)-1)//64)) AS u(i)
          |       WHERE length(s) >= 1),
          |fp AS (SELECT DISTINCT media_id, list_reduce(
          |         list_prepend(CAST(0 AS BIGINT),
          |           list_transform(range(1, length(frame)+1),
          |             j -> CAST(ascii(substr(frame, j, 1)) AS BIGINT))),
          |         (h, c) -> (h*31 + c) % 1000000007) AS fp
          |       FROM fr),
          |sz AS (SELECT media_id, count(*) AS nf FROM fp GROUP BY media_id),
          |sh AS (SELECT a.media_id AS id_a, b.media_id AS id_b, count(*) AS n_shared
          |       FROM fp a JOIN fp b ON a.fp = b.fp AND a.media_id < b.media_id
          |       GROUP BY 1, 2)
          |SELECT id_a, id_b, n_shared,
          |  round(CAST(n_shared AS DOUBLE)/(x.nf + y.nf - n_shared), 4) AS jaccard_r
          |FROM sh JOIN sz x ON x.media_id = id_a JOIN sz y ON y.media_id = id_b
          |WHERE round(CAST(n_shared AS DOUBLE)/(x.nf + y.nf - n_shared), 4) >= 0.5
          |ORDER BY id_a, id_b""".stripMargin),
    QuerySpec("mm_video_cross_corpus", (s, dir) => {
      // video near-dup against a PREBUILT frame index
      // (Multimodal.frameIndexBuild / videoNearDupsWith): even ids are
      // the static reference; the batch is the odd half plus tail-
      // modified re-encodes of the reference (every full frame shared,
      // the tail frame changed) — each re-encode best-matches its own
      // original wherever it spans enough frames
      val docs = t(s, dir, "documents")
      val media = Multimodal.fromDocuments(docs)
        .select(col("media_id"), col("payload"))
      val ref = media.filter(col("media_id") % 2 === 0)
      val batch = media.filter(col("media_id") % 2 === 1)
        .unionByName(docs.filter(col("doc_id") % 2 === 0).select(
          (col("doc_id") + lit(10000000L)).as("media_id"),
          encode(concat(col("text"), lit(" tail"), col("doc_id").cast("string")),
            "UTF-8").as("payload")))
      Multimodal.videoNearDupsWith(batch, Multimodal.frameIndexBuild(ref),
          threshold = 0.5)
        .orderBy(col("id_new"))
    }, oracleSql =
        // same frame/fingerprint CTEs as mm_video_neardups; brute-force
        // (new × ref) Jaccard then best match per new video (max
        // jaccard, ties smallest ref id) stands in for the inverted
        // frame-index probe
        """WITH nw0 AS (SELECT doc_id AS media_id, text AS s FROM documents WHERE doc_id % 2 = 1
          |            UNION ALL
          |            SELECT doc_id + 10000000 AS media_id,
          |                   text || ' tail' || doc_id AS s
          |            FROM documents WHERE doc_id % 2 = 0),
          |rf0 AS (SELECT doc_id AS media_id, text AS s FROM documents WHERE doc_id % 2 = 0),
          |nfr AS (SELECT media_id, substr(s, i*64 + 1, 64) AS frame
          |        FROM nw0, unnest(generate_series(0, (length(s)-1)//64)) AS u(i)
          |        WHERE length(s) >= 1),
          |rfr AS (SELECT media_id, substr(s, i*64 + 1, 64) AS frame
          |        FROM rf0, unnest(generate_series(0, (length(s)-1)//64)) AS u(i)
          |        WHERE length(s) >= 1),
          |nfp AS (SELECT DISTINCT media_id, list_reduce(
          |          list_prepend(CAST(0 AS BIGINT),
          |            list_transform(range(1, length(frame)+1),
          |              j -> CAST(ascii(substr(frame, j, 1)) AS BIGINT))),
          |          (h, c) -> (h*31 + c) % 1000000007) AS fp
          |        FROM nfr),
          |rfp AS (SELECT DISTINCT media_id, list_reduce(
          |          list_prepend(CAST(0 AS BIGINT),
          |            list_transform(range(1, length(frame)+1),
          |              j -> CAST(ascii(substr(frame, j, 1)) AS BIGINT))),
          |          (h, c) -> (h*31 + c) % 1000000007) AS fp
          |        FROM rfr),
          |nsz AS (SELECT media_id, count(*) AS nf FROM nfp GROUP BY media_id),
          |rsz AS (SELECT media_id, count(*) AS nf FROM rfp GROUP BY media_id),
          |sh AS (SELECT n.media_id AS id_new, r.media_id AS id_ref, count(*) AS s
          |       FROM nfp n JOIN rfp r ON n.fp = r.fp GROUP BY 1, 2),
          |j AS (SELECT id_new, id_ref,
          |        round(CAST(s AS DOUBLE)/(x.nf + y.nf - s), 4) AS jac
          |      FROM sh JOIN nsz x ON x.media_id = id_new
          |              JOIN rsz y ON y.media_id = id_ref)
          |SELECT id_new, id_ref AS matched_ref, jac AS best_jaccard
          |FROM (SELECT *, row_number() OVER (PARTITION BY id_new ORDER BY jac DESC, id_ref) AS rn
          |      FROM j WHERE jac >= 0.5)
          |WHERE rn = 1 ORDER BY id_new""".stripMargin),
    QuerySpec("mm_audio_neardups", (s, dir) => {
      // audio near-dup via constellation-landmark set overlap
      // (Multimodal.audioNearDups — round 15, the fifth modality on the
      // near-dup seam): each doc's payload plus a planted "time-shifted
      // re-encode" (the SAME bytes behind a prefix of EXACTLY one hop —
      // lpad(doc_id, 14) + ": " = 16 bytes — so every window shifts by
      // one index and ALL interior landmarks survive, the hop-alignment
      // property the op exists for); maxLandmarkDf=20 is the
      // background-noise cap (capped-set Jaccard — op scaladoc)
      val docs = t(s, dir, "documents")
      val media = Multimodal.fromDocuments(docs)
        .select(col("media_id"), col("payload"))
      val twins = docs.select(
        (col("doc_id") + lit(10000000L)).as("media_id"),
        encode(concat(lpad(col("doc_id").cast("string"), 14, "0"),
          lit(": "), col("text")), "UTF-8").as("payload"))
      Multimodal.audioNearDups(media.unionByName(twins),
          windowBytes = 32, hop = 16, threshold = 0.5, maxLandmarkDf = 20)
        .orderBy(col("id_a"), col("id_b"))
    }, oracleSql =
        // constellation landmarks over overlapping 32-byte windows at
        // hop 16: per-window feature = the text_fingerprint rolling hash
        // of the window (list_reduce fold over accumulator + element only
        // — the DuckDB v1.0 lambda-correlation rule); landmark packs
        // consecutive window features (f_i·2^30 + f_j); background cap
        // df>20 removes landmarks from SETS AND denominators (capped-set
        // Jaccard, the op scaladoc)
        """WITH d AS (SELECT doc_id AS media_id, text AS s FROM documents
          |           UNION ALL
          |           SELECT doc_id + 10000000 AS media_id,
          |                  lpad(CAST(doc_id AS VARCHAR), 14, '0') || ': ' || text AS s
          |           FROM documents),
          |win AS (SELECT media_id, i, substr(s, i*16 + 1, 32) AS w
          |        FROM d, unnest(generate_series(0, (length(s)-32)//16)) AS u(i)
          |        WHERE length(s) >= 48),
          |fp AS (SELECT media_id, i, list_reduce(
          |         list_prepend(CAST(0 AS BIGINT),
          |           list_transform(range(1, length(w)+1),
          |             j -> CAST(ascii(substr(w, j, 1)) AS BIGINT))),
          |         (h, c) -> (h*31 + c) % 1000000007) AS f
          |       FROM win),
          |lm0 AS (SELECT DISTINCT a.media_id, a.f * 1073741824 + b.f AS lm
          |        FROM fp a JOIN fp b ON a.media_id = b.media_id AND b.i = a.i + 1),
          |viral AS (SELECT lm FROM lm0 GROUP BY lm HAVING count(*) > 20),
          |lm AS (SELECT * FROM lm0 WHERE lm NOT IN (SELECT lm FROM viral)),
          |sz AS (SELECT media_id, count(*) AS nl FROM lm GROUP BY media_id),
          |sh AS (SELECT a.media_id AS id_a, b.media_id AS id_b, count(*) AS n_shared
          |       FROM lm a JOIN lm b ON a.lm = b.lm AND a.media_id < b.media_id
          |       GROUP BY 1, 2)
          |SELECT id_a, id_b, n_shared,
          |  round(CAST(n_shared AS DOUBLE)/(x.nl + y.nl - n_shared), 4) AS jaccard_r
          |FROM sh JOIN sz x ON x.media_id = id_a JOIN sz y ON y.media_id = id_b
          |WHERE round(CAST(n_shared AS DOUBLE)/(x.nl + y.nl - n_shared), 4) >= 0.5
          |ORDER BY id_a, id_b""".stripMargin),
    QuerySpec("mm_audio_cross_corpus", (s, dir) => {
      // audio near-dup against a PREBUILT landmark index
      // (Multimodal.audioIndexBuild / audioNearDupsWith): even ids are
      // the static reference; the batch is the odd half plus hop-aligned
      // prefixed re-encodes of the reference — each re-encode
      // best-matches its own original through the surviving landmarks
      val docs = t(s, dir, "documents")
      val media = Multimodal.fromDocuments(docs)
        .select(col("media_id"), col("payload"))
      val ref = media.filter(col("media_id") % 2 === 0)
      val batch = media.filter(col("media_id") % 2 === 1)
        .unionByName(docs.filter(col("doc_id") % 2 === 0).select(
          (col("doc_id") + lit(10000000L)).as("media_id"),
          encode(concat(lpad(col("doc_id").cast("string"), 14, "0"),
            lit(": "), col("text")), "UTF-8").as("payload")))
      Multimodal.audioNearDupsWith(batch,
          Multimodal.audioIndexBuild(ref, windowBytes = 32, hop = 16,
            maxLandmarkDf = 20),
          threshold = 0.5)
        .orderBy(col("id_new"))
    }, oracleSql =
        // same landmark chain split ref/batch; REFERENCE-side viral cap
        // only (batch-invariant); batch sizes counted after dropping the
        // reference's background landmarks; best match per new recording
        // (max jaccard, ties smallest reference id)
        """WITH nw0 AS (SELECT doc_id AS media_id, text AS s FROM documents WHERE doc_id % 2 = 1
          |             UNION ALL
          |             SELECT doc_id + 10000000 AS media_id,
          |                    lpad(CAST(doc_id AS VARCHAR), 14, '0') || ': ' || text AS s
          |             FROM documents WHERE doc_id % 2 = 0),
          |rf0 AS (SELECT doc_id AS media_id, text AS s FROM documents WHERE doc_id % 2 = 0),
          |nwin AS (SELECT media_id, i, substr(s, i*16 + 1, 32) AS w
          |         FROM nw0, unnest(generate_series(0, (length(s)-32)//16)) AS u(i)
          |         WHERE length(s) >= 48),
          |rwin AS (SELECT media_id, i, substr(s, i*16 + 1, 32) AS w
          |         FROM rf0, unnest(generate_series(0, (length(s)-32)//16)) AS u(i)
          |         WHERE length(s) >= 48),
          |nfp AS (SELECT media_id, i, list_reduce(
          |          list_prepend(CAST(0 AS BIGINT),
          |            list_transform(range(1, length(w)+1),
          |              j -> CAST(ascii(substr(w, j, 1)) AS BIGINT))),
          |          (h, c) -> (h*31 + c) % 1000000007) AS f
          |        FROM nwin),
          |rfp AS (SELECT media_id, i, list_reduce(
          |          list_prepend(CAST(0 AS BIGINT),
          |            list_transform(range(1, length(w)+1),
          |              j -> CAST(ascii(substr(w, j, 1)) AS BIGINT))),
          |          (h, c) -> (h*31 + c) % 1000000007) AS f
          |        FROM rwin),
          |nlm0 AS (SELECT DISTINCT a.media_id, a.f * 1073741824 + b.f AS lm
          |         FROM nfp a JOIN nfp b ON a.media_id = b.media_id AND b.i = a.i + 1),
          |rlm0 AS (SELECT DISTINCT a.media_id, a.f * 1073741824 + b.f AS lm
          |         FROM rfp a JOIN rfp b ON a.media_id = b.media_id AND b.i = a.i + 1),
          |viral AS (SELECT lm FROM rlm0 GROUP BY lm HAVING count(*) > 20),
          |rlm AS (SELECT * FROM rlm0 WHERE lm NOT IN (SELECT lm FROM viral)),
          |nlm AS (SELECT * FROM nlm0 WHERE lm NOT IN (SELECT lm FROM viral)),
          |nsz AS (SELECT media_id, count(*) AS nn FROM nlm GROUP BY media_id),
          |rsz AS (SELECT media_id, count(*) AS nr FROM rlm GROUP BY media_id),
          |sh AS (SELECT n.media_id AS id_new, r.media_id AS id_ref, count(*) AS sc
          |       FROM nlm n JOIN rlm r ON n.lm = r.lm GROUP BY 1, 2),
          |j AS (SELECT id_new, id_ref,
          |        round(CAST(sc AS DOUBLE)/(x.nn + y.nr - sc), 4) AS jac
          |      FROM sh JOIN nsz x ON x.media_id = id_new
          |              JOIN rsz y ON y.media_id = id_ref
          |      WHERE round(CAST(sc AS DOUBLE)/(x.nn + y.nr - sc), 4) >= 0.5)
          |SELECT id_new, id_ref AS matched_ref, jac AS best_jaccard
          |FROM (SELECT *, row_number() OVER (PARTITION BY id_new
          |                                   ORDER BY jac DESC, id_ref) AS rn
          |      FROM j)
          |WHERE rn = 1 ORDER BY id_new""".stripMargin),
    QuerySpec("mm_audio_quality", (s, dir) => {
      // accuracy census on the DEPLOYED audio detector (round 16 — the
      // dedup_lsh_quality convention, closing the modality's census gap):
      // exact capped-set Jaccard decile census of the shared-landmark
      // pair universe with audioNearDups' literal threshold flag per
      // band. The raw corpus populates only the curve's ends, so every
      // doc gets a PARTIAL-OVERLAP twin planted — a hop-aligned PREFIX
      // covering (doc_id % 5 + 3)/10 of the text (truncation at offset 0
      // keeps every surviving window aligned, so the twin's landmark set
      // is ~a frac-sized subset of the original's and the pair Jaccard
      // lands near frac — fractions 0.3..0.7 straddle the 0.5 threshold
      // by construction, the vacuous-negative-branch rule); integer char
      // arithmetic, replayed by the oracle
      val docs = t(s, dir, "documents")
      val media = Multimodal.fromDocuments(docs)
        .select(col("media_id"), col("payload"))
      val twins = docs.select(
        (col("doc_id") + lit(10000000L)).as("media_id"),
        encode(expr(
          "substr(text, 1, CAST(length(text) * ((doc_id % 5) + 3) DIV 10 AS INT))"),
          "UTF-8").as("payload"))
      Multimodal.audioQualityCensus(media.unionByName(twins),
          windowBytes = 32, hop = 16, threshold = 0.5, maxLandmarkDf = 20)
        .orderBy(col("jband"))
    }, oracleSql =
        // the landmark-replay chain of mm_audio_neardups with the
        // PARTIAL-OVERLAP prefix plant, aggregated to the (jband,
        // n_pairs, n_detected) decile census; det replays the deployed
        // predicate (4-dp-rounded capped-set Jaccard >= 0.5) and jband
        // the integer (inter*10) DIV union banding
        """WITH d AS (SELECT doc_id AS media_id, text AS s FROM documents
          |           UNION ALL
          |           SELECT doc_id + 10000000 AS media_id,
          |                  substr(text, 1, CAST(length(text) * ((doc_id % 5) + 3) // 10 AS INT)) AS s
          |           FROM documents),
          |win AS (SELECT media_id, i, substr(s, i*16 + 1, 32) AS w
          |        FROM d, unnest(generate_series(0, (length(s)-32)//16)) AS u(i)
          |        WHERE length(s) >= 48),
          |fp AS (SELECT media_id, i, list_reduce(
          |         list_prepend(CAST(0 AS BIGINT),
          |           list_transform(range(1, length(w)+1),
          |             j -> CAST(ascii(substr(w, j, 1)) AS BIGINT))),
          |         (h, c) -> (h*31 + c) % 1000000007) AS f
          |       FROM win),
          |lm0 AS (SELECT DISTINCT a.media_id, a.f * 1073741824 + b.f AS lm
          |        FROM fp a JOIN fp b ON a.media_id = b.media_id AND b.i = a.i + 1),
          |viral AS (SELECT lm FROM lm0 GROUP BY lm HAVING count(*) > 20),
          |lm AS (SELECT * FROM lm0 WHERE lm NOT IN (SELECT lm FROM viral)),
          |sz AS (SELECT media_id, count(*) AS nl FROM lm GROUP BY media_id),
          |sh AS (SELECT a.media_id AS id_a, b.media_id AS id_b, count(*) AS inter
          |       FROM lm a JOIN lm b ON a.lm = b.lm AND a.media_id < b.media_id
          |       GROUP BY 1, 2),
          |pj AS (SELECT CAST((inter * 10) // (x.nl + y.nl - inter) AS INT) AS jband,
          |         CASE WHEN round(CAST(inter AS DOUBLE)/(x.nl + y.nl - inter), 4) >= 0.5
          |              THEN 1 ELSE 0 END AS det
          |       FROM sh JOIN sz x ON x.media_id = id_a JOIN sz y ON y.media_id = id_b)
          |SELECT jband, count(*) AS n_pairs, CAST(sum(det) AS BIGINT) AS n_detected
          |FROM pj GROUP BY jband ORDER BY jband""".stripMargin),
    QuerySpec("mm_phash_cross_corpus", (s, dir) => {
      // cross-corpus image near-dup against a PREBUILT reference index
      // (Multimodal.phashBuild / phashNearDupsWith — the round-9 artifact
      // seam): even media ids are the static reference, the batch is the
      // odd half plus byte-identical twins of the reference, so every
      // twin forces a hamming-0 best-match flag at EVERY SF while odd-id
      // naturals only flag where genuinely close. maxBucketSize stays 0
      // here so the oracle is the plain brute-force best match; the cap's
      // semantics are spec-pinned (MultimodalSpec) and probed at 1M.
      val media = Multimodal.fromDocuments(t(s, dir, "documents"))
      val ref = media.filter(col("media_id") % 2 === 0)
      val batch = media.filter(col("media_id") % 2 === 1)
        .unionByName(ref.withColumn("media_id", col("media_id") + lit(10000000L)))
      Multimodal.phashNearDupsWith(batch, Multimodal.phashBuild(ref), maxHamming = 3)
        .orderBy(col("id_new"))
    }, oracleSql =
        // same byte-exact hash CTE; brute-force (new × ref) hamming join
        // then best match per new image (min hamming, ties smallest ref
        // id) stands in for the chunk-banded artifact probe
        """WITH b AS (
          |  SELECT doc_id,
          |    list_transform(range(1, length(text) + 1), i -> ascii(substr(text, i, 1))) AS a,
          |    CAST(length(text) AS BIGINT) AS n
          |  FROM documents),
          |h AS (
          |  SELECT doc_id,
          |    CAST(coalesce(list_sum(list_transform(range(0, 48), k ->
          |      CASE WHEN coalesce(list_sum(a[CAST(k * n // 48 AS INT) + 1 : CAST((k + 1) * n // 48 AS INT)]), 0) * n
          |              > coalesce(list_sum(a), 0) * ((k + 1) * n // 48 - k * n // 48)
          |           THEN 1::BIGINT << k ELSE 0 END)), 0) AS BIGINT) AS phash
          |  FROM b),
          |ref AS (SELECT doc_id AS id_ref, phash AS h_ref FROM h WHERE doc_id % 2 = 0),
          |nw AS (SELECT doc_id AS id_new, phash AS h_new FROM h WHERE doc_id % 2 = 1
          |       UNION ALL SELECT doc_id + 10000000 AS id_new, phash AS h_new FROM h WHERE doc_id % 2 = 0),
          |pairs AS (
          |  SELECT id_new, id_ref, CAST(bit_count(xor(h_new, h_ref)) AS INT) AS hamming
          |  FROM nw JOIN ref ON bit_count(xor(h_new, h_ref)) <= 3)
          |SELECT id_new, id_ref AS matched_ref, hamming
          |FROM (SELECT *, row_number() OVER (PARTITION BY id_new ORDER BY hamming, id_ref) AS rn
          |      FROM pairs)
          |WHERE rn = 1 ORDER BY id_new""".stripMargin),
  )
}
