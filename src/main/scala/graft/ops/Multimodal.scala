package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing (SURVEY §2.3): image/audio/video as opaque
  * `binary` columns with typed metadata, plus batch feature extraction.
  *
  * The decode step is a clearly-marked DETERMINISTIC FAKE (no image/audio
  * libraries ship in this environment). Everything around it — the schema,
  * the partition-wise batch iteration, the output shape — is the real
  * plumbing a production decoder (native lib / vectorized UDF) would slot
  * into: swap `fakeDecode` for the real codec and nothing else changes.
  *
  * Scale notes: media blobs ride as binary parquet pages; the feature
  * extractor is `mapPartitions` (one JVM-side batch iterator per
  * partition — the Scala analogue of `mapInPandas` batching), so decode
  * amortizes per-partition setup and never touches the driver.
  */
object Multimodal {

  /** Media row schema: opaque payload + typed metadata struct — the
    * canonical multimodal column layout.
    */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("payload", BinaryType),
    StructField("meta", StructType(Seq(
      StructField("format", StringType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("n_bytes", LongType),
    ))),
  ))

  /** Derive a deterministic media table from `documents` (text bytes stand
    * in for image payloads; metadata derived from content so it is stable
    * and oracle-checkable).
    */
  def fromDocuments(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id").as("media_id"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(
        // FAKE header parse: format from doc_id, dims from content length
        element_at(array(lit("png"), lit("jpeg"), lit("webp")), (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("format"),
        (pmod(col("n_chars"), lit(640)) + 32).cast("int").as("width"),
        (pmod(col("n_chars") * 7, lit(480)) + 32).cast("int").as("height"),
        length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"),
      ).as("meta"),
    )

  /** FAKE DECODE — stands in for image decoding. Deterministic features of
    * the payload bytes: byte-sum "brightness", length, simple byte
    * histogram buckets. A real implementation replaces this function body
    * with the codec call; the signature and batching stay.
    */
  def fakeDecodeFeatures(payload: Array[Byte]): (Long, Long, Long) = {
    var sum = 0L; var nonAscii = 0L
    var i = 0
    while (i < payload.length) {
      sum += (payload(i) & 0xFF)
      if ((payload(i) & 0xFF) > 127) nonAscii += 1
      i += 1
    }
    (payload.length.toLong, sum, nonAscii)
  }

  /** The decoder-injection seam: a FACTORY invoked once per partition
    * inside `mapPartitions` whose product maps the raw payload to the
    * decoded byte plane every downstream kernel (features, aHash) reads.
    * Production wires `() => { val codec = loadNativeCodec(); bytes =>
    * codec.decodePixels(bytes) }` — the expensive handle is built once
    * per partition, never per row, and never serialized (only the
    * factory closure ships to executors). The default is the identity
    * plane — the honest fake-decode documented on the object scaladoc.
    */
  type DecoderFactory = () => Array[Byte] => Array[Byte]

  /** Default decoder: the payload bytes ARE the plane (fake decode). */
  val rawPlane: DecoderFactory = () => (p: Array[Byte]) => p

  /** Partition-wise batch feature extraction over media payloads: the
    * Scala analogue of a `mapInPandas` batch UDF. One row in → one feature
    * row out; `mkDecoder` is invoked ONCE per partition (per-partition,
    * not per-row, decoder setup — spec-pinned).
    */
  def extractFeatures(media: DataFrame,
                      mkDecoder: DecoderFactory = rawPlane): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("format", StringType),
      StructField("n_bytes", LongType),
      StructField("byte_sum", LongType),
      StructField("n_high_bytes", LongType),
    ))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    media.select(col("media_id"), col("payload"), col("meta.format").as("format"))
      // buffer-bound: O(1) — streaming row map; only the per-partition
      // decoder handle persists across rows
      .mapPartitions { rows =>
        val decode = mkDecoder() // per-partition decoder init (native lib handle etc.)
        rows.map { r =>
          val (len, sum, hi) = fakeDecodeFeatures(decode(r.getAs[Array[Byte]]("payload")))
          Row(r.getAs[Long]("media_id"), r.getAs[String]("format"), len, sum, hi)
        }
      }(enc)
  }

  /** Resize plumbing (FAKE, like the decode): subsample the payload at a
    * stride derived from the source/target size ratio — the byte-budget
    * arithmetic and column shapes of a real thumbnailer, minus the codec.
    * A real implementation swaps the sampling for decoder+scaler calls.
    */
  def resizeStub(media: DataFrame, targetBytes: Int = 256): DataFrame = {
    val n = length(col("payload"))
    val stride = greatest(floor(n.cast("double") / targetBytes).cast("int"), lit(1))
    media.select(
      col("media_id"),
      col("meta.width").as("src_width"),
      col("meta.height").as("src_height"),
      n.cast("long").as("src_bytes"),
      stride.as("stride"),
      // sampled payload: one byte every `stride` bytes
      ceil(n.cast("double") / stride).cast("long").as("resized_bytes"),
    )
  }

  /** Perceptual fingerprint (average-hash) over the decoded byte plane —
    * image near-duplicate detection as a pipeline op. Classic aHash: cut
    * the plane into `bits` equal byte blocks, bit b = 1 iff block b's
    * mean exceeds the global mean. The comparison is INTEGER
    * cross-multiplied (blockSum·n > totalSum·blockLen) so no float ever
    * rounds differently between engines — the hash is oracle-exact.
    * 48 bits keeps the value strictly positive in a signed 64-bit long,
    * so hamming arithmetic (xor + bit_count) is sign-safe in Spark AND
    * DuckDB.
    *
    * FAKE-DECODE caveat (same as `extractFeatures`): the "plane" here is
    * the payload bytes; a real implementation decodes pixels (and
    * normalizes via the resize step) before hashing — the blocking,
    * thresholding and all downstream banding are unchanged. JVM hash via
    * the mapPartitions batch seam; per-partition decoder init slots in.
    */
  def perceptualHash(media: DataFrame, bits: Int = 48,
                     mkDecoder: DecoderFactory = rawPlane): DataFrame = {
    require(bits >= 1 && bits <= 62, s"perceptualHash: bits must be in [1, 62], got $bits")
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("phash", LongType),
    ))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    media.select(col("media_id"), col("payload"))
      // buffer-bound: O(1) — streaming row map, decoder handle only
      .mapPartitions { rows =>
        val decode = mkDecoder() // per-partition decoder init
        rows.map { r =>
          Row(r.getAs[Long]("media_id"),
            aHash(decode(r.getAs[Array[Byte]]("payload")), bits))
        }
      }(enc)
  }

  /** The integer-exact average-hash kernel over one decoded plane —
    * shared by every phash entry point so batch, cross-corpus and
    * streaming forms hash bit-identically.
    */
  private def aHash(p: Array[Byte], bits: Int): Long = {
    val n = p.length
    // the block-mean compare below cross-multiplies (bs*n vs
    // total*(hi-lo)); both sides stay under 2^63 only while
    // 255·n·(n/bits+1) does — ~190 MB per payload at bits=48.
    // Oversized planes must fail LOUDLY, not hash wrong bits.
    require(n == 0 || 255L * n <= Long.MaxValue / (n.toLong / bits + 1),
      s"perceptualHash: payload of $n bytes would overflow the " +
        "integer block-mean compare; decode/downsample before hashing")
    var total = 0L
    var i = 0
    while (i < n) { total += (p(i) & 0xFF); i += 1 }
    var hash = 0L
    var b = 0
    while (b < bits) {
      val lo = b.toLong * n / bits
      val hi = (b + 1).toLong * n / bits
      var bs = 0L
      var j = lo.toInt
      while (j < hi) { bs += (p(j) & 0xFF); j += 1 }
      // strict >: an all-equal plane (or an empty block) hashes 0
      if (bs * n > total * (hi - lo)) hash |= 1L << b
      b += 1
    }
    hash
  }

  /** Perceptual near-duplicate pairs via pigeonhole banding on the aHash
    * — the image-space sibling of `Dedup.simHashNearDups`: the 48-bit
    * hash splits into `nChunks` equal chunks; two hashes within
    * `maxHamming` bits must agree on ≥1 whole chunk (pigeonhole needs
    * maxHamming < nChunks), so candidates are a (chunk, value)-local
    * join — fixed-width keys, never all-pairs — and the exact hamming
    * verifies candidates only.
    *
    * The chunk count is the scale dial: expected bucket size is
    * n/2^(48/nChunks), so FEWER chunks prune harder but tolerate less
    * hamming — nChunks 4 (12-bit values, ≤3 bits) suits corpus sizes up
    * to ~10⁵; at 10⁶+ use nChunks 3 (16-bit values, ≤2 bits, buckets
    * n/65536 — the 1M probe's configuration) or widen the hash. Same
    * arithmetic as simhash's pigeonhole (Dedup scaladoc).
    */
  def phashNearDups(media: DataFrame, maxHamming: Int = 3,
                    nChunks: Int = 4,
                    mkDecoder: DecoderFactory = rawPlane): DataFrame = {
    val bits = 48
    require(nChunks >= 1 && bits % nChunks == 0,
      s"phashNearDups: nChunks must divide $bits, got $nChunks")
    val w = bits / nChunks
    require(maxHamming >= 0 && maxHamming < nChunks,
      s"pigeonhole needs maxHamming < $nChunks chunks, got $maxHamming")
    // materialize the hashes ONCE (narrow (id, long) relation): both join
    // sides read it, and without the persist the mapPartitions byte-plane
    // scan — the op's dominant cost at real payload sizes — runs twice
    // (harness-drained, the lmScore persist pattern)
    val hashed = graft.Cleanup.register(
      perceptualHash(media, bits, mkDecoder)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))
    val chunked = hashed.select(col("media_id").as("id"), col("phash"),
        explode(sequence(lit(0), lit(nChunks - 1))).as("chunk"))
      .withColumn("ck", expr(s"shiftright(phash, chunk * $w) & ${(1L << w) - 1}"))
    val l = chunked.select(col("chunk"), col("ck"),
      col("id").as("id_a"), col("phash").as("h_a"))
    val r = chunked.select(col("chunk"), col("ck"),
      col("id").as("id_b"), col("phash").as("h_b"))
    l.join(r.hint("merge"), Seq("chunk", "ck"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("h_a").bitwiseXOR(col("h_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** The build-once reference artifact for cross-corpus image near-dup:
    * the (chunk, ck, id_ref, h_ref) chunked-hash relation plus the
    * banding parameters it was built with. Unlike the text index
    * (`Dedup.CrossCorpusIndex`) there is NO separate verification
    * relation: the 48-bit hash IS the verification payload (8 bytes), so
    * carrying `h_ref` inline in the chunk relation saves the second join
    * the shingle-set form needs. Persist/write once per reference
    * snapshot (parquet keyed by (chunk, ck)); every crawl batch probes
    * it — re-decoding and re-hashing 100 TB of reference images per
    * batch is the cost this seam exists to avoid (the
    * `crossCorpusBuild`/`cosineBandBuild` convention).
    */
  case class PhashIndex(refChunks: DataFrame, bits: Int, nChunks: Int) {
    def persist(): this.type = { refChunks.persist(); this }
    def unpersist(): this.type = { refChunks.unpersist(); this }
  }

  /** Decode + hash + chunk the reference media once — the expensive
    * per-reference-snapshot half of cross-corpus image near-dup. The
    * byte-plane scan (the op's dominant cost at real payload sizes)
    * touches the reference exactly once per snapshot.
    */
  def phashBuild(reference: DataFrame, nChunks: Int = 4,
                 mkDecoder: DecoderFactory = rawPlane): PhashIndex = {
    val bits = 48
    require(nChunks >= 1 && bits % nChunks == 0,
      s"phashBuild: nChunks must divide $bits, got $nChunks")
    val w = bits / nChunks
    PhashIndex(
      perceptualHash(reference, bits, mkDecoder)
        .select(col("media_id").as("id_ref"), col("phash").as("h_ref"),
          explode(sequence(lit(0), lit(nChunks - 1))).as("chunk"))
        .withColumn("ck", expr(s"shiftright(h_ref, chunk * $w) & ${(1L << w) - 1}"))
        .select(col("chunk"), col("ck"), col("id_ref"), col("h_ref")),
      bits, nChunks)
  }

  /** Cross-corpus image near-dup: flag each corpus image whose perceptual
    * hash sits within `maxHamming` bits of some REFERENCE image — "is
    * this crawl image a near-copy of the training set" — the image
    * sibling of `Dedup.crossCorpusNearDups` / `Similarity
    * .crossCorpusCosineFlags`. Raw-DataFrame convenience form: re-derives
    * the reference artifact per plan (fine when the reference is small;
    * production builds once with `phashBuild`).
    */
  def crossCorpusPhashFlags(corpus: DataFrame, reference: DataFrame,
                            maxHamming: Int = 3, nChunks: Int = 4,
                            mkDecoder: DecoderFactory = rawPlane): DataFrame =
    phashNearDupsWith(corpus, phashBuild(reference, nChunks, mkDecoder),
      maxHamming, 0, mkDecoder)

  /** Cross-corpus image near-dup against a PREBUILT reference index — the
    * per-batch half: hash + chunk the fresh batch, probe the artifact's
    * (chunk, ck) relation, exact-hamming the hash pair carried by the
    * join (no second verification join — the hash is the whole object).
    * Work is linear in the batch, not the reference. Emits one row per
    * flagged corpus image with its best reference match (min hamming,
    * ties → smallest reference id, a lexicographic struct min — one
    * map-side-partial hash agg), so the consumer anti-joins to keep the
    * clean remainder. Spec-pinned identical to `crossCorpusPhashFlags`.
    *
    * `maxBucketSize` counts REFERENCE-side membership only — the
    * keep/drop decision is batch-invariant (the
    * `crossCorpusNearDupsWith` argument) and bounds every kept chunk
    * bucket's fan-out at `maxBucketSize` reference rows per new row.
    */
  def phashNearDupsWith(corpus: DataFrame, index: PhashIndex,
                        maxHamming: Int = 3, maxBucketSize: Int = 0,
                        mkDecoder: DecoderFactory = rawPlane): DataFrame = {
    require(maxHamming >= 0 && maxHamming < index.nChunks,
      s"pigeonhole needs maxHamming < ${index.nChunks} chunks, got $maxHamming")
    val w = index.bits / index.nChunks
    val nb = perceptualHash(corpus, index.bits, mkDecoder)
      .select(col("media_id").as("id_new"), col("phash").as("h_new"),
        explode(sequence(lit(0), lit(index.nChunks - 1))).as("chunk"))
      .withColumn("ck", expr(s"shiftright(h_new, chunk * $w) & ${(1L << w) - 1}"))
    val rb = index.refChunks
    val (nbB, rbB) =
      if (maxBucketSize <= 0) (nb, rb)
      else {
        // reference-side membership only: batch-invariant (see scaladoc)
        val hot = rb.groupBy(col("chunk"), col("ck"))
          .agg(count(lit(1)).as("__bsz"))
          .filter(col("__bsz") > maxBucketSize)
          .select(col("chunk"), col("ck"))
        (nb.join(hot.hint("merge"), Seq("chunk", "ck"), "leftanti"),
          rb.join(hot.hint("merge"), Seq("chunk", "ck"), "leftanti"))
      }
    nbB.join(rbB.hint("merge"), Seq("chunk", "ck"))
      .select(col("id_new"), col("id_ref"),
        bit_count(col("h_new").bitwiseXOR(col("h_ref"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .groupBy(col("id_new"))
      .agg(min(struct(col("hamming").as("h"), col("id_ref").as("ri"))).as("__best"))
      .select(col("id_new"), col("__best.ri").as("matched_ref"),
        col("__best.h").as("hamming"))
  }

  /** STREAMING cross-corpus image flags against a prebuilt `phashBuild`
    * index: each arriving image is decoded and hashed through the SAME
    * aHash kernel, chunked, and joined against the static reference
    * index — "flag new images that near-duplicate the training set"
    * WHILE they arrive, the image sibling of
    * `Dedup.streamingCrossCorpusFlagsWith` /
    * `Similarity.streamingCrossCorpusCosineFlagsWith`. The hash runs
    * through the same `mapPartitions` decoder seam
    * (per-partition decoder init holds on the stream too); the watermark
    * is declared on the hashed relation's event-time column (typed
    * `mapPartitions` re-creates attributes, so declaring it upstream
    * would be lost). ALL joins are stream-static — banding, candidate
    * lookup and hamming verification are STATELESS; the only state is
    * the chunk-collision output dedup, bounded by the watermark. Emits
    * (ts, id_new, id_ref, hamming) pairs, not best-per-image — any
    * verified hit ≤ maxHamming decides the drop (the text twin's
    * scaladoc argument).
    */
  def streamingPhashFlagsWith(stream: DataFrame, index: PhashIndex,
                              tsCol: String, watermark: String,
                              maxHamming: Int = 3,
                              mkDecoder: DecoderFactory = rawPlane): DataFrame = {
    require(maxHamming >= 0 && maxHamming < index.nChunks,
      s"pigeonhole needs maxHamming < ${index.nChunks} chunks, got $maxHamming")
    val w = index.bits / index.nChunks
    val outSchema = StructType(Seq(
      StructField("ts", TimestampType),
      StructField("media_id", LongType),
      StructField("phash", LongType),
    ))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val bits = index.bits
    val hashed = stream
      .select(col(tsCol).cast("timestamp").as("ts"), col("media_id"), col("payload"))
      // buffer-bound: O(1) — streaming row map, decoder handle only
      .mapPartitions { rows =>
        val decode = mkDecoder() // per-partition decoder init
        rows.map { r =>
          Row(r.getAs[java.sql.Timestamp]("ts"), r.getAs[Long]("media_id"),
            aHash(decode(r.getAs[Array[Byte]]("payload")), bits))
        }
      }(enc)
    hashed
      .withWatermark("ts", watermark)
      .select(col("ts"), col("media_id").as("id_new"), col("phash").as("h_new"),
        explode(sequence(lit(0), lit(index.nChunks - 1))).as("chunk"))
      .withColumn("ck", expr(s"shiftright(h_new, chunk * $w) & ${(1L << w) - 1}"))
      .join(index.refChunks, Seq("chunk", "ck")) // stream-static: no state
      .select(col("ts"), col("id_new"), col("id_ref"),
        bit_count(col("h_new").bitwiseXOR(col("h_ref"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicatesWithinWatermark(Seq("id_new", "id_ref"))
  }

  /** Per-frame content fingerprints: cut the payload into consecutive
    * `frameBytes` slices (short tail kept, empty frames impossible by
    * construction) and fingerprint every `stride`-th one with the repo's
    * rolling hash — the "shot hash" layer video near-dup builds on. Pure
    * Catalyst (substr + the codegen'd `Fingerprint` kernel), no UDF, no
    * shuffle. The slice is hashed through its string form — byte==char on
    * ASCII payloads (the test corpus; `mm_features` proves n_high_bytes
    * = 0) and exactly what the DuckDB oracle can reproduce; a production
    * form would hash decoded frame bytes through the same seam.
    */
  def frameSignatures(media: DataFrame, frameBytes: Int = 64,
                      stride: Int = 1): DataFrame = {
    require(frameBytes >= 1, s"frameSignatures: frameBytes must be >= 1, got $frameBytes")
    require(stride >= 1, s"frameSignatures: stride must be >= 1, got $stride")
    val s = col("payload").cast("string")
    media
      .filter(length(s) >= 1)
      .select(col("media_id"), s.as("__s"),
        explode(filter(sequence(lit(0), floor((length(s) - 1) / frameBytes).cast("int")),
          i => pmod(i, lit(stride)) === 0)).as("frame_idx"))
      .withColumn("frame_fp",
        graft.functions.VectorFunctions.fingerprint(
          col("__s").substr(col("frame_idx") * frameBytes + 1, lit(frameBytes))))
      .select(col("media_id"), col("frame_idx"), col("frame_fp"))
  }

  /** Video near-duplicate pairs via frame-fingerprint set overlap: two
    * videos are near-dups when the Jaccard of their DISTINCT frame-hash
    * sets reaches `threshold` — re-encoded/trimmed copies share most
    * exact frames even when container bytes differ (shot-level exact,
    * video-level fuzzy). Candidates come from an inverted index on the
    * frame hash: videos sharing ≥1 frame join (frame_fp)-locally — never
    * all-pairs — and the shared-frame COUNT falls out of the same join
    * (one row per shared hash), so verification is one aggregate, no
    * second pass over payloads.
    *
    * 100 TB notes: shuffle keys are (frame_fp) and id pairs, never frame
    * bytes; `maxFrameDf` (0 = off) drops frames appearing in more than
    * that many videos BEFORE pair generation — a viral intro/outro frame
    * shared by B videos alone contributes B² candidate pairs, the same
    * quadratic hot-bucket failure (and the same fix) as LSH's
    * `maxBucketSize`; what the cap drops is boilerplate footage by
    * construction (dropped frames shrink measured intersections only —
    * conservative toward fewer flags, mirror of the LSH guard's drop
    * direction). Sizing rule: cap ≈ 10× the largest legitimate
    * re-upload cluster (DESIGN §11).
    */
  def videoNearDups(media: DataFrame, frameBytes: Int = 64,
                    threshold: Double = 0.5, stride: Int = 1,
                    maxFrameDf: Int = 0): DataFrame = {
    val sig = frameSignatures(media, frameBytes, stride)
      .select(col("media_id"), col("frame_fp")).distinct()
    val sigB =
      if (maxFrameDf <= 0) sig
      else {
        val viral = sig.groupBy(col("frame_fp"))
          .agg(count(lit(1)).as("__df")).filter(col("__df") > maxFrameDf)
          .select(col("frame_fp"))
        sig.join(viral.hint("merge"), Seq("frame_fp"), "leftanti")
      }
    val sizes = sigB.groupBy(col("media_id")).agg(count(lit(1)).as("n_frames"))
    val shared = sigB.select(col("frame_fp"), col("media_id").as("id_a"))
      .join(sigB.select(col("frame_fp"), col("media_id").as("id_b")).hint("merge"), Seq("frame_fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_shared"))
    shared
      .join(sizes.select(col("media_id").as("id_a"), col("n_frames").as("__na")).hint("merge"), "id_a")
      .join(sizes.select(col("media_id").as("id_b"), col("n_frames").as("__nb")).hint("merge"), "id_b")
      .withColumn("jaccard_r", round(col("n_shared").cast("double") /
        (col("__na") + col("__nb") - col("n_shared")), 4))
      .filter(col("jaccard_r") >= threshold)
      .select(col("id_a"), col("id_b"), col("n_shared"), col("jaccard_r"))
  }

  /** The build-once reference artifact for cross-corpus video near-dup:
    * the inverted (frame_fp, id_ref) relation plus per-video distinct
    * frame counts, with the framing parameters they were cut at (a probe
    * framed differently would never collide). Persist/write once per
    * reference snapshot; every crawl batch probes it — the fourth
    * modality on the `crossCorpusBuild`/`cosineBandBuild`/`phashBuild`
    * seam convention.
    */
  case class FrameIndex(refFrames: DataFrame, refSizes: DataFrame,
                        frameBytes: Int, stride: Int) {
    def persist(): this.type = { refFrames.persist(); refSizes.persist(); this }
    def unpersist(): this.type = { refFrames.unpersist(); refSizes.unpersist(); this }
  }

  /** Cut + hash + invert the reference videos once — the per-snapshot
    * half of cross-corpus video near-dup.
    */
  def frameIndexBuild(reference: DataFrame, frameBytes: Int = 64,
                      stride: Int = 1): FrameIndex = {
    val sig = frameSignatures(reference, frameBytes, stride)
      .select(col("media_id").as("id_ref"), col("frame_fp")).distinct()
    FrameIndex(
      sig.select(col("frame_fp"), col("id_ref")),
      sig.groupBy(col("id_ref")).agg(count(lit(1)).as("__nr")),
      frameBytes, stride)
  }

  /** Cross-corpus video near-dup: flag each corpus video whose distinct
    * frame-hash set overlaps some REFERENCE video at Jaccard ≥
    * `threshold` — "is this upload a re-encode of something in the
    * training set". Raw-DataFrame convenience form (re-derives the
    * artifact per plan; production builds once with `frameIndexBuild`).
    */
  def crossCorpusVideoFlags(corpus: DataFrame, reference: DataFrame,
                            frameBytes: Int = 64, threshold: Double = 0.5,
                            stride: Int = 1, maxFrameDf: Int = 0): DataFrame =
    videoNearDupsWith(corpus,
      frameIndexBuild(reference, frameBytes, stride), threshold, maxFrameDf)

  /** Cross-corpus video near-dup against a PREBUILT frame index — the
    * per-batch half: cut + hash the fresh batch, probe the inverted
    * (frame_fp) relation (shared-frame counts fall out of the join), and
    * emit one best reference match per flagged video (max Jaccard, ties
    * smallest reference id — a lexicographic struct max, the
    * `crossCorpusCosineFlagsWith` output contract). Work is linear in
    * the batch, never all-pairs.
    *
    * `maxFrameDf` counts REFERENCE-side frame df only (batch-invariant,
    * the `crossCorpusNearDupsWith` argument); Jaccard denominators keep
    * the UNCAPPED distinct sizes, so dropping a viral frame can only
    * shrink measured intersections — conservative toward fewer flags.
    */
  def videoNearDupsWith(corpus: DataFrame, index: FrameIndex,
                        threshold: Double = 0.5,
                        maxFrameDf: Int = 0): DataFrame = {
    val sigN = frameSignatures(corpus, index.frameBytes, index.stride)
      .select(col("media_id").as("id_new"), col("frame_fp")).distinct()
    val sizesN = sigN.groupBy(col("id_new")).agg(count(lit(1)).as("__nn"))
    val rf = index.refFrames
    val (snB, rfB) =
      if (maxFrameDf <= 0) (sigN, rf)
      else {
        val viral = rf.groupBy(col("frame_fp"))
          .agg(count(lit(1)).as("__df")).filter(col("__df") > maxFrameDf)
          .select(col("frame_fp"))
        (sigN.join(viral.hint("merge"), Seq("frame_fp"), "leftanti"),
          rf.join(viral.hint("merge"), Seq("frame_fp"), "leftanti"))
      }
    snB.join(rfB.hint("merge"), Seq("frame_fp"))
      .groupBy(col("id_new"), col("id_ref")).agg(count(lit(1)).as("__sh"))
      .join(sizesN.hint("merge"), "id_new")
      .join(index.refSizes.hint("merge"), "id_ref")
      .withColumn("__jac", round(col("__sh").cast("double") /
        (col("__nn") + col("__nr") - col("__sh")), 4))
      .filter(col("__jac") >= threshold)
      .groupBy(col("id_new"))
      .agg(max(struct(col("__jac").as("j"), (-col("id_ref")).as("ni"))).as("__best"))
      .select(col("id_new"), (-col("__best.ni")).as("matched_ref"),
        col("__best.j").as("best_jaccard"))
  }

  /** STREAMING cross-corpus video flags against a PREBUILT frame index:
    * each arriving video's distinct frame hashes are computed PER ROW
    * (array HOF — no explode state), joined stream-static against the
    * inverted reference relation, and the per-(video, reference)
    * shared-frame count comes from ONE watermark-bounded windowed
    * aggregation — the only stateful operator; Jaccard then filters
    * against the static per-reference sizes. Emits (ts, id_new, id_ref,
    * jaccard_r) pairs, not best-per-video (the streaming twins'
    * standing argument: any verified hit decides the drop). State is
    * O(candidate pairs per watermark window).
    */
  def streamingVideoFlagsWith(stream: DataFrame, index: FrameIndex,
                              tsCol: String, watermark: String,
                              threshold: Double = 0.5,
                              windowLen: String = "1 hour"): DataFrame = {
    val fb = index.frameBytes
    val stride = index.stride
    val s = col("payload").cast("string")
    val fps = array_distinct(
      transform(
        filter(sequence(lit(0), floor((length(s) - 1) / fb).cast("int")),
          i => pmod(i, lit(stride)) === 0),
        i => graft.functions.VectorFunctions.fingerprint(
          s.substr(i * fb + 1, lit(fb)))))
    stream
      .filter(length(s) >= 1)
      .select(col(tsCol).cast("timestamp").as("ts"),
        col("media_id").as("id_new"), fps.as("__fps"))
      .withColumn("__nn", size(col("__fps")))
      .select(col("ts"), col("id_new"), col("__nn"),
        explode(col("__fps")).as("frame_fp"))
      .withWatermark("ts", watermark)
      .join(index.refFrames, Seq("frame_fp")) // stream-static: no state
      .groupBy(window(col("ts"), windowLen), col("id_new"), col("__nn"),
        col("id_ref"))
      .agg(count(lit(1)).as("__sh"))
      .join(index.refSizes, "id_ref") // static: stateless
      .withColumn("jaccard_r", round(col("__sh").cast("double") /
        (col("__nn") + col("__nr") - col("__sh")), 4))
      .filter(col("jaccard_r") >= threshold)
      .select(col("window.start").as("ts"), col("id_new"), col("id_ref"),
        col("jaccard_r"))
  }

  // ------------------------------------------------------------------ audio

  /** The per-plane audio landmark kernel (round 15 — the fifth modality on
    * the Build/With/streaming seam): Shazam-style constellation pairs
    * [Wang, ISMIR 2003] over OVERLAPPING windows of the decoded byte
    * plane. Window i covers plane bytes [i·hop, i·hop + windowBytes); its
    * per-window feature is the window's content FINGERPRINT (the repo's
    * rolling hash, h ← (31h + byte) mod 1e9+7 — the fake-PCM stand-in
    * for a quantized spectral-peak descriptor; a real decoder swaps a
    * peak extractor into the same seam), and a landmark packs
    * consecutive windows' features into one long (fᵢ·2³⁰ + fⱼ — both
    * < 1e9+7 < 2³⁰, so the pack is exact and positive). The
    * CONSTELLATION structure is the audio-specific part: OVERLAP (video
    * frames are disjoint) means a trim or prepend of a whole number of
    * hops shifts every window index by a constant, so ALL interior
    * landmarks survive a hop-aligned time shift — the
    * time-shifted-copy robustness audio fingerprinting exists for,
    * spec-pinned. Planes shorter than windowBytes+hop yield no landmarks
    * (nothing to pair) — such rows are never flagged.
    *
    * Measured design correction (DESIGN §18.3): the first cut used
    * (max byte, position) peaks as the per-window feature and was caught
    * by its own 1M probe — on a homogeneous corpus that feature carries
    * ~10 bits of entropy, every landmark went over the background cap,
    * and the capped sets were EMPTY (0 pairs from 500k planted twins).
    * The content fingerprint keeps the constellation structure with
    * ~60-bit landmarks; the probe now pulls the planted twins.
    */
  private def audioLandmarksOf(p: Array[Byte], w: Int, hop: Int): Array[Long] = {
    val n = p.length
    if (n < w + hop) return Array.emptyLongArray
    val nw = (n - w) / hop + 1
    val f = new Array[Long](nw)
    var i = 0
    while (i < nw) {
      var h = 0L
      var j = 0
      while (j < w) {
        h = (h * 31 + (p(i * hop + j) & 0xFF)) % 1000000007L
        j += 1
      }
      f(i) = h
      i += 1
    }
    val out = new Array[Long](nw - 1)
    var k = 0
    while (k < nw - 1) {
      out(k) = f(k) * (1L << 30) + f(k + 1)
      k += 1
    }
    out
  }

  /** DISTINCT landmark set per media row: decode through the SAME
    * per-partition [[DecoderFactory]] seam as `perceptualHash` (a real
    * PCM decoder slots in; the default plane is the payload bytes), then
    * the constellation kernel. Output (media_id, landmark) — fixed-width
    * rows; payload bytes never shuffle. `media_id` is the row's identity
    * and must be unique — the per-row kernel dedup is then exactly the
    * relation-level distinct, with no corpus-grain exchange. The audio
    * ops built on it fail on a duplicate id (see `checkedCount`).
    */
  def audioLandmarks(media: DataFrame, windowBytes: Int = 32, hop: Int = 16,
                     mkDecoder: DecoderFactory = rawPlane): DataFrame =
    taggedLandmarks(media, windowBytes, hop, mkDecoder)
      .select(col("media_id"), col("landmark"))

  /** `audioLandmarks` plus `__row`, a tag unique to the input row each
    * landmark came from (partition index and row offset, the
    * `monotonically_increasing_id` layout).
    */
  private def taggedLandmarks(media: DataFrame, windowBytes: Int, hop: Int,
                              mkDecoder: DecoderFactory): DataFrame = {
    require(windowBytes >= 1 && hop >= 1 && hop <= windowBytes,
      s"audioLandmarks: need 1 <= hop <= windowBytes, got $hop/$windowBytes")
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("__row", LongType),
      StructField("lms", ArrayType(LongType, containsNull = false)),
    ))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    media.select(col("media_id"), col("payload"))
      // buffer-bound: O(plane/hop) — one row's landmark array; decoder
      // handle is the only per-partition state
      .mapPartitions { rows =>
        val decode = mkDecoder() // per-partition decoder init
        var tag = org.apache.spark.TaskContext.getPartitionId().toLong << 33
        rows.map { r =>
          tag += 1
          Row(r.getAs[Long]("media_id"), tag,
            audioLandmarksOf(decode(r.getAs[Array[Byte]]("payload")),
              windowBytes, hop).distinct.toSeq)
        }
      }(enc)
      // per-row dedup IS the relation's distinct (round 17): media_id is
      // unique per input row, so distinct over (media_id, landmark) can
      // only collapse duplicates WITHIN one row's landmark array — the
      // `.distinct` above does exactly that in the kernel, the form the
      // streaming twin always used, and the corpus-grain exchange+agg the
      // DataFrame-level distinct() paid is gone from every audio plan.
      .select(col("media_id"), explode(col("lms")).as("landmark"), col("__row"))
  }

  /** Landmark rows per `idCol` group of a `taggedLandmarks` relation, or
    * a query failure naming the id when its landmarks came from two input
    * rows: a duplicated `media_id` would count its landmarks once per row
    * and skew every Jaccard it enters. Rides on the id-keyed size
    * aggregate every audio plan already has, so it adds no exchange.
    */
  private def checkedCount(idCol: String): Column =
    when(min(col("__row")) === max(col("__row")), count(lit(1)))
      .otherwise(raise_error(
        concat(lit("audioLandmarks: duplicate media_id "), col(idCol).cast("string"))))

  /** Audio near-duplicate pairs via landmark-set overlap: two recordings
    * are near-dups when the Jaccard of their distinct CONSTELLATION
    * landmark sets reaches `threshold` — time-shifted / re-cut copies
    * share their interior landmarks by the hop-alignment property.
    *
    * `maxLandmarkDf` (0 = off) is BACKGROUND-NOISE SUPPRESSION, the audio
    * reading of the hot-bucket cap: a landmark appearing in more than
    * that many recordings is corpus-common background (silence patterns,
    * codec preambles — on the synthetic corpus, the 31-word vocabulary's
    * repeated peaks), carries no matching information, and alone
    * contributes df² candidate pairs. UNLIKE the video form (which keeps
    * uncapped Jaccard denominators), the cap here removes the landmark
    * from the SETS THEMSELVES — sizes and intersections both count only
    * surviving landmarks, i.e. Jaccard compares the DISTINCTIVE
    * remainder. That is the fingerprinting-native contract (match on
    * rare peaks, ignore ubiquitous ones), it is symmetric and fully
    * deterministic (the cap census is corpus-wide), and the oracle
    * replays it relationally. Candidates come from the inverted landmark
    * index — (landmark)-local joins, merge-pinned (CorpusJoinHintSpec),
    * never all-pairs.
    */
  def audioNearDups(media: DataFrame, windowBytes: Int = 32, hop: Int = 16,
                    threshold: Double = 0.5, maxLandmarkDf: Int = 0,
                    mkDecoder: DecoderFactory = rawPlane): DataFrame =
    landmarkPairJaccard(cappedLandmarks(media, windowBytes, hop, maxLandmarkDf,
        mkDecoder))
      .filter(col("jaccard_r") >= threshold)
      .select(col("id_a"), col("id_b"), col("n_shared"), col("jaccard_r"))

  /** The capped landmark relation shared by the self-sweep and the
    * quality census: decode + landmark once, apply the background cap.
    * Landmark extraction (the decode + windowed-hash scan, the op's
    * dominant cost) feeds the viral census AND the capped set — persist
    * the RAW landmark relation so the corpus decodes exactly once
    * (round-15 review: persisting only the post-cap set ran the decode
    * twice, once per census side); harness-drained. The capped set feeds
    * sizes AND both candidate-join sides — its own persist keeps the
    * anti-join from re-running per consumer.
    */
  private[ops] def cappedLandmarks(media: DataFrame, windowBytes: Int,
                                   hop: Int, maxLandmarkDf: Int,
                                   mkDecoder: DecoderFactory): DataFrame = {
    val lm0 = graft.Cleanup.register(
      taggedLandmarks(media, windowBytes, hop, mkDecoder)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))
    val lm =
      if (maxLandmarkDf <= 0) lm0
      else {
        val viral = lm0.groupBy(col("landmark"))
          .agg(count(lit(1)).as("__df")).filter(col("__df") > maxLandmarkDf)
          .select(col("landmark"))
        lm0.join(viral.hint("merge"), Seq("landmark"), "leftanti")
      }
    graft.Cleanup.register(
      lm.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))
  }

  /** Every recording pair sharing ≥1 surviving landmark, with capped-set
    * sizes and the rounded Jaccard — the DEPLOYED pair arithmetic:
    * `audioNearDups` is exactly this relation under its threshold
    * predicate, and `audioQualityCensus` reports it unfiltered.
    */
  private[ops] def landmarkPairJaccard(lmM: DataFrame): DataFrame = {
    val sizes = lmM.groupBy(col("media_id")).agg(checkedCount("media_id").as("n_lms"))
    // NOTE (round 17, measured and NOT shipped): replacing this capped
    // self-join with sorted posting-list pair expansion (groupBy landmark
    // + collect_list ≤ maxLandmarkDf + inline ordered-pair explode — the
    // wordLift pattern) was tried here AND on winnowMatches. Isolated
    // interleaved A/B: a wash on the audio family, a consistent ~25%
    // REGRESSION on text_winnowing_matches — the ObjectHashAggregate
    // collect + array explode costs more than two radix sorts of a
    // materialized 16-byte (key, id) relation, and the exchanged bytes
    // are identical either way (the pair aggregate's input multiset is
    // unchanged). The join form stays; the real audio win was the
    // kernel-level landmark dedup that removed the corpus-grain
    // distinct() exchange.
    val shared = lmM.select(col("landmark"), col("media_id").as("id_a"))
      .join(lmM.select(col("landmark"), col("media_id").as("id_b")).hint("merge"),
        Seq("landmark"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_shared"))
    shared
      .join(sizes.select(col("media_id").as("id_a"), col("n_lms").as("__na"))
        .hint("merge"), "id_a")
      .join(sizes.select(col("media_id").as("id_b"), col("n_lms").as("__nb"))
        .hint("merge"), "id_b")
      .withColumn("jaccard_r", round(col("n_shared").cast("double") /
        (col("__na") + col("__nb") - col("n_shared")), 4))
  }

  /** Accuracy census on the DEPLOYED audio detector (round-16 — the
    * convention every approximate detector carries: `dedup_lsh_quality`
    * for text LSH, `emb_ivf_recall` for IVF): the exact capped-set
    * Jaccard decile census of the shared-landmark pair universe with the
    * deployed threshold flag per band. Bands are integer (inter·10) DIV
    * union — engine-rounding-immune, the lshQualityCensus discipline;
    * the detection column applies audioNearDups' literal predicate
    * (rounded Jaccard ≥ threshold) on the SAME pair relation, so the
    * census documents where the detector's step sits against the pair
    * mass. Unlike LSH banding (probabilistic recall), this detector
    * verifies candidates with the exact capped-set Jaccard and its
    * candidate generation is COMPLETE for Jaccard > 0 (any intersecting
    * pair shares a landmark and meets in the inverted index), so bands
    * entirely above the threshold read fully detected and bands below
    * read zero except the band-boundary sliver (band ⌊10·t⌋ pairs whose
    * 4-dp-rounded Jaccard crosses t) — the census proves that step
    * empirically per corpus, OFF its asymptotes when the caller plants
    * partial-overlap twins across the threshold's uncertain region.
    */
  def audioQualityCensus(media: DataFrame, windowBytes: Int = 32,
                         hop: Int = 16, threshold: Double = 0.5,
                         maxLandmarkDf: Int = 0,
                         mkDecoder: DecoderFactory = rawPlane): DataFrame =
    landmarkPairJaccard(cappedLandmarks(media, windowBytes, hop, maxLandmarkDf,
        mkDecoder))
      .select(
        expr("CAST((n_shared * 10) DIV (__na + __nb - n_shared) AS INT)").as("jband"),
        when(col("jaccard_r") >= threshold, 1L).otherwise(0L).as("__det"))
      .groupBy(col("jband"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("__det")).as("n_detected"))

  /** The build-once reference artifact for cross-corpus audio near-dup:
    * the inverted (landmark, id_ref) relation, per-recording landmark
    * counts AFTER the viral cap (the capped-set contract — sizes and
    * sets stay consistent), the viral-landmark relation itself (so a
    * batch can drop the same background noise — batch-invariant), and
    * the framing parameters. The fifth modality on the
    * `crossCorpusBuild`/`cosineBandBuild`/`phashBuild`/`frameIndexBuild`
    * seam convention.
    */
  case class AudioIndex(refLandmarks: DataFrame, refSizes: DataFrame,
                        viral: DataFrame, windowBytes: Int, hop: Int) {
    def persist(): this.type = {
      refLandmarks.persist(); refSizes.persist(); viral.persist(); this
    }
    def unpersist(): this.type = {
      refLandmarks.unpersist(); refSizes.unpersist(); viral.unpersist(); this
    }
  }

  /** Decode + landmark + invert the reference recordings once — the
    * per-snapshot half of cross-corpus audio near-dup. `maxLandmarkDf`
    * counts REFERENCE-side df only (batch-invariant: a batch never
    * changes which landmarks are background).
    */
  def audioIndexBuild(reference: DataFrame, windowBytes: Int = 32,
                      hop: Int = 16, maxLandmarkDf: Int = 0,
                      mkDecoder: DecoderFactory = rawPlane): AudioIndex = {
    // one decode pass: refLandmarks and refSizes both derive from lm
    // (round-15 review — harness-drained; the index relations recompute
    // from lineage if read after a drain)
    val lm0 = graft.Cleanup.register(
      taggedLandmarks(reference, windowBytes, hop, mkDecoder)
        .select(col("media_id").as("id_ref"), col("landmark"), col("__row"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))
    val viral =
      if (maxLandmarkDf <= 0) lm0.select(col("landmark")).limit(0)
      else lm0.groupBy(col("landmark"))
        .agg(count(lit(1)).as("__df")).filter(col("__df") > maxLandmarkDf)
        .select(col("landmark"))
    // uncapped: skip the no-op anti-join against the empty viral relation
    // (the audioNearDups branch rule); viral stays as the typed empty
    // artifact downstream probes anti-join against
    val lm =
      if (maxLandmarkDf <= 0) lm0
      else lm0.join(viral.hint("merge"), Seq("landmark"), "leftanti")
    AudioIndex(
      lm.select(col("landmark"), col("id_ref")),
      lm.groupBy(col("id_ref")).agg(checkedCount("id_ref").as("__nr")),
      viral, windowBytes, hop)
  }

  /** Cross-corpus audio near-dup against a PREBUILT landmark index — the
    * per-batch half: landmark the fresh batch through the same kernel,
    * drop the index's background landmarks (batch-invariant), probe the
    * inverted relation, and emit one best reference match per flagged
    * recording (max Jaccard, ties smallest reference id — the
    * `videoNearDupsWith` output contract). Work is linear in the batch.
    */
  def audioNearDupsWith(corpus: DataFrame, index: AudioIndex,
                        threshold: Double = 0.5,
                        mkDecoder: DecoderFactory = rawPlane): DataFrame = {
    val lmN = taggedLandmarks(corpus, index.windowBytes, index.hop, mkDecoder)
      .select(col("media_id").as("id_new"), col("landmark"), col("__row"))
      .join(index.viral.hint("merge"), Seq("landmark"), "leftanti")
    val lmM = graft.Cleanup.register(
      lmN.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))
    val sizesN = lmM.groupBy(col("id_new")).agg(checkedCount("id_new").as("__nn"))
    lmM.join(index.refLandmarks.hint("merge"), Seq("landmark"))
      .groupBy(col("id_new"), col("id_ref")).agg(count(lit(1)).as("__sh"))
      .join(sizesN.hint("merge"), "id_new")
      .join(index.refSizes.hint("merge"), "id_ref")
      .withColumn("__jac", round(col("__sh").cast("double") /
        (col("__nn") + col("__nr") - col("__sh")), 4))
      .filter(col("__jac") >= threshold)
      .groupBy(col("id_new"))
      .agg(max(struct(col("__jac").as("j"), (-col("id_ref")).as("ni"))).as("__best"))
      .select(col("id_new"), (-col("__best.ni")).as("matched_ref"),
        col("__best.j").as("best_jaccard"))
  }

  /** STREAMING cross-corpus audio flags against a PREBUILT landmark
    * index: each arriving recording decodes + landmarks through the SAME
    * per-partition decoder seam, drops the static background landmarks,
    * joins stream-static against the inverted reference relation, and
    * the per-(recording, reference) shared count comes from ONE
    * watermark-bounded windowed aggregation (the only stateful operator)
    * — the `streamingVideoFlagsWith` shape with the audio kernel. Emits
    * (ts, id_new, id_ref, jaccard_r) pairs, not best-per-recording (the
    * streaming twins' standing argument).
    */
  def streamingAudioFlagsWith(stream: DataFrame, index: AudioIndex,
                              tsCol: String, watermark: String,
                              threshold: Double = 0.5,
                              windowLen: String = "1 hour",
                              maxViralBroadcast: Int = 1000000,
                              mkDecoder: DecoderFactory = rawPlane): DataFrame = {
    val w = index.windowBytes; val hop = index.hop
    // the capped-set contract needs per-recording sizes counted AFTER the
    // background drop (the batch form's denominators), and a per-row size
    // can't come from a stream-static anti-join — so the viral set rides
    // as a broadcast into the landmark kernel. Bounded: ≤ (reference
    // landmark rows)/maxLandmarkDf distinct values by construction (each
    // costs > maxLandmarkDf rows), the same artifact grain as the
    // reference index itself — but at a 100 TB reference with a tight df
    // cap that bound is still millions of rows, so the collect is LOUDLY
    // capped (round-16, VERDICT item 3 — the sampler-k-guard pattern):
    // the limit probe never materializes more than maxViralBroadcast + 1
    // rows driver-side, and overflow names the three ways out rather
    // than silently ballooning the driver.
    require(maxViralBroadcast >= 0 && maxViralBroadcast < Int.MaxValue,
      s"maxViralBroadcast must fit a limit(): $maxViralBroadcast")
    val spark = stream.sparkSession
    val viralRows = index.viral.limit(maxViralBroadcast + 1).collect()
    require(viralRows.length <= maxViralBroadcast,
      s"streamingAudioFlagsWith: the viral-landmark set exceeds " +
        s"maxViralBroadcast = $maxViralBroadcast rows — refusing the driver-side " +
        "collect. Raise maxLandmarkDf on the index (fewer viral landmarks), " +
        "raise maxViralBroadcast deliberately, or flag in batch via " +
        "audioNearDupsWith (its background drop is a scalable anti-join)")
    val viralSet = spark.sparkContext.broadcast(
      viralRows.map(_.getLong(0)).toSet)
    val outSchema = StructType(Seq(
      StructField("ts", TimestampType),
      StructField("id_new", LongType),
      StructField("lms", ArrayType(LongType, containsNull = false)),
    ))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val landed = stream
      .select(col(tsCol).cast("timestamp").as("ts"),
        col("media_id"), col("payload"))
      // buffer-bound: O(plane/hop) — one row's DISTINCT surviving-landmark
      // array; decoder handle + viral set are the per-partition state
      .mapPartitions { rows =>
        val decode = mkDecoder() // per-partition decoder init
        val viral = viralSet.value
        rows.map { r =>
          Row(r.getAs[java.sql.Timestamp]("ts"), r.getAs[Long]("media_id"),
            audioLandmarksOf(decode(r.getAs[Array[Byte]]("payload")), w, hop)
              .distinct.filterNot(viral).toSeq)
        }
      }(enc)
    landed
      .withColumn("__nn", size(col("lms")))
      .select(col("ts"), col("id_new"), col("__nn"),
        explode(col("lms")).as("landmark"))
      .withWatermark("ts", watermark)
      .join(index.refLandmarks, Seq("landmark")) // stream-static: no state
      .groupBy(window(col("ts"), windowLen), col("id_new"), col("__nn"),
        col("id_ref"))
      .agg(count(lit(1)).as("__sh"))
      .join(index.refSizes, "id_ref") // static: stateless
      .withColumn("jaccard_r", round(col("__sh").cast("double") /
        (col("__nn") + col("__nr") - col("__sh")), 4))
      .filter(col("jaccard_r") >= threshold)
      .select(col("window.start").as("ts"), col("id_new"), col("id_ref"),
        col("jaccard_r"))
  }

  /** Frame-sampling plumbing: treat the payload as a sequence of fixed-size
    * "frames" and emit every `stride`-th frame index with its byte slice —
    * the shape of video frame extraction, minus the codec. Pure Catalyst
    * (substring on binary), no UDF.
    */
  def sampleFrames(media: DataFrame, frameBytes: Int = 64, stride: Int = 4): DataFrame =
    media.select(
      col("media_id"),
      explode(
        transform(
          filter(sequence(lit(0), (length(col("payload")) / frameBytes).cast("int")),
            i => pmod(i, lit(stride)) === 0),
          i => struct(i.as("frame_idx"),
            col("payload").substr(i * frameBytes + 1, lit(frameBytes)).as("frame")),
        )
      ).as("f"),
    ).select(col("media_id"), col("f.frame_idx"), length(col("f.frame")).as("frame_len"))
}
