package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class MultimodalSpec extends AnyFunSuite {
  import TestSpark.{spark, sf0001}
  import spark.implicits._

  private lazy val media =
    Multimodal.fromDocuments(spark.read.parquet(s"$sf0001/documents.parquet"))

  test("media schema: binary payload + typed metadata struct") {
    val schema = media.schema
    assert(schema("payload").dataType.typeName == "binary")
    val meta = schema("meta").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(meta.fieldNames.toSeq == Seq("format", "width", "height", "n_bytes"))
  }

  test("extractFeatures (mapPartitions batch path) matches direct computation") {
    val feats = Multimodal.extractFeatures(media)
      .select("media_id", "byte_sum").as[(Long, Long)].collect().toMap
    val direct = spark.read.parquet(s"$sf0001/documents.parquet")
      .select($"doc_id", aggregate(
        transform(split($"text", ""), c => ascii(c).cast("long")),
        lit(0L), (a, c) => a + c).as("s"))
      .as[(Long, Long)].collect().toMap
    assert(feats == direct)
  }

  test("sampleFrames: every stride-th frame, last frame may be short") {
    val payload = ("x" * 200).getBytes("UTF-8") // 200 bytes, 64-byte frames
    val df = Seq((1L, payload)).toDF("media_id", "payload")
    val frames = Multimodal.sampleFrames(df, frameBytes = 64, stride = 2)
      .as[(Long, Int, Int)].collect().toSet
    // indices 0..3 (200/64=3), stride 2 -> 0 and 2; frame 2 starts at 128, 64 bytes left? 200-128=72 -> 64
    assert(frames == Set((1L, 0, 64), (1L, 2, 64)))
  }

  test("fake decode is deterministic on repeated runs") {
    val a = Multimodal.extractFeatures(media).orderBy("media_id").collect()
    val b = Multimodal.extractFeatures(media).orderBy("media_id").collect()
    assert(a.sameElements(b))
  }

  test("phashNearDups pigeonhole banding == brute-force hamming over all hashes") {
    // identical payloads must hash identically (hamming 0); the banded
    // join must find EXACTLY the brute-force ≤maxHamming pair set
    val twins = media.withColumn("media_id", $"media_id" + 10000000L)
    val all = media.unionByName(twins)
    val got = Multimodal.phashNearDups(all, maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSet
    val hashes = Multimodal.perceptualHash(all)
      .as[(Long, Long)].collect()
    val brute = (for {
      (ia, ha) <- hashes; (ib, hb) <- hashes if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (ia, ib, d)).toSet
    assert(got == brute, s"banded pairs != brute force " +
      s"(missing ${(brute -- got).size}, extra ${(got -- brute).size})")
    // the corpus-scale chunk configuration (3 × 16-bit) must find the
    // same pairs at its tighter hamming bound
    val got3 = Multimodal.phashNearDups(all, maxHamming = 2, nChunks = 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(got3 == brute.filter(_._3 <= 2), "16-bit-chunk banding != brute force")
    // the exact-match leg: one chunk = the whole hash
    val got1 = Multimodal.phashNearDups(all, maxHamming = 0, nChunks = 1)
      .as[(Long, Long, Int)].collect().toSet
    assert(got1 == brute.filter(_._3 == 0), "whole-hash exact match != brute force")
    // every planted twin pair is present at hamming 0
    val planted = hashes.map(_._1).filter(_ < 10000000L)
      .map(id => (id, id + 10000000L, 0)).toSet
    assert(planted.subsetOf(got), "a byte-identical twin pair is missing")
  }

  test("phash cross-corpus: artifact path == raw path, best-match == brute force") {
    // parity split: even ids are the static reference, odd ids the batch
    val ref = media.filter($"media_id" % 2 === 0)
    val batch = media.filter($"media_id" % 2 === 1)
      // plant twins of the reference inside the batch so hamming-0
      // cross-pairs are guaranteed at every SF
      .unionByName(ref.withColumn("media_id", $"media_id" + 10000000L))
    val raw = Multimodal.crossCorpusPhashFlags(batch, ref, maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSet
    // brute-force best match from the hashes (min hamming, ties min ref id)
    val refH = Multimodal.perceptualHash(ref).as[(Long, Long)].collect()
    val newH = Multimodal.perceptualHash(batch).as[(Long, Long)].collect()
    val expect = newH.flatMap { case (in, hn) =>
      val hits = refH.map { case (ir, hr) => (ir, java.lang.Long.bitCount(hn ^ hr)) }
        .filter(_._2 <= 3)
      if (hits.isEmpty) None
      else { val best = hits.minBy(h => (h._2, h._1)); Some((in, best._1, best._2)) }
    }.toSet
    assert(raw == expect, s"raw cross-corpus flags != brute force " +
      s"(missing ${(expect -- raw).size}, extra ${(raw -- expect).size})")
    // every planted twin must flag its own original at hamming 0 (two
    // byte-identical reference docs can tie — accept the smaller ref id)
    assert(raw.count(_._3 == 0) >= refH.length,
      "a planted byte-identical twin is missing its hamming-0 flag")
    // build once, query per batch: two disjoint batches against the same
    // persisted artifact must reproduce the raw path exactly
    val idx = Multimodal.phashBuild(ref).persist()
    try {
      val b1 = batch.filter($"media_id" % 4 === 1)
      val b2 = batch.filter($"media_id" % 4 =!= 1)
      val viaIdx = Multimodal.phashNearDupsWith(b1, idx, maxHamming = 3)
        .unionByName(Multimodal.phashNearDupsWith(b2, idx, maxHamming = 3))
        .as[(Long, Long, Int)].collect().toSet
      assert(viaIdx == raw, "prebuilt-artifact path diverges from the raw path")
      // the production cap must be inert at test scale (wide headroom)
      val capped = Multimodal.phashNearDupsWith(batch, idx, maxHamming = 3,
          maxBucketSize = 1000)
        .as[(Long, Long, Int)].collect().toSet
      assert(capped == raw, "the cap (1000) changed test-scale output")
    } finally idx.unpersist()
    // exact-match artifact (one whole-hash chunk): the hamming-0 best matches
    val exact = Multimodal.phashNearDupsWith(batch,
        Multimodal.phashBuild(ref, nChunks = 1), maxHamming = 0)
      .as[(Long, Long, Int)].collect().toSet
    assert(exact == expect.filter(_._3 == 0), "whole-hash artifact path != brute force")
  }

  test("decoder injection: per-partition init, decoded plane feeds hash + features") {
    // a non-trivial injected decoder (reverse the plane) must flow through
    // the mapPartitions seam: the factory runs ONCE PER PARTITION (counted
    // by accumulator), and downstream hashing matches hashing the
    // pre-reversed payloads with the default decoder
    val inits = spark.sparkContext.longAccumulator("decoder_inits")
    val reversing: Multimodal.DecoderFactory = () => {
      inits.add(1) // per-partition decoder init (native lib handle analogue)
      (p: Array[Byte]) => p.reverse
    }
    val m = media.repartition(7)
    val got = Multimodal.perceptualHash(m, mkDecoder = reversing)
      .as[(Long, Long)].collect().toMap
    assert(inits.value == 7,
      s"decoder factory must run once per partition (7), ran ${inits.value}")
    // (SQL reverse() would cast binary→string; reverse in the JVM instead)
    val preReversed = m.select($"media_id", $"payload").as[(Long, Array[Byte])]
      .map { case (id, p) => (id, p.reverse) }.toDF("media_id", "payload")
    val expect = Multimodal.perceptualHash(preReversed).as[(Long, Long)].collect().toMap
    assert(got == expect, "injected decoder output != pre-decoded plane hash")
    assert(got != Multimodal.perceptualHash(m).as[(Long, Long)].collect().toMap,
      "reversing decoder must change hashes on an asymmetric corpus")
    // features ride the same seam
    inits.reset()
    val f = Multimodal.extractFeatures(m, mkDecoder = reversing)
      .select("media_id", "byte_sum").as[(Long, Long)].collect().toMap
    assert(inits.value == 7, "extractFeatures must init the decoder per partition")
    val fExpect = Multimodal.extractFeatures(m)
      .select("media_id", "byte_sum").as[(Long, Long)].collect().toMap
    assert(f == fExpect, "byte_sum is reverse-invariant — seam must not corrupt it")
    // downstream banding is unchanged by an injected decoder: near-dup
    // pairs over the decoded planes == pairs over pre-decoded payloads
    val viaSeam = Multimodal.phashNearDups(m, maxHamming = 3, mkDecoder = reversing)
      .as[(Long, Long, Int)].collect().toSet
    val viaPre = Multimodal.phashNearDups(preReversed, maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(viaSeam == viaPre, "banding over injected-decoder planes diverges")
  }

  test("videoNearDups: frame-set Jaccard, short tail frames, viral-frame cap") {
    // 8-byte frames; letters repeated 8x form one frame each
    def blocks(s: String): Array[Byte] = s.flatMap(c => c.toString * 8).getBytes("UTF-8")
    val df = Seq(
      (1L, blocks("XYZA")),        // frames X Y Z A
      (2L, blocks("XYZ") ++ "tail".getBytes("UTF-8")), // X Y Z + short tail frame
      (3L, blocks("PQ")),          // disjoint
      (4L, blocks("XYZA")),        // byte-identical twin of 1 → jaccard 1.0
    ).toDF("media_id", "payload")
    val got = Multimodal.videoNearDups(df, frameBytes = 8, threshold = 0.5)
      .as[(Long, Long, Long, Double)].collect().toSet
    // v1 vs v2: shared {X,Y,Z} of union {X,Y,Z,A,tail} → 3/5 = 0.6
    // v1 vs v4: identical 4-frame sets → 1.0; v2 vs v4 = 0.6; v3 isolated
    assert(got == Set((1L, 2L, 3L, 0.6), (1L, 4L, 4L, 1.0), (2L, 4L, 3L, 0.6)),
      s"unexpected pair set: $got")
    // frame signatures: distinct contents hash apart, repeats hash equal
    val sigs = Multimodal.frameSignatures(df, frameBytes = 8)
      .as[(Long, Int, Long)].collect()
    assert(sigs.count(_._1 == 1L) == 4 && sigs.count(_._1 == 2L) == 4)
    val v1 = sigs.filter(_._1 == 1L).map(s => s._2 -> s._3).toMap
    val v4 = sigs.filter(_._1 == 4L).map(s => s._2 -> s._3).toMap
    assert(v1 == v4, "identical payloads must produce identical frame signatures")
    assert(v1.values.toSet.size == 4, "distinct frames must hash apart")
    // a viral frame (in every video) pushes every pair over threshold;
    // the cap drops it from candidates AND intersections — conservative
    val viral = Seq(
      (1L, blocks("VX")), (2L, blocks("VY")), (3L, blocks("VZ")),
    ).toDF("media_id", "payload")
    val uncapped = Multimodal.videoNearDups(viral, frameBytes = 8, threshold = 0.3)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(uncapped.size == 3, "the shared V frame links every pair uncapped")
    val capped = Multimodal.videoNearDups(viral, frameBytes = 8, threshold = 0.3,
      maxFrameDf = 2).as[(Long, Long, Long, Double)].collect().toSet
    assert(capped.isEmpty, "maxFrameDf must drop the viral frame's pairs")
  }

  test("video cross-corpus: artifact path == raw path == brute-force best match") {
    val all = media.select($"media_id", $"payload")
    val ref = all.filter($"media_id" % 2 === 0)
    val batch = all.filter($"media_id" % 2 === 1)
      .unionByName(ref.withColumn("media_id", $"media_id" + 10000000L))
    val raw = Multimodal.crossCorpusVideoFlags(batch, ref, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    // brute force from the signature sets
    def sets(df: org.apache.spark.sql.DataFrame) =
      Multimodal.frameSignatures(df).select($"media_id", $"frame_fp")
        .as[(Long, Long)].collect().groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val (rs, bs) = (sets(ref), sets(batch))
    val expect = bs.flatMap { case (in, fn) =>
      val hits = rs.toSeq.map { case (ir, fr) =>
        val sh = (fn & fr).size
        (ir, BigDecimal(sh.toDouble / (fn.size + fr.size - sh))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.filter(_._2 >= 0.5)
      if (hits.isEmpty) None
      else { val best = hits.minBy(h => (-h._2, h._1)); Some((in, best._1, best._2)) }
    }.toSet
    assert(raw == expect, s"cross-corpus video flags != brute force " +
      s"(missing ${(expect -- raw).size}, extra ${(raw -- expect).size})")
    // every byte-identical twin flags its original (or an identical doc)
    // at jaccard 1.0
    assert(raw.count(_._3 == 1.0) >= rs.size,
      "a planted identical twin is missing its 1.0 flag")
    // build once, probe two disjoint batches: must reproduce the raw path
    val idx = Multimodal.frameIndexBuild(ref).persist()
    try {
      val viaIdx = Multimodal.videoNearDupsWith(
          batch.filter($"media_id" % 4 === 1), idx, threshold = 0.5)
        .unionByName(Multimodal.videoNearDupsWith(
          batch.filter($"media_id" % 4 =!= 1), idx, threshold = 0.5))
        .as[(Long, Long, Double)].collect().toSet
      assert(viaIdx == raw, "prebuilt-artifact path diverges from the raw path")
    } finally idx.unpersist()
  }

  test("audioLandmarks: constellation pairs over overlapping windows, " +
       "hop-aligned time shift preserves every interior landmark") {
    // 8-byte windows at hop 4; bytes chosen so each window has a distinct
    // (max, position) peak
    val base = "abzcdeyfghxijkwlmnvopqu".getBytes("UTF-8") // 23 bytes → 4 windows
    val df = Seq(
      (1L, base),
      (2L, ("PAD!" .getBytes("UTF-8")) ++ base), // prefix of EXACTLY one hop
      (3L, "shrt".getBytes("UTF-8")),            // < w+hop → no landmarks
    ).toDF("media_id", "payload")
    val lms = Multimodal.audioLandmarks(df, windowBytes = 8, hop = 4)
      .as[(Long, Long)].collect().groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).toSet }
    assert(!lms.contains(3L), "a plane shorter than window+hop has no landmarks")
    // 23 bytes, w=8, hop=4 → nw = 4 windows → 3 landmarks
    assert(lms(1L).size == 3, s"expected 3 landmarks: ${lms(1L)}")
    // the hop-alignment property: a one-hop prefix shifts every window
    // index by one, so ALL original landmarks survive in the copy
    assert(lms(1L).subsetOf(lms(2L)),
      s"hop-aligned prepend must preserve interior landmarks: " +
        s"missing ${lms(1L) -- lms(2L)}")
    assert(lms(2L).size == lms(1L).size + 1,
      "the prefix contributes exactly one new boundary landmark")
    // fingerprint replica for the first landmark of media 1: per-window
    // rolling hash (h*31 + byte mod 1e9+7) packed as f0·2^30 + f1
    def fp(bytes: Array[Byte], start: Int, w: Int): Long = {
      var h = 0L
      for (j <- 0 until w) h = (h * 31 + (bytes(start + j) & 0xFF)) % 1000000007L
      h
    }
    val lm01 = fp(base, 0, 8) * (1L << 30) + fp(base, 4, 8)
    assert(lms(1L).contains(lm01), s"hand-packed landmark $lm01 missing: ${lms(1L)}")
  }

  test("audioNearDups: capped-set Jaccard — the background cap removes a " +
       "viral landmark from sets AND denominators") {
    // three recordings sharing one "background" landmark (the same first
    // 12 bytes → the same (win0, win1) pair) plus distinct tails
    def rec(tail: String): Array[Byte] =
      ("commonIntroBytes!!" + tail).getBytes("UTF-8")
    val df = Seq(
      (1L, rec("aaaaaaaaaaaaaaaazzz1")),
      (2L, rec("bbbbbbbbbbbbbbbbzzz2")),
      (3L, rec("cccccccccccccccczzz3")),
      (4L, rec("aaaaaaaaaaaaaaaazzz1")), // byte-identical twin of 1
    ).toDF("media_id", "payload")
    val capped = Multimodal.audioNearDups(df, windowBytes = 8, hop = 4,
        threshold = 0.9, maxLandmarkDf = 3)
      .as[(Long, Long, Long, Double)].collect().toSet
    // the intro landmarks (df 4 > 3) drop from BOTH sets and denominators:
    // the identical pair (1,4) stays at jaccard 1.0 over its DISTINCTIVE
    // remainder; the merely-intro-sharing pairs vanish entirely
    assert(capped.exists(p => p._1 == 1L && p._2 == 4L && p._4 == 1.0),
      s"identical twins must survive the cap at 1.0: $capped")
    assert(capped.forall(p => Set(p._1, p._2) == Set(1L, 4L)),
      s"intro-only pairs must not survive the cap: $capped")
    // uncapped mirror: the shared intro links everything at a low score
    val uncapped = Multimodal.audioNearDups(df, windowBytes = 8, hop = 4,
        threshold = 0.05).as[(Long, Long, Long, Double)].collect().toSet
    assert(uncapped.size == 6, s"all pairs share the intro uncapped: $uncapped")
  }

  test("audio ops fail on a media_id shared by two input rows") {
    // the per-row landmark dedup equals the relation-level distinct only
    // for unique ids: id 2 below would count the landmarks its two rows
    // share twice
    def rec(tail: String): Array[Byte] =
      ("commonIntroBytes!!" + tail).getBytes("UTF-8")
    val clean = Seq((1L, rec("aaaaaaaaaaaaaaaazzz1"))).toDF("media_id", "payload")
    val dup = clean.unionByName(Seq(
      (2L, rec("aaaaaaaaaaaaaaaazzz1")),
      (2L, rec("bbbbbbbbbbbbbbbbzzz2")),
    ).toDF("media_id", "payload"))
    def failsOnDup(run: => Any): Unit = {
      val e = intercept[Exception](run)
      val msgs = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).flatMap(t => Option(t.getMessage))
      assert(msgs.exists(_.contains("duplicate media_id 2")), s"wrong failure: $e")
    }
    failsOnDup(Multimodal.audioNearDups(dup, windowBytes = 8, hop = 4,
      threshold = 0.05).collect())
    failsOnDup(Multimodal.audioQualityCensus(dup, windowBytes = 8, hop = 4).collect())
    // artifact path: a duplicate on the batch side and on the reference side
    failsOnDup(Multimodal.audioNearDupsWith(dup,
      Multimodal.audioIndexBuild(clean, windowBytes = 8, hop = 4), threshold = 0.05)
      .collect())
    failsOnDup(Multimodal.audioNearDupsWith(clean,
      Multimodal.audioIndexBuild(dup, windowBytes = 8, hop = 4), threshold = 0.05)
      .collect())
    // unique ids pass the same plans
    assert(Multimodal.audioNearDups(dup.filter($"payload" =!= rec("bbbbbbbbbbbbbbbbzzz2")),
      windowBytes = 8, hop = 4, threshold = 0.05).count() == 1)
  }

  test("audio cross-corpus: artifact path == brute force best match; " +
       "two-batch probe == one-batch (the Build/With seam contract)") {
    val all = media.select($"media_id", $"payload")
    val ref = all.filter($"media_id" % 2 === 0)
    val batch = all.filter($"media_id" % 2 === 1)
      .unionByName(spark.read.parquet(s"$sf0001/documents.parquet")
        .filter($"doc_id" % 2 === 0).select(
          ($"doc_id" + 10000000L).as("media_id"),
          encode(concat(lpad($"doc_id".cast("string"), 14, "0"),
            lit(": "), $"text"), "UTF-8").as("payload")))
    val idx = Multimodal.audioIndexBuild(ref, windowBytes = 32, hop = 16,
      maxLandmarkDf = 20).persist()
    try {
      val got = Multimodal.audioNearDupsWith(batch, idx, threshold = 0.5)
        .as[(Long, Long, Double)].collect().toSet
      // brute force from the landmark sets under the SAME reference-side cap
      def lmSets(df: org.apache.spark.sql.DataFrame) =
        Multimodal.audioLandmarks(df, 32, 16).as[(Long, Long)].collect()
          .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      val viral = idx.viral.as[Long].collect().toSet
      val rs = lmSets(ref).map { case (k, v) => k -> (v -- viral) }
      val bs = lmSets(batch).map { case (k, v) => k -> (v -- viral) }
      val expect = bs.flatMap { case (in, ln) =>
        val hits = rs.toSeq.filter(_._2.nonEmpty).map { case (ir, lr) =>
          val sh = (ln & lr).size
          (ir, BigDecimal(sh.toDouble / (ln.size + lr.size - sh))
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }.filter(_._2 >= 0.5)
        if (hits.isEmpty) None
        else { val best = hits.minBy(h => (-h._2, h._1)); Some((in, best._1, best._2)) }
      }.toSet
      assert(got == expect, s"audio cross-corpus != brute force " +
        s"(missing ${(expect -- got).size}, extra ${(got -- expect).size})")
      // hop-prefixed re-encodes flag their originals through the shared
      // interior landmarks (the exact per-row set is pinned by the
      // brute-force equality above; this pins that the plant is non-vacuous)
      assert(got.count(_._1 >= 10000000L) > rs.size / 2,
        s"most re-encodes must flag a reference: ${got.count(_._1 >= 10000000L)}")
      // two disjoint probes reproduce the one-batch result
      val twoBatch = Multimodal.audioNearDupsWith(
          batch.filter($"media_id" % 4 === 1), idx, threshold = 0.5)
        .unionByName(Multimodal.audioNearDupsWith(
          batch.filter($"media_id" % 4 =!= 1), idx, threshold = 0.5))
        .as[(Long, Long, Double)].collect().toSet
      assert(twoBatch == got, "two-batch probe diverges from one-batch")
      graft.Cleanup.drain()
    } finally idx.unpersist()
  }

  test("audioQualityCensus == brute-force decile census over capped landmark " +
       "sets; partial-overlap twins populate the mid-curve (round-16)") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val m0 = media.select($"media_id", $"payload")
    val twins = docs.select(($"doc_id" + 10000000L).as("media_id"),
      encode(expr(
        "substr(text, 1, CAST(length(text) * ((doc_id % 5) + 3) DIV 10 AS INT))"),
        "UTF-8").as("payload"))
    val corpus = m0.unionByName(twins)
    val got = Multimodal.audioQualityCensus(corpus, 32, 16, threshold = 0.5,
        maxLandmarkDf = 20)
      .as[(Int, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // brute force from the landmark sets under the same corpus-wide cap
    val lms = Multimodal.audioLandmarks(corpus, 32, 16).as[(Long, Long)].collect()
    val viral = lms.groupBy(_._2).collect { case (lm, v) if v.length > 20 => lm }.toSet
    val sets = lms.filterNot(p => viral(p._2)).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).toSet }
    val expect = scala.collection.mutable.Map[Int, (Long, Long)]()
    val ids = sets.keys.toSeq.sorted
    for { i <- ids.indices; j <- (i + 1) until ids.size } {
      val (a, b) = (sets(ids(i)), sets(ids(j)))
      val inter = (a & b).size
      if (inter > 0) {
        val un = a.size + b.size - inter
        val jb = (inter * 10) / un
        val det = if (BigDecimal(inter.toDouble / un)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble >= 0.5) 1L else 0L
        val (np, nd) = expect.getOrElse(jb, (0L, 0L))
        expect(jb) = (np + 1, nd + det)
      }
    }
    assert(got == expect.toMap,
      s"census != brute force: got ${got.toSeq.sorted}, expect ${expect.toSeq.sorted}")
    // the S-curve is sampled OFF its asymptotes: ≥3 interior bands
    assert(got.keySet.count(b => b >= 2 && b <= 8) >= 3,
      s"asymptote-only census is vacuous: bands ${got.keySet.toSeq.sorted}")
    // and both the detected and undetected branches carry mass
    assert(got.values.map(_._2).sum > 0, "no pair detected")
    assert(got.exists { case (_, (np, nd)) => nd < np }, "every pair detected")
    graft.Cleanup.drain()
  }

  test("streamingAudioFlagsWith refuses an over-cap viral broadcast LOUDLY " +
       "(round-16: the bounded driver collect gets a counted guard)") {
    val all = media.select($"media_id", $"payload")
    // df cap 1 makes nearly every repeated landmark viral — a large set
    val idx = Multimodal.audioIndexBuild(all, windowBytes = 32, hop = 16,
      maxLandmarkDf = 1)
    val viralCount = idx.viral.count()
    assert(viralCount > 2, s"plant degenerate: only $viralCount viral landmarks")
    val stream = all.select(
      lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("ts"),
      $"media_id", $"payload")
    val e = intercept[IllegalArgumentException](
      Multimodal.streamingAudioFlagsWith(stream, idx, "ts", "1 hour",
        maxViralBroadcast = 2))
    assert(e.getMessage.contains("maxViralBroadcast") &&
      e.getMessage.contains("audioNearDupsWith"),
      s"guard must name the cap and the ways out: ${e.getMessage}")
    // the same index under the default cap constructs (guard gates on
    // COUNT, not on the cap's mere presence)
    Multimodal.streamingAudioFlagsWith(stream, idx, "ts", "1 hour")
    graft.Cleanup.drain()
  }

  test("perceptualHash: 48-bit, integer-exact threshold, constant plane hashes 0") {
    val df = Seq(
      (1L, Array.fill[Byte](96)(65)),               // constant plane: no block above mean
      (2L, (Array.fill[Byte](48)(1) ++ Array.fill[Byte](48)(127))), // step: top half above
    ).toDF("media_id", "payload")
    val h = Multimodal.perceptualHash(df).as[(Long, Long)].collect().toMap
    assert(h(1L) == 0L, "all-equal plane must hash to 0 (strict > threshold)")
    assert(h(2L) != 0L && h(2L) > 0L, "48-bit hash must stay sign-positive")
    assert((h(2L) & ((1L << 24) - 1)) == 0L,
      "low half of the step plane sits below the mean — its bits must be 0")
  }
}
