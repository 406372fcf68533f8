package graft

import org.apache.spark.sql.functions._
import graft.operators.Multimodal

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (10L, "abcdefghijklmnopqrstuvwxyz0123456789ABCD", "en", "s1", 40L),
    (11L, "short", "en", "s1", 5L),
    (12L, "héllo→", "fr", "s1", 6L)) // non-ASCII: bytes ≠ codepoints
    .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("media table has binary payload + typed metadata") {
    val m = Multimodal.mediaFromDocuments(docs)
    assert(m.schema("payload").dataType.typeName == "binary")
    val row = m.filter(col("media_id") === 10L).collect()(0)
    assert(new String(row.getAs[Array[Byte]]("payload"), "UTF-8")
      .startsWith("abcdef"))
  }

  test("extractFeatures: deterministic stub features via mapPartitions") {
    val feats = Multimodal.extractFeatures(Multimodal.mediaFromDocuments(docs))
      .collect().map(f => f.media_id -> f).toMap
    assert(feats(10L).n_bytes == 40L)
    assert(feats(10L).first_byte == 'a'.toInt)
    assert(feats(10L).last_byte == 'D'.toInt)
    assert(feats(10L).byte_sum_mod ==
      "abcdefghijklmnopqrstuvwxyz0123456789ABCD".map(_.toLong).sum % 1000000007L)
  }

  test("features are UTF-8 BYTE semantics, not codepoints (non-ASCII)") {
    val feats = Multimodal.extractFeatures(Multimodal.mediaFromDocuments(docs))
      .collect().map(f => f.media_id -> f).toMap
    val bytes = "héllo→".getBytes("UTF-8")
    assert(bytes.length == 9) // 6 codepoints, 9 bytes
    assert(feats(12L).n_bytes == 9L)
    assert(feats(12L).first_byte == (bytes.head & 0xff))
    assert(feats(12L).last_byte == (bytes.last & 0xff)) // 0x92, not '→'
    assert(feats(12L).byte_sum_mod ==
      bytes.map(b => (b & 0xff).toLong).sum % 1000000007L)
  }

  test("resizePayloads stride-samples to at most targetBytes, byte-true") {
    val resized = Multimodal.resizePayloads(
      Multimodal.mediaFromDocuments(docs), targetBytes = 8)
      .collect().map(r => r.media_id -> r).toMap
    // 40 bytes -> stride 5 -> bytes at 0,5,10,...,35
    val full = "abcdefghijklmnopqrstuvwxyz0123456789ABCD".getBytes("UTF-8")
    assert(resized(10L).resized.toSeq == (0 until 8).map(i => full(i * 5)).toSeq)
    assert(resized(10L).n_out == 8)
    // shorter than target: all bytes kept, stride 1
    assert(new String(resized(11L).resized, "UTF-8") == "short")
    // non-ASCII: operates on UTF-8 BYTES (9 bytes -> stride 1, first 8)
    val utf = "héllo→".getBytes("UTF-8")
    assert(resized(12L).resized.toSeq == utf.take(8).toSeq)
  }

  test("encodeBmp24 round-trips through javax.imageio pixel-exact") {
    val bmp = Multimodal.encodeBmp24(3, 2, (x, y) => (x << 16) | (y << 8) | (x + y))
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bmp))
    assert(img != null, "ImageIO must recognize the BMP payload")
    assert(img.getWidth == 3 && img.getHeight == 2)
    for (x <- 0 until 3; y <- 0 until 2)
      assert((img.getRGB(x, y) & 0xffffff) == ((x << 16) | (y << 8) | (x + y)),
        s"pixel ($x,$y) mismatch")
  }

  test("decodeImage reads a real PNG written by ImageIO") {
    val buf = new java.awt.image.BufferedImage(
      5, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 5; y <- 0 until 4)
      buf.setRGB(x, y, (x * 40 << 16) | (y * 60 << 8) | 7)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(buf, "png", bos)
    val decoded = Multimodal.decodeImage(bos.toByteArray)
    assert(decoded.isDefined, "PNG payload must decode")
    val (w, h, s) = decoded.get
    assert(w == 5 && h == 4)
    val expected =
      (for (x <- 0 until 5; y <- 0 until 4) yield x * 40 + y * 60 + 7).sum.toLong
    assert(s == expected)
  }

  test("decodeFeatures: real codec for image payloads, stub fallback for text") {
    val rows = Seq(
      (1L, Multimodal.encodeBmp24(2, 2, (_, _) => 0x010203), "bmp"),
      (2L, "plain text".getBytes("UTF-8"), "fmt0"))
      .toDF("media_id", "payload", "format")
    val got = Multimodal.decodeFeatures(rows).collect()
      .map(r => r.media_id -> r).toMap
    assert(got(1L).decoded && got(1L).img_width == 2 && got(1L).img_height == 2)
    assert(got(1L).pixel_sum == 4L * (1 + 2 + 3))
    assert(!got(2L).decoded && got(2L).img_width == -1 && got(2L).img_height == -1)
    assert(got(2L).pixel_sum ==
      "plain text".getBytes("UTF-8").map(b => (b & 0xff).toLong).sum % 1000000007L)
  }

  test("bmpMediaFromDocuments payloads decode to the closed-form dimensions") {
    val media = Multimodal.bmpMediaFromDocuments(docs)
    val feats = Multimodal.decodeFeatures(media).collect()
      .map(r => r.media_id -> r).toMap
    assert(feats.keySet == Set(10L, 11L, 12L))
    feats.foreach { case (id, f) =>
      assert(f.decoded, s"doc $id must decode")
      assert(f.img_width == (4 + id % 13).toInt, s"doc $id width")
      assert(f.img_height == (3 + id % 7).toInt, s"doc $id height")
    }
  }

  test("imageFeatureVectors: decoded channel sums match the closed-form pixels") {
    val feats = Multimodal.imageFeatureVectors(
      Multimodal.bmpMediaFromDocuments(docs))
      .collect().map(f => f.media_id -> f).toMap
    // doc 10: w = 4 + 10%13 = 14, h = 3 + 10%7 = 6; channel sums from
    // the generator's closed forms
    val (id, w, h) = (10L, 14, 6)
    var (r, g, b) = (0L, 0L, 0L)
    for (x <- 0 until w; y <- 0 until h) {
      r += (id + 7L * x + 13L * y) % 256
      g += (2L * id + 5L * x + 3L * y) % 256
      b += (id + x.toLong * y) % 256
    }
    val f10 = feats(10L)
    assert(f10.decoded)
    assert(f10.features.toSeq ==
      Seq(w.toDouble, h.toDouble, r.toDouble, g.toDouble, b.toDouble))
    // a non-image payload keeps the stub vector shape (5 dims, -1 dims)
    val stub = Multimodal.imageFeatureVectors(
      Multimodal.mediaFromDocuments(docs)).collect().head
    assert(!stub.decoded && stub.features.length == 5 &&
      stub.features(0) == -1.0)
  }

  test("corrupt payloads that pass the magic sniff fall back to None, never throw") {
    // valid magic prefixes followed by garbage: the decode libraries
    // throw unchecked exceptions on some of these shapes — the
    // contract is stub fallback (None), not a task crash
    val pngSig = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
    val corrupts = Seq(
      pngSig ++ Array.fill[Byte](16)(0x7f),
      "BM".getBytes("UTF-8") ++ Array.fill[Byte](20)(0x01),
      Multimodal.encodeBmp24(3, 2, (_, _) => 0x010203).dropRight(5))
    corrupts.foreach(p => assert(Multimodal.decodeImage(p).isEmpty))
    val wavCorrupts = Seq(
      "RIFF".getBytes("UTF-8") ++ Array.fill[Byte](12)(0x02),
      ("RIFF".getBytes("UTF-8") :+ 0x10.toByte) ++ "WAVE".getBytes("UTF-8"),
      Multimodal.encodeWavPcm16(8000, Array[Short](1, 2, 3)).take(30))
    wavCorrupts.foreach(p => assert(Multimodal.decodeWav(p).isEmpty))
  }

  test("encodeWavPcm16 round-trips through javax.sound.sampled sample-exact") {
    val samples = Array[Short](0, 100, -100, 32767, -32768, 7)
    val wav = Multimodal.encodeWavPcm16(8000, samples)
    val decoded = Multimodal.decodeWav(wav)
    assert(decoded.isDefined, "AudioSystem must recognize the WAV payload")
    val (rate, n, s) = decoded.get
    assert(rate == 8000 && n == samples.length)
    assert(s == samples.map(_.toLong).sum)
  }

  test("decodeAudioFeatures: real codec for WAV payloads, stub fallback for text") {
    val rows = Seq(
      (1L, Multimodal.encodeWavPcm16(16000, Array[Short](5, -3, 10)), "wav"),
      (2L, "plain text".getBytes("UTF-8"), "fmt0"))
      .toDF("media_id", "payload", "format")
    val got = Multimodal.decodeAudioFeatures(rows).collect()
      .map(r => r.media_id -> r).toMap
    assert(got(1L).decoded && got(1L).sample_rate == 16000 &&
      got(1L).n_samples == 3 && got(1L).sample_sum == 12L)
    assert(!got(2L).decoded && got(2L).sample_rate == -1)
    assert(got(2L).sample_sum ==
      "plain text".getBytes("UTF-8").map(b => (b & 0xff).toLong).sum % 1000000007L)
  }

  test("wavMediaFromDocuments payloads decode to the closed-form sample sums") {
    val media = Multimodal.wavMediaFromDocuments(docs)
    val feats = Multimodal.decodeAudioFeatures(media).collect()
      .map(r => r.media_id -> r).toMap
    assert(feats.keySet == Set(10L, 11L, 12L))
    feats.foreach { case (id, f) =>
      assert(f.decoded, s"doc $id must decode")
      val n = (16 + id % 33).toInt
      assert(f.n_samples == n, s"doc $id n_samples")
      val expected = (0 until n).map(i => (id * 31L + i * 17L) % 4096L - 2048L).sum
      assert(f.sample_sum == expected, s"doc $id sample_sum")
    }
  }

  test("audioFeatureVectors: decoded vector matches the closed-form samples, stub fallback for text") {
    val media = Multimodal.wavMediaFromDocuments(docs)
    val feats = Multimodal.audioFeatureVectors(media).collect()
      .map(r => r.media_id -> r).toMap
    assert(feats.keySet == Set(10L, 11L, 12L))
    feats.foreach { case (id, f) =>
      assert(f.decoded, s"doc $id must decode")
      val n = (16 + id % 33).toInt
      val s = (0 until n).map(i => (id * 31L + i * 17L) % 4096L - 2048L)
      val expected = Array(n.toDouble, s.sum.toDouble, s.map(math.abs).sum.toDouble,
        s.map(v => v * v).sum.toDouble, s.head.toDouble)
      assert(f.features.toSeq == expected.toSeq, s"doc $id features")
    }
    // non-WAV payload keeps the deterministic stub vector
    val junk = Seq((2L, "plain text".getBytes("UTF-8"), "fmt0"))
      .toDF("media_id", "payload", "format")
    val fb = Multimodal.audioFeatureVectors(junk).collect().head
    val byteSum = "plain text".getBytes("UTF-8").map(b => (b & 0xff).toLong).sum % 1000000007L
    assert(!fb.decoded &&
      fb.features.toSeq == Seq(-1.0, -1.0, byteSum.toDouble, 0.0, 0.0))
  }

  test("sampleFrames slices every nth fixed-size frame") {
    val m = Multimodal.mediaFromDocuments(docs)
    val frames = Multimodal.sampleFrames(m, frameBytes = 16, everyNth = 2)
      .select("media_id", "frame_idx", "frame")
      .as[(Long, Int, Array[Byte])].collect()
    val byDoc = frames.groupBy(_._1)
    // 40 bytes -> 2 full frames (idx 0,1), every 2nd -> idx 0 only
    assert(byDoc(10L).map(_._2).toSeq == Seq(0))
    assert(new String(byDoc(10L).head._3, "UTF-8") == "abcdefghijklmnop")
    assert(!byDoc.contains(11L)) // too short for any frame
  }

  test("imagePerceptualHash: same content collides, flat image hashes 0, stub for non-images") {
    def mk(id: Long, f: (Int, Int) => Int) =
      (id, Multimodal.encodeBmp24(8, 6, f), "bmp", 8, 6)
    val grad: (Int, Int) => Int = (x, _) => {
      val v = (x * 30) & 0xff; (v << 16) | (v << 8) | v
    }
    val flat: (Int, Int) => Int = (_, _) => 0x808080
    val rows = Seq(mk(1L, grad), mk(2L, grad), mk(3L, flat),
      (4L, Array[Byte](1, 2, 3), "bin", 0, 0))
      .toDF("media_id", "payload", "kind", "width", "height")
    val got = Multimodal.imagePerceptualHash(rows).collect()
      .map(p => p.media_id -> ((p.decoded, p.phash))).toMap
    // identical pixel content -> identical fingerprint, decoded for real
    assert(got(1L) == got(2L) && got(1L)._1)
    assert(got(1L)._2 != 0L) // gradient: bright cells exceed the mean
    // a uniform image has no cell STRICTLY above the mean -> hash 0
    assert(got(3L) == ((true, 0L)))
    assert(got(4L) == ((false, -1L)))
  }

  test("imagePerceptualHashGrid: wide 8x7 hash matches a local recomputation, small perturbations stay within banding reach") {
    // 16x14 gradient image: every 8x7 cell holds exactly 2x2 pixels
    val w = 16; val h = 14
    def px(seed: Int): (Int, Int) => Int = (x, y) => {
      val v = (x * 13 + y * 29 + seed) & 0xff; (v << 16) | (v << 8) | v
    }
    // brute-force the wide hash from the same pixel function
    def localHash(f: (Int, Int) => Int): Long = {
      val cs = new Array[Long](56); val cn = new Array[Long](56)
      for (y <- 0 until h; x <- 0 until w) {
        val c = (y * 7 / h) * 8 + (x * 8 / w)
        val rgb = f(x, y)
        cs(c) += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
        cn(c) += 1
      }
      val ts = cs.sum; val tn = cn.sum
      (0 until 56).foldLeft(0L)((acc, c) =>
        if (cs(c) * tn > ts * cn(c)) acc | (1L << c) else acc)
    }
    // id 2: one brightened pixel — flips at most a few cell bits
    val bump: (Int, Int) => Int = (x, y) =>
      if (x == 0 && y == 0) 0xffffff else px(0)(x, y)
    val rows = Seq(
      (1L, Multimodal.encodeBmp24(w, h, px(0)), "bmp", w, h),
      (2L, Multimodal.encodeBmp24(w, h, bump), "bmp", w, h),
      (3L, Multimodal.encodeBmp24(w, h, px(128)), "bmp", w, h))
      .toDF("media_id", "payload", "kind", "width", "height")
    val got = Multimodal.imagePerceptualHashGrid(rows, 8, 7).collect()
      .map(p => p.media_id -> p.phash).toMap
    assert(got(1L) == localHash(px(0)), "wide hash must equal the local recomputation")
    assert(got(2L) == localHash(bump))
    assert(got(3L) == localHash(px(128)))
    // the X154 gate composition: the perturbed image is a candidate of
    // the original through the 4x14-bit banding and verifies ≤ 3
    val hashes = Multimodal.imagePerceptualHashGrid(rows, 8, 7).toDF()
      .select(col("media_id"), col("phash"))
    val pairs = graft.operators.Dedup.fingerprintNearDupPairs(
      hashes, "media_id", "phash", bits = 56, bands = 4, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val d12 = java.lang.Long.bitCount(got(1L) ^ got(2L))
    assert(d12 <= 3, s"one-pixel bump moved $d12 bits — fixture needs retuning")
    assert(pairs.contains((1L, 2L)))
    // the grid guard fails loud past a signed long
    intercept[IllegalArgumentException] {
      Multimodal.imagePerceptualHashGrid(rows, 8, 8)
    }
  }

  test("audioPerceptualHash: same samples collide, silence hashes 0, stub for non-audio") {
    def wav(id: Long, samples: Array[Short]) =
      (id, Multimodal.encodeWavPcm16(8000, samples), "wav", 0, 0)
    val loudTail = Array.tabulate(24)(i => if (i >= 12) 1000.toShort else 10.toShort)
    val rows = Seq(
      wav(1L, loudTail), wav(2L, loudTail),
      wav(3L, Array.fill(24)(0.toShort)),
      (4L, Array[Byte](9, 9, 9), "bin", 0, 0))
      .toDF("media_id", "payload", "kind", "width", "height")
    val got = Multimodal.audioPerceptualHash(rows).collect()
      .map(p => p.media_id -> ((p.decoded, p.phash))).toMap
    assert(got(1L) == got(2L) && got(1L)._1)
    // the loud second half sets exactly blocks 6..11
    assert(got(1L)._2 == (0x3F << 6).toLong)
    assert(got(3L) == ((true, 0L)))
    assert(got(4L) == ((false, -1L)))
  }

  test("video: container demuxes to real frames, signatures exact, set-Jaccard pairs") {
    import graft.operators.Multimodal.{VideoFrameW, VideoFrameH, VideoFrameBytes}
    val docs = Seq(1L, 2L, 200L, 40L).toDF("doc_id") // 200 = 1 + 199 (same seed as 1)
    val media = Multimodal.videoMediaFromDocuments(docs)
    // the fixed-frame container REALLY demuxes: every substr slice is
    // a decodable BMP whose pixels are the closed form of c = id%37+f
    val frames = Multimodal.sampleFrames(media, VideoFrameBytes, everyNth = 1)
      .as[(Long, Int, Array[Byte])].collect()
    assert(frames.nonEmpty)
    for ((id, f, frame) <- frames) {
      val c = id % 199 + f
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(frame))
      assert(img != null && img.getWidth == VideoFrameW &&
        img.getHeight == VideoFrameH, s"video $id frame $f did not decode")
      val rgb = img.getRGB(3, 2)
      assert(((rgb >> 16) & 0xff) == ((c + 7 * 3 + 13 * 2) % 256).toInt,
        s"video $id frame $f pixel mismatch")
    }
    // frame counts follow 4 + id % 5
    val perVideo = frames.groupBy(_._1).view.mapValues(_.length).toMap
    assert(perVideo == Map(1L -> 5, 2L -> 6, 200L -> 4, 40L -> 4))
    // same content seed (1 vs 200 = 1+199): every common-index frame
    // hash agrees, so the shorter video's set is CONTAINED in the
    // longer's
    val sigs = Multimodal.videoFrameSignatures(media, VideoFrameBytes)
      .collect()
    assert(sigs.forall(_.decoded))
    def hset(id: Long): Set[Long] =
      sigs.filter(_.media_id == id).map(_.fhash).toSet
    assert(hset(200L).subsetOf(hset(1L)))
    // pairs == brute-force set Jaccard at the threshold
    val sigDf = sigs.toSeq.toDF()
      .select(col("media_id"), col("fhash"))
    val got = Multimodal.videoNearDupPairs(sigDf, threshold = 0.4)
      .select("id1", "id2", "jaccard").as[(Long, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    val ids = Seq(1L, 2L, 200L, 40L)
    val want = (for {
      i <- ids; j <- ids if i < j
      inter = (hset(i) & hset(j)).size
      if inter > 0
      jac = BigDecimal(inter.toDouble / (hset(i).size + hset(j).size - inter))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if jac >= 0.4
    } yield (i, j) -> jac).toMap
    assert(got == want, s"got $got want $want")
    assert(got.contains((1L, 200L)), "same-seed videos must pair")
    // hot-frame cap: a hash shared by more than maxFrameDf videos
    // leaves the index AND the set sizes (stopword semantics)
    val planted = sigDf.unionByName(
      Seq((1L, 999L), (2L, 999L), (200L, 999L), (40L, 999L))
        .toDF("media_id", "fhash"))
    val capped = Multimodal.videoNearDupPairs(planted, threshold = 0.4,
      maxFrameDf = 3)
    assert(capped.select("id1", "id2", "jaccard")
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap == want,
      "a ubiquitous planted frame must be capped out, restoring the base pairs")
    intercept[IllegalArgumentException] {
      Multimodal.videoNearDupPairs(sigDf, threshold = 0.0)
    }
    intercept[IllegalArgumentException] {
      Multimodal.videoFrameSignatures(media, VideoFrameBytes, gridW = 8,
        gridH = 8)
    }
  }

  test("video gates gather each frame hash in one exchange per side") {
    // the increment's batch side feeds its store join and its own
    // pairing from one exchange; the store side has the other
    for ((q, n) <- Seq("q_video_neardup" -> 1, "q_incremental_video_neardup" -> 2)) {
      val got = Probes.hashExchanges(
        SparkEntry.queries(q)(spark, s"${SparkSpec.TestData}/sf0.001"), Seq("h"))
      assert(got == n, s"$q: $got (h) exchanges")
      graft.core.Caches.release(spark)
    }
  }

  test("sampleFrames per-row frame size: mixed geometries in one corpus") {
    import graft.operators.Multimodal.{VideoFrameW, VideoFrameH, VideoFrameBytes}
    // geometry A: the fixture's 16x14 (726 B); geometry B: 8x6 BMP ->
    // rowBytes (8*3+3)/4*4 = 24, frame = 54 + 24*6 = 198 B
    val fbB = 54 + ((8 * 3 + 3) / 4 * 4) * 6
    def catFrames(n: Int, w: Int, h: Int, seed: Int): Array[Byte] =
      (0 until n).flatMap(f => Multimodal.encodeBmp24(w, h, (x, y) =>
        ((seed + f + x) % 256 << 16) | ((y * 31) % 256 << 8) |
          ((seed * (x + 1) * (y + 1)) % 256))).toArray
    val media = Seq(
      (1L, catFrames(3, VideoFrameW, VideoFrameH, 5), VideoFrameBytes),
      (2L, catFrames(4, 8, 6, 9), fbB))
      .toDF("media_id", "payload", "frame_bytes")
    // each row demuxes by ITS OWN size column; every slice decodes at
    // its own geometry
    val frames = Multimodal.sampleFrames(media, col("frame_bytes"), 1)
      .as[(Long, Int, Array[Byte])].collect()
    assert(frames.count(_._1 == 1L) == 3 && frames.count(_._1 == 2L) == 4)
    for ((id, _, frame) <- frames) {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(frame))
      assert(img != null, s"frame of video $id did not decode")
      assert((img.getWidth, img.getHeight) ==
        (if (id == 1L) (VideoFrameW, VideoFrameH) else (8, 6)))
    }
    // mixed-geometry signatures land in the same fhash domain
    val sigs = Multimodal.videoFrameSignatures(media, col("frame_bytes"),
      1, 4, 3).collect()
    assert(sigs.length == 7 && sigs.forall(_.decoded))
    // constant-column path == Int path exactly (the gate-hash
    // preservation law: the fixed-size form IS the literal-column form)
    val mono = Multimodal.videoMediaFromDocuments(
      Seq(1L, 2L, 7L).toDF("doc_id"))
    val viaInt = Multimodal.videoFrameSignatures(mono, VideoFrameBytes)
      .collect().map(s => (s.media_id, s.frame_idx, s.decoded, s.fhash)).toSet
    val viaCol = Multimodal.videoFrameSignatures(mono, lit(VideoFrameBytes),
      1, 8, 7)
      .collect().map(s => (s.media_id, s.frame_idx, s.decoded, s.fhash)).toSet
    assert(viaInt == viaCol)
  }

  test("incrementalVideoNearDup: empty store == batch rule, re-arrival drops, chain law") {
    // synthetic signature rows: sets over small hash vocabularies with
    // known overlaps (operator is codec-agnostic — sigs in, ids out)
    def sigs(rows: (Long, Seq[Long])*): org.apache.spark.sql.DataFrame =
      rows.flatMap { case (id, hs) => hs.map(h => (id, h)) }
        .toDF("media_id", "fhash")
    val empty = sigs()
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("media_id").as[Long].collect().toSet
    // batch: 1 = {a,b,c,d}, 2 = {a,b,c,e} (J=0.6 vs 1), 3 = {x,y}
    val batch = sigs(1L -> Seq(10, 11, 12, 13), 2L -> Seq(10, 11, 12, 14),
      3L -> Seq(90, 91))
    // empty store == the batch pairwise rule over videoNearDupPairs
    val surv0 = ids(Multimodal.incrementalVideoNearDup(batch, empty, 0.5))
    val pairDrops = Multimodal.videoNearDupPairs(batch, 0.5)
      .select("id2").as[Long].collect().toSet
    assert(surv0 == Set(1L, 2L, 3L) -- pairDrops && surv0 == Set(1L, 3L))
    // re-arrival: a batch video identical to a stored one drops; a
    // disjoint batch video survives
    val store = sigs(100L -> Seq(10, 11, 12, 13))
    val surv1 = ids(Multimodal.incrementalVideoNearDup(batch, store, 0.5))
    assert(surv1 == Set(3L),
      s"1 drops vs store (J=1), 2 drops vs store (J=0.6): $surv1")
    // two-increment chain == one increment of the concatenation: the
    // store grows by each increment's SURVIVOR rows
    val b1 = sigs(1L -> Seq(10, 11, 12, 13), 3L -> Seq(90, 91))
    val b2 = sigs(4L -> Seq(10, 11, 12, 14), 5L -> Seq(50, 51, 52))
    val s1 = Multimodal.incrementalVideoNearDup(b1, store, 0.5)
    val chained = ids(Multimodal.incrementalVideoNearDup(b2,
      store.unionByName(s1.select(col("media_id"), col("fhash"))), 0.5))
    val oneShot = ids(Multimodal.incrementalVideoNearDup(
      b1.unionByName(b2), store, 0.5))
    // 4 drops vs the ORIGINAL store member (J=0.6 vs 100) in both
    // forms; 5 is fresh
    assert(chained == Set(5L) && oneShot -- ids(s1) == Set(5L))
    // the union-vocabulary stopword cap: a hash ubiquitous across
    // store+batch leaves both sides' sets
    val planted = batch.unionByName(sigs(7L -> Seq(10)))
    val capped = ids(Multimodal.incrementalVideoNearDup(planted,
      store.unionByName(sigs(101L -> Seq(10))), threshold = 0.5,
      maxFrameDf = 3))
    // hash 10 appears in videos 1,2,7,100,101 (df=5 > 3) -> capped;
    // video 7's whole set was the capped hash -> it has no remaining
    // frames and cannot pair (empty sets never meet the index)
    assert(capped.contains(7L),
      s"a video whose only frame was capped survives vacuously: $capped")
    // the df vocabulary deduplicates ACROSS sides: a re-arrived id
    // present in both batch and store counts each (id, h) row once —
    // here h=10 lives in {7, 100, 101} after dedup (df=3, at the cap,
    // NOT hot), while double-counting the re-arrived (100, 10) row
    // would read df=4 > 3 and wrongly cap it, letting 7 survive
    val reBatch = sigs(100L -> Seq(10), 7L -> Seq(10))
    val reStore = sigs(100L -> Seq(10), 101L -> Seq(10))
    val reSurv = ids(Multimodal.incrementalVideoNearDup(reBatch, reStore,
      threshold = 0.5, maxFrameDf = 3))
    assert(reSurv.isEmpty,
      s"h=10 must stay in the vocabulary (deduped df=3 <= cap) so 7 " +
        s"drops vs store (J=1): $reSurv")
    intercept[IllegalArgumentException] {
      Multimodal.incrementalVideoNearDup(batch, empty, 0.0)
    }
    intercept[IllegalArgumentException] {
      Multimodal.incrementalVideoNearDup(batch.drop("fhash"), empty, 0.5)
    }
    // the forget half reuses the generic fingerprint retraction — a
    // multi-row signature SET leaves by id (rows are independent), so
    // the video family has all four forms without a new operator
    val multiStore = store.unionByName(sigs(200L -> Seq(70, 71)))
      .select(col("media_id").as("id"), col("fhash").as("sig"))
    val shrunk = graft.operators.Dedup.retractFingerprints(
      multiStore, Seq(100L).toDF("id"))
    assert(shrunk.select("id").as[Long].collect().toSet == Set(200L) &&
      shrunk.count() == 2)
  }

  test("audioPerceptualHashBlocks: wide 56-block hash matches a local recomputation, banding reach") {
    def wav(id: Long, samples: Array[Short]) =
      (id, Multimodal.encodeWavPcm16(8000, samples), "wav", 0, 0)
    // brute-force the wide hash from the same sample function
    def localHash(samples: Array[Short], blocks: Int): Long = {
      val n = samples.length
      val bs = new Array[Long](blocks); val bn = new Array[Long](blocks)
      for (i <- 0 until n) {
        val b = (i.toLong * blocks / n).toInt
        bs(b) += math.abs(samples(i).toLong); bn(b) += 1
      }
      val ts = bs.sum; val tn = bn.sum
      (0 until blocks).foldLeft(0L)((acc, c) =>
        if (bs(c) * tn > ts * bn(c)) acc | (1L << c) else acc)
    }
    val base = Array.tabulate(112)(i => ((i * 37) % 4096 - 2048).toShort)
    // one bumped sample — flips at most a few block bits
    val bump = base.clone(); bump(0) = 2047.toShort
    val other = Array.tabulate(112)(i => ((i * 53 + 999) % 4096 - 2048).toShort)
    val rows = Seq(wav(1L, base), wav(2L, bump), wav(3L, other))
      .toDF("media_id", "payload", "kind", "width", "height")
    val got = Multimodal.audioPerceptualHashBlocks(rows, blocks = 56)
      .collect().map(p => p.media_id -> p.phash).toMap
    assert(got(1L) == localHash(base, 56),
      "wide hash must equal the local recomputation")
    assert(got(2L) == localHash(bump, 56))
    assert(got(3L) == localHash(other, 56))
    // blocks = 12 degrades to the narrow operator exactly
    val narrow = Multimodal.audioPerceptualHash(rows)
      .collect().map(p => p.media_id -> p.phash).toMap
    val via12 = Multimodal.audioPerceptualHashBlocks(rows, blocks = 12)
      .collect().map(p => p.media_id -> p.phash).toMap
    assert(narrow == via12)
    // the X202 gate composition: the perturbed clip is a candidate of
    // the original through the 4x14-bit banding and verifies <= 3
    val hashes = Multimodal.audioPerceptualHashBlocks(rows, 56).toDF()
      .select(col("media_id"), col("phash"))
    val d12 = java.lang.Long.bitCount(got(1L) ^ got(2L))
    assert(d12 <= 3, s"one-sample bump moved $d12 bits — fixture needs retuning")
    val pairs = graft.operators.Dedup.fingerprintNearDupPairs(
      hashes, "media_id", "phash", bits = 56, bands = 4, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => Set(a, b) == Set(1L, 3L) } ||
      java.lang.Long.bitCount(got(1L) ^ got(3L)) <= 3)
    intercept[IllegalArgumentException] {
      Multimodal.audioPerceptualHashBlocks(rows, blocks = 64)
    }
  }
}
