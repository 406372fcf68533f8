package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, processed by batched per-partition
  * functions (the Scala analogue of `mapInPandas` — one
  * `mapPartitions` over an iterator, amortizing any per-batch codec
  * setup across the partition).
  *
  * Image decode is REAL for BMP/PNG via `javax.imageio` (pure JVM,
  * deterministic — see [[decodeImage]]/[[decodeFeatures]]); payloads
  * without an image magic fall back to `decodeStub`'s deterministic
  * byte features (audio/video codecs aren't in this environment).
  * Everything around the codec — schema, binary payload handling,
  * batch iteration, partition sizing — is what matters at 100 TB:
  * payloads never enter a shuffle (feature extraction happens
  * before any wide op; only the small feature vectors shuffle), and
  * partitions are sized by `spark.sql.files.maxPartitionBytes` so a
  * partition of payloads fits executor memory.
  */
object Multimodal {

  /** Media row: opaque payload + typed metadata, the storage schema a
    * real pipeline would use for images/frames/audio chunks. */
  case class MediaRow(media_id: Long, payload: Array[Byte], format: String,
      width: Int, height: Int)

  case class MediaFeatures(media_id: Long, format: String, n_bytes: Long,
      first_byte: Int, last_byte: Int, byte_sum_mod: Long)

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("payload", BinaryType),
    StructField("format", StringType),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false)))

  /** Synthesize a media table from `documents` (text bytes stand in
    * for an encoded image payload) — the plumbing-under-test is the
    * binary column, not the codec. */
  def mediaFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      encode(col("text"), "UTF-8").as("payload"),
      concat(lit("fmt"), (col("doc_id") % 3).cast("string")).as("format"),
      (col("n_chars") % 640).cast("int").as("width"),
      (col("n_chars") % 480).cast("int").as("height"))

  /** STUB decoder — stands in for image/audio decode. Deterministic
    * pure function of the bytes so tests and oracles can verify the
    * plumbing. A real deployment swaps only this function body for a
    * codec call; the batching/partitioning contract is unchanged. */
  def decodeStub(payload: Array[Byte]): (Int, Int, Long) = {
    if (payload == null || payload.isEmpty) (-1, -1, 0L)
    else {
      var s = 0L
      var i = 0
      while (i < payload.length) { s += payload(i) & 0xff; i += 1 }
      (payload(0) & 0xff, payload(payload.length - 1) & 0xff, s % 1000000007L)
    }
  }

  /** Batched per-partition feature extraction (mapInPandas-shaped):
    * one pass over the partition iterator, constant per-partition
    * setup, no payload ever leaves the map stage. */
  def extractFeatures(media: DataFrame): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "payload", "format").as[(Long, Array[Byte], String)]
      .mapPartitions { it =>
        // per-partition codec init would go here (amortized like
        // mapInPandas' per-batch setup)
        it.map { case (id, payload, fmt) =>
          val (first, last, sum) = decodeStub(payload)
          MediaFeatures(id, fmt,
            if (payload == null) 0L else payload.length.toLong, first, last, sum)
        }
      }
  }

  // ---- real codec path (javax.imageio — pure JVM, deterministic) ----

  case class ImageDecoded(media_id: Long, decoded: Boolean, img_width: Int,
      img_height: Int, pixel_sum: Long)

  /** PNG / BMP magic sniff — only payloads that declare themselves
    * images reach the codec; everything else stays on the stub path
    * (no cost and no decode attempt for text/audio payloads). */
  def isImageMagic(p: Array[Byte]): Boolean =
    p != null && p.length >= 8 &&
      (((p(0) & 0xff) == 0x89 && p(1) == 'P' && p(2) == 'N' && p(3) == 'G') ||
        (p(0) == 'B' && p(1) == 'M'))

  /** REAL image decode: `javax.imageio.ImageIO` (BMP and PNG readers
    * ship with the JDK — no native libs, bit-deterministic output).
    * Returns (width, height, Σ(r+g+b) over all pixels); None when the
    * payload is not a decodable image. */
  def decodeImage(payload: Array[Byte]): Option[(Int, Int, Long)] =
    decodeImageChannels(payload).map { case (w, h, r, g, b) => (w, h, r + g + b) }

  /** The REAL image decode (`javax.imageio` — BMP and PNG readers ship
    * with the JDK, no native libs, bit-deterministic): (width, height,
    * Σr, Σg, Σb); None for non-images / corrupt payloads.
    * [[decodeImage]] derives its Σ(r+g+b) form from this, and the
    * cross-modal retrieval bridge consumes the channel sums. */
  def decodeImageChannels(payload: Array[Byte]): Option[(Int, Int, Long, Long, Long)] = {
    if (!isImageMagic(payload)) return None
    try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))
      if (img == null) None
      else {
        var (r, g, b) = (0L, 0L, 0L)
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            val rgb = img.getRGB(x, y)
            r += (rgb >> 16) & 0xff
            g += (rgb >> 8) & 0xff
            b += rgb & 0xff
            x += 1
          }
          y += 1
        }
        Some((img.getWidth, img.getHeight, r, g, b))
      }
      // ImageIO plugins throw unchecked exceptions (IllegalArgument,
      // ArrayIndexOutOfBounds…) on corrupt payloads that pass the magic
      // sniff — the documented contract is stub fallback, not a task
      // crash, so catch everything non-fatal
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  case class ImageFeatureVec(media_id: Long, decoded: Boolean,
      features: Array[Double])

  /** Image payloads → fixed-dim feature vectors, the bridge that lets
    * the cosine top-k family run over a MULTIMODAL column: really
    * decode each payload (javax.imageio) and emit
    * [width, height, Σr, Σg, Σb] as an `array<double>` — every
    * component an exact small integer in IEEE double, so downstream
    * cosine arithmetic is engine-portable. (A real deployment swaps
    * this closed-form featurizer for a vision encoder behind the SAME
    * schema/batching contract; the Spark-side plumbing is what's
    * exercised.) Non-image payloads keep the deterministic stub
    * (decoded=false, [-1, -1, byte_sum, 0, 0]) so no row silently
    * disappears from the index. Batched mapPartitions — payloads never
    * leave the map stage; the output rows are 5 doubles + id. */
  def imageFeatureVectors(media: DataFrame): Dataset[ImageFeatureVec] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          decodeImageChannels(payload) match {
            case Some((w, h, r, g, b)) => ImageFeatureVec(id, decoded = true,
              Array(w.toDouble, h.toDouble, r.toDouble, g.toDouble, b.toDouble))
            case None =>
              val (_, _, s) = decodeStub(payload)
              ImageFeatureVec(id, decoded = false,
                Array(-1.0, -1.0, s.toDouble, 0.0, 0.0))
          }
        }
      }
  }

  case class ImagePHash(media_id: Long, decoded: Boolean, phash: Long)

  /** Perceptual block-mean hash over REAL decoded pixels (X123) — the
    * image-modality dedup fingerprint: per pixel gray = r+g+b, a fixed
    * 4×3 cell grid via integer floors (cx = x·4/w, cy = y·3/h — no
    * resampling, so the hash is EXACT integer arithmetic an oracle can
    * replay from closed-form pixels), bit cy·4+cx set iff the cell's
    * mean gray exceeds the image mean, compared cross-multiplied
    * (cellSum·N > totalSum·cellN) so no division ever happens.
    * Products stay under 2⁶³ through ~10⁸-pixel images (765·N²).
    * Same-content images collide exactly; small perturbations flip few
    * bits — band the hash (the SimHash X4 arrangement) for candidate
    * pairs. One batched mapPartitions; payloads never leave the map
    * stage. Non-images: decoded=false, phash −1. */
  def imagePerceptualHash(media: DataFrame): Dataset[ImagePHash] =
    imagePerceptualHashGrid(media, gridW = 4, gridH = 3)

  /** [[imagePerceptualHash]] with a PARAMETERIZED cell grid — the
    * corpus-gate form is the WIDE ~56-bit 8×7 grid: the 12-bit hash
    * collides at birthday rates on any real corpus (4096 buckets), so
    * banding it yields quadratic candidate lists, while 2⁵⁶ hash space
    * with 4×14-bit bands keeps buckets selective and Hamming ≤ 3 pairs
    * meaningful ([[graft.operators.Dedup.fingerprintNearDupPairs]]'s
    * pigeonhole contract needs bands > maxDist; 56 = 4·14 fits a
    * signed long with room). Bit cy·gridW+cx set iff the cell's mean
    * gray exceeds the image mean — identical integer arithmetic to the
    * 4×3 form at every grid size (cross-multiplied means, no
    * division), so the oracle replays any grid from closed-form
    * pixels. Cells an image is too small to populate stay 0 (empty
    * cell: 0·tn > ts·0 is false). */
  def imagePerceptualHashGrid(media: DataFrame, gridW: Int,
      gridH: Int): Dataset[ImagePHash] = {
    require(gridW >= 1 && gridH >= 1 && gridW * gridH <= 63,
      s"grid ${gridW}x$gridH must have 1..63 cells to fit a signed long")
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          imageGridHash(payload, gridW, gridH) match {
            case Some(hsh) => ImagePHash(id, decoded = true, hsh)
            case None => ImagePHash(id, decoded = false, -1L)
          }
        }
      }
  }

  /** The block-mean grid hash of ONE image payload — shared by
    * [[imagePerceptualHashGrid]] (whole images) and
    * [[videoFrameSignatures]] (per-frame): real ImageIO decode, bit
    * cy·gridW+cx set iff the cell's mean gray exceeds the image mean
    * via integer cross-multiplication. None for non-image /
    * undecodable payloads. */
  private def imageGridHash(payload: Array[Byte], gridW: Int,
      gridH: Int): Option[Long] = {
    val cells = gridW * gridH
    if (!isImageMagic(payload)) None
    else try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))
      if (img == null) None
      else {
        val w = img.getWidth; val h = img.getHeight
        val cellSum = new Array[Long](cells)
        val cellN = new Array[Long](cells)
        var y = 0
        while (y < h) {
          val cy = y * gridH / h
          var x = 0
          while (x < w) {
            val cx = x * gridW / w
            val rgb = img.getRGB(x, y)
            val g3 = ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
            val c = cy * gridW + cx
            cellSum(c) += g3; cellN(c) += 1
            x += 1
          }
          y += 1
        }
        val ts = cellSum.sum; val tn = cellN.sum
        var hash = 0L; var c = 0
        while (c < cells) {
          if (cellSum(c) * tn > ts * cellN(c)) hash |= (1L << c)
          c += 1
        }
        Some(hash)
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Minimal 24-bit uncompressed BMP encoder (BITMAPINFOHEADER,
    * bottom-up rows, 4-byte row padding). `rgb(x, y)` returns packed
    * 0xRRGGBB with y counted from the TOP row, like getRGB — any
    * conformant decoder must return exactly these pixels, which is
    * what makes the codec round-trip oracle-checkable. */
  def encodeBmp24(width: Int, height: Int, rgb: (Int, Int) => Int): Array[Byte] = {
    require(width > 0 && height > 0, s"bad dimensions ${width}x$height")
    val rowBytes = (width * 3 + 3) / 4 * 4
    val size = 54 + rowBytes * height
    val b = java.nio.ByteBuffer.allocate(size)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(size).putInt(0).putInt(54)
    b.putInt(40).putInt(width).putInt(height)
      .putShort(1).putShort(24).putInt(0).putInt(rowBytes * height)
      .putInt(2835).putInt(2835).putInt(0).putInt(0)
    var y = height - 1 // bottom-up storage order
    while (y >= 0) {
      var x = 0
      var written = 0
      while (x < width) {
        val c = rgb(x, y)
        b.put((c & 0xff).toByte)          // B
        b.put(((c >> 8) & 0xff).toByte)   // G
        b.put(((c >> 16) & 0xff).toByte)  // R
        written += 3
        x += 1
      }
      while (written < rowBytes) { b.put(0.toByte); written += 1 }
      y -= 1
    }
    b.array()
  }

  /** Widen the doc-id spine BEFORE payload generation (r21, guide
    * §2.5/§8): the rows entering the exchange are 8-byte ids — a proxy
    * shuffle — while everything downstream (encode, decode, hash) is
    * per-row heavy. Batch inputs widen only when narrower than the
    * session parallelism ([[graft.core.Tables.spreadIfNarrow]] — a
    * 100 TB scan with thousands of splits skips the exchange);
    * STREAMING inputs always widen, because a single-file micro-batch
    * source arrives as ONE split (the r20-measured 1-task decode
    * floor: 6,500 fps on one core vs 13,500 across 32) and a streaming
    * plan cannot be partition-probed. */
  private def spreadIds(ids: DataFrame): DataFrame =
    if (ids.isStreaming)
      ids.repartition(ids.sparkSession.sparkContext.defaultParallelism)
    else graft.core.Tables.spreadIfNarrow(ids)

  /** Real-BMP media table derived from `documents`: width/height and
    * every pixel are CLOSED-FORM functions of doc_id, so an oracle can
    * compute the decoded features arithmetically — while Spark really
    * encodes and then really decodes the bytes. Payload generation is
    * the same batched mapPartitions contract as every media op. */
  def bmpMediaFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    spreadIds(docs.select(col("doc_id"))).as[Long].mapPartitions { it =>
      it.map { id =>
        val w = (4 + id % 13).toInt
        val h = (3 + id % 7).toInt
        val payload = encodeBmp24(w, h, (x, y) => {
          val r = ((id + 7L * x + 13L * y) % 256).toInt
          val g = ((2L * id + 5L * x + 3L * y) % 256).toInt
          val bb = ((id + x.toLong * y) % 256).toInt
          (r << 16) | (g << 8) | bb
        })
        MediaRow(id, payload, "bmp", w, h)
      }
    }.toDF()
  }

  /** Feature extraction with the REAL codec in front and the stub as
    * fallback: image-magic payloads decode through javax.imageio
    * (decoded=true, real dimensions + pixel sum); anything else keeps
    * the deterministic byte-feature stub (decoded=false, dims −1,
    * pixel_sum = the stub's byte sum). Same batched mapPartitions
    * contract — payloads never leave the map stage. */
  def decodeFeatures(media: DataFrame): Dataset[ImageDecoded] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          decodeImage(payload) match {
            case Some((w, h, s)) => ImageDecoded(id, decoded = true, w, h, s)
            case None =>
              val (_, _, s) = decodeStub(payload)
              ImageDecoded(id, decoded = false, -1, -1, s)
          }
        }
      }
  }

  // ---- real audio path (javax.sound.sampled — JDK WAV reader) ----

  case class AudioDecoded(media_id: Long, decoded: Boolean, sample_rate: Int,
      n_samples: Int, sample_sum: Long)

  /** RIFF/WAVE magic sniff (the audio sibling of [[isImageMagic]]). */
  def isWavMagic(p: Array[Byte]): Boolean =
    p != null && p.length >= 12 &&
      p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
      p(8) == 'W' && p(9) == 'A' && p(10) == 'V' && p(11) == 'E'

  /** Minimal PCM16 mono WAV encoder (RIFF + fmt + data chunks, LE). */
  def encodeWavPcm16(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
    require(sampleRate > 0, s"bad sample rate $sampleRate")
    val dataBytes = samples.length * 2
    val b = java.nio.ByteBuffer.allocate(44 + dataBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataBytes)
      .put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1)                       // PCM
      .putShort(1)                       // mono
      .putInt(sampleRate)
      .putInt(sampleRate * 2)            // byte rate
      .putShort(2)                       // block align
      .putShort(16)                      // bits per sample
    b.put("data".getBytes("US-ASCII")).putInt(dataBytes)
    samples.foreach(b.putShort)
    b.array()
  }

  /** REAL audio decode: `javax.sound.sampled.AudioSystem` (the WAV/PCM
    * reader ships with the JDK — headless-safe, deterministic).
    * Returns (sampleRate, nSamples, Σ sample values over all channels);
    * None when the payload is not a decodable PCM16 WAV. */
  /** ONE copy of the PCM16 decode contract for every audio consumer
    * ([[decodeWav]], [[decodeWavVector]], [[audioPerceptualHash]]):
    * RIFF sniff, 16-bit PCM_SIGNED format gate, endian-ordered sample
    * buffer, stream close, and the stub-fallback catch (AudioSystem
    * throws unchecked exceptions on corrupt payloads that pass the
    * sniff — same contract as decodeImage: never a task crash). A
    * format-support change lands here once and every consumer agrees
    * on what counts as "decoded". */
  private def withPcm16[T](payload: Array[Byte])(
      f: (java.nio.ByteBuffer, javax.sound.sampled.AudioFormat) => T): Option[T] = {
    if (!isWavMagic(payload)) return None
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val fmt = in.getFormat
        if (fmt.getSampleSizeInBits != 16 ||
          fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED)
          None
        else {
          val bytes = in.readAllBytes()
          val buf = java.nio.ByteBuffer.wrap(bytes).order(
            if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
            else java.nio.ByteOrder.LITTLE_ENDIAN)
          Some(f(buf, fmt))
        }
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  def decodeWav(payload: Array[Byte]): Option[(Int, Int, Long)] =
    withPcm16(payload) { (buf, fmt) =>
      var s = 0L
      var n = 0
      while (buf.remaining() >= 2) { s += buf.getShort; n += 1 }
      (fmt.getSampleRate.toInt, n / math.max(fmt.getChannels, 1), s)
    }

  case class AudioPHash(media_id: Long, decoded: Boolean, phash: Long)

  /** Audio block-energy fingerprint (X124) — the audio sibling of
    * [[imagePerceptualHash]]: the PCM16 sample stream splits into 12
    * contiguous blocks (block = i·12/n, integer floor — no resampling),
    * bit b set iff block b's mean |sample| exceeds the clip mean,
    * compared cross-multiplied in integers (no division). Same-content
    * clips collide exactly; fingerprints band like SimHash for
    * near-dup candidates. Exact through ~1.6·10⁷ samples per clip
    * (32768·n² < 2⁶³ — half an hour at 8 kHz mono; longer clips
    * should fingerprint per-segment anyway). One batched
    * mapPartitions; payloads never leave the map stage. Non-WAV /
    * unsupported formats: decoded=false, phash −1. */
  def audioPerceptualHash(media: DataFrame): Dataset[AudioPHash] =
    audioPerceptualHashBlocks(media, blocks = 12)

  /** [[audioPerceptualHash]] with a PARAMETERIZED block count — the
    * audio analogue of [[imagePerceptualHashGrid]]'s wide form,
    * closing the last modality asymmetry: the 12-bit hash is
    * collision-saturated by WIDTH on any real corpus (measured at
    * sf0.1: 25 distinct sigs over 5,000 clips, 44% of ALL pairs
    * within Hamming 3 — banding that is quadratic noise), while 56
    * blocks leave collisions bounded by CONTENT entropy only
    * (measured: 388 distinct sigs, 1.3% of pairs — a 33× candidate
    * reduction, and the survivors are genuine generator near-dups).
    * 56 = 4×14-bit bands fits [[graft.operators.Dedup.fingerprintNearDupPairs]]'s
    * pigeonhole contract (bands > maxDist) in a signed long, the
    * imagePerceptualHashGrid convention. Identical integer
    * arithmetic at every width — block = i·blocks/n integer floor,
    * bit b set iff block mean |sample| exceeds the clip mean via
    * cross-multiplication (no division), blocks a clip is too short
    * to populate stay 0 — so an oracle replays any width from the
    * closed-form samples. Exactness: |sample| ≤ 32768 keeps
    * bSum·tn < 2⁶³ through ~1.6·10⁷ samples regardless of width. */
  def audioPerceptualHashBlocks(media: DataFrame,
      blocks: Int): Dataset[AudioPHash] = {
    require(blocks >= 1 && blocks <= 63,
      s"audioPerceptualHashBlocks: blocks=$blocks must be 1..63 to fit" +
        " a signed long")
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          val res: Option[Long] = withPcm16(payload) { (buf, _) =>
            val n = buf.remaining() / 2
            if (n == 0) 0L
            else {
              val bSum = new Array[Long](blocks)
              val bN = new Array[Long](blocks)
              var i = 0L
              while (buf.remaining() >= 2) {
                val b = (i * blocks / n).toInt
                bSum(b) += math.abs(buf.getShort.toLong)
                bN(b) += 1; i += 1
              }
              val ts = bSum.sum; val tn = bN.sum
              var hash = 0L; var c = 0
              while (c < blocks) {
                if (bSum(c) * tn > ts * bN(c)) hash |= (1L << c)
                c += 1
              }
              hash
            }
          }
          res match {
            case Some(hsh) => AudioPHash(id, decoded = true, hsh)
            case None => AudioPHash(id, decoded = false, -1L)
          }
        }
      }
  }

  /** Real-WAV media table derived from `documents`: sample count and
    * every PCM sample are CLOSED-FORM functions of doc_id (the audio
    * sibling of [[bmpMediaFromDocuments]]) — Spark really encodes and
    * then really decodes the bytes while an oracle computes the decoded
    * features arithmetically. */
  def wavMediaFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    spreadIds(docs.select(col("doc_id"))).as[Long].mapPartitions { it =>
      it.map { id =>
        val n = (16 + id % 33).toInt
        val samples = Array.tabulate(n)(i =>
          ((id * 31L + i * 17L) % 4096L - 2048L).toShort)
        MediaRow(id, encodeWavPcm16(8000, samples), "wav", 0, 0)
      }
    }.toDF()
  }

  /** Audio feature extraction with the REAL codec in front and the
    * stub as fallback (same contract as [[decodeFeatures]]): WAV-magic
    * payloads decode through javax.sound.sampled; anything else keeps
    * the deterministic byte-feature stub (decoded=false, −1 dims,
    * sample_sum = the stub's byte sum). */
  def decodeAudioFeatures(media: DataFrame): Dataset[AudioDecoded] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          decodeWav(payload) match {
            case Some((rate, n, s)) =>
              AudioDecoded(id, decoded = true, rate, n, s)
            case None =>
              val (_, _, s) = decodeStub(payload)
              AudioDecoded(id, decoded = false, -1, -1, s)
          }
        }
      }
  }

  case class AudioFeatureVec(media_id: Long, decoded: Boolean,
      features: Array[Double])

  /** REAL audio decode → fixed-dim feature vector: one pass over the
    * decoded PCM16 sample stream emitting
    * [n_samples, Σs, Σ|s|, Σs², first_sample] as `array<double>` —
    * the audio sibling of [[imageFeatureVectors]], and the bridge that
    * runs the cosine top-k family over an AUDIO column. Every
    * component is an exact integer in IEEE double (n ≤ payload bytes,
    * Σs² bounded by n·2¹⁴·2¹⁴ ≪ 2⁵³), so downstream cosine arithmetic
    * is engine-portable. (A production deployment swaps this
    * closed-form featurizer for an audio encoder behind the SAME
    * schema/batching contract.) Non-WAV payloads keep the
    * deterministic stub (decoded=false, [-1, -1, byte_sum, 0, 0]) so
    * no row silently disappears from the index. Batched
    * mapPartitions — payloads never leave the map stage. */
  def audioFeatureVectors(media: DataFrame): Dataset[AudioFeatureVec] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          decodeWavVector(payload) match {
            case Some(v) => AudioFeatureVec(id, decoded = true, v)
            case None =>
              val (_, _, s) = decodeStub(payload)
              AudioFeatureVec(id, decoded = false,
                Array(-1.0, -1.0, s.toDouble, 0.0, 0.0))
          }
        }
      }
  }

  /** One-pass PCM16 feature extraction behind [[audioFeatureVectors]]:
    * same javax.sound.sampled decode contract as [[decodeWav]], but
    * accumulating [n, Σs, Σ|s|, Σs², first] over the raw sample
    * stream (all channels; the synthetic corpus is mono). */
  def decodeWavVector(payload: Array[Byte]): Option[Array[Double]] =
    withPcm16(payload) { (buf, _) =>
      var n = 0L
      var sum = 0L
      var sumAbs = 0L
      var sumSq = 0L
      var first = 0L
      while (buf.remaining() >= 2) {
        val s = buf.getShort.toLong
        if (n == 0) first = s
        sum += s
        sumAbs += math.abs(s)
        sumSq += s * s
        n += 1
      }
      if (n == 0) None
      else Some(Array(n.toDouble, sum.toDouble, sumAbs.toDouble,
        sumSq.toDouble, first.toDouble))
    }.flatten

  case class MediaResized(media_id: Long, resized: Array[Byte], n_out: Int)

  /** STUB resize — stands in for an image resize: deterministic
    * stride-downsample of the payload to ≤ `targetBytes` bytes
    * (byte i*stride for i < min(n, target), stride = n / n_out,
    * integer math). Swapping the body for a real scaler keeps the
    * batching contract unchanged, like decodeStub. */
  def resizeStub(payload: Array[Byte], targetBytes: Int): Array[Byte] = {
    if (payload == null || payload.isEmpty) return Array.emptyByteArray
    val nOut = math.min(payload.length, targetBytes)
    val stride = payload.length / nOut
    Array.tabulate(nOut)(i => payload(i * stride))
  }

  /** Batched per-partition resize (same mapInPandas-shaped contract as
    * extractFeatures — payloads never leave the map stage). */
  def resizePayloads(media: DataFrame, targetBytes: Int): Dataset[MediaResized] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          val out = resizeStub(payload, targetBytes)
          MediaResized(id, out, out.length)
        }
      }
  }

  /** Frame-sampling shape: explode a video payload into every nth
    * "frame" (fixed-size byte slice), keeping (media_id, frame_idx,
    * frame_bytes). Pure column ops — the slicing pattern a real
    * frame sampler follows after decode. */
  def sampleFrames(media: DataFrame, frameBytes: Int, everyNth: Int): DataFrame =
    sampleFrames(media, lit(frameBytes), everyNth)

  /** PER-ROW frame-size form (r17 verdict #6): real container
    * varieties carry their frame geometry in per-file metadata, so
    * the demux stand-in takes the frame size as a COLUMN — one media
    * table can mix containers with different geometries and each row
    * slices by its own size. Still pure column ops at zero plan cost
    * (the constant-size form above is exactly this with a literal, so
    * every existing gate plan and hash is unchanged). Frames are
    * constant-size WITHIN a video; a length-prefixed variable-frame
    * container needs a real demuxer behind the same schema/batching
    * contract. */
  def sampleFrames(media: DataFrame, frameBytes: Column,
      everyNth: Int): DataFrame = {
    val fb = frameBytes.cast("int")
    val nFrames = floor(length(col("payload")) / fb).cast("int")
    media
      .select(col("media_id"), col("payload"), fb.as("_fb"), nFrames.as("_n"))
      .filter(col("_n") > 0)
      .select(col("media_id"), col("_fb"),
        explode(sequence(lit(0), col("_n") - 1, lit(everyNth))).as("frame_idx"),
        col("payload"))
      .select(col("media_id"), col("frame_idx"),
        col("payload").substr(col("frame_idx") * col("_fb") + 1, col("_fb"))
          .as("frame"))
  }

  // -------------------- video (X205) --------------------

  /** Fixed frame geometry of the synthetic video corpus: 16×14 BMP24
    * frames — rowBytes = (16·3+3)/4·4 = 48, frame size = 54 + 48·14 =
    * 726 bytes. A constant frame size is what makes [[sampleFrames]]'
    * substr slicing a REAL demuxer for this container. */
  val VideoFrameW = 16
  val VideoFrameH = 14
  val VideoFrameBytes = 54 + ((VideoFrameW * 3 + 3) / 4 * 4) * VideoFrameH

  /** Real-VIDEO media table derived from `documents` — the video
    * sibling of [[bmpMediaFromDocuments]]: a "video" is a
    * concatenation of 4 + id % 5 equal-size real BMP frames (the
    * fixed-frame container [[sampleFrames]] demuxes by substr, each
    * slice a decodable image), with frame f's pixels a CLOSED-FORM
    * function of the content seed c = id % 199 + f — the blue channel
    * interacts c with the pixel POSITION (c·(x+1)·(y+1)), because a
    * seed that merely shifts every pixel cancels out of a
    * mean-threshold hash (cell means and the global mean move
    * together), which would collapse every frame to one signature.
    * The seed structure plants genuine overlap: videos with the same
    * id % 199 share every
    * common-index frame, and videos whose seed ranges overlap share a
    * frame RUN — partial near-dups with a computable Jaccard, which
    * is exactly what the frame-signature dedup must measure. (A
    * production deployment swaps this for a real demuxer behind the
    * SAME fixed-frame schema/batching contract.) */
  def videoMediaFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    spreadIds(docs.select(col("doc_id"))).as[Long].mapPartitions { it =>
      it.map { id =>
        val frames = (4 + id % 5).toInt
        val bufs = (0 until frames).map { f =>
          val c = id % 199 + f
          encodeBmp24(VideoFrameW, VideoFrameH, (x, y) => {
            val r = ((c + 7L * x + 13L * y) % 256).toInt
            val g = ((2L * c + 5L * x + 3L * y) % 256).toInt
            val bb = ((c * (x + 1L) * (y + 1L)) % 256).toInt
            (r << 16) | (g << 8) | bb
          })
        }
        val payload = new Array[Byte](bufs.map(_.length).sum)
        var off = 0
        bufs.foreach { b =>
          System.arraycopy(b, 0, payload, off, b.length); off += b.length
        }
        MediaRow(id, payload, "vbmp", VideoFrameW, VideoFrameH)
      }
    }.toDF()
  }

  case class VideoFrameSig(media_id: Long, frame_idx: Int,
      decoded: Boolean, fhash: Long)

  /** Per-frame perceptual signatures of a fixed-frame video column
    * (X205) — the frame-fingerprint front half of video near-dup:
    * [[sampleFrames]] demuxes the container (everyNth = the
    * frame-sampling cost knob — production samples ~1 fps, the gate
    * hashes every frame), each sampled frame REALLY decodes through
    * ImageIO and hashes with the shared wide block-mean grid
    * ([[imagePerceptualHashGrid]]'s arithmetic — any grid
    * oracle-replayable from closed-form pixels). Batched
    * mapPartitions; payloads never leave the map stage — the rows
    * that shuffle downstream are (id, frame_idx, 8-byte hash).
    * Undecodable frames keep their row with decoded=false / fhash −1
    * so no frame silently disappears from the index. */
  def videoFrameSignatures(media: DataFrame, frameBytes: Int,
      everyNth: Int = 1, gridW: Int = 8, gridH: Int = 7): Dataset[VideoFrameSig] = {
    require(frameBytes >= 1,
      s"videoFrameSignatures: bad frameBytes=$frameBytes")
    videoFrameSignatures(media, lit(frameBytes), everyNth, gridW, gridH)
  }

  /** PER-ROW frame-size form of [[videoFrameSignatures]] (the
    * [[sampleFrames]] Column overload carried through decode+hash):
    * one media table can mix container geometries, each row demuxing
    * by its own `frameBytes` column. The block-mean grid hash is
    * geometry-agnostic (ImageIO reads each frame's own header), so
    * mixed-geometry corpora index into the same fhash domain. */
  def videoFrameSignatures(media: DataFrame, frameBytes: Column,
      everyNth: Int, gridW: Int, gridH: Int): Dataset[VideoFrameSig] = {
    require(gridW >= 1 && gridH >= 1 && gridW * gridH <= 63,
      s"grid ${gridW}x$gridH must have 1..63 cells to fit a signed long")
    require(everyNth >= 1,
      s"videoFrameSignatures: bad everyNth=$everyNth")
    val spark = media.sparkSession
    import spark.implicits._
    sampleFrames(media, frameBytes, everyNth)
      .select(col("media_id"), col("frame_idx"), col("frame"))
      .as[(Long, Int, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, f, frame) =>
          imageGridHash(frame, gridW, gridH) match {
            case Some(hsh) => VideoFrameSig(id, f, decoded = true, hsh)
            case None => VideoFrameSig(id, f, decoded = false, -1L)
          }
        }
      }
  }

  /** INCREMENTAL (cross-snapshot) video near-dup (X206) — the
    * ingestion form, following the family discipline (batch →
    * increment → stream) every dedup family keeps: a batch of new
    * videos dedups against the already-kept corpus represented ONLY
    * by its frame-signature rows (id + 8-byte hash per distinct
    * frame — payloads stay in cold storage, history is never
    * re-decoded). Drop rule matches `incrementalFingerprintNearDup`'s
    * pairwise convention: a batch video drops when its frame-set
    * Jaccard vs ANY stored video meets the threshold, or vs a
    * LOWER-ID batch sibling; survivors' (id, fhash) rows are the
    * store-append record. Empty store ≡ the batch pairwise rule over
    * [[videoNearDupPairs]]' pair set (spec-pinned, plus a re-arrival
    * drop and a two-increment chain).
    *
    * The `maxFrameDf` stopword cap counts document frequency over
    * store ∪ batch — the same vocabulary a batch run over the union
    * would see, which is what makes increment ≡ union-batch exact
    * rather than approximate. Scale shape: inverted index on the
    * hash (candidates only where a hash is shared — never
    * batch × store), (bid, sid) partial-agg counts, pinned
    * shuffle-hash joins on 16-byte rows.
    *
    * SERVING CONTRACT (r19 sf1 decade, PLANS.md): call this with a
    * FINITE `maxFrameDf` — the capped configuration
    * (`q_incremental_video_neardup_capped`, df ≤ 8) is the serving
    * entry point, measured FLAT across the sf0.1→sf1 decade
    * (α ≈ 0). The uncapped form (`maxFrameDf = Long.MaxValue`) is the
    * MINING/PARITY configuration only: on a corpus whose duplicate
    * classes densify, its inverted-index pair term grows with
    * class² — measured α 1.77 on the ×10 replica corpus — so it must
    * not appear in any always-on ingest recipe. */
  def incrementalVideoNearDup(batchSigs: DataFrame, storeSigs: DataFrame,
      threshold: Double, idCol: String = "media_id",
      sigCol: String = "fhash",
      maxFrameDf: Long = Long.MaxValue): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"incrementalVideoNearDup: threshold=$threshold must be in (0, 1]")
    for ((df, side) <- Seq((batchSigs, "batch"), (storeSigs, "store")))
      require(df.columns.contains(idCol) && df.columns.contains(sigCol),
        s"incrementalVideoNearDup: $side sigs must carry ($idCol, $sigCol)" +
          s", got ${df.columns.mkString(", ")}")
    val b0 = batchSigs.select(col(idCol).cast("long").as("id"),
      col(sigCol).cast("long").as("h")).distinct()
    val s0 = storeSigs.select(col(idCol).cast("long").as("id"),
      col(sigCol).cast("long").as("h")).distinct()
    // stopword vocabulary over store ∪ batch (the union-batch rule).
    // The union is DEDUPLICATED across sides: a re-arrived id present
    // in both batch and store must count each (id, h) row once — the
    // df a one-shot batch over the deduplicated union would see — or
    // a hash could cross maxFrameDf only in the increment.
    val (b, s) =
      if (maxFrameDf == Long.MaxValue) (b0, s0)
      else {
        val hot = b0.unionByName(s0).distinct().groupBy(col("h")).count()
          .filter(col("count") > maxFrameDf).select(col("h"))
        (b0.join(broadcast(hot), Seq("h"), "left_anti"),
          s0.join(broadcast(hot), Seq("h"), "left_anti"))
      }
    def sized(d: DataFrame): DataFrame =
      d.join(d.groupBy(col("id")).agg(count(lit(1)).as("_size"))
        .hint("shuffle_hash"), Seq("id"))
    // pre-partitioned on h: the store join and the within-batch
    // bucket aggregation read one batch exchange
    val bSized = sized(b).repartition(col("h"))
    val bS = bSized.select(col("h"), col("id").as("bid"),
      col("_size").as("_sb"))
    val sS = sized(s).select(col("h"), col("id").as("sid"),
      col("_size").as("_ss"))
    def jac(shared: Column, n1: Column, n2: Column): Column =
      round(shared.cast("double") / (n1 + n2 - shared).cast("double"), 6)
    val vsStore = bS.hint("shuffle_hash").join(sS, Seq("h"))
      .groupBy(col("bid"), col("sid"), col("_sb"), col("_ss"))
      .agg(count(lit(1)).as("_shared"))
      .filter(jac(col("_shared"), col("_sb"), col("_ss")) >= threshold)
      .select(col("bid"))
    val within = Candidates.sharedKeyJaccard(bSized, "h")
      .filter(round(col("jaccard"), 6) >= threshold)
      .select(col("id2").as("bid"))
    val dups = vsStore.unionByName(within).distinct()
    b0.join(dups.hint("shuffle_hash"), b0("id") === dups("bid"), "left_anti")
      .select(col("id").as(idCol), col("h").as(sigCol))
  }

  /** VIDEO near-dup by frame-signature set overlap (X205) — the
    * production pattern for video dedup at scale (per-frame
    * fingerprints + set containment, not raw-pixel comparison): two
    * videos pair when the Jaccard of their DISTINCT frame-hash sets
    * meets the threshold. The [[graft.operators.Dedup.ngramJaccardPairs]]
    * shape applied to the frame domain: one inverted index on the
    * 8-byte frame hash (never all-pairs — candidates only where a
    * hash is shared), one (id1, id2) partial-agg count, exact Jaccard
    * from the per-video distinct-hash sizes, 6dp-rounded for
    * hash-portability. `maxFrameDf` drops frame hashes shared by more
    * than that many videos from the index — the hot-shingle cap:
    * a ubiquitous frame (intro card, black frame) is the stopword of
    * the video domain, and its inverted-index bucket is the quadratic
    * hazard; dropped hashes leave BOTH the index and the set sizes,
    * so the Jaccard stays a true set statistic over the retained
    * vocabulary (spec-pinned). */
  def videoNearDupPairs(sigs: DataFrame, threshold: Double,
      idCol: String = "media_id", sigCol: String = "fhash",
      maxFrameDf: Long = Long.MaxValue): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"videoNearDupPairs: threshold=$threshold must be in (0, 1]")
    require(sigs.columns.contains(idCol) && sigs.columns.contains(sigCol),
      s"videoNearDupPairs: sigs must carry ($idCol, $sigCol), got " +
        sigs.columns.mkString(", "))
    val d0 = sigs.select(col(idCol).cast("long").as("id"),
      col(sigCol).cast("long").as("h")).distinct()
    val d =
      if (maxFrameDf == Long.MaxValue) d0
      else {
        val hot = d0.groupBy(col("h")).count()
          .filter(col("count") > maxFrameDf).select(col("h"))
        d0.join(broadcast(hot), Seq("h"), "left_anti")
      }
    val sized = d.join(
      d.groupBy(col("id")).agg(count(lit(1)).as("_size"))
        .hint("shuffle_hash"), Seq("id"))
    Candidates.sharedKeyJaccard(sized, "h")
      .withColumn("jaccard", round(col("jaccard"), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("shared"), col("jaccard"))
  }
}
