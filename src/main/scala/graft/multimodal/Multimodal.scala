package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing for training-data pipelines: image/audio/
  * video ride as opaque `binary` columns with typed metadata; decode /
  * feature-extraction runs per-partition so heavyweight codecs are
  * initialized once per task, not per row (the Scala analogue of
  * `mapInPandas` batch processing).
  *
  * Images are decoded for real via [[ImageIoCodec]] (`javax.imageio` is
  * JDK-built-in: PNG/JPEG/BMP/GIF): header-parsed dimensions + format,
  * downsampled-grayscale feature vector, 64-bit dHash perceptual hash.
  * Audio/video codecs are absent from the JDK, so [[StubCodec]] remains
  * for those payloads only — deterministic pseudo-metadata from the
  * bytes, with the real partition-batched plumbing around it. */
object Multimodal {

  /** Decoded-asset schema appended to the carrier columns. */
  val metaSchema: StructType = StructType(Seq(
    StructField("n_bytes", IntegerType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("format", StringType, nullable = false),
    StructField("phash", LongType, nullable = false)))

  /** Per-asset feature vector length (4×4 grayscale grid for images). */
  val FeatureDim = 16

  trait Codec extends Serializable {
    /** (n_bytes, width, height, format) — header-only where possible. */
    def decodeMeta(payload: Array[Byte]): (Int, Int, Int, String)
    def features(payload: Array[Byte]): Array[Float]
    /** 64-bit perceptual hash (dHash for images). */
    def phash(payload: Array[Byte]): Long
    /** All three in one call — the per-row hot path. Codecs whose
      * feature/hash derivations share an expensive decode override
      * this to decode ONCE (same outputs by construction); the default
      * just delegates. */
    def decodeAll(payload: Array[Byte]):
        (Int, Int, Int, String, Array[Float], Long) = {
      val (n, w, h, fmt) = decodeMeta(payload)
      (n, w, h, fmt, features(payload), phash(payload))
    }
  }

  /** Deterministic fake codec for payloads the JDK cannot decode
    * (audio/video): dimensions and features are pure functions of the
    * bytes (so tests and oracles are stable). Swapping in a JNI/JavaCV
    * decoder changes no plan shape. */
  object StubCodec extends Codec {
    def decodeMeta(payload: Array[Byte]): (Int, Int, Int, String) = {
      val n = payload.length
      val w = (math.abs(n.toLong * 2654435761L) % 1920L).toInt + 1
      val h = (math.abs(n.toLong * 40503L) % 1080L).toInt + 1
      val fmt = if (n % 2 == 0) "png" else "jpeg"
      (n, w, h, fmt)
    }
    def features(payload: Array[Byte]): Array[Float] = {
      val out = new Array[Float](FeatureDim)
      var i = 0
      while (i < payload.length) {
        out(i % FeatureDim) += (payload(i) & 0xff) / 255.0f
        i += 1
      }
      out
    }
    def phash(payload: Array[Byte]): Long = {
      // FNV-1a over the bytes: deterministic stand-in, not perceptual.
      var h = 0xcbf29ce484222325L
      var i = 0
      while (i < payload.length) {
        h ^= (payload(i) & 0xffL); h *= 0x100000001b3L; i += 1
      }
      h
    }
  }

  /** Real image codec over `javax.imageio` (JDK-only — same offline
    * posture as the XLSX reader in io/Sources.scala).
    *
    *  - `decodeMeta` parses ONLY the header: `ImageReader.getWidth/
    *    getHeight(0)` read dimensions without decoding pixel data, so a
    *    100 TB metadata sweep never pays full-decode CPU.
    *  - `features` = 4×4 block-mean grayscale grid (BT.601 luma),
    *    a tiny real embedding for similarity blocking.
    *  - `phash` = canonical 64-bit dHash: downsample to 9×8 grayscale by
    *    block mean, bit(y,x) = 1 iff g(x+1,y) > g(x,y). Row-major bits.
    *
    * Readers are created per call (ImageIO reader instances are not
    * thread-safe); the in-memory cache flag is set once per JVM. */
  object ImageIoCodec extends Codec {
    import java.awt.image.BufferedImage
    import java.io.ByteArrayInputStream
    import javax.imageio.ImageIO

    // avoid ImageIO's disk-backed stream cache in executor threads
    ImageIO.setUseCache(false)

    def decodeMeta(payload: Array[Byte]): (Int, Int, Int, String) = {
      val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(payload))
      try {
        val readers = ImageIO.getImageReaders(iis)
        require(readers.hasNext, "unrecognized image format")
        val r = readers.next()
        try {
          r.setInput(iis, true, true)
          (payload.length, r.getWidth(0), r.getHeight(0),
            r.getFormatName.toLowerCase)
        } finally r.dispose()
      } finally iis.close()
    }

    private def decode(payload: Array[Byte]): BufferedImage = {
      val img = ImageIO.read(new ByteArrayInputStream(payload))
      require(img != null, "undecodable image payload")
      img
    }

    /** tw×th block-mean grayscale grid in [0,255], row-major, over a
      * pre-fetched ARGB pixel array (ONE bulk getRGB per image instead
      * of a color-model conversion per pixel). Accumulation order is
      * unchanged — identical doubles to the per-pixel form. */
    private def grayGridPx(px: Array[Int], w: Int, h: Int,
        tw: Int, th: Int): Array[Double] = {
      val out = new Array[Double](tw * th)
      var ty = 0
      while (ty < th) {
        val y0 = ty * h / th; val y1 = math.max((ty + 1) * h / th, y0 + 1)
        var tx = 0
        while (tx < tw) {
          val x0 = tx * w / tw; val x1 = math.max((tx + 1) * w / tw, x0 + 1)
          var sum = 0.0; var n = 0
          var y = y0
          while (y < y1 && y < h) {
            var x = x0
            while (x < x1 && x < w) {
              val rgb = px(y * w + x)
              sum += (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
                (rgb & 0xff) * 114) / 1000.0
              n += 1; x += 1
            }
            y += 1
          }
          out(ty * tw + tx) = if (n == 0) 0.0 else sum / n
          tx += 1
        }
        ty += 1
      }
      out
    }

    private def pixelsOf(img: BufferedImage): Array[Int] =
      img.getRGB(0, 0, img.getWidth, img.getHeight, null, 0, img.getWidth)

    private def grayGrid(img: BufferedImage, tw: Int, th: Int): Array[Double] =
      grayGridPx(pixelsOf(img), img.getWidth, img.getHeight, tw, th)

    def features(payload: Array[Byte]): Array[Float] =
      grayGrid(decode(payload), 4, 4).map(v => (v / 255.0).toFloat)

    private def phashOf(g: Array[Double]): Long = {
      var bits = 0L
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) {
          if (g(y * 9 + x + 1) > g(y * 9 + x)) bits |= 1L << (y * 8 + x)
          x += 1
        }
        y += 1
      }
      bits
    }

    def phash(payload: Array[Byte]): Long =
      phashOf(grayGrid(decode(payload), 9, 8))

    /** The hot path: ONE full decode + ONE pixel fetch serve both the
      * feature grid and the dHash grid (the split API decoded the
      * payload twice per row); header meta is read from the decoded
      * image's own dimensions plus the format probe, which is
      * header-only. Outputs are bit-identical to the split calls —
      * same grids, same fold order. */
    override def decodeAll(payload: Array[Byte]):
        (Int, Int, Int, String, Array[Float], Long) = {
      val (n, w, h, fmt) = decodeMeta(payload)
      val img = decode(payload)
      val px = pixelsOf(img)
      val feats = grayGridPx(px, img.getWidth, img.getHeight, 4, 4)
        .map(v => (v / 255.0).toFloat)
      val ph = phashOf(grayGridPx(px, img.getWidth, img.getHeight, 9, 8))
      (n, w, h, fmt, feats, ph)
    }
  }

  /** Attach decoded metadata + feature vector to a DataFrame with a
    * binary `payloadCol`. Partition-batched: the codec is bound once per
    * partition iterator (mapPartitions), rows stream through. */
  def decodeAndFeaturize(df: DataFrame, payloadCol: String,
      codec: Codec = ImageIoCodec): DataFrame = {
    val inSchema = df.schema
    val outSchema = StructType(inSchema.fields ++ metaSchema.fields :+
      StructField("features", ArrayType(FloatType, containsNull = false)))
    val payloadIdx = inSchema.fieldIndex(payloadCol)
    implicit val enc = RowEncoder.encoderFor(outSchema)
    df.mapPartitions { rows =>
      // per-partition codec binding happens here (once per task)
      rows.map { r =>
        val payload = r.getAs[Array[Byte]](payloadIdx)
        val (n, w, h, fmt, feats, ph) = codec.decodeAll(payload)
        Row.fromSeq(r.toSeq ++ Seq(n, w, h, fmt, ph, feats.toSeq))
      }
    }
  }

  /** IMAGE near-duplicate pairs — the multimodal counterpart of the
    * text SimHash pipeline: decode + 64-bit dHash per image (one
    * partition-batched pass), band the hash into 4×16-bit keys, bucket
    * self-join (near-identical images agree on ≥1 band whenever
    * Hamming ≤ 3 by pigeonhole over 4 bands), verify with exact
    * bit_count(xor) ≤ maxDist. Candidates are bounded by bucket
    * population — the corpus pair space is never formed. This is how
    * image dedup runs over a multimodal training corpus: the payload is
    * read once for hashing; pairing touches only 8-byte hashes. */
  def imageNearDups(assets: DataFrame, payloadCol: String,
      idCol: String = "doc_id", maxDist: Int = 3): DataFrame = {
    require(maxDist <= 3, "4-band blocking guarantees recall only for maxDist <= 3")
    val hashed = decodeAndFeaturize(assets.select(col(idCol),
        col(payloadCol)), payloadCol)
      .select(col(idCol), col("phash"))
    // 4 bands of 16 bits each: band b = bits [16b, 16b+16)
    val banded = hashed.select(col(idCol), col("phash"),
      posexplode(array((0 until 4).map(b =>
        pmod(shiftrightunsigned(col("phash"), b * 16), lit(65536L))): _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_key")
    val l = banded.select(col("band"), col("band_key"),
      col(idCol).as("id_a"), col("phash").as("ha"))
    val r = banded.select(col("band"), col("band_key"),
      col(idCol).as("id_b"), col("phash").as("hb"))
    l.join(r, Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("int").as("dist"))
      .distinct()
      .filter(col("dist") <= maxDist)
  }

  /** Blob-scan sizing: large binary rows blow past the default
    * bytes-per-partition heuristics (row count ≪ bytes). Repartition to
    * a target of ~`targetMB` of payload per task before decode — at
    * 100 TB this is the difference between 10k balanced tasks and a few
    * straggler tasks OOMing on skewed shards.
    *
    * Sizing comes from Catalyst plan statistics — for file-backed
    * frames that is the FileIndex's on-disk byte total, already listed
    * at planning time: NO data scan, no Spark job. (The previous
    * version ran sum(octet_length(payload)) first — an extra full read
    * of every blob at 100 TB.) The payload scan survives only as the
    * fallback for frames whose statistics are the unknown-size
    * placeholder (no file lineage and no CBO stats). */
  def repartitionForBlobs(df: DataFrame, payloadCol: String,
      targetMB: Int = 128): DataFrame = {
    val statBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val credible = statBytes > 0 && statBytes < BigInt(1L << 50) // < 1 PiB
    val totalBytes =
      if (credible) statBytes.toLong
      else df.agg(sum(octet_length(col(payloadCol)))).head.getLong(0).max(1L)
    val parts = math.max(1, (totalBytes / (targetMB.toLong * 1024 * 1024)).toInt)
    df.repartition(parts)
  }

  /** Decoded-audio schema appended to the carrier columns. */
  val audioMetaSchema: StructType = StructType(Seq(
    StructField("n_bytes", IntegerType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("n_samples", LongType, nullable = false),
    StructField("duration_ms", LongType, nullable = false),
    StructField("peak", IntegerType, nullable = false),
    StructField("rms", DoubleType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false)))

  /** Container parse + s16 mono PCM samples of a WAV/AIFF/AU payload
    * (javax.sound.sampled — JDK-built-in, same offline posture as
    * [[ImageIoCodec]]). Big-endian containers (AIFF, AU) and non-16-bit
    * sample sizes are normalized to s16le through the JDK's PCM→PCM
    * converter before reading; only the channel layout must already be
    * mono (downmixing would change the measured statistics).
    *
    * The SPI providers are resolved ONCE per JVM and called directly:
    * every AudioSystem.getAudioInputStream call takes the global
    * JDK13Services lock to re-resolve its provider list, which
    * serializes concurrent decodes — measured 2.2× SLOWDOWN when a
    * 32-task stage hammered it vs. single-threaded. With the cached
    * providers the decode loop is lock-free and scales with cores
    * (the readers/converters themselves are stateless per call). */
  private lazy val audioReaders: Seq[javax.sound.sampled.spi.AudioFileReader] = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileReader])
      .iterator().asScala.toSeq
  }
  private lazy val audioConverters: Seq[javax.sound.sampled.spi.FormatConversionProvider] = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.FormatConversionProvider])
      .iterator().asScala.toSeq
  }

  /** Warm-up hook (graft.Bench warms the m3 decode path with it):
    * decode + trivial fold. */
  private[graft] def probeDecode(payload: Array[Byte]): Long = {
    val (sr, samples) = readPcm(payload)
    sr.toLong + samples.length
  }

  private def readPcm(payload: Array[Byte]): (Int, Array[Short]) = {
    import javax.sound.sampled.{AudioFormat, AudioInputStream,
      UnsupportedAudioFileException}
    // the AudioSystem loop, minus its global lock: providers leave the
    // (mark-supporting) stream untouched when they decline
    val in = new java.io.ByteArrayInputStream(payload)
    var raw: AudioInputStream = null
    val it = audioReaders.iterator
    while (raw == null && it.hasNext) {
      try raw = it.next().getAudioInputStream(in)
      catch { case _: UnsupportedAudioFileException => () }
    }
    if (raw == null)
      throw new UnsupportedAudioFileException("no JDK provider recognizes the payload")
    try {
      val f = raw.getFormat
      require(f.getChannels == 1, "expected mono PCM")
      val needsConvert =
        f.getEncoding != AudioFormat.Encoding.PCM_SIGNED ||
          f.getSampleSizeInBits != 16 || f.isBigEndian
      val ais =
        if (!needsConvert) raw
        else {
          val target = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
            f.getSampleRate, 16, 1, 2, f.getSampleRate, false)
          audioConverters
            .find(_.isConversionSupported(target, f))
            .map(_.getAudioInputStream(target, raw))
            .getOrElse(throw new IllegalArgumentException(
              s"no JDK converter for $f -> s16le mono"))
        }
      val bytes = ais.readAllBytes()
      val sb = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).asShortBuffer()
      val out = new Array[Short](sb.remaining())
      sb.get(out)
      (f.getSampleRate.toInt, out)
    } finally raw.close()
  }

  /** REAL audio decode: RIFF/WAV container parse via javax.sound.sampled
    * plus the frame-level statistics a training-data audio sweep needs —
    * sample count, wall duration, peak, global RMS, and the number of
    * analysis frames a (frameLen, hop) short-time framing would produce
    * (the arithmetic every STFT/fbank extractor is built on).
    * Partition-batched like [[decodeAndFeaturize]]: rows stream through
    * one task-bound decoder, never a per-row codec init. */
  def decodeAudio(df: DataFrame, payloadCol: String,
      frameLen: Int = 256, hop: Int = 128): DataFrame = {
    require(frameLen > 0 && hop > 0, "frameLen and hop must be positive")
    val inSchema = df.schema
    val outSchema = StructType(inSchema.fields ++ audioMetaSchema.fields)
    val payloadIdx = inSchema.fieldIndex(payloadCol)
    implicit val enc = RowEncoder.encoderFor(outSchema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val payload = r.getAs[Array[Byte]](payloadIdx)
        val (sr, samples) = readPcm(payload)
        val n = samples.length
        var peak = 0
        var sumSq = 0.0
        var i = 0
        while (i < n) {
          val s = samples(i).toInt
          if (math.abs(s) > peak) peak = math.abs(s)
          sumSq += s.toDouble * s.toDouble
          i += 1
        }
        val rms = if (n == 0) 0.0 else math.sqrt(sumSq / n)
        val nFrames = if (n >= frameLen) (n - frameLen) / hop + 1 else 0
        val durMs = if (sr == 0) 0L else n.toLong * 1000L / sr
        Row.fromSeq(r.toSeq ++ Seq[Any](
          payload.length, sr, n.toLong, durMs, peak, rms, nFrames))
      }
    }
  }

  /** Frame-sampling shape for video payloads: explode K evenly-spaced
    * pseudo-frames per asset (stub: byte slices), keeping lineage
    * (asset id, frame index) — the downstream shape a real frame
    * extractor produces. */
  def sampleFrames(df: DataFrame, payloadCol: String, idCol: String,
      k: Int = 4): DataFrame =
    df.select(col(idCol), posexplode(transform(
      sequence(lit(0), lit(k - 1)),
      i => substring_index(
        base64(col(payloadCol)), "=", 1).substr(i * 8 + 1, lit(8)))))
      .withColumnRenamed("pos", "frame_idx")
      .withColumnRenamed("col", "frame_stub")
}
