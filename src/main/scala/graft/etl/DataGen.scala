package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic activity/HR generator (S20) — the Spark
  * re-expression of Strava_Data/strava_like_data.ipynb (cell e644dfe3):
  * per-employee activity counts keyed by transport mode, per-sport
  * duration/speed ranges, ~30% comment rate, fixed seed.
  *
  * Distributed by construction: `spark.range(n)` + pure hash-arithmetic
  * pseudo-randoms (xxhash64 of (seed, id, salt)) — no driver loops, no
  * rand() partition-dependence, reproducible at any parallelism. */
object DataGen {

  val Seed = 42L

  /** u(id, salt) ∈ [0,1) — deterministic uniform from a 64-bit hash. */
  private def u(id: org.apache.spark.sql.Column, salt: Int) =
    pmod(xxhash64(lit(Seed), id, lit(salt)), lit(1000000L)).cast("double") / 1000000.0

  private val sports = Seq("Course à pied", "Vélo", "Natation", "Marche")
  private val modes = Seq(
    "Marche/running", "Vélo/Trottinette/Autres", "Voiture/Moto",
    "Transports en commun")

  /** nEmployees HR rows with stable attributes. */
  def hr(spark: SparkSession, nEmployees: Int = 161): DataFrame = {
    val id = col("id").cast("int")
    spark.range(1, nEmployees + 1L).select(
      id.as("ID salarié"),
      concat(lit("Nom_"), id).as("Nom"),
      concat(lit("Prénom_"), id).as("Prénom"),
      concat(id, lit(" rue de la Paix, Paris")).as("Adresse du domicile"),
      element_at(typedlit(modes), (pmod(xxhash64(lit(Seed), id, lit(1)),
        lit(modes.size)) + 1).cast("int")).as("Moyen de déplacement"),
      date_format(date_add(lit("1970-01-01").cast("date"),
        (u(id, 2) * 9000 + 3650).cast("int")), "yyyy-MM-dd")
        .as("Date de naissance"),
      date_format(date_add(lit("2015-01-01").cast("date"),
        (u(id, 3) * 3000).cast("int")), "yyyy-MM-dd").as("Date d'embauche"),
      round(lit(25000) + u(id, 4) * 60000, 2).as("Salaire brut"),
      (lit(25) + (u(id, 5) * 10).cast("int")).as("Nombre de jours de CP"),
      element_at(typedlit(Seq("Sales", "Tech", "HR", "Ops")),
        (pmod(xxhash64(lit(Seed), id, lit(6)), lit(4)) + 1).cast("int")).as("BU"),
      when(u(id, 7) < 0.8, "CDI").otherwise("CDD").as("Type de contrat"))
  }

  /** Sportive dimension: ~60% practice a sport. */
  def sportive(spark: SparkSession, nEmployees: Int = 161): DataFrame = {
    val id = col("id").cast("int")
    spark.range(1, nEmployees + 1L).select(
      id.as("ID salarié"),
      when(u(id, 8) < 0.6, "Oui").otherwise("Non").as("Pratique d'un sport"))
  }

  /** Activity fact rows: employees on active transport modes log more
    * sessions (the reference's count-by-mode rule); per-sport plausible
    * duration and distance; 30% comments; sequential IDs. */
  def activities(spark: SparkSession, nEmployees: Int = 161,
      avgPerEmployee: Int = 10): DataFrame = {
    val n = nEmployees * avgPerEmployee
    val rid = col("id")
    val emp = (pmod(xxhash64(lit(Seed), rid, lit(10)), lit(nEmployees.toLong))
      + 1).cast("int")
    val sportIdx = (pmod(xxhash64(lit(Seed), rid, lit(11)), lit(sports.size)) + 1)
      .cast("int")
    val sport = element_at(typedlit(sports), sportIdx)
    val durationS = (lit(600) + (u(rid, 12) * 7200).cast("int"))
    // speed (m/s) band per sport: run ~3, bike ~8, swim ~1.2, walk ~1.5
    val speed = element_at(typedlit(Seq(3.0, 8.0, 1.2, 1.5)), sportIdx)
    val start = timestamp_micros(
      (lit(java.time.Instant.parse("2024-08-01T06:00:00Z").getEpochSecond) +
        (u(rid, 13) * 86400 * 120).cast("long")) * 1000000L)
    spark.range(1, n + 1L).select(
      rid.cast("int").as("ID"),
      emp.as("ID_salarie"),
      start.as("Date_de_debut"),
      sport.as("Sport_type"),
      when(u(rid, 14) < 0.05, lit(null).cast("int"))
        .otherwise((speed * durationS * (lit(0.8) + u(rid, 15) * 0.4)).cast("int"))
        .as("Distance_m"),
      (start + make_dt_interval(lit(0), lit(0), lit(0), durationS.cast("double")))
        .as("Date_de_fin"),
      when(u(rid, 16) < 0.3, concat(lit("Commentaire "), rid)).otherwise(null)
        .as("Commentaire"))
  }

  // ---------------------------------------------------------------------
  // Deterministic image fixtures (multimodal gate m2_image_decode)
  // ---------------------------------------------------------------------

  /** Expected properties of [[imageBytes]] for a given id — shared by the
    * Spark generator, the m2 oracle SQL, and MultimodalSpec. */
  def imageWidth(id: Long): Int = 16 + ((id * 7) % 48).toInt
  def imageHeight(id: Long): Int = 16 + ((id * 13) % 48).toInt
  def imageFormat(id: Long): String = if (id % 3 == 0) "bmp" else "png"
  /** Encode a real PNG/BMP via `javax.imageio` with dimensions, format
    * and dHash that are pure functions of `id` — so a SQL oracle can
    * state the expected decode output arithmetically. */
  def imageBytes(id: Long): Array[Byte] = {
    import java.awt.image.BufferedImage
    val w = imageWidth(id); val h = imageHeight(id)
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    // every row is identical: build it once, blit per row (setRGB per
    // pixel pays a color-model conversion per call — same pixels)
    val row = new Array[Int](w)
    var x = 0
    while (x < w) {
      val lum =
        if (id % 2 == 0) 128
        else math.round(255.0 * x / (w - 1)).toInt
      row(x) = (lum << 16) | (lum << 8) | lum
      x += 1
    }
    var y = 0
    while (y < h) {
      img.setRGB(0, y, w, 1, row, 0, w)
      y += 1
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, imageFormat(id), baos)
    baos.toByteArray
  }

  /** Fixture table: one real encoded image per id, alongside the
    * expected decode results (what a correctness gate compares against).
    * The encode UDF is generator-only code, never a query hot path. */
  def imageAssets(spark: SparkSession, n: Int = 64): DataFrame = {
    val enc = udf((id: Long) => imageBytes(id))
    val id = col("id")
    spark.range(0, n.toLong).select(
      id.as("asset_id"),
      enc(id).as("payload"),
      (lit(16) + (id * 7) % 48).cast("int").as("expected_width"),
      (lit(16) + (id * 13) % 48).cast("int").as("expected_height"),
      when(id % 3 === 0, "bmp").otherwise("png").as("expected_format"),
      when(id % 2 === 0, 0L).otherwise(-1L).as("expected_phash"))
  }

  // ---- deterministic audio fixtures (real WAV, javax.sound encoded) ----

  /** Audio fixture parameters — pure functions of the id so a SQL
    * oracle can state the expected decode output arithmetically. */
  def audioSampleRate(id: Long): Int = (8000 * (1 + id % 2)).toInt
  def audioNumSamples(id: Long): Int = (800 + (id * 37) % 1600).toInt
  def audioAmplitude(id: Long): Int = (100 + (id * 11) % 900).toInt

  /** One real WAV payload per id: s16le mono PCM square wave (every
    * sample is ±amplitude, so peak = RMS = amplitude exactly — integer
    * arithmetic an oracle can replay), RIFF-encoded through
    * javax.sound.sampled so the decoder exercises a genuine JDK audio
    * container parse, not a byte-slice stub. */
  /** WAV writer provider resolved ONCE per JVM: AudioSystem.write
    * re-resolves its provider list under the global JDK13Services lock
    * on every call, which serializes a 32-task encode stage (the same
    * lock Multimodal.readPcm's cached readers avoid on the decode
    * side). The provider's write() itself is stateless per call. */
  private lazy val wavWriters: Seq[javax.sound.sampled.spi.AudioFileWriter] = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileWriter])
      .iterator().asScala.toSeq
  }

  def audioBytes(id: Long): Array[Byte] = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream}
    val sr = audioSampleRate(id)
    val n = audioNumSamples(id)
    val a = audioAmplitude(id)
    val halfPeriod = 2 + (id % 14).toInt
    val pcm = new Array[Byte](n * 2)
    var t = 0
    while (t < n) {
      val s = if ((t / halfPeriod) % 2 == 0) a else -a
      pcm(2 * t) = (s & 0xff).toByte
      pcm(2 * t + 1) = ((s >> 8) & 0xff).toByte
      t += 1
    }
    val fmt = new AudioFormat(sr.toFloat, 16, 1, true, false) // s16le mono
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val baos = new java.io.ByteArrayOutputStream()
    wavWriters.find(_.isFileTypeSupported(AudioFileFormat.Type.WAVE, ais))
      .getOrElse(throw new IllegalStateException("no JDK WAVE writer"))
      .write(ais, AudioFileFormat.Type.WAVE, baos)
    baos.toByteArray
  }
}
