package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Multimodal-column support for a training-data pipeline: media as
  * opaque `binary` payloads + typed metadata structs, with
  * decode / feature-extract / resize / frame-sample stages.
  *
  * The IMAGE decode is REAL for the formats the JDK ships pure-JVM
  * codecs for (PNG/BMP/GIF/JPEG via `javax.imageio` — r19,
  * golden-fixture-tested in MultimodalSpec), and the AUDIO decode is
  * REAL for the JDK's pure-JVM PCM containers (WAV/AIFF/AU via
  * `javax.sound.sampled` — r20, same golden-fixture discipline);
  * payloads outside those sets (and the VIDEO plane, the one modality
  * with no JVM codec) fall back to deterministic fakes, clearly
  * quarantined below. Everything
  * Spark-side is real and tested: the schema contract, the
  * `mapPartitions` batch shape (the Scala analog of `mapInPandas` —
  * one iterator pass per partition, no per-row function-call overhead,
  * kernels amortized over the batch), partition-level parallelism, and
  * the metadata plumbing. Swapping a fake kernel for ffmpeg changes
  * one function body.
  *
  * Scale notes: payloads never shuffle unless the user asks for it —
  * every stage here is a narrow map over partitions; metadata-only
  * queries prune the payload column at the parquet scan (columnar win).
  */
object Multimodal {
  /** media row: opaque payload + typed metadata (kind-dependent). */
  final case class Media(
      media_id: Long, kind: String, payload: Array[Byte],
      width: Int, height: Int, sample_rate: Int, duration_ms: Long)

  /** Decoded raster: `pixels.length == width * height * channels`,
    * row-major top-down. The REAL decode path ([[decodeImageJvm]])
    * emits 3-channel sRGB; the quarantined fake emits 1-channel
    * (grayscale-shaped) buffers for payloads no JVM codec reads. */
  final case class DecodedImage(media_id: Long, width: Int, height: Int,
      channels: Int, pixels: Array[Byte])

  /** Decoded audio: channel-interleaved signed 16-bit PCM
    * (`pcm.length == n_frames * channels`). The REAL decode path
    * ([[decodeAudioJvm]]) reads WAV/AIFF/AU PCM via the JDK's
    * `javax.sound.sampled` codecs; the quarantined fake emits
    * metadata-sized deterministic buffers for payloads no JVM codec
    * reads. */
  final case class DecodedAudio(media_id: Long, sample_rate: Int,
      channels: Int, n_frames: Long, pcm: Array[Short])

  final case class MediaFeatures(media_id: Long, kind: String, embedding: Array[Float])

  /** Synthesize a deterministic media table from `documents` (no binary
    * testdata ships with the harness): payload = utf-8 text bytes; fake
    * metadata derived arithmetically from doc_id/n_chars. */
  def mediaTable(spark: SparkSession, dir: String): Dataset[Media] = {
    import spark.implicits._
    Tables.documents(spark, dir).select("doc_id", "text", "n_chars")
      .as[(Long, String, Long)]
      .map { case (id, text, nChars) =>
        val kind = (id % 3) match {
          case 0 => "image"; case 1 => "audio"; case _ => "video"
        }
        Media(id, kind, text.getBytes("UTF-8"),
          width = (64 + id % 7 * 32).toInt, height = (64 + id % 5 * 32).toInt,
          sample_rate = if (kind == "audio") 16000 else 0,
          duration_ms = if (kind != "image") nChars * 10 else 0)
      }
  }

  // -------------------------------------------------------------------
  // kernels — REAL JVM decode (javax.imageio) + quarantined fake
  // -------------------------------------------------------------------

  /** REAL image decode for the formats the JDK ships codecs for
    * (PNG, BMP, GIF, JPEG — `javax.imageio`, pure JVM, no native
    * libraries): payload bytes → row-major top-down 3-channel sRGB.
    * `getRGB` routes every source color model through the same packed
    * sRGB conversion, so the bytes are deterministic per payload
    * regardless of the codec's internal raster layout. Returns None
    * when no registered codec reads the payload — the caller falls
    * back to the quarantined fake. Disk-cache is off (ImageIO's
    * default scratch-file cache would do executor-local I/O per image). */
  private[graft] def decodeImageJvm(m: Media): Option[DecodedImage] = {
    javax.imageio.ImageIO.setUseCache(false)
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(m.payload))
      catch { case scala.util.control.NonFatal(_) => null }
    Option(img).map { im =>
      val w = im.getWidth; val h = im.getHeight
      val px = new Array[Byte](w * h * 3)
      var i = 0; var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = im.getRGB(x, y)
          px(i) = ((rgb >> 16) & 0xFF).toByte
          px(i + 1) = ((rgb >> 8) & 0xFF).toByte
          px(i + 2) = (rgb & 0xFF).toByte
          i += 3; x += 1
        }
        y += 1
      }
      DecodedImage(m.media_id, w, h, 3, px)
    }
  }

  /** REAL audio decode for the containers/encodings the JDK ships
    * pure-JVM readers for (WAV/AIFF/AU carrying 8- or 16-bit PCM —
    * `javax.sound.sampled.AudioSystem`, no native libraries): payload
    * bytes → channel-interleaved SIGNED 16-bit PCM, the canonical
    * training-pipeline sample format. Every source variant normalizes
    * into it deterministically: 16-bit honors the container's
    * endianness, unsigned re-centers (u − 32768 / (u − 128) ≪ 8),
    * 8-bit widens into the high byte. Returns None when no registered
    * reader accepts the payload or the encoding is not integer PCM —
    * the caller falls back to the quarantined fake. */
  private[graft] def decodeAudioJvm(m: Media): Option[DecodedAudio] = {
    import javax.sound.sampled.{AudioFormat, AudioSystem}
    try {
      val ais = AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(m.payload))
      try {
        val f = ais.getFormat
        val enc = f.getEncoding
        val signed = enc == AudioFormat.Encoding.PCM_SIGNED
        val unsigned = enc == AudioFormat.Encoding.PCM_UNSIGNED
        val bits = f.getSampleSizeInBits
        if ((!signed && !unsigned) || (bits != 8 && bits != 16)) None
        else {
          val bytes = ais.readAllBytes()
          val n = bytes.length / (bits / 8)
          val out = new Array[Short](n)
          var i = 0
          if (bits == 8) {
            while (i < n) {
              val v = if (unsigned) (bytes(i) & 0xFF) - 128 else bytes(i).toInt
              out(i) = (v << 8).toShort; i += 1
            }
          } else {
            val hiOff = if (f.isBigEndian) 0 else 1
            val loOff = 1 - hiOff
            while (i < n) {
              val u = ((bytes(2 * i + hiOff) & 0xFF) << 8) | (bytes(2 * i + loOff) & 0xFF)
              out(i) = (if (unsigned) u - 32768 else u.toShort.toInt).toShort
              i += 1
            }
          }
          Some(DecodedAudio(m.media_id, f.getSampleRate.toInt,
            f.getChannels, n.toLong / f.getChannels, out))
        }
      } finally ais.close()
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** FAKE audio decode — QUARANTINED to payloads no JVM reader accepts
    * (the harness's synthesized text-byte media; a deployment with
    * compressed formats swaps in ffmpeg here). Emits a metadata-sized
    * mono PCM buffer (duration × sample_rate frames) from a rolling
    * hash of the payload — deterministic, size-correct, codec-free. */
  private def fakeDecodeAudio(m: Media): DecodedAudio = {
    val rate = if (m.sample_rate > 0) m.sample_rate else 16000
    val n = (m.duration_ms * rate / 1000L).toInt max 1
    val pcm = new Array[Short](n)
    var h = 1125899906842597L
    m.payload.foreach(b => h = h * 31 + b)
    var i = 0
    while (i < n) { h = h * 6364136223846793005L + 1442695040888963407L; pcm(i) = (h >>> 48).toShort; i += 1 }
    DecodedAudio(m.media_id, rate, 1, n.toLong, pcm)
  }

  /** FAKE image decode — QUARANTINED to payloads no JVM codec reads
    * (the harness's synthesized text-byte media; real deployments with
    * formats outside the JDK's codec set swap in libjpeg-turbo/ffmpeg
    * here). Emits width*height 1-channel bytes derived from a rolling
    * hash of the payload — deterministic, size-correct, codec-free. */
  private def fakeDecodeImage(m: Media): DecodedImage = {
    val n = m.width * m.height
    val px = new Array[Byte](n)
    var h = 1125899906842597L
    m.payload.foreach(b => h = h * 31 + b)
    var i = 0
    while (i < n) { h = h * 6364136223846793005L + 1442695040888963407L; px(i) = (h >>> 56).toByte; i += 1 }
    DecodedImage(m.media_id, m.width, m.height, 1, px)
  }

  /** FAKE feature extraction: real kernel would run a vision/audio
    * encoder; the fake folds the payload into a fixed-dim unit-norm
    * vector. Dim matches the harness embeddings table (64). */
  private def fakeExtractFeatures(m: Media, dim: Int = 64): MediaFeatures = {
    val v = new Array[Float](dim)
    var h = 17L
    var i = 0
    while (i < m.payload.length) { h = h * 31 + m.payload(i); v((i % dim)) += (h % 1000) / 1000.0f; i += 1 }
    val norm = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat max 1e-9f
    MediaFeatures(m.media_id, m.kind, v.map(_ / norm))
  }

  // -------------------------------------------------------------------
  // stages — real Spark plumbing over the kernels
  // -------------------------------------------------------------------

  /** Decode stage: one kernel invocation per row, batched per partition
    * (mapPartitions = the mapInPandas batch shape in Scala). Payloads
    * the JDK's codecs read (PNG/BMP/GIF/JPEG) take the REAL decode
    * path; anything else falls back to the quarantined fake. */
  def decodeImages(media: Dataset[Media]): Dataset[DecodedImage] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(_.kind == "image").mapPartitions(_.map(m =>
      decodeImageJvm(m).getOrElse(fakeDecodeImage(m))))
  }

  /** Audio decode stage: same partition-batched kernel shape as
    * [[decodeImages]] — JVM-readable PCM containers (WAV/AIFF/AU) take
    * the REAL decode path; anything else falls back to the
    * quarantined fake. */
  def decodeAudio(media: Dataset[Media]): Dataset[DecodedAudio] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(_.kind == "audio").mapPartitions(_.map(m =>
      decodeAudioJvm(m).getOrElse(fakeDecodeAudio(m))))
  }

  /** Resize stage: pure metadata arithmetic on the decoded struct —
    * stays in columnar expressions, no kernel needed for the plan. */
  def resizePlan(decoded: Dataset[DecodedImage], maxSide: Int): DataFrame =
    decoded.toDF().withColumn("scale",
        least(lit(1.0), lit(maxSide) / greatest(col("width"), col("height"))))
      .withColumn("out_w", ceil(col("width") * col("scale")).cast("int"))
      .withColumn("out_h", ceil(col("height") * col("scale")).cast("int"))
      .drop("pixels")

  /** Frame sampling: k evenly-spaced frame offsets per video — pure
    * `sequence` arithmetic, fully codegen'd, no kernel. */
  def frameOffsets(media: Dataset[Media], k: Int): DataFrame =
    media.toDF().filter(col("kind") === "video")
      .select(col("media_id"), col("duration_ms"),
        expr(s"transform(sequence(0, $k - 1), i -> CAST(i * duration_ms / $k AS BIGINT))")
          .as("frame_offsets_ms"))

  /** Feature stage: payload → fixed-dim embedding, partition-batched. */
  def extractFeatures(media: Dataset[Media]): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map(m => fakeExtractFeatures(m)))
  }

  // -------------------------------------------------------------------
  // oracle-checked query: the metadata plumbing (SQL-expressible part)
  // -------------------------------------------------------------------

  /** `multimodal_meta` — the metadata/plumbing plane of the pipeline,
    * cross-checked in DuckDB: kind assignment, payload byte size,
    * resize arithmetic, frame-offset generation. (The kernel plane is
    * covered by MultimodalSpec — fakes are not oracle material.) */
  val multimodalMeta: Q = (spark, dir) => {
    import spark.implicits._
    mediaTable(spark, dir).toDF()
      .withColumn("payload_bytes", length(col("payload")).cast("long"))
      .withColumn("scale", least(lit(1.0), lit(128) / greatest(col("width"), col("height"))))
      .withColumn("out_w", ceil(col("width") * col("scale")).cast("long"))
      .withColumn("out_h", ceil(col("height") * col("scale")).cast("long"))
      .withColumn("frame_offsets_ms",
        when(col("kind") === "video",
          expr("array_join(transform(sequence(0, 3), i -> CAST(i * duration_ms / 4 AS BIGINT)), ',')"))
          .otherwise(lit("")))
      .select(col("media_id"), col("kind"), col("payload_bytes"),
        col("width").cast("long").as("width"), col("height").cast("long").as("height"),
        col("out_w"), col("out_h"), col("frame_offsets_ms"))
      .orderBy("media_id")
  }
  val multimodalMetaSql: String =
    """SELECT media_id, kind, payload_bytes, width, height,
      |       CAST(ceil(width * scale) AS BIGINT) AS out_w,
      |       CAST(ceil(height * scale) AS BIGINT) AS out_h,
      |       CASE WHEN kind = 'video' THEN
      |         array_to_string(list_transform(range(0, 4), i -> CAST(i * duration_ms // 4 AS BIGINT)), ',')
      |       ELSE '' END AS frame_offsets_ms
      |FROM (
      |  SELECT *, least(1.0, 128 / greatest(width, height)) AS scale FROM (
      |    SELECT doc_id AS media_id,
      |           CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
      |           strlen(text) AS payload_bytes,
      |           64 + doc_id % 7 * 32 AS width,
      |           64 + doc_id % 5 * 32 AS height,
      |           CASE WHEN doc_id % 3 <> 0 THEN n_chars * 10 ELSE 0 END AS duration_ms
      |    FROM documents))
      |ORDER BY media_id""".stripMargin

  val queries: Map[String, Query] = Map("multimodal_meta" -> Query(multimodalMeta, multimodalMetaSql))
}
