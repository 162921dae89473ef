package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) column handling: payloads are opaque
  * `binary` columns carried next to typed metadata, exactly like a
  * production training-data lake. The Spark-side plumbing — schemas,
  * format sniffing, partition-local batch decode, frame sampling — is
  * real and tested; the pixel/sample decode itself is a clearly marked
  * deterministic STUB (no image/audio codecs in this environment) to be
  * swapped for a real decoder (ImageIO / JNI ffmpeg) without touching
  * the plan shape.
  */
object Multimodal {

  /** Canonical media schema: `(doc_id, kind, payload, meta)`. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = true),
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("n_frames", IntegerType, nullable = true),
      StructField("sample_rate", IntegerType, nullable = true)
    )), nullable = true)
  ))

  /** Magic-byte format sniffing as a pure column expression (first bytes
    * of the payload in hex — PNG / JPEG / RIFF-WAV / MP4 ftyp). Only a
    * 12-byte binary prefix is hexed: hexing the whole payload would
    * allocate 2× a multi-megabyte blob per row to read ≤16 chars. */
  def sniffFormat(payloadCol: String): org.apache.spark.sql.Column = {
    val prefix = hex(substring(col(payloadCol), 1, 12))
    when(substring(prefix, 1, 8) === "89504E47", "png")
      .when(substring(prefix, 1, 6) === "FFD8FF", "jpeg")
      .when(substring(prefix, 1, 8) === "52494646", "wav")
      .when(substring(prefix, 9, 8) === "66747970", "mp4")
      .otherwise("unknown")
  }

  /** Payload statistics: byte length, sniffed format, hex-md5 checksum —
    * scan-speed column math, no shuffle. */
  def payloadStats(media: DataFrame, idCol: String = "doc_id",
      payloadCol: String = "payload"): DataFrame =
    media.select(
      col(idCol).as("doc_id"),
      octet_length(col(payloadCol)).as("n_bytes"),
      sniffFormat(payloadCol).as("format"),
      md5(hex(col(payloadCol))).as("checksum")
    )

  /** Deterministic fake feature extraction — THE DECODE STUB. Groups the
    * payload bytes into `dim` buckets and averages them; replace the body
    * of `decodeOne` with a real decoder. Runs partition-local in batches
    * (mapPartitions), which is the production plan shape: one decoder
    * instance per partition, vectorized batches, no shuffle. */
  def fakeDecodeFeatures(spark: SparkSession, media: DataFrame, dim: Int = 16,
      idCol: String = "doc_id", payloadCol: String = "payload"): DataFrame = {
    import spark.implicits._
    media.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          (id, if (payload == null) null else stubDecodeOne(payload, dim))
        }
      }
      .toDF("doc_id", "features")
  }

  /** REAL image decode for PNG/JPEG via `javax.imageio` (JVM built-in,
    * no external codec): luminance grid-pooled into `dim` features.
    * Returns None for undecodable payloads (truncated, wrong format). */
  private[pipeline] def decodeImageFeatures(payload: Array[Byte], dim: Int): Option[Array[Float]] = {
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      catch { case _: Exception => null }
    if (img == null || img.getWidth == 0 || img.getHeight == 0) None
    else {
      // grid-pool mean luminance (Rec.601 weights, normalized to [0,1])
      // into a g×g grid, flattened row-major and padded to dim
      val g = math.max(1, math.sqrt(dim.toDouble).toInt)
      val sums = new Array[Double](g * g)
      val counts = new Array[Int](g * g)
      val w = img.getWidth
      val h = img.getHeight
      var y = 0
      while (y < h) {
        val gy = math.min(y * g / h, g - 1)
        var x = 0
        while (x < w) {
          val gx = math.min(x * g / w, g - 1)
          val rgb = img.getRGB(x, y)
          val lum = (0.299 * ((rgb >> 16) & 0xff) +
            0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)) / 255.0
          sums(gy * g + gx) += lum
          counts(gy * g + gx) += 1
          x += 1
        }
        y += 1
      }
      val out = new Array[Float](dim)
      var c = 0
      while (c < g * g && c < dim) {
        if (counts(c) > 0) out(c) = (sums(c) / counts(c)).toFloat
        c += 1
      }
      Some(out)
    }
  }

  /** Feature extraction with REAL decode where the JVM has a codec:
    * PNG/JPEG payloads decode through `javax.imageio` (grid-pooled
    * luminance features); audio/video/unknown payloads fall through to
    * the deterministic stub (no audio/video codecs in this
    * environment — swap the fallthrough for a JNI ffmpeg decoder
    * without touching the plan shape). Partition-local batches, no
    * shuffle. Returns `(doc_id, features, decoder)` where decoder ∈
    * {imageio, stub}. */
  def decodeFeatures(spark: SparkSession, media: DataFrame, dim: Int = 16,
      idCol: String = "doc_id", payloadCol: String = "payload"): DataFrame = {
    import spark.implicits._
    media.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          if (payload == null) (id, null: Array[Float], "none")
          else decodeImageFeatures(payload, dim) match {
            case Some(f) => (id, f, "imageio")
            case None    => (id, stubDecodeOne(payload, dim), "stub")
          }
        }
      }
      .toDF("doc_id", "features", "decoder")
  }

  /** Deterministic stub decode body (see [[fakeDecodeFeatures]]). */
  private[pipeline] def stubDecodeOne(payload: Array[Byte], dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    val counts = new Array[Int](dim)
    var i = 0
    while (i < payload.length) {
      val b = i % dim
      out(b) += (payload(i) & 0xff).toFloat
      counts(b) += 1
      i += 1
    }
    var b = 0
    while (b < dim) {
      if (counts(b) > 0) out(b) /= counts(b)
      b += 1
    }
    out
  }

  /** Video frame-sampling plan: emit `(doc_id, frame_idx)` for every
    * `everyK`-th frame from `meta.n_frames` — the fan-out stage that
    * precedes per-frame decode in a video pipeline. Pure `sequence()`
    * explode, no shuffle; downstream decode is partition-local. */
  def frameSamplePlan(media: DataFrame, everyK: Int,
      idCol: String = "doc_id"): DataFrame =
    media
      .filter(col("meta.n_frames").isNotNull && col("meta.n_frames") > 0)
      .select(col(idCol).as("doc_id"),
        explode(expr(s"sequence(0, meta.n_frames - 1, $everyK)")).as("frame_idx"))

  /** REAL image resize to a `maxSide`-bounded thumbnail, re-encoded as
    * PNG — the dataset-prep normalization stage (vision-model corpora
    * standardize resolution before feature extraction). Decode + scale
    * (area-weighted `getScaledInstance(SCALE_SMOOTH)`) + encode all run
    * through JVM built-ins (`javax.imageio` + `java.awt`), so unlike
    * the audio/video paths nothing here is stubbed. Aspect ratio is
    * preserved; images already within bounds are re-encoded unchanged
    * in dimensions (normalizing the container format is the point).
    * Undecodable payloads yield NULL thumbnails with `ok = false`.
    *
    * Same plan shape as [[decodeFeatures]]: partition-local
    * mapPartitions batches, one decoder per partition, no shuffle —
    * at 100 TB this is a pure map stage whose parallelism is the input
    * split count. */
  def resizeThumbnails(spark: SparkSession, media: DataFrame, maxSide: Int = 64,
      idCol: String = "doc_id", payloadCol: String = "payload"): DataFrame = {
    import spark.implicits._
    require(maxSide > 0, s"maxSide must be positive, got $maxSide")
    media.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          val img =
            if (payload == null) null
            else try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
            catch { case _: Exception => null }
          if (img == null || img.getWidth == 0 || img.getHeight == 0)
            (id, null: Array[Byte], 0, 0, false)
          else {
            val (w, h) = (img.getWidth, img.getHeight)
            val scale = math.min(1.0, maxSide.toDouble / math.max(w, h))
            val (tw, th) = (math.max(1, math.round(w * scale).toInt),
              math.max(1, math.round(h * scale).toInt))
            val scaled = new java.awt.image.BufferedImage(
              tw, th, java.awt.image.BufferedImage.TYPE_INT_RGB)
            val gfx = scaled.createGraphics()
            try gfx.drawImage(
              img.getScaledInstance(tw, th, java.awt.Image.SCALE_SMOOTH),
              0, 0, null)
            finally gfx.dispose()
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(scaled, "png", bos)
            (id, bos.toByteArray, tw, th, true)
          }
        }
      }
      .toDF("doc_id", "thumbnail", "width", "height", "ok")
  }

  /** Synthesizes a deterministic media table from any text table — test
    * fixture helper: even ids get a PNG magic, odd ids a JPEG magic,
    * payload body is the utf-8 text. */
  def synthesizeFromText(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).as("doc_id"),
      when(pmod(col(idCol), lit(2)) === 0, lit("image/png"))
        .otherwise(lit("image/jpeg")).as("kind"),
      concat(
        when(pmod(col(idCol), lit(2)) === 0,
          unhex(lit("89504E470D0A1A0A"))).otherwise(unhex(lit("FFD8FFE0"))),
        encode(col(textCol), "UTF-8")
      ).as("payload"),
      struct(
        lit(64).as("width"), lit(64).as("height"),
        (pmod(col(idCol), lit(10)) * 10 + 10).cast("int").as("n_frames"),
        lit(16000).as("sample_rate")
      ).as("meta")
    )
}
