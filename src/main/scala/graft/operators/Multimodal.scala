package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video payloads ride through the
  * pipeline as opaque `binary` columns with a typed metadata struct. The
  * Spark-side mechanics — schema, batching via mapPartitions, partition
  * sizing, deterministic feature shape — are real and tested, and so is
  * the IMAGE codec: PNG/JPEG/BMP/GIF payloads decode through the JDK's
  * own `javax.imageio` readers into a luminance-grid feature vector
  * (MultimodalSpec pins a real PNG fixture). Audio/video payloads have no
  * JDK codec, so they take a deterministic byte-hash fallback — keeping
  * the pipeline total while the downstream operators (dedup, ANN over
  * extracted features) are exercised end-to-end.
  *
  * At 100 TB: payload bytes never shuffle — metadata/feature extraction is
  * per-partition map work; only the (id, features) projection (a few hundred
  * bytes/row) flows into joins and aggregations.
  */
object Multimodal {

  case class MediaRow(media_id: Long, kind: String, payload: Array[Byte],
                      width: Int, height: Int, duration_ms: Long)
  case class MediaFeatures(media_id: Long, kind: String, byte_len: Int,
                           payload_sha: String, features: Array[Float])

  /** Wrap any (id, text) frame as a fake media table: the text bytes stand
    * in for an encoded payload. Deterministic metadata derived from content. */
  def asMediaTable(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col(idCol).cast("long"), lit(3)) + 1).cast("int")).as("kind"),
      col(textCol).cast("binary").as("payload"),
      (pmod(xxhash64(col(textCol)), lit(1920L)) + 1).cast("int").as("width"),
      (pmod(xxhash64(col(textCol), lit(1)), lit(1080L)) + 1).cast("int").as("height"),
      (pmod(xxhash64(col(textCol), lit(2)), lit(600000L)) + 1).as("duration_ms"))

  /** DECODER — real for images, deterministic hash fallback otherwise.
    *
    * Image payloads (PNG/JPEG/BMP/GIF — the readers every JDK ships in
    * `javax.imageio`) are decoded with `ImageIO.read` and featurized as a
    * downsampled luminance grid (the classic cheap visual embedding: a
    * ceil(√dims)² grid of mean Rec.601 luma in [0,1], row-major, truncated
    * to `dims`). The reference analogue is the FMI pipeline parsing real
    * vendor bytes into rows (/root/reference/FMI/parseFmiXmls2PreOMOP.pl:
    * 88-103). Non-image payloads (audio/video have no JDK codec; arbitrary
    * bytes) take the deterministic byte-hash fallback so the pipeline
    * stays total — the row still gets a stable `dims`-wide feature vector
    * and downstream dedup/ANN operators run end-to-end.
    *
    * Magic-byte sniff first: `ImageIO.read` on arbitrary non-image bytes
    * wastes a reader-negotiation pass per row; a corrupt payload that
    * sniffs as an image but fails to decode also falls back (total
    * function — at 100 TB one truncated image must not kill an executor). */
  private[operators] def decodeFeatures(payload: Array[Byte], dims: Int): Array[Float] =
    if (!looksLikeImage(payload)) hashFeatures(payload, dims)
    else
      try {
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(payload))
        if (img == null) hashFeatures(payload, dims)
        else lumaGridFeatures(img, dims)
      } catch {
        case _: java.io.IOException | _: RuntimeException =>
          hashFeatures(payload, dims)
      }

  private def looksLikeImage(p: Array[Byte]): Boolean =
    p.length >= 4 && (
      (p(0) == 0x89.toByte && p(1) == 'P' && p(2) == 'N' && p(3) == 'G') ||
      (p(0) == 0xFF.toByte && p(1) == 0xD8.toByte && p(2) == 0xFF.toByte) ||
      (p(0) == 'G' && p(1) == 'I' && p(2) == 'F' && p(3) == '8') ||
      (p(0) == 'B' && p(1) == 'M'))

  /** Mean Rec.601 luma per cell of a g×g grid (g = ceil(√dims)), row-major,
    * first `dims` cells. Images narrower/shorter than the grid clamp each
    * cell to ≥1 pixel, so any decodable image yields a full vector. */
  private def lumaGridFeatures(img: java.awt.image.BufferedImage,
                               dims: Int): Array[Float] = {
    val g = math.ceil(math.sqrt(dims.toDouble)).toInt
    val w = img.getWidth; val h = img.getHeight
    val out = new Array[Float](dims)
    var d = 0
    while (d < dims) {
      val row = d / g; val col = d % g
      val y0 = math.min(row * h / g, h - 1)
      val y1 = math.max(math.min((row + 1) * h / g, h), y0 + 1)
      val x0 = math.min(col * w / g, w - 1)
      val x1 = math.max(math.min((col + 1) * w / g, w), x0 + 1)
      var sum = 0.0
      var y = y0
      while (y < y1) {
        var x = x0
        while (x < x1) {
          val rgb = img.getRGB(x, y)
          sum += (0.299 * ((rgb >> 16) & 0xFF) + 0.587 * ((rgb >> 8) & 0xFF) +
            0.114 * (rgb & 0xFF)) / 255.0
          x += 1
        }
        y += 1
      }
      out(d) = (sum / ((y1 - y0).toLong * (x1 - x0))).toFloat
      d += 1
    }
    out
  }

  /** Deterministic byte-hash features — the total-function fallback for
    * payloads with no JDK codec (audio/video) or undecodable bytes. */
  private def hashFeatures(payload: Array[Byte], dims: Int): Array[Float] = {
    val out = new Array[Float](dims)
    var h = 1125899906842597L
    var i = 0
    while (i < payload.length) { h = 31 * h + payload(i); i += 1 }
    var d = 0
    while (d < dims) {
      h ^= h << 13; h ^= h >>> 7; h ^= h << 17
      out(d) = (h % 1000L) / 1000.0f
      d += 1
    }
    out
  }

  /** Feature extraction over the binary column: mapPartitions so decoder
    * init (ImageIO cache mode, digest instance — and, in a richer
    * deployment, a model handle) amortizes per partition (the Scala
    * analogue of mapInPandas batch shape). */
  def extractFeatures(media: DataFrame, dims: Int = 16): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "kind", "payload").as[(Long, String, Array[Byte])]
      .mapPartitions { rows =>
        // per-partition init: no temp-file cache for in-memory decodes
        javax.imageio.ImageIO.setUseCache(false)
        val digest = java.security.MessageDigest.getInstance("SHA-256")
        rows.map { case (id, kind, payload) =>
          digest.reset()
          val sha = digest.digest(payload).map("%02x".format(_)).mkString
          MediaFeatures(id, kind, payload.length, sha,
            decodeFeatures(payload, dims))
        }
      }
  }
}
