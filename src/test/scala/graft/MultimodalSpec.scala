package graft

import org.apache.spark.sql.functions._
import graft.operators.Multimodal

/** Multimodal decode + plumbing: image payloads decode through the JDK's
  * real ImageIO readers (pinned against an in-test PNG fixture); non-image
  * payloads take the deterministic hash fallback whose output is part of
  * the multimodal_features query (pinned here — no DuckDB oracle for
  * either codec path); metadata-only plans never touch the payload. */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
  private lazy val media = Multimodal.asMediaTable(docs, "doc_id", "text")

  private def png(w: Int, h: Int)(rgb: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb(x, y))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("real PNG payloads decode through ImageIO into the pinned luma grid") {
    // 8x8: left half black, right half white → 4x4 grid of 2x2-pixel
    // cells: columns 0-1 pure black (luma 0), columns 2-3 pure white (1)
    val halves = png(8, 8)((x, _) => if (x < 4) 0x000000 else 0xFFFFFF)
    // 4x4 gray ramp, one pixel per cell: luma(cell d) = 16d/255
    val ramp = png(4, 4) { (x, y) =>
      val v = 16 * (y * 4 + x); (v << 16) | (v << 8) | v }
    val m = Seq((1L, "image", halves), (2L, "image", ramp))
      .toDF("media_id", "kind", "payload")
    val f = Multimodal.extractFeatures(m, dims = 16).collect()
      .map(r => r.media_id -> r.features).toMap
    val expHalves = Array.tabulate(16)(d => if (d % 4 < 2) 0.0f else 1.0f)
    val expRamp = Array.tabulate(16)(d => (16 * d) / 255.0f)
    f(1L).zip(expHalves).foreach { case (a, e) =>
      assert(math.abs(a - e) < 1e-6f, s"halves: $a vs $e") }
    f(2L).zip(expRamp).foreach { case (a, e) =>
      assert(math.abs(a - e) < 1e-6f, s"ramp: $a vs $e") }
  }

  test("image smaller than the grid still yields a full clamped vector; " +
      "corrupt image-magic bytes fall back, never throw") {
    val tiny = png(2, 2)((x, y) =>
      if ((x + y) % 2 == 0) 0xFFFFFF else 0x000000) // 2x2 checkerboard
    val corrupt = Array[Byte](0x89.toByte, 'P', 'N', 'G', 13, 10, 26, 10,
      42, 42, 42) // PNG magic, garbage body
    val m = Seq((1L, "image", tiny), (2L, "image", corrupt))
      .toDF("media_id", "kind", "payload")
    val f = Multimodal.extractFeatures(m, dims = 16).collect()
      .map(r => r.media_id -> r.features).toMap
    assert(f(1L).length == 16 && f(1L).forall(v => v >= 0f && v <= 1f))
    // 4x4 grid over 2x2 pixels: cells clamp to single pixels, so the
    // checkerboard's exact 0/1 pattern appears duplicated 2x2
    val expTiny = Array.tabulate(16) { d =>
      val px = math.min(d % 4 * 2 / 4, 1); val py = math.min(d / 4 * 2 / 4, 1)
      if ((px + py) % 2 == 0) 1.0f else 0.0f }
    f(1L).zip(expTiny).foreach { case (a, e) =>
      assert(math.abs(a - e) < 1e-6f, s"tiny: $a vs $e") }
    assert(f(2L).length == 16) // fallback features, no exception
  }

  test("mixed image + non-image partitions stay partitioning-invariant") {
    val fixture = png(6, 6)((x, y) => if (x >= y) 0xFFFFFF else 0x000000)
    val mixed = media.limit(20)
      .unionByName(Seq((90001L, "image", fixture))
        .toDF("media_id", "kind", "payload"), allowMissingColumns = true)
      .select("media_id", "kind", "payload")
    val a = Multimodal.extractFeatures(mixed, dims = 9).collect()
      .map(r => r.media_id -> r.features.toSeq).toMap
    val b = Multimodal.extractFeatures(mixed.repartition(5), dims = 9)
      .collect().map(r => r.media_id -> r.features.toSeq).toMap
    assert(a == b)
    assert(a(90001L).forall(v => v >= 0f && v <= 1f))
  }

  test("extractFeatures is deterministic and partitioning-invariant") {
    val a = Multimodal.extractFeatures(media, dims = 8).collect()
      .map(f => f.media_id -> f.features.toSeq).toMap
    val b = Multimodal.extractFeatures(media.repartition(7), dims = 8).collect()
      .map(f => f.media_id -> f.features.toSeq).toMap
    assert(a == b)
    assert(a.values.forall(_.length == 8))
  }

  test("features derive from payload bytes: same text => same features") {
    val two = Seq((1L, "hello world"), (2L, "hello world"), (3L, "bye"))
      .toDF("doc_id", "text")
    val f = Multimodal.extractFeatures(
        Multimodal.asMediaTable(two, "doc_id", "text"), dims = 4)
      .collect().map(r => r.media_id -> r.features.toSeq).toMap
    assert(f(1L) == f(2L))
    assert(f(1L) != f(3L))
  }

  test("payload sha matches Spark-side sha2 over the same binary") {
    val viaUdfPath = Multimodal.extractFeatures(media, dims = 4).toDF()
      .select("media_id", "payload_sha")
    val viaExpr = media.select(col("media_id"),
      sha2(col("payload"), 256).as("payload_sha"))
    assert(viaUdfPath.except(viaExpr).isEmpty && viaExpr.except(viaUdfPath).isEmpty)
  }

  test("multimodal_features query output pins the feature vector (rows+sig)") {
    val out = SparkEntry.queries("multimodal_features")(spark, "/root/testdata/sf0.001")
    val rows = out.collect()
    assert(rows.length == 500)
    val sig = rows.map(_.getAs[String]("features_sig"))
    assert(sig.forall(s => s.split(",").length == 8))
    // deterministic across runs
    val again = SparkEntry.queries("multimodal_features")(spark, "/root/testdata/sf0.001")
      .collect().map(_.getAs[String]("features_sig"))
    assert(sig.sorted.sameElements(again.sorted))
  }
}
