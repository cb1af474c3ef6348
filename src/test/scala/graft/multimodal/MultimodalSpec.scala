package graft.multimodal

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

class MultimodalSpec extends SparkSpec {

  private def assets = {
    val rows = (0L until 10L).map { i =>
      Row(i, "image", "image/png", Array.fill[Byte](100 + i.toInt * 37)((i % 7).toByte),
        Row(s"s3://bucket/$i.png", null, null, null))
    }
    spark.createDataFrame(rows.asJava, Multimodal.mediaSchema)
  }

  test("decodeImages: fixed schema, one row per asset, deterministic") {
    val out = Multimodal.decodeImages(assets)
    assert(out.columns.toSeq == Seq("asset_id", "width", "height", "channels"))
    assert(out.count() == 10)
    val a = out.orderBy("asset_id").collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    val b = Multimodal.decodeImages(assets).orderBy("asset_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(a.toSeq == b.toSeq)
    assert(out.filter(col("width") < 64 || col("height") < 64).count() == 0)
  }

  test("featurize: fixed-dim embedding column, similarity-search compatible") {
    val out = Multimodal.featurize(assets, dim = 16)
    assert(out.schema("embedding").dataType.typeName == "array")
    val sizes = out.select(size(col("embedding"))).collect().map(_.getInt(0))
    assert(sizes.forall(_ == 16))
  }

  test("sampleFrames keeps every stride-th frame with byte offsets") {
    val out = Multimodal.sampleFrames(assets.limit(1), frameBytes = 10, stride = 3)
    val frames = out.select("frame_no", "frame_payload_offset")
      .collect().map(r => r.getInt(0) -> r.getInt(1))
    assert(frames.map(_._1).toSeq == Seq(0, 3, 6, 9)) // 100 bytes / 10 = 10 frames
    assert(frames.forall { case (n, off) => off == n * 10 })
  }

  // Real encoded PNG bytes, produced in-test through the same JDK encoder
  // the codec decodes with — no binary fixture files needed.
  private def pngBytes(w: Int, h: Int, imgType: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, imgType)
    (0 until w).foreach(x => img.setRGB(x, 0, x * 2654435761L.toInt))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private def realAssets = {
    val rows = Seq(
      Row(1L, "image", "image/png",
        pngBytes(200, 80, java.awt.image.BufferedImage.TYPE_3BYTE_BGR),
        Row(null, null, null, null)),
      Row(2L, "image", "image/png",
        pngBytes(33, 47, java.awt.image.BufferedImage.TYPE_INT_ARGB),
        Row(null, null, null, null)))
    spark.createDataFrame(rows.asJava, Multimodal.mediaSchema)
  }

  test("decodeImages reads REAL PNG bytes: true geometry and channel count") {
    val got = Multimodal.decodeImages(realAssets).orderBy("asset_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    assert(got.toSeq == Seq((1L, 200, 80, 3), (2L, 33, 47, 4))) // ARGB carries alpha
  }

  test("featurize of a real image is the pooled-luminance grid, not a hash") {
    // 64x64 PNG: left half black, right half white → on the 8x8 grid the
    // left 4 columns pool to ~0 luminance and the right 4 to ~1
    val img = new java.awt.image.BufferedImage(64, 64,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until 64; x <- 32 until 64) img.setRGB(x, y, 0xffffff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val rows = Seq(Row(1L, "image", "image/png", bos.toByteArray,
      Row(null, null, null, null)))
    val df = spark.createDataFrame(rows.asJava, Multimodal.mediaSchema)
    val emb = Multimodal.featurize(df, dim = 64).head.getSeq[Float](1)
    assert(emb.size == 64)
    for (r <- 0 until 8; c <- 0 until 8) {
      val v = emb(r * 8 + c)
      if (c < 4) assert(v < 0.1f, s"cell ($r,$c)=$v should be dark")
      else assert(v > 0.9f, s"cell ($r,$c)=$v should be bright")
    }
  }
}
