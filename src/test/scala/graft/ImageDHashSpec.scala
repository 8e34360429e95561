package graft

import org.apache.spark.sql.functions._

/** Difference hash of decoded images (multimodal imageDHash). */
class ImageDHashSpec extends TestBase {
  import spark.implicits._

  private def png(w: Int, h: Int)(rgb: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb(x, y))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("imageDHash: uniform image is all zeros; gradient is all ones; " +
      "brightness shift cancels") {
    val flat = png(18, 18)((_, _) => 0x808080)
    val grad = png(18, 18)((x, _) => { val v = 250 - x * 10; (v << 16) | (v << 8) | v })
    val gradDim = png(18, 18)((x, _) => { val v = 150 - x * 5; (v << 16) | (v << 8) | v })
    val df = Seq((1L, flat), (2L, grad), (3L, gradDim)).toDF("id", "img")
    val got = multimodal.Multimodal.imageDHash(df, "id", "img")
      .select(col("id"), col("dhash")).as[(Long, String)].collect().toMap
    assert(got(1L) == "0" * 64)
    assert(got(2L) == "1" * 64) // strictly decreasing left->right
    assert(got(3L) == "1" * 64) // same gradient sign at half brightness
  }

  test("imageDHash: undecodable payload yields null hash, decoded=false") {
    val df = Seq((9L, Array[Byte](1, 2, 3))).toDF("id", "img")
    val r = multimodal.Multimodal.imageDHash(df, "id", "img").collect()(0)
    assert(r.isNullAt(1) && !r.getBoolean(2))
  }
}
