package graft

import graft.operators.{Jpeg, Multimodal}

/** The pure-JDK JPEG codec behind the multimodal seam: the block-constant
  * grayscale Q100 exactness contract (what makes m_jpeg_decode's
  * arithmetic oracle valid), plus seam dispatch. */
class JpegSpec extends SparkTestBase {
  import spark.implicits._

  test("block-constant grayscale at quality 1.0 roundtrips BIT-EXACTLY") {
    // every 8×8 DCT block constant: DC-only spectrum, Q100 luma step 1,
    // no chroma path — the whole entropy/DCT pipeline must be lossless
    // here or the sum (and m_jpeg_decode) breaks
    for (id <- 0L until 60L) {
      val w = 8 * (1 + id % 3).toInt
      val h = 8 * (1 + (id * 3) % 3).toInt
      def pix(x: Int, y: Int): Int = ((id * 31 + 7 * (x / 8) + 13 * (y / 8)) % 256).toInt
      val payload = Jpeg.encodeGray(w, h, pix)
      // real JPEG container: SOI marker
      assert((payload(0) & 0xff) == 0xff && (payload(1) & 0xff) == 0xd8)
      val dec = Jpeg.decode(payload)
      assert(dec.width == w && dec.height == h)
      var i = 0
      for (y <- 0 until h; x <- 0 until w) {
        assert((dec.pixels(i) & 0xff) == pix(x, y), s"id=$id pixel ($x,$y)")
        i += 1
      }
    }
  }

  test("non-block-aligned gradient still decodes with correct dims (lossy ok)") {
    val payload = Jpeg.encodeGray(13, 9, (x, y) => (x * 17 + y * 5) % 256)
    val dec = Jpeg.decode(payload)
    assert(dec.width == 13 && dec.height == 9 && dec.pixels.length == 13 * 9)
  }

  test("decodeFeatures dispatches image/jpeg through the real codec") {
    val media = spark.createDataset(Seq(
      Multimodal.MediaRow(1L, "image/jpeg",
        Jpeg.encodeGray(16, 8, (x, y) => ((x / 8) * 100 + 17) % 256))))
    val r = Multimodal.decodeFeatures(media).collect()(0)
    assert(r.width == 16 && r.height == 8)
    // blocks: 8×8 of 17 and 8×8 of 117 -> 64*17 + 64*117
    assert(r.pixel_sum == 64L * 17 + 64L * 117)
  }

  test("decoding leaves the JVM-wide ImageIO cache flag alone") {
    val dec = Jpeg.decode(Jpeg.encodeGray(8, 8, (_, _) => 42))
    assert(dec.pixels.forall(p => (p & 0xff) == 42))
    assert(javax.imageio.ImageIO.getUseCache, "Jpeg changed ImageIO's process-wide cache setting")
  }

  test("garbage payload fails loudly, not silently") {
    intercept[Exception] { Jpeg.decode(Array[Byte](1, 2, 3, 4)) }
  }

  test("boxDownscale: exact integer box average, floor semantics, ragged drop") {
    // 4×2 raster, factor 2: [10 10 | 0 1] / [10 10 | 2 3] → [10, floor(6/4)=1]
    val px = Array[Byte](10, 10, 0, 1, 10, 10, 2, 3)
    val (w, h, out) = Multimodal.boxDownscale(px, 4, 2, 2)
    assert(w == 2 && h == 1 && out.map(_ & 0xff).toSeq == Seq(10, 1))
    // ragged tail dropped: 5×3 at factor 2 → 2×1
    val (w2, h2, out2) = Multimodal.boxDownscale(Array.fill(15)(200.toByte), 5, 3, 2)
    assert(w2 == 2 && h2 == 1 && out2.map(_ & 0xff).forall(_ == 200))
    // factor 1 = identity
    val (w3, h3, out3) = Multimodal.boxDownscale(px, 4, 2, 1)
    assert(w3 == 4 && h3 == 2 && out3.toSeq == px.toSeq)
  }

  test("resizeImages runs the REAL codecs for both image kinds") {
    val jpeg = Multimodal.MediaRow(1L, "image/jpeg",
      Jpeg.encodeGray(16, 8, (x, _) => if (x < 8) 40 else 80))
    val png = Multimodal.MediaRow(2L, "image/png",
      graft.operators.Png.encodeGray(16, 8, (x, _) => if (x < 8) 40 else 80))
    val got = Multimodal.resizeImages(
        spark.createDataset(Seq(jpeg, png))(
          org.apache.spark.sql.Encoders.product[Multimodal.MediaRow]), 2)
      .collect().sortBy(_.id)
    got.foreach { r =>
      assert(r.width == 8 && r.height == 4)
      // constant 8×8 blocks average to themselves: 4×4 of 40 + 4×4 of 80
      assert(r.payload.map(_ & 0xff).sum == 16 * 40 + 16 * 80, r.kind)
    }
  }
}
