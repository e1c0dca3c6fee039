package graft.operators

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}
import javax.imageio.stream.{MemoryCacheImageInputStream, MemoryCacheImageOutputStream}

/** JPEG encode/decode through the pure-JDK `javax.imageio` codec (offline,
  * no external libraries) — the second REAL codec behind the multimodal
  * seam next to the from-scratch [[Png]] decoder.
  *
  * Exactness contract the m_jpeg_decode oracle relies on: a GRAYSCALE
  * image whose every 8×8 DCT block is a constant value, encoded at
  * quality 1.0, decodes back bit-exactly — a constant block's DCT is
  * DC-only, the Q100 luminance quantization step is 1, and grayscale
  * skips the lossy YCbCr color transform and chroma subsampling. So
  * `pixel_sum` over such fixtures is PURE ARITHMETIC that DuckDB
  * reproduces without any codec, while the value still traverses the full
  * entropy-coding / DCT pipeline (verified empirically in JpegSpec; a
  * decoder or writer change that breaks any stage breaks the sum). */
object Jpeg {

  // One reader/writer instance per THREAD, not per row: the ImageIO
  // registry lookup + codec instantiation per call is pure overhead in a
  // mapPartitions loop. Same codec classes, so decoded bits are unchanged.
  private val readerTL: ThreadLocal[javax.imageio.ImageReader] =
    ThreadLocal.withInitial(() => ImageIO.getImageReadersByFormatName("jpeg").next())
  private val writerTL: ThreadLocal[javax.imageio.ImageWriter] =
    ThreadLocal.withInitial(() => ImageIO.getImageWritersByFormatName("jpeg").next())

  case class Decoded(width: Int, height: Int, pixels: Array[Byte])

  /** Encode a grayscale image from a pixel function at quality 1.0. */
  def encodeGray(width: Int, height: Int, pixel: (Int, Int) => Int): Array[Byte] = {
    val img = new BufferedImage(width, height, BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) { raster.setSample(x, y, 0, pixel(x, y) & 0xff); x += 1 }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    val writer = writerTL.get()
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionQuality(1.0f)
    val out = new MemoryCacheImageOutputStream(bos)
    try {
      writer.setOutput(out)
      writer.write(null, new IIOImage(img, null, null), param)
    } finally { writer.setOutput(null); out.close() }
    bos.toByteArray
  }

  /** Decode any JPEG to (width, height, row-major 8-bit samples). Color
    * images are luminance-converted by the standard integer rounding
    * (BufferedImage gray conversion) so the output is always one byte per
    * pixel — the same shape [[Png.decode]] produces for grayscale. */
  def decode(payload: Array[Byte]): Decoded = {
    val reader = readerTL.get()
    // memory-backed: `ImageIO.createImageInputStream` would back it with a
    // temp FILE per payload (the JVM-wide cache default), which dominated
    // the per-row decode cost (~7 ms/op for 24×24 images)
    val iis = new MemoryCacheImageInputStream(new ByteArrayInputStream(payload))
    val img =
      try {
        reader.setInput(iis, true, true)
        reader.read(0)
      } finally { reader.setInput(null); iis.close() }
    require(img != null, "not a decodable JPEG payload")
    val (w, h) = (img.getWidth, img.getHeight)
    val gray =
      if (img.getType == BufferedImage.TYPE_BYTE_GRAY) img
      else {
        val g = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
        val gr = g.createGraphics()
        try gr.drawImage(img, 0, 0, null) finally gr.dispose()
        g
      }
    val px = new Array[Byte](w * h)
    val raster = gray.getRaster
    var y = 0
    var i = 0
    while (y < h) {
      var x = 0
      while (x < w) { px(i) = raster.getSample(x, y, 0).toByte; x += 1; i += 1 }
      y += 1
    }
    Decoded(w, h, px)
  }
}
