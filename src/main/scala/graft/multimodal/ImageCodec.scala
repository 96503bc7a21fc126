package graft.multimodal

import java.awt.image.BufferedImage
import java.io.ByteArrayInputStream

import javax.imageio.ImageIO

/** Real image codec on the JDK's built-in `javax.imageio` — JPEG, PNG,
  * GIF and BMP decode with ZERO external dependencies, closing the one
  * stub the multimodal pipeline carried (SURVEY §2.7 multimodal columns;
  * the reference pipeline has no media leg, so this whole surface is
  * north-star scope).
  *
  * Everything after the decode is pure pixel arithmetic on the ARGB int
  * raster — no `Graphics2D` rendering, no AWT scaling hints — so
  * feature vectors and frame bytes are bit-deterministic across
  * JVMs, which the engine's oracle/golden discipline requires. Decode
  * itself is deterministic for the supported formats (PNG/GIF/BMP are
  * lossless; JPEG decode is fully specified by libjpeg-compatible
  * inverse DCT in the JDK reader).
  *
  * Executor-side use: all methods are pure `Array[Byte] => ...`
  * functions safe inside `mapPartitions`; `ImageIO` readers are
  * instantiated per call (they are NOT thread-safe shared), and the
  * disk-cache is disabled so codecs never touch executor-local tmp. */
object ImageCodec {

  ImageIO.setUseCache(false) // in-memory streams only, never /tmp spill

  /** Decode image bytes; None when the payload is not a decodable image
    * (wrong magic, truncated file, unsupported format) — the caller's
    * signal to fall back to the opaque-payload stub. */
  def decode(bytes: Array[Byte]): Option[BufferedImage] =
    try Option(ImageIO.read(new ByteArrayInputStream(bytes)))
    catch { case _: Exception => None }

  /** Fixed-dim feature vector from the decoded raster: the pixel stream
    * (row-major) is cut into `dim` equal cells and each cell contributes
    * its mean luminance (Rec.601 weights) in [0,1] — the deterministic
    * stand-in for a learned image embedding, shaped exactly like one. */
  def gridFeature(img: BufferedImage, dim: Int): Array[Float] = {
    require(dim > 0, s"dim must be positive: $dim")
    val w = img.getWidth; val h = img.getHeight
    val n = w.toLong * h
    val sums = new Array[Double](dim)
    val counts = new Array[Long](dim)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val argb = img.getRGB(x, y)
        val r = (argb >> 16) & 0xFF; val g = (argb >> 8) & 0xFF
        val b = argb & 0xFF
        // cell = floor(pixelIndex * dim / n): first cells never starve
        // even when n < dim.
        val cell = (((y.toLong * w + x) * dim) / n).toInt
        sums(cell) += (0.299 * r + 0.587 * g + 0.114 * b) / 255.0
        counts(cell) += 1
        x += 1
      }
      y += 1
    }
    val out = new Array[Float](dim)
    var i = 0
    while (i < dim) {
      out(i) = if (counts(i) == 0) 0.0f else (sums(i) / counts(i)).toFloat
      i += 1
    }
    out
  }

  /** Horizontal-band "frames": the decoded raster split into bands of
    * `bandRows` rows, each emitted as packed RGB bytes — the image-side
    * analogue of video frame extraction (one media row fans out to many
    * frame rows), with the frame payload in the canonical deterministic
    * form rather than a re-encoded file. */
  def bandFrames(img: BufferedImage, bandRows: Int): Seq[Array[Byte]] = {
    require(bandRows > 0, s"bandRows must be positive: $bandRows")
    val w = img.getWidth; val h = img.getHeight
    (0 until h by bandRows).map { y0 =>
      val rows = math.min(bandRows, h - y0)
      val band = new Array[Byte](w * rows * 3)
      var y = 0
      while (y < rows) {
        var x = 0
        while (x < w) {
          val argb = img.getRGB(x, y0 + y)
          val i = (y * w + x) * 3
          band(i) = ((argb >> 16) & 0xFF).toByte
          band(i + 1) = ((argb >> 8) & 0xFF).toByte
          band(i + 2) = (argb & 0xFF).toByte
          x += 1
        }
        y += 1
      }
      band
    }
  }
}
