package graft.queries

import java.awt.image.BufferedImage
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream,
  AudioSystem}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Closed-form synthetic media for the multimodal queries: every clip,
  * raster and frame is a pure integer function of its clip number `m`,
  * encoded through the actual JDK codecs, so each query's oracle can
  * replay the decoder's statistics from the same integer math. */
private[queries] object MediaFixtures {

  /** The blob frame the multimodal operators read: `(media_id, kind,
    * content, meta)`, every clip tagged `origin -> synth`. */
  def blobFrame(s: SparkSession, kind: String,
                media: Seq[(Long, Array[Byte])]): DataFrame = {
    import s.implicits._
    media.toDF("media_id", "content")
      .select(col("media_id"), lit(kind).as("kind"), col("content"),
        map(lit("origin"), lit("synth")).as("meta"))
  }

  /** Element `i` (1-based) of `feature_vec`, round-6, as `name`. */
  def vecAt(i: Int, name: String): Column =
    round(element_at(col("feature_vec"), i).cast("double"), 6).as(name)

  /** Frames per synthetic audio clip. */
  val AudioFrames = 256

  /** A 256-frame 16-bit mono 8 kHz PCM clip of `sample(i)`: WAVE
    * (little-endian), or AIFF (big-endian) when `aiff`. */
  def pcmClip(sample: Int => Int, aiff: Boolean = false): Array[Byte] = {
    val pcm = new Array[Byte](AudioFrames * 2)
    var i = 0
    while (i < AudioFrames) {
      val v = sample(i)
      val (lo, hi) = ((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
      if (aiff) { pcm(2 * i) = hi; pcm(2 * i + 1) = lo }
      else { pcm(2 * i) = lo; pcm(2 * i + 1) = hi }
      i += 1
    }
    val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
      8000f, 16, 1, 2, 8000f, aiff)
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, AudioFrames.toLong)
    val out = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais,
      if (aiff) AudioFileFormat.Type.AIFF else AudioFileFormat.Type.WAVE,
      out)
    out.toByteArray
  }

  /** Full-range clip `m`: v = ((i*(2m+1)*2654435761) % 65536) - 32768. */
  def fullRangeSample(m: Int)(i: Int): Int = {
    val k = 2 * m + 1
    (((i.toLong * k * 2654435761L) % 65536L) - 32768L).toInt
  }

  /** Pixel (x, y) of closed-form raster `m`, packed 0xRRGGBB. */
  def rasterRgb(m: Int)(x: Int, y: Int): Int = {
    val r = (x * 37 + y * 101 + m * 13) % 256
    val g = (x * 59 + y * 17 + m * 29) % 256
    val b = (x * 7 + y * 43 + m * 71) % 256
    (r << 16) | (g << 8) | b
  }

  /** A `w` x `h` RGB raster of the packed pixels `px(x, y)`. */
  def raster(w: Int, h: Int)(px: (Int, Int) => Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, px(x, y))
    img
  }

  /** `img` encoded by the JDK's `fmt` writer (png, bmp). */
  def encode(img: BufferedImage, fmt: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(img, fmt, out))
    out.toByteArray
  }

  /** An 8 x 5 video frame of one color `rgb` on an explicit 2-entry
    * palette: GIF stores the palette verbatim, so decode is bit-exact. */
  def uniformFrame(rgb: Int): BufferedImage = {
    val cm = new java.awt.image.IndexColorModel(8, 2,
      Array(((rgb >> 16) & 0xFF).toByte, 0.toByte),
      Array(((rgb >> 8) & 0xFF).toByte, 0.toByte),
      Array((rgb & 0xFF).toByte, 0.toByte))
    val img = new BufferedImage(8, 5, BufferedImage.TYPE_BYTE_INDEXED, cm)
    val g2 = img.createGraphics()
    try {
      g2.setColor(new java.awt.Color(rgb)); g2.fillRect(0, 0, 8, 5)
    } finally g2.dispose()
    img
  }
}
