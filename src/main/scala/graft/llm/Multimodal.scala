package graft.llm

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns: image/audio/video as opaque `binary` columns
  * with typed metadata, plus the decode / feature-extract plumbing.
  *
  * IMAGES decode for real through the JDK's own codecs
  * ([[MediaDecoder.ImageIO]]: PNG/BMP/GIF/JPEG — true dimensions +
  * channel/quadrant statistics), so does AUDIO
  * ([[MediaDecoder.AudioIO]]: WAV/AIFF/AU PCM — sample rate,
  * channels, frame count, per-channel RMS/peak + time-segment
  * energies), and so does multi-frame VIDEO for the one container
  * the JDK can enumerate ([[MediaDecoder.VideoIO]]: animated GIF —
  * frame count, sampled-frame lumas + temporal deltas; other video
  * codecs fall back to the stub pending an ffmpeg-backed impl), all
  * spec'd against in-memory-encoded fixtures;
  * [[MediaDecoder.Jdk]] composes them per kind
  * ([[MediaDecoder.Deterministic]] is the fallback for
  * undecodable payloads). Everything Spark-side is real and tested:
  * the blob schema, `binaryFile` ingestion, partition-sized batching
  * through `mapPartitions`, the feature schema, and the downstream
  * joins. Swapping in an ffmpeg-backed codec is implementing one
  * trait method.
  *
  * Scale notes: blobs never ride through a shuffle — features are
  * extracted scan-side (mapPartitions directly over the source read)
  * and only the small feature rows move. Batch shape = one parquet
  * row-group per task; cap blob size with
  * `spark.sql.files.maxPartitionBytes` so a task's batch fits in
  * executor memory.
  */
object Multimodal {

  /** The multimodal row contract. */
  val blobSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false), // image|audio|video
    StructField("content", BinaryType, nullable = true),
    StructField("meta", MapType(StringType, StringType), nullable = true)))

  /** Extracted features (decode output contract). */
  val featureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("byte_len", LongType, nullable = false),
    StructField("content_hash", LongType, nullable = false),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("n_frames", IntegerType, nullable = true),
    StructField("feature_vec", ArrayType(FloatType), nullable = true),
    // true iff a REAL codec produced the row's dims/features; false =
    // the deterministic stub stood in (undecodable payload, or the
    // stub ran as the primary decoder) — quality gates key on this
    StructField("decoded", BooleanType, nullable = false)))

  /** Pluggable decoder. Implementations must be thread-safe and
    * per-partition reusable (constructed once per task, not per row). */
  trait MediaDecoder extends Serializable {
    /** Decode one blob through a REAL codec: `Some(result)` when the
      * codec handled it, `None` when it falls to the deterministic
      * stub (downstream feature rows then carry `decoded = false`,
      * so quality gates never judge stub arithmetic as signal). */
    def tryDecode(kind: String, bytes: Array[Byte])
        : Option[(Int, Int, Int, Array[Float])]
    /** Total decode: the real result, or the stub. */
    final def decode(kind: String, bytes: Array[Byte])
        : (Int, Int, Int, Array[Float]) =
      tryDecode(kind, bytes).getOrElse(MediaDecoder.stub(kind, bytes))
  }

  object MediaDecoder {
    /** The deterministic stub arithmetic — plausible dimensions and
      * an 8-dim "feature vector" from an MD5 content hash, chosen to
      * be reproducible in plain SQL (h32 = first 4 MD5 bytes
      * unsigned) so the whole multimodal plumbing is
      * oracle-verifiable end-to-end even with no codec present. */
    private[llm] def stub(kind: String, bytes: Array[Byte])
        : (Int, Int, Int, Array[Float]) = {
      val h = graft.functions.SketchOps.md5Base32(bytes)
      val w = (64 + h % 512).toInt
      val ht = (64 + (h >> 9) % 512).toInt
      val frames = kind match {
        case "video" => (1 + (h >> 18) % 120).toInt
        case "audio" => (1 + (h >> 18) % 1000).toInt
        case _       => 1
      }
      val vec = Array.tabulate(8)(i =>
        (((h >> i) & 0xFF) / 255.0f) - 0.5f)
      (w, ht, frames, vec)
    }

    /** STUB decoder — [[stub]] as the primary decoder (the no-codec
      * container path). Never claims a real decode, so every feature
      * row it produces carries `decoded = false`. */
    object Deterministic extends MediaDecoder {
      def tryDecode(kind: String, bytes: Array[Byte])
          : Option[(Int, Int, Int, Array[Float])] = None
    }

    /** REAL image decoder on the JDK's own codecs (`javax.imageio`:
      * PNG, BMP, GIF, JPEG, WBMP — no external native libs). Decodes
      * the blob, reports true pixel dimensions, and emits an 8-dim
      * feature vector of channel statistics in [0,1]:
      * `(meanR, meanG, meanB, meanLuma, luma(TL), luma(TR),
      * luma(BL), luma(BR))` — means over all pixels and the four
      * image quadrants (empty quadrant → 0), luma = (R+G+B)/3. The
      * quadrant means make the vector weakly spatial, so trivially
      * different layouts of the same palette separate.
      *
      * Payloads the JDK cannot decode (non-image kinds, truncated or
      * foreign codecs) FALL BACK to [[Deterministic]] — the operator
      * stays total and the no-codec container behavior is unchanged.
      * Thread-safe: `ImageIO.read` constructs a fresh reader per
      * call; the in-memory stream avoids the shared disk cache. */
    object ImageIO extends MediaDecoder {
      def tryDecode(kind: String, bytes: Array[Byte])
          : Option[(Int, Int, Int, Array[Float])] = {
        val img =
          if (kind != "image" || bytes.isEmpty) null
          else
            try javax.imageio.ImageIO.read(
              new javax.imageio.stream.MemoryCacheImageInputStream(
                new java.io.ByteArrayInputStream(bytes)))
            // crafted/corrupt payloads can throw unchecked errors
            // from inside a codec plugin, not just IIOException — a
            // poisoned blob must degrade to the stub, not kill the
            // task (and with it the whole 100 TB stage)
            catch { case scala.util.control.NonFatal(_) => null }
        if (img == null) None
        else {
          val (w, h) = (img.getWidth, img.getHeight)
          val sums = Array.fill(3)(0L)
          val qLuma = Array.fill(4)(0L)
          val qN = Array.fill(4)(0L)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              val (r, g, b) =
                ((rgb >> 16) & 0xFF, (rgb >> 8) & 0xFF, rgb & 0xFF)
              sums(0) += r; sums(1) += g; sums(2) += b
              val q = (if (y * 2 >= h) 2 else 0) +
                (if (x * 2 >= w) 1 else 0)
              qLuma(q) += r + g + b
              qN(q) += 1
              x += 1
            }
            y += 1
          }
          val n = w.toLong * h
          val vec = Array(
            (sums(0).toDouble / (n * 255.0)).toFloat,
            (sums(1).toDouble / (n * 255.0)).toFloat,
            (sums(2).toDouble / (n * 255.0)).toFloat,
            ((sums(0) + sums(1) + sums(2)).toDouble /
              (n * 3.0 * 255.0)).toFloat,
            quad(qLuma, qN, 0), quad(qLuma, qN, 1),
            quad(qLuma, qN, 2), quad(qLuma, qN, 3))
          Some((w, h, 1, vec))
        }
      }
      private def quad(s: Array[Long], n: Array[Long], i: Int): Float =
        if (n(i) == 0L) 0.0f
        else (s(i).toDouble / (n(i) * 3.0 * 255.0)).toFloat
    }

    /** REAL audio decoder on the JDK's own codec stack
      * (`javax.sound.sampled` — WAV/AIFF/AU containers, PCM payloads,
      * no external native libs). Maps the audio clip onto the shared
      * feature contract:
      * `width` = sample rate (Hz), `height` = channel count,
      * `n_frames` = PCM frame count (so duration_sec =
      * n_frames / width, derivable relationally downstream), and an
      * 8-dim feature vector of level statistics over samples
      * normalized to [-1, 1]:
      * `(rms(ch0), rms(ch1), peak(ch0), peak(ch1),
      * rms(seg1), rms(seg2), rms(seg3), rms(seg4))` — per-channel
      * RMS/peak for the first two channels (mono duplicates ch0; the
      * segment stats still cover ALL channels) and overall RMS over
      * the four equal time segments of the clip, the quadrant-mean
      * idea of [[ImageIO]] transposed to time.
      *
      * Non-16-bit-LE-PCM payloads (8-bit, big-endian, µ-law/a-law)
      * are converted through `AudioSystem.getAudioInputStream(target,
      * in)` — the JDK's own transcoders. Anything it cannot decode
      * (non-audio kinds, compressed codecs like MP3/OGG, truncated
      * headers, zero-frame clips) FALLS BACK to [[Deterministic]]:
      * the operator stays total and a poisoned blob degrades instead
      * of killing the 100 TB stage. Thread-safe: every call builds
      * its own streams over the in-memory payload. */
    object AudioIO extends MediaDecoder {
      /** Decode any JDK-supported audio container to 16-bit LE PCM:
        * `(sampleRate, channels, pcmBytes)`. Non-16-bit-LE payloads
        * go through the JDK's own transcoders; anything undecodable
        * or zero-frame yields None. Shared by the feature decoder and
        * [[Multimodal.audioFingerprint]]. */
      private[llm] def decodePcm16(bytes: Array[Byte])
          : Option[(Int, Int, Array[Byte])] =
        if (bytes.isEmpty) None
        else try {
          val src = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(bytes))
          val f = src.getFormat
          val pcm16 =
            f.getEncoding ==
              javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
            f.getSampleSizeInBits == 16 && !f.isBigEndian
          val in =
            if (pcm16) src
            else javax.sound.sampled.AudioSystem.getAudioInputStream(
              new javax.sound.sampled.AudioFormat(
                javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
                f.getSampleRate, 16, f.getChannels,
                f.getChannels * 2, f.getSampleRate, false), src)
          val pcm = try in.readAllBytes() finally in.close()
          val channels = in.getFormat.getChannels
          if (pcm.length / (channels * 2) == 0) None
          else Some((in.getFormat.getSampleRate.toInt, channels, pcm))
        } catch { case scala.util.control.NonFatal(_) => None }

      def tryDecode(kind: String, bytes: Array[Byte])
          : Option[(Int, Int, Int, Array[Float])] =
        if (kind != "audio") None
        else decodePcm16(bytes).map { case (rate, channels, pcm) =>
          stats(pcm, rate, channels, pcm.length / (channels * 2))
        }

      private def stats(pcm: Array[Byte], rate: Int, channels: Int,
                        frames: Int): (Int, Int, Int, Array[Float]) = {
        val sumSq = Array.fill(2)(0.0)
        val peak = Array.fill(2)(0.0)
        val segSq = Array.fill(4)(0.0)
        val segN = Array.fill(4)(0L)
        var fr = 0
        while (fr < frames) {
          val seg = math.min(3, (fr.toLong * 4 / frames).toInt)
          var c = 0
          while (c < channels) {
            val i = (fr * channels + c) * 2
            val s = (((pcm(i + 1).toInt << 8) | (pcm(i) & 0xFF))
              / 32768.0)
            val cc = math.min(c, 1)
            if (c < 2) {
              sumSq(cc) += s * s
              if (math.abs(s) > peak(cc)) peak(cc) = math.abs(s)
            }
            segSq(seg) += s * s
            segN(seg) += 1L
            c += 1
          }
          fr += 1
        }
        def rms(sq: Double, n: Long): Float =
          if (n == 0L) 0.0f else math.sqrt(sq / n).toFloat
        val r0 = rms(sumSq(0), frames.toLong)
        val vec = Array(
          r0, if (channels >= 2) rms(sumSq(1), frames.toLong) else r0,
          peak(0).toFloat,
          if (channels >= 2) peak(1).toFloat else peak(0).toFloat,
          rms(segSq(0), segN(0)), rms(segSq(1), segN(1)),
          rms(segSq(2), segN(2)), rms(segSq(3), segN(3)))
        (rate, channels, frames, vec)
      }
    }

    /** REAL multi-frame (video-shaped) decoder on the JDK's own codec
      * stack: animated GIF is the one multi-frame media container
      * `javax.imageio` decodes without native libs, and it exercises
      * every piece of a video decode path — frame enumeration
      * (`reader.getNumImages(true)`), per-frame raster decode
      * (`reader.read(i)`), and temporal feature extraction. Maps onto
      * the shared feature contract: `width`/`height` = first frame's
      * pixel dimensions, `n_frames` = container frame count, and an
      * 8-dim feature vector from FOUR evenly sampled frames
      * (indices `i*(n-1)/3`, integer division, i = 0..3 — duplicates
      * collapse naturally for short clips):
      * `(luma(f0), luma(f1), luma(f2), luma(f3),
      * |luma(f1)-luma(f0)|, |luma(f2)-luma(f1)|, |luma(f3)-luma(f2)|,
      * meanLuma)` — per-frame mean luma in [0,1]
      * (luma = (R+G+B)/3, the [[ImageIO]] convention) plus the three
      * consecutive-sample deltas as a temporal-activity signal (a
      * static clip scores 0 on all three; a hard cut spikes one).
      *
      * Only the ≤4 sampled frames are rasterized — the frame COUNT
      * pass reads container headers, so a 10k-frame clip costs 4
      * decodes, not 10k. Frame stats are over each frame's RAW raster
      * (no GIF disposal-method compositing) — for feature extraction
      * that is the right trade: compositing state is sequential and
      * would force decoding every prior frame. Undecodable payloads
      * (non-video kinds, foreign/truncated codecs, zero frames) FALL
      * BACK to [[Deterministic]] — total, like its siblings. */
    object VideoIO extends MediaDecoder {
      def tryDecode(kind: String, bytes: Array[Byte])
          : Option[(Int, Int, Int, Array[Float])] =
        if (kind != "video") None
        else sampledFrames(bytes) { img =>
          var sum = 0L
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) {
              val rgb = img.getRGB(x, y)
              sum += ((rgb >> 16) & 0xFF) +
                ((rgb >> 8) & 0xFF) + (rgb & 0xFF)
              x += 1
            }
            y += 1
          }
          (img.getWidth, img.getHeight,
            sum.toDouble /
              (img.getWidth.toLong * img.getHeight * 3.0 * 255.0))
        }.map { case (n, fr) =>
          val luma = fr.map(_._3)
          val vec = Array(
            luma(0).toFloat, luma(1).toFloat,
            luma(2).toFloat, luma(3).toFloat,
            math.abs(luma(1) - luma(0)).toFloat,
            math.abs(luma(2) - luma(1)).toFloat,
            math.abs(luma(3) - luma(2)).toFloat,
            ((luma(0) + luma(1) + luma(2) + luma(3)) / 4.0).toFloat)
          (fr(0)._1, fr(0)._2, n, vec)
        }
    }

    /** Production composite: dispatch each blob to the JDK codec for
      * its kind — [[ImageIO]] for images, [[AudioIO]] for audio,
      * [[VideoIO]] for video (multi-frame GIF; other containers fall
      * back inside it), [[Deterministic]] for anything else. One
      * decoder instance serves a whole partition, like its parts. */
    object Jdk extends MediaDecoder {
      def tryDecode(kind: String, bytes: Array[Byte])
          : Option[(Int, Int, Int, Array[Float])] = kind match {
        case "image" => ImageIO.tryDecode(kind, bytes)
        case "audio" => AudioIO.tryDecode(kind, bytes)
        case "video" => VideoIO.tryDecode(kind, bytes)
        case _       => None
      }
    }
  }

  /** Open a multi-frame container (animated GIF — the one the JDK
    * enumerates), decode its 4 evenly-sampled frames (indices
    * `i*(n-1)/3`, duplicate indices decoded once) and map each
    * through `f`. None when no reader claims the payload, it has no
    * frames, or a codec throws — callers degrade to the stub
    * ([[MediaDecoder.VideoIO]]) or emit no rows
    * ([[videoPhashFrames]]). The single implementation both video
    * faces share (frame-count pass reads headers; only 4 frames
    * rasterize). */
  /** Open a multi-frame container and hand `(reader, nFrames)` to
    * `f` with the full open/dispose/NonFatal lifecycle handled ONCE
    * — the single copy of the fiddly ImageIO boilerplate every
    * frame-walking face shares. None when no reader claims the
    * payload, it has no frames, or a codec throws. */
  private[llm] def withFrameReader[A](bytes: Array[Byte],
      ignoreMetadata: Boolean)(
      f: (javax.imageio.ImageReader, Int) => A): Option[A] =
    if (bytes.isEmpty) None
    else try {
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) { iis.close(); None }
      else {
        val reader = readers.next()
        try {
          // seekForwardOnly=false: getNumImages(allowSearch) needs
          // to scan ahead, frame reads then seek back
          reader.setInput(iis, false, ignoreMetadata)
          val n = reader.getNumImages(true)
          if (n <= 0) None else Some(f(reader, n))
        } finally { reader.dispose(); iis.close() }
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  private[llm] def sampledFrames[A: scala.reflect.ClassTag](
      bytes: Array[Byte])(f: java.awt.image.BufferedImage => A)
      : Option[(Int, Array[A])] =
    withFrameReader(bytes, ignoreMetadata = true) { (reader, n) =>
      val idx =
        Array.tabulate(4)(i => (i.toLong * (n - 1) / 3).toInt)
      val out = new Array[A](4)
      var i = 0
      while (i < 4) {
        out(i) =
          if (i > 0 && idx(i) == idx(i - 1)) out(i - 1)
          else f(reader.read(idx(i)))
        i += 1
      }
      (n, out)
    }

  /** Encode frames as an animated GIF (the sink-side complement of
    * [[MediaDecoder.VideoIO]] — preview strips, resampled clips, spec
    * fixtures). Pure JDK: the `javax.imageio` GIF writer in sequence
    * mode with a per-frame GraphicControlExtension carrying
    * `delayCs` (centiseconds). Frames using an explicit
    * `IndexColorModel` (`TYPE_BYTE_INDEXED`) round-trip their palette
    * EXACTLY — the property [[MediaDecoder.VideoIO]]'s spec and
    * oracle row rely on; true-color frames get quantized by the
    * writer (GIF is an 8-bit-palette format). */
  def encodeGif(frames: Seq[java.awt.image.BufferedImage],
                delayCs: Int = 10): Array[Byte] = {
    require(frames.nonEmpty, "encodeGif: no frames")
    val writer =
      javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frames.foreach { img =>
        val meta = writer.getDefaultImageMetadata(
          new javax.imageio.ImageTypeSpecifier(img),
          writer.getDefaultWriteParam)
        val fmt = meta.getNativeMetadataFormatName
        val root = meta.getAsTree(fmt)
          .asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
        // find-or-create the GraphicControlExtension node (the
        // default tree may or may not carry one)
        val gce = {
          var node = root.getFirstChild
          while (node != null &&
              node.getNodeName != "GraphicControlExtension")
            node = node.getNextSibling
          if (node != null)
            node.asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
          else {
            val fresh = new javax.imageio.metadata.IIOMetadataNode(
              "GraphicControlExtension")
            root.appendChild(fresh)
            fresh
          }
        }
        gce.setAttribute("disposalMethod", "none")
        gce.setAttribute("userInputFlag", "FALSE")
        gce.setAttribute("transparentColorFlag", "FALSE")
        gce.setAttribute("transparentColorIndex", "0")
        gce.setAttribute("delayTime", delayCs.toString)
        meta.setFromTree(fmt, root)
        writer.writeToSequence(
          new javax.imageio.IIOImage(img, null, meta), null)
      }
      writer.endWriteSequence()
    } finally {
      ios.close()
      writer.dispose()
    }
    bos.toByteArray
  }

  /** Ingest a directory of raw files as blobs (binaryFile source). */
  def readBlobs(spark: SparkSession, path: String, kind: String): DataFrame =
    spark.read.format("binaryFile").load(path)
      .select(xxhash64(col("path")).as("media_id"), lit(kind).as("kind"),
        col("content"),
        map(lit("path"), col("path"),
          lit("mtime"), col("modificationTime").cast("string"))
          .as("meta"))

  /** Streaming twin of [[readBlobs]]: watch a directory as a
    * `binaryFile` STREAM source (new files become micro-batch rows) —
    * the ingestion face [[graft.streaming.IngestStream
    * .mediaNearDupIngest]] consumes. Same blob contract. */
  def readBlobStream(spark: SparkSession, path: String, kind: String)
      : DataFrame =
    spark.readStream.format("binaryFile")
      // streaming file sources require the schema up front; the
      // binaryFile schema is fixed by the format
      .schema(StructType(Seq(
        StructField("path", StringType),
        StructField("modificationTime", TimestampType),
        StructField("length", LongType),
        StructField("content", BinaryType))))
      .load(path)
      .select(xxhash64(col("path")).as("media_id"), lit(kind).as("kind"),
        col("content"),
        map(lit("path"), col("path"),
          lit("mtime"), col("modificationTime").cast("string"))
          .as("meta"))

  /** Wrap any (id, bytes) projection into the blob contract — used in
    * tests/demos where blobs are synthesized from existing columns. */
  def asBlobs(df: DataFrame, idCol: String, bytesCol: String,
              kind: String): DataFrame =
    df.select(col(idCol).cast("long").as("media_id"), lit(kind).as("kind"),
      col(bytesCol).cast("binary").as("content"),
      map(lit("origin"), lit(idCol)).as("meta"))

  /** Feature extraction: partition-batched decode. The Scala
    * equivalent of a `mapInPandas` batch UDF — one decoder instance
    * per partition, iterator-to-iterator (no materialization of the
    * whole partition), rows stay in Tungsten format on both sides. */
  def extractFeatures(blobs: DataFrame,
                      decoder: MediaDecoder = MediaDecoder.Deterministic)
      : DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(featureSchema)
    blobs.select("media_id", "kind", "content").mapPartitions { it =>
      it.map { row =>
        val id = row.getLong(0)
        val kind = row.getString(1)
        val bytes = if (row.isNullAt(2)) Array.empty[Byte]
          else row.getAs[Array[Byte]](2)
        val real = decoder.tryDecode(kind, bytes)
        val (w, h, frames, vec) =
          real.getOrElse(MediaDecoder.stub(kind, bytes))
        Row(id, kind, bytes.length.toLong,
          org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
            bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
            bytes.length, 42).toLong,
          w, h, frames, vec.toSeq, real.isDefined)
      }
    }(enc).toDF()
  }

  /** Pluggable resizer — same contract shape as [[MediaDecoder]]:
    * thread-safe, constructed once per partition. The STUB transform
    * is a deterministic byte-level downsample (every stride-th byte)
    * standing in for a real pixel resample; the Spark-side plumbing
    * (partition batching, schema, metadata rewrite) is the real
    * design. */
  trait MediaResizer extends Serializable {
    def resize(kind: String, bytes: Array[Byte], w: Int, h: Int)
        : Array[Byte]
  }

  object MediaResizer {
    object Deterministic extends MediaResizer {
      def resize(kind: String, bytes: Array[Byte], w: Int, h: Int)
          : Array[Byte] = {
        val target = math.max(1, math.min(bytes.length, w * h))
        val stride = (bytes.length + target - 1) / target
        bytes.grouped(math.max(1, stride)).map(_.head).toArray
      }
    }

    /** REAL image resampler on the JDK's own stack: decode via
      * `javax.imageio`, bilinear-interpolated `Graphics2D` draw to the
      * target dimensions, re-encode as PNG (lossless — the resized
      * blob round-trips through [[MediaDecoder.ImageIO]] with exact
      * stats). Anything undecodable (non-image kinds, junk, foreign
      * codecs) falls back to [[Deterministic]], keeping the operator
      * total — the same contract as the decoders. */
    object ImageIO extends MediaResizer {
      def resize(kind: String, bytes: Array[Byte], w: Int, h: Int)
          : Array[Byte] = {
        val resized =
          if (kind != "image" || bytes.isEmpty) null
          else try {
            val img = javax.imageio.ImageIO.read(
              new javax.imageio.stream.MemoryCacheImageInputStream(
                new java.io.ByteArrayInputStream(bytes)))
            if (img == null) null
            else {
              val out = new java.awt.image.BufferedImage(w, h,
                java.awt.image.BufferedImage.TYPE_INT_RGB)
              val g = out.createGraphics()
              try {
                g.setRenderingHint(
                  java.awt.RenderingHints.KEY_INTERPOLATION,
                  java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
                g.drawImage(img, 0, 0, w, h, null)
              } finally g.dispose()
              val bos = new java.io.ByteArrayOutputStream()
              if (javax.imageio.ImageIO.write(out, "png", bos))
                bos.toByteArray
              else null
            }
          } catch { case scala.util.control.NonFatal(_) => null }
        if (resized == null) Deterministic.resize(kind, bytes, w, h)
        else resized
      }
    }
  }

  /** Resize blobs to target dimensions — partition-batched like
    * [[extractFeatures]] (the mapInPandas shape): one resizer per
    * task, rows streamed through it, output schema = input schema
    * with updated content + dims columns. Narrow (no shuffle). */
  private[graft] def resizeBlobs(
      blobs: DataFrame, width: Int, height: Int,
      resizer: MediaResizer = MediaResizer.Deterministic)
      : DataFrame = {
    val schema = StructType(blobs.schema.fields ++ Seq(
      StructField("target_w", IntegerType, nullable = false),
      StructField("target_h", IntegerType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    val kindIdx = blobs.schema.fieldIndex("kind")
    val contentIdx = blobs.schema.fieldIndex("content")
    blobs.mapPartitions { rows =>
      rows.map { row =>
        // content is nullable by contract — null blobs pass through
        val resized =
          if (row.isNullAt(contentIdx)) null
          else resizer.resize(row.getString(kindIdx),
            row.getAs[Array[Byte]](contentIdx), width, height)
        val vals = row.toSeq.updated(contentIdx, resized) ++
          Seq(width, height)
        Row.fromSeq(vals)
      }
    }(enc)
  }

  /** Write blobs back out as one file per row (`<dir>/<media_id>.bin`)
    * — the raw-bytes sink the reference's ByteString serial provides
    * (SerializationMethod.hs:514-538). Executor-side foreachPartition:
    * each task writes its own rows through the Hadoop FS API (works on
    * file:/s3a:/hdfs:), nothing funnels through the driver. */
  def writeBlobs(blobs: DataFrame, dir: String): Unit = {
    val conf = new org.apache.spark.util.SerializableConfiguration(
      blobs.sparkSession.sparkContext.hadoopConfiguration)
    blobs.select("media_id", "content").foreachPartition {
      (it: Iterator[Row]) =>
        val base = new org.apache.hadoop.fs.Path(dir)
        val fs = base.getFileSystem(conf.value)
        fs.mkdirs(base)
        it.foreach { row =>
          // null content (nullable by contract) lands as an empty file
          // — the sink stays total, matching extractFeatures' treatment
          // of null as zero bytes
          val bytes =
            if (row.isNullAt(1)) Array.empty[Byte]
            else row.getAs[Array[Byte]](1)
          val out = fs.create(
            new org.apache.hadoop.fs.Path(base, s"${row.getLong(0)}.bin"),
            true)
          try out.write(bytes) finally out.close()
        }
    }
  }

  /** Audio quality gate over an [[extractFeatures]] table (AudioIO
    * rows): per-clip duration plus clipping / silence verdicts — the
    * two gates an audio training pipeline applies first (a clipped
    * clip distorts features, a silent one carries none). Pure
    * relational arithmetic over the already-extracted statistics; the
    * corpus blobs are never re-read. Output `(media_id, n_frames,
    * duration_sec, rms, peak, is_clipped, is_silent, is_undecoded)`
    * — stub rows (no real codec decoded the clip) get ONLY the
    * undecoded verdict, never a level one. */
  def audioQuality(feats: DataFrame, clipThreshold: Double = 0.99,
                   silenceRms: Double = 0.01): DataFrame =
    feats.filter(col("kind") === "audio")
      .select(col("media_id"),
        col("n_frames").cast("long").as("n_frames"),
        round(col("n_frames").cast("double") /
          col("width").cast("double"), 6).as("duration_sec"),
        round(element_at(col("feature_vec"), 1).cast("double"), 6)
          .as("rms"),
        round(element_at(col("feature_vec"), 3).cast("double"), 6)
          .as("peak"),
        // stub features are md5 arithmetic, not signal — an
        // undecodable clip gets ITS OWN verdict, never a level one
        (col("decoded") &&
          element_at(col("feature_vec"), 3).cast("double") >=
            clipThreshold).as("is_clipped"),
        (col("decoded") &&
          element_at(col("feature_vec"), 1).cast("double") <
            silenceRms).as("is_silent"),
        (!col("decoded")).as("is_undecoded"))

  /** Image quality gate over an [[extractFeatures]] table (ImageIO
    * rows): size / aspect / flatness verdicts from the extracted
    * statistics alone (blobs never re-read) — tiny thumbnails,
    * banner-shaped crops, and near-uniform images are the first
    * discards of an image curation pass. Flatness uses the quadrant
    * luma spread (max − min of the four quadrant means): a uniform
    * image spreads 0. Output `(media_id, width, height, n_pixels,
    * aspect, quad_spread, is_tiny, is_extreme_aspect, is_flat,
    * is_undecoded)` — stub rows get only the undecoded verdict. */
  def imageQuality(feats: DataFrame, minPixels: Long = 4096L,
                   maxAspect: Double = 4.0, flatEps: Double = 0.02)
      : DataFrame = {
    def quad(i: Int) =
      element_at(col("feature_vec"), i).cast("double")
    val spread = greatest(quad(5), quad(6), quad(7), quad(8)) -
      least(quad(5), quad(6), quad(7), quad(8))
    val aspect = greatest(col("width"), col("height")).cast("double") /
      least(col("width"), col("height")).cast("double")
    feats.filter(col("kind") === "image")
      .select(col("media_id"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        (col("width").cast("long") * col("height")).as("n_pixels"),
        round(aspect, 6).as("aspect"),
        round(spread, 6).as("quad_spread"),
        (col("decoded") &&
          col("width").cast("long") * col("height") < minPixels)
          .as("is_tiny"),
        (col("decoded") && aspect > maxAspect).as("is_extreme_aspect"),
        (col("decoded") && spread < flatEps).as("is_flat"),
        (!col("decoded")).as("is_undecoded"))
  }

  /** Video quality gate over an [[extractFeatures]] table
    * ([[MediaDecoder.VideoIO]] rows): the first discards of a video
    * curation pass, from the extracted statistics alone (blobs never
    * re-read) — single-frame/short clips carry no temporal signal,
    * STATIC clips (all sampled-frame deltas below `staticEps`) are
    * screen-recordings of stills, and FLICKER clips (mean delta
    * above `flickerEps`) are strobing/corrupted transcodes. Output
    * `(media_id, n_frames, max_delta, mean_delta, is_short,
    * is_static, is_flicker, is_undecoded)` — stub rows (e.g. an MP4
    * the GIF-only enumerator cannot open) get ONLY the undecoded
    * verdict: stub features are md5 arithmetic, not temporal
    * signal. */
  def videoQuality(feats: DataFrame, minFrames: Int = 2,
                   staticEps: Double = 0.002,
                   flickerEps: Double = 0.25): DataFrame = {
    def d(i: Int) = element_at(col("feature_vec"), i).cast("double")
    val maxD = greatest(d(5), d(6), d(7))
    val meanD = (d(5) + d(6) + d(7)) / lit(3.0)
    feats.filter(col("kind") === "video")
      .select(col("media_id"),
        col("n_frames").cast("long").as("n_frames"),
        round(maxD, 6).as("max_delta"),
        round(meanD, 6).as("mean_delta"),
        (col("decoded") && col("n_frames") < minFrames).as("is_short"),
        (col("decoded") && maxD < staticEps).as("is_static"),
        (col("decoded") && meanD > flickerEps).as("is_flicker"),
        (!col("decoded")).as("is_undecoded"))
  }

  /** Deterministic frame sampling plan for video blobs: every
    * `stride`-th frame index up to n_frames (the sampling schedule is
    * computed relationally; the per-frame decode would plug into
    * [[extractFeatures]]'s decoder). */
  def sampleFrames(features: DataFrame, stride: Int): DataFrame =
    features.filter(col("kind") === "video")
      .select(col("media_id"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(stride)))
          .as("frame_idx"))

  /** Perceptual image hash (dHash on exact area averages): decode
    * through the REAL JDK codec, bucket pixels into a 9x8 luma grid
    * (cell of (x,y) = (x*9/w, y*8/h), integer floor — the grid IS the
    * downscale, an exact area average instead of a resampler's
    * interpolation), then emit 64 gradient bits: bit (r,c) set iff
    * cell (r,c+1)'s mean luma exceeds cell (r,c)'s. The comparison is
    * CROSS-MULTIPLIED integer arithmetic (`sumR*nL > sumL*nR` — no
    * division, no floats), so the hash is bit-exact and replayable in
    * plain SQL; products stay under 2^63 for any image to ~2^36
    * pixels (765*n/72 * n/72 < 2^63), far past what any in-memory
    * codec decodes. Pixel-identical re-encodes (PNG vs BMP vs
    * lossless crops of the same raster) collide exactly; small edits
    * flip few bits, so Hamming distance ranks perceptual similarity.
    * Undecodable payloads yield NULL (a perceptual hash of undecoded
    * bytes would pair arbitrary junk) — [[blobNearDupPairs]] is the
    * codec-free layer for those.
    *
    * Scale: one partition-batched decode pass over the blob scan
    * (blobs never shuffle; 8-byte hashes do) — the same contract as
    * [[extractFeatures]]. Output `(<idCol>, phash)`. */
  def imagePhash(blobs: DataFrame, idCol: String = "media_id",
                 contentCol: String = "content"): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("phash", LongType, nullable = true)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    blobs.select(col(idCol).cast("long"), col(contentCol))
      .mapPartitions { it =>
        it.map { row =>
          val id = row.getLong(0)
          val bytes =
            if (row.isNullAt(1)) Array.empty[Byte]
            else row.getAs[Array[Byte]](1)
          val img =
            if (bytes.isEmpty) null
            else
              try javax.imageio.ImageIO.read(
                new javax.imageio.stream.MemoryCacheImageInputStream(
                  new java.io.ByteArrayInputStream(bytes)))
              catch { case scala.util.control.NonFatal(_) => null }
          if (img == null) Row(id, null)
          else Row(id, dhash64(img))
        }
      }(enc).toDF()
  }

  /** The dHash kernel shared by [[imagePhash]] and
    * [[videoPhashFrames]]: 9x8 exact-integer area-average luma grid,
    * 64 cross-multiplied gradient bits. */
  private[graft] def dhash64(img: java.awt.image.BufferedImage): Long = {
    val (w, h) = (img.getWidth, img.getHeight)
    val sums = Array.ofDim[Long](8, 9)
    val ns = Array.ofDim[Long](8, 9)
    var y = 0
    while (y < h) {
      val cy = (y.toLong * 8 / h).toInt
      var x = 0
      while (x < w) {
        val cx = (x.toLong * 9 / w).toInt
        val rgb = img.getRGB(x, y)
        sums(cy)(cx) += ((rgb >> 16) & 0xFF) +
          ((rgb >> 8) & 0xFF) + (rgb & 0xFF)
        ns(cy)(cx) += 1L
        x += 1
      }
      y += 1
    }
    var hash = 0L
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        // empty cells (w < 9 or h < 8) compare false — total
        if (sums(r)(c + 1) * ns(r)(c) > sums(r)(c) * ns(r)(c + 1))
          hash |= 1L << (r * 8 + c)
        c += 1
      }
      r += 1
    }
    hash
  }

  /** Perceptual near-duplicate image pairs: [[imagePhash]] signatures
    * through the SAME 4x16-bit banded join as the text/byte SimHash
    * layers (`Hamming <= 3` is pigeonhole-complete). Output
    * `(id_a, id_b, hamming)`. The decode pass dominates; the pair
    * join moves 8-byte signatures only. */
  def phashNearDupPairs(blobs: DataFrame, maxDist: Int = 3,
                        idCol: String = "media_id",
                        contentCol: String = "content"): DataFrame =
    graft.llm.Dedup.simHashPairsFromSigs(
      imagePhash(blobs, idCol, contentCol)
        .select(col(idCol).as("id"), col("phash").as("simhash"))
        .where(col("simhash").isNotNull),
      maxDist)

  /** Per-frame perceptual hashes for video blobs: decode the 4
    * evenly-sampled frames ([[MediaDecoder.VideoIO]]'s
    * `i*(n-1)/3` schedule) through the JDK's multi-frame reader and
    * dHash each sampled raster with the shared [[dhash64]] kernel.
    * Output `(<idCol>, frame_slot 0-3, fphash)` — undecodable blobs
    * emit no rows. Only the 4 sampled frames rasterize, so cost is
    * per-clip constant regardless of clip length. */
  private[graft] def videoPhashFrames(
      blobs: DataFrame, idCol: String = "media_id",
      contentCol: String = "content")
      : DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("frame_slot", IntegerType, nullable = false),
      StructField("fphash", LongType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    blobs.select(col(idCol).cast("long"), col(contentCol))
      .mapPartitions { it =>
        it.flatMap { row =>
          val id = row.getLong(0)
          val bytes =
            if (row.isNullAt(1)) Array.empty[Byte]
            else row.getAs[Array[Byte]](1)
          sampledFrames(bytes)(dhash64) match {
            case Some((_, hashes)) =>
              (0 until 4).map(s => Row(id, s, hashes(s)))
            case None => Nil
          }
        }
      }(enc).toDF()
  }

  /** Clip durations from REAL container metadata: walk every frame's
    * GraphicControlExtension and sum the per-frame delays — a
    * header-only pass (`getImageMetadata`, nothing rasterizes), the
    * video analog of AudioIO's `n_frames / rate` duration. Output
    * `(<idCol>, n_frames, duration_cs)` (centiseconds — the GIF
    * delay unit); frames with no GCE contribute 0, undecodable blobs
    * emit no rows. */
  def videoDurations(blobs: DataFrame, idCol: String = "media_id",
                     contentCol: String = "content"): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("n_frames", IntegerType, nullable = false),
      StructField("duration_cs", LongType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    blobs.select(col(idCol).cast("long"), col(contentCol))
      .mapPartitions { it =>
        it.flatMap { row =>
          val id = row.getLong(0)
          val bytes =
            if (row.isNullAt(1)) Array.empty[Byte]
            else row.getAs[Array[Byte]](1)
          withFrameReader(bytes, ignoreMetadata = false) {
            (reader, n) =>
              var total = 0L
              var i = 0
              while (i < n) {
                val meta = reader.getImageMetadata(i)
                val root = meta
                  .getAsTree(meta.getNativeMetadataFormatName)
                var node = root.getFirstChild
                while (node != null) {
                  if (node.getNodeName == "GraphicControlExtension")
                    total += node.getAttributes
                      .getNamedItem("delayTime")
                      .getNodeValue.toLong
                  node = node.getNextSibling
                }
                i += 1
              }
              Row(id, n, total)
          } match {
            case Some(r) => Seq(r)
            case None    => Nil
          }
        }
      }(enc).toDF()
  }

  /** Video near-duplicate pairs, temporally aligned: two clips pair
    * when at least `minMatches` of their 4 sampled frame SLOTS hash
    * within `maxDist` — same banded-join device as the other
    * perceptual layers, with the slot in the band key so frame 0 of
    * one clip never matches frame 3 of another (a re-encode or
    * re-container of the same footage aligns slot-for-slot; requiring
    * 3 of 4 slots tolerates one edited/replaced segment). Output
    * `(id_a, id_b, frames_matched)`.
    *
    * Scale: the decode pass dominates and rasterizes 4 frames per
    * clip; the join moves (slot, band, 16-bit key) rows — 16 per
    * clip. */
  def videoNearDupPairs(blobs: DataFrame, maxDist: Int = 3,
                        minMatches: Int = 3,
                        idCol: String = "media_id",
                        contentCol: String = "content"): DataFrame = {
    val sigs = videoPhashFrames(blobs, idCol, contentCol)
    val bands = sigs.select(col(idCol).as("id"), col("frame_slot"),
      col("fphash"),
      posexplode(array((0 until 4).map(i =>
        shiftright(col("fphash"), i * 16).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("band", "bh")))
    val a = bands.select(col("id").as("id_a"), col("fphash").as("ph_a"),
      col("frame_slot"), col("band"), col("bh"))
    val b = bands.select(col("id").as("id_b"), col("fphash").as("ph_b"),
      col("frame_slot"), col("band"), col("bh"))
    a.join(b, Seq("frame_slot", "band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .filter(bit_count(col("ph_a").bitwiseXOR(col("ph_b"))) <=
        maxDist)
      // a pair can meet in several bands of one slot — count SLOTS
      .groupBy(col("id_a"), col("id_b"))
      .agg(count_distinct(col("frame_slot")).as("frames_matched"))
      .filter(col("frames_matched") >= minMatches)
  }

  /** Acoustic fingerprint (segment-energy gradient bits over REAL
    * PCM): decode through the JDK codec stack ([[MediaDecoder.AudioIO]]
    * — WAV/AIFF/AU, any PCM width via the JDK transcoders), truncate
    * to the longest prefix divisible into 64 EQUAL-length segments
    * (`fpf = frames/64` frames each — equal lengths keep every
    * comparison a pure integer `Long` compare, no cross-multiply
    * needed), accumulate each segment's energy `Σ sample²` exactly in
    * `Long` (signed-16-bit squares; overflow would need 2^33 samples
    * per segment), and emit 64 bits: bit i set iff
    * `energy(i) > energy((i+1) mod 64)` — the circular energy-contour
    * gradient. Container-invariant by construction: WAV and AIFF of
    * the same PCM transcode to identical samples, so they collide at
    * Hamming 0, while a local edit disturbs only the bits touching
    * the edited segments. Clips shorter than 64 frames (and anything
    * undecodable) yield NULL. Output `(<idCol>, afp)`; one
    * partition-batched decode pass, 8-byte signatures shuffle. */
  def audioFingerprint(blobs: DataFrame, idCol: String = "media_id",
                       contentCol: String = "content"): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("afp", LongType, nullable = true)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    blobs.select(col(idCol).cast("long"), col(contentCol))
      .mapPartitions { it =>
        it.map { row =>
          val id = row.getLong(0)
          val bytes =
            if (row.isNullAt(1)) Array.empty[Byte]
            else row.getAs[Array[Byte]](1)
          val fp = MediaDecoder.AudioIO.decodePcm16(bytes)
            .flatMap { case (_, channels, pcm) => afp64(pcm, channels) }
          Row(id, fp.map(java.lang.Long.valueOf).orNull)
        }
      }(enc).toDF()
  }

  /** The fingerprint kernel behind [[audioFingerprint]], on raw
    * 16-bit LE PCM: 64 equal-length segments, exact Long energies,
    * circular gradient bits. None below 64 frames. AMPLITUDE-
    * INVARIANT by construction: scaling every sample by k scales
    * every segment energy by exactly k², preserving every compare —
    * property-tested in PropertySpec. */
  private[graft] def afp64(pcm: Array[Byte], channels: Int)
      : Option[Long] = {
    val frames = pcm.length / (channels * 2)
    val fpf = frames / 64
    if (fpf == 0) None
    else {
      val e = new Array[Long](64)
      var fr = 0
      while (fr < fpf * 64) {
        val seg = fr / fpf
        var c = 0
        while (c < channels) {
          val i = (fr * channels + c) * 2
          val s = (pcm(i + 1).toInt << 8) | (pcm(i) & 0xFF)
          e(seg) += s.toLong * s
          c += 1
        }
        fr += 1
      }
      var hash = 0L
      var i = 0
      while (i < 64) {
        if (e(i) > e((i + 1) % 64)) hash |= 1L << i
        i += 1
      }
      Some(hash)
    }
  }

  /** Acoustic near-duplicate pairs: [[audioFingerprint]] signatures
    * through the shared 4x16-bit banded join (`Hamming <= 3`
    * pigeonhole-complete). Output `(id_a, id_b, hamming)`. */
  def audioNearDupPairs(blobs: DataFrame, maxDist: Int = 3,
                        idCol: String = "media_id",
                        contentCol: String = "content"): DataFrame =
    graft.llm.Dedup.simHashPairsFromSigs(
      audioFingerprint(blobs, idCol, contentCol)
        .select(col(idCol).as("id"), col("afp").as("simhash"))
        .where(col("simhash").isNotNull),
      maxDist)

  /** Codec-free near-identical-blob pairs: byte-level SimHash
    * (distinct 4-byte windows voting, native
    * [[graft.functions.SketchExprs.simhashBytes]] kernel) banded into
    * 4×16-bit exact joins — Hamming ≤ 3 is pigeonhole-complete, the
    * same guarantee as the text SimHash. This is the dedup layer that
    * needs NO decoder: re-uploads, byte-identical crops with altered
    * headers, and re-encodes that keep most byte windows collide
    * here; semantic near-dups (different encodings of the same image)
    * belong to the embedding ops once a real decoder supplies
    * vectors.
    *
    * Scale: the sketch is one codegen'd projection over the blob scan
    * (blobs never shuffle — 8-byte sketches do); the band join moves
    * (band, bh, id, sig) rows only. */
  def blobNearDupPairs(blobs: DataFrame, maxDist: Int = 3,
                       idCol: String = "media_id",
                       contentCol: String = "content"): DataFrame =
    graft.llm.Dedup.simHashPairsFromSigs(
      blobs.select(col(idCol).as("id"),
        graft.functions.SketchExprs.simhashBytes(col(contentCol))
          .as("simhash"))
        .where(col("simhash").isNotNull),
      maxDist)
}
