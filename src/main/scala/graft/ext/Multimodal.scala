package graft.ext

import java.awt.RenderingHints
import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column handling: image/audio/video payloads travel as opaque
  * `binary` columns with typed metadata structs; decode / feature-extract /
  * resize / frame-sample run as partition-local batch transforms
  * (`mapPartitions` — the Scala analog of arrow-batched Python UDFs).
  * North-star extension (SURVEY.md §2.C).
  *
  * ALL THREE modalities decode for real with nothing beyond the JDK:
  * images via `javax.imageio` (PNG/JPEG/GIF/BMP) with `BufferedImage`
  * bilinear resize, audio via `javax.sound.sampled` (RIFF/PCM WAV), and
  * video via [[VideoCodec]] — an MJPEG-in-AVI demuxer (RIFF container
  * walk + per-frame ImageIO JPEG decode). Undecodable payloads surface as
  * NULL output fields (never a task failure — at corpus scale corrupt
  * media is data, not errors). [[StubCodec]] remains only as the generic
  * byte-offset sampler for containers no installed codec handles.
  *
  * Scale design: per-row transforms only — no shuffle. Binary payloads
  * never hit the driver; `mapPartitions` streams batches through the
  * executor. Partitioning of the input (file layout / `repartition` by id)
  * carries through untouched.
  */
object Multimodal {

  /** Output schema of the image decoder / feature extractor. */
  val ImageFeatureType: StructType = StructType(Seq(
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("channels", IntegerType),
    StructField("features", ArrayType(FloatType))))

  /** Attach the metadata struct to a binary column — pure columnar. */
  def withMediaMeta(df: DataFrame, binCol: String, modality: String, format: String = "bin"): DataFrame =
    df.withColumn("media_meta", struct(
      lit(modality).as("modality"),
      lit(format).as("format"),
      length(col(binCol)).cast("long").as("byte_length"),
      md5(col(binCol)).as("content_md5")))

  /** Real JDK image codec: `javax.imageio` decode, `Graphics2D` bilinear
    * resize, PNG re-encode. Executor-side only; `ImageIO`'s temp-file disk
    * cache is disabled (pure in-memory streams).
    */
  object ImageCodec {
    private lazy val init: Unit = ImageIO.setUseCache(false)

    /** `ImageIO.read` returns null only for UNRECOGNIZED formats; a
      * recognized-but-corrupt payload (truncated PNG body, bad JPEG
      * huffman tables) makes the selected reader THROW. Both cases are
      * corrupt data at corpus scale, so both collapse to None here —
      * never a task failure.
      */
    private[ext] def readImage(bytes: Array[Byte]): Option[BufferedImage] = {
      init
      try Option(ImageIO.read(new ByteArrayInputStream(bytes)))
      catch { case scala.util.control.NonFatal(_) => None }
    }

    /** Decode an image payload. Returns NULL for undecodable bytes (corrupt
      * rows are data at corpus scale). Channels = color-model component
      * count (1 = grayscale, 3 = RGB, 4 = RGBA); features = 8-bucket
      * luminance histogram normalized by pixel count.
      */
    def decodeImage(bytes: Array[Byte]): Option[(Int, Int, Int, Array[Float])] = {
      Option(bytes).filter(_.nonEmpty)
        .flatMap(readImage)
        .map { img =>
          val (w, h) = (img.getWidth, img.getHeight)
          val buckets = new Array[Long](8)
          // bulk row reads: one getRGB(row) call per scanline instead of a
          // per-pixel virtual call — ~4x faster on the decode hot path
          val row = new Array[Int](w)
          var y = 0
          while (y < h) {
            img.getRGB(0, y, w, 1, row, 0, w)
            var x = 0
            while (x < w) {
              val rgb = row(x)
              val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 + (rgb & 0xff) * 114) / 1000
              buckets(lum / 32) += 1
              x += 1
            }
            y += 1
          }
          val n = math.max(1L, w.toLong * h).toFloat
          (w, h, img.getColorModel.getNumComponents, buckets.map(_ / n))
        }
    }

    /** Fit-within resize: scale = min(1, targetW/w, targetH/h) (never
      * upscales), output dims = max(1, floor(dim*scale)) — plain IEEE
      * doubles so an external oracle can replay the arithmetic bit-exactly.
      * Bilinear `Graphics2D` resample, PNG re-encode preserving
      * grayscale-vs-color. NULL for undecodable input.
      */
    /** Perceptual average-hash (aHash) of a decoded image, ALL-INTEGER:
      * per-pixel luma `r·299 + g·587 + b·114` (×1000 on the raw sample
      * for grayscale — read via raster samples, NOT getRGB, whose
      * gray→sRGB conversion is gamma-corrected and would shift values),
      * 8×8 block partition `(y·8 div h, x·8 div w)`, block means and the
      * global mean by truncating division, bit set where block > global.
      * Integer end-to-end, so the hash replays exactly from the planted
      * pixel arithmetic in the gate's oracle. Returned as (hi, lo)
      * unsigned 32-bit halves — bit 63 in one signed long cannot be
      * stated in engines that refuse `1<<63`.
      */
    def aHash64(bytes: Array[Byte]): Option[(Long, Long)] = readImage(bytes).map { img =>
      val w = img.getWidth
      val h = img.getHeight
      val gray = img.getRaster.getNumBands == 1
      val blockSum = new Array[Long](64)
      val blockN = new Array[Long](64)
      var total = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val luma =
            if (gray) img.getRaster.getSample(x, y, 0).toLong * 1000L
            else {
              val rgb = img.getRGB(x, y)
              ((rgb >> 16) & 0xff) * 299L + ((rgb >> 8) & 0xff) * 587L + (rgb & 0xff) * 114L
            }
          val bi = (y * 8 / h) * 8 + (x * 8 / w)
          blockSum(bi) += luma
          blockN(bi) += 1
          total += luma
          x += 1
        }
        y += 1
      }
      val gmean = total / (w.toLong * h)
      var hash = 0L
      var i = 0
      while (i < 64) {
        if (blockN(i) > 0 && blockSum(i) / blockN(i) > gmean) hash |= 1L << i
        i += 1
      }
      (hash >>> 32, hash & 0xffffffffL)
    }

    def resizeImage(bytes: Array[Byte], targetW: Int, targetH: Int): Option[Array[Byte]] = {
      Option(bytes).filter(_.nonEmpty)
        .flatMap(readImage)
        .map { img =>
          val (w, h) = (img.getWidth, img.getHeight)
          val scale = math.min(1.0, math.min(targetW.toDouble / w, targetH.toDouble / h))
          val ow = math.max(1, math.floor(w * scale).toInt)
          val oh = math.max(1, math.floor(h * scale).toInt)
          val outType =
            if (img.getColorModel.getNumComponents == 1) BufferedImage.TYPE_BYTE_GRAY
            else BufferedImage.TYPE_INT_RGB
          val out = new BufferedImage(ow, oh, outType)
          val g = out.createGraphics()
          try {
            g.setRenderingHint(RenderingHints.KEY_INTERPOLATION, RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(img, 0, 0, ow, oh, null)
          } finally g.dispose()
          encodePng(out)
        }
    }

    def encodePng(img: BufferedImage): Array[Byte] = {
      init
      val baos = new ByteArrayOutputStream()
      ImageIO.write(img, "png", baos)
      baos.toByteArray
    }

    /** Deterministic synthetic PNG: gradient pixels derived from (id, x, y).
      * Fixture generator for gates/specs — real PNG bytes that only a real
      * PNG parser can recover the dimensions from.
      */
    def syntheticPng(id: Long, width: Int, height: Int, gray: Boolean): Array[Byte] = {
      val img = new BufferedImage(width, height,
        if (gray) BufferedImage.TYPE_BYTE_GRAY else BufferedImage.TYPE_INT_RGB)
      val px = new Array[Int](width * height)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          px(y * width + x) =
            if (gray) ((x * 31 + y * 17 + id) % 256).toInt
            else {
              val r = ((x + id) % 256).toInt
              val g = ((y + 2 * id) % 256).toInt
              val b = (x ^ y) % 256
              (r << 16) | (g << 8) | b
            }
          x += 1
        }
        y += 1
      }
      if (gray) img.getRaster.setSamples(0, 0, width, height, 0, px)
      else img.setRGB(0, 0, width, height, px, 0, width)
      encodePng(img)
    }
  }

  /** Real JDK audio codec: `javax.sound.sampled` WAV parse (PCM). Executor
    * side only, in-memory streams.
    */
  object AudioCodec {
    import javax.sound.sampled.AudioSystem

    /** Decode a WAV payload. Returns NULL for undecodable bytes. Features =
      * 8-segment RMS envelope over the first channel, normalized to [0,1]
      * (16-bit full scale).
      *
      * The whole clip is buffered in memory (`readAllBytes`), so a single
      * payload is bounded by JVM array size (< 2 GiB) — the right unit for
      * a per-row binary column; longer recordings should arrive pre-split.
      * Sample offsets are computed in Long so a near-limit clip cannot
      * overflow Int frame×frameBytes arithmetic into silently-zeroed RMS.
      */
    def decodeWav(bytes: Array[Byte]): Option[(Int, Int, Long, Array[Float])] = {
      Option(bytes).filter(_.nonEmpty).flatMap { b =>
        try {
          val in = AudioSystem.getAudioInputStream(new ByteArrayInputStream(b))
          try {
            val fmt = in.getFormat
            val frames = in.getFrameLength
            val frameBytes = fmt.getFrameSize
            val all = in.readAllBytes()
            val nSeg = 8
            val rms = new Array[Float](nSeg)
            if (frames > 0 && fmt.getSampleSizeInBits == 16) {
              val segLen = math.max(1L, frames / nSeg)
              var seg = 0
              while (seg < nSeg) {
                val from = seg * segLen
                val to = math.min(frames, from + segLen)
                var acc = 0.0; var n = 0L; var f = from
                while (f < to) {
                  val off = f * frameBytes // Long: first channel, 16-bit LE
                  if (off + 1 < all.length.toLong) {
                    val o = off.toInt // proven < all.length, so it fits Int
                    val s = ((all(o + 1) << 8) | (all(o) & 0xff)).toShort
                    acc += s.toDouble * s; n += 1
                  }
                  f += 1
                }
                rms(seg) = if (n == 0) 0f else (math.sqrt(acc / n) / 32768.0).toFloat
                seg += 1
              }
            }
            // a parseable-but-degenerate header (rate 0, unknown frame
            // length) is corrupt data, not a decodable clip
            if (fmt.getSampleRate <= 0 || frames < 0) None
            else Some((fmt.getSampleRate.toInt, fmt.getChannels, frames, rms))
          } finally in.close()
        } catch { case _: Exception => None }
      }
    }

    /** Deterministic synthetic 16-bit PCM WAV: sine-ish samples derived
      * from (id, frame) arithmetic, with the canonical 44-byte RIFF header
      * written directly (the fixture generator needs the FORMAT, not the
      * codec — and skipping the per-clip AudioSystem SPI machinery makes
      * planting 5k clips ~2x cheaper; DECODING stays on the real
      * javax.sound parser, which is what the gate exercises).
      */
    def syntheticWav(id: Long, sampleRate: Int, channels: Int, nFrames: Int): Array[Byte] = {
      val dataLen = nFrames * channels * 2
      val out = new Array[Byte](44 + dataLen)
      def le16(off: Int, v: Int): Unit = {
        out(off) = (v & 0xff).toByte; out(off + 1) = ((v >> 8) & 0xff).toByte
      }
      def le32(off: Int, v: Int): Unit = { le16(off, v & 0xffff); le16(off + 2, (v >>> 16) & 0xffff) }
      def tag(off: Int, s: String): Unit = s.getBytes("US-ASCII").copyToArray(out, off)
      tag(0, "RIFF"); le32(4, 36 + dataLen); tag(8, "WAVE")
      tag(12, "fmt "); le32(16, 16); le16(20, 1 /* PCM */); le16(22, channels)
      le32(24, sampleRate); le32(28, sampleRate * channels * 2)
      le16(32, channels * 2 /* block align */); le16(34, 16 /* bits */)
      tag(36, "data"); le32(40, dataLen)
      var f = 0
      while (f < nFrames) {
        var c = 0
        while (c < channels) {
          val v = (math.sin((f * (1 + id % 7) + c).toDouble / 16.0) * 12000).toInt
          le16(44 + (f * channels + c) * 2, v & 0xffff)
          c += 1
        }
        f += 1
      }
      out
    }
  }

  /** Generic byte-offset sampler for UNKNOWN binary containers — kept as
    * the fallback path for formats no installed codec handles (the offsets
    * are pure arithmetic over payload length). Real video decode lives in
    * [[VideoCodec]] (MJPEG-in-AVI, pure JDK).
    */
  object StubCodec {
    /** Sample byte offsets: every `everyNBytes` offset. */
    def sampleFrameOffsets(bytes: Array[Byte], everyNBytes: Int): Array[Long] =
      (0L until bytes.length.toLong by everyNBytes.toLong).toArray
  }

  /** REAL video codec, pure JDK: MJPEG-in-AVI. The RIFF/AVI container
    * (`LIST hdrl` → `avih` main header + `strl` stream header/format,
    * `LIST movi` → one `00dc` chunk per frame) is parsed directly — the
    * same little-endian RIFF walking the WAV path does — and each frame
    * payload is a standalone JPEG decoded by `javax.imageio`. Motion-JPEG
    * is the one mainstream video format whose every component ships with
    * the JDK, which makes the video path genuinely end-to-end: container
    * demux, per-frame decode, frame sampling. Non-MJPEG codecs (H.264…)
    * would need a native decoder and surface as NULL rows, the same
    * corrupt-is-data contract as the image/audio codecs.
    */
  object VideoCodec {
    /** Parsed AVI: header dims, fps (strh dwRate/dwScale), and the raw
      * JPEG payload of every `00dc`/`00db` movi chunk in stream order.
      */
    final case class Avi(width: Int, height: Int, fps: Int, frames: IndexedSeq[Array[Byte]])

    private def le16(b: Array[Byte], off: Int): Int =
      (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
    private def le32(b: Array[Byte], off: Int): Int =
      le16(b, off) | (le16(b, off + 2) << 16)
    private def fourcc(b: Array[Byte], off: Int): String =
      new String(b, off, 4, "US-ASCII")

    /** Demux an AVI payload. Returns None for anything malformed (bad
      * magic, truncated chunk, zero-scale rate) — corrupt rows are data.
      */
    def decodeAvi(bytes: Array[Byte]): Option[Avi] = {
      try {
        if (bytes == null || bytes.length < 24) return None
        if (fourcc(bytes, 0) != "RIFF" || fourcc(bytes, 8) != "AVI ") return None
        val end = math.min(bytes.length.toLong, 8L + le32(bytes, 4)).toInt
        var width = -1; var height = -1; var scale = 0; var rate = 0
        val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]

        // Walk a chunk run [from, until); LIST chunks recurse one level at
        // a time so hdrl/strl/movi nesting needs no format-specific jumps.
        // Real AVI nesting is ≤ 4 (RIFF→hdrl→strl / RIFF→movi→rec); the
        // depth bound rejects adversarial LIST-in-LIST chains that would
        // otherwise overflow the stack (StackOverflowError is an Error —
        // it would escape the Exception guard below and kill the task).
        def walk(from: Int, until: Int, depth: Int): Unit = {
          if (depth > 16) throw new IllegalArgumentException("LIST nesting too deep")
          var p = from
          while (p + 8 <= until) {
            val id = fourcc(bytes, p)
            val sz = le32(bytes, p + 4)
            val body = p + 8
            if (sz < 0 || body + sz > until) throw new IllegalArgumentException("truncated chunk")
            id match {
              case "LIST" if sz >= 4 => walk(body + 4, body + sz, depth + 1) // skip list type fourcc
              case "avih" if sz >= 40 =>
                width = le32(bytes, body + 32); height = le32(bytes, body + 36)
              case "strh" if sz >= 32 && fourcc(bytes, body) == "vids" =>
                scale = le32(bytes, body + 20); rate = le32(bytes, body + 24)
              // Stream 00 only: a multi-stream AVI ("01dc", audio "01wb")
              // must not interleave its other streams' payloads into the
              // frame list (wrong n_frames, mixed dims); we parse strh for
              // the first vids stream, so its chunks are the frames.
              case "00dc" | "00db" =>
                frames += java.util.Arrays.copyOfRange(bytes, body, body + sz)
              case _ => ()
            }
            p = body + sz + (sz & 1) // chunks pad to even
          }
        }
        walk(12, end, 0)
        if (width <= 0 || height <= 0 || scale <= 0 || rate <= 0) None
        else Some(Avi(width, height, rate / scale, frames.toIndexedSeq))
      } catch { case _: Exception => None }
    }

    /** Build an MJPEG AVI from pre-encoded JPEG frames — bottom-up chunk
      * assembly (every RIFF list is sized before its parent is written).
      */
    def buildAvi(width: Int, height: Int, fps: Int, frames: Seq[Array[Byte]]): Array[Byte] = {
      def bytes(build: java.io.DataOutputStream => Unit): Array[Byte] = {
        val bo = new ByteArrayOutputStream(); val o = new java.io.DataOutputStream(bo)
        build(o); o.flush(); bo.toByteArray
      }
      def w16(o: java.io.DataOutputStream, v: Int): Unit = { o.write(v & 0xff); o.write((v >> 8) & 0xff) }
      def w32(o: java.io.DataOutputStream, v: Int): Unit = { w16(o, v & 0xffff); w16(o, (v >>> 16) & 0xffff) }
      def tag(o: java.io.DataOutputStream, s: String): Unit = o.write(s.getBytes("US-ASCII"))
      def chunk(id: String, body: Array[Byte]): Array[Byte] = bytes { o =>
        tag(o, id); w32(o, body.length); o.write(body)
        if ((body.length & 1) == 1) o.write(0) // RIFF chunks pad to even
      }
      def list(listType: String, bodies: Seq[Array[Byte]]): Array[Byte] = {
        // single stream, linear copies — a foldLeft(++) would re-copy the
        // accumulated prefix once per chunk, O(n²) over the frame list
        val innerLen = bodies.iterator.map(_.length).sum
        bytes { o =>
          tag(o, "LIST"); w32(o, 4 + innerLen); tag(o, listType)
          bodies.foreach(o.write)
        }
      }
      val avih = chunk("avih", bytes { o =>
        w32(o, if (fps > 0) 1000000 / fps else 0) // dwMicroSecPerFrame
        w32(o, 0); w32(o, 0); w32(o, 0)           // maxBytesPerSec, padding, flags
        w32(o, frames.size); w32(o, 0); w32(o, 1) // totalFrames, initialFrames, streams
        w32(o, 0); w32(o, width); w32(o, height)  // suggestedBufferSize, dims
        (0 until 4).foreach(_ => w32(o, 0))       // reserved
      })
      val strh = chunk("strh", bytes { o =>
        tag(o, "vids"); tag(o, "MJPG"); w32(o, 0) // fccType, fccHandler, flags
        w16(o, 0); w16(o, 0); w32(o, 0)           // priority, language, initialFrames
        w32(o, 1); w32(o, fps)                    // dwScale, dwRate → fps = rate/scale
        w32(o, 0); w32(o, frames.size)            // start, length (frames)
        w32(o, 0); w32(o, -1); w32(o, 0)          // suggestedBufferSize, quality, sampleSize
        w16(o, 0); w16(o, 0); w16(o, width); w16(o, height) // rcFrame
      })
      val strf = chunk("strf", bytes { o =>
        w32(o, 40); w32(o, width); w32(o, height) // biSize, dims
        w16(o, 1); w16(o, 24); tag(o, "MJPG")     // planes, bitCount, compression
        w32(o, width * height * 3)                // biSizeImage
        (0 until 4).foreach(_ => w32(o, 0))       // xpels/ypels/clrUsed/clrImportant
      })
      val hdrl = list("hdrl", Seq(avih, list("strl", Seq(strh, strf))))
      val movi = list("movi", frames.map(chunk("00dc", _)))
      val body = hdrl ++ movi
      bytes { o => tag(o, "RIFF"); w32(o, 4 + body.length); tag(o, "AVI "); o.write(body) }
    }

    /** Deterministic synthetic MJPEG AVI: `nFrames` JPEG-encoded gradient
      * frames derived from (id, frame) arithmetic. The fixture generator
      * for video gates — dims/fps/frame-count are replayable arithmetic
      * while recovering them requires genuinely demuxing the container
      * (and per-frame JPEG decode for the frame dims).
      */
    def syntheticAvi(id: Long, width: Int, height: Int, nFrames: Int, fps: Int): Array[Byte] = {
      val frames = (0 until nFrames).map { f =>
        val img = new BufferedImage(width, height, BufferedImage.TYPE_INT_RGB)
        val px = new Array[Int](width * height)
        var y = 0
        while (y < height) {
          var x = 0
          while (x < width) {
            val r = ((x + id + f) % 256).toInt
            val g = ((y + 2 * id) % 256).toInt
            val b = ((x ^ y) + f) % 256
            px(y * width + x) = (r << 16) | (g << 8) | b
            x += 1
          }
          y += 1
        }
        img.setRGB(0, 0, width, height, px, 0, width)
        encodeJpeg(img)
      }
      buildAvi(width, height, fps, frames)
    }

    def encodeJpeg(img: BufferedImage): Array[Byte] = {
      ImageIO.setUseCache(false)
      val baos = new ByteArrayOutputStream()
      ImageIO.write(img, "jpg", baos)
      baos.toByteArray
    }
  }

  /** Plant one deterministic synthetic PNG per row: `dims(id)` gives
    * (width, height, grayscale). Partition-local generation (mapPartitions,
    * no shuffle) — the distributed fixture path for image gates: the
    * arithmetic dims are external-oracle-replayable while the payload is a
    * real PNG only a real decoder can read back.
    */
  def syntheticImages(df: DataFrame, idCol: String)(dims: Long => (Int, Int, Boolean)): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("content", BinaryType)))
    // A small id spine (one parquet file) arrives in 1-2 partitions, which
    // would serialize the per-row PNG encode onto two cores; real corpora
    // arrive wide already, so widening the fixture spine to the session's
    // parallelism mirrors the production shape (the shuffled payload is
    // just ids).
    val in = df.select(col(idCol).cast("long").as("id"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
    implicit val enc = RowEncoder.encoderFor(outSchema)
    in.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val (w, h, gray) = dims(id)
        Row(id, ImageCodec.syntheticPng(id, w, h, gray))
      }
    }.toDF("id", "content")
  }

  /** Plant one deterministic synthetic WAV per row: `dims(id)` gives
    * (sampleRate, channels, nFrames). Same distributed fixture shape as
    * [[syntheticImages]].
    */
  def syntheticAudio(df: DataFrame, idCol: String)(dims: Long => (Int, Int, Int)): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("content", BinaryType)))
    val in = df.select(col(idCol).cast("long").as("id"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
    implicit val enc = RowEncoder.encoderFor(outSchema)
    in.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val (rate, ch, frames) = dims(id)
        Row(id, AudioCodec.syntheticWav(id, rate, ch, frames))
      }
    }.toDF("id", "content")
  }

  /** Decode+featurize an audio (WAV/PCM) binary column batch-wise via the
    * real javax.sound codec. Output per row: id, sample_rate, channels,
    * n_frames, duration_ms (integer ms = frames*1000/rate) and an
    * 8-segment RMS envelope; NULLs for undecodable payloads. Partition-
    * local, no shuffle.
    */
  def audioFeatures(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("sample_rate", IntegerType),
      StructField("channels", IntegerType),
      StructField("n_frames", LongType),
      StructField("duration_ms", LongType),
      StructField("rms_envelope", ArrayType(FloatType))))
    val in = df.select(col(idCol).cast("long").as("id"), col(binCol).as("content"))
    implicit val enc = RowEncoder.encoderFor(outSchema)
    in.mapPartitions { rows =>
      rows.map { r =>
        AudioCodec.decodeWav(r.getAs[Array[Byte]](1)) match {
          case Some((rate, ch, frames, rms)) =>
            Row(r.getLong(0), rate, ch, frames, frames * 1000L / rate, rms.toSeq)
          case None => Row(r.getLong(0), null, null, null, null, null)
        }
      }
    }.toDF("id", "sample_rate", "channels", "n_frames", "duration_ms", "rms_envelope")
  }

  /** Decode+featurize an image binary column batch-wise via the real
    * ImageIO codec. Input: any frame with (`idCol` long, `binCol` binary).
    * Output: id + ImageFeatureType fields (NULLs for undecodable payloads).
    * Runs partition-local: executors stream rows, no shuffle, and the
    * iterator shape matches an arrow-batched UDF (batch in, batch out).
    */
  def imageFeatures(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val outSchema = StructType(StructField("id", LongType) +: ImageFeatureType.fields)
    val in = df.select(col(idCol).cast("long").as("id"), col(binCol).as("content"))
    implicit val enc = RowEncoder.encoderFor(outSchema)
    in.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        ImageCodec.decodeImage(r.getAs[Array[Byte]](1)) match {
          case Some((w, h, c, feats)) => Row(id, w, h, c, feats.toSeq)
          case None                   => Row(id, null, null, null, null)
        }
      }
    }.toDF("id", "width", "height", "channels", "features")
  }

  /** Perceptual image hashing over a binary column — the image-dedup
    * primitive (aHash; near-identical images agree on most bits, so
    * exact-hash grouping catches re-encodes and tiny edits, and a
    * hamming-band join generalizes it the way SimHash does for text).
    * Real decode per row (`ImageCodec.aHash64`), partition-local,
    * undecodable payloads yield NULL halves.
    */
  def imagePHash(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("phash_hi", LongType),
      StructField("phash_lo", LongType)))
    val in = df.select(col(idCol).cast("long").as("id"), col(binCol).as("content"))
    implicit val enc = RowEncoder.encoderFor(outSchema)
    in.mapPartitions { rows =>
      rows.map { r =>
        ImageCodec.aHash64(r.getAs[Array[Byte]](1)) match {
          case Some((hi, lo)) => Row(r.getLong(0), hi, lo)
          case None           => Row(r.getLong(0), null, null)
        }
      }
    }.toDF("id", "phash_hi", "phash_lo")
  }

  /** Resize an image binary column to fit within a target box — batch-wise,
    * partition-local, real bilinear resample + PNG re-encode; payload stays
    * opaque binary. Undecodable payloads yield NULL content/byte_length.
    */
  def resizeImages(df: DataFrame, idCol: String, binCol: String, targetW: Int, targetH: Int): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("content", BinaryType),
      StructField("byte_length", LongType)))
    val in = df.select(col(idCol).cast("long").as("id"), col(binCol).as("content"))
    implicit val enc = RowEncoder.encoderFor(outSchema)
    in.mapPartitions { rows =>
      rows.map { r =>
        ImageCodec.resizeImage(r.getAs[Array[Byte]](1), targetW, targetH) match {
          case Some(resized) => Row(r.getLong(0), resized, resized.length.toLong)
          case None          => Row(r.getLong(0), null, null)
        }
      }
    }.toDF("id", "content", "byte_length")
  }

  /** Plant one deterministic synthetic MJPEG AVI per row: `dims(id)` gives
    * (width, height, nFrames, fps). Same distributed fixture shape as
    * [[syntheticImages]].
    */
  def syntheticVideos(df: DataFrame, idCol: String)(dims: Long => (Int, Int, Int, Int)): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("content", BinaryType)))
    val in = df.select(col(idCol).cast("long").as("id"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
    implicit val enc = RowEncoder.encoderFor(outSchema)
    in.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val (w, h, nf, fps) = dims(id)
        Row(id, VideoCodec.syntheticAvi(id, w, h, nf, fps))
      }
    }.toDF("id", "content")
  }

  /** REAL video frame sampling: demux the AVI container, take every
    * `everyN`-th frame, JPEG-decode each sampled frame and report its
    * decoded dims beside the stream header's fps and the demuxed frame
    * count (flatMap shape — batch in, variable batch out). Undecodable
    * payloads (or non-MJPEG codecs) surface as a single all-NULL row for
    * that id — corrupt rows are data, never task failures. Partition-local,
    * no shuffle; a frame an installed decoder cannot parse yields NULL
    * frame dims but keeps its index.
    */
  def sampleVideoFrames(df: DataFrame, idCol: String, binCol: String, everyN: Int = 2): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("frame_index", IntegerType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("fps", IntegerType),
      StructField("n_frames", IntegerType)))
    val in = df.select(col(idCol).cast("long").as("id"), col(binCol).as("content"))
    implicit val enc = RowEncoder.encoderFor(outSchema)
    in.mapPartitions { rows =>
      rows.flatMap { r =>
        val id = r.getLong(0)
        VideoCodec.decodeAvi(r.getAs[Array[Byte]](1)) match {
          case Some(avi) =>
            (0 until avi.frames.size by math.max(1, everyN)).iterator.map { i =>
              ImageCodec.readImage(avi.frames(i)) match {
                case Some(img) => Row(id, i, img.getWidth, img.getHeight, avi.fps, avi.frames.size)
                case None      => Row(id, i, null, null, avi.fps, avi.frames.size)
              }
            }
          case None => Iterator.single(Row(id, null, null, null, null, null))
        }
      }
    }.toDF("id", "frame_index", "width", "height", "fps", "n_frames")
  }

  /** Byte-offset sampling over an opaque binary column: one output row per
    * sampled offset (flatMap shape). Generic fallback for containers no
    * installed codec handles — see [[StubCodec]]; real video sampling is
    * [[sampleVideoFrames]].
    */
  def sampleFrames(df: DataFrame, idCol: String, binCol: String, everyNBytes: Int = 4096): DataFrame = {
    require(everyNBytes > 0, s"everyNBytes must be positive, got $everyNBytes")
    val outSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("frame_index", IntegerType),
      StructField("frame_offset", LongType)))
    val in = df.select(col(idCol).cast("long").as("id"), col(binCol).as("content"))
    implicit val enc = RowEncoder.encoderFor(outSchema)
    in.mapPartitions { rows =>
      rows.flatMap { r =>
        val id = r.getLong(0)
        // NULL payload = corrupt row = data (same contract as the codec
        // paths): zero sampled offsets, never an NPE task failure
        val bytes = r.getAs[Array[Byte]](1)
        if (bytes == null) Iterator.empty
        else StubCodec.sampleFrameOffsets(bytes, everyNBytes).zipWithIndex.iterator.map {
          case (off, i) => Row(id, i, off)
        }
      }
    }.toDF("id", "frame_index", "frame_offset")
  }
}
