package graft.operators

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.{ImageIO, ImageReader}
import javax.imageio.metadata.IIOMetadata
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream,
  AudioSystem}

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.w3c.dom.Element

/** Multimodal column plumbing: image/audio/video as opaque BINARY payloads
  * with typed metadata, processed in distributed batches.
  *
  * All three modalities decode REAL payloads with in-JDK codecs, no
  * external dependencies:
  *  - IMAGE: PNG encode/decode via `javax.imageio`
  *    ([[decodeImage]]/[[decodeImageFeatures]], mm05);
  *  - AUDIO: WAV 16-bit PCM via `javax.sound.sampled`
  *    ([[decodeAudio]]/[[decodeAudioFeatures]], mm06);
  *  - VIDEO: multi-frame animated GIF via `javax.imageio`'s sequence
  *    reader ([[decodeVideo]]/[[decodeVideoFrames]], mm07) — GIF is the
  *    one multi-frame container the JDK writes losslessly; a production
  *    codec (JNI/FFI or a Python `mapInPandas` stage) plugs into the
  *    same frame-iterator shape.
  * `decodeStub` remains only as the codec-free byte-feature path (mm02)
  * exercising the batch plumbing on arbitrary payloads. Every real
  * decode and hash is one typed per-payload step (`perPayload`): select
  * (doc_id, payload), then a typed flatMap that decodes one payload at
  * a time, scan-side. The fixtures are one builder (`payloadFixture`),
  * and the codecs one reader/writer each: `readImage` (header dims
  * bounded before the raster is allocated), `readPcm16`/`writeWav`,
  * `encodeRgb` and the 32-cell `blockMeanHash`.
  *
  * Scale notes: payloads never pass through a shuffle here — features are
  * computed scan-side and only the (small) feature rows move on. For real
  * media at 100 TB the payload column would live in its own parquet column
  * chunk (columnar pruning keeps metadata-only queries from reading bytes).
  */
object Multimodal {

  case class MediaRow(doc_id: Long, payload: Array[Byte], kind: String,
      width: Int, height: Int)

  case class MediaFeatures(doc_id: Long, kind: String, byte_len: Int,
      byte_sum: Long, n_frames: Int, hist: Seq[Long])

  /** Deterministic fake payloads from the documents table: UTF-8 bytes of
    * the text stand in for encoded media; metadata derived from doc_id. */
  def fakePayloads(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("payload"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      (col("doc_id") % 640 + 64).cast("int").as("width"),
      (col("doc_id") % 480 + 48).cast("int").as("height"))

  /** ===== STUB DECODE =====
    * Stands in for a real image/audio/video decode. Deterministic fake:
    * "decoding" reads the raw bytes; features are byte length, byte sum,
    * a fake frame count (1 frame per 256 bytes), and a 16-bucket byte
    * histogram. The mapPartitions batch shape (iterator-in/iterator-out,
    * one JVM-side pass per partition) is exactly what a real codec needs. */
  def decodeStub(bytes: Array[Byte]): (Int, Long, Int, Array[Long]) = {
    val hist = new Array[Long](16)
    var sum = 0L
    var i = 0
    while (i < bytes.length) {
      sum += bytes(i) & 0xFF
      hist((bytes(i) & 0xFF) / 16) += 1
      i += 1
    }
    (bytes.length, sum, math.max(1, bytes.length / 256), hist)
  }

  /** Distributed feature extraction over media payloads. */
  def extractFeatures(media: DataFrame): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("doc_id", "payload", "kind", "width", "height")
      .as[MediaRow]
      .mapPartitions { rows =>
        rows.map { r =>
          val (len, sum, frames, hist) = decodeStub(r.payload)
          MediaFeatures(r.doc_id, r.kind, len, sum, frames, hist.toSeq)
        }
      }
  }

  /** THE payload fixture builder: the first `limit` doc_ids with
    * `doc_id % 3 == residue` (matching [[fakePayloads]]' kind
    * assignment: 0 image, 1 audio, 2 video), each carrying
    * `encode(doc_id)` as its payload. Encoding runs scan-side — payload
    * bytes are born on the executor and never cross a shuffle. */
  private def payloadFixture(docs: DataFrame, residue: Int, limit: Int,
      kind: String)(encode: Long => Array[Byte]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).where(col("doc_id") % 3 === residue)
      .orderBy("doc_id").limit(limit)
      .as[Long]
      .map(id => (id, encode(id), kind))
      .toDF("doc_id", "payload", "kind")
  }

  /** THE per-payload step of every real decode and hash: (doc_id,
    * payload) rows, each decoded on its own by `decode` into zero or
    * more `T` rows, scan-side. */
  private def perPayload[T <: Product : TypeTag](media: DataFrame)(
      decode: (Long, Array[Byte]) => IterableOnce[T]): Dataset[T] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) => decode(id, bytes) }
  }

  /** Refuse a header that declares more than 16M pixels BEFORE anything
    * is sized from it: one crafted few-hundred-byte file declaring a
    * 40000x40000 raster (or an Int-overflowing one) would otherwise OOM
    * the executor before a single pixel is decoded. */
  private def requireDecodeBound(w: Int, h: Int, what: => String): Unit =
    require(w.toLong * h <= 16777216L,
      s"$what ${w}x$h exceeds the 16M-pixel decode bound")

  case class ImageFeatures(doc_id: Long, width: Int, height: Int,
      r_sum: Long, g_sum: Long, b_sum: Long, pos_sum: Long,
      r_h0: Long, r_h1: Long, r_h2: Long, r_h3: Long)

  /** Deterministic synthetic pixel pattern: closed-form in (doc_id, x, y)
    * so an independent oracle can recompute every pixel without decoding.
    * Values are already in 0..255; all inputs non-negative. */
  @inline private def pxR(docId: Long, x: Int, y: Int): Int =
    ((x * 7L + y * 13L + docId) % 256).toInt
  @inline private def pxG(docId: Long, x: Int, y: Int): Int =
    ((x * 3L + y * 5L + docId * 2) % 256).toInt
  @inline private def pxB(docId: Long, x: Int, y: Int): Int =
    ((x * 11L + y * 17L + docId * 3) % 256).toInt

  /** THE RGB raster encoder of [[syntheticPng]] and [[syntheticJpeg]]:
    * a w×h `TYPE_INT_RGB` image whose pixel (x, y) is `rgb(x, y)`
    * (0xRRGGBB), written in `format` by `javax.imageio`. */
  private def encodeRgb(w: Int, h: Int, format: String)(
      rgb: (Int, Int) => Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y, rgb(x, y))
        x += 1
      }
      y += 1
    }
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, format, out)
    out.toByteArray
  }

  /** PNG-encode the synthetic pattern for one doc. PNG is lossless, so
    * [[decodeImage]] must recover these exact pixels — that round-trip is
    * what the mm05 gate's closed-form oracle pins. */
  def syntheticPng(docId: Long, w: Int, h: Int): Array[Byte] =
    encodeRgb(w, h, "png") { (x, y) =>
      (pxR(docId, x, y) << 16) | (pxG(docId, x, y) << 8) | pxB(docId, x, y)
    }

  /** Smooth per-channel pattern for the JPEG fixtures: doc-keyed
    * gradients + one low-frequency ramp. JPEG's DCT quantization is
    * gentle on low-frequency content, so block means — and the aHash
    * bits over them — survive the lossy round trip; the modular-noise
    * PNG pattern would shift means enough to flip borderline bits. */
  @inline private def pxSmooth(docId: Long, ch: Int, x: Int, y: Int,
      w: Int, h: Int): Int = {
    val gx = if (w > 1) x * 255 / (w - 1) else 0
    val gy = if (h > 1) y * 255 / (h - 1) else 0
    // per-(doc, channel) axis weights + flips steer the gradient's
    // DIRECTION — structural variation that changes aHash bit patterns
    // across docs (a constant brightness tilt would not: aHash
    // normalizes by the grid total) yet stays low-frequency enough to
    // survive JPEG quantization
    val ca = ((docId + ch * 3) % 7 + 1).toInt
    val cb = ((docId / 7 + ch * 5) % 7 + 1).toInt
    val ux = if ((docId + ch) % 2 == 0) gx else 255 - gx
    val uy = if ((docId / 2 + ch) % 2 == 0) gy else 255 - gy
    (ca * ux + cb * uy) / (ca + cb)
  }

  /** JPEG-encode a smooth synthetic image — the LOSSY cousin of
    * [[syntheticPng]], via the in-JDK `javax.imageio` JPEG writer at
    * its default quality. Decoded pixels are NOT the closed form (DCT
    * quantization), so JPEG gates pin the DECODED hash frame through an
    * aux fixture (the d04/t15 two-stage recipe) rather than a
    * closed-form pixel replay. */
  def syntheticJpeg(docId: Long, w: Int, h: Int): Array[Byte] =
    encodeRgb(w, h, "jpg") { (x, y) =>
      (pxSmooth(docId, 0, x, y, w, h) << 16) |
        (pxSmooth(docId, 1, x, y, w, h) << 8) |
        pxSmooth(docId, 2, x, y, w, h)
    }

  /** Real-JPEG payload fixture: same image-kind subset and dims as
    * [[imagePayloads]], JPEG-encoded. */
  def jpegPayloads(docs: DataFrame, limit: Int = 40): DataFrame =
    payloadFixture(docs, 0, limit, "image")(id =>
      syntheticJpeg(id, (id % 24 + 8).toInt, (id % 16 + 6).toInt))

  /** Real-PNG payload fixture: the image-kind doc subset (doc_id % 3 == 0),
    * each carrying an actual PNG whose dims derive from doc_id. */
  def imagePayloads(docs: DataFrame, limit: Int = 40): DataFrame =
    payloadFixture(docs, 0, limit, "image")(id =>
      syntheticPng(id, (id % 24 + 8).toInt, (id % 16 + 6).toInt))

  /** THE image read of [[decodeImage]] and [[imageAHash]]: any in-JDK
    * format (PNG/JPEG/BMP/GIF frame 0), read like `ImageIO.read` but
    * with the header's dims bounded ([[requireDecodeBound]]) before the
    * raster is allocated. `label` names the payload in refusals. */
  private def readImage(bytes: Array[Byte], label: => String): BufferedImage = {
    val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
    val readers = ImageIO.getImageReaders(iis)
    require(readers.hasNext, s"undecodable image payload ($label)")
    val reader = readers.next()
    try {
      reader.setInput(iis, /*seekForwardOnly=*/ true, /*ignoreMetadata=*/ true)
      requireDecodeBound(reader.getWidth(0), reader.getHeight(0),
        s"image $label")
      reader.read(0)
    } finally {
      reader.dispose()
      iis.close()
    }
  }

  /** REAL image decode via javax.imageio (in-JDK PNG/JPEG/BMP readers).
    * Returns (width, height, rSum, gSum, bSum, posSum, rHist4):
    * per-channel sums, a position-weighted checksum
    * sum((x+1)*(y+1)*(r+g+b)) that catches transposed/shifted pixels
    * plain sums would miss, and a 4-bucket histogram of the R channel. */
  def decodeImage(bytes: Array[Byte])
      : (Int, Int, Long, Long, Long, Long, Array[Long]) = {
    val img = readImage(bytes, s"${bytes.length} bytes")
    val (w, h) = (img.getWidth, img.getHeight)
    var (rs, gs, bs, ps) = (0L, 0L, 0L, 0L)
    val hist = new Array[Long](4)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val r = (rgb >> 16) & 0xFF
        val g = (rgb >> 8) & 0xFF
        val b = rgb & 0xFF
        rs += r; gs += g; bs += b
        ps += (x + 1L) * (y + 1L) * (r + g + b)
        hist(r / 64) += 1
        x += 1
      }
      y += 1
    }
    (w, h, rs, gs, bs, ps, hist)
  }

  /** Distributed decode of real image payloads → pixel-derived features:
    * [[decodeImage]] per payload. */
  def decodeImageFeatures(media: DataFrame): Dataset[ImageFeatures] =
    perPayload(media) { (id, bytes) =>
      val (w, h, rs, gs, bs, ps, hist) = decodeImage(bytes)
      Iterator.single(ImageFeatures(id, w, h, rs, gs, bs, ps,
        hist(0), hist(1), hist(2), hist(3)))
    }

  case class AudioFeatures(doc_id: Long, n_samples: Int, sample_rate: Int,
      s_sum: Long, abs_sum: Long, s_min: Int, s_max: Int, pos_sum: Long,
      zero_cross: Long)

  /** Deterministic synthetic PCM sample: closed-form in (doc_id, i) so an
    * independent oracle can recompute every sample without decoding.
    * Range is a signed-16-bit subset [-2048, 2047]. */
  @inline private def smp(docId: Long, i: Int): Int =
    (((i * 31L + docId * 17L) % 4096L) - 2048L).toInt

  /** THE WAV writer of [[syntheticWav]] and [[downsampleWav]]: `samples`
    * as 16-bit signed little-endian mono PCM at `rate`, via in-JDK
    * `javax.sound.sampled`. */
  private def writeWav(samples: Array[Int], rate: Float): Array[Byte] = {
    val pcm = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      pcm(2 * i) = (samples(i) & 0xFF).toByte            // lo byte
      pcm(2 * i + 1) = ((samples(i) >> 8) & 0xFF).toByte // hi byte
      i += 1
    }
    val fmt = new AudioFormat(rate, 16, 1, /*signed=*/ true,
      /*bigEndian=*/ false)
    val out = new ByteArrayOutputStream()
    AudioSystem.write(new AudioInputStream(new ByteArrayInputStream(pcm),
      fmt, samples.length.toLong), AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** THE PCM reader of [[decodeAudio]], [[downsampleWav]] and
    * [[audioAHash]]: (samples, sample rate) of a 16-bit LE mono PCM
    * payload. Anything else (8-bit, stereo, big-endian) is refused — its
    * bytes paired into 16-bit samples would be silent garbage. `label`
    * names the payload in the refusal. */
  private def readPcm16(bytes: Array[Byte],
      label: => String): (Array[Int], Float) = {
    val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
    val fmt = ais.getFormat
    require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 &&
      !fmt.isBigEndian, s"expected 16-bit LE mono PCM ($label), got $fmt")
    val pcm = try ais.readAllBytes() finally ais.close()
    val samples = Array.tabulate(pcm.length / 2)(i =>
      (pcm(2 * i + 1) << 8) | (pcm(2 * i) & 0xFF))
    (samples, fmt.getSampleRate)
  }

  /** WAV-encode the synthetic sample pattern for one doc: 16-bit signed
    * little-endian mono PCM via in-JDK `javax.sound.sampled`. WAV/PCM is
    * lossless, so [[decodeAudio]] must recover these exact samples — the
    * mm06 gate's closed-form oracle pins that round-trip. */
  def syntheticWav(docId: Long, nSamples: Int, rate: Int = 8000): Array[Byte] =
    writeWav(Array.tabulate(nSamples)(smp(docId, _)), rate.toFloat)

  /** Real-WAV payload fixture: the audio-kind doc subset (doc_id % 3 == 1),
    * each carrying an actual RIFF/WAVE file whose length derives from
    * doc_id. */
  def audioPayloads(docs: DataFrame, limit: Int = 40): DataFrame =
    payloadFixture(docs, 1, limit, "audio")(id =>
      syntheticWav(id, (id % 300 + 50).toInt))

  /** REAL audio decode via javax.sound.sampled (in-JDK WAV/AIFF/AU
    * readers). Parses the RIFF header for format (rate/bits/channels),
    * streams the PCM frames, and emits sample-derived features:
    * (nSamples, rate, sum, absSum, min, max, posSum, zeroCross) where
    * posSum = sum((i+1) * s_i) catches reordered/shifted samples plain
    * sums would miss, and zeroCross counts sign changes between
    * consecutive samples (the classic cheap audio-activity feature). */
  def decodeAudio(bytes: Array[Byte])
      : (Int, Int, Long, Long, Int, Int, Long, Long) = {
    val (smps, rate) = readPcm16(bytes, s"${bytes.length} bytes")
    val n = smps.length
    var (sum, absSum, posSum, zc) = (0L, 0L, 0L, 0L)
    var (mn, mx) = (Int.MaxValue, Int.MinValue)
    var i = 0
    while (i < n) {
      val s = smps(i)
      sum += s; absSum += math.abs(s)
      if (s < mn) mn = s
      if (s > mx) mx = s
      posSum += (i + 1L) * s
      if (i > 0 && ((s < 0) != (smps(i - 1) < 0))) zc += 1
      i += 1
    }
    (n, rate.toInt, sum, absSum,
      if (n == 0) 0 else mn, if (n == 0) 0 else mx, posSum, zc)
  }

  /** Distributed decode of real WAV payloads → sample-derived features:
    * [[decodeAudio]] per payload. */
  def decodeAudioFeatures(media: DataFrame): Dataset[AudioFeatures] =
    perPayload(media)((id, bytes) => Iterator.single(audioFeatures(id, bytes)))

  private def audioFeatures(id: Long, wav: Array[Byte]): AudioFeatures = {
    val (n, rate, sum, absSum, mn, mx, posSum, zc) = decodeAudio(wav)
    AudioFeatures(id, n, rate, sum, absSum, mn, mx, posSum, zc)
  }

  /** Downsample a 16-bit LE mono WAV by integer `factor`: each output
    * sample is the TRUNCATING-division mean of its input block (the
    * last partial block averages its remainder), re-encoded at
    * rate/factor through the same in-JDK codec. Truncating division
    * (Java `/`) is deliberate — it matches both Spark SQL `div` and
    * DuckDB `//`, so the oracle replays each output sample exactly.
    * Decimation-by-averaging is the anti-aliasing-lite resample every
    * ingest pipeline runs before a fixed-rate feature extractor. */
  def downsampleWav(bytes: Array[Byte], factor: Int): Array[Byte] = {
    require(factor >= 1, "factor must be >= 1")
    val (smps, rate) = readPcm16(bytes, s"${bytes.length} bytes")
    val n = smps.length
    val out = Array.tabulate((n + factor - 1) / factor) { j =>
      val lo = j * factor
      val hi = math.min(lo + factor, n)
      var s = 0L
      var i = lo
      while (i < hi) { s += smps(i); i += 1 }
      (s / (hi - lo)).toInt // truncating, = SQL div / //
    }
    writeWav(out, rate / factor)
  }

  /** Downsample-then-decode features: [[downsampleWav]] composed with
    * [[decodeAudio]] scan-side in the one per-payload pass — payload
    * bytes never cross a shuffle, and the re-encoded WAV is itself
    * decoded back (so the gate pins the WHOLE resample round-trip,
    * not just the block arithmetic). */
  def downsampleAudioFeatures(media: DataFrame,
      factor: Int): Dataset[AudioFeatures] =
    perPayload(media)((id, bytes) =>
      Iterator.single(audioFeatures(id, downsampleWav(bytes, factor))))

  case class VideoFrameFeatures(doc_id: Long, frame_idx: Int, width: Int,
      height: Int, g_sum: Long, pos_sum: Long)

  /** Deterministic synthetic grayscale pixel for frame `f`: closed-form
    * in (doc_id, frame, x, y), replayable by an oracle without decoding. */
  @inline private def pxV(docId: Long, f: Int, x: Int, y: Int): Int =
    ((x * 7L + y * 13L + docId + f * 29L) % 256).toInt

  /** Animated-GIF-encode a synthetic frame sequence for one doc — GIF is
    * the one multi-frame container the in-JDK codecs write. Frames are
    * 256-gray indexed (an explicit identity IndexColorModel), so the
    * encode is LOSSLESS and [[decodeVideo]] must recover exact pixels. */
  def syntheticGif(docId: Long, nFrames: Int, w: Int, h: Int): Array[Byte] = {
    // identity 256-entry gray palette: index i = color (i,i,i)
    val grays = Array.tabulate(256)(_.toByte)
    val icm = new java.awt.image.IndexColorModel(8, 256, grays, grays, grays)
    val out = new ByteArrayOutputStream()
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    val ios = ImageIO.createImageOutputStream(out)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    var f = 0
    while (f < nFrames) {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_INDEXED, icm)
      val raster = img.getRaster
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          raster.setSample(x, y, 0, pxV(docId, f, x, y))
          x += 1
        }
        y += 1
      }
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      f += 1
    }
    writer.endWriteSequence()
    ios.close()
    writer.dispose()
    out.toByteArray
  }

  /** Real-GIF payload fixture: the video-kind doc subset (doc_id % 3 == 2),
    * each an actual multi-frame animated GIF. */
  def videoPayloads(docs: DataFrame, limit: Int = 30): DataFrame =
    payloadFixture(docs, 2, limit, "video")(id => syntheticGif(id,
      (id % 5 + 2).toInt, (id % 20 + 6).toInt, (id % 12 + 5).toInt))

  /** REAL video decode via javax.imageio's GIF reader: opens the
    * multi-frame container, COMPOSITES each frame onto the logical
    * screen ([[foldCompositedFrames]] — delta/disposal/transparency
    * handled like [[videoAHash]]), returns per-frame (screenW, screenH,
    * graySum, posSum) where posSum = Σ (x+1)(y+1)·gray catches
    * transposed/shifted pixels. The frame loop is the shape a real
    * codec binding (frame-seek + decode) plugs into. */
  def decodeVideo(bytes: Array[Byte]): Seq[(Int, Int, Int, Long, Long)] =
    foldCompositedFrames(bytes, s"${bytes.length} bytes") {
      (canvas, sw, sh, f) =>
        var (gs, ps) = (0L, 0L)
        var y = 0
        while (y < sh) {
          var x = 0
          while (x < sw) {
            val g = canvas(y * sw + x) // gray palette: b == g == r
            gs += g
            ps += (x + 1L) * (y + 1L) * g
            x += 1
          }
          y += 1
        }
        (f, sw, sh, gs, ps)
    }

  /** Decode every frame of a GIF container COMPOSITED onto its logical
    * screen — left/top placement, none/background/previous disposal,
    * transparency-preserving writes, a 16M-pixel header bound — and
    * fold `f` over each composited screen. The SHARED decode spine of
    * [[videoAHash]] and [[decodeVideo]]: one implementation, so the
    * fingerprint path and the frame-features path cannot drift on
    * delta-encoded inputs. `f` receives (canvas row-major, screenW,
    * screenH, frameIdx); width/height in downstream outputs are the
    * LOGICAL SCREEN's (== the frame's for full-frame encodes like the
    * synthetic corpus). */
  private def foldCompositedFrames[T](bytes: Array[Byte], label: => String)(
      f: (Array[Int], Int, Int, Int) => T): IndexedSeq[T] = {
    val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
    val readers = ImageIO.getImageReaders(iis)
    require(readers.hasNext, s"undecodable video payload ($label)")
    val reader = readers.next()
    reader.setInput(iis)
    val n = reader.getNumImages(true)
    // logical screen: delta frames composite onto THIS canvas —
    // pooling a partial raster would fingerprint the delta, not the
    // frame the viewer sees. Fall back to frame-0 dims when the
    // container has no screen descriptor (non-GIF readers).
    val stream = metadataTree(reader.getStreamMetadata,
      "javax_imageio_gif_stream_1.0")
    val (sw, sh) = gifLogicalScreen(stream)
      .getOrElse((reader.getWidth(0), reader.getHeight(0)))
    require(sw >= 1 && sh >= 1, s"video $label empty logical screen")
    // the canvas is sized from the HEADER's screen descriptor
    requireDecodeBound(sw, sh, s"video $label logical screen")
    val bg = gifBackgroundGray(stream) // restore-to-background fill
    val canvas = new Array[Int](sw * sh)
    var prev: Array[Int] = null // restoreToPrevious snapshot
    val out = (0 until n).map { fi =>
      val img = reader.read(fi)
      val (fw, fh) = (img.getWidth, img.getHeight)
      val (left, top, disposal) = gifFramePlacement(reader, fi)
      require(left + fw <= sw && top + fh <= sh,
        s"video $label frame $fi (${fw}x$fh at $left,$top) exceeds " +
          s"the ${sw}x$sh logical screen")
      if (disposal == "restoreToPrevious") prev = canvas.clone()
      var y = 0
      while (y < fh) {
        var x = 0
        while (x < fw) {
          val argb = img.getRGB(x, y)
          // transparent pixels (optimized deltas mark unchanged pixels
          // with the transparent index) PRESERVE the canvas — writing
          // them would smear the transparent entry's color over the
          // composited region
          if ((argb >>> 24) != 0)
            canvas((top + y) * sw + (left + x)) = argb & 0xFF
          x += 1
        }
        y += 1
      }
      val r = f(canvas, sw, sh, fi)
      // dispose AFTER the fold: background-restore clears the frame
      // rect to the DECLARED background gray; previous-restore reverts
      // the whole canvas
      disposal match {
        case "restoreToBackgroundColor" =>
          y = 0
          while (y < fh) {
            var x = 0
            while (x < fw) {
              canvas((top + y) * sw + (left + x)) = bg
              x += 1
            }
            y += 1
          }
        case "restoreToPrevious" if prev != null =>
          System.arraycopy(prev, 0, canvas, 0, canvas.length)
        case _ => () // none / doNotDispose: canvas persists
      }
      r
    }
    reader.dispose()
    iis.close()
    out
  }

  /** Distributed frame-level decode of real GIF payloads: one output row
    * per (doc, frame) — frame extraction as data, the real form of the
    * [[sampleFrames]] plan. */
  def decodeVideoFrames(media: DataFrame): Dataset[VideoFrameFeatures] =
    perPayload(media) { (id, bytes) =>
      decodeVideo(bytes).map { case (f, w, h, gs, ps) =>
        VideoFrameFeatures(id, f, w, h, gs, ps)
      }
    }

  /** Metadata-only "resize": the payload is untouched (a real impl would
    * re-encode in the per-payload step); target dims recorded. */
  def resizeMeta(media: DataFrame, maxW: Int, maxH: Int): DataFrame = {
    val scale = least(lit(1.0), least(lit(maxW) / col("width"),
      lit(maxH) / col("height")))
    media.withColumn("out_width", floor(col("width") * scale).cast("int"))
      .withColumn("out_height", floor(col("height") * scale).cast("int"))
  }

  /** THE 32-cell block-mean hash of [[imageAHash]] and [[audioAHash]].
    * `pool` feeds every (cell 0..31, value) pair to the function it is
    * given; every cell must receive at least one value. Bits 0..31 are
    * the aHash — cell mean vs the total of the means via the integer
    * cross-multiply `avg*32 > total`, bit = cell — and bits 32..62 the
    * chain-adjacent dHash (`avg(i+1) > avg(i)`: gradient bits that
    * survive a global level shift the aHash half is blind to). 31 dHash
    * bits, not 32: bit 63 stays clear so the value (and the oracle's
    * `1<<idx` replay) never overflows a signed 64-bit int. */
  private def blockMeanHash(pool: ((Int, Long) => Unit) => Unit): Long = {
    val sum = new Array[Long](32)
    val cnt = new Array[Long](32)
    pool { (cell, v) => sum(cell) += v; cnt(cell) += 1 }
    val avg = new Array[Long](32)
    var total = 0L
    var i = 0
    while (i < 32) { avg(i) = sum(i) / cnt(i); total += avg(i); i += 1 }
    var hash = 0L
    i = 0
    while (i < 32) {
      if (avg(i) * 32L > total) hash |= 1L << i
      if (i < 31 && avg(i + 1) > avg(i)) hash |= 1L << (32 + i)
      i += 1
    }
    hash
  }

  case class ImageHash(doc_id: Long, width: Int, height: Int, phash: Long)

  /** 63-bit perceptual hash of a decoded image: grayscale `(r+g+b)/3`
    * average-pooled onto an 8×4 grid (pixel→block via `bx = x*8/w`,
    * `by = y*4/h` — every block non-empty for w≥8, h≥4), hashed by
    * [[blockMeanHash]] with cell `by*8+bx`: bits 0..31 the aHash, bits
    * 32..62 the chain-adjacent dHash, bit 63 clear (signed-overflow-free
    * on both engines). ALL-INTEGER end to end, so the DuckDB oracle
    * replays it exactly from the closed-form pixels.
    *
    * This is the image-side near-dup signature (the d03/d04 discipline
    * for pixels): re-encodes, minor crops, and brightness-preserving
    * noise keep most bits, so banded Hamming join finds near-dups
    * without an all-pairs pass. */
  def imageAHash(media: DataFrame): Dataset[ImageHash] =
    perPayload(media) { (id, bytes) =>
      val img = readImage(bytes, id.toString)
      val (w, h) = (img.getWidth, img.getHeight)
      // every 8x4 block must be non-empty or the mean divides by 0
      require(w >= 8 && h >= 4,
        s"image $id too small for the 8x4 aHash grid (${w}x$h)")
      val hash = blockMeanHash { add =>
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            add((y * 4 / h) * 8 + (x * 8 / w), (((rgb >> 16) & 0xFF) +
              ((rgb >> 8) & 0xFF) + (rgb & 0xFF)) / 3)
            x += 1
          }
          y += 1
        }
      }
      Iterator.single(ImageHash(id, w, h, hash))
    }

  /** Banded Hamming nearest neighbor over perceptual hashes: the hash
    * splits into `numBands` bands of `bandBits` bits; only hash pairs
    * agreeing on at least one band become candidates (an equi-join on
    * (band, value) — never all-pairs), then exact `bit_count(xor)`
    * ranks them. Returns one row per input hash with its nearest
    * band-mate (min Hamming, ties to the smallest id) or (-1, -1) when
    * no candidate shares a band.
    *
    * Scale guards (the d03/d08 discipline): bucket CARDINALITY must
    * grow with the corpus — 16-bit bands give 65k values per band
    * (the r6 8-bit layout topped out at 1,024 (band, value) buckets,
    * which goes quadratic once n >> 1k) — and bucket POPULATION is
    * frequency-capped by the text paths' one cap, [[Dedup.capBuckets]]:
    * `maxBucket > 0` drops hot (band, value) buckets (flat/monochrome
    * payloads that aHash collapses onto one value) before the
    * self-join, silently by design; run [[hammingCapAudit]] on the same
    * frame to observe what a cap drops. At billions of payloads the
    * band join is the only shuffle and carries (id, band-value) pairs,
    * not pixels. */
  def nearestByHamming(hashes: DataFrame, bandBits: Int = 8,
      numBands: Int = 4, maxBucket: Int = 0): DataFrame = {
    val bands = Dedup.capBuckets(bandedHashes(hashes, bandBits, numBands),
      Seq("band", "v"), maxBucket)
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.v") === col("b.v") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("doc_id"),
        col("b.doc_id").as("cand_id"),
        bit_count(col("a.phash").bitwiseXOR(col("b.phash")))
          .cast("long").as("hamming"))
      .distinct()
    val nn = cand.groupBy("doc_id")
      .agg(min_by(struct(col("cand_id"), col("hamming")),
        struct(col("hamming"), col("cand_id"))).as("nn"))
      .select(col("doc_id"), col("nn.cand_id").as("_nn_id"),
        col("nn.hamming").as("_nn_hamming"))
    // carry every input column through (image dims, sample counts, …) —
    // the operator is modality-agnostic: anything with a long phash
    hashes.join(nn, Seq("doc_id"), "left")
      .withColumn("nn_id", coalesce(col("_nn_id"), lit(-1L)))
      .withColumn("nn_hamming", coalesce(col("_nn_hamming"), lit(-1L)))
      .drop("_nn_id", "_nn_hamming")
  }

  /** (doc_id, phash, band, v) — one row per (hash, band). */
  private def bandedHashes(hashes: DataFrame, bandBits: Int,
      numBands: Int): DataFrame = {
    val mask = (1L << bandBits) - 1L
    hashes.select(col("doc_id"), col("phash"),
        explode(array((0 until numBands).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("phash"), bandBits * b).bitwiseAND(mask)
              .as("v"))): _*)).as("bv"))
      .select(col("doc_id"), col("phash"),
        col("bv.band").as("band"), col("bv.v").as("v"))
  }

  /** One-row audit of what [[nearestByHamming]]'s `maxBucket` cap
    * drops from this corpus' (band, value) buckets — hot-bucket count,
    * rows they carry, hottest frequency (the d08 observability pattern:
    * caps drop silently so the join never stalls; pipelines run this
    * against the same hash frame and alert on recall loss). */
  def hammingCapAudit(hashes: DataFrame, bandBits: Int, numBands: Int,
      maxBucket: Int): DataFrame =
    Dedup.capAuditCore(bandedHashes(hashes, bandBits, numBands),
      Seq("band", "v"), maxBucket)

  case class AudioHash(doc_id: Long, n_samples: Int, phash: Long)

  /** 63-bit audio fingerprint over decoded PCM — the [[imageAHash]]
    * discipline for sound: per-sample |amplitude| average-pooled onto
    * 32 equal time windows (sample→window via `i*32/n`, every window
    * non-empty for n≥32), hashed by [[blockMeanHash]] with cell =
    * window: bits 0..31 threshold each window's integer mean energy,
    * bits 32..62 are the chain-adjacent energy-gradient dHash
    * (level-shift-invariant). All-integer, so the oracle replays it
    * from the closed-form samples. Re-encodes and level-preserving
    * noise keep most bits; band the result with [[nearestByHamming]]. */
  def audioAHash(media: DataFrame): Dataset[AudioHash] =
    perPayload(media) { (id, bytes) =>
      val (smps, _) = readPcm16(bytes, id.toString)
      val n = smps.length
      require(n >= 32, s"audio payload too short for 32 windows ($id)")
      val hash = blockMeanHash { add =>
        var i = 0
        while (i < n) {
          add((i.toLong * 32 / n).toInt, math.abs(smps(i)))
          i += 1
        }
      }
      Iterator.single(AudioHash(id, n, hash))
    }

  case class VideoHash(doc_id: Long, n_frames: Int, phash: Long)

  /** 63-bit video fingerprint: per decoded frame, a 4x4 average-pool of
    * the grayscale (pixel->cell via `x*4/w`, `y*4/h` — non-empty for
    * w,h >= 4; the GIF corpus's dims go down to 6x5, too small for the
    * image path's 8x4 grid), then 63 integer comparisons over the 16
    * cell means:
    *   - bits 0..15   aHash — cell mean vs grid total (`avg*16 > total`)
    *   - bits 16..30  row-major chain gradient (`avg(i+1) > avg(i)`)
    *   - bits 31..45  column-major chain gradient (same chain walked
    *                  down columns — catches transposed/rotated content
    *                  the row chain is blind to)
    *   - bits 46..59  second-order row gradient (`avg(i+2) > avg(i)`)
    *   - bits 60..62  quadrant energy: q0>q3, q1>q2, q0+q3 > q1+q2
    * and a strict MAJORITY VOTE across frames per bit (the SimHash
    * discipline over time): bit i set iff more than half the frames set
    * it. Bit 63 stays clear (signed-safe on both engines). All-integer;
    * band with [[nearestByHamming]](bandBits = 16, numBands = 4) — the
    * SAME 65k-values-per-band geometry as the image/audio paths. (The
    * r7 layout emitted 31 bits banded at 8 = 1,024 possible buckets;
    * at corpus scale every bucket saturates the frequency cap and
    * near-dup recall collapses silently — the exact ceiling the image
    * path escaped in r7. 63/16 restores cardinality that grows with
    * the hash space, not the cap.)
    *
    * Delta-frame GIFs: frames whose raster is SMALLER than the logical
    * screen (delta/disposal encoding) are composited onto the running
    * screen canvas before pooling, so the hash always sees full frames
    * (spec: a delta-encoded GIF hashes equal to its full-frame
    * re-encode). */
  def videoAHash(media: DataFrame): Dataset[VideoHash] =
    perPayload(media) { (id, bytes) =>
      val votes = new Array[Int](63)
      var n = 0
      foldCompositedFrames(bytes, id.toString) { (canvas, sw, sh, _) =>
        // every 4x4 cell must be non-empty or the mean divides by 0
        require(sw >= 4 && sh >= 4,
          s"video $id logical screen too small for the 4x4 grid " +
            s"(${sw}x$sh)")
        // pool the COMPOSITED screen, not the frame raster
        val sum = new Array[Long](16)
        val cnt = new Array[Long](16)
        var y = 0
        while (y < sh) {
          var x = 0
          while (x < sw) {
            val idx = (y * 4 / sh) * 4 + (x * 4 / sw)
            sum(idx) += canvas(y * sw + x)
            cnt(idx) += 1
            x += 1
          }
          y += 1
        }
        val avg = new Array[Long](16)
        var total = 0L
        var i = 0
        while (i < 16) { avg(i) = sum(i) / cnt(i); total += avg(i); i += 1 }
        i = 0
        while (i < 16) {
          if (avg(i) * 16L > total) votes(i) += 1
          i += 1
        }
        // bits 16..30: row-major chain gradient (the imageAHash
        // dHash extension), majority-voted like the aHash bits
        i = 0
        while (i < 15) {
          if (avg(i + 1) > avg(i)) votes(16 + i) += 1
          i += 1
        }
        // bits 31..45: the same chain walked in COLUMN-major order —
        // col-major position p maps to cell (p%4)*4 + p/4
        var p = 0
        while (p < 15) {
          val ca = (p % 4) * 4 + p / 4
          val cb = ((p + 1) % 4) * 4 + (p + 1) / 4
          if (avg(cb) > avg(ca)) votes(31 + p) += 1
          p += 1
        }
        // bits 46..59: second-order row gradient (skip-one slope)
        i = 0
        while (i < 14) {
          if (avg(i + 2) > avg(i)) votes(46 + i) += 1
          i += 1
        }
        // bits 60..62: 2x2-cell quadrant energy comparisons
        val qs = new Array[Long](4)
        i = 0
        while (i < 16) { qs((i / 8) * 2 + (i % 4) / 2) += avg(i); i += 1 }
        if (qs(0) > qs(3)) votes(60) += 1
        if (qs(1) > qs(2)) votes(61) += 1
        if (qs(0) + qs(3) > qs(1) + qs(2)) votes(62) += 1
        n += 1
      }
      var hash = 0L
      var i = 0
      while (i < 63) {
        if (votes(i) * 2 > n) hash |= 1L << i
        i += 1
      }
      Iterator.single(VideoHash(id, n, hash))
    }

  /** THE metadata-tree lookup of the GIF stream and frame metadata: the
    * `format` tree of `meta`, or None when the reader exposes none. */
  private def metadataTree(meta: IIOMetadata,
      format: String): Option[Element] =
    Option(meta).flatMap(m => scala.util.Try(m.getAsTree(format)).toOption)
      .map(_.asInstanceOf[Element])

  /** (logicalScreenWidth, logicalScreenHeight) from the GIF stream tree,
    * or None when there is no GIF screen descriptor. */
  private def gifLogicalScreen(stream: Option[Element]): Option[(Int, Int)] =
    for (lsd <- stream.flatMap(firstChild(_, "LogicalScreenDescriptor")))
      yield (lsd.getAttribute("logicalScreenWidth").toInt,
        lsd.getAttribute("logicalScreenHeight").toInt)

  /** The gray value of the GIF's declared background color — the LSD's
    * backgroundColorIndex looked up in the global color table (blue
    * channel; the corpus palettes are gray, r=g=b). 0 when the
    * container declares neither (the pre-GIF89a default). */
  private def gifBackgroundGray(stream: Option[Element]): Int = {
    val bg = for {
      tree <- stream
      lsd <- firstChild(tree, "LogicalScreenDescriptor")
      idxStr = lsd.getAttribute("backgroundColorIndex")
      if idxStr.nonEmpty
      gct <- firstChild(tree, "GlobalColorTable")
    } yield {
      val idx = idxStr.toInt
      val entries = gct.getElementsByTagName("ColorTableEntry")
      var g = 0
      var i = 0
      while (i < entries.getLength) {
        val e = entries.item(i).asInstanceOf[Element]
        if (e.getAttribute("index").toInt == idx)
          g = e.getAttribute("blue").toInt
        i += 1
      }
      g
    }
    bg.getOrElse(0)
  }

  /** Per-frame (leftPosition, topPosition, disposalMethod) from the GIF
    * image metadata; (0, 0, "none") when the container carries none. */
  private def gifFramePlacement(reader: ImageReader,
      frame: Int): (Int, Int, String) = {
    val placed = for {
      tree <- metadataTree(reader.getImageMetadata(frame),
        "javax_imageio_gif_image_1.0")
      desc <- firstChild(tree, "ImageDescriptor")
    } yield {
      val disposal = firstChild(tree, "GraphicControlExtension")
        .map(_.getAttribute("disposalMethod")).getOrElse("none")
      (desc.getAttribute("imageLeftPosition").toInt,
        desc.getAttribute("imageTopPosition").toInt, disposal)
    }
    placed.getOrElse((0, 0, "none"))
  }

  private def firstChild(e: Element, name: String): Option[Element] = {
    val kids = e.getElementsByTagName(name)
    if (kids.getLength > 0) Some(kids.item(0).asInstanceOf[Element])
    else None
  }

  /** Frame sampling plan for video rows: every `stride`-th fake frame. */
  def sampleFrames(features: Dataset[MediaFeatures], stride: Int): DataFrame = {
    val spark = features.sparkSession
    import spark.implicits._
    features.filter(_.kind == "video")
      .flatMap(f => (0 until f.n_frames by stride)
        .map(i => (f.doc_id, i)))
      .toDF("doc_id", "frame_idx")
  }
}
