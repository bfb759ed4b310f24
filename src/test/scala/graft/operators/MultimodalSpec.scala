package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.Tables

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val media =
    Multimodal.fakePayloads(Tables(spark, "/root/testdata/sf0.001", "documents"))

  test("payload schema: binary column + typed metadata") {
    val sch = media.schema
    assert(sch("payload").dataType.typeName === "binary")
    assert(sch("kind").dataType.typeName === "string")
    val kinds = media.select("kind").distinct().as[String].collect().toSet
    assert(kinds === Set("image", "audio", "video"))
  }

  test("decode stub features match a driver-side recompute") {
    val f = Multimodal.extractFeatures(media)
      .filter(col("doc_id") === 0L).collect().head
    val text = Tables(spark, "/root/testdata/sf0.001", "documents")
      .filter(col("doc_id") === 0L).select("text").as[String].collect().head
    val bytes = text.getBytes("UTF-8")
    assert(f.byte_len === bytes.length)
    assert(f.byte_sum === bytes.map(_ & 0xFF).map(_.toLong).sum)
    assert(f.n_frames === math.max(1, bytes.length / 256))
    assert(f.hist.sum === bytes.length)
  }

  test("feature extraction is distributed (partition count preserved)") {
    val parts = Multimodal.extractFeatures(media.repartition(4))
      .rdd.getNumPartitions
    assert(parts === 4)
  }

  test("resizeMeta: aspect-preserving downscale, never upscale") {
    val out = Multimodal.resizeMeta(media, 128, 128)
      .select("width", "height", "out_width", "out_height").collect()
    out.foreach { r =>
      val (w, h, ow, oh) = (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3))
      assert(ow <= 128 && oh <= 128)
      assert(ow <= w && oh <= h)
    }
  }

  test("frame sampling emits every stride-th frame for video rows") {
    val feats = Multimodal.extractFeatures(media)
    val sampled = Multimodal.sampleFrames(feats, stride = 2)
    val one = sampled.filter(col("doc_id") === 2L) // doc 2 -> kind video
    val frames = one.select("frame_idx").as[Int].collect().sorted
    assert(frames.nonEmpty)
    assert(frames.forall(_ % 2 === 0))
  }

  test("PNG round-trip: decodeImage recovers the exact synthetic pixels") {
    val (docId, w, h) = (9L, 5, 4)
    val png = Multimodal.syntheticPng(docId, w, h)
    // a real PNG container, not raw bytes
    assert(png.take(4).map(_ & 0xFF).toSeq === Seq(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt))
    val (dw, dh, rs, gs, bs, ps, hist) = Multimodal.decodeImage(png)
    // hand-computed from the closed-form pattern
    def pixels = for { y <- 0 until h; x <- 0 until w } yield (
      ((x * 7L + y * 13L + docId) % 256).toInt,
      ((x * 3L + y * 5L + docId * 2) % 256).toInt,
      ((x * 11L + y * 17L + docId * 3) % 256).toInt, x, y)
    assert((dw, dh) === ((w, h)))
    assert(rs === pixels.map(_._1.toLong).sum)
    assert(gs === pixels.map(_._2.toLong).sum)
    assert(bs === pixels.map(_._3.toLong).sum)
    assert(ps === pixels.map { case (r, g, b, x, y) =>
      (x + 1L) * (y + 1L) * (r + g + b) }.sum)
    assert(hist.sum === w.toLong * h)
  }

  test("decodeImage rejects undecodable payloads with context") {
    val e = intercept[IllegalArgumentException] {
      Multimodal.decodeImage("not an image".getBytes("UTF-8"))
    }
    assert(e.getMessage.contains("undecodable"))
  }

  test("decodeImageFeatures runs distributed and matches per-doc decode") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val payloads = Multimodal.imagePayloads(docs, limit = 10).repartition(3)
    val feats = Multimodal.decodeImageFeatures(payloads)
    assert(feats.rdd.getNumPartitions === 3)
    val rows = feats.collect().sortBy(_.doc_id)
    assert(rows.nonEmpty)
    rows.foreach { f =>
      assert(f.width === (f.doc_id % 24 + 8).toInt)
      assert(f.height === (f.doc_id % 16 + 6).toInt)
      assert(f.r_h0 + f.r_h1 + f.r_h2 + f.r_h3 === f.width.toLong * f.height)
    }
  }

  test("WAV round-trip: decodeAudio recovers the exact synthetic samples") {
    val (docId, n) = (7L, 123)
    val wav = Multimodal.syntheticWav(docId, n)
    // a real RIFF/WAVE container, not raw PCM
    assert(wav.take(4).map(_.toChar).mkString === "RIFF")
    assert(wav.slice(8, 12).map(_.toChar).mkString === "WAVE")
    val (dn, rate, sum, absSum, mn, mx, posSum, zc) =
      Multimodal.decodeAudio(wav)
    // hand-computed from the closed-form pattern
    val samples = (0 until n).map(i => (((i * 31L + docId * 17L) % 4096L) - 2048L).toInt)
    assert(dn === n)
    assert(rate === 8000)
    assert(sum === samples.map(_.toLong).sum)
    assert(absSum === samples.map(s => math.abs(s).toLong).sum)
    assert(mn === samples.min)
    assert(mx === samples.max)
    assert(posSum === samples.zipWithIndex.map { case (s, i) => (i + 1L) * s }.sum)
    assert(zc === samples.sliding(2).count(p => (p(0) < 0) != (p(1) < 0)))
  }

  test("downsampleWav halves the rate with truncating-mean blocks") {
    val (docId, n) = (1L, 5)
    def smp(i: Int) = (((i * 31L + docId * 17L) % 4096L) - 2048L).toInt
    val out = Multimodal.downsampleWav(Multimodal.syntheticWav(docId, n), 2)
    val (dn, rate, sum, _, mn, mx, _, _) = Multimodal.decodeAudio(out)
    // blocks: (-2031,-2000) -> -4031/2 = -2015 (TRUNCATING, not floor
    // -2016 — the semantics DuckDB's // shares), (-1969,-1938) ->
    // -1953, odd tail (-1907) -> -1907
    val expect = Seq((smp(0) + smp(1)) / 2, (smp(2) + smp(3)) / 2, smp(4))
    assert(expect === Seq(-2015, -1953, -1907))
    assert(dn === 3 && rate === 4000)
    assert(sum === expect.map(_.toLong).sum)
    assert(mn === expect.min && mx === expect.max)
    // factor 1 is the identity resample
    val id1 = Multimodal.decodeAudio(
      Multimodal.downsampleWav(Multimodal.syntheticWav(docId, n), 1))
    assert(id1 === Multimodal.decodeAudio(Multimodal.syntheticWav(docId, n)))
  }

  test("GIF round-trip: decodeVideo recovers every frame's exact pixels") {
    val (docId, n, w, h) = (5L, 4, 7, 6)
    val gif = Multimodal.syntheticGif(docId, n, w, h)
    // a real GIF container
    assert(gif.take(3).map(_.toChar).mkString === "GIF")
    val frames = Multimodal.decodeVideo(gif)
    assert(frames.size === n)
    frames.foreach { case (f, dw, dh, gs, ps) =>
      val px = for { y <- 0 until h; x <- 0 until w }
        yield ((x * 7L + y * 13L + docId + f * 29L) % 256, x, y)
      assert((dw, dh) === ((w, h)))
      assert(gs === px.map(_._1).sum, s"frame $f gray sum")
      assert(ps === px.map { case (g, x, y) => (x + 1L) * (y + 1L) * g }.sum,
        s"frame $f pos sum")
    }
  }

  test("decodeVideo rejects undecodable payloads with context") {
    val e = intercept[IllegalArgumentException] {
      Multimodal.decodeVideo("not a video".getBytes("UTF-8"))
    }
    assert(e.getMessage.contains("undecodable"))
  }

  test("decodeVideoFrames runs distributed, one row per (doc, frame)") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val payloads = Multimodal.videoPayloads(docs, limit = 8).repartition(3)
    val rows = Multimodal.decodeVideoFrames(payloads).collect()
      .sortBy(f => (f.doc_id, f.frame_idx))
    assert(rows.nonEmpty)
    rows.groupBy(_.doc_id).foreach { case (id, fs) =>
      assert(id % 3 === 2)
      assert(fs.length === (id % 5 + 2).toInt)
      assert(fs.map(_.frame_idx).toSeq === (0 until fs.length))
      fs.foreach { f =>
        assert(f.width === (id % 20 + 6).toInt)
        assert(f.height === (id % 12 + 5).toInt)
      }
    }
  }

  test("decodeAudioFeatures runs distributed over the audio-kind subset") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val payloads = Multimodal.audioPayloads(docs, limit = 10).repartition(3)
    val feats = Multimodal.decodeAudioFeatures(payloads)
    assert(feats.rdd.getNumPartitions === 3)
    val rows = feats.collect().sortBy(_.doc_id)
    assert(rows.nonEmpty)
    rows.foreach { f =>
      assert(f.doc_id % 3 === 1)
      assert(f.n_samples === (f.doc_id % 300 + 50).toInt)
      assert(f.sample_rate === 8000)
      assert(f.s_min >= -2048 && f.s_max <= 2047)
    }
  }

  /** The messages of `body`'s exception and its causes, joined — a
    * refusal inside a Dataset action arrives wrapped in a SparkException. */
  private def refusal(body: => Any): String = {
    val e = intercept[Exception](body)
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" <- ")
  }

  private def one(bytes: Array[Byte]) = Seq((1L, bytes)).toDF("doc_id", "payload")

  test("a PNG header declaring 12000x12000 is refused by decodeImage and " +
    "imageAHash before the raster is allocated (decode bound)") {
    // signature + IHDR (12000x12000, 8-bit RGB) with its CRC + IEND: 57
    // bytes that would make ImageIO.read allocate a 432 MB raster
    def chunk(kind: String, data: Array[Byte]): Array[Byte] = {
      val body = kind.getBytes("US-ASCII") ++ data
      val crc = new java.util.zip.CRC32()
      crc.update(body)
      java.nio.ByteBuffer.allocate(4).putInt(data.length).array() ++ body ++
        java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13).putInt(12000).putInt(12000)
      .put(Array[Byte](8, 2, 0, 0, 0)).array()
    val png = Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)
      .map(_.toByte) ++ chunk("IHDR", ihdr) ++ chunk("IEND", Array.empty)
    val direct = refusal(Multimodal.decodeImage(png))
    assert(direct.contains("12000x12000") && direct.contains("decode bound"),
      direct)
    val hashed = refusal(Multimodal.imageAHash(one(png)).collect())
    assert(hashed.contains("decode bound"), hashed)
  }

  test("every decode guard refuses its bad input with its keyword") {
    val fmt8 = new javax.sound.sampled.AudioFormat(8000f, 8, 1, false, false)
    val wav8 = {
      val out = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(new Array[Byte](64)), fmt8, 64L),
        javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }
    // a 1-frame 4x4 GIF whose logical screen descriptor (bytes 6..9,
    // little-endian) is rewritten to declare 5000x5000
    val bigGif = Multimodal.syntheticGif(1L, 1, 4, 4).clone()
    Seq(6, 8).foreach { at =>
      bigGif(at) = (5000 & 0xFF).toByte
      bigGif(at + 1) = (5000 >> 8).toByte
    }
    val pcm16 = "expected 16-bit LE mono PCM"
    val guards: Seq[(String, () => Any, String)] = Seq(
      ("decodeAudio, 8-bit WAV", () => Multimodal.decodeAudio(wav8), pcm16),
      ("downsampleWav, 8-bit WAV",
        () => Multimodal.downsampleWav(wav8, 2), pcm16),
      ("audioAHash, 8-bit WAV",
        () => Multimodal.audioAHash(one(wav8)).collect(), pcm16),
      ("imageAHash, 7x3 PNG", () => Multimodal.imageAHash(
        one(Multimodal.syntheticPng(1L, 7, 3))).collect(), "too small"),
      ("audioAHash, 20-sample WAV", () => Multimodal.audioAHash(
        one(Multimodal.syntheticWav(1L, 20))).collect(), "too short"),
      ("decodeVideo, 5000x5000 GIF screen",
        () => Multimodal.decodeVideo(bigGif), "16M-pixel"),
      ("videoAHash, 5000x5000 GIF screen",
        () => Multimodal.videoAHash(one(bigGif)).collect(), "16M-pixel"))
    guards.foreach { case (what, run, keyword) =>
      val msg = refusal(run())
      assert(msg.contains(keyword), s"$what: $msg")
    }
  }
}
