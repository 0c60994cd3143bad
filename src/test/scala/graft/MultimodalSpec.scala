package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.multimodal.Multimodal
import graft.sources.Tables

class MultimodalSpec extends SparkSpecBase {
  import spark.implicits._

  test("batched stub decode: every record decoded once, metadata " +
    "matches the deterministic formulas") {
    val docs = Tables.documents(spark, sf0001)
    val media = Multimodal.asMedia(docs)
    val meta = Multimodal.decodeBatched(media)
    assert(meta.count() === docs.count())
    val one = meta.where($"doc_id" === 0).head()
    val nChars = docs.where($"doc_id" === 0).select("n_chars").as[Long].head()
    assert(one.n_bytes === nChars) // ascii corpus: bytes == chars
    assert(one.width === 64 + one.n_bytes % 576)
    assert(one.n_frames === 1 + one.n_bytes % 29)
  }

  test("REAL png decode: ImageIO path reads actual pixel dimensions; " +
    "stub mimes in the same batch keep the fake formulas") {
    // Render genuine PNGs in-test (javax.imageio is the codec under test,
    // but WRITING a fixture with it and reading back known w×h is still a
    // real round-trip through the compressed format).
    def png(w: Int, h: Int, seed: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until w).foreach(x => (0 until h).foreach(y =>
        img.setRGB(x, y, (x * 31 + y * 7 + seed) & 0xffffff)))
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val media = Seq(
      Multimodal.MediaRecord(1L, png(17, 9, 0), "image/png"),
      Multimodal.MediaRecord(2L, png(320, 240, 1), "image/png"),
      Multimodal.MediaRecord(3L, "not an image".getBytes, Multimodal.StubCodec.FakeMime)
    ).toDF()
    val meta = Multimodal.decodeBatched(media).collect()
      .map(m => m.doc_id -> m).toMap
    assert((meta(1L).width, meta(1L).height) === (17, 9))
    assert((meta(2L).width, meta(2L).height) === (320, 240))
    assert(meta(1L).n_bytes > 0 && meta(1L).n_frames === 1)
    // the stub record in the same batch still follows the fake formulas
    val n = "not an image".getBytes.length
    assert(meta(3L).width === 64 + n % 576)
    // real RESIZE: bilinear kernel to 8×6, output re-decodes at 8×6
    val resized = Multimodal.resizeBatched(
      media.where($"mime" === "image/png"), 8, 6).collect()
    assert(resized.length === 2)
    resized.foreach { r =>
      val back = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.content))
      assert((back.getWidth, back.getHeight) === (8, 6))
    }
    // corrupt bytes under an image mime fail LOUDLY, not silently
    val bad = Seq(Multimodal.MediaRecord(9L, Array[Byte](1, 2, 3), "image/png")).toDF()
    val ex = intercept[org.apache.spark.SparkException] {
      Multimodal.decodeBatched(bad).collect()
    }
    assert(ex.getMessage != null)
  }

  test("REAL wav decode: sample rate, channels, frame count and duration " +
    "read from genuine WAVE headers; corrupt bytes fail loudly") {
    import javax.sound.sampled._
    def wav(rateHz: Float, channels: Int, nSamples: Int): Array[Byte] = {
      val fmt = new AudioFormat(rateHz, 16, channels, true, false)
      val pcm = new Array[Byte](nSamples * 2 * channels) // silence
      val out = new java.io.ByteArrayOutputStream()
      AudioSystem.write(
        new AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, nSamples.toLong),
        AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }
    val media = Seq(
      Multimodal.MediaRecord(1L, wav(8000f, 1, 4000), "audio/wav"),
      Multimodal.MediaRecord(2L, wav(44100f, 2, 22050), "audio/wav")
    ).toDF()
    val meta = Multimodal.decodeAudioBatched(media).collect()
      .map(m => m.doc_id -> m).toMap
    assert((meta(1L).sample_rate, meta(1L).channels, meta(1L).n_samples) ===
      (8000, 1, 4000L))
    assert(meta(1L).duration_ms === 500L) // 4000 samples at 8 kHz
    assert((meta(2L).sample_rate, meta(2L).channels, meta(2L).n_samples) ===
      (44100, 2, 22050L))
    assert(meta(2L).duration_ms === 500L)
    val bad = Seq(Multimodal.MediaRecord(9L, "not audio".getBytes, "audio/wav")).toDF()
    intercept[org.apache.spark.SparkException] {
      Multimodal.decodeAudioBatched(bad).collect()
    }
  }

  test("REAL gif frame count: an animated GIF written with k frames " +
    "decodes with n_frames == k; stills stay at 1") {
    import javax.imageio._
    def frame(seed: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(
        6, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until 6).foreach(x => (0 until 4).foreach(y =>
        img.setRGB(x, y, (x * 31 + y * 7 + seed) & 0xffffff)))
      img
    }
    def gif(nFrames: Int): Array[Byte] = {
      val writer = ImageIO.getImageWritersByFormatName("gif").next()
      val out = new java.io.ByteArrayOutputStream()
      val ios = ImageIO.createImageOutputStream(out)
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      (0 until nFrames).foreach(i =>
        writer.writeToSequence(new IIOImage(frame(i * 97), null, null), null))
      writer.endWriteSequence()
      ios.close(); writer.dispose()
      out.toByteArray
    }
    val media = Seq(
      Multimodal.MediaRecord(1L, gif(1), "image/gif"),
      Multimodal.MediaRecord(2L, gif(5), "image/gif")
    ).toDF()
    val meta = Multimodal.decodeBatched(media).collect()
      .map(m => m.doc_id -> m).toMap
    assert(meta(1L).n_frames === 1)
    assert(meta(2L).n_frames === 5)
    assert((meta(2L).width, meta(2L).height) === (6, 4))
  }

  test("REAL luma-grid features: pooled means match the actual pixels, " +
    "including non-multiple image sizes; every pixel covered once") {
    // 8×8 image, 2×2 grid: each 4×4 cell a constant gray → cell mean is
    // exactly that gray level (integer BT.601 luma of gray v is v)
    val img = new java.awt.image.BufferedImage(
      8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val cells = Array(Array(10, 200), Array(90, 255))
    (0 until 8).foreach(x => (0 until 8).foreach { y =>
      val v = cells(y / 4)(x / 4)
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    })
    assert(Multimodal.ImageIoCodec.lumaGrid(img, 2).toSeq ===
      Seq(10f, 200f, 90f, 255f))
    // 5×3 image, 2×2 grid: ragged cell bounds ⌊k·dim/g⌋ — recompute the
    // expected means with the same integer luma in the test
    val odd = new java.awt.image.BufferedImage(
      5, 3, java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 5).foreach(x => (0 until 3).foreach { y =>
      val v = (x * 53 + y * 17) % 256
      odd.setRGB(x, y, (v << 16) | (v << 8) | v)
    })
    def mean(x0: Int, x1: Int, y0: Int, y1: Int): Float = {
      val vs = for (x <- x0 until x1; y <- y0 until y1)
        yield (x * 53 + y * 17) % 256
      vs.sum.toFloat / vs.length
    }
    val got = Multimodal.ImageIoCodec.lumaGrid(odd, 2).toSeq
    val want = Seq(mean(0, 2, 0, 1), mean(2, 5, 0, 1),
      mean(0, 2, 1, 3), mean(2, 5, 1, 3))
    assert(got === want)
    // feature extraction dispatches image mimes through the real grid:
    // a PNG of one constant gray decodes to a constant vector
    val flat = new java.awt.image.BufferedImage(
      16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 16).foreach(x => (0 until 16).foreach(y =>
      flat.setRGB(x, y, (42 << 16) | (42 << 8) | 42)))
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(flat, "png", out)
    val media = Seq(
      Multimodal.MediaRecord(7L, out.toByteArray, "image/png")).toDF()
    val feats = Multimodal.extractFeaturesBatched(media, dim = 16)
      .head().features
    assert(feats.toSeq === Seq.fill(16)(42f))
  }

  test("REAL frame-sample decode: every Nth frame of an animated GIF " +
    "decoded with its actual pixels; non-image mimes fail loudly") {
    import javax.imageio._
    def gif(grays: Seq[Int]): Array[Byte] = {
      val writer = ImageIO.getImageWritersByFormatName("gif").next()
      val out = new java.io.ByteArrayOutputStream()
      val ios = ImageIO.createImageOutputStream(out)
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      grays.foreach { v =>
        val img = new java.awt.image.BufferedImage(
          8, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
        (0 until 8).foreach(x => (0 until 4).foreach(y =>
          img.setRGB(x, y, (v << 16) | (v << 8) | v)))
        writer.writeToSequence(new IIOImage(img, null, null), null)
      }
      writer.endWriteSequence()
      ios.close(); writer.dispose()
      out.toByteArray
    }
    val media = Seq(
      Multimodal.MediaRecord(1L, gif(Seq(10, 20, 30, 40, 50)), "image/gif")
    ).toDF()
    val frames = Multimodal.decodeFramesBatched(media, everyN = 2)
      .collect().sortBy(_.frame_idx)
    // frames 0, 2, 4 sampled; mean luma of a constant-gray frame is the
    // gray level exactly (GIF palette round-trips constant gray bit-exact)
    assert(frames.map(f => (f.frame_idx, f.luma)).toSeq ===
      Seq((0, 10.0), (2, 30.0), (4, 50.0)))
    assert(frames.forall(f => f.width === 8 && f.height === 4))
    val bad = Seq(Multimodal.MediaRecord(9L, "x".getBytes, "video/mp4")).toDF()
    intercept[org.apache.spark.SparkException] {
      Multimodal.decodeFramesBatched(bad, everyN = 1).collect()
    }
  }

  test("frame sampling explodes every Nth frame index") {
    val media = Multimodal.asMedia(Tables.documents(spark, sf0001).limit(10))
    val meta = Multimodal.decodeBatched(media)
    val frames = Multimodal.sampleFrames(meta, everyN = 5)
    val expected = meta.collect()
      .map(m => (m.n_frames + 4) / 5).sum // ceil(n/5) sampled frames each
    assert(frames.count() === expected)
  }

  test("metadata projection prunes the blob column at the parquet scan") {
    val dir = tmpDir("media")
    Multimodal.asMedia(Tables.documents(spark, sf0001)).write
      .mode("overwrite").parquet(dir)
    val plan = spark.read.parquet(dir).select("doc_id", "mime")
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,mime:string>"),
      s"blob column must not be read for metadata-only queries:\n$plan")
  }

  test("REAL avi dispatch: decodeBatched reads container metadata, " +
    "decodeFramesBatched samples real frames, extractFeaturesBatched " +
    "pools frame-0 pixels") {
    import graft.multimodal.AviCodec
    def gray(v: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(
        8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 8)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      img
    }
    val media = Seq(
      Multimodal.MediaRecord(1L,
        AviCodec.encode(Seq(gray(50), gray(100), gray(150)), rate = 10),
        "video/avi"),
      Multimodal.MediaRecord(2L,
        AviCodec.encode(Seq(gray(200)), rate = 25), "video/x-msvideo"))
      .toDF("doc_id", "content", "mime")
    // container metadata through the generic decode entry point
    val meta = Multimodal.decodeBatched(media).collect()
      .map(m => m.doc_id -> ((m.width, m.height, m.n_frames))).toMap
    assert(meta === Map(1L -> ((8, 8, 3)), 2L -> ((8, 8, 1))))
    // frame sampling through the generic frame entry point: every 2nd
    // frame, real per-frame luma (gray v pools to exactly v)
    val frames = Multimodal.decodeFramesBatched(media, everyN = 2)
      .collect().map(f => (f.doc_id, f.frame_idx) -> f.luma).toMap
    assert(frames === Map((1L, 0) -> 50.0, (1L, 2) -> 150.0, (2L, 0) -> 200.0))
    // single-vector features = frame 0's luma grid
    val feats = Multimodal.extractFeaturesBatched(media, dim = 4)
      .collect().map(f => f.doc_id -> f.features.toSeq).toMap
    assert(feats === Map(1L -> Seq(50f, 50f, 50f, 50f),
      2L -> Seq(200f, 200f, 200f, 200f)))
  }

  test("batched resize and feature extraction keep shape and compose " +
    "with ANN ops") {
    val media = Multimodal.asMedia(Tables.documents(spark, sf0001).limit(50))
    val resized = Multimodal.resizeBatched(media, 224, 224)
    assert(resized.count() === 50)
    assert(resized.head().width === 224)
    val feats = Multimodal.extractFeaturesBatched(media, dim = 64)
    assert(feats.count() === 50)
    val v = feats.head().features
    assert(v.length === 64)
    assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-5) // normalized
    // composes with the cosine expression downstream
    val df = feats.toDF()
    val sim = df.as("a").crossJoin(df.as("b"))
      .select(graft.functions.CosineSimilarity.cosineSim($"a.features", $"b.features").as("c"))
    assert(sim.agg(max($"c")).head().getDouble(0) <= 1.0 + 1e-9)
  }

  private def grayFrame(w: Int, h: Int, v: Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    img
  }

  test("REAL video fps resample: downsample drops the right frames, " +
    "upsample duplicates them, MJPEG input decodes through the rewrite") {
    import graft.multimodal.AviCodec
    // doc 1: 6 frames @ 12fps, uncompressed; doc 2: 4 frames @ 6fps MJPEG
    val lum = Map(1L -> Seq(10, 20, 30, 40, 50, 60), 2L -> Seq(70, 80, 90, 100))
    val media = Seq(
      Multimodal.MediaRecord(1L,
        AviCodec.encode(lum(1L).map(grayFrame(8, 8, _)), rate = 12), "video/avi"),
      Multimodal.MediaRecord(2L,
        AviCodec.encodeMjpg(lum(2L).map(grayFrame(8, 8, _)), rate = 6), "video/avi")
    ).toDF()
    val out = Multimodal.resampleVideoBatched(media, targetFps = 12)
    val frames = Multimodal.decodeFramesBatched(out.toDF(), everyN = 1)
      .collect().map(f => (f.doc_id, f.frame_idx) -> f.luma.toInt).toMap
    // doc 1: 12→12 fps is the identity
    assert((0 until 6).forall(j => frames((1L, j)) === lum(1L)(j)))
    // doc 2: 6→12 fps doubles every frame (j -> src ⌊j·6/12⌋)
    assert(frames.count(_._1._1 == 2L) === 8)
    assert((0 until 8).forall(j => frames((2L, j)) === lum(2L)(j / 2)))
    // and the output container advertises the target rate
    val c = AviCodec.parse(0L,
      out.collect().find(_.doc_id == 2L).get.content)
    assert((c.streams.head.rate, c.streams.head.scale) === ((12, 1)))
    // downsample direction: 12→6 halves the count, keeping even frames
    val down = Multimodal.resampleVideoBatched(
      media.where($"doc_id" === 1L), targetFps = 6)
    val dFrames = Multimodal.decodeFramesBatched(down.toDF(), everyN = 1)
      .collect().map(f => f.frame_idx -> f.luma.toInt).toMap
    assert(dFrames === Map(0 -> 10, 1 -> 30, 2 -> 50))
  }

  test("REAL mp4 dispatch: decodeBatched and decodeMp4TracksBatched read " +
    "the ISO-BMFF box tree; frame decode for mp4 still fails loudly") {
    import graft.multimodal.Mp4Codec
    val bytes = Mp4Codec.encode(movieTimescale = 1000, movieDuration = 800,
      tracks = Seq(
        Mp4Codec.TrackSpec(trackId = 1, video = true, width = 48, height = 32,
          timescale = 600, duration = 480, nSamples = 12),
        Mp4Codec.TrackSpec(trackId = 2, video = false, channels = 1,
          sampleRate = 8000, timescale = 8000, duration = 4000, nSamples = 4000)))
    val media = Seq(Multimodal.MediaRecord(7L, bytes, "video/mp4")).toDF()
    val meta = Multimodal.decodeBatched(media).head()
    assert((meta.width, meta.height, meta.n_frames) === ((48, 32, 12)))
    val tracks = Multimodal.decodeMp4TracksBatched(media)
      .collect().sortBy(_.track_id)
    assert(tracks.map(t => (t.track_id, t.handler, t.codec)).toSeq ===
      Seq((1L, "vide", "avc1"), (2L, "soun", "mp4a")))
    assert((tracks(1).channels, tracks(1).sample_rate) === ((1, 8000)))
    // sample decode for inter-frame codecs stays a loud failure
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.decodeFramesBatched(media, everyN = 1).collect()
    }
    assert(rootCause(e).getMessage.contains(
      "doc 7: decodeFramesBatched does not accept mime video/mp4"))
  }

  test("REAL video spatial resize: every frame through the bilinear " +
    "kernel, container re-encoded losslessly at the source fps") {
    import graft.multimodal.AviCodec
    val media = Seq(Multimodal.MediaRecord(3L,
      AviCodec.encode(Seq(grayFrame(16, 16, 30), grayFrame(16, 16, 90)),
        rate = 10), "video/avi")).toDF()
    val resized = Multimodal.resizeBatched(media, 8, 8).collect()
    assert(resized.length === 1)
    assert((resized.head.width, resized.head.height) === ((8, 8)))
    assert(resized.head.mime === "video/avi")
    val c = AviCodec.parse(3L, resized.head.content)
    assert((c.width, c.height, c.totalFrames) === ((8, 8, 2L)))
    assert((c.streams.head.rate, c.streams.head.scale) === ((10, 1)))
    // solid frames stay solid through bilinear: decoded lumas unchanged
    val frames = Multimodal.decodeFramesBatched(
      Seq(Multimodal.MediaRecord(3L, resized.head.content, "video/avi")).toDF(),
      everyN = 1).collect().map(f => f.frame_idx -> f.luma).toMap
    assert(frames === Map(0 -> 30.0, 1 -> 90.0))
  }

  private def rootCause(e: Throwable): Throwable =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last

  test("per-record streaming: take(1) decodes only the first payload, " +
    "so a corrupt second record in the same partition is never reached") {
    import graft.multimodal.FlacCodec
    val media = Seq(
      Multimodal.MediaRecord(1L,
        FlacCodec.encode(16000, 1, 16, 32000L, Nil, 64), "audio/flac"),
      Multimodal.MediaRecord(2L, Array[Byte](1, 2, 3), "audio/flac"))
      .toDF().coalesce(1)
    assert(Multimodal.flacMetaBatched(media).take(1).map(_.doc_id).toSeq ===
      Seq(1L))
    // reaching the corrupt record still fails loudly with its doc id
    val e = intercept[org.apache.spark.SparkException](
      Multimodal.flacMetaBatched(media).collect())
    assert(rootCause(e).getMessage.contains("doc 2:"))
  }

  test("every mime-guarded entry point rejects a foreign mime naming the " +
    "doc, itself and the mime") {
    val wrong = Seq(Multimodal.MediaRecord(41L, Array[Byte](1, 2, 3),
      "application/x-unknown")).toDF()
    val guarded: Seq[(String, DataFrame => Dataset[_])] = Seq(
      "flacMetaBatched" -> (Multimodal.flacMetaBatched(_)),
      "oggMetaBatched" -> (Multimodal.oggMetaBatched(_)),
      "warcRecordsBatched" -> (Multimodal.warcRecordsBatched(_)),
      "mp3MetaBatched" -> (Multimodal.mp3MetaBatched(_)),
      "adtsMetaBatched" -> (Multimodal.adtsMetaBatched(_)),
      "h264MetaBatched" -> (Multimodal.h264MetaBatched(_)),
      "tsDemuxStatsBatched" -> (Multimodal.tsDemuxStatsBatched(_)),
      "tsH264ChainBatched" -> (Multimodal.tsH264ChainBatched(_)),
      "vttCuesBatched" -> (Multimodal.vttCuesBatched(_)),
      "webdatasetMembersBatched" -> (Multimodal.webdatasetMembersBatched(_)),
      "zipMembersBatched" -> (Multimodal.zipMembersBatched(_)),
      "pdfPagesBatched" -> (Multimodal.pdfPagesBatched(_)),
      "imageGridsBatched" -> (Multimodal.imageGridsBatched(_, 9, 8)),
      "resampleVideoBatched" -> (Multimodal.resampleVideoBatched(_, 12)),
      "videoFrameGridsBatched" -> (Multimodal.videoFrameGridsBatched(_, 1, 2)),
      "decodeFramesBatched" -> (Multimodal.decodeFramesBatched(_, 1)))
    guarded.foreach { case (entry, run) =>
      val e = intercept[org.apache.spark.SparkException](run(wrong).collect())
      assert(rootCause(e).getMessage.contains(s"doc 41: $entry does not " +
        "accept mime application/x-unknown"), entry)
    }
  }
}
