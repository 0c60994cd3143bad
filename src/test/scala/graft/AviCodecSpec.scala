package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.multimodal.{AviCodec, Multimodal}

/** Pins the self-written RIFF/AVI codec: encode → parse → frame seek →
  * pixel decode roundtrips bit-exact, multi-stream headers parse
  * per-stream, and malformed payloads fail loudly (the codec-family
  * contract: never fake plausible metadata). */
class AviCodecSpec extends AnyFunSuite {

  private def gray(w: Int, h: Int, v: Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, (v << 16) | (v << 8) | v); x += 1 }
      y += 1
    }
    img
  }

  test("encode → parse roundtrips the container and stream headers") {
    val frames = Seq(gray(10, 6, 40), gray(10, 6, 80), gray(10, 6, 120))
    val pcm = new Array[Byte](64 * 2)
    val bytes = AviCodec.encode(frames, rate = 25, scale = 1,
      audio = Some((8000, pcm)))
    val c = AviCodec.parse(1L, bytes)
    assert(c.totalFrames === 3L)
    assert((c.width, c.height) === ((10, 6)))
    assert(c.usPerFrame === 40000)
    assert(c.streams.size === 2)
    val vids = c.streams(0); val auds = c.streams(1)
    assert(vids.fccType === "vids" && vids.handler === "DIB ")
    assert((vids.width, vids.height, vids.length) === ((10, 6, 3L)))
    assert((vids.rate, vids.scale) === ((25, 1)))
    assert(vids.bitCount === 24 && vids.compression === 0)
    assert(auds.fccType === "auds")
    assert((auds.sampleRate, auds.channels, auds.bitsPerSample) === ((8000, 1, 16)))
    assert(auds.length === 64L)
  }

  test("frame seek + BGR24 pixel decode recover the exact written pixels " +
    "(odd width exercises row padding)") {
    // 7-px rows: 21 data bytes pad to 24 — the classic DIB stride trap
    val f0 = gray(7, 3, 10); f0.setRGB(2, 1, 0x0a141e) // R=10,G=20,B=30
    val f1 = gray(7, 3, 200)
    val bytes = AviCodec.encode(Seq(f0, f1), rate = 5)
    val (vids, chunks) = AviCodec.videoFrames(2L, bytes)
    assert(chunks.size === 2)
    val d0 = AviCodec.decodeFrame(2L, bytes, chunks(0)._1, chunks(0)._2, vids)
    val d1 = AviCodec.decodeFrame(2L, bytes, chunks(1)._1, chunks(1)._2, vids)
    for (y <- 0 until 3; x <- 0 until 7) {
      assert((d0.getRGB(x, y) & 0xffffff) === (f0.getRGB(x, y) & 0xffffff),
        s"frame 0 pixel ($x,$y)")
      assert((d1.getRGB(x, y) & 0xffffff) === (f1.getRGB(x, y) & 0xffffff),
        s"frame 1 pixel ($x,$y)")
    }
  }

  test("malformed payloads fail loudly with the doc id") {
    val e1 = intercept[IllegalArgumentException] {
      AviCodec.parse(42L, "not a riff container at all".getBytes)
    }
    assert(e1.getMessage.contains("42"))
    // RIFF/WAVE (a real RIFF, wrong form type) must not parse as AVI
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(new Array[Byte](64)), fmt, 32L),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    intercept[IllegalArgumentException] {
      AviCodec.parse(43L, out.toByteArray)
    }
    // truncated mid-chunk: the size walk must notice the overrun
    val good = AviCodec.encode(Seq(gray(4, 4, 9)), rate = 10)
    intercept[IllegalArgumentException] {
      AviCodec.parse(44L, good.take(good.length / 2))
    }
  }

  test("inter-frame-compressed or non-24-bit frames refuse to decode") {
    val bytes = AviCodec.encode(Seq(gray(4, 4, 7)), rate = 10)
    val (vids, chunks) = AviCodec.videoFrames(5L, bytes)
    val bad = vids.copy(compression = 0x34363248 /* 'H264' */)
    val e = intercept[IllegalArgumentException] {
      AviCodec.decodeFrame(5L, bytes, chunks.head._1, chunks.head._2, bad)
    }
    assert(e.getMessage.contains("decodable"))
  }

  test("MJPG encode → parse → decode: headers carry the MJPG fourcc and " +
    "every solid gray level survives the JPEG round-trip bit-exact") {
    val frames = (0 until 256 by 1).map(gray(8, 8, _))
    val bytes = AviCodec.encodeMjpg(frames, rate = 25)
    val c = AviCodec.parse(7L, bytes)
    val vids = c.streams.head
    assert(vids.handler === "MJPG")
    assert(vids.compression === AviCodec.MjpgFourcc)
    assert(c.totalFrames === 256L)
    val (_, chunks) = AviCodec.videoFrames(7L, bytes)
    assert(chunks.size === 256)
    for (v <- 0 until 256) {
      val (o, s) = chunks(v)
      val img = AviCodec.decodeFrame(7L, bytes, o, s, vids)
      assert((img.getWidth, img.getHeight) === ((8, 8)))
      for (y <- 0 until 8; x <- 0 until 8)
        assert((img.getRGB(x, y) & 0xffffff) === ((v << 16) | (v << 8) | v),
          s"gray level $v pixel ($x,$y)")
    }
  }

  test("MJPG 8x8-block-aligned constant quadrants decode bit-exact " +
    "(the DC-only-block property q113's oracle relies on)") {
    val img = new java.awt.image.BufferedImage(
      16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val quad = Array(40, 200, 120, 80)
    for (y <- 0 until 16; x <- 0 until 16) {
      val v = quad((y / 8) * 2 + (x / 8))
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bytes = AviCodec.encodeMjpg(Seq(img), rate = 10)
    val (vids, chunks) = AviCodec.videoFrames(8L, bytes)
    val dec = AviCodec.decodeFrame(8L, bytes, chunks.head._1,
      chunks.head._2, vids)
    for (y <- 0 until 16; x <- 0 until 16)
      assert((dec.getRGB(x, y) & 0xff) === quad((y / 8) * 2 + (x / 8)),
        s"pixel ($x,$y)")
    // and the pooled 2x2 grid reads the quadrant values exactly
    assert(Multimodal.ImageIoCodec.lumaGrid(dec, 2).toSeq ===
      quad.toSeq.map(_.toFloat))
  }

  test("MJPG garbage frame chunk fails loudly, not with fake pixels") {
    val good = AviCodec.encodeMjpg(Seq(gray(8, 8, 99)), rate = 10)
    val (vids, chunks) = AviCodec.videoFrames(9L, good)
    val (o, s) = chunks.head
    val corrupt = good.clone()
    corrupt(o) = 0x00 // destroy the JPEG SOI marker
    val e = intercept[IllegalArgumentException] {
      AviCodec.decodeFrame(9L, corrupt, o, s, vids)
    }
    assert(e.getMessage.contains("9"))
  }

  test("lumaGrid over decoded AVI frames matches the written gray values") {
    val vals = Seq(30, 60, 90, 120)
    val frames = vals.map(gray(8, 8, _))
    val bytes = AviCodec.encode(frames, rate = 10)
    val (vids, chunks) = AviCodec.videoFrames(6L, bytes)
    val lumas = chunks.map { case (o, s) =>
      Multimodal.ImageIoCodec.lumaGrid(
        AviCodec.decodeFrame(6L, bytes, o, s, vids), 1)(0)
    }
    assert(lumas === vals.map(_.toFloat))
  }
}
