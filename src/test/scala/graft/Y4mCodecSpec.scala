package graft

import graft.multimodal.{Multimodal, Y4mCodec}

class Y4mCodecSpec extends SparkSpecBase {

  private def gray(w: Int, h: Int, f: (Int, Int) => Int): Array[Byte] = {
    val p = new Array[Byte](w * h)
    for (y <- 0 until h; x <- 0 until w) p(y * w + x) = f(x, y).toByte
    p
  }

  test("mono roundtrip: header facts and exact luma survive encode/parse") {
    val w = 6; val h = 4
    val frames = (0 until 3).map(f => gray(w, h, (x, y) => (f * 50 + y * w + x) % 256))
    val bytes = Y4mCodec.encode(frames, w, h, fpsNum = 30, fpsDen = 1, "Cmono")
    val c = Y4mCodec.parse(7L, bytes)
    assert(c.width == 6 && c.height == 4 && c.fpsNum == 30 && c.fpsDen == 1)
    assert(c.colorspace == "Cmono" && c.nFrames == 3)
    // g = h pooling (cells of 1 row x w/?): use g=2 and verify against a
    // hand-computed mean of the stored plane
    val g = 2
    val grid = Y4mCodec.frameLumaGrid(7L, bytes, c, 1, g)
    for (i <- 0 until g; j <- 0 until g) {
      val (y0, y1) = (i * h / g, (i + 1) * h / g)
      val (x0, x1) = (j * w / g, (j + 1) * w / g)
      val vals = for (y <- y0 until y1; x <- x0 until x1)
        yield frames(1)(y * w + x) & 0xff
      assert(grid(i * g + j) == vals.sum.toFloat / vals.size)
    }
  }

  test("C420 chroma planes are present, validated, and never read") {
    val w = 8; val h = 4
    val luma = gray(w, h, (x, y) => 40 + x + y)
    val fb = Y4mCodec.frameBytes(1L, "C420", w, h)
    assert(fb == w * h + 2 * (w / 2) * (h / 2))
    // junk chroma must not perturb the luma grid
    val plane = java.util.Arrays.copyOf(luma, fb)
    for (i <- w * h until fb) plane(i) = ((i * 37) % 256).toByte
    val bytes = Y4mCodec.encode(Seq(plane), w, h, 25, 1, "C420")
    val c = Y4mCodec.parse(2L, bytes)
    assert(c.colorspace == "C420" && c.nFrames == 1)
    val got = Y4mCodec.frameLumaGrid(2L, bytes, c, 0, 2)
    val mono = Y4mCodec.encode(Seq(luma), w, h, 25, 1, "Cmono")
    val want = Y4mCodec.frameLumaGrid(2L, mono, Y4mCodec.parse(2L, mono), 0, 2)
    assert(got.toSeq == want.toSeq)
  }

  test("luma pooling matches ImageIoCodec.lumaGridWH on the same pixels") {
    val w = 9; val h = 7; val g = 3 // non-divisible dims: floor cell bounds
    val rnd = new scala.util.Random(11)
    val luma = gray(w, h, (_, _) => rnd.nextInt(256))
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val v = luma(y * w + x) & 0xff
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bytes = Y4mCodec.encode(Seq(luma), w, h, 24, 1, "Cmono")
    val got = Y4mCodec.frameLumaGrid(0L, bytes, Y4mCodec.parse(0L, bytes), 0, g)
    val want = Multimodal.ImageIoCodec.lumaGridWH(img, g, g)
    assert(got.toSeq == want.toSeq)
  }

  test("malformed payloads throw with the doc id, never hang") {
    val ok = Y4mCodec.encode(Seq(gray(4, 4, (_, _) => 9)), 4, 4, 10, 1, "Cmono")
    def boom(b: Array[Byte]): String =
      intercept[IllegalArgumentException](Y4mCodec.parse(42L, b)).getMessage
    assert(boom("JUNKJUNKJUNK\n".getBytes).contains("42"))
    assert(boom(ok.dropRight(3)).contains("42"))      // truncated planes
    assert(boom("YUV4MPEG2 W4 H4\nFRAME\n".getBytes).contains("frame rate"))
    assert(boom("YUV4MPEG2 F10:1 C420\nFRAME\n".getBytes).contains("W/H"))
    assert(boom("YUV4MPEG2 W5 H4 F10:1 C420\nFRAME\n".getBytes)
      .contains("even geometry"))
    assert(boom("YUV4MPEG2 W4 H4 F10:1 C999\nFRAME\n".getBytes)
      .contains("colorspace"))
    assert(boom(("YUV4MPEG2 W4 H4 F10:1 Cmono" + " X" * 200).getBytes)
      .contains("unterminated"))
    // header ok but first frame marker is wrong
    val noMarker = ok.clone(); noMarker(ok.indexOf('F'.toByte, 30)) = 'Z'.toByte
    assert(boom(noMarker).toLowerCase.contains("frame"))
    // encode validates plane sizes
    intercept[IllegalArgumentException](
      Y4mCodec.encode(Seq(new Array[Byte](3)), 4, 4, 10, 1, "Cmono"))
  }

  test("videoFrameGridsBatched and decodeVideoStreamsBatched dispatch on y4m") {
    import spark.implicits._
    val luma = gray(4, 4, (_, _) => 77)
    val bytes = Y4mCodec.encode(Seq(luma, luma), 4, 4, 12, 1, "Cmono")
    val media = Seq(Multimodal.MediaRecord(3L, bytes, "video/y4m")).toDF()
    val grids = Multimodal.videoFrameGridsBatched(media, everyN = 1, g = 2)
      .collect().sortBy(_.frame_idx)
    assert(grids.length == 2 && grids.forall(_.grid.forall(_ == 77f)))
    val meta = Multimodal.decodeVideoStreamsBatched(media).collect()
    assert(meta.length == 1)
    val m = meta.head
    assert(m.stream_type == "vids" && m.width == 4 && m.height == 4 &&
      m.length == 2L && m.rate == 12 && m.scale == 1 && m.bits == 8)
  }
}
