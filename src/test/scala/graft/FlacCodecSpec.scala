package graft

import graft.multimodal.{FlacCodec, Multimodal}

class FlacCodecSpec extends SparkSpecBase {

  test("roundtrip: packed STREAMINFO bitfields survive encode/parse") {
    // 44.1 kHz stereo 24-bit with a total-sample count that exercises
    // the 36-bit straddle (> 2^32).
    val total = (1L << 33) + 12345L
    val b = FlacCodec.encode(44100, 2, 24, total,
      Seq(1 -> new Array[Byte](10), 4 -> Array[Byte](1, 2, 3)), 100)
    val m = FlacCodec.parse(1L, b)
    assert(m.sampleRate == 44100 && m.channels == 2 && m.bitsPerSample == 24)
    assert(m.totalSamples == total)
    assert(m.minBlock == 4096 && m.maxBlock == 4096)
    assert(m.blockTypes == IndexedSeq(0, 1, 4) && m.frameBytes == 100L)
  }

  test("bitfield corners: 20-bit rate, 8 channels, 32-bit depth, zero frames") {
    val b = FlacCodec.encode((1 << 20) - 1, 8, 32, 0L, Nil, 0)
    val m = FlacCodec.parse(2L, b)
    assert(m.sampleRate == (1 << 20) - 1 && m.channels == 8 &&
      m.bitsPerSample == 32 && m.totalSamples == 0L)
    assert(m.blockTypes == IndexedSeq(0) && m.frameBytes == 0L)
  }

  test("malformed payloads throw with the doc id, never hang") {
    val ok = FlacCodec.encode(8000, 1, 16, 500L, Seq(1 -> new Array[Byte](4)), 8)
    def boom(b: Array[Byte]): String =
      intercept[IllegalArgumentException](FlacCodec.parse(42L, b)).getMessage
    assert(boom("OggS not flac here........................".getBytes)
      .contains("42"))
    // Truncate right after STREAMINFO: the next block header overruns.
    assert(boom(ok.take(44)).contains("overrun"))
    // A block length pointing past the payload throws, not AIOOBE.
    val badLen = ok.clone(); badLen(4 + 34 + 4 + 2) = 0x7f.toByte
    assert(boom(badLen).contains("overrun"))
    // First block must be STREAMINFO.
    val notSi = ok.clone(); notSi(4) = 0x01.toByte // type 1, not last
    assert(boom(notSi).toLowerCase.contains("streaminfo"))
    // Encoder validates field ranges.
    intercept[IllegalArgumentException](FlacCodec.encode(1 << 20, 1, 16, 0, Nil, 0))
    intercept[IllegalArgumentException](FlacCodec.encode(8000, 9, 16, 0, Nil, 0))
    intercept[IllegalArgumentException](FlacCodec.encode(8000, 1, 16, 1L << 36, Nil, 0))
  }

  test("flacMetaBatched dispatches a FLAC payload to one metadata row") {
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRecord(7L,
        FlacCodec.encode(16000, 1, 16, 32000L, Seq(3 -> new Array[Byte](18)), 64),
        "audio/flac")).toDF()
    val rows = Multimodal.flacMetaBatched(media).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.sample_rate == 16000 && r.channels == 1 && r.bits == 16 &&
      r.total_samples == 32000L && r.n_blocks == 2 &&
      r.block_types == "0,3" && r.frame_bytes == 64L)
  }
}
