package graft

import graft.multimodal.{Mp3Codec, Multimodal}

class Mp3CodecSpec extends SparkSpecBase {

  test("roundtrip: ID3 text facts and frame-walk arithmetic") {
    val mp3 = Mp3Codec.encode("My Title", "An Artist",
      bitrateIdx = 9, sampleRateIdx = 0, nFrames = 5, mono = false)
    val m = Mp3Codec.parse(3L, mp3)
    assert(m.title == "My Title" && m.artist == "An Artist")
    assert(m.tagBytes == 10 + (11 + 8) + (11 + 9))
    assert(m.bitrateKbps == 128 && m.sampleRate == 44100 && m.channels == 2)
    // base frame = 144*128000/44100 = 417; frames 1 and 3 padded
    assert(m.nFrames == 5 && m.audioBytes == 5L * 417 + 2)
    assert(m.durationMs == 5L * 1152 * 1000 / 44100)
    assert(m.tagBytes + m.audioBytes == mp3.length)
  }

  test("mono flag and every (bitrate, sampleRate) index roundtrips") {
    for (bi <- 1 to 14; si <- 0 to 2) {
      val m = Mp3Codec.parse(1L,
        Mp3Codec.encode("t", "a", bi, si, nFrames = 3, mono = true))
      assert(m.bitrateKbps == Mp3Codec.BitrateKbps(bi))
      assert(m.sampleRate == Mp3Codec.SampleRateHz(si))
      assert(m.channels == 1)
    }
  }

  test("malformed bytes throw with the doc id, never hang") {
    val ok = Mp3Codec.encode("t", "a", 5, 1, 4, mono = false)
    def boom(b: Array[Byte]): String =
      intercept[IllegalArgumentException](Mp3Codec.parse(42L, b)).getMessage
    assert(boom(ok.dropRight(9)).contains("42")) // truncated last frame
    val tag = Mp3Codec.parse(1L, ok).tagBytes
    val badSync = ok.clone(); badSync(tag) = 0x00.toByte
    assert(boom(badSync).contains("sync"))
    // reserved bitrate index 15 throws, free format 0 throws
    val badBr = ok.clone(); badBr(tag + 2) = (0xf0 | (badBr(tag + 2) & 0x0f)).toByte
    assert(boom(badBr).contains("bitrate"))
    // a mid-stream table-index change is VBR: loud, not guessed
    val f1 = Mp3Codec.encode("t", "a", 5, 1, 1, mono = false)
    val f2 = Mp3Codec.encode("", "", 6, 1, 1, mono = false)
    val vbr = f1 ++ f2.drop(Mp3Codec.parse(1L, f2).tagBytes)
    assert(boom(vbr).contains("VBR"))
    // ID3 frame overrunning the tag throws
    val badTag = ok.clone(); badTag(14) = 0x7f.toByte
    assert(boom(badTag).contains("overruns"))
    // encoder validates its own ranges
    intercept[IllegalArgumentException](Mp3Codec.encode("t", "a", 0, 0, 1, true))
    intercept[IllegalArgumentException](Mp3Codec.encode("t", "a", 15, 0, 1, true))
    intercept[IllegalArgumentException](Mp3Codec.encode("t", "a", 5, 3, 1, true))
  }

  test("mp3MetaBatched dispatches an MP3 payload to one metadata row") {
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRecord(7L,
        Mp3Codec.encode("T7", "A7", 3, 2, 6, mono = true), "audio/mpeg")).toDF()
    val rows = Multimodal.mp3MetaBatched(media).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.title == "T7" && r.artist == "A7" && r.n_frames == 6 &&
      r.bitrate_kbps == 48 && r.sample_rate == 32000 && r.channels == 1)
  }
}
