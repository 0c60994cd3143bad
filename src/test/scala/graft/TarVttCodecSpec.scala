package graft

import graft.multimodal.{Multimodal, TarCodec, VttCodec}

class TarVttCodecSpec extends SparkSpecBase {

  private val members = Seq(
    "00001.txt" -> "hello webdataset".getBytes("US-ASCII"),
    "00001.cls" -> "en".getBytes("US-ASCII"),
    "00002.txt" -> new Array[Byte](513)) // forces 2 data blocks

  test("tar roundtrip: names, sizes, payloads, block arithmetic") {
    val tar = TarCodec.encode(members)
    assert(tar.length % 512 == 0)
    val parsed = TarCodec.parse(1L, tar)
    assert(parsed.map(_.name) == Seq("00001.txt", "00001.cls", "00002.txt"))
    assert(parsed.map(_.size) == Seq(16, 2, 513))
    assert(new String(parsed.head.data, "US-ASCII") == "hello webdataset")
  }

  test("tar accepts an exactly-100-byte name (non-NUL-terminated ustar " +
    "field) and rejects 101") {
    val name100 = "d/" * 48 + "f.gz" // 100 ASCII bytes
    assert(name100.getBytes("US-ASCII").length == 100)
    val parsed = TarCodec.parse(7L,
      TarCodec.encode(Seq(name100 -> "x".getBytes("US-ASCII"))))
    assert(parsed.map(_.name) == Seq(name100))
    intercept[IllegalArgumentException](
      TarCodec.encode(Seq((name100 + "z") -> Array[Byte](1))))
  }

  test("tar malformed bytes throw with the doc id, never hang") {
    val tar = TarCodec.encode(members)
    def boom(b: Array[Byte]): String =
      intercept[IllegalArgumentException](TarCodec.parse(42L, b)).getMessage
    assert(boom(tar.dropRight(512)).contains("42")) // one zero block only
    assert(boom(tar.dropRight(3 * 512)).contains("42")) // no end marker
    val badSum = tar.clone(); badSum(0) = 'X'.toByte // name changes, sum stale
    assert(boom(badSum).contains("checksum"))
    val badOct = tar.clone(); badOct(124) = 'A'.toByte
    assert(boom(badOct).contains("octal"))
    val badMagic = tar.clone(); badMagic(257) = 'q'.toByte
    // the blanked magic also breaks the checksum; either failure is loud
    assert(boom(badMagic).contains("42"))
  }

  test("vtt roundtrip: ids, timestamps, multi-line text, short form") {
    val cues = Seq(
      VttCodec.Cue(1, 500L, 2500L, "first"),
      VttCodec.Cue(2, 3_720_125L, 3_725_000L, "line a\nline b"))
    val parsed = VttCodec.parse(1L, VttCodec.encode(cues))
    assert(parsed == cues.toIndexedSeq)
    // identifier-less blocks and MM:SS.mmm short form both parse
    val bare = "WEBVTT\n\n01:02.000 --> 01:03.500\nshort form\n"
    val p2 = VttCodec.parse(2L, bare)
    assert(p2.head.startMs == 62000L && p2.head.endMs == 63500L &&
      p2.head.idx == 1 && p2.head.text == "short form")
  }

  test("vtt malformed input throws with the doc id") {
    def boom(s: String): String =
      intercept[IllegalArgumentException](VttCodec.parse(42L, s)).getMessage
    assert(boom("NOTVTT\n").contains("magic"))
    assert(boom("WEBVTT\n\n00:00:02.000 --> 00:00:01.000\nx\n")
      .contains("reversed"))
    assert(boom("WEBVTT\n\n1\n00:00:61.000 --> 00:01:02.000\nx\n")
      .contains("42"))
    assert(boom("WEBVTT\n\n00:00:01.000 --> 00:00:02.000\n\n").contains("42"))
  }

  test("batched consumers dispatch and split the WebDataset convention") {
    import spark.implicits._
    val tarMedia = Seq(Multimodal.MediaRecord(3L,
      TarCodec.encode(members), "application/x-tar")).toDF()
    val rows = Multimodal.webdatasetMembersBatched(tarMedia)
      .collect().sortBy(r => (r.sample_key, r.field))
    assert(rows.map(r => (r.sample_key, r.field)).toSeq ==
      Seq(("00001", "cls"), ("00001", "txt"), ("00002", "txt")))
    val vttMedia = Seq(Multimodal.MediaRecord(4L,
      VttCodec.encode(Seq(VttCodec.Cue(1, 0L, 1000L, "t"))).getBytes("UTF-8"),
      "text/vtt")).toDF()
    val cues = Multimodal.vttCuesBatched(vttMedia).collect()
    assert(cues.length == 1 && cues.head.end_ms == 1000L)
  }
}
