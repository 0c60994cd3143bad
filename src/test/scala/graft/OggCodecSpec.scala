package graft

import graft.multimodal.{Multimodal, OggCodec}

class OggCodecSpec extends SparkSpecBase {

  private val pages = Seq(
    OggCodec.PageSpec(Seq(100, 50), granule = 1920L),
    OggCodec.PageSpec(Seq(70), granule = 2880L),
    OggCodec.PageSpec(Seq(30, 40, 60), granule = 5760L))

  test("roundtrip: pages, packets, payload bytes, granules, flags") {
    val m = OggCodec.parse(1L, OggCodec.encode(serial = 77, pages))
    assert(m.serial == 77 && m.nPages == 3 && m.nPackets == 6)
    assert(m.payloadBytes == 100 + 50 + 70 + 30 + 40 + 60)
    assert(m.lastGranule == 5760L && m.bosOk && m.eosOk)
  }

  test("malformed bytes throw with the doc id, never hang") {
    val ok = OggCodec.encode(5, pages)
    def boom(b: Array[Byte]): String =
      intercept[IllegalArgumentException](OggCodec.parse(42L, b)).getMessage
    assert(boom(ok.dropRight(9)).contains("42")) // truncated last page
    val badMagic = ok.clone(); badMagic(0) = 'X'.toByte
    assert(boom(badMagic).contains("OggS"))
    // flipping a payload byte fails that page's CRC
    val badCrc = ok.clone(); badCrc(30) = (badCrc(30) ^ 0x1).toByte
    assert(boom(badCrc).contains("CRC"))
    // splicing out page 1 breaks the sequence continuity
    val p0Len = 27 + 2 + 150
    val p1Len = 27 + 1 + 70
    val gap = ok.take(p0Len) ++ ok.drop(p0Len + p1Len)
    assert(boom(gap).contains("sequence"))
    // a lone non-BOS stream is rejected
    val noBos = ok.drop(p0Len)
    assert(boom(noBos).contains("42"))
    // encoder validates its own ranges
    intercept[IllegalArgumentException](
      OggCodec.encode(1, Seq(OggCodec.PageSpec(Seq(300), 0L))))
    // ... including the 255-segment page limit (nSeg.toByte would
    // otherwise silently truncate into a self-inconsistent page)
    val over = intercept[IllegalArgumentException](
      OggCodec.encode(1, Seq(OggCodec.PageSpec(Seq.fill(256)(10), 0L))))
    assert(over.getMessage.contains("255"))
    // 255 segments exactly is legal and roundtrips
    val full = OggCodec.parse(9L,
      OggCodec.encode(3, Seq(OggCodec.PageSpec(Seq.fill(255)(7), 0L))))
    assert(full.nPackets == 255 && full.payloadBytes == 255 * 7)
  }

  test("oggMetaBatched dispatches an Ogg payload to one stream row") {
    import spark.implicits._
    val media = Seq(Multimodal.MediaRecord(3L,
      OggCodec.encode(9, pages), "audio/ogg")).toDF()
    val rows = Multimodal.oggMetaBatched(media).collect()
    assert(rows.length == 1 && rows.head.n_packets == 6 &&
      rows.head.last_granule == 5760L)
  }
}
