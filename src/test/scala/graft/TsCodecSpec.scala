package graft

import graft.multimodal.{Multimodal, TsCodec}

class TsCodecSpec extends SparkSpecBase {

  private val specs = Seq(
    TsCodec.EsSpec(pid = 256, streamType = 0x1b, nPackets = 4, firstAdaptLen = 7),
    TsCodec.EsSpec(pid = 257, streamType = 0x0f, nPackets = 2, firstAdaptLen = 0))

  test("roundtrip: PSI facts, per-PID stats, and payload arithmetic") {
    val ts = TsCodec.encode(programNumber = 5, pmtPid = 32, pcrPid = 256, specs)
    assert(ts.length == 188 * (2 + 4 + 2)) // PAT + PMT + ES packets
    val d = TsCodec.parse(9L, ts)
    assert(d.programNumber == 5 && d.pmtPid == 32 && d.pcrPid == 256)
    assert(d.nPackets == 8 && d.streams.map(_.pid) == Seq(256, 257))
    val v = d.streams.head
    // first video packet: 4 hdr + 1 adapt-len + 7 adapt = 176 payload
    assert(v.streamType == 0x1b && v.nPackets == 4 &&
      v.payloadBytes == 176L + 3 * 184 && v.nPusi == 1 && v.ccErrors == 0)
    val a = d.streams(1)
    assert(a.streamType == 0x0f && a.nPackets == 2 &&
      a.payloadBytes == 2L * 184 && a.nPusi == 1 && a.ccErrors == 0)
  }

  test("CRC32/MPEG matches the published check value") {
    // Canonical CRC-32/MPEG-2 check: crc("123456789") = 0x0376E6E7.
    val b = "123456789".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    assert(TsCodec.crc32Mpeg(b, 0, b.length) == 0x0376e6e7)
  }

  test("continuity-counter gaps are detected per PID") {
    val ts = TsCodec.encode(1, 32, 256, specs)
    // Drop video packet #2 (packets: PAT, PMT, v0..v3, a0, a1) by
    // splicing it out — the CC sequence 0,1,3 on PID 256 must count one
    // discontinuity; PID 257 stays clean.
    val cut = ts.take(188 * 4) ++ ts.drop(188 * 5)
    val d = TsCodec.parse(4L, cut)
    assert(d.streams.find(_.pid == 256).get.ccErrors == 1)
    assert(d.streams.find(_.pid == 257).get.ccErrors == 0)
  }

  test("malformed packets throw with the doc id, never hang") {
    val ok = TsCodec.encode(2, 32, 256, specs)
    def boom(b: Array[Byte]): String =
      intercept[IllegalArgumentException](TsCodec.parse(42L, b)).getMessage
    assert(boom(ok.dropRight(17)).contains("42")) // not a packet multiple
    val badSync = ok.clone(); badSync(188 * 3) = 0x48.toByte
    assert(boom(badSync).contains("sync"))
    // Corrupt one PAT section byte: the CRC check must catch it.
    val badPat = ok.clone(); badPat(9) = (badPat(9) ^ 0x01).toByte
    assert(boom(badPat).contains("CRC"))
    // An ES PID missing from the PMT is a demux error, not a guess:
    // splice another stream's packets (PID 258) onto a TS whose PMT
    // only declares 256.
    val spliced = TsCodec.encode(2, 32, 256, specs.take(1)) ++
      TsCodec.encode(2, 33, 257, Seq(TsCodec.EsSpec(258, 0x0f, 1, 0)))
        .drop(188 * 2)
    assert(boom(spliced).contains("not in the PMT"))
    // Reserved AFC 00 throws.
    val badAfc = ok.clone(); badAfc(188 * 2 + 3) = 0x00.toByte
    assert(boom(badAfc).contains("AFC"))
    // Adaptation length overrun throws.
    val badAdapt = ok.clone(); badAdapt(188 * 2 + 4) = 0xff.toByte
    assert(boom(badAdapt).contains("adaptation"))
    // Encoder validates its own ranges.
    intercept[IllegalArgumentException](TsCodec.encode(1, 5, 256, specs))
    intercept[IllegalArgumentException](
      TsCodec.encode(1, 32, 256, Seq(TsCodec.EsSpec(256, 0x1b, 0, 0))))
  }

  test("tsDemuxStatsBatched dispatches and emits one row per ES") {
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRecord(3L, TsCodec.encode(6, 33, 300,
        Seq(TsCodec.EsSpec(300, 0x1b, 3, 7),
          TsCodec.EsSpec(301, 0x0f, 2, 0))), "video/mp2t")).toDF()
    val rows = Multimodal.tsDemuxStatsBatched(media)
      .collect().sortBy(_.pid)
    assert(rows.length == 2)
    assert(rows(0).program_number == 6 && rows(0).pmt_pid == 33 &&
      rows(0).pcr_pid == 300 && rows(0).pid == 300 &&
      rows(0).stream_type == 0x1b && rows(0).n_packets == 3 &&
      rows(0).payload_bytes == 176L + 2 * 184 && rows(0).cc_ok)
    assert(rows(1).pid == 301 && rows(1).stream_type == 0x0f &&
      rows(1).payload_bytes == 2L * 184 && rows(1).cc_ok)
  }

  // ------------------------- PES + real-payload mux + reassembly chain

  test("muxPayload/reassemble/pesUnwrap invert losslessly at every " +
      "stuffing boundary") {
    // payload sizes straddling the 184-byte tiling: exact multiple,
    // one short (adaptation length 0 — just the length byte), one long,
    // and a sub-packet payload (heavy stuffing).
    for (size <- Seq(368, 367, 369, 50, 184, 185)) {
      val es = Array.tabulate[Byte](size)(j => ((j % 233) + 11).toByte)
      val ts = TsCodec.muxPayload(7, 0x30, 0x101, 0x101, 0x1b,
        TsCodec.pesWrap(0xe0, es))
      assert(ts.length % 188 == 0)
      val pes = TsCodec.reassemble(1L, ts, 0x101)
      assert(pes.length == TsCodec.PesHeaderBytes + size,
        s"size $size: stuffing leaked into the payload")
      assert(TsCodec.pesUnwrap(1L, pes).toSeq == es.toSeq, s"size $size")
      // and the stats walk agrees with the reassembled byte count
      val d = TsCodec.parse(1L, ts)
      val st = d.streams.find(_.pid == 0x101).get
      assert(st.payloadBytes == pes.length && st.ccErrors == 0 &&
        st.nPusi == 1)
    }
  }

  test("reassemble refuses torn streams and multi-PES payloads") {
    val es = Array.tabulate[Byte](500)(j => ((j % 200) + 20).toByte)
    val ts = TsCodec.muxPayload(7, 0x30, 0x101, 0x101, 0x1b,
      TsCodec.pesWrap(0xe0, es))
    // drop the middle ES packet (PAT, PMT, e0, e1, e2): CC break
    val torn = ts.take(188 * 3) ++ ts.drop(188 * 4)
    val e1 = intercept[IllegalArgumentException](
      TsCodec.reassemble(4L, torn, 0x101))
    assert(e1.getMessage.contains("continuity break"))
    // set PUSI on a mid-stream packet: multi-PES out of scope
    val multi = ts.clone()
    multi(188 * 3 + 1) = (multi(188 * 3 + 1) | 0x40).toByte
    val e2 = intercept[IllegalArgumentException](
      TsCodec.reassemble(4L, multi, 0x101))
    assert(e2.getMessage.contains("second PUSI"))
    // absent PID
    val e3 = intercept[IllegalArgumentException](
      TsCodec.reassemble(4L, ts, 0x102))
    assert(e3.getMessage.contains("no payload packets"))
  }

  test("pesUnwrap validates the header it strips") {
    val es = Array[Byte](1, 2, 3)
    val good = TsCodec.pesWrap(0xe0, es)
    assert(TsCodec.pesUnwrap(2L, good).toSeq == es.toSeq)
    // corrupt start code
    val bad = good.clone(); bad(2) = 9
    assert(intercept[IllegalArgumentException](
      TsCodec.pesUnwrap(2L, bad)).getMessage.contains("start code"))
    // bounded length that disagrees with the buffer
    val bounded = good.clone(); bounded(5) = 99
    assert(intercept[IllegalArgumentException](
      TsCodec.pesUnwrap(2L, bounded)).getMessage.contains("bounded PES"))
    // stream_id outside audio/video
    val sid = good.clone(); sid(3) = 0xbf.toByte
    assert(intercept[IllegalArgumentException](
      TsCodec.pesUnwrap(2L, sid)).getMessage.contains("stream_id"))
  }

  test("PES PTS: 33-bit clock round-trips through mux/reassemble and " +
      "marker corruption fails loudly") {
    val es = Array[Byte](10, 20, 30, 40)
    for (pts <- Seq(0L, 1L, 90000L, 0x123456789L, (1L << 33) - 1)) {
      val pes = TsCodec.pesWrapPts(0xe0, pts, es)
      assert(TsCodec.pesPts(1L, pes).contains(pts), s"pts $pts")
      assert(TsCodec.pesUnwrap(1L, pes).toSeq == es.toSeq, s"pts $pts")
      // survives the transport layer
      val ts = TsCodec.muxPayload(1, 0x30, 0x101, 0x101, 0x1b, pes)
      val back = TsCodec.reassemble(1L, ts, 0x101)
      assert(TsCodec.pesPts(1L, back).contains(pts))
    }
    // a PTS-less PES reports None
    assert(TsCodec.pesPts(1L, TsCodec.pesWrap(0xe0, es)).isEmpty)
    // flip a marker bit: must fail, not mis-decode
    val bad = TsCodec.pesWrapPts(0xe0, 90000L, es)
    bad(11) = (bad(11) & ~1).toByte
    assert(intercept[IllegalArgumentException](
      TsCodec.pesPts(1L, bad)).getMessage.contains("marker"))
    // out-of-range clock refused at write time
    intercept[IllegalArgumentException](
      TsCodec.pesWrapPts(0xe0, 1L << 33, es))
  }

  test("TS→H.264 chain recovers the elementary stream bit-exactly " +
      "and the oracle's SPS size arithmetic matches the writer") {
    import graft.multimodal.H264Codec
    for ((wMbs, hU, prof, log2v) <- Seq((80, 45, 77, 2), (120, 68, 100, 3),
        (1, 1, 66, 0))) {
      val es = H264Codec.encode(wMbs, hU, prof, 40, log2v,
        nFrames = 4, idrEvery = 2, payloadLen = i => 20 + i,
        payloadByte = (i, j) => ((i * 31 + j) % 251) + 4)
      val ts = TsCodec.muxPayload(1, 0x30, 0x101, 0x101, 0x1b,
        TsCodec.pesWrap(0xe0, es))
      val back = TsCodec.pesUnwrap(3L, TsCodec.reassemble(3L, ts, 0x101))
      assert(back.toSeq == es.toSeq)
      val m = H264Codec.parse(3L, back)
      assert(m.width == wMbs * 16 && m.height == hU * 16 &&
        m.profile == prof)
      // q180's closed-form wire-length model (escape-free payloads):
      // es = (5 + spsBytes) + 7 + Σ(startCode + 1 + plen)
      def ueBits(v: Int) = 2 * (32 - Integer.numberOfLeadingZeros(v + 1)) - 1
      val spsBits = 34 + (if (H264Codec.HighProfiles(prof)) 7 else 0) +
        ueBits(log2v) + ueBits(wMbs - 1) + ueBits(hU - 1) + 3
      // ueBits already counts 2·len−1; the formula in q180Sql uses
      // 2·Σlen − 3 + 37 — equivalent: check directly against bytes.
      val spsBytes = (spsBits + 7) / 8
      val slices = (0 until 4).map(i =>
        (if (i % 2 == 0) 4 else 3) + 1 + (20 + i)).sum
      assert(es.length == 5 + spsBytes + 7 + slices,
        s"geom ($wMbs,$hU,$prof,$log2v): SPS size model diverges from " +
          "the writer")
      assert(ts.length == 188 * (2 + (es.length + 9 + 183) / 184))
    }
  }
}
