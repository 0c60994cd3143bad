package graft.multimodal

/** MPEG transport stream (`.ts`) container codec — self-written demux
  * walker + writer for the broadcast/HLS transport format (public spec:
  * ISO/IEC 13818-1 "Systems"; every HLS segment on the public web is
  * one of these). After AVI (q110), MP4 (q115) and Y4M (q137) this is
  * the fourth container a multimodal ingest meets, and the first
  * MULTIPLEXED one: fixed 188-byte packets interleave many elementary
  * streams, so the walk is a demux, not a single-track seek.
  *
  * What parses for REAL here, with zero codec libraries:
  *  - the packet layer: sync byte, PID, payload_unit_start_indicator,
  *    adaptation-field control + length arithmetic, continuity
  *    counters (the per-PID mod-16 sequence that detects packet loss);
  *  - the PSI layer: PAT (PID 0) → program number + PMT PID, PMT →
  *    PCR PID + per-elementary-stream `stream_type`, both sections
  *    validated against their CRC32/MPEG checksums (poly 0x04C11DB7,
  *    init 0xFFFFFFFF, unreflected — table below).
  *
  *  - the PES layer + payload path: [[muxPayload]] tiles one real PES
  *    packet across 184-byte bodies (final packet padded with
  *    adaptation-field stuffing, the real muxer discipline, §2.4.3.5),
  *    and [[reassemble]]/[[pesUnwrap]] invert it byte-exactly under
  *    strict continuity — the demux side of an HLS/broadcast video
  *    ingest, chained into [[H264Codec]]'s NAL walk by q180.
  *
  * [[parse]]'s stats walk counts elementary-stream payload bytes
  * without decoding them; what stays opaque end-to-end is the slice /
  * raw-data-block ENTROPY payload inside the reassembled elementary
  * stream — the same documented codec seam as [[Multimodal]]'s
  * H.264/AAC sample-decode stubs.
  * Like [[AviCodec]]/[[Mp4Codec]]/[[Y4mCodec]], malformed bytes throw
  * `IllegalArgumentException` naming the doc id (never hang, never
  * return garbage): every adaptation length is bounds-checked, every
  * section length is range-checked before a single byte is read. */
object TsCodec {

  /** Mimes this codec owns ([[Multimodal]] dispatch). */
  val Mimes: Set[String] = Set("video/mp2t")

  val PacketSize = 188
  private val SyncByte = 0x47

  /** Per-elementary-stream demux stats: the packet-layer facts a
    * transport health scan reports (payload bytes = post-adaptation
    * bytes, the PES budget; ccErrors counts mod-16 discontinuities). */
  case class EsStats(pid: Int, streamType: Int, nPackets: Int,
      payloadBytes: Long, nPusi: Int, ccErrors: Int)

  /** One demuxed transport stream: PSI facts + per-PID stats (ES PIDs
    * only, PAT/PMT packets excluded), sorted by pid. */
  case class Demux(programNumber: Int, pmtPid: Int, pcrPid: Int,
      nPackets: Int, streams: IndexedSeq[EsStats])

  /** Elementary-stream spec for [[encode]]: `nPackets` transport
    * packets on `pid` carrying `streamType` (0x1B H.264, 0x0F AAC per
    * the 13818-1 registry), the FIRST packet flagged PUSI and carrying
    * an adaptation field of `firstAdaptLen` bytes (0 = payload-only). */
  case class EsSpec(pid: Int, streamType: Int, nPackets: Int,
      firstAdaptLen: Int)

  // CRC32/MPEG-2 (unreflected, poly 0x04C11DB7, init 0xFFFFFFFF, no
  // final xor) — the checksum every PSI section carries.
  private val CrcTable: Array[Int] = {
    val t = new Array[Int](256)
    var i = 0
    while (i < 256) {
      var c = i << 24
      var k = 0
      while (k < 8) {
        c = if ((c & 0x80000000) != 0) (c << 1) ^ 0x04c11db7 else c << 1
        k += 1
      }
      t(i) = c
      i += 1
    }
    t
  }

  def crc32Mpeg(bytes: Array[Byte], from: Int, len: Int): Int = {
    var crc = 0xffffffff
    var i = from
    val end = from + len
    while (i < end) {
      crc = (crc << 8) ^ CrcTable(((crc >>> 24) ^ (bytes(i) & 0xff)) & 0xff)
      i += 1
    }
    crc
  }

  // ------------------------------------------------------------- writer

  /** PSI section bytes (table header through CRC), wrapped into one
    * packet: pointer_field 0x00, section, 0xFF stuffing. */
  private def psiPacket(pid: Int, section: Array[Byte]): Array[Byte] = {
    val p = new Array[Byte](PacketSize)
    java.util.Arrays.fill(p, 0xff.toByte)
    p(0) = SyncByte.toByte
    p(1) = (0x40 | (pid >> 8)).toByte // PUSI set
    p(2) = (pid & 0xff).toByte
    p(3) = 0x10 // payload only, CC 0
    p(4) = 0 // pointer_field
    require(5 + section.length <= PacketSize,
      s"PSI section for PID $pid does not fit one packet")
    System.arraycopy(section, 0, p, 5, section.length)
    p
  }

  private def section(tableId: Int, tableIdExt: Int,
      data: Array[Byte]): Array[Byte] = {
    // section_length counts from right after its own field to the end
    // of the CRC: 5 fixed header bytes + data + 4 CRC.
    val secLen = 5 + data.length + 4
    val s = new Array[Byte](3 + secLen)
    s(0) = tableId.toByte
    s(1) = (0xb0 | (secLen >> 8)).toByte // syntax=1, reserved bits set
    s(2) = (secLen & 0xff).toByte
    s(3) = (tableIdExt >> 8).toByte
    s(4) = (tableIdExt & 0xff).toByte
    s(5) = 0xc1.toByte // version 0, current_next=1
    s(6) = 0 // section_number
    s(7) = 0 // last_section_number
    System.arraycopy(data, 0, s, 8, data.length)
    val crc = crc32Mpeg(s, 0, 8 + data.length)
    s(8 + data.length) = (crc >>> 24).toByte
    s(9 + data.length) = ((crc >> 16) & 0xff).toByte
    s(10 + data.length) = ((crc >> 8) & 0xff).toByte
    s(11 + data.length) = (crc & 0xff).toByte
    s
  }

  /** PAT packet: one program → PMT PID. */
  private def patPacket(programNumber: Int, pmtPid: Int): Array[Byte] =
    psiPacket(0, section(0x00, 1, Array(
      (programNumber >> 8).toByte, (programNumber & 0xff).toByte,
      (0xe0 | (pmtPid >> 8)).toByte, (pmtPid & 0xff).toByte)))

  /** PMT packet: PCR PID, empty program_info, one loop entry per
    * (pid, streamType). */
  private def pmtPacket(programNumber: Int, pmtPid: Int, pcrPid: Int,
      streams: Seq[(Int, Int)]): Array[Byte] = {
    val pmtData = new java.io.ByteArrayOutputStream()
    pmtData.write(0xe0 | (pcrPid >> 8)); pmtData.write(pcrPid & 0xff)
    pmtData.write(0xf0); pmtData.write(0) // program_info_length 0
    streams.foreach { case (pid, st) =>
      pmtData.write(st)
      pmtData.write(0xe0 | (pid >> 8)); pmtData.write(pid & 0xff)
      pmtData.write(0xf0); pmtData.write(0) // ES_info_length 0
    }
    psiPacket(pmtPid, section(0x02, programNumber, pmtData.toByteArray))
  }

  /** Write one single-program transport stream: a PAT packet (PID 0),
    * a PMT packet, then each stream's packets in spec order with
    * continuity counters 0,1,2,… mod 16. Payload fill bytes are a
    * deterministic per-PID counter pattern (they are PES budget, not
    * parsed content — the documented codec seam). */
  def encode(programNumber: Int, pmtPid: Int, pcrPid: Int,
      streams: Seq[EsSpec]): Array[Byte] = {
    require(streams.nonEmpty, "TS needs at least one elementary stream")
    require(pmtPid >= 0x0010 && pmtPid <= 0x1ffe, s"bad PMT PID $pmtPid")
    streams.foreach { s =>
      require(s.pid >= 0x0020 && s.pid <= 0x1ffe && s.pid != pmtPid,
        s"bad ES PID ${s.pid}")
      require(s.nPackets >= 1, s"ES ${s.pid}: needs >= 1 packet")
      require(s.firstAdaptLen >= 0 && s.firstAdaptLen <= 182,
        s"ES ${s.pid}: adaptation length ${s.firstAdaptLen} out of range")
    }
    val out = new java.io.ByteArrayOutputStream(
      PacketSize * (2 + streams.map(_.nPackets).sum))
    out.write(patPacket(programNumber, pmtPid))
    out.write(pmtPacket(programNumber, pmtPid, pcrPid,
      streams.map(s => (s.pid, s.streamType))))

    // Elementary-stream packets.
    streams.foreach { s =>
      var j = 0
      while (j < s.nPackets) {
        val p = new Array[Byte](PacketSize)
        p(0) = SyncByte.toByte
        p(1) = (((if (j == 0) 0x40 else 0x00)) | (s.pid >> 8)).toByte
        p(2) = (s.pid & 0xff).toByte
        val adapt = if (j == 0) s.firstAdaptLen else 0
        val afc = if (adapt > 0) 0x3 else 0x1
        p(3) = ((afc << 4) | (j % 16)).toByte
        var body = 4
        if (adapt > 0) {
          p(4) = adapt.toByte
          // flags byte (PCR_flag if the 6-byte PCR fits) + stuffing.
          p(5) = (if (adapt >= 7) 0x10 else 0x00).toByte
          java.util.Arrays.fill(p, 6, 5 + adapt, 0xff.toByte)
          body = 5 + adapt
        }
        var b = body
        while (b < PacketSize) { // deterministic PES-budget fill
          p(b) = ((s.pid + j + b) & 0xff).toByte
          b += 1
        }
        out.write(p)
        j += 1
      }
    }
    out.toByteArray
  }

  // ----------------------------------------------- PES + real-payload mux

  val PesHeaderBytes = 9

  /** Wrap an elementary stream in one PES packet (§2.4.3.6-7): start
    * code prefix, stream_id, PES_packet_length 0 (the unbounded form
    * every broadcast video PES uses — video frames routinely exceed
    * the 16-bit length field), the '10' marker byte, no optional
    * fields. */
  def pesWrap(streamId: Int, es: Array[Byte]): Array[Byte] = {
    require(streamId >= 0xc0 && streamId <= 0xef,
      s"stream_id 0x${streamId.toHexString} outside the audio/video range")
    require(es.nonEmpty, "empty elementary stream")
    val out = new Array[Byte](PesHeaderBytes + es.length)
    out(2) = 1 // 00 00 01 start code prefix
    out(3) = streamId.toByte
    // bytes 4-5: PES_packet_length 0 = unbounded
    out(6) = 0x80.toByte // '10' marker, nothing scrambled/prioritized
    // byte 7: no PTS/DTS/ESCR/rate/... flags; byte 8: header_data_length 0
    System.arraycopy(es, 0, out, PesHeaderBytes, es.length)
    out
  }

  /** [[pesWrap]] with a presentation timestamp: the PTS_DTS_flags '10'
    * form, the 33-bit 90 kHz clock packed across 5 bytes with the
    * spec's marker bits ('0010' + pts[32:30] + 1 + pts[29:15] + 1 +
    * pts[14:0] + 1, §2.4.3.7) — what real HLS segments carry so
    * players can align audio and video. [[pesUnwrap]] skips it via
    * PES_header_data_length; [[pesPts]] recovers it. */
  def pesWrapPts(streamId: Int, pts90kHz: Long, es: Array[Byte]): Array[Byte] = {
    require(pts90kHz >= 0 && pts90kHz < (1L << 33),
      s"PTS $pts90kHz outside the 33-bit clock")
    val base = pesWrap(streamId, es)
    val out = new Array[Byte](base.length + 5)
    System.arraycopy(base, 0, out, 0, PesHeaderBytes)
    out(7) = 0x80.toByte // PTS_DTS_flags = '10'
    out(8) = 5 // PES_header_data_length
    val p = pts90kHz
    out(9) = (0x21 | (((p >> 30) & 0x7) << 1)).toByte // '0010' pts32_30 1
    out(10) = ((p >> 22) & 0xff).toByte // pts29_22
    out(11) = (0x01 | (((p >> 15) & 0x7f) << 1)).toByte // pts21_15 1
    out(12) = ((p >> 7) & 0xff).toByte // pts14_7
    out(13) = (0x01 | ((p & 0x7f) << 1)).toByte // pts6_0 1
    System.arraycopy(base, PesHeaderBytes, out, PesHeaderBytes + 5,
      base.length - PesHeaderBytes)
    out
  }

  /** The PTS of one PES packet, or None when PTS_DTS_flags signal none.
    * Marker bits and the '0010'/'0011' prefix are validated — a PES
    * whose flags promise a PTS but whose marker bits are wrong fails
    * loudly (clock corruption must not parse as a valid timestamp). */
  def pesPts(docId: Long, pes: Array[Byte]): Option[Long] = {
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"doc $docId: $msg")
    if (pes.length < PesHeaderBytes) fail("PES shorter than its header")
    val flags = (pes(7) >> 6) & 0x3
    if (flags == 0) return None
    if (flags == 1) fail("PTS_DTS_flags '01' is forbidden (§2.4.3.7)")
    if (pes.length < PesHeaderBytes + 5 || (pes(8) & 0xff) < 5)
      fail("PES promises a PTS but its optional header cannot hold one")
    val prefix = (pes(9) >> 4) & 0xf
    if (prefix != (if (flags == 3) 0x3 else 0x2))
      fail(s"PTS prefix nibble 0x${prefix.toHexString} does not match " +
        "PTS_DTS_flags")
    if ((pes(9) & 1) != 1 || (pes(11) & 1) != 1 || (pes(13) & 1) != 1)
      fail("PTS marker bits corrupt")
    Some((((pes(9).toLong >> 1) & 0x7) << 30) |
      ((pes(10).toLong & 0xff) << 22) |
      (((pes(11).toLong >> 1) & 0x7f) << 15) |
      ((pes(12).toLong & 0xff) << 7) |
      ((pes(13).toLong >> 1) & 0x7f))
  }

  /** Validate + strip one PES header, returning the elementary stream.
    * Bounded-length PES (nonzero PES_packet_length) must match the
    * buffer exactly; optional header fields are skipped via
    * PES_header_data_length (parsed, not assumed zero). */
  def pesUnwrap(docId: Long, pes: Array[Byte]): Array[Byte] = {
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"doc $docId: $msg")
    if (pes.length < PesHeaderBytes) fail("PES shorter than its header")
    if (pes(0) != 0 || pes(1) != 0 || pes(2) != 1)
      fail("bad PES start code prefix")
    val sid = pes(3) & 0xff
    if (sid < 0xc0 || sid > 0xef)
      fail(s"PES stream_id 0x${sid.toHexString} outside audio/video range")
    val plen = ByteFields.getBe16(pes, 4)
    if (plen != 0 && plen != pes.length - 6)
      fail(s"bounded PES length $plen does not match payload ${pes.length - 6}")
    if ((pes(6) & 0xc0) != 0x80) fail("PES marker bits are not '10'")
    val hdl = pes(8) & 0xff
    if (PesHeaderBytes + hdl > pes.length)
      fail("PES optional-header length overruns the packet")
    java.util.Arrays.copyOfRange(pes, PesHeaderBytes + hdl, pes.length)
  }

  /** Mux ONE real payload (normally a PES packet) onto `pid`: PAT +
    * PMT, then the payload tiled across 184-byte packet bodies with
    * continuity counters 0,1,2,… — the final partial packet padded the
    * way real muxers pad, with adaptation-field stuffing (§2.4.3.5),
    * so the demuxed payload-byte count is EXACT, not rounded up. The
    * first packet carries PUSI; [[reassemble]] + [[pesUnwrap]] invert
    * this losslessly. */
  def muxPayload(programNumber: Int, pmtPid: Int, pcrPid: Int, pid: Int,
      streamType: Int, payload: Array[Byte]): Array[Byte] = {
    require(pmtPid >= 0x0010 && pmtPid <= 0x1ffe, s"bad PMT PID $pmtPid")
    require(pid >= 0x0020 && pid <= 0x1ffe && pid != pmtPid,
      s"bad ES PID $pid")
    require(payload.nonEmpty, "nothing to mux")
    val nEs = (payload.length + 183) / 184
    val out = new java.io.ByteArrayOutputStream(PacketSize * (2 + nEs))
    out.write(patPacket(programNumber, pmtPid))
    out.write(pmtPacket(programNumber, pmtPid, pcrPid,
      Seq((pid, streamType))))
    var off = 0
    var cc = 0
    while (off < payload.length) {
      val remaining = payload.length - off
      val p = new Array[Byte](PacketSize)
      p(0) = SyncByte.toByte
      p(1) = ((if (off == 0) 0x40 else 0x00) | (pid >> 8)).toByte
      p(2) = (pid & 0xff).toByte
      val take = if (remaining >= 184) {
        p(3) = (0x10 | cc).toByte // payload only
        System.arraycopy(payload, off, p, 4, 184)
        184
      } else {
        // adaptation-field stuffing fills the gap: length byte, flags
        // 0x00, then 0xFF stuffing — the payload keeps its exact size.
        val aLen = 183 - remaining
        p(3) = (0x30 | cc).toByte
        p(4) = aLen.toByte
        if (aLen >= 1) {
          p(5) = 0 // adaptation flags: nothing signalled
          java.util.Arrays.fill(p, 6, 5 + aLen, 0xff.toByte)
        }
        System.arraycopy(payload, off, p, 5 + aLen, remaining)
        remaining
      }
      off += take
      cc = (cc + 1) & 0xf
      out.write(p)
    }
    out.toByteArray
  }

  /** Reassemble `pid`'s payload bytes from a transport stream: filter
    * to the PID, enforce strict continuity (a dropped packet fails the
    * chain loudly — silently concatenating around a gap would corrupt
    * the elementary stream), strip adaptation fields, concatenate.
    * Single-PES scope: the first payload packet must carry PUSI and no
    * later one may. */
  def reassemble(docId: Long, bytes: Array[Byte], pid: Int): Array[Byte] = {
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"doc $docId: $msg")
    if (bytes.length == 0 || bytes.length % PacketSize != 0)
      fail(s"TS length ${bytes.length} is not a multiple of 188")
    val out = new java.io.ByteArrayOutputStream()
    var lastCc = -1
    var sawFirst = false
    var k = 0
    val n = bytes.length / PacketSize
    while (k < n) {
      val o = k * PacketSize
      if ((bytes(o) & 0xff) != SyncByte)
        fail(s"packet $k missing 0x47 sync byte")
      val p = ((bytes(o + 1) & 0x1f) << 8) | (bytes(o + 2) & 0xff)
      if (p == pid) {
        val pusi = (bytes(o + 1) & 0x40) != 0
        val afc = (bytes(o + 3) >> 4) & 0x3
        val cc = bytes(o + 3) & 0xf
        if (afc == 0) fail(s"packet $k has reserved AFC 00")
        var body = o + 4
        if ((afc & 0x2) != 0) {
          val aLen = bytes(o + 4) & 0xff
          if (aLen > (if (afc == 0x2) 183 else 182))
            fail(s"packet $k adaptation length $aLen out of range")
          body = o + 5 + aLen
        }
        if ((afc & 0x1) != 0) {
          if (lastCc >= 0 && ((lastCc + 1) & 0xf) != cc)
            fail(s"continuity break on PID $pid at packet $k — " +
              "refusing to reassemble around lost packets")
          lastCc = cc
          if (!sawFirst) {
            if (!pusi) fail(s"PID $pid payload starts without PUSI")
            sawFirst = true
          } else if (pusi)
            fail(s"second PUSI on PID $pid at packet $k — multi-PES " +
              "payloads are out of this reassembler's scope")
          out.write(bytes, body, o + PacketSize - body)
        }
      }
      k += 1
    }
    if (!sawFirst) fail(s"no payload packets for PID $pid")
    out.toByteArray
  }

  // ------------------------------------------------------------- walker

  /** Demux the packet layer + PSI of one transport stream. One pass,
    * O(nPackets); ES payload bytes are never read (only counted). */
  def parse(docId: Long, bytes: Array[Byte]): Demux = {
    require(bytes.length > 0 && bytes.length % PacketSize == 0,
      s"doc $docId: TS length ${bytes.length} is not a multiple of 188")
    val n = bytes.length / PacketSize
    var programNumber = -1
    var pmtPid = -1
    var pcrPid = -1
    val streamType = scala.collection.mutable.Map[Int, Int]()
    case class Acc(var nPackets: Int = 0, var payloadBytes: Long = 0L,
      var nPusi: Int = 0, var ccErrors: Int = 0, var lastCc: Int = -1)
    val acc = scala.collection.mutable.LinkedHashMap[Int, Acc]()

    var k = 0
    while (k < n) {
      val o = k * PacketSize
      require((bytes(o) & 0xff) == SyncByte,
        s"doc $docId: packet $k missing 0x47 sync byte")
      val pid = ((bytes(o + 1) & 0x1f) << 8) | (bytes(o + 2) & 0xff)
      val pusi = (bytes(o + 1) & 0x40) != 0
      val afc = (bytes(o + 3) >> 4) & 0x3
      val cc = bytes(o + 3) & 0xf
      require(afc != 0, s"doc $docId: packet $k has reserved AFC 00")
      var body = o + 4
      if ((afc & 0x2) != 0) { // adaptation field present
        val aLen = bytes(o + 4) & 0xff
        val maxLen = if (afc == 0x2) 183 else 182
        require(aLen <= maxLen,
          s"doc $docId: packet $k adaptation length $aLen exceeds $maxLen")
        if (afc == 0x2) require(aLen == 183,
          s"doc $docId: packet $k adaptation-only but length $aLen != 183")
        body = o + 5 + aLen
      }
      val payloadLen = if ((afc & 0x1) != 0) o + PacketSize - body else 0

      if (pid == 0) { // ---- PAT
        require(pusi, s"doc $docId: multi-packet PAT unsupported here")
        val sec = sectionAt(docId, k, bytes, body, expectTableId = 0x00)
        // EXACTLY one 4-byte program entry after the 8-byte section
        // header: a multi-program PAT is out of this codec family's
        // scope and must fail loudly (a silently-ignored second program
        // would leave its PMT PID misclassified as an un-PMT'd ES PID)
        require(sec.dataLen >= 4,
          s"doc $docId: PAT carries no program entry")
        require(sec.dataLen == 4,
          s"doc $docId: multi-program PAT (${sec.dataLen / 4} entries) — " +
            "single-program TS only; out of scope")
        programNumber = ByteFields.getBe16(bytes, sec.data)
        pmtPid = ((bytes(sec.data + 2) & 0x1f) << 8) |
          (bytes(sec.data + 3) & 0xff)
      } else if (pid == pmtPid) { // ---- PMT
        require(pusi, s"doc $docId: multi-packet PMT unsupported here")
        val sec = sectionAt(docId, k, bytes, body, expectTableId = 0x02)
        require(sec.dataLen >= 4, s"doc $docId: PMT too short")
        pcrPid = ((bytes(sec.data) & 0x1f) << 8) | (bytes(sec.data + 1) & 0xff)
        val piLen = ((bytes(sec.data + 2) & 0x0f) << 8) |
          (bytes(sec.data + 3) & 0xff)
        var e = sec.data + 4 + piLen
        val end = sec.data + sec.dataLen
        require(e <= end, s"doc $docId: PMT program_info overruns section")
        while (e < end) {
          require(e + 5 <= end,
            s"doc $docId: PMT stream loop entry overruns section")
          val st = bytes(e) & 0xff
          val esPid = ((bytes(e + 1) & 0x1f) << 8) | (bytes(e + 2) & 0xff)
          val esLen = ((bytes(e + 3) & 0x0f) << 8) | (bytes(e + 4) & 0xff)
          streamType(esPid) = st
          e += 5 + esLen
        }
        require(e == end, s"doc $docId: PMT stream loop misaligned")
      } else if (pid != 0x1fff) { // ---- elementary stream (skip null pkts)
        val a = acc.getOrElseUpdate(pid, Acc())
        a.nPackets += 1
        a.payloadBytes += payloadLen
        if (pusi) a.nPusi += 1
        if (payloadLen > 0) { // CC increments only on payload packets
          if (a.lastCc >= 0 && ((a.lastCc + 1) & 0xf) != cc) a.ccErrors += 1
          a.lastCc = cc
        }
      }
      k += 1
    }
    require(programNumber >= 0, s"doc $docId: TS has no PAT")
    require(pcrPid >= 0, s"doc $docId: TS has no PMT")
    acc.keys.foreach { pid =>
      require(streamType.contains(pid),
        s"doc $docId: PID $pid carries payload but is not in the PMT")
    }
    Demux(programNumber, pmtPid, pcrPid, n,
      acc.toIndexedSeq.map { case (pid, a) =>
        EsStats(pid, streamType(pid), a.nPackets, a.payloadBytes,
          a.nPusi, a.ccErrors)
      }.sortBy(_.pid))
  }

  private case class Section(data: Int, dataLen: Int)

  /** Validate one PSI section at `body` (pointer_field first) — table
    * id, length bounds, and the trailing CRC32/MPEG — and return the
    * post-header data window. */
  private def sectionAt(docId: Long, pkt: Int, bytes: Array[Byte],
      body: Int, expectTableId: Int): Section = {
    val lim = (body / PacketSize + 1) * PacketSize
    require(body + 1 <= lim, s"doc $docId: packet $pkt PSI pointer overruns")
    val ptr = bytes(body) & 0xff
    val s = body + 1 + ptr
    require(s + 3 <= lim, s"doc $docId: packet $pkt PSI header overruns")
    val tableId = bytes(s) & 0xff
    require(tableId == expectTableId,
      s"doc $docId: packet $pkt expected table 0x%02x, got 0x%02x"
        .format(expectTableId, tableId))
    val secLen = ((bytes(s + 1) & 0x0f) << 8) | (bytes(s + 2) & 0xff)
    require(s + 3 + secLen <= lim,
      s"doc $docId: packet $pkt PSI section overruns its packet")
    require(secLen >= 9, s"doc $docId: packet $pkt PSI section too short")
    val crcAt = s + 3 + secLen - 4
    val want = ((bytes(crcAt) & 0xff) << 24) | ((bytes(crcAt + 1) & 0xff) << 16) |
      ((bytes(crcAt + 2) & 0xff) << 8) | (bytes(crcAt + 3) & 0xff)
    val got = crc32Mpeg(bytes, s, 3 + secLen - 4)
    require(got == want,
      s"doc $docId: packet $pkt PSI CRC mismatch (corrupt section)")
    Section(s + 8, secLen - 5 - 4)
  }
}
