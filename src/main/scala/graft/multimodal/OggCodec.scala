package graft.multimodal

import ByteFields._

/** Ogg container codec — self-written page walker + writer for the
  * transport every Opus/Vorbis audio file on the open web ships in
  * (public spec: RFC 3533). After MP3/FLAC this is the remaining
  * common audio container a crawl ingest meets; the page layer is what
  * a pipeline scans to count packets, locate granule positions and
  * split work at page boundaries — the codec payload (Opus/Vorbis
  * packets) stays the documented entropy-codec seam, counted never
  * decoded.
  *
  * What parses for REAL with zero dependencies: the `OggS` capture
  * pattern, version byte, header-type flags (BOS/EOS/continued), the
  * 64-bit granule position, serial/sequence numbers, the page CRC
  * (poly 0x04C11DB7, init 0, no final xor — computed with the CRC
  * field zeroed, verified on every page), and the lacing-value segment
  * table that frames packets (a lacing value < 255 terminates a
  * packet). Malformed bytes throw `IllegalArgumentException` naming
  * the doc id — a bad CRC, a broken sequence number or a truncated
  * segment table can never hang the walk or return garbage. */
object OggCodec {

  /** Mimes this codec owns ([[Multimodal]] dispatch). */
  val Mimes: Set[String] = Set("audio/ogg", "application/ogg")

  /** One page's packet-size list for [[encode]]: every size must be
    * < 255 so each packet is a single lacing value (continued packets
    * are out of fixture scope — the parser still counts them right via
    * the lacing rule). */
  case class PageSpec(packetSizes: Seq[Int], granule: Long)

  /** One parsed stream: page/packet accounting plus the framing facts
    * a transport health scan reports. */
  case class OggMeta(serial: Int, nPages: Int, nPackets: Int,
      payloadBytes: Long, lastGranule: Long, bosOk: Boolean, eosOk: Boolean)

  // CRC-32 with the Ogg parameters: unreflected, poly 0x04C11DB7,
  // init 0, no final xor (RFC 3533 appendix A).
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

  def crcOgg(bytes: Array[Byte], from: Int, len: Int): Int = {
    var crc = 0
    var i = from
    val end = from + len
    while (i < end) {
      crc = (crc << 8) ^ CrcTable(((crc >>> 24) ^ (bytes(i) & 0xff)) & 0xff)
      i += 1
    }
    crc
  }

  // ------------------------------------------------------------- writer

  /** Write one logical stream: first page flagged BOS, last EOS,
    * sequence numbers 0,1,2,…; packet payloads are a deterministic
    * counter fill (codec packets are the documented seam). */
  def encode(serial: Int, pages: Seq[PageSpec]): Array[Byte] = {
    require(pages.nonEmpty, "Ogg needs at least one page")
    val out = new java.io.ByteArrayOutputStream()
    pages.zipWithIndex.foreach { case (p, seq) =>
      require(p.packetSizes.nonEmpty && p.packetSizes.forall(s => s > 0 && s < 255),
        s"page $seq: packet sizes must be in (0, 255)")
      // a page's segment table holds at most 255 lacing values; without
      // this, nSeg.toByte below silently truncates and the writer emits
      // a page whose segment table disagrees with its body length
      require(p.packetSizes.length <= 255,
        s"page $seq: ${p.packetSizes.length} packets exceed the 255-" +
          "segment page limit — split across pages")
      val payload = p.packetSizes.map { s =>
        val b = new Array[Byte](s)
        var i = 0
        while (i < s) { b(i) = ((serial + seq + i) & 0xff).toByte; i += 1 }
        b
      }
      val nSeg = p.packetSizes.length
      val page = new Array[Byte](27 + nSeg + p.packetSizes.sum)
      page(0) = 'O'; page(1) = 'g'; page(2) = 'g'; page(3) = 'S'
      page(4) = 0 // version
      page(5) = (((if (seq == 0) 2 else 0)) |
        (if (seq == pages.length - 1) 4 else 0)).toByte
      var g = p.granule
      var i = 0
      while (i < 8) { page(6 + i) = (g & 0xff).toByte; g >>= 8; i += 1 }
      putLe32(page, 14, serial)
      putLe32(page, 18, seq)
      // CRC at 22..25 stays zero for the computation
      page(26) = nSeg.toByte
      i = 0
      while (i < nSeg) { page(27 + i) = p.packetSizes(i).toByte; i += 1 }
      var o = 27 + nSeg
      payload.foreach { b => System.arraycopy(b, 0, page, o, b.length); o += b.length }
      putLe32(page, 22, crcOgg(page, 0, page.length))
      out.write(page)
    }
    out.toByteArray
  }

  // ------------------------------------------------------------- walker

  /** Walk every page: magic, version, CRC (recomputed with the field
    * zeroed), sequence continuity, lacing-framed packet counting.
    * O(pages + segment table); packet payloads are never read. */
  def parse(docId: Long, bytes: Array[Byte]): OggMeta = {
    require(bytes.length >= 27, s"doc $docId: Ogg payload too short")
    var o = 0
    var serial = Int.MinValue
    var nPages = 0; var nPackets = 0; var payloadBytes = 0L
    var lastGranule = 0L
    var bosOk = false; var eosOk = false
    while (o < bytes.length) {
      require(o + 27 <= bytes.length,
        s"doc $docId: truncated Ogg page header at $o")
      require(bytes(o) == 'O' && bytes(o + 1) == 'g' && bytes(o + 2) == 'g' &&
          bytes(o + 3) == 'S',
        s"doc $docId: missing OggS capture pattern at $o")
      require(bytes(o + 4) == 0,
        s"doc $docId: unsupported Ogg version ${bytes(o + 4)} at $o")
      val flags = bytes(o + 5) & 0xff
      var granule = 0L
      var i = 7
      while (i >= 0) { granule = (granule << 8) | (bytes(o + 6 + i) & 0xff); i -= 1 }
      val ser = getLe32(bytes, o + 14)
      val seq = getLe32(bytes, o + 18)
      if (nPages == 0) serial = ser
      else require(ser == serial,
        s"doc $docId: page $seq switches serial (multiplexed streams " +
          "are out of scope here)")
      require(seq == nPages,
        s"doc $docId: page sequence gap (expected $nPages, got $seq)")
      val storedCrc = getLe32(bytes, o + 22)
      val nSeg = bytes(o + 26) & 0xff
      require(o + 27 + nSeg <= bytes.length,
        s"doc $docId: page $seq segment table overruns the file")
      var bodyLen = 0
      i = 0
      while (i < nSeg) { bodyLen += bytes(o + 27 + i) & 0xff; i += 1 }
      val pageLen = 27 + nSeg + bodyLen
      require(o + pageLen <= bytes.length,
        s"doc $docId: page $seq body overruns the file")
      // CRC over the page with its CRC field zeroed
      val tmp = java.util.Arrays.copyOfRange(bytes, o, o + pageLen)
      tmp(22) = 0; tmp(23) = 0; tmp(24) = 0; tmp(25) = 0
      require(crcOgg(tmp, 0, pageLen) == storedCrc,
        s"doc $docId: page $seq CRC mismatch (corrupt page)")
      if ((flags & 0x2) != 0) { require(nPages == 0,
        s"doc $docId: BOS flag on non-first page $seq"); bosOk = true }
      if ((flags & 0x4) != 0) eosOk = true
      // lacing rule (RFC 3533 §6): a value < 255 terminates a packet,
      // 255 continues it — so counting terminators counts COMPLETED
      // packets, correct across page-spanning continuations too
      i = 0
      while (i < nSeg) {
        if ((bytes(o + 27 + i) & 0xff) < 255) nPackets += 1
        i += 1
      }
      payloadBytes += bodyLen
      lastGranule = granule
      nPages += 1
      o += pageLen
    }
    require(bosOk, s"doc $docId: stream has no BOS page")
    require(eosOk, s"doc $docId: stream has no EOS page")
    OggMeta(serial, nPages, nPackets, payloadBytes, lastGranule, bosOk, eosOk)
  }
}
