package graft.multimodal

/** FLAC metadata codec — self-written walker + writer for the FLAC
  * container's metadata layer (public spec: RFC 9639 / xiph.org). A
  * `.flac` file is `fLaC`, a chain of typed metadata blocks (STREAMINFO
  * first, mandatory), then entropy-coded audio frames. The metadata
  * layer parses for REAL with zero codec libraries — STREAMINFO's
  * packed bitfields (20-bit sample rate, 3-bit channels, 5-bit bit
  * depth, 36-bit total samples straddling byte boundaries) are exactly
  * the fields an audio-curation pipeline filters on (sample-rate
  * floors, duration caps, channel layout) BEFORE spending any decode
  * budget. The frame region after the last metadata block is
  * entropy-coded (Rice/LPC) — counted, never decoded: the same
  * documented codec seam as H.264/AAC in [[Multimodal]].
  *
  * Like the other codecs here, malformed bytes throw
  * `IllegalArgumentException` naming the doc id: every block length is
  * bounds-checked in Long arithmetic before any byte is read. */
object FlacCodec {

  /** Mimes this codec owns ([[Multimodal]] dispatch). */
  val Mimes: Set[String] = Set("audio/flac", "audio/x-flac")

  /** STREAMINFO facts + block inventory: `blockTypes` in file order
    * (type 0 STREAMINFO, 1 PADDING, 3 SEEKTABLE, 4 VORBIS_COMMENT, …),
    * `frameBytes` the undecoded audio-frame region length. */
  case class Meta(minBlock: Int, maxBlock: Int, sampleRate: Int,
      channels: Int, bitsPerSample: Int, totalSamples: Long,
      blockTypes: IndexedSeq[Int], frameBytes: Long)

  private val Magic = Array[Byte]('f', 'L', 'a', 'C')

  /** Walk the metadata chain; O(nBlocks) header reads, zero frame
    * reads. */
  def parse(docId: Long, bytes: Array[Byte]): Meta = {
    require(bytes.length >= 4 + 4 + 34 &&
        bytes(0) == Magic(0) && bytes(1) == Magic(1) &&
        bytes(2) == Magic(2) && bytes(3) == Magic(3),
      s"doc $docId: payload is not a FLAC stream")
    var o = 4
    var last = false
    var si: Meta = null
    val types = scala.collection.mutable.ArrayBuffer[Int]()
    while (!last) {
      require(o + 4 <= bytes.length,
        s"doc $docId: FLAC block header at $o overruns the payload")
      val h = bytes(o) & 0xff
      last = (h & 0x80) != 0
      val tpe = h & 0x7f
      require(tpe != 127, s"doc $docId: FLAC block type 127 is invalid")
      val len = ((bytes(o + 1) & 0xff) << 16) | ((bytes(o + 2) & 0xff) << 8) |
        (bytes(o + 3) & 0xff)
      require(o + 4 + len.toLong <= bytes.length,
        s"doc $docId: FLAC block type $tpe overruns the payload")
      if (types.isEmpty)
        require(tpe == 0, s"doc $docId: first FLAC block must be STREAMINFO")
      types += tpe
      if (tpe == 0) {
        require(len == 34,
          s"doc $docId: STREAMINFO must be 34 bytes, got $len")
        val b = o + 4
        // sample rate: 20 bits at byte 10; channels-1: next 3; bps-1:
        // next 5; total samples: next 36 — all straddling bytes.
        val rate = ((bytes(b + 10) & 0xff) << 12) |
          ((bytes(b + 11) & 0xff) << 4) | ((bytes(b + 12) & 0xff) >> 4)
        val ch = ((bytes(b + 12) >> 1) & 0x7) + 1
        val bps = (((bytes(b + 12) & 0x1) << 4) |
          ((bytes(b + 13) & 0xff) >> 4)) + 1
        val total = ((bytes(b + 13) & 0xfL) << 32) |
          ((bytes(b + 14) & 0xffL) << 24) | ((bytes(b + 15) & 0xffL) << 16) |
          ((bytes(b + 16) & 0xffL) << 8) | (bytes(b + 17) & 0xffL)
        require(rate > 0, s"doc $docId: STREAMINFO sample rate is 0")
        si = Meta(ByteFields.getBe16(bytes, b), ByteFields.getBe16(bytes, b + 2),
          rate, ch, bps, total, IndexedSeq.empty, 0L)
      }
      o += 4 + len
    }
    require(si != null, s"doc $docId: FLAC has no STREAMINFO") // unreachable
    si.copy(blockTypes = types.toIndexedSeq,
      frameBytes = (bytes.length - o).toLong)
  }

  /** Write `fLaC` + STREAMINFO + the given extra blocks (type → body)
    * + `frameBytes` of deterministic undecodable frame filler. */
  def encode(sampleRate: Int, channels: Int, bitsPerSample: Int,
      totalSamples: Long, extraBlocks: Seq[(Int, Array[Byte])],
      frameBytes: Int): Array[Byte] = {
    require(sampleRate > 0 && sampleRate < (1 << 20), s"bad rate $sampleRate")
    require(channels >= 1 && channels <= 8, s"bad channels $channels")
    require(bitsPerSample >= 4 && bitsPerSample <= 32, s"bad bps $bitsPerSample")
    require(totalSamples >= 0 && totalSamples < (1L << 36),
      s"bad totalSamples $totalSamples")
    val out = new java.io.ByteArrayOutputStream()
    out.write(Magic, 0, 4)
    val s = new Array[Byte](34)
    s(0) = 0x10; s(1) = 0x00 // min block 4096
    s(2) = 0x10; s(3) = 0x00 // max block 4096
    // min/max frame size: 0 = unknown (bytes 4..9 stay zero)
    s(10) = (sampleRate >> 12).toByte
    s(11) = ((sampleRate >> 4) & 0xff).toByte
    s(12) = (((sampleRate & 0xf) << 4) | ((channels - 1) << 1) |
      ((bitsPerSample - 1) >> 4)).toByte
    s(13) = ((((bitsPerSample - 1) & 0xf) << 4) |
      ((totalSamples >> 32) & 0xf).toInt).toByte
    s(14) = ((totalSamples >> 24) & 0xff).toByte
    s(15) = ((totalSamples >> 16) & 0xff).toByte
    s(16) = ((totalSamples >> 8) & 0xff).toByte
    s(17) = (totalSamples & 0xff).toByte
    // bytes 18..33: md5 of the unencoded audio — zeros (unknown)
    def block(tpe: Int, body: Array[Byte], isLast: Boolean): Unit = {
      require(body.length < (1 << 24), s"block type $tpe too long")
      out.write((if (isLast) 0x80 else 0x00) | tpe)
      out.write((body.length >> 16) & 0xff)
      out.write((body.length >> 8) & 0xff)
      out.write(body.length & 0xff)
      out.write(body, 0, body.length)
    }
    block(0, s, extraBlocks.isEmpty)
    extraBlocks.zipWithIndex.foreach { case ((tpe, body), i) =>
      block(tpe, body, i == extraBlocks.size - 1)
    }
    val frames = new Array[Byte](frameBytes)
    var i = 0
    while (i < frameBytes) { frames(i) = ((i * 31 + 7) & 0xff).toByte; i += 1 }
    out.write(frames, 0, frameBytes)
    out.toByteArray
  }
}
