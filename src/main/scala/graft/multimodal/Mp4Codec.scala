package graft.multimodal

import ByteFields._

/** REAL metadata codec for MP4 / ISO Base Media File Format — the
  * dominant real-world video container, and the third member of the
  * self-written header-parser family ([[Multimodal.SoundCodec]]'s WAV
  * chunk walk, [[AviCodec]]'s RIFF walk). The ISO BMFF box grammar
  * (ISO/IEC 14496-12) is fully public: a box is a big-endian u32 size +
  * fourcc type (size 1 → u64 largesize follows; size 0 → to end of
  * file), container boxes nest child boxes verbatim, and "full boxes"
  * prefix a version byte + 24-bit flags. That makes per-track METADATA
  * decode — handler kind, codec fourcc, dimensions, timescale,
  * duration, sample count, channels, sample rate — implementable with
  * no library at all, mirroring what production metadata scanners do.
  *
  * SAMPLE decode splits by codec class: intra-frame Motion-JPEG
  * (`jpeg` sample entries) decodes for REAL — the sample table
  * (stsc/stsz/stco) locates each standalone-JPEG sample in `mdat` and
  * the JDK decodes it, the exact MP4 twin of [[AviCodec]]'s MJPG
  * frame chunks. Inter-frame/entropy-coded formats (H.264/AAC) stay
  * out of scope by design — they genuinely need codec libraries
  * ([[Multimodal]] documents the seam). Metadata-only scans never
  * touch `mdat` either way: sample bytes are read only through
  * sample-table ranges when a caller asks for frames.
  *
  * Boxes handled (parser tolerates and skips unknown siblings):
  * {{{
  * ftyp                          — brand (validated present)
  * moov
  *   mvhd                        — movie timescale + duration (v0/v1)
  *   trak
  *     tkhd                      — track id, duration, 16.16 w/h (v0/v1)
  *     mdia
  *       mdhd                    — media timescale + duration (v0/v1)
  *       hdlr                    — handler type: 'vide' | 'soun' | ...
  *       minf > stbl
  *         stsd                  — first entry's codec fourcc + per-kind
  *                                 fields (video u16 w/h; audio u16
  *                                 channels + 16.16 sample rate)
  *         stts                  — sample count = Σ entry counts
  *         stsc / stsz / stco|co64 — the sample table: when all three
  *                                 are present the parser expands them
  *                                 into per-sample (offset, size) byte
  *                                 ranges, which is what real sample
  *                                 EXTRACTION needs — intra-frame
  *                                 codecs (Motion-JPEG's 'jpeg' entry)
  *                                 then decode per range with no codec
  *                                 library at all
  * mdat                          — located; read ONLY through sample-
  *                                 table ranges, never scanned
  * }}}
  *
  * Loud-failure contract matches the codec family: non-BMFF bytes,
  * overrunning boxes, or a moov-less file throw with the doc id rather
  * than fake plausible metadata.
  */
object Mp4Codec {

  // In-memory stream cache for the JDK JPEG codec (see the Multimodal
  // object note). Idempotent.
  javax.imageio.ImageIO.setUseCache(false)

  /** Mimes this codec owns ([[Multimodal.decodeBatched]] dispatch). */
  val Mimes: Set[String] = Set("video/mp4", "audio/mp4", "video/quicktime")

  /** One track's parsed facts. `width`/`height`/`channels`/`sampleRate`
    * are 0 where the handler kind has no such field; `duration` is in
    * the TRACK's `timescale` units (mdhd), `nSamples` the stts total
    * (frame count for video, coded-frame count for audio). `samples`
    * is the stsc×stsz×stco expansion — one absolute (offset, size)
    * byte range per sample, empty when the container ships no sample
    * table (metadata-only fixtures) so metadata scans stay free. */
  case class TrackInfo(trackId: Long, handler: String, codec: String,
      width: Int, height: Int, timescale: Long, duration: Long,
      nSamples: Long, channels: Int, sampleRate: Int,
      samples: Seq[(Long, Long)] = Nil)

  case class Mp4Container(majorBrand: String, movieTimescale: Long,
      movieDuration: Long, tracks: Seq[TrackInfo])

  /** (type, bodyStart, bodyEnd, nextBoxStart) of the box at `o`. */
  private def box(docId: Long, b: Array[Byte], o: Int, end: Int):
      (String, Int, Int, Int) = {
    require(o + 8 <= end, s"doc $docId: truncated box header at $o")
    val sz = getBeU32(b, o)
    val tpe = fourcc(b, o + 4)
    val (body, boxEnd) =
      if (sz == 1L) {
        require(o + 16 <= end, s"doc $docId: truncated largesize box at $o")
        (o + 16, o + getBeU64(b, o + 8))
      }
      else if (sz == 0L) (o + 8, end.toLong) // last box runs to EOF
      else (o + 8, o + sz)
    require(boxEnd >= body && boxEnd <= end,
      s"doc $docId: box $tpe overruns the container")
    (tpe, body, boxEnd.toInt, boxEnd.toInt)
  }

  /** Walk the sibling boxes of `[from, end)`, calling `f` per box. */
  private def walk(docId: Long, b: Array[Byte], from: Int, end: Int)(
      f: (String, Int, Int) => Unit): Unit = {
    var o = from
    while (o + 8 <= end) {
      val (tpe, body, bEnd, next) = box(docId, b, o, end)
      f(tpe, body, bEnd)
      o = next
    }
  }

  /** Parse the container's box tree. Headers only: `mdat` bodies are
    * skipped by the size walk, never read. */
  def parse(docId: Long, bytes: Array[Byte]): Mp4Container = {
    require(bytes.length >= 12,
      s"doc $docId: payload too short for an ISO-BMFF container")
    val (t0, b0, _, _) = box(docId, bytes, 0, bytes.length)
    require(t0 == "ftyp",
      s"doc $docId: payload is not an ISO-BMFF container (no leading ftyp)")
    val majorBrand = fourcc(bytes, b0)
    var movieTimescale = 0L; var movieDuration = 0L
    val tracks = scala.collection.mutable.ArrayBuffer[TrackInfo]()

    def parseTrak(from: Int, end: Int): Unit = {
      var trackId = 0L; var handler = ""; var codec = ""
      var width = 0; var height = 0
      var timescale = 0L; var duration = 0L; var nSamples = 0L
      var channels = 0; var sampleRate = 0
      var sizes: Array[Long] = null            // stsz expansion
      var chunkOffsets: Array[Long] = null     // stco / co64
      var stsc: Array[(Long, Long)] = null     // (first_chunk, samples_per_chunk)
      def parseStbl(f2: Int, e2: Int): Unit = walk(docId, bytes, f2, e2) {
        case ("stsd", b, e) =>
          val entries = getBeU32(bytes, b + 4)
          if (entries > 0 && b + 16 <= e) {
            val entryBody = b + 8 // first entry: u32 size + fourcc format
            codec = fourcc(bytes, entryBody + 4)
            // SampleEntry: 6 reserved + u16 data_ref_index = 8 bytes
            val fields = entryBody + 8 + 8
            handler match {
              case "vide" if fields + 16 + 4 <= e =>
                // VisualSampleEntry: pre_defined/reserved 16 B, then w/h
                width = getBe16(bytes, fields + 16)
                height = getBe16(bytes, fields + 18)
              case "soun" if fields + 16 + 4 <= e =>
                // AudioSampleEntry: reserved 8 B, channelcount,
                // samplesize, pre_defined, reserved, 16.16 samplerate
                channels = getBe16(bytes, fields + 8)
                sampleRate = (getBeU32(bytes, fields + 16) >> 16).toInt
              case _ => ()
            }
          }
        case ("stts", b, _) =>
          val n = getBeU32(bytes, b + 4).toInt
          var i = 0
          while (i < n) { nSamples += getBeU32(bytes, b + 8 + i * 8); i += 1 }
        case ("stsz", b, _) =>
          val uniform = getBeU32(bytes, b + 4)
          val n = getBeU32(bytes, b + 8).toInt
          sizes =
            if (uniform != 0L) Array.fill(n)(uniform)
            else Array.tabulate(n)(i => getBeU32(bytes, b + 12 + i * 4))
        case ("stco", b, _) =>
          val n = getBeU32(bytes, b + 4).toInt
          chunkOffsets = Array.tabulate(n)(i => getBeU32(bytes, b + 8 + i * 4))
        case ("co64", b, _) =>
          val n = getBeU32(bytes, b + 4).toInt
          chunkOffsets = Array.tabulate(n)(i => getBeU64(bytes, b + 8 + i * 8))
        case ("stsc", b, _) =>
          val n = getBeU32(bytes, b + 4).toInt
          stsc = Array.tabulate(n)(i =>
            (getBeU32(bytes, b + 8 + i * 12), getBeU32(bytes, b + 12 + i * 12)))
        case _ => ()
      }
      /** stsc×stsz×stco expansion per ISO/IEC 14496-12 §8.7: each stsc
        * run (first_chunk, samples_per_chunk) applies from its
        * first_chunk until the next run's; sample offsets accumulate
        * sizes within the chunk. Every range is bounds-checked against
        * the container — a table pointing outside the file throws with
        * the doc id (loud-failure contract) instead of slicing junk. */
      def expandSamples(): Seq[(Long, Long)] = {
        if (sizes == null || chunkOffsets == null ||
          stsc == null || stsc.isEmpty) return Nil
        require(stsc.head._1 == 1L,
          s"doc $docId: stsc must start at chunk 1, got ${stsc.head._1}")
        val out = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
        var si = 0 // next sample index into `sizes`
        var ci = 0 // chunk index, 0-based
        var run = 0 // current stsc run
        while (ci < chunkOffsets.length && si < sizes.length) {
          while (run + 1 < stsc.length && stsc(run + 1)._1 <= ci + 1) run += 1
          var off = chunkOffsets(ci)
          var k = 0L
          while (k < stsc(run)._2 && si < sizes.length) {
            val sz = sizes(si)
            require(off >= 0 && sz >= 0 && off + sz <= bytes.length,
              s"doc $docId: sample $si range [$off, ${off + sz}) overruns " +
                s"the ${bytes.length}-byte container")
            out += ((off, sz))
            off += sz; si += 1; k += 1
          }
          ci += 1
        }
        require(si == sizes.length,
          s"doc $docId: sample table covers $si of ${sizes.length} samples " +
            "(stsc/stco run out of chunks)")
        out.toSeq
      }
      def parseMinf(f2: Int, e2: Int): Unit = walk(docId, bytes, f2, e2) {
        case ("stbl", b, e) => parseStbl(b, e)
        case _ => ()
      }
      def parseMdia(f2: Int, e2: Int): Unit = {
        // hdlr may follow minf's stsd in box order — two passes so the
        // stsd branch always knows the handler kind
        walk(docId, bytes, f2, e2) {
          case ("mdhd", b, _) =>
            val v = bytes(b) & 0xff
            if (v == 1) { timescale = getBeU32(bytes, b + 20); duration = getBeU64(bytes, b + 24) }
            else { timescale = getBeU32(bytes, b + 12); duration = getBeU32(bytes, b + 16) }
          case ("hdlr", b, _) => handler = fourcc(bytes, b + 8)
          case _ => ()
        }
        walk(docId, bytes, f2, e2) {
          case ("minf", b, e) => parseMinf(b, e)
          case _ => ()
        }
      }
      walk(docId, bytes, from, end) {
        case ("tkhd", b, _) =>
          val v = bytes(b) & 0xff
          if (v == 1) {
            trackId = getBeU32(bytes, b + 20)
            width = (getBeU32(bytes, b + 84) >> 16).toInt
            height = (getBeU32(bytes, b + 88) >> 16).toInt
          } else {
            trackId = getBeU32(bytes, b + 12)
            width = (getBeU32(bytes, b + 76) >> 16).toInt
            height = (getBeU32(bytes, b + 80) >> 16).toInt
          }
        case ("mdia", b, e) => parseMdia(b, e)
        case _ => ()
      }
      tracks += TrackInfo(trackId, handler, codec, width, height,
        timescale, duration, nSamples, channels, sampleRate,
        samples = expandSamples())
    }

    walk(docId, bytes, 0, bytes.length) {
      case ("moov", mb, me) =>
        walk(docId, bytes, mb, me) {
          case ("mvhd", b, _) =>
            val v = bytes(b) & 0xff
            if (v == 1) { movieTimescale = getBeU32(bytes, b + 20); movieDuration = getBeU64(bytes, b + 24) }
            else { movieTimescale = getBeU32(bytes, b + 12); movieDuration = getBeU32(bytes, b + 16) }
          case ("trak", b, e) => parseTrak(b, e)
          case _ => ()
        }
      case _ => () // ftyp (validated above), mdat, free, ...: skipped
    }
    require(tracks.nonEmpty,
      s"doc $docId: ISO-BMFF container has no moov/trak metadata")
    Mp4Container(majorBrand, movieTimescale, movieDuration, tracks.toSeq)
  }

  // ------------------------------------------------------------ encode

  private def mkBox(tpe: String, payload: Array[Byte]*): Array[Byte] = {
    val body = payload.foldLeft(Array.empty[Byte])(_ ++ _)
    be32(8L + body.length) ++ cc(tpe) ++ body
  }
  private def fullBox(tpe: String, version: Int, payload: Array[Byte]*): Array[Byte] =
    mkBox(tpe, (Array((version & 0xff).toByte, 0.toByte, 0.toByte, 0.toByte) +:
      payload): _*)

  /** Fixture spec for one track of [[encode]]. Video tracks set
    * width/height (codec `avc1` by convention — the mdat is opaque
    * filler, never decoded); audio tracks set channels/sampleRate
    * (codec `mp4a`). */
  case class TrackSpec(trackId: Long, video: Boolean, width: Int = 0,
      height: Int = 0, channels: Int = 0, sampleRate: Int = 0,
      timescale: Long, duration: Long, nSamples: Long)

  /** Render a minimal-but-valid version-0 ISO-BMFF container: ftyp +
    * moov(mvhd + one trak per spec) + an opaque 8-byte mdat. The
    * fixture writer of the family ([[AviCodec.encode]]'s twin): queries
    * derive track parameters from table columns, encode, and the
    * production parser must read them back under the oracle. */
  def encode(movieTimescale: Long, movieDuration: Long,
      tracks: Seq[TrackSpec]): Array[Byte] = {
    require(tracks.nonEmpty, "encode: no tracks")
    tracks.foreach { t =>
      // AudioSampleEntry stores the rate as 16.16 fixed point — a u32
      // holds integer rates < 65536 only (the classic BMFF limitation;
      // hi-res audio needs the v1 QTFF entry, out of this writer's
      // scope). Refuse rather than silently wrap.
      require(t.video || (t.sampleRate > 0 && t.sampleRate <= 0xffff),
        s"track ${t.trackId}: sample rate ${t.sampleRate} does not fit " +
          "the 16.16 stsd field (max 65535)")
      require(t.width <= 0xffff && t.height <= 0xffff,
        s"track ${t.trackId}: dimensions ${t.width}x${t.height} exceed u16")
    }
    val ftyp = mkBox("ftyp", cc("isom"), be32(512), cc("isom"), cc("iso2"))
    val mvhd = fullBox("mvhd", 0, be32(0), be32(0), be32(movieTimescale),
      be32(movieDuration),
      be32(0x00010000L), be16(0x0100), be16(0), be32(0), be32(0),
      // identity matrix
      be32(0x00010000L), be32(0), be32(0), be32(0), be32(0x00010000L),
      be32(0), be32(0), be32(0), be32(0x40000000L),
      be32(0), be32(0), be32(0), be32(0), be32(0), be32(0),
      be32(tracks.map(_.trackId).max + 1))
    def trak(t: TrackSpec): Array[Byte] = {
      val tkhd = fullBox("tkhd", 0, be32(0), be32(0), be32(t.trackId),
        be32(0), be32(t.duration), be32(0), be32(0), be16(0), be16(0),
        be16(if (t.video) 0 else 0x0100), be16(0),
        be32(0x00010000L), be32(0), be32(0), be32(0), be32(0x00010000L),
        be32(0), be32(0), be32(0), be32(0x40000000L),
        be32(t.width.toLong << 16), be32(t.height.toLong << 16))
      val mdhd = fullBox("mdhd", 0, be32(0), be32(0), be32(t.timescale),
        be32(t.duration), be16(0x55c4 /* 'und' */), be16(0))
      val hdlr = fullBox("hdlr", 0, be32(0),
        cc(if (t.video) "vide" else "soun"), be32(0), be32(0), be32(0),
        Array(0.toByte) /* empty name, NUL-terminated */)
      val sampleEntry =
        if (t.video)
          mkBox("avc1", new Array[Byte](6), be16(1), // SampleEntry header
            new Array[Byte](16), be16(t.width), be16(t.height),
            be32(0x00480000L), be32(0x00480000L), be32(0), be16(1),
            new Array[Byte](32), be16(0x0018), be16(0xffff))
        else
          mkBox("mp4a", new Array[Byte](6), be16(1),
            new Array[Byte](8), be16(t.channels), be16(16), be16(0), be16(0),
            be32(t.sampleRate.toLong << 16))
      val stsd = fullBox("stsd", 0, be32(1), sampleEntry)
      val stts = fullBox("stts", 0, be32(1), be32(t.nSamples), be32(1))
      val stbl = mkBox("stbl", stsd, stts)
      val minf = mkBox("minf", stbl)
      val mdia = mkBox("mdia", mdhd, hdlr, minf)
      mkBox("trak", tkhd, mdia)
    }
    val moov = mkBox("moov", (mvhd +: tracks.map(trak)): _*)
    val mdat = mkBox("mdat", Array.fill(8)(0.toByte))
    ftyp ++ moov ++ mdat
  }

  /** Render a REAL Motion-JPEG MP4: one 'vide' track whose stsd entry is
    * the QuickTime/BMFF intra-frame `jpeg` sample format, every sample in
    * `mdat` a standalone JPEG ([[AviCodec.jpegBytes]]), and a genuine
    * stts/stsc/stsz/stco sample table pointing at them — `samplesPerChunk`
    * frames per chunk, so the parser's stsc run expansion is exercised,
    * not just a degenerate one-chunk layout. Chunk offsets are absolute
    * file offsets; since box lengths depend only on entry COUNTS, the
    * writer builds `moov` once with zero offsets to measure it, then
    * rebuilds with the real offsets (asserted same length).
    *
    * This is the intra-frame half of MP4 sample decode — the half that
    * needs no codec library. Inter-frame codecs (H.264/AAC) remain the
    * documented external-library seam ([[Multimodal]]). */
  def encodeMjpg(frames: Seq[java.awt.image.BufferedImage],
      timescale: Long = 600, frameDuration: Long = 25,
      quality: Float = 1.0f, samplesPerChunk: Int = 2): Array[Byte] = {
    require(frames.nonEmpty, "encodeMjpg: no frames")
    require(samplesPerChunk >= 1, s"samplesPerChunk $samplesPerChunk")
    val w = frames.head.getWidth; val h = frames.head.getHeight
    require(frames.forall(f => f.getWidth == w && f.getHeight == h),
      "encodeMjpg: all frames must share one dimension")
    require(w <= 0xffff && h <= 0xffff, s"dimensions ${w}x$h exceed u16")
    val jpegs = frames.map(AviCodec.jpegBytes(_, quality))
    val chunks = jpegs.grouped(samplesPerChunk).toVector
    val n = jpegs.length
    val duration = n * frameDuration

    val ftyp = mkBox("ftyp", cc("isom"), be32(512), cc("isom"), cc("iso2"))
    def moovFor(chunkOffsets: Seq[Long]): Array[Byte] = {
      val mvhd = fullBox("mvhd", 0, be32(0), be32(0), be32(timescale),
        be32(duration),
        be32(0x00010000L), be16(0x0100), be16(0), be32(0), be32(0),
        be32(0x00010000L), be32(0), be32(0), be32(0), be32(0x00010000L),
        be32(0), be32(0), be32(0), be32(0x40000000L),
        be32(0), be32(0), be32(0), be32(0), be32(0), be32(0),
        be32(2))
      val tkhd = fullBox("tkhd", 0, be32(0), be32(0), be32(1),
        be32(0), be32(duration), be32(0), be32(0), be16(0), be16(0),
        be16(0), be16(0),
        be32(0x00010000L), be32(0), be32(0), be32(0), be32(0x00010000L),
        be32(0), be32(0), be32(0), be32(0x40000000L),
        be32(w.toLong << 16), be32(h.toLong << 16))
      val mdhd = fullBox("mdhd", 0, be32(0), be32(0), be32(timescale),
        be32(duration), be16(0x55c4), be16(0))
      val hdlr = fullBox("hdlr", 0, be32(0), cc("vide"), be32(0), be32(0),
        be32(0), Array(0.toByte))
      val sampleEntry = mkBox("jpeg", new Array[Byte](6), be16(1),
        new Array[Byte](16), be16(w), be16(h),
        be32(0x00480000L), be32(0x00480000L), be32(0), be16(1),
        new Array[Byte](32), be16(0x0018), be16(0xffff))
      val stsd = fullBox("stsd", 0, be32(1), sampleEntry)
      val stts = fullBox("stts", 0, be32(1), be32(n), be32(frameDuration))
      val stscEntries =
        if (chunks.length > 1 && chunks.last.length != samplesPerChunk)
          Seq((1L, samplesPerChunk.toLong),
            (chunks.length.toLong, chunks.last.length.toLong))
        else Seq((1L, chunks.head.length.toLong))
      val stsc = fullBox("stsc", 0, be32(stscEntries.length),
        stscEntries.flatMap { case (fc, spc) =>
          Seq(be32(fc), be32(spc), be32(1)) }.reduce(_ ++ _))
      val stsz = fullBox("stsz", 0, be32(0), be32(n),
        jpegs.map(j => be32(j.length.toLong)).reduce(_ ++ _))
      val stco = fullBox("stco", 0, be32(chunkOffsets.length),
        chunkOffsets.map(be32).reduce(_ ++ _))
      val stbl = mkBox("stbl", stsd, stts, stsc, stsz, stco)
      val minf = mkBox("minf", stbl)
      val mdia = mkBox("mdia", mdhd, hdlr, minf)
      mkBox("moov", mvhd, mkBox("trak", tkhd, mdia))
    }

    val moov0 = moovFor(Vector.fill(chunks.length)(0L))
    val mdatBody = ftyp.length + moov0.length + 8L // first sample's offset
    val offsets = chunks.scanLeft(mdatBody)((o, c) =>
      o + c.map(_.length.toLong).sum).dropRight(1)
    val moov1 = moovFor(offsets)
    require(moov1.length == moov0.length,
      "encodeMjpg: moov size changed between offset passes")
    ftyp ++ moov1 ++ mkBox("mdat", jpegs.reduce(_ ++ _))
  }

  /** Render a REAL uncompressed-PCM MP4: one mono 'soun' track whose
    * stsd entry is the QuickTime big-endian 16-bit `twos` sample format,
    * `mdat` the raw PCM frames, and the sample table UNIFORM-size
    * (stsz sample_size = 2, no per-sample entries — the uniform branch
    * real PCM tracks use, since per-frame entries would dwarf the
    * media). Same two-pass offset patch as [[encodeMjpg]]. The audio
    * half of intra-frame MP4 sample decode; entropy-coded audio (AAC)
    * stays the documented codec-library seam. */
  def encodePcm16(samples: Array[Int], sampleRate: Int,
      samplesPerChunk: Int = 256): Array[Byte] = {
    require(samples.nonEmpty, "encodePcm16: no samples")
    require(samplesPerChunk >= 1, s"samplesPerChunk $samplesPerChunk")
    require(sampleRate > 0 && sampleRate <= 0xffff,
      s"sample rate $sampleRate does not fit the 16.16 stsd field")
    val n = samples.length
    val nChunks = (n + samplesPerChunk - 1) / samplesPerChunk
    val lastLen = n - (nChunks - 1) * samplesPerChunk

    val ftyp = mkBox("ftyp", cc("isom"), be32(512), cc("isom"), cc("iso2"))
    def moovFor(chunkOffsets: Seq[Long]): Array[Byte] = {
      val mvhd = fullBox("mvhd", 0, be32(0), be32(0), be32(sampleRate),
        be32(n),
        be32(0x00010000L), be16(0x0100), be16(0), be32(0), be32(0),
        be32(0x00010000L), be32(0), be32(0), be32(0), be32(0x00010000L),
        be32(0), be32(0), be32(0), be32(0x40000000L),
        be32(0), be32(0), be32(0), be32(0), be32(0), be32(0),
        be32(2))
      val tkhd = fullBox("tkhd", 0, be32(0), be32(0), be32(1),
        be32(0), be32(n), be32(0), be32(0), be16(0), be16(0),
        be16(0x0100), be16(0),
        be32(0x00010000L), be32(0), be32(0), be32(0), be32(0x00010000L),
        be32(0), be32(0), be32(0), be32(0x40000000L),
        be32(0), be32(0))
      val mdhd = fullBox("mdhd", 0, be32(0), be32(0), be32(sampleRate),
        be32(n), be16(0x55c4), be16(0))
      val hdlr = fullBox("hdlr", 0, be32(0), cc("soun"), be32(0), be32(0),
        be32(0), Array(0.toByte))
      val sampleEntry = mkBox("twos", new Array[Byte](6), be16(1),
        new Array[Byte](8), be16(1), be16(16), be16(0), be16(0),
        be32(sampleRate.toLong << 16))
      val stsd = fullBox("stsd", 0, be32(1), sampleEntry)
      val stts = fullBox("stts", 0, be32(1), be32(n), be32(1))
      val stscEntries =
        if (nChunks > 1 && lastLen != samplesPerChunk)
          Seq((1L, samplesPerChunk.toLong), (nChunks.toLong, lastLen.toLong))
        else Seq((1L, math.min(n, samplesPerChunk).toLong))
      val stsc = fullBox("stsc", 0, be32(stscEntries.length),
        stscEntries.flatMap { case (fc, spc) =>
          Seq(be32(fc), be32(spc), be32(1)) }.reduce(_ ++ _))
      val stsz = fullBox("stsz", 0, be32(2) /* uniform 2 B */, be32(n))
      val stco = fullBox("stco", 0, be32(chunkOffsets.length),
        chunkOffsets.map(be32).reduce(_ ++ _))
      val stbl = mkBox("stbl", stsd, stts, stsc, stsz, stco)
      mkBox("moov", mvhd, mkBox("trak", tkhd,
        mkBox("mdia", mdhd, hdlr, mkBox("minf", stbl))))
    }

    val moov0 = moovFor(Vector.fill(nChunks)(0L))
    val mdatBody = ftyp.length + moov0.length + 8L
    val offsets = (0 until nChunks).map(c =>
      mdatBody + 2L * c * samplesPerChunk)
    val moov1 = moovFor(offsets)
    require(moov1.length == moov0.length,
      "encodePcm16: moov size changed between offset passes")
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      pcm(i * 2) = ((samples(i) >> 8) & 0xff).toByte // big-endian 'twos'
      pcm(i * 2 + 1) = (samples(i) & 0xff).toByte
      i += 1
    }
    ftyp ++ moov1 ++ mkBox("mdat", pcm)
  }
}
