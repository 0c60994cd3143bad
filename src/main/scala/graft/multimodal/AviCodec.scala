package graft.multimodal

import ByteFields._

/** REAL video-container codec for uncompressed AVI — self-written
  * RIFF walker in the same discipline as [[Multimodal.SoundCodec]]'s WAV
  * path: no codec library exists in this container, but AVI's RIFF
  * framing and the uncompressed DIB frame format are fully public
  * (Microsoft's AVI RIFF spec; the same chunk grammar WAV uses), so
  * metadata AND pixel decode can be real for `biCompression = 0`
  * payloads — and for `'MJPG'` (Motion-JPEG) payloads too, because
  * each MJPEG frame chunk is a standalone JPEG image the JDK's
  * `javax.imageio` decodes with no extra library. Inter-frame codecs
  * (H.264 etc.) stay out of scope — those genuinely need a codec
  * library; [[Multimodal]] documents the seam.
  *
  * Layout handled (writer emits exactly this; parser tolerates unknown
  * chunks and `rec ` interleave lists):
  * {{{
  * RIFF(sz) 'AVI '
  *   LIST 'hdrl'
  *     'avih' (56 B main header: usPerFrame, totalFrames, nStreams, w, h)
  *     LIST 'strl'              — one per stream, in stream-index order
  *       'strh' (56 B: fccType vids/auds, handler, scale, rate, length)
  *       'strf' (BITMAPINFOHEADER for vids; WAVEFORMATEX for auds)
  *   LIST 'movi'
  *     'NNdb' raw bottom-up BGR24 frame (rows padded to 4 B)
  *     | 'NNdc' one standalone JPEG image (MJPG) | 'NNwb' PCM
  * }}}
  * All integers little-endian; odd-sized chunks pad one byte. Frame
  * seek is a chunk-size walk — sampling frame `k` skips, not decodes,
  * the frames before it (the property q102 pins for GIF).
  *
  * Loud-failure contract matches the other codecs: malformed bytes,
  * missing headers, or a compressed vids stream throw with the doc id
  * rather than fake plausible metadata.
  */
object AviCodec {

  // In-memory stream cache for the JDK JPEG codec (see the Multimodal
  // object note — the default disk-backed cache made MJPEG decode an
  // I/O workload at scale). Idempotent; repeated here so direct codec
  // use also gets it.
  javax.imageio.ImageIO.setUseCache(false)

  /** Mimes this codec owns; everything else falls back per
    * [[Multimodal.decodeBatched]]'s dispatch. */
  val Mimes: Set[String] = Set("video/avi", "video/x-msvideo", "video/msvideo")

  /** One stream's `strh`+`strf` facts. vids: width/height from the
    * BITMAPINFOHEADER, rate/scale the fps rational, length the frame
    * count. auds: sampleRate/channels/bits from the WAVEFORMATEX,
    * length the sample-frame count. */
  case class StreamInfo(streamIdx: Int, fccType: String, handler: String,
      scale: Int, rate: Int, length: Long, sampleSize: Int,
      width: Int, height: Int, bitCount: Int, compression: Int,
      channels: Int, sampleRate: Int, bitsPerSample: Int)

  case class Container(usPerFrame: Int, totalFrames: Long, width: Int,
      height: Int, streams: Seq[StreamInfo], moviStart: Int, moviEnd: Int)

  // ---------------------------------------------------------------- parse

  /** Parse the container's headers. One pass over the chunk tree; the
    * movi payload is located but not touched (frame decode is separate,
    * so metadata-only consumers never read frame bytes). */
  def parse(docId: Long, bytes: Array[Byte]): Container = {
    require(bytes.length >= 12 && fourcc(bytes, 0) == "RIFF" &&
        fourcc(bytes, 8) == "AVI ",
      s"doc $docId: payload is not a RIFF/AVI container")
    var usPerFrame = 0; var totalFrames = 0L; var mainW = 0; var mainH = 0
    var moviStart = -1; var moviEnd = -1
    val streams = scala.collection.mutable.ArrayBuffer[StreamInfo]()
    def scan(from: Int, end: Int): Unit = {
      var o = from
      while (o + 8 <= end) {
        val id = fourcc(bytes, o); val sz = getLe32(bytes, o + 4)
        val body = o + 8
        // Long arithmetic: a hostile sz near Int.MaxValue overflows
        // body + sz to negative in Int space and would pass the check.
        require(sz >= 0 && body + sz.toLong <= bytes.length,
          s"doc $docId: chunk $id overruns the container")
        id match {
          case "LIST" =>
            fourcc(bytes, body) match {
              case "hdrl" | "strl" => scan(body + 4, body + sz)
              case "movi" => moviStart = body + 4; moviEnd = body + sz
              case _ => () // unknown list (INFO, ...): skip whole
            }
          case "avih" =>
            usPerFrame = getLe32(bytes, body)
            totalFrames = getLeU32(bytes, body + 16)
            mainW = getLe32(bytes, body + 32); mainH = getLe32(bytes, body + 36)
          case "strh" =>
            streams += StreamInfo(streams.size,
              fccType = fourcc(bytes, body),
              handler = fourcc(bytes, body + 4),
              scale = getLe32(bytes, body + 20), rate = getLe32(bytes, body + 24),
              length = getLeU32(bytes, body + 32),
              sampleSize = getLe32(bytes, body + 44),
              width = 0, height = 0, bitCount = 0, compression = 0,
              channels = 0, sampleRate = 0, bitsPerSample = 0)
          case "strf" =>
            require(streams.nonEmpty, s"doc $docId: strf before any strh")
            val s = streams.last
            streams(streams.size - 1) = s.fccType match {
              case "vids" => s.copy(
                width = getLe32(bytes, body + 4),
                // negative biHeight = top-down DIB; magnitude is the height
                height = math.abs(getLe32(bytes, body + 8)),
                bitCount = getLe16(bytes, body + 14),
                compression = getLe32(bytes, body + 16))
              case "auds" => s.copy(
                channels = getLe16(bytes, body + 2),
                sampleRate = getLe32(bytes, body + 4),
                bitsPerSample = getLe16(bytes, body + 14))
              case _ => s
            }
          case _ => () // JUNK, idx1, vendor chunks: skip
        }
        o = body + sz + (sz & 1) // odd chunks pad to word alignment
      }
    }
    scan(12, bytes.length)
    require(streams.nonEmpty, s"doc $docId: AVI has no stream headers")
    require(moviStart >= 0, s"doc $docId: AVI has no movi payload list")
    Container(usPerFrame, totalFrames, mainW, mainH, streams.toSeq,
      moviStart, moviEnd)
  }

  /** The first vids stream of the container and the (offset, size) of
    * each of its frame chunks, in presentation order — the walk is over
    * chunk headers only, so locating frame `k` costs k header reads,
    * zero pixel decodes. A container with no vids stream or no frame
    * chunk fails with the doc id. */
  def videoFrames(docId: Long, bytes: Array[Byte]):
      (StreamInfo, IndexedSeq[(Int, Int)]) = {
    val c = parse(docId, bytes)
    val vids = c.streams.find(_.fccType == "vids").getOrElse(
      throw new IllegalArgumentException(s"doc $docId: AVI has no vids stream"))
    val prefix = f"${vids.streamIdx}%02d"
    val out = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
    def walk(from: Int, end: Int): Unit = {
      var o = from
      while (o + 8 <= end) {
        val id = fourcc(bytes, o); val sz = getLe32(bytes, o + 4)
        val body = o + 8
        // Same validation as parse: a negative sz (e.g. -8) would make
        // o = body + sz + (sz & 1) = o — an infinite loop on an executor —
        // and the contract is a loud throw with the doc id, never a hang.
        require(sz >= 0 && body + sz.toLong <= end,
          s"doc $docId: chunk $id overruns the movi list")
        if (id == "LIST" && fourcc(bytes, body) == "rec ") walk(body + 4, body + sz)
        else if (id.startsWith(prefix) &&
            (id.endsWith("db") || id.endsWith("dc")))
          out += ((body, sz))
        o = body + sz + (sz & 1)
      }
    }
    walk(c.moviStart, c.moviEnd)
    require(out.nonEmpty, s"doc $docId: AVI has no frames")
    (vids, out.toIndexedSeq)
  }

  /** fourcc `'MJPG'` as the little-endian `biCompression` int — the
    * Motion-JPEG AVI convention: each frame chunk is a standalone JFIF
    * JPEG image (intra-frame only, no inter-frame state), which is why
    * it is the one COMPRESSED video codec decodable with the JDK alone
    * (`javax.imageio`'s JPEG reader). */
  val MjpgFourcc: Int = 0x47504a4d

  /** Decode one video frame chunk to pixels, dispatching on the
    * stream's `biCompression`: `0` (BI_RGB) decodes the raw bottom-up
    * BGR24 DIB rows in-place; `'MJPG'` hands the chunk bytes — a
    * complete JPEG image per the Motion-JPEG convention — to the JDK's
    * `javax.imageio` JPEG decoder. Inter-frame codecs (H.264 etc.)
    * genuinely need a codec library and fail loudly. */
  def decodeFrame(docId: Long, bytes: Array[Byte], offset: Int, size: Int,
      s: StreamInfo): java.awt.image.BufferedImage = {
    if (s.compression == MjpgFourcc)
      return Multimodal.ImageIoCodec.read(docId, "MJPG frame chunk", bytes,
        offset, size)
    require(s.compression == 0 && s.bitCount == 24,
      s"doc $docId: only BI_RGB 24-bit DIB and MJPG frames are decodable " +
        s"(biCompression=${s.compression}, biBitCount=${s.bitCount})")
    val w = s.width; val h = s.height
    val rowBytes = (w * 3 + 3) & ~3
    require(size >= rowBytes * h,
      s"doc $docId: frame chunk of $size bytes < ${rowBytes * h} expected")
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      val row = offset + (h - 1 - y) * rowBytes // bottom-up
      var x = 0
      while (x < w) {
        val o = row + x * 3
        img.setRGB(x, y, ((bytes(o + 2) & 0xff) << 16) |
          ((bytes(o + 1) & 0xff) << 8) | (bytes(o) & 0xff))
        x += 1
      }
      y += 1
    }
    img
  }

  // --------------------------------------------------------------- encode

  private def chunk(id: String, payload: Array[Byte]): Array[Byte] =
    cc(id) ++ le32(payload.length) ++ payload ++
      (if ((payload.length & 1) == 1) Array(0.toByte) else Array.empty[Byte])
  private def list(listType: String, payload: Array[Byte]): Array[Byte] =
    chunk("LIST", cc(listType) ++ payload)

  /** Render `frames` as an uncompressed AVI at `rate`/`scale` fps, with
    * an optional mono 16-bit PCM `auds` stream — the fixture/ingest
    * writer (the AVI twin of `AudioSystem.write` in the WAV queries).
    * All frames must share the first frame's dimensions. */
  def encode(frames: Seq[java.awt.image.BufferedImage], rate: Int,
      scale: Int = 1, audio: Option[(Int, Array[Byte])] = None): Array[Byte] = {
    require(frames.nonEmpty, "encode: no frames")
    val w = frames.head.getWidth; val h = frames.head.getHeight
    require(frames.forall(f => f.getWidth == w && f.getHeight == h),
      "encode: all frames must share one dimension")
    val rowBytes = (w * 3 + 3) & ~3
    def dib(img: java.awt.image.BufferedImage): Array[Byte] = {
      val out = new Array[Byte](rowBytes * h)
      var y = 0
      while (y < h) {
        val row = (h - 1 - y) * rowBytes
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y); val o = row + x * 3
          out(o) = (rgb & 0xff).toByte           // B
          out(o + 1) = ((rgb >> 8) & 0xff).toByte  // G
          out(o + 2) = ((rgb >> 16) & 0xff).toByte // R
          x += 1
        }
        y += 1
      }
      out
    }
    assemble(frames.map(dib), chunkId = "00db", handler = "DIB ",
      compression = 0, w = w, h = h, rate = rate, scale = scale, audio = audio)
  }

  /** Render `frames` as a Motion-JPEG AVI: every frame JPEG-encoded
    * (JDK `javax.imageio` writer at the given `quality`) into a `00dc`
    * chunk, handler/`biCompression` = `'MJPG'` — the same container
    * scaffolding as [[encode]], with each frame a standalone JPEG per
    * the MJPEG convention. Quality >= 0.95 keeps 8x8-block-aligned
    * constant-gray regions bit-exact through the DCT round-trip
    * (DC-only blocks, small quant steps) — what the oracle-gated
    * queries rely on; arbitrary content is lossy like any JPEG. */
  def encodeMjpg(frames: Seq[java.awt.image.BufferedImage], rate: Int,
      scale: Int = 1, quality: Float = 1.0f,
      audio: Option[(Int, Array[Byte])] = None): Array[Byte] = {
    require(frames.nonEmpty, "encodeMjpg: no frames")
    val w = frames.head.getWidth; val h = frames.head.getHeight
    require(frames.forall(f => f.getWidth == w && f.getHeight == h),
      "encodeMjpg: all frames must share one dimension")
    assemble(frames.map(jpegBytes(_, quality)), chunkId = "00dc", handler = "MJPG",
      compression = MjpgFourcc, w = w, h = h, rate = rate, scale = scale,
      audio = audio)
  }

  /** One standalone JPEG rendering of `img` at `quality` — the shared
    * frame writer of the MJPEG fixture family ([[encodeMjpg]] here and
    * [[Mp4Codec.encodeMjpg]]'s sample-table twin). Quality ≥ 0.95 keeps
    * 8×8-block-aligned constant-gray regions bit-exact through the DCT
    * round-trip (DC-only blocks), which the oracle-gated queries rely
    * on. */
  private[multimodal] def jpegBytes(img: java.awt.image.BufferedImage,
      quality: Float): Array[Byte] = {
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val p = writer.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(quality)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), p)
    } finally { ios.close(); writer.dispose() }
    bos.toByteArray
  }

  /** The shared container scaffolding both encoders emit: avih + one
    * vids strl (strf `biCompression` = `compression`, 24 bpp) +
    * optional mono 16-bit PCM auds strl + the movi list of per-frame
    * `chunkId` chunks. */
  private def assemble(frameChunks: Seq[Array[Byte]], chunkId: String,
      handler: String, compression: Int, w: Int, h: Int, rate: Int,
      scale: Int, audio: Option[(Int, Array[Byte])]): Array[Byte] = {
    val nStreams = 1 + audio.size
    val usPerFrame = (1000000L * scale / rate).toInt
    val bufSize = frameChunks.map(_.length).max
    val avih = chunk("avih", le32(usPerFrame) ++ le32(0) ++ le32(0) ++
      le32(0) ++ le32(frameChunks.size) ++ le32(0) ++ le32(nStreams) ++
      le32(0) ++ le32(w) ++ le32(h) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0))
    def strh(fccType: String, hdl: String, sScale: Int, sRate: Int,
        length: Int, sampleSize: Int): Array[Byte] =
      chunk("strh", cc(fccType) ++ cc(hdl) ++ le32(0) ++ le16(0) ++
        le16(0) ++ le32(0) ++ le32(sScale) ++ le32(sRate) ++ le32(0) ++
        le32(length) ++ le32(bufSize) ++ le32(0) ++ le32(sampleSize) ++
        le16(0) ++ le16(0) ++ le16(w) ++ le16(h))
    val vidsStrl = list("strl",
      strh("vids", handler, scale, rate, frameChunks.size, 0) ++
        chunk("strf", le32(40) ++ le32(w) ++ le32(h) ++ le16(1) ++ le16(24) ++
          le32(compression) ++ le32(bufSize) ++ le32(0) ++ le32(0) ++
          le32(0) ++ le32(0)))
    val audsStrl = audio.map { case (sr, pcm) =>
      list("strl",
        strh("auds", "    ", 1, sr, pcm.length / 2, 2) ++
          chunk("strf", le16(1) ++ le16(1) ++ le32(sr) ++ le32(sr * 2) ++
            le16(2) ++ le16(16)))
    }
    val hdrl = list("hdrl", avih ++ vidsStrl ++ audsStrl.getOrElse(Array.empty))
    val movi = list("movi",
      frameChunks.map(f => chunk(chunkId, f)).reduce(_ ++ _) ++
        audio.map { case (_, pcm) => chunk("01wb", pcm) }.getOrElse(Array.empty))
    val payload = hdrl ++ movi
    cc("RIFF") ++ le32(payload.length + 4) ++ cc("AVI ") ++ payload
  }
}
