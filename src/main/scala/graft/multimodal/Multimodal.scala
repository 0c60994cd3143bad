package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import scala.reflect.runtime.universe.TypeTag

/** Multimodal column handling: image/audio/video as opaque BINARY columns
  * with typed metadata, decoded one record at a time via `mapPartitions`.
  *
  * IMAGE handling is REAL end-to-end: [[ImageIoCodec]] decodes
  * PNG/JPEG/GIF/BMP payloads with the JDK's `javax.imageio` (no extra
  * dependency), counts actual container frames (animated GIFs included),
  * resizes with an AWT `Graphics2D` bilinear kernel, and featurizes the
  * decoded pixels as a pooled mean-luma grid ([[ImageIoCodec.lumaGrid]]).
  * AUDIO handling is REAL end-to-end too: [[SoundCodec]] parses headers
  * and [[PcmCodec]] decodes the actual 16-bit PCM samples
  * (`javax.sound.sampled`), featurizes them as a pooled mean-|amplitude|
  * envelope + zero-crossing stats, and resamples with an exact-integer
  * linear-interpolation kernel. VIDEO handling is REAL for uncompressed
  * AVI: [[AviCodec]] is a self-written RIFF walker (the WAV path's
  * moral twin) that parses the container's per-stream headers, seeks
  * frame chunks without decoding the skipped ones, and decodes frames
  * to actual pixels for the luma-grid feature path — both uncompressed
  * BGR24 DIB and COMPRESSED Motion-JPEG (each MJPG chunk is a
  * standalone JPEG the JDK's `javax.imageio` decodes). MP4/ISO-BMFF
  * containers get REAL per-track METADATA decode too ([[Mp4Codec]]'s
  * box-tree walker; mdat sample bytes never read). Compressed-stream
  * TRANSPORT layers are real too: raw AAC's ADTS frame walk
  * ([[AdtsCodec]]) and H.264's Annex-B NAL walk with bit-exact
  * exp-Golomb SPS parse ([[H264Codec]]) — what remains STUBBED is the
  * entropy-coded payload itself (AAC raw data blocks, H.264 slice
  * data — SAMPLE decode for inter-frame codecs) and the
  * external embedding-model call for text/unknown payloads — those
  * genuinely need libraries this container doesn't have — behind
  * [[StubCodec]]-style deterministic fakes; [[decodeBatched]]
  * dispatches per record on the mime type. Everything around the codecs is real and load-bearing:
  * the binary schema, the per-record streaming shape (every `*Batched`
  * entry point runs through one kernel that holds one payload and its
  * decoded rows in flight per task — no codec has per-batch setup to
  * amortize, so nothing is buffered between records), the partition
  * sizing, and the typed output schema.
  *
  * Scale notes: binary payloads dominate row size → keep
  * `spark.sql.files.maxPartitionBytes` low enough that a partition of
  * blobs fits in executor memory, and never collect; metadata-only
  * projections must not read the blob column (parquet column pruning
  * gives this for free — verified in MultimodalSpec).
  */
object Multimodal {

  // javax.imageio defaults to a DISK-backed stream cache: every
  // ImageIO.read(InputStream)/write(OutputStream) round-trips through a
  // temp FILE in java.io.tmpdir (FileCacheImageInput/OutputStream).
  // Per-frame codec work at corpus scale then becomes an I/O workload —
  // the sf1 scaling sweep measured the MJPEG-heavy queries super-linear
  // (q129 15.9×/decade) purely from this. All payloads here are
  // in-memory byte arrays, so the memory cache is strictly better.
  // Idempotent, executor-local, applies to every ImageIO entry point in
  // this package (executors touch this object before any codec call).
  javax.imageio.ImageIO.setUseCache(false)

  case class MediaRecord(doc_id: Long, content: Array[Byte], mime: String)
  case class MediaMeta(doc_id: Long, mime: String, n_bytes: Int,
      width: Int, height: Int, n_frames: Int)

  /** The one kernel behind every `*Batched` entry point: each partition
    * streams through `f` one record at a time (`take(1)` decodes one
    * payload, and a task holds one blob and its output rows in flight).
    * `accepts` is the entry point's mime guard; a record it rejects
    * fails with the doc id, the `entry` name and the mime. Encoders come
    * from `media`'s own session. Single-row entry points return
    * `Some(row)`. */
  private def perRecord[T <: Product : TypeTag](media: DataFrame,
      entry: String, accepts: String => Boolean = _ => true)(
      f: MediaRecord => IterableOnce[T]): Dataset[T] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRecord].mapPartitions(_.flatMap { r =>
      require(accepts(r.mime),
        s"doc ${r.doc_id}: $entry does not accept mime ${r.mime}")
      f(r)
    })
  }

  /** The clearly-marked decode stub for mimes NO in-container codec
    * owns (image, WAV/PCM audio and uncompressed-AVI video all have real
    * codec paths): deterministic pseudo-metadata from the byte payload.
    * A real deployment replaces `decode` with its codec call; the
    * signature (record in, metadata out) is the contract. */
  object StubCodec {
    // shared with q29's column-level spelling and its oracle SQL — one
    // source of truth for the fake-decode formulas
    val FakeMime = "image/fake"
    val BaseDim = 64
    val WidthMod = 576
    val HeightMul = 37
    val HeightMod = 416
    val FrameMod = 29

    def decode(r: MediaRecord): MediaMeta = {
      // ??? <- a codec for formats outside the in-container surface
      // (compressed video, exotic stills) goes here; deterministic fake:
      val n = r.content.length
      MediaMeta(r.doc_id, r.mime, n,
        width = BaseDim + n % WidthMod,
        height = BaseDim + (r.doc_id * HeightMul % HeightMod).toInt,
        n_frames = 1 + n % FrameMod)
    }
  }

  /** REAL image codec on the JDK's `javax.imageio` — no extra dependency,
    * decodes PNG/JPEG/GIF/BMP. `ImageIO.read` returns null (rather than
    * throwing) on undecodable bytes; that surfaces as a loud per-record
    * failure here because silently faking metadata for a corrupt blob is
    * exactly the wrong-but-plausible failure this module must not have.
    * Readers are sought per call (`ImageIO` caches SPI lookups), one
    * payload at a time like every codec here. */
  object ImageIoCodec {
    /** Mimes this codec owns; everything else falls back to [[StubCodec]]. */
    val Mimes: Set[String] =
      Set("image/png", "image/jpeg", "image/gif", "image/bmp")

    /** The shared reader-acquisition/teardown for every per-payload
      * ImageIO entry point ([[decodeOne]], `decodeFramesBatched`):
      * stream in, SPI reader lookup with the loud-failure contract,
      * setInput, run `f`, dispose/close in reverse order. Keeping the
      * resource-management-sensitive sequence in one place means a fix
      * (e.g. null-stream handling) reaches every caller. */
    private[multimodal] def withImageReader[A](r: MediaRecord)(
        f: javax.imageio.ImageReader => A): A = {
      val in = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(r.content))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(in)
        require(readers.hasNext,
          s"doc ${r.doc_id}: payload is not a decodable ${r.mime}")
        val reader = readers.next()
        try { reader.setInput(in); f(reader) }
        finally reader.dispose()
      } finally in.close()
    }

    /** `ImageIO.read` of `len` bytes at `off` with the loud-failure
      * contract: undecodable bytes (a null image) fail naming the doc
      * and `what` was being read. */
    private[multimodal] def read(docId: Long, what: String,
        bytes: Array[Byte], off: Int, len: Int): java.awt.image.BufferedImage = {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes, off, len))
      require(img != null, s"doc $docId: $what is not a decodable image")
      img
    }

    /** [[read]] of a whole payload. */
    private[multimodal] def read(r: MediaRecord): java.awt.image.BufferedImage =
      read(r.doc_id, s"${r.mime} payload", r.content, 0, r.content.length)

    def decodeOne(r: MediaRecord): MediaMeta =
      withImageReader(r) { reader =>
        // REAL frame count: getNumImages(true) walks the container —
        // 1 for still formats, the actual frame count for animated GIFs
        val frames = reader.getNumImages(true)
        val img = reader.read(0)
        MediaMeta(r.doc_id, r.mime, r.content.length,
          img.getWidth, img.getHeight, frames)
      }

    /** Downsampled mean-luma grid from REAL decoded pixels: the image is
      * pooled into a `g`×`g` grid (cell bounds `⌊k·dim/g⌋`, every pixel
      * covered exactly once) and each cell averages the integer BT.601
      * luma `(299·R + 587·G + 114·B) / 1000` of its pixels. Returned
      * UN-normalized: cosine similarity downstream is scale-invariant,
      * and keeping the exact pixel statistics (integer sums, one final
      * division) makes the values bit-reproducible by a relational
      * oracle — a float-normalization pass would smear ~1e-7 noise over
      * every component for no semantic gain. */
    def lumaGrid(img: java.awt.image.BufferedImage, g: Int): Array[Float] =
      lumaGridWH(img, g, g)

    /** Rectangular variant of [[lumaGrid]] — `gw` columns × `gh` rows,
      * row-major `out(i*gw + j)`. The non-square shape exists for
      * perceptual hashes whose bit layout is asymmetric by construction
      * (dHash compares horizontally adjacent cells, so it pools one more
      * column than rows — 9×8 for a 63/64-bit hash). Same exact integer
      * pixel statistics as [[lumaGrid]]: floor cell bounds, per-pixel
      * integer luma, one final division — bit-reproducible by a
      * relational oracle. */
    def lumaGridWH(img: java.awt.image.BufferedImage, gw: Int, gh: Int): Array[Float] = {
      val w = img.getWidth; val h = img.getHeight
      require(w >= gw && h >= gh,
        s"image ${w}x$h smaller than the ${gw}x$gh pooling grid")
      val out = new Array[Float](gw * gh)
      var i = 0
      while (i < gh) {
        val y0 = i * h / gh; val y1 = (i + 1) * h / gh
        var j = 0
        while (j < gw) {
          val x0 = j * w / gw; val x1 = (j + 1) * w / gw
          var sum = 0L
          var y = y0
          while (y < y1) {
            var x = x0
            while (x < x1) {
              val rgb = img.getRGB(x, y)
              sum += (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff) +
                114 * (rgb & 0xff)) / 1000
              x += 1
            }
            y += 1
          }
          out(i * gw + j) = sum.toFloat / ((y1 - y0) * (x1 - x0))
          j += 1
        }
        i += 1
      }
      out
    }

    /** The shared bilinear `Graphics2D` kernel — one resize
      * implementation for still images ([[resizeOne]]) and per-frame
      * video resize ([[Multimodal.resizeBatched]]'s AVI branch). */
    private[multimodal] def bilinear(src: java.awt.image.BufferedImage,
        targetW: Int, targetH: Int): java.awt.image.BufferedImage = {
      val dst = new java.awt.image.BufferedImage(
        targetW, targetH, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = dst.createGraphics()
      try {
        g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(src, 0, 0, targetW, targetH, null)
      } finally g.dispose()
      dst
    }

    /** Bilinear `Graphics2D` resize, re-encoded as PNG (lossless — the
      * deterministic choice for a fixture-pinned spec). */
    def resizeOne(r: MediaRecord, targetW: Int, targetH: Int): ResizedMedia = {
      val dst = bilinear(read(r), targetW, targetH)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(dst, "png", out)
      ResizedMedia(r.doc_id, "image/png", targetW, targetH, out.toByteArray)
    }
  }

  case class AudioMeta(doc_id: Long, mime: String, n_bytes: Int,
      sample_rate: Int, channels: Int, n_samples: Long, duration_ms: Long)

  /** REAL audio metadata codec on the JDK's `javax.sound.sampled` — no
    * extra dependency, parses WAV/AIFF/AU headers. Like [[ImageIoCodec]],
    * undecodable bytes fail loudly rather than fake plausible metadata.
    * The PCM frame data below the headers is decoded for real by
    * [[PcmCodec]] — only video now has no real codec path in this
    * container. */
  object SoundCodec {
    val Mimes: Set[String] =
      Set("audio/wav", "audio/x-wav", "audio/aiff", "audio/basic")

    def decodeOne(r: MediaRecord): AudioMeta = {
      val fmt =
        try SoundIO.getAudioFileFormat(
          new java.io.ByteArrayInputStream(r.content))
        catch {
          case e: javax.sound.sampled.UnsupportedAudioFileException =>
            throw new IllegalArgumentException(
              s"doc ${r.doc_id}: payload is not a decodable ${r.mime}", e)
        }
      val af = fmt.getFormat
      val frames = fmt.getFrameLength.toLong
      AudioMeta(r.doc_id, r.mime, r.content.length,
        af.getSampleRate.toInt, af.getChannels, frames,
        if (af.getSampleRate > 0) frames * 1000L / af.getSampleRate.toLong else -1L)
    }
  }

  /** Audio-metadata decode: the same per-record shape as
    * [[decodeBatched]], typed to the audio schema. */
  def decodeAudioBatched(media: DataFrame): Dataset[AudioMeta] =
    perRecord(media, "decodeAudioBatched")(r => Some(SoundCodec.decodeOne(r)))

  /** REAL PCM sample codec on `javax.sound.sampled` — the layer below
    * [[SoundCodec]]'s header parse: decodes the actual 16-bit signed PCM
    * samples out of WAV/AIFF/AU payloads (both endiannesses), mixes
    * channels down to mono with integer floor-division (exact and
    * oracle-reproducible), and derives the per-payload statistics the
    * curation/ANN ops consume. Every formula here is integer arithmetic
    * with one final division, for the same reason as
    * [[ImageIoCodec.lumaGrid]]: a relational oracle must be able to
    * reproduce the values bit-exactly. Undecodable or non-16-bit-PCM
    * payloads fail loudly — same contract as the other codecs. */
  object PcmCodec {
    /** Mimes [[samples]] owns (the `javax.sound.sampled` PCM formats). */
    val Mimes: Set[String] = SoundCodec.Mimes

    /** Decode to (sampleRate, mono samples): 16-bit signed PCM frames,
      * channels averaged per frame with `floorDiv` (deterministic for
      * negative sums, unlike `/`). MP4 mimes route through the sample
      * table ([[mp4Samples]]) instead of `javax.sound.sampled`. */
    def samples(r: MediaRecord): (Int, Array[Int]) =
      if (Mp4Codec.Mimes(r.mime)) mp4Samples(r) else wavSamples(r)

    /** REAL PCM decode out of an ISO-BMFF container: the 'soun' track's
      * stsc×stsz×stco expansion locates each 16-bit frame in `mdat`;
      * QuickTime `twos` (big-endian) and `sowt` (little-endian)
      * uncompressed entries decode with no codec library — entropy-coded
      * audio (mp4a/AAC) fails loudly as the documented seam. Mono scope
      * matches [[Mp4Codec.encodePcm16]]'s writer. */
    private def mp4Samples(r: MediaRecord): (Int, Array[Int]) = {
      val c = Mp4Codec.parse(r.doc_id, r.content)
      val t = c.tracks.find(t => t.handler == "soun" && t.samples.nonEmpty)
        .getOrElse(throw new IllegalArgumentException(
          s"doc ${r.doc_id}: MP4 has no 'soun' track with a sample table"))
      require(t.codec == "twos" || t.codec == "sowt",
        s"doc ${r.doc_id}: MP4 audio sample format '${t.codec}' is " +
          "entropy-coded and needs a codec library (the documented seam); " +
          "only uncompressed twos/sowt PCM decodes here")
      require(t.channels == 1,
        s"doc ${r.doc_id}: only mono PCM tracks are decodable, " +
          s"got ${t.channels} channels")
      val be = t.codec == "twos"
      val out = new Array[Int](t.samples.length)
      var i = 0
      t.samples.foreach { case (off, sz) =>
        require(sz == 2,
          s"doc ${r.doc_id}: 16-bit PCM sample $i has size $sz")
        val o = off.toInt
        out(i) =
          if (be) (r.content(o) << 8) | (r.content(o + 1) & 0xff)
          else (r.content(o + 1) << 8) | (r.content(o) & 0xff)
        i += 1
      }
      (t.sampleRate, out)
    }

    private def wavSamples(r: MediaRecord): (Int, Array[Int]) = {
      val ais =
        try SoundIO.getAudioInputStream(
          new java.io.ByteArrayInputStream(r.content))
        catch {
          case e: javax.sound.sampled.UnsupportedAudioFileException =>
            throw new IllegalArgumentException(
              s"doc ${r.doc_id}: payload is not a decodable ${r.mime}", e)
        }
      try {
        val f = ais.getFormat
        require(f.getEncoding ==
            javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
            f.getSampleSizeInBits == 16,
          s"doc ${r.doc_id}: only 16-bit signed PCM is decodable, got $f")
        val bytes = ais.readAllBytes()
        val ch = f.getChannels
        val be = f.isBigEndian
        val frames = bytes.length / (2 * ch)
        val out = new Array[Int](frames)
        var i = 0
        while (i < frames) {
          var sum = 0
          var c = 0
          while (c < ch) {
            val o = (i * ch + c) * 2
            // high byte sign-extends (Byte → Int), low byte masked unsigned
            val s = if (be) (bytes(o) << 8) | (bytes(o + 1) & 0xff)
                    else (bytes(o + 1) << 8) | (bytes(o) & 0xff)
            sum += s
            c += 1
          }
          out(i) = Math.floorDiv(sum, ch)
          i += 1
        }
        (f.getSampleRate.toInt, out)
      } finally ais.close()
    }

    /** Pooled mean-|amplitude| envelope — [[ImageIoCodec.lumaGrid]]'s
      * audio analog: cell `k` covers samples `[⌊k·n/g⌋, ⌊(k+1)·n/g⌋)`
      * (every sample exactly once), integer abs-sum, one final division.
      * UN-normalized for the same oracle-reproducibility reason. */
    def envelopeGrid(samples: Array[Int], g: Int): Array[Float] = {
      val n = samples.length
      require(n >= g, s"audio of $n samples shorter than the $g-cell envelope")
      val out = new Array[Float](g)
      var k = 0
      while (k < g) {
        val i0 = k * n / g; val i1 = (k + 1) * n / g
        var sum = 0L
        var i = i0
        while (i < i1) { sum += math.abs(samples(i).toLong); i += 1 }
        out(k) = sum.toFloat / (i1 - i0)
        k += 1
      }
      out
    }

    /** Sign changes between adjacent samples (zero counts as
      * non-negative) — the classic voiced/unvoiced + noisiness signal. */
    def zeroCrossings(samples: Array[Int]): Long = {
      var n = 0L
      var i = 1
      while (i < samples.length) {
        if ((samples(i - 1) < 0) != (samples(i) < 0)) n += 1
        i += 1
      }
      n
    }

    /** REAL linear-interpolation resample to `targetRate`, re-encoded as
      * mono 16-bit little-endian WAV. Pure integer rational arithmetic:
      * output `j` sits at input position `j·src/dst`; with
      * `i0 = ⌊j·src/dst⌋` and `rem = (j·src) mod dst` the value is
      * `⌊(s[i0]·(dst−rem) + s[i0+1]·rem) / dst⌋` (floor division —
      * deterministic for negative samples and reproducible by a
      * relational oracle; `rem = 0` reads `s[i0]` alone, so the last
      * input sample never needs a neighbor). `nOut = ⌊(n−1)·dst/src⌋+1`
      * covers every position ≤ n−1. Fractional ratios interpolate for
      * real (e.g. 12 kHz → 8 kHz mixes adjacent samples 50/50 on odd
      * outputs); integer downsampling degenerates to exact decimation. */
    def resampleOne(r: MediaRecord, targetRate: Int): MediaRecord = {
      require(targetRate > 0, s"doc ${r.doc_id}: target rate $targetRate")
      val (src, s) = samples(r)
      val n = s.length
      require(n >= 2, s"doc ${r.doc_id}: $n samples is too short to resample")
      val nOut = ((n - 1).toLong * targetRate / src).toInt + 1
      val pcm = new Array[Byte](nOut * 2)
      var j = 0
      while (j < nOut) {
        val num = j.toLong * src
        val i0 = (num / targetRate).toInt
        val rem = (num % targetRate).toInt
        val v =
          if (rem == 0) s(i0)
          else Math.floorDiv(
            s(i0).toLong * (targetRate - rem) + s(i0 + 1).toLong * rem,
            targetRate.toLong).toInt
        val c = math.max(-32768, math.min(32767, v))
        pcm(j * 2) = (c & 0xff).toByte
        pcm(j * 2 + 1) = ((c >> 8) & 0xff).toByte
        j += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(
        targetRate.toFloat, 16, 1, true, false)
      val out = new java.io.ByteArrayOutputStream()
      SoundIO.write(
        new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, nOut.toLong),
        javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
      MediaRecord(r.doc_id, out.toByteArray, "audio/wav")
    }
  }

  case class AudioFeatures(doc_id: Long, sample_rate: Int, n_samples: Int,
      zero_crossings: Long, envelope: Array[Float])

  /** REAL audio feature extraction: decode the PCM samples and derive
    * (rate, length, zero-crossings, mean-|amplitude| envelope) per
    * payload. Same per-record shape as [[decodeBatched]]; blobs never
    * cross a shuffle, only the scalar/vector features do. */
  def extractAudioFeaturesBatched(media: DataFrame,
      cells: Int = 16): Dataset[AudioFeatures] =
    perRecord(media, "extractAudioFeaturesBatched") { r =>
      val (rate, s) = PcmCodec.samples(r)
      Some(AudioFeatures(r.doc_id, rate, s.length, PcmCodec.zeroCrossings(s),
        PcmCodec.envelopeGrid(s, cells)))
    }

  /** REAL audio resample: every payload through
    * [[PcmCodec.resampleOne]]'s linear-interpolation kernel, re-encoded
    * WAV out. The audio counterpart of [[resizeBatched]]'s image path. */
  def resampleAudioBatched(media: DataFrame,
      targetRate: Int): Dataset[MediaRecord] =
    perRecord(media, "resampleAudioBatched")(r =>
      Some(PcmCodec.resampleOne(r, targetRate)))

  /** Wrap a text/doc table as media records: the text bytes stand in for
    * an image payload (same shape a real ingest would produce: id + blob +
    * mime + metadata columns). */
  def asMedia(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text").cast("binary").as("content"),
      lit(StubCodec.FakeMime).as("mime"))

  /** Metadata decode over partitions, one record at a time, dispatched
    * by mime — real `javax.imageio` for image mimes, the real
    * [[AviCodec]] container parse for AVI video mimes, the deterministic
    * stub for everything else. No shuffle; output is a typed Dataset. */
  def decodeBatched(media: DataFrame): Dataset[MediaMeta] =
    perRecord(media, "decodeBatched") { r =>
      Some(
        if (ImageIoCodec.Mimes(r.mime)) ImageIoCodec.decodeOne(r)
        else if (AviCodec.Mimes(r.mime)) {
          val c = AviCodec.parse(r.doc_id, r.content)
          MediaMeta(r.doc_id, r.mime, r.content.length,
            c.width, c.height, c.totalFrames.toInt)
        } else if (Mp4Codec.Mimes(r.mime)) {
          // REAL ISO-BMFF header parse: dims + frame count from the
          // first video track (or the first track for audio-only)
          val c = Mp4Codec.parse(r.doc_id, r.content)
          val t = c.tracks.find(_.handler == "vide").getOrElse(c.tracks.head)
          MediaMeta(r.doc_id, r.mime, r.content.length,
            t.width, t.height, t.nSamples.toInt)
        } else StubCodec.decode(r))
    }

  case class ResizedMedia(doc_id: Long, mime: String, width: Int,
      height: Int, content: Array[Byte])
  case class MediaFeatures(doc_id: Long, features: Array[Float])

  /** Per-record resize: same shape as decode. Image mimes get the REAL bilinear `Graphics2D` kernel
    * ([[ImageIoCodec.resizeOne]]); AVI video mimes get the REAL
    * per-frame path — every frame decoded ([[AviCodec.decodeFrame]],
    * DIB or MJPG), resized through the SAME bilinear kernel, and
    * re-encoded as an uncompressed AVI at the source fps (lossless
    * out, so downstream decode is oracle-exact regardless of the input
    * codec). Remaining mimes keep the deterministic stub (truncate
    * bytes to the target "resolution"), so the schema/lineage are
    * exercised for every payload type. */
  def resizeBatched(media: DataFrame, targetW: Int,
      targetH: Int): Dataset[ResizedMedia] =
    perRecord(media, "resizeBatched") { r =>
      Some(
        if (ImageIoCodec.Mimes(r.mime)) ImageIoCodec.resizeOne(r, targetW, targetH)
        else if (AviCodec.Mimes(r.mime)) {
          val (vids, chunks) = AviCodec.videoFrames(r.doc_id, r.content)
          val resized = chunks.map { case (off, sz) =>
            ImageIoCodec.bilinear(
              AviCodec.decodeFrame(r.doc_id, r.content, off, sz, vids),
              targetW, targetH)
          }
          ResizedMedia(r.doc_id, "video/avi", targetW, targetH,
            AviCodec.encode(resized, rate = vids.rate, scale = vids.scale))
        } else {
          // ??? <- real resampling kernel for payloads outside the
          // image/audio/AVI codec surface; deterministic fake:
          val n = math.min(r.content.length, targetW * targetH / 64 + 1)
          ResizedMedia(r.doc_id, r.mime, targetW, targetH, r.content.take(n))
        })
    }

  /** REAL video frame-rate resample — the temporal twin of
    * [[resampleAudioBatched]]'s linear-interpolation kernel, with
    * nearest-lower-frame selection instead of interpolation (frames are
    * discrete; MJPEG/DIB sources both decode through
    * [[AviCodec.decodeFrame]]). Duration-preserving integer arithmetic,
    * oracle-reproducible: with source fps `rate/scale` and integer
    * `targetFps`, `nOut = ⌊nIn·targetFps·scale/rate⌋` and output frame
    * `j` re-encodes source frame `⌊j·rate/(targetFps·scale)⌋` —
    * downsampling drops frames, upsampling duplicates them (each source
    * frame decoded once, memoized across consecutive outputs). Output
    * is an uncompressed AVI at `targetFps` (lossless, so downstream
    * decode sees the source pixels bit-exactly). The auds stream, if
    * any, is dropped — resampling audio is [[resampleAudioBatched]]'s
    * job on the audio column, not a container-rewrite side effect. */
  def resampleVideoBatched(media: DataFrame,
      targetFps: Int): Dataset[MediaRecord] = {
    require(targetFps > 0, s"target fps $targetFps")
    perRecord(media, "resampleVideoBatched", AviCodec.Mimes) { r =>
      val (vids, chunks) = AviCodec.videoFrames(r.doc_id, r.content)
      val nOut = Math.floorDiv(
        chunks.size.toLong * targetFps * vids.scale, vids.rate.toLong).toInt
      require(nOut >= 1,
        s"doc ${r.doc_id}: resample to $targetFps fps yields zero frames")
      var memoIdx = -1
      var memoImg: java.awt.image.BufferedImage = null
      val out = (0 until nOut).map { j =>
        val srcIdx = Math.floorDiv(
          j.toLong * vids.rate, targetFps.toLong * vids.scale).toInt
        if (srcIdx != memoIdx) {
          val (off, sz) = chunks(srcIdx)
          memoImg = AviCodec.decodeFrame(r.doc_id, r.content, off, sz, vids)
          memoIdx = srcIdx
        }
        memoImg
      }
      Some(MediaRecord(r.doc_id, AviCodec.encode(out, rate = targetFps), "video/avi"))
    }
  }

  /** Per-record feature extraction: blob → fixed-width float vector, output
    * shape matching the embeddings table's `array<float>` so downstream
    * ANN ops compose directly. Image mimes take the REAL path: decode the
    * actual pixels with `javax.imageio` and pool them into a
    * `√dim`×`√dim` mean-luma grid ([[ImageIoCodec.lumaGrid]] — `dim` must
    * be a perfect square for image payloads; un-normalized, see there).
    * Audio mimes take the REAL path too: decode the PCM samples with
    * [[PcmCodec]] and pool them into a `dim`-cell mean-|amplitude|
    * envelope ([[PcmCodec.envelopeGrid]]). Other mimes keep the
    * deterministic stand-in for an external embedding model
    * (L2-normalized byte histogram mod dim). */
  def extractFeaturesBatched(media: DataFrame,
      dim: Int = 64): Dataset[MediaFeatures] =
    perRecord(media, "extractFeaturesBatched") { r =>
      Some(
        if (PcmCodec.Mimes(r.mime)) {
          val (_, s) = PcmCodec.samples(r)
          MediaFeatures(r.doc_id, PcmCodec.envelopeGrid(s, dim))
        } else if (ImageIoCodec.Mimes(r.mime)) {
          val g = math.sqrt(dim.toDouble).toInt
          require(g * g == dim,
            s"doc ${r.doc_id}: image feature dim $dim is not a perfect square")
          MediaFeatures(r.doc_id, ImageIoCodec.lumaGrid(ImageIoCodec.read(r), g))
        } else if (AviCodec.Mimes(r.mime)) {
          // REAL video path: frame 0's pixels through the same pooled
          // mean-luma grid the image path uses (multi-frame features go
          // through [[videoFrameGridsBatched]] + an aggregate)
          val g = math.sqrt(dim.toDouble).toInt
          require(g * g == dim,
            s"doc ${r.doc_id}: video feature dim $dim is not a perfect square")
          val (vids, chunks) = AviCodec.videoFrames(r.doc_id, r.content)
          val img = AviCodec.decodeFrame(
            r.doc_id, r.content, chunks.head._1, chunks.head._2, vids)
          MediaFeatures(r.doc_id, ImageIoCodec.lumaGrid(img, g))
        } else {
          // ??? <- real (external) embedding model; deterministic fake
          // (byte histogram mod dim):
          val v = new Array[Float](dim)
          r.content.foreach(b => v(java.lang.Byte.toUnsignedInt(b) % dim) += 1f)
          val norm = math.sqrt(v.map(x => x * x).sum).toFloat
          MediaFeatures(r.doc_id, if (norm == 0f) v else v.map(_ / norm))
        })
    }

  /** REAL still-image pooling onto a RECTANGULAR `gw`×`gh`
    * mean-luma grid ([[ImageIoCodec.lumaGridWH]]) — the decode stage of
    * the perceptual-hash pipeline (graft.ops.MediaFingerprint.dhash63
    * consumes the row-major grid). Kept separate from
    * [[extractFeaturesBatched]] because perceptual hashes need the
    * asymmetric grid shape, not a square embedding. Same per-record
    * shape as [[decodeBatched]]: blobs never cross a shuffle; only
    * (doc, gw·gh floats) rows do. */
  def imageGridsBatched(media: DataFrame, gw: Int,
      gh: Int): Dataset[MediaFeatures] =
    perRecord(media, "imageGridsBatched", ImageIoCodec.Mimes)(r =>
      Some(MediaFeatures(r.doc_id,
        ImageIoCodec.lumaGridWH(ImageIoCodec.read(r), gw, gh))))

  /** One stream's parsed `strh`+`strf` facts as a row — [[AviCodec]]'s
    * per-stream output schema. `width`/`height` are 0 for audio streams,
    * `rate` is the fps numerator for video and the sample rate for
    * audio (`scale` the shared denominator), `length` the frame count
    * (video) or sample-frame count (audio). */
  case class VideoStreamMeta(doc_id: Long, stream_idx: Int,
      stream_type: String, width: Int, height: Int, length: Long,
      rate: Int, scale: Int, channels: Int, bits: Int)

  /** REAL video-container metadata decode: every payload's RIFF
    * headers through [[AviCodec.parse]], one output row PER STREAM —
    * the multimodal twin of [[decodeAudioBatched]], exposing the full
    * stream inventory (a real corpus carries mixed vids+auds
    * containers). Same per-record shape; the movi frame bytes are never
    * touched, so metadata scans stay header-bounded. */
  def decodeVideoStreamsBatched(media: DataFrame): Dataset[VideoStreamMeta] =
    perRecord(media, "decodeVideoStreamsBatched") { r =>
      if (Y4mCodec.Mimes(r.mime)) {
        // Y4M is single-stream by construction: one vids row with the
        // header geometry, the walked frame count, and the F rational
        // as rate/scale (8-bit planar luma).
        val c = Y4mCodec.parse(r.doc_id, r.content)
        Seq(VideoStreamMeta(r.doc_id, 0, "vids", c.width, c.height,
          c.nFrames.toLong, c.fpsNum, c.fpsDen, 0, 8))
      } else AviCodec.parse(r.doc_id, r.content).streams.map { s =>
        VideoStreamMeta(r.doc_id, s.streamIdx, s.fccType,
          s.width, s.height, s.length,
          if (s.fccType == "auds") s.sampleRate else s.rate, s.scale,
          s.channels, if (s.fccType == "auds") s.bitsPerSample else s.bitCount)
      }
    }

  /** One ISO-BMFF track's parsed facts as a row — [[Mp4Codec]]'s
    * per-track output schema, the MP4 twin of [[VideoStreamMeta]].
    * `duration` is in the track's own `timescale` units; `n_samples`
    * is the stts total (frame count for video). Fields a handler kind
    * lacks are 0. */
  case class Mp4TrackMeta(doc_id: Long, track_id: Long, handler: String,
      codec: String, width: Int, height: Int, timescale: Long,
      duration: Long, n_samples: Long, channels: Int, sample_rate: Int)

  /** REAL MP4/ISO-BMFF metadata decode: every payload's box tree
    * through [[Mp4Codec.parse]], one output row PER TRACK — the MP4
    * member of the per-stream decode family
    * ([[decodeVideoStreamsBatched]] for AVI, [[decodeAudioBatched]]
    * for WAV). Same per-record shape; mdat sample bytes are never
    * touched, so metadata scans stay header-bounded. */
  def decodeMp4TracksBatched(media: DataFrame): Dataset[Mp4TrackMeta] =
    perRecord(media, "decodeMp4TracksBatched") { r =>
      Mp4Codec.parse(r.doc_id, r.content).tracks.map { t =>
        Mp4TrackMeta(r.doc_id, t.trackId, t.handler, t.codec,
          t.width, t.height, t.timescale, t.duration, t.nSamples,
          t.channels, t.sampleRate)
      }
    }

  /** One demuxed elementary stream of an MPEG transport stream as a
    * row — [[TsCodec]]'s per-PID output schema plus the PSI facts
    * (program number, PMT/PCR PIDs) every row carries so a consumer
    * can group/join without a second parse. `cc_ok` is the per-PID
    * continuity-counter verdict (mod-16 sequence unbroken). */
  case class TsEsRow(doc_id: Long, program_number: Int, pmt_pid: Int,
      pcr_pid: Int, pid: Int, stream_type: Int, n_packets: Int,
      payload_bytes: Long, n_pusi: Int, cc_ok: Boolean)

  /** REAL MPEG-TS demux: every payload's 188-byte packet layer
    * and PAT/PMT sections through [[TsCodec.parse]] (CRC-validated),
    * one output row PER ELEMENTARY STREAM — the transport-stream member
    * of the per-stream decode family ([[decodeVideoStreamsBatched]] for
    * AVI/Y4M, [[decodeMp4TracksBatched]] for MP4). ES payload bytes are
    * counted, never decoded (H.264/AAC is the documented codec seam).
    * Same per-record shape: blobs never cross a shuffle, only scalar
    * stat rows do. */
  def tsDemuxStatsBatched(media: DataFrame): Dataset[TsEsRow] =
    perRecord(media, "tsDemuxStatsBatched", TsCodec.Mimes) { r =>
      val d = TsCodec.parse(r.doc_id, r.content)
      d.streams.map { s =>
        TsEsRow(r.doc_id, d.programNumber, d.pmtPid, d.pcrPid,
          s.pid, s.streamType, s.nPackets, s.payloadBytes, s.nPusi,
          s.ccErrors == 0)
      }
    }

  /** One FLAC payload's metadata layer as a row — [[FlacCodec]]'s
    * STREAMINFO facts plus the block inventory (`block_types` is the
    * comma-joined type chain in file order) and the undecoded frame
    * region's byte length. */
  case class FlacMetaRow(doc_id: Long, sample_rate: Int, channels: Int,
      bits: Int, total_samples: Long, n_blocks: Int, block_types: String,
      frame_bytes: Long)

  /** REAL FLAC metadata decode: every payload's metadata-block
    * chain through [[FlacCodec.parse]] — the FLAC member of the
    * audio-metadata family ([[decodeAudioBatched]] owns WAV/AIFF/AU via
    * javax.sound; FLAC's packed STREAMINFO bitfields need the
    * self-written walker). Audio FRAMES are Rice/LPC entropy-coded —
    * counted, never decoded (the documented codec seam). Same
    * per-record shape: blobs never cross a shuffle. */
  def flacMetaBatched(media: DataFrame): Dataset[FlacMetaRow] =
    perRecord(media, "flacMetaBatched", FlacCodec.Mimes) { r =>
      val m = FlacCodec.parse(r.doc_id, r.content)
      Some(FlacMetaRow(r.doc_id, m.sampleRate, m.channels, m.bitsPerSample,
        m.totalSamples, m.blockTypes.size, m.blockTypes.mkString(","),
        m.frameBytes))
    }

  /** One WARC record as a row — [[WarcCodec]]'s framing facts, the
    * HTTP split of `response` records, and the document payload bytes
    * (the bytes a crawl ingest hands to the text pipeline).
    * `member_bytes` is the record's own gzip-member compressed size
    * (deflate-implementation-dependent — never oracle it; 0 for plain
    * input). */
  case class WarcRecordRow(doc_id: Long, record_idx: Int, warc_type: String,
      target_uri: String, warc_date: String, content_type: String,
      content_length: Int, http_status: Int, http_header_bytes: Int,
      payload: Array[Byte], member_bytes: Int)

  /** REAL WARC ingest: every payload (plain or Common-Crawl
    * member-gzipped `.warc.gz`, auto-detected) through
    * [[WarcCodec.parse]] — gzip members inflated + CRC-checked, WARC
    * framing walked, `response` records' HTTP layer split so the
    * payload column holds exactly the document bytes. One output row
    * per record. Same per-record shape as the media decoders: archive
    * blobs never cross a shuffle, downstream stages project the scalar
    * facts (or a payload hash) before any keyed op. */
  def warcRecordsBatched(media: DataFrame): Dataset[WarcRecordRow] =
    perRecord(media, "warcRecordsBatched", WarcCodec.Mimes) { r =>
      WarcCodec.parse(r.doc_id, r.content).zipWithIndex.map {
        case (p, i) =>
          WarcRecordRow(r.doc_id, i, p.warcType, p.targetUri, p.date,
            p.contentType, p.contentLength, p.httpStatus,
            p.httpHeaderBytes, p.payload, p.memberBytes)
      }
    }

  /** One MP3's metadata layers as a row — [[Mp3Codec]]'s ID3v2 text
    * facts plus the MPEG frame-walk facts. */
  case class Mp3MetaRow(doc_id: Long, title: String, artist: String,
      tag_bytes: Int, n_frames: Int, bitrate_kbps: Int, sample_rate: Int,
      channels: Int, audio_bytes: Long, duration_ms: Long)

  /** REAL MP3 metadata decode: ID3v2.3 tag walk + MPEG-1
    * Layer III frame-header walk through [[Mp3Codec.parse]] — the
    * compressed-audio member of the audio-metadata family (javax.sound
    * owns WAV/AIFF/AU, [[FlacCodec]] owns FLAC). Huffman frame
    * payloads are counted, never decoded (the documented entropy-codec
    * seam). Same per-record shape: blobs never cross a shuffle. */
  def mp3MetaBatched(media: DataFrame): Dataset[Mp3MetaRow] =
    perRecord(media, "mp3MetaBatched", Mp3Codec.Mimes) { r =>
      val m = Mp3Codec.parse(r.doc_id, r.content)
      Some(Mp3MetaRow(r.doc_id, m.title, m.artist, m.tagBytes, m.nFrames,
        m.bitrateKbps, m.sampleRate, m.channels, m.audioBytes,
        m.durationMs))
    }

  /** One parsed ADTS stream as a row ([[AdtsCodec]]). */
  case class AdtsMetaRow(doc_id: Long, n_frames: Int, profile: Int,
      sample_rate: Int, channels: Int, audio_bytes: Long, duration_ms: Long,
      crc_frames: Int)

  /** REAL ADTS transport walk: every payload's frame headers
    * through [[AdtsCodec.parse]] — the raw-AAC ingest surface next to
    * MP3's ([[mp3MetaBatched]]); framing is byte-exact, the AAC raw
    * data block stays the documented entropy-codec seam. Same
    * per-record shape: audio blobs never cross a shuffle. */
  def adtsMetaBatched(media: DataFrame): Dataset[AdtsMetaRow] =
    perRecord(media, "adtsMetaBatched", AdtsCodec.Mimes) { r =>
      val m = AdtsCodec.parse(r.doc_id, r.content)
      Some(AdtsMetaRow(r.doc_id, m.nFrames, m.profile, m.sampleRate,
        m.channels, m.audioBytes, m.durationMs, m.crcFrames))
    }

  /** One parsed H.264 Annex-B stream as a row ([[H264Codec]]). */
  case class H264MetaRow(doc_id: Long, width: Int, height: Int,
      profile: Int, level: Int, max_frame_num: Int, chroma_format: Int,
      n_idr: Int, n_nonidr: Int, slice_rbsp_bytes: Long,
      slice_rbsp_sum: Long)

  /** REAL H.264 NAL transport walk: every payload's Annex-B
    * start codes, NAL headers, emulation-prevention layer and
    * exp-Golomb SPS through [[H264Codec.parse]] — the compressed-video
    * ingest surface next to raw AAC's ([[adtsMetaBatched]]); the NAL
    * framing and SPS geometry are bit-exact, the slice entropy data
    * stays the documented codec seam. Same per-record shape: video
    * blobs never cross a shuffle. */
  def h264MetaBatched(media: DataFrame): Dataset[H264MetaRow] =
    perRecord(media, "h264MetaBatched", H264Codec.Mimes) { r =>
      val m = H264Codec.parse(r.doc_id, r.content)
      Some(H264MetaRow(r.doc_id, m.width, m.height, m.profile, m.level,
        m.maxFrameNum, m.chromaFormat, m.nIdr, m.nNonIdr,
        m.sliceRbspBytes, m.sliceRbspSum))
    }

  /** One demux→reassemble→NAL-walk chain result as a row: transport
    * facts from [[TsCodec]], stream facts from [[H264Codec]]. */
  case class TsH264Row(doc_id: Long, n_ts_packets: Int,
      payload_bytes: Long, width: Int, height: Int, profile: Int,
      level: Int, max_frame_num: Int, n_idr: Int, n_nonidr: Int,
      slice_rbsp_bytes: Long, slice_rbsp_sum: Long)

  /** REAL broadcast-video ingest chain: demux the transport
    * stream ([[TsCodec.parse]] — PSI + packet stats), locate the H.264
    * PID from the PMT's stream_type registry (0x1B), reassemble its
    * payload under strict continuity, strip the PES header, and walk
    * the recovered Annex-B elementary stream ([[H264Codec.parse]]) —
    * the full path an HLS segment takes from storage to per-stream
    * metadata. Every stage validates; corrupt transport fails loudly
    * with the doc id. Same per-record shape: segment blobs never cross
    * a shuffle. */
  def tsH264ChainBatched(media: DataFrame): Dataset[TsH264Row] =
    perRecord(media, "tsH264ChainBatched", TsCodec.Mimes) { r =>
      val d = TsCodec.parse(r.doc_id, r.content)
      val h264 = d.streams.filter(_.streamType == 0x1b)
      require(h264.size == 1,
        s"doc ${r.doc_id}: expected exactly one H.264 PID in the " +
          s"PMT, found ${h264.size}")
      val st = h264.head
      require(st.ccErrors == 0,
        s"doc ${r.doc_id}: ${st.ccErrors} continuity errors on the " +
          "video PID — refusing to parse a torn stream")
      val es = TsCodec.pesUnwrap(r.doc_id,
        TsCodec.reassemble(r.doc_id, r.content, st.pid))
      val m = H264Codec.parse(r.doc_id, es)
      Some(TsH264Row(r.doc_id, d.nPackets, st.payloadBytes, m.width,
        m.height, m.profile, m.level, m.maxFrameNum, m.nIdr,
        m.nNonIdr, m.sliceRbspBytes, m.sliceRbspSum))
    }

  /** One WebVTT cue as a row ([[VttCodec]]). */
  case class VttCueRow(doc_id: Long, cue_idx: Int, start_ms: Long,
      end_ms: Long, cue_text: String)

  /** REAL WebVTT parse: every payload's cue blocks through
    * [[VttCodec.parse]] — the caption side of video-text training
    * pairs; one output row per cue. Same per-record shape: subtitle
    * blobs never cross a shuffle, downstream alignment joins on scalar
    * (doc, time) columns. */
  def vttCuesBatched(media: DataFrame): Dataset[VttCueRow] =
    perRecord(media, "vttCuesBatched", VttCodec.Mimes) { r =>
      VttCodec.parse(r.doc_id, new String(r.content, "UTF-8")).map { c =>
        VttCueRow(r.doc_id, c.idx, c.startMs, c.endMs, c.text)
      }
    }

  /** One tar member as a row ([[TarCodec]]): the WebDataset convention
    * keys samples by the member name's dot-prefix (`00042.txt` →
    * sample key `00042`, field `txt`), split here so pairing members
    * into samples is a plain relational group-by downstream. */
  case class TarMemberRow(doc_id: Long, sample_key: String, field: String,
      size: Int, payload: Array[Byte])

  /** REAL WebDataset shard ingest: every tar payload's members
    * through [[TarCodec.parse]] (header checksums verified), one row
    * per member with the sample key / field split. Same per-record
    * shape: archive blobs never cross a shuffle — only member rows (or
    * their hashes) reach a keyed op. */
  def webdatasetMembersBatched(media: DataFrame): Dataset[TarMemberRow] =
    perRecord(media, "webdatasetMembersBatched", TarCodec.Mimes) { r =>
      TarCodec.parse(r.doc_id, r.content).map { m =>
        val dot = m.name.lastIndexOf('.')
        val (key, field) =
          if (dot > 0) (m.name.substring(0, dot), m.name.substring(dot + 1))
          else (m.name, "")
        TarMemberRow(r.doc_id, key, field, m.size, m.data)
      }
    }

  /** One zip member as a row, in central-directory order
    * ([[ZipCodec]]): `member_idx` is the directory position, `method`
    * the raw ZIP method id (0 = stored, 8 = deflate), `size` the
    * verified uncompressed byte count. */
  case class ZipMemberRow(doc_id: Long, member_idx: Int, name: String,
      method: Int, size: Int, payload: Array[Byte])

  /** REAL zip-shard walk: every payload through [[ZipCodec.parse]] —
    * end-record tail scan, central-directory walk, local-header
    * cross-checks, stored + deflate decode, CRC-32 verification per
    * member. Same per-record shape as the tar/WARC walks: archive blobs
    * never cross a shuffle; downstream queries reduce payloads to
    * sizes/hashes before any exchange. */
  def zipMembersBatched(media: DataFrame): Dataset[ZipMemberRow] =
    perRecord(media, "zipMembersBatched", ZipCodec.Mimes) { r =>
      ZipCodec.parse(r.doc_id, r.content).zipWithIndex.map {
        case (m, i) =>
          ZipMemberRow(r.doc_id, i, m.name, m.method, m.size, m.data)
      }
    }

  /** One extracted PDF page as a row ([[PdfCodec]]): `text` is the
    * decoded show-operator text in operator order, `n_text_ops` the
    * Tj/TJ count, `content_bytes` the DECODED content-stream size,
    * `flate` whether that stream was FlateDecode-compressed. */
  case class PdfPageRow(doc_id: Long, page_idx: Int, text: String,
      n_text_ops: Int, content_bytes: Int, flate: Boolean)

  /** REAL PDF text extraction: every payload through
    * [[PdfCodec.parse]] — startxref tail scan, classic xref walk,
    * trailer checks (encrypted / xref-stream / incremental files fail
    * loudly), catalog→pages→contents object walk, plain + FlateDecode
    * stream decode, BT/ET + Tj/TJ text scan with the full literal-string
    * escape set. Same per-record shape as the archive walks: document
    * blobs never cross a shuffle — downstream queries reduce each page
    * to text hashes/counters before any exchange. */
  def pdfPagesBatched(media: DataFrame): Dataset[PdfPageRow] =
    perRecord(media, "pdfPagesBatched", PdfCodec.Mimes) { r =>
      PdfCodec.parse(r.doc_id, r.content).pages.zipWithIndex.map {
        case (p, i) =>
          PdfPageRow(r.doc_id, i, p.text, p.nTextOps, p.contentBytes,
            p.flate)
      }
    }

  /** One Ogg stream's page-layer facts as a row ([[OggCodec]]). */
  case class OggMetaRow(doc_id: Long, serial: Int, n_pages: Int,
      n_packets: Int, payload_bytes: Long, last_granule: Long,
      bos_ok: Boolean, eos_ok: Boolean)

  /** REAL Ogg page walk: every payload's page layer through
    * [[OggCodec.parse]] (CRC-verified pages, lacing-framed packet
    * counting, BOS/EOS accounting) — the Opus/Vorbis transport member
    * of the audio-container family. Codec packets are counted, never
    * decoded (the documented entropy-codec seam). Same per-record
    * shape: blobs never cross a shuffle. */
  def oggMetaBatched(media: DataFrame): Dataset[OggMetaRow] =
    perRecord(media, "oggMetaBatched", OggCodec.Mimes) { r =>
      val m = OggCodec.parse(r.doc_id, r.content)
      Some(OggMetaRow(r.doc_id, m.serial, m.nPages, m.nPackets,
        m.payloadBytes, m.lastGranule, m.bosOk, m.eosOk))
    }

  case class FrameFeatures(doc_id: Long, frame_idx: Int, width: Int,
      height: Int, grid: Array[Float])

  /** REAL sampled-frame feature extraction for video containers:
    * frames `0, everyN, 2·everyN, …` of each AVI payload are located by
    * the chunk-size walk (skipped frames cost a header read, not a
    * decode), decoded from their BGR24 pixels, and pooled into a
    * `g`×`g` mean-luma grid each — the per-frame rows an aggregate
    * turns into one per-doc embedding (see q111). Same per-record
    * shape as [[decodeFramesBatched]]; blobs never cross a shuffle,
    * only (doc, frame, g²-float) rows do. */
  def videoFrameGridsBatched(media: DataFrame, everyN: Int,
      g: Int): Dataset[FrameFeatures] = {
    require(everyN >= 1, s"everyN must be >= 1, got $everyN")
    perRecord(media, "videoFrameGridsBatched",
        Mp4Codec.Mimes ++ Y4mCodec.Mimes ++ AviCodec.Mimes) { r =>
      if (Mp4Codec.Mimes(r.mime)) {
        // REAL MP4 sample extraction: the stsc×stsz×stco expansion
        // yields per-frame byte ranges; intra-frame 'jpeg' samples
        // decode through the JDK like AVI-MJPG frame chunks do.
        val c = Mp4Codec.parse(r.doc_id, r.content)
        val v = c.tracks.find(t => t.handler == "vide" && t.samples.nonEmpty)
          .getOrElse(throw new IllegalArgumentException(
            s"doc ${r.doc_id}: MP4 has no 'vide' track with a sample table"))
        require(v.codec == "jpeg",
          s"doc ${r.doc_id}: MP4 video sample format '${v.codec}' is " +
            "inter-frame/entropy-coded and needs a codec library (the " +
            "documented seam); only intra-frame 'jpeg' samples decode here")
        (0 until v.samples.size by everyN).map { f =>
          val (off, sz) = v.samples(f)
          val img = ImageIoCodec.read(r.doc_id, s"MP4 sample $f", r.content,
            off.toInt, sz.toInt)
          FrameFeatures(r.doc_id, f, img.getWidth, img.getHeight,
            ImageIoCodec.lumaGrid(img, g))
        }
      } else if (Y4mCodec.Mimes(r.mime)) {
        // REAL Y4M path: the FRAME-marker walk yields plane offsets;
        // luma is the native Y plane, pooled with the same exact
        // integer statistics as the image path (no RGB roundtrip).
        val c = Y4mCodec.parse(r.doc_id, r.content)
        (0 until c.nFrames by everyN).map { f =>
          FrameFeatures(r.doc_id, f, c.width, c.height,
            Y4mCodec.frameLumaGrid(r.doc_id, r.content, c, f, g))
        }
      } else {
        val (vids, chunks) = AviCodec.videoFrames(r.doc_id, r.content)
        (0 until chunks.size by everyN).map { f =>
          val (off, sz) = chunks(f)
          val img = AviCodec.decodeFrame(r.doc_id, r.content, off, sz, vids)
          FrameFeatures(r.doc_id, f, img.getWidth, img.getHeight,
            ImageIoCodec.lumaGrid(img, g))
        }
      }
    }
  }

  /** Scene-change (shot-boundary) detection over a decoded per-frame
    * luma stream: a frame is a CUT when its mean luma jumps by at least
    * `threshold` versus the previous frame of the same video. Input is
    * any (doc_id, frame_idx, <luma scalar>) frame table — e.g.
    * [[videoFrameGridsBatched]] with g=1 — so the detector composes
    * with every container path (AVI, MJPEG, MP4) the codecs decode.
    * Pure declarative window: one shuffle on doc_id (frames of one
    * video co-locate; 1000-executor safe — no global ordering), lag(1)
    * inside the partition, a filter. Returns the cut frames with both
    * lumas so callers can split scenes or score cut confidence. */
  def sceneCuts(frames: DataFrame, luma: Column, threshold: Double): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    frames
      .withColumn("luma", luma.cast("double"))
      .withColumn("prev_luma", lag(col("luma"), 1).over(w))
      .where(col("prev_luma").isNotNull &&
        abs(col("luma") - col("prev_luma")) >= threshold)
      .select(col("doc_id"), col("frame_idx"), col("prev_luma"), col("luma"))
  }

  /** Frame sampling plan for video-ish payloads: every `everyN`-th frame
    * index up to the (stub-decoded) frame count — the Spark-side plumbing
    * (explode of a per-row index array) is the real part. */
  def sampleFrames(meta: Dataset[MediaMeta], everyN: Int): DataFrame =
    meta.toDF().select(col("doc_id"),
      explode(sequence(lit(0), col("n_frames") - 1, lit(everyN))).as("frame_idx"))

  case class FrameMeta(doc_id: Long, frame_idx: Int, width: Int,
      height: Int, luma: Double)

  /** REAL frame-sample decode for animated containers (the "video"
    * operator this container can actually exercise: multi-frame GIF is
    * the one animated format `javax.imageio` decodes). One reader per
    * payload walks frames `0, everyN, 2·everyN, …` — only the SAMPLED
    * frames are decoded to pixels; skipped frames cost a header seek, not
    * a decode — and emits each sampled frame's dimensions plus its mean
    * luma (the 1×1 [[ImageIoCodec.lumaGrid]] pool, i.e. the real pixel
    * statistic per frame). Same per-record shape as [[decodeBatched]]:
    * blobs never cross a shuffle; the output is (doc, frame) rows of
    * five scalars. */
  def decodeFramesBatched(media: DataFrame, everyN: Int): Dataset[FrameMeta] = {
    require(everyN >= 1, s"everyN must be >= 1, got $everyN")
    perRecord(media, "decodeFramesBatched",
        AviCodec.Mimes ++ ImageIoCodec.Mimes) { r =>
      if (AviCodec.Mimes(r.mime)) {
        // REAL video path: same sampled walk, AviCodec frames
        val (vids, chunks) = AviCodec.videoFrames(r.doc_id, r.content)
        (0 until chunks.size by everyN).map { f =>
          val (off, sz) = chunks(f)
          val img = AviCodec.decodeFrame(r.doc_id, r.content, off, sz, vids)
          FrameMeta(r.doc_id, f, img.getWidth, img.getHeight,
            ImageIoCodec.lumaGrid(img, 1)(0).toDouble)
        }
      } else ImageIoCodec.withImageReader(r) { reader =>
        val n = reader.getNumImages(true)
        (0 until n by everyN).map { f =>
          val img = reader.read(f)
          FrameMeta(r.doc_id, f, img.getWidth, img.getHeight,
            ImageIoCodec.lumaGrid(img, 1)(0).toDouble)
        }
      }
    }
  }
}
