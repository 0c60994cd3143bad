package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.ops.{Caches, EventOps, GraphOps, IvfIndex, Layout, LogReg, LshIndex, TextOps}
import graft.sources.Tables
import graft.pipeline.CurationPipeline
import graft.functions.{BloomMightContain, CosineSimilarity, VectorOps}

/** Storage/wire/multimodal family: clustered and z-order layout
  * scans, wire-format round-trip, image/audio decode. */
/** The synthetic page q170 audits block-by-block and q171 crawls
  * end-to-end: title + style block + link-only nav + a script whose
  * raw text contains markup-looking bytes + the document text chunked
  * into <p> blocks (inline link on odd chunks, an escaped entity in
  * chunk 0) + a link-only footer. Pure ASCII, derived deterministically
  * from the table columns so the oracle can rebuild every block
  * closed-form. A top-level OBJECT (not a trait method) so executor
  * closures reference the module statically instead of capturing the
  * registry instance. */
private[queries] object HtmlPage {
  def of(docId: Long, source: String, text: String): String = {
    import graft.ops.HtmlOps
    // The oracle rebuilds chunks with DuckDB string_split, which KEEPS
    // trailing empty tokens; split with limit -1 matches that exactly
    // (Java's default limit 0 silently drops them — r15 advice). Text
    // with a trailing space or no words at all would still chunk
    // differently downstream (the 'Doc &' block's word count), so the
    // generator REFUSES it loudly instead of hash-mismatching quietly.
    require(text.nonEmpty && !text.endsWith(" "),
      s"doc $docId: page generator needs non-empty text without a " +
        "trailing space")
    val chunks = text.split(" ", -1).grouped(12).take(4).toIndexedSeq
    val ps = chunks.zipWithIndex.map { case (ws, c) =>
      val esc = ws.map(HtmlOps.escape)
      val inner =
        if (c == 0) "Doc &amp; " + esc.mkString(" ")
        else if (c % 2 == 1)
          (s"""<a href="/w/${esc.head}">${esc.head}</a>""" +: esc.tail)
            .mkString(" ")
        else esc.mkString(" ")
      s"<p>$inner</p>"
    }.mkString
    s"<html><head><title>Doc $docId of $source</title>" +
      "<style>body { color: #000; }</style></head><body>" +
      // the About link carries a quoted '>' in an attribute VALUE — the
      // HTML5 tokenizer case the extractor must not mis-split on
      // (attributes contribute no text, so the oracle is unaffected)
      """<nav><a href="/">Home</a> <a href="/a" data-sym="a>b">About</a> """ +
      """<a href="/c">Contact</a></nav>""" +
      "<script>var x = '<p>not a block</p>';</script>" +
      s"""<div class="content">$ps</div>""" +
      """<footer><a href="/p">Privacy</a> <a href="/t">Terms</a></footer>""" +
      "</body></html>"
  }
}

private[queries] trait ExtInfraQueries extends ExtQueryHelpers {
  // ------------------------------------------------------------------ q61
  /** The clustered data layout under the oracle, end-to-end: write the
    * events table range-clustered on user_id (`ops.Layout.clusteredWrite`
    * — range shuffle + in-file sort), scan it back through a pushed range
    * predicate (the layout every file/row-group min-max stat now serves,
    * LayoutSpec proves the disjointness), and the roundtrip — including
    * micros timestamps through the parquet writer — must match the plain
    * filtered table. The filtered result is settled (localized, or
    * checkpointed over the cap — either way it reads no scratch file)
    * so the scratch dir is deleted before returning. */
  private[queries] def q61(spark: SparkSession, dir: String): DataFrame = {
    val tmp = graft.ops.Scratch.tempDir("graft_q61_")
    try {
      Layout.clusteredWrite(
        Tables.events(spark, dir)
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"), col("ts")),
        tmp, files = 8, col("user_id"))
      val filtered = spark.read.parquet(tmp)
        .where(col("user_id").between(2L, 9L))
        .select(col("event_id"), col("user_id"), col("event_type"),
          round(col("value"), 2).as("value_r"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_s"))
        .orderBy(col("event_id"))
      Caches.settle(filtered, maxRows = 1 << 22)
    } finally rmRecursive(tmp)
  }
  private[queries] val q61Sql =
    """SELECT event_id, user_id, event_type, round(value, 2) AS value_r,
      |       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s
      |FROM events WHERE user_id BETWEEN 2 AND 9
      |ORDER BY event_id""".stripMargin


  // ------------------------------------------------------------------ q63
  /** Multi-column Z-ORDER layout under the oracle: write events z-ordered
    * on (user_id, event_id) — rank-bucketed bit interleaving,
    * Layout.zorderWrite — and scan back through a conjunction of range
    * predicates on BOTH columns, the multi-predicate shape single-column
    * clustering cannot serve (LayoutSpec proves either-column row-group
    * pruning from the written footers; this query proves the roundtrip
    * bit-exact). */
  private[queries] def q63(spark: SparkSession, dir: String): DataFrame = {
    val tmp = graft.ops.Scratch.tempDir("graft_q63_")
    try {
      Layout.zorderWrite(
        Tables.events(spark, dir)
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"), col("ts")),
        tmp, files = 8, Seq("user_id", "event_id"))
      val filtered = spark.read.parquet(tmp)
        .where(col("user_id").between(2L, 60L) &&
          col("event_id").between(500L, 5000L))
        .select(col("event_id"), col("user_id"), col("event_type"),
          round(col("value"), 2).as("value_r"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_s"))
        .orderBy(col("event_id"))
      Caches.settle(filtered, maxRows = 1 << 22)
    } finally rmRecursive(tmp)
  }
  private[queries] val q63Sql =
    """SELECT event_id, user_id, event_type, round(value, 2) AS value_r,
      |       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s
      |FROM events
      |WHERE user_id BETWEEN 2 AND 60 AND event_id BETWEEN 500 AND 5000
      |ORDER BY event_id""".stripMargin


  // ------------------------------------------------------------------ q29
  /** Multimodal column plumbing: text bytes stand in for image/audio
    * payloads as an opaque BINARY column; "decode" is the clearly-marked
    * deterministic stub (graft.multimodal.Multimodal has the
    * mapPartitions-batched variant). Schema/partitioning/lineage are real. */
  private[queries] def q29(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal.StubCodec._
    val blob = col("text").cast("binary")
    val nBytes = length(blob)
    Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), lit(FakeMime).as("mime"),
        nBytes.as("n_bytes"),
        (lit(BaseDim) + pmod(nBytes, lit(WidthMod))).as("width"),
        (lit(BaseDim) + pmod(col("doc_id") * HeightMul, lit(HeightMod))).as("height"),
        (lit(1) + pmod(nBytes, lit(FrameMod))).as("n_frames"))
      .orderBy(col("doc_id"))
  }
  private[queries] val q29Sql =
    """SELECT doc_id, 'image/fake' AS mime,
      |       octet_length(encode(text)) AS n_bytes,
      |       64 + octet_length(encode(text)) % 576 AS width,
      |       64 + (doc_id * 37) % 416 AS height,
      |       1 + octet_length(encode(text)) % 29 AS n_frames
      |FROM documents ORDER BY doc_id""".stripMargin


  // ------------------------------------------------------------------ q91
  /** REAL image decode round-trip: render each document a genuine PNG
    * (javax.imageio encode) whose pixel dimensions derive from table
    * columns, ship the compressed bytes as the opaque BINARY media
    * column, and run the production decode path
    * ([[graft.multimodal.Multimodal.decodeBatched]] → ImageIoCodec) to
    * read the dimensions back off the bytes. The oracle recomputes the
    * dimension formulas relationally — the hash can only match if the
    * engine actually parsed the PNG format (q29's stub spelling could
    * not know the width without decoding). Scale shape: encode and
    * decode are two narrow mapPartitions stages — blobs never cross a
    * shuffle; only the (doc_id, dims) result is sorted for the oracle. */
  private[queries] def q91(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.multimodal.Multimodal
    val media = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .mapPartitions(_.map { case (docId, nChars) =>
        val w = 8 + (docId % 24).toInt
        val h = 4 + (nChars % 16).toInt
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var x = 0 // deterministic one-row fill; pixel content is not the contract
        while (x < w) { img.setRGB(x, 0, (x * 2654435761L & 0xffffff).toInt); x += 1 }
        val out = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", out)
        Multimodal.MediaRecord(docId, out.toByteArray, "image/png")
      })
    Multimodal.decodeBatched(spark, media.toDF()).toDF()
      .select(col("doc_id"), col("mime"), col("width"), col("height"),
        col("n_frames"))
      .orderBy(col("doc_id"))
  }
  private[queries] val q91Sql =
    """SELECT doc_id, 'image/png' AS mime,
      |       8 + doc_id % 24 AS width,
      |       4 + n_chars % 16 AS height,
      |       1 AS n_frames
      |FROM documents ORDER BY doc_id""".stripMargin


  // ------------------------------------------------------------------ q95
  /** REAL audio decode round-trip — q91's contract for the audio
    * modality: render each document a genuine WAVE file
    * (javax.sound.sampled encode) whose sample rate / channel count /
    * duration derive from table columns, ship the bytes as the opaque
    * BINARY media column, and run the production decode path
    * ([[graft.multimodal.Multimodal.decodeAudioBatched]] → SoundCodec)
    * to read them back off the RIFF headers. The oracle recomputes the
    * parameter formulas relationally — the hash only matches if the
    * engine actually parsed the format. Durations are chosen to divide
    * the sample rate exactly, so frames·1000/rate is integer-exact on
    * both sides. Same scale shape as q91: two narrow mapPartitions
    * stages, blobs never cross a shuffle. */
  private[queries] def q95(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.multimodal.Multimodal
    val media = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .mapPartitions(_.map { case (docId, nChars) =>
        val rate = if (docId % 2 == 0) 8000 else 16000
        val channels = 1 + (docId % 2).toInt
        val dMs = 100 + (nChars % 400).toInt
        val ns = rate / 1000 * dMs
        val fmt = new javax.sound.sampled.AudioFormat(
          rate.toFloat, 16, channels, true, false)
        val pcm = new Array[Byte](ns * 2 * channels) // silence; content is
        val out = new java.io.ByteArrayOutputStream() // not the contract
        graft.multimodal.SoundIO.write(
          new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(pcm), fmt, ns.toLong),
          javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
        Multimodal.MediaRecord(docId, out.toByteArray, "audio/wav")
      })
    Multimodal.decodeAudioBatched(spark, media.toDF()).toDF()
      .select(col("doc_id"), col("mime"), col("sample_rate"), col("channels"),
        col("n_samples"), col("duration_ms"))
      .orderBy(col("doc_id"))
  }
  private[queries] val q95Sql =
    """SELECT doc_id, 'audio/wav' AS mime,
      |  CASE WHEN doc_id % 2 = 0 THEN 8000 ELSE 16000 END AS sample_rate,
      |  CAST(1 + doc_id % 2 AS INT) AS channels,
      |  (CASE WHEN doc_id % 2 = 0 THEN 8 ELSE 16 END) * (100 + n_chars % 400)
      |    AS n_samples,
      |  100 + n_chars % 400 AS duration_ms
      |FROM documents ORDER BY doc_id""".stripMargin


  // ------------------------------------------------------------------ q99
  /** The full multimodal story under one oracle: REAL decode → REAL
    * pixel-derived embedding → cosine ANN. Each document is rendered a
    * genuine 16×16 PNG of 4×4 constant-gray cells whose values derive
    * from table columns; the production feature path
    * ([[graft.multimodal.Multimodal.extractFeaturesBatched]] →
    * ImageIoCodec.lumaGrid) decodes the compressed bytes and pools the
    * actual pixels into a 4×4 mean-luma grid; brute-force cosine top-3
    * runs over the resulting vectors (q23's shape: broadcast probes, one
    * map-side pass, per-probe top-k window). The oracle recomputes the
    * cell formulas relationally and mirrors the cosine arithmetic term
    * for term (`dot / (sqrt(na)·sqrt(nb))`) — every intermediate sum is
    * an exact integer in double, so the hash can only match if the
    * engine's luma grid read the true pixel values back out of the PNG.
    * Scale shape: encode, decode and featurize are narrow mapPartitions
    * stages — blobs never cross a shuffle; only 16-float vectors do. */
  private[queries] def q99(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.multimodal.Multimodal
    def mediaOf(docs: DataFrame) = docs
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { docId =>
        val img = new java.awt.image.BufferedImage(
          16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < 16) {
          var x = 0
          while (x < 16) {
            val k = (y / 4) * 4 + (x / 4) // flat cell index, row-major
            val v = (1L + ((docId + 1L) * (k + 1L)) % 251L).toInt
            img.setRGB(x, y, (v << 16) | (v << 8) | v)
            x += 1
          }
          y += 1
        }
        val out = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", out)
        Multimodal.MediaRecord(docId, out.toByteArray, "image/png")
      }).toDF()
    val corpus = Multimodal.extractFeaturesBatched(spark,
      mediaOf(Tables.spread(Tables.documents(spark, dir))), dim = 16).toDF()
    // probes filter BEFORE the encode stage: 5 PNGs rendered, not the corpus twice
    val probes = Multimodal.extractFeaturesBatched(spark,
      mediaOf(Tables.documents(spark, dir).where(col("doc_id") < 5)), dim = 16)
      .toDF()
      .select(col("doc_id").as("probe_id"), col("features").as("probe"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("doc_id"))
    corpus.crossJoin(broadcast(probes))
      .where(col("doc_id") =!= col("probe_id"))
      .withColumn("cos", CosineSimilarity.cosineSim(col("features"), col("probe")))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .select(col("probe_id"), col("rn"), col("doc_id").as("neighbor_id"),
        round(col("cos"), 4).as("cos_sim"))
      .orderBy(col("probe_id"), col("rn"))
  }
  private[queries] val q99Sql =
    """WITH v AS (
      |  SELECT doc_id,
      |         list_transform(range(16),
      |           k -> CAST(1 + ((doc_id + 1) * (k + 1)) % 251 AS DOUBLE)) AS e
      |  FROM documents),
      |probes AS (SELECT doc_id AS probe_id, e AS probe FROM v WHERE doc_id < 5),
      |sims AS (
      |  SELECT probe_id, doc_id AS neighbor_id,
      |         list_sum(list_transform(range(16), k -> e[k + 1] * probe[k + 1]))
      |           / (sqrt(list_sum(list_transform(e, x -> x * x)))
      |              * sqrt(list_sum(list_transform(probe, x -> x * x)))) AS cos
      |  FROM v CROSS JOIN probes
      |  WHERE doc_id <> probe_id)
      |SELECT probe_id,
      |       row_number() OVER (PARTITION BY probe_id
      |         ORDER BY cos DESC, neighbor_id) AS rn,
      |       neighbor_id, round(cos, 4) AS cos_sim
      |FROM sims
      |QUALIFY rn <= 3
      |ORDER BY probe_id, rn""".stripMargin


  // ------------------------------------------------------------------ q102
  /** REAL frame-sample decode of an ANIMATED container — the "video"
    * round-trip for the one animated format `javax.imageio` decodes:
    * each document is rendered a genuine multi-frame GIF (2–5 frames of
    * constant gray, values derived from table columns; constant-gray
    * GIF round-trips bit-exact through the 256-entry palette), and the
    * production frame sampler
    * ([[graft.multimodal.Multimodal.decodeFramesBatched]]) walks every
    * 2nd frame, decoding ONLY the sampled frames and emitting each one's
    * real dimensions and mean pixel luma. The oracle recomputes the
    * frame-count and per-frame-gray formulas relationally — the hash
    * only matches if the engine seeked to the right frames inside the
    * container and read their actual pixels. Scale shape: one narrow
    * mapPartitions encode and one decode; blobs never cross a shuffle;
    * output is (doc, frame) scalar rows. */
  private[queries] def q102(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.multimodal.Multimodal
    val media = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { docId =>
        val nf = 2 + (docId % 4).toInt
        val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
        val out = new java.io.ByteArrayOutputStream()
        val ios = javax.imageio.ImageIO.createImageOutputStream(out)
        writer.setOutput(ios)
        writer.prepareWriteSequence(null)
        var f = 0
        while (f < nf) {
          val v = (1L + (docId * 7L + f * 13L) % 251L).toInt
          val img = new java.awt.image.BufferedImage(
            8, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var x = 0
          while (x < 8) {
            var y = 0
            while (y < 4) { img.setRGB(x, y, (v << 16) | (v << 8) | v); y += 1 }
            x += 1
          }
          writer.writeToSequence(
            new javax.imageio.IIOImage(img, null, null), null)
          f += 1
        }
        writer.endWriteSequence()
        ios.close(); writer.dispose()
        Multimodal.MediaRecord(docId, out.toByteArray, "image/gif")
      }).toDF()
    Multimodal.decodeFramesBatched(spark, media, everyN = 2).toDF()
      .select(col("doc_id"), col("frame_idx"), col("width"), col("height"),
        col("luma"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }
  private[queries] val q102Sql =
    """SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
      |       8 AS width, 4 AS height,
      |       CAST(1 + (doc_id * 7 + frame_idx * 13) % 251 AS DOUBLE) AS luma
      |FROM (SELECT doc_id, unnest(range(0, 2 + doc_id % 4, 2)) AS frame_idx
      |      FROM documents)
      |ORDER BY doc_id, frame_idx""".stripMargin


  // ----------------------------------------------------------------- q103
  /** REAL PCM feature extraction under the oracle — the audio analog of
    * q99's pixel story: each document is rendered a genuine mono 8 kHz
    * WAVE whose SAMPLE VALUES (not just headers) derive from table
    * columns — four envelope cells of constant amplitude
    * `1 + ((doc_id+1)·(k+3)) % 1000`, sign alternating every
    * `p = 1 + doc_id % 3` samples — and the production PCM path
    * ([[graft.multimodal.Multimodal.extractAudioFeaturesBatched]] →
    * PcmCodec) decodes the samples and derives zero-crossing count and
    * the 4-cell mean-|amplitude| envelope. The oracle recomputes the
    * formulas relationally: per-cell constant amplitude makes each
    * envelope mean exactly `a_k` (integer → float exact), and the sign
    * period makes crossings exactly `⌊(ns−1)/p⌋` — the hash only matches
    * if the engine decoded the true sample values back out of the RIFF
    * container. Scale shape: encode and featurize are two narrow
    * mapPartitions stages; blobs never cross a shuffle. */
  private[queries] def q103(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.multimodal.Multimodal
    val media = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .mapPartitions(_.map { case (docId, nChars) =>
        val ns = 64 + (nChars % 64).toInt
        val p = 1 + (docId % 3).toInt
        val pcm = new Array[Byte](ns * 2)
        var k = 0
        while (k < 4) {
          // SAME cell bounds the envelope pool uses: [⌊k·ns/4⌋, ⌊(k+1)·ns/4⌋)
          val i0 = k * ns / 4; val i1 = (k + 1) * ns / 4
          val a = (1L + ((docId + 1L) * (k + 3L)) % 1000L).toInt
          var i = i0
          while (i < i1) {
            val v = if ((i / p) % 2 == 0) a else -a
            pcm(i * 2) = (v & 0xff).toByte
            pcm(i * 2 + 1) = ((v >> 8) & 0xff).toByte
            i += 1
          }
          k += 1
        }
        val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
        val out = new java.io.ByteArrayOutputStream()
        graft.multimodal.SoundIO.write(
          new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(pcm), fmt, ns.toLong),
          javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
        Multimodal.MediaRecord(docId, out.toByteArray, "audio/wav")
      }).toDF()
    Multimodal.extractAudioFeaturesBatched(spark, media, cells = 4).toDF()
      .select(col("doc_id"), col("sample_rate"), col("n_samples"),
        col("zero_crossings"),
        element_at(col("envelope"), 1).cast("double").as("env_0"),
        element_at(col("envelope"), 2).cast("double").as("env_1"),
        element_at(col("envelope"), 3).cast("double").as("env_2"),
        element_at(col("envelope"), 4).cast("double").as("env_3"))
      .orderBy(col("doc_id"))
  }
  private[queries] val q103Sql =
    """SELECT doc_id, 8000 AS sample_rate,
      |       CAST(64 + n_chars % 64 AS INT) AS n_samples,
      |       (64 + n_chars % 64 - 1) // (1 + doc_id % 3) AS zero_crossings,
      |       CAST(1 + ((doc_id + 1) * 3) % 1000 AS DOUBLE) AS env_0,
      |       CAST(1 + ((doc_id + 1) * 4) % 1000 AS DOUBLE) AS env_1,
      |       CAST(1 + ((doc_id + 1) * 5) % 1000 AS DOUBLE) AS env_2,
      |       CAST(1 + ((doc_id + 1) * 6) % 1000 AS DOUBLE) AS env_3
      |FROM documents ORDER BY doc_id""".stripMargin


  // ----------------------------------------------------------------- q104
  /** REAL audio resample round-trip under the oracle, at a FRACTIONAL
    * ratio: each document is rendered a genuine mono 12 kHz WAVE of a
    * known integer ramp `s_i = ((doc_id+1)·(i+7)) % 1999 − 999`, the
    * production resampler
    * ([[graft.multimodal.Multimodal.resampleAudioBatched]] →
    * PcmCodec.resampleOne) converts it to 8 kHz — ratio 3/2, so odd
    * output positions interpolate two adjacent samples for real
    * (`⌊(s_{i0}+s_{i0+1})/2⌋`, floor division) while even positions
    * decimate exactly — and the production decoder reads the resampled
    * bytes back for a per-doc checksum. The oracle replays the exact
    * rational arithmetic per output position — the hash only matches if
    * encode → linear-interp resample → WAV re-encode → decode is
    * bit-exact end to end. Scale shape: three narrow mapPartitions
    * stages; blobs never cross a shuffle; only 6 scalars per doc do. */
  private[queries] def q104(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.multimodal.Multimodal
    val media = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .mapPartitions(_.map { case (docId, nChars) =>
        val ns = 48 + (nChars % 48).toInt
        val pcm = new Array[Byte](ns * 2)
        var i = 0
        while (i < ns) {
          val v = (((docId + 1L) * (i + 7L)) % 1999L - 999L).toInt
          pcm(i * 2) = (v & 0xff).toByte
          pcm(i * 2 + 1) = ((v >> 8) & 0xff).toByte
          i += 1
        }
        val fmt = new javax.sound.sampled.AudioFormat(12000f, 16, 1, true, false)
        val out = new java.io.ByteArrayOutputStream()
        graft.multimodal.SoundIO.write(
          new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(pcm), fmt, ns.toLong),
          javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
        Multimodal.MediaRecord(docId, out.toByteArray, "audio/wav")
      }).toDF()
    Multimodal.resampleAudioBatched(spark, media, targetRate = 8000)
      .mapPartitions(_.map { r =>
        val (rate, s) = Multimodal.PcmCodec.samples(r)
        (r.doc_id, rate, s.length, s.map(_.toLong).sum, s.head, s.last)
      }).toDF("doc_id", "rate_out", "n_out", "checksum", "v_first", "v_last")
      .orderBy(col("doc_id"))
  }
  private[queries] val q104Sql =
    """WITH d AS (SELECT doc_id, 48 + n_chars % 48 AS ns FROM documents),
      |r AS (SELECT doc_id, ns, ((ns - 1) * 2) // 3 + 1 AS n_out FROM d),
      |vals AS (SELECT doc_id, n_out,
      |  list_transform(range(n_out), j -> CASE WHEN j % 2 = 0
      |    THEN ((doc_id + 1) * ((3 * j) // 2 + 7)) % 1999 - 999
      |    ELSE CAST(floor(((((doc_id + 1) * ((3 * j) // 2 + 7)) % 1999 - 999)
      |         + (((doc_id + 1) * ((3 * j) // 2 + 8)) % 1999 - 999)) / 2.0)
      |         AS BIGINT) END) AS v
      |  FROM r)
      |SELECT doc_id, 8000 AS rate_out, CAST(n_out AS INT) AS n_out,
      |       CAST(list_sum(v) AS BIGINT) AS checksum,
      |       CAST(v[1] AS INT) AS v_first, CAST(v[n_out] AS INT) AS v_last
      |FROM vals ORDER BY doc_id""".stripMargin


  // ------------------------------------------------------------------ q55
  /** Full EP1 wire-format roundtrip under the oracle: events → Kinesis
    * envelope encode → the producer's `{"Records": [...]}` batch wrapper
    * WITH its 5%-of-batches / 1-10-duplicates model (producer.py:142-167)
    * → batch explode → base64/JSON decode → first-wins dedup. The output
    * must equal the original table exactly — one query exercising the
    * whole wire chain (json+base64 both ways, the batch dict, the
    * batch-shaped duplicate distribution, schema-bound decode) against a
    * trivial oracle. All narrow maps except the one batch groupBy and the
    * dedup shuffle. */
  private[queries] def q55(spark: SparkSession, dir: String): DataFrame = {
    val BATCH = 100
    val wireSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("ts_us", org.apache.spark.sql.types.LongType)))
    val packed = Tables.events(spark, dir).select(
      (col("event_id") / BATCH).cast("long").as("batch_id"), col("event_id"),
      EventOps.encodeEnvelope(struct(
        col("event_id"), col("user_id"), col("event_type"), col("value"),
        unix_micros(col("ts")).as("ts_us")), col("event_id").cast("string")).as("record"))
    val batches = packed.groupBy(col("batch_id"))
      .agg(sort_array(collect_list(struct(col("event_id"), col("record")))).as("rs"))
      .select(col("batch_id"), transform(col("rs"), r => r.getField("record")).as("records"))
    val withDups = batches.withColumn("records",
        when(pmod(xxhash64(col("batch_id"), lit(101)), lit(100)) < 5,
          concat(col("records"), slice(col("records"), lit(1),
            (pmod(xxhash64(col("batch_id"), lit(103)), lit(10)) + 1).cast("int"))))
          .otherwise(col("records")))
      .select(to_json(struct(col("records").as("Records"))).as("batch"))
    val decoded = EventOps.explodeRecordsBatch(withDups)
      .select(EventOps.decodeEnvelope(col("record"), wireSchema).as("e"))
      .select(col("e.*"))
    EventOps.dedupFirstWins(decoded, Seq("event_id"), Seq(col("ts_us")))
      .select(col("event_id"), col("user_id"), col("event_type"),
        round(col("value"), 2).as("value_r"),
        date_format(timestamp_micros(col("ts_us")), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_s"))
      .orderBy(col("event_id"))
  }
  private[queries] val q55Sql =
    """SELECT event_id, user_id, event_type, round(value, 2) AS value_r,
      |       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s
      |FROM events ORDER BY event_id""".stripMargin


  // ----------------------------------------------------------------- q110
  /** REAL video-container decode round-trip — q95's contract for the
    * video modality, closing the multimodal metadata matrix: each
    * document is rendered a genuine two-stream uncompressed AVI
    * (self-written RIFF writer, [[graft.multimodal.AviCodec.encode]])
    * whose vids dimensions / frame count / fps and auds sample rate /
    * length derive from table columns, shipped as the opaque BINARY
    * media column, and decoded back PER STREAM by the production path
    * ([[graft.multimodal.Multimodal.decodeVideoStreamsBatched]] →
    * AviCodec.parse walking the RIFF chunk tree). The oracle recomputes
    * the parameter formulas relationally — the hash only matches if the
    * engine actually parsed avih/strh/strf headers out of the container
    * (frame payload bytes are never read: metadata scans stay
    * header-bounded). Scale shape: two narrow mapPartitions stages,
    * blobs never cross a shuffle, only per-stream scalar rows do. */
  private[queries] def q110(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.multimodal.{AviCodec, Multimodal}
    val media = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .mapPartitions(_.map { case (docId, nChars) =>
        val w = 8 + (docId % 24).toInt
        val h = 4 + (nChars % 16).toInt
        val nf = 1 + (docId % 5).toInt
        val fps = 10 + (docId % 20).toInt
        val sr = 8000 * (1 + (docId % 2).toInt)
        val ns = 32 + (nChars % 64).toInt
        // frame content is not this query's contract (black frames);
        // q111 pins the pixel path
        val frames = Seq.fill(nf)(new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB))
        val bytes = AviCodec.encode(frames, rate = fps, scale = 1,
          audio = Some((sr, new Array[Byte](ns * 2))))
        Multimodal.MediaRecord(docId, bytes, "video/avi")
      }).toDF()
    Multimodal.decodeVideoStreamsBatched(spark, media).toDF()
      .select(col("doc_id"), col("stream_idx"), col("stream_type"),
        col("width"), col("height"), col("length"), col("rate"),
        col("scale"), col("channels"), col("bits"))
      .orderBy(col("doc_id"), col("stream_idx"))
  }
  private[queries] val q110Sql =
    """SELECT doc_id, CAST(0 AS INT) AS stream_idx, 'vids' AS stream_type,
      |       CAST(8 + doc_id % 24 AS INT) AS width,
      |       CAST(4 + n_chars % 16 AS INT) AS height,
      |       CAST(1 + doc_id % 5 AS BIGINT) AS length,
      |       CAST(10 + doc_id % 20 AS INT) AS rate,
      |       CAST(1 AS INT) AS scale,
      |       CAST(0 AS INT) AS channels, CAST(24 AS INT) AS bits
      |FROM documents
      |UNION ALL
      |SELECT doc_id, CAST(1 AS INT), 'auds', CAST(0 AS INT), CAST(0 AS INT),
      |       CAST(32 + n_chars % 64 AS BIGINT),
      |       CAST(8000 * (1 + doc_id % 2) AS INT),
      |       CAST(1 AS INT), CAST(1 AS INT), CAST(16 AS INT)
      |FROM documents
      |ORDER BY doc_id, stream_idx""".stripMargin


  // ----------------------------------------------------------------- q111
  /** The full VIDEO story under one oracle — q99's pixel→embedding→ANN
    * chain over the real AVI frame path: each document is rendered a
    * genuine uncompressed AVI of 2–4 8×8 frames, each frame four 4×4
    * constant-gray quadrants whose values derive from table columns;
    * the production sampler
    * ([[graft.multimodal.Multimodal.videoFrameGridsBatched]]) walks
    * every 2nd frame chunk (skipped frames cost a header read, not a
    * decode), decodes the BGR24 pixels, pools each sampled frame into a
    * 2×2 mean-luma grid, and a per-doc aggregate averages the sampled
    * grids into one embedding; brute-force cosine top-3 runs over the
    * result (q23's shape: broadcast probes, per-probe top-k window).
    * Frame-sample counts are kept DYADIC (1 or 2) so the float means
    * are exact and the double cosine matches the oracle bit-for-bit —
    * the hash only matches if the engine seeked the right frame chunks
    * and read their true pixels. Scale shape: encode/decode/pool are
    * narrow mapPartitions stages; blobs never cross a shuffle — only
    * (doc, frame, 4-float) rows reach the one aggregate. */
  private[queries] def q111(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.multimodal.{AviCodec, Multimodal}
    def mediaOf(docs: DataFrame) = docs
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { docId =>
        val nf = 2 + (docId % 3).toInt // sampled count 1 (nf=2) or 2 (nf=3,4)
        val frames = (0 until nf).map { f =>
          val img = new java.awt.image.BufferedImage(
            8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < 8) {
            var x = 0
            while (x < 8) {
              val k = (y / 4) * 2 + (x / 4) // row-major 2×2 quadrant index
              val v = (1L + ((docId + 1L) * (f + 2L) * (k + 1L)) % 251L).toInt
              img.setRGB(x, y, (v << 16) | (v << 8) | v)
              x += 1
            }
            y += 1
          }
          img
        }
        Multimodal.MediaRecord(docId, AviCodec.encode(frames, rate = 10),
          "video/avi")
      }).toDF()
    def featsOf(docs: DataFrame) =
      Multimodal.videoFrameGridsBatched(spark, mediaOf(docs), everyN = 2, g = 2)
        .toDF()
        .groupBy(col("doc_id"))
        // dyadic sample counts make the float cast exact (scaladoc above)
        .agg(array((1 to 4).map(i =>
          avg(element_at(col("grid"), i)).cast("float")): _*).as("features"))
    val corpus = featsOf(Tables.spread(Tables.documents(spark, dir)))
    // probes filter BEFORE the encode stage: 5 AVIs rendered, not the corpus twice
    val probes = featsOf(Tables.documents(spark, dir).where(col("doc_id") < 5))
      .select(col("doc_id").as("probe_id"), col("features").as("probe"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("doc_id"))
    corpus.crossJoin(broadcast(probes))
      .where(col("doc_id") =!= col("probe_id"))
      .withColumn("cos", CosineSimilarity.cosineSim(col("features"), col("probe")))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .select(col("probe_id"), col("rn"), col("doc_id").as("neighbor_id"),
        round(col("cos"), 4).as("cos_sim"))
      .orderBy(col("probe_id"), col("rn"))
  }
  private[queries] val q111Sql =
    """WITH v AS (
      |  SELECT doc_id,
      |    list_transform(range(4), k -> CASE WHEN doc_id % 3 = 0
      |      THEN CAST(1 + ((doc_id + 1) * 2 * (k + 1)) % 251 AS DOUBLE)
      |      ELSE (CAST(1 + ((doc_id + 1) * 2 * (k + 1)) % 251 AS DOUBLE)
      |            + (1 + ((doc_id + 1) * 4 * (k + 1)) % 251)) / 2.0 END) AS e
      |  FROM documents),
      |probes AS (SELECT doc_id AS probe_id, e AS probe FROM v WHERE doc_id < 5),
      |sims AS (
      |  SELECT probe_id, doc_id AS neighbor_id,
      |         list_sum(list_transform(range(4), k -> e[k + 1] * probe[k + 1]))
      |           / (sqrt(list_sum(list_transform(e, x -> x * x)))
      |              * sqrt(list_sum(list_transform(probe, x -> x * x)))) AS cos
      |  FROM v CROSS JOIN probes
      |  WHERE doc_id <> probe_id)
      |SELECT probe_id,
      |       row_number() OVER (PARTITION BY probe_id
      |         ORDER BY cos DESC, neighbor_id) AS rn,
      |       neighbor_id, round(cos, 4) AS cos_sim
      |FROM sims
      |QUALIFY rn <= 3
      |ORDER BY probe_id, rn""".stripMargin


  // ----------------------------------------------------------------- q113
  /** COMPRESSED-video decode under the oracle — Motion-JPEG through the
    * real JDK JPEG decoder: each document is rendered a genuine MJPEG
    * AVI ([[graft.multimodal.AviCodec.encodeMjpg]] — every frame chunk
    * a standalone JPEG) of 16×16 frames whose four 8×8 constant-gray
    * quadrants derive from table columns; the production sampler
    * ([[graft.multimodal.Multimodal.videoFrameGridsBatched]]) walks
    * every frame chunk, dispatches on `biCompression = 'MJPG'` into
    * `javax.imageio`'s JPEG decode, and pools each frame into a 2×2
    * mean-luma grid. Quadrants are 8×8-BLOCK-ALIGNED, so each JPEG
    * block is DC-only and the DCT round-trip is bit-exact (pinned by
    * AviCodecSpec across all 256 gray levels) — the oracle recomputes
    * the quadrant formula relationally, and the hash only matches if
    * the engine actually inverse-DCT'd the compressed frames back to
    * the source pixels. Scale shape: two narrow mapPartitions stages,
    * blobs never shuffle, only (doc, frame, 4-int) rows do. */
  private[queries] def q113(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.multimodal.{AviCodec, Multimodal}
    val media = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { docId =>
        val nf = 1 + (docId % 3).toInt
        val frames = (0 until nf).map { f =>
          val img = new java.awt.image.BufferedImage(
            16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < 16) {
            var x = 0
            while (x < 16) {
              val k = (y / 8) * 2 + (x / 8) // row-major 2×2 quadrant index
              val v = (1L + ((docId + 2L) * (f + 1L) * (k + 3L)) % 250L).toInt
              img.setRGB(x, y, (v << 16) | (v << 8) | v)
              x += 1
            }
            y += 1
          }
          img
        }
        Multimodal.MediaRecord(docId,
          AviCodec.encodeMjpg(frames, rate = 10), "video/avi")
      }).toDF()
    Multimodal.videoFrameGridsBatched(spark, media, everyN = 1, g = 2).toDF()
      .select(col("doc_id"), col("frame_idx"), col("width"), col("height"),
        element_at(col("grid"), 1).cast("int").as("q1"),
        element_at(col("grid"), 2).cast("int").as("q2"),
        element_at(col("grid"), 3).cast("int").as("q3"),
        element_at(col("grid"), 4).cast("int").as("q4"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }
  private[queries] val q113Sql =
    """WITH f AS (
      |  SELECT doc_id, unnest(range(1 + doc_id % 3)) AS frame_idx
      |  FROM documents)
      |SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
      |       CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
      |       CAST(1 + ((doc_id + 2) * (frame_idx + 1) * 3) % 250 AS INT) AS q1,
      |       CAST(1 + ((doc_id + 2) * (frame_idx + 1) * 4) % 250 AS INT) AS q2,
      |       CAST(1 + ((doc_id + 2) * (frame_idx + 1) * 5) % 250 AS INT) AS q3,
      |       CAST(1 + ((doc_id + 2) * (frame_idx + 1) * 6) % 250 AS INT) AS q4
      |FROM f ORDER BY doc_id, frame_idx""".stripMargin


  // ----------------------------------------------------------------- q114
  /** Video frame-rate resample under the oracle — the temporal member
    * of the resample family (q104 is the audio one): each document is
    * rendered an uncompressed AVI of solid-gray frames at a per-doc
    * source fps, pushed through the production
    * [[graft.multimodal.Multimodal.resampleVideoBatched]] kernel
    * (duration-preserving `⌊nIn·dst/src⌋` output count,
    * nearest-lower-frame selection `⌊j·src/dst⌋` — drops on
    * downsample, duplicates on upsample; both directions exercised by
    * the fps spread), and the resampled container is re-decoded by
    * [[graft.multimodal.Multimodal.decodeFramesBatched]]. The oracle
    * replays the integer frame-mapping arithmetic relationally: the
    * hash only matches if output frame `j` carries the true pixels of
    * source frame `⌊j·src/dst⌋` through the rewrite. Scale shape:
    * three narrow mapPartitions stages, blobs never shuffle. */
  private[queries] def q114(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.multimodal.{AviCodec, Multimodal}
    val media = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { docId =>
        val nf = 4 + (docId % 4).toInt
        val src = 10 + (docId % 5).toInt // 10..14 fps: both directions vs 12
        val frames = (0 until nf).map { f =>
          val img = new java.awt.image.BufferedImage(
            8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
          val v = (1L + ((docId + 1L) * (f + 3L)) % 251L).toInt
          var y = 0
          while (y < 8) {
            var x = 0
            while (x < 8) { img.setRGB(x, y, (v << 16) | (v << 8) | v); x += 1 }
            y += 1
          }
          img
        }
        Multimodal.MediaRecord(docId,
          AviCodec.encode(frames, rate = src), "video/avi")
      }).toDF()
    val resampled = Multimodal.resampleVideoBatched(spark, media, targetFps = 12)
    Multimodal.decodeFramesBatched(spark, resampled.toDF(), everyN = 1).toDF()
      .select(col("doc_id"), col("frame_idx"), col("width"), col("height"),
        col("luma").cast("int").as("luma"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }
  private[queries] val q114Sql =
    """WITH p AS (
      |  SELECT doc_id, 4 + doc_id % 4 AS nf, 10 + doc_id % 5 AS src
      |  FROM documents),
      |f AS (SELECT doc_id, src, unnest(range((nf * 12) // src)) AS j FROM p)
      |SELECT doc_id, CAST(j AS INT) AS frame_idx,
      |       CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
      |       CAST(1 + ((doc_id + 1) * (((j * src) // 12) + 3)) % 251 AS INT) AS luma
      |FROM f ORDER BY doc_id, frame_idx""".stripMargin


  // ----------------------------------------------------------------- q115
  /** REAL MP4/ISO-BMFF metadata decode under the oracle — q110's
    * contract for the DOMINANT real-world container: each document is
    * rendered a genuine two-track MP4 ([[graft.multimodal.Mp4Codec
    * .encode]] — ftyp + moov box tree with per-track tkhd/mdhd/hdlr/
    * stsd/stts) whose avc1 video dims / frame count / timescale and
    * mp4a channels / sample rate / sample count derive from table
    * columns, shipped as the opaque BINARY column, and parsed back PER
    * TRACK by the production box-walker
    * ([[graft.multimodal.Multimodal.decodeMp4TracksBatched]]). The
    * oracle recomputes the parameter formulas relationally — the hash
    * only matches if the engine actually walked the big-endian box
    * tree (mdat sample bytes are never read: metadata scans stay
    * header-bounded; SAMPLE decode for H.264/AAC is the documented
    * codec-library seam). Scale shape: two narrow mapPartitions
    * stages, blobs never cross a shuffle, only per-track scalar rows
    * do. */
  private[queries] def q115(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.multimodal.{Mp4Codec, Multimodal}
    val media = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .mapPartitions(_.map { case (docId, nChars) =>
        val w = 16 + (docId % 120).toInt
        val h = 16 + (nChars % 90).toInt
        val nf = 24 + (docId % 48)
        val ch = 1 + (docId % 2).toInt
        val sr = 8000 * (1 + (docId % 3).toInt)
        val ns = 1000 + (nChars % 500)
        val bytes = Mp4Codec.encode(movieTimescale = 1000,
          movieDuration = nf * 40,
          tracks = Seq(
            Mp4Codec.TrackSpec(trackId = 1, video = true, width = w,
              height = h, timescale = 600, duration = nf * 25, nSamples = nf),
            Mp4Codec.TrackSpec(trackId = 2, video = false, channels = ch,
              sampleRate = sr, timescale = sr, duration = ns, nSamples = ns)))
        Multimodal.MediaRecord(docId, bytes, "video/mp4")
      }).toDF()
    Multimodal.decodeMp4TracksBatched(spark, media).toDF()
      .select(col("doc_id"), col("track_id"), col("handler"), col("codec"),
        col("width"), col("height"), col("timescale"), col("duration"),
        col("n_samples"), col("channels"), col("sample_rate"))
      .orderBy(col("doc_id"), col("track_id"))
  }
  private[queries] val q115Sql =
    """SELECT doc_id, CAST(1 AS BIGINT) AS track_id, 'vide' AS handler,
      |       'avc1' AS codec,
      |       CAST(16 + doc_id % 120 AS INT) AS width,
      |       CAST(16 + n_chars % 90 AS INT) AS height,
      |       CAST(600 AS BIGINT) AS timescale,
      |       CAST((24 + doc_id % 48) * 25 AS BIGINT) AS duration,
      |       CAST(24 + doc_id % 48 AS BIGINT) AS n_samples,
      |       CAST(0 AS INT) AS channels, CAST(0 AS INT) AS sample_rate
      |FROM documents
      |UNION ALL
      |SELECT doc_id, CAST(2 AS BIGINT), 'soun', 'mp4a',
      |       CAST(0 AS INT), CAST(0 AS INT),
      |       CAST(8000 * (1 + doc_id % 3) AS BIGINT),
      |       CAST(1000 + n_chars % 500 AS BIGINT),
      |       CAST(1000 + n_chars % 500 AS BIGINT),
      |       CAST(1 + doc_id % 2 AS INT),
      |       CAST(8000 * (1 + doc_id % 3) AS INT)
      |FROM documents
      |ORDER BY doc_id, track_id""".stripMargin


  // ----------------------------------------------------------------- q117
  /** REAL MP4 SAMPLE decode under the oracle — the step past q115's
    * metadata walk: each document is rendered a genuine Motion-JPEG MP4
    * ([[graft.multimodal.Mp4Codec.encodeMjpg]] — every `mdat` sample a
    * standalone JPEG, located by a real stts/stsc/stsz/stco sample
    * table with 2 samples per chunk so the stsc run expansion is
    * exercised), and the production extractor
    * ([[graft.multimodal.Multimodal.videoFrameGridsBatched]]'s MP4
    * branch) expands the table to per-sample byte ranges, decodes each
    * through the JDK JPEG decoder, and pools a 2×2 mean-luma grid.
    * Frames are 16×16 with 8×8-BLOCK-ALIGNED constant-gray quadrants
    * from table columns (q113's bit-exact-DCT trick), so the oracle can
    * recompute the quadrant formula relationally — the hash only
    * matches if the engine really expanded the sample table to the
    * right byte ranges AND inverse-DCT'd the samples back to the source
    * pixels. Scale shape: two narrow mapPartitions stages, blobs never
    * cross a shuffle, only (doc, frame, 4-int) rows do. */
  private[queries] def q117(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.multimodal.{Mp4Codec, Multimodal}
    val media = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { docId =>
        val nf = 2 + (docId % 4).toInt // 2..5 frames: 1..3 chunks at spc=2
        val frames = (0 until nf).map { f =>
          val img = new java.awt.image.BufferedImage(
            16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < 16) {
            var x = 0
            while (x < 16) {
              val k = (y / 8) * 2 + (x / 8) // row-major 2×2 quadrant index
              val v = (1L + ((docId + 3L) * (f + 2L) * (k + 5L)) % 250L).toInt
              img.setRGB(x, y, (v << 16) | (v << 8) | v)
              x += 1
            }
            y += 1
          }
          img
        }
        Multimodal.MediaRecord(docId,
          Mp4Codec.encodeMjpg(frames, samplesPerChunk = 2), "video/mp4")
      }).toDF()
    Multimodal.videoFrameGridsBatched(spark, media, everyN = 1, g = 2).toDF()
      .select(col("doc_id"), col("frame_idx"), col("width"), col("height"),
        element_at(col("grid"), 1).cast("int").as("q1"),
        element_at(col("grid"), 2).cast("int").as("q2"),
        element_at(col("grid"), 3).cast("int").as("q3"),
        element_at(col("grid"), 4).cast("int").as("q4"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }
  private[queries] val q117Sql =
    """WITH f AS (
      |  SELECT doc_id, unnest(range(2 + doc_id % 4)) AS frame_idx
      |  FROM documents)
      |SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
      |       CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
      |       CAST(1 + ((doc_id + 3) * (frame_idx + 2) * 5) % 250 AS INT) AS q1,
      |       CAST(1 + ((doc_id + 3) * (frame_idx + 2) * 6) % 250 AS INT) AS q2,
      |       CAST(1 + ((doc_id + 3) * (frame_idx + 2) * 7) % 250 AS INT) AS q3,
      |       CAST(1 + ((doc_id + 3) * (frame_idx + 2) * 8) % 250 AS INT) AS q4
      |FROM f ORDER BY doc_id, frame_idx""".stripMargin


  // ----------------------------------------------------------------- q121
  /** REAL MP4 PCM sample decode under the oracle — q117's audio twin
    * and q103's container variant: each document is rendered a genuine
    * mono 8 kHz `twos` (big-endian 16-bit PCM) MP4
    * ([[graft.multimodal.Mp4Codec.encodePcm16]] — UNIFORM stsz, the
    * layout real PCM tracks use), sample values from the q103 cell
    * formula, and the production audio path
    * ([[graft.multimodal.Multimodal.extractAudioFeaturesBatched]] →
    * PcmCodec's MP4 branch) expands the sample table, decodes each
    * big-endian frame out of `mdat`, and derives zero-crossings + the
    * 4-cell envelope. The oracle recomputes the formulas relationally —
    * the hash only matches if the engine really read the PCM through
    * the stsc×stsz×stco ranges. Scale shape: two narrow mapPartitions
    * stages; blobs never cross a shuffle. */
  private[queries] def q121(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.multimodal.{Mp4Codec, Multimodal}
    val media = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .mapPartitions(_.map { case (docId, nChars) =>
        val ns = 64 + (nChars % 64).toInt
        val p = 2 + (docId % 3).toInt
        val s = new Array[Int](ns)
        var k = 0
        while (k < 4) {
          // SAME cell bounds the envelope pool uses
          val i0 = k * ns / 4; val i1 = (k + 1) * ns / 4
          val a = (1L + ((docId + 2L) * (k + 4L)) % 1000L).toInt
          var i = i0
          while (i < i1) {
            s(i) = if ((i / p) % 2 == 0) a else -a
            i += 1
          }
          k += 1
        }
        Multimodal.MediaRecord(docId,
          Mp4Codec.encodePcm16(s, sampleRate = 8000, samplesPerChunk = 25),
          "audio/mp4")
      }).toDF()
    Multimodal.extractAudioFeaturesBatched(spark, media, cells = 4).toDF()
      .select(col("doc_id"), col("sample_rate"), col("n_samples"),
        col("zero_crossings"),
        element_at(col("envelope"), 1).cast("double").as("env_0"),
        element_at(col("envelope"), 2).cast("double").as("env_1"),
        element_at(col("envelope"), 3).cast("double").as("env_2"),
        element_at(col("envelope"), 4).cast("double").as("env_3"))
      .orderBy(col("doc_id"))
  }
  private[queries] val q121Sql =
    """SELECT doc_id, 8000 AS sample_rate,
      |       CAST(64 + n_chars % 64 AS INT) AS n_samples,
      |       (64 + n_chars % 64 - 1) // (2 + doc_id % 3) AS zero_crossings,
      |       CAST(1 + ((doc_id + 2) * 4) % 1000 AS DOUBLE) AS env_0,
      |       CAST(1 + ((doc_id + 2) * 5) % 1000 AS DOUBLE) AS env_1,
      |       CAST(1 + ((doc_id + 2) * 6) % 1000 AS DOUBLE) AS env_2,
      |       CAST(1 + ((doc_id + 2) * 7) % 1000 AS DOUBLE) AS env_3
      |FROM documents ORDER BY doc_id""".stripMargin


  // ----------------------------------------------------------------- q135
  /** Format-interop roundtrip under the oracle — the export/ingest
    * surface a pipeline needs beyond its native parquet (q61/q63 cover
    * parquet layouts): the documents table is written to ORC and to
    * quoted CSV (both Spark-native, partition-parallel writers), read
    * back — CSV through an EXPLICIT schema, never inference — and
    * per-language counts/char-sums are taken from the ROUNDTRIPPED
    * bytes. The oracle aggregates the original parquet: the hash
    * matches only if both format encoders/decoders preserved every row
    * and every text byte (commas, quotes and unicode riding CSV's
    * quoting rules). Scale shape: two narrow format-encode passes and
    * two scans — no shuffle beyond the final small aggregate; formats
    * write partition-parallel exactly like the parquet sinks. */
  private[queries] def q135(spark: SparkSession, dir: String): DataFrame = {
    val tmp = graft.ops.Scratch.tempDir("graft_q135_")
    try {
      val docs = Tables.spread(Tables.documents(spark, dir))
        .select(col("doc_id"), col("lang"), col("text"))
      docs.write.mode("overwrite").orc(s"$tmp/orc")
      docs.write.mode("overwrite").option("header", "true").csv(s"$tmp/csv")
      val orc = spark.read.orc(s"$tmp/orc")
        .groupBy(col("lang")).agg(count(lit(1)).as("n_docs_orc"),
          sum(length(col("text"))).as("sum_chars"))
      // multiLine + escape: document text containing a newline round-trips
      // through CSV quoting on write, but the default line-split reader
      // would shred it into two malformed rows and silently diverge.
      val csv = spark.read.schema("doc_id BIGINT, lang STRING, text STRING")
        .option("header", "true").option("multiLine", "true")
        .option("escape", "\"").csv(s"$tmp/csv")
        .groupBy(col("lang")).agg(count(lit(1)).as("n_docs_csv"))
      localizeRows(
        orc.join(csv, "lang")
          .select(col("lang"), col("n_docs_orc"), col("n_docs_csv"),
            col("sum_chars")),
        Seq("lang"))
    } finally rmRecursive(tmp)
  }
  private[queries] val q135Sql =
    """SELECT lang, count(*) AS n_docs_orc, count(*) AS n_docs_csv,
      |       CAST(sum(length(text)) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin


  // ----------------------------------------------------------------- q127
  /** IMAGE perceptual near-dup under the oracle — dHash + banded
    * Hamming, the pixel-side twin of the SimHash text path (q107):
    * each document is rendered a genuine PNG of 9×8 constant-gray 2×2
    * cells whose BASE pattern derives from a content key
    * (`doc_id % 101` — ~5 visual duplicates per key at sf0.01) and
    * whose per-doc GLOBAL brightness offset (`doc_id % 20`) is exactly
    * the perturbation dHash is built to ignore: every bit is an
    * adjacent-cell `>`, so a uniform offset flips nothing and
    * brightness-shifted copies still collide. The production path is
    * decode → [[graft.multimodal.Multimodal.imageGridsBatched]] (9×8
    * mean-luma pool of the REAL pixels) →
    * [[graft.ops.MediaFingerprint.dhash63]] → the same 4×16-bit band
    * bucketing / hot-bucket cap / popcount-of-XOR verify machinery as
    * q107 (pigeonhole: Hamming ≤ 3 shares a band). Everything after
    * the decode is integer-exact (gray luma `(299+587+114)v/1000 = v`,
    * constant 2×2 pool), so the oracle recomputes the hash from the
    * cell formulas relationally — it can only match if the engine
    * actually decoded the pixels. Scale shape: blobs never shuffle;
    * the self-join shuffles 4 small band rows per image, capped
    * buckets bound the candidate set, verify is two BIGINTs. */
  /** The dHash fixture family's image synth (q127/q132): a genuine PNG
    * of 9×8 constant-gray 2×2 cells — base pattern from content key
    * `doc_id % 101`, plus the global brightness offset `doc_id % 20`
    * that dHash is built to ignore. */
  private[queries] def dhashPngMedia(spark: SparkSession, ids: DataFrame): DataFrame = {
    import spark.implicits._
    ids.select(col("doc_id")).as[Long]
      .mapPartitions(_.map { docId =>
        val ck = docId % 101; val o = (docId % 20).toInt
        val img = new java.awt.image.BufferedImage(
          18, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var i = 0
        while (i < 8) {
          var j = 0
          while (j < 9) {
            val v = (20 + ((ck + 1) * (i * 9 + j + 3)) % 200).toInt + o
            var dy = 0
            while (dy < 2) {
              var dx = 0
              while (dx < 2) {
                img.setRGB(j * 2 + dx, i * 2 + dy, (v << 16) | (v << 8) | v)
                dx += 1
              }
              dy += 1
            }
            j += 1
          }
          i += 1
        }
        val out = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", out)
        graft.multimodal.Multimodal.MediaRecord(docId, out.toByteArray, "image/png")
      }).toDF()
  }

  /** decode → 9×8 luma pool → 63-bit dHash, the production fingerprint
    * stage both q127 (batch) and q132 (per micro-batch) run. */
  private[queries] def dhashFingerprints(spark: SparkSession, ids: DataFrame): DataFrame =
    graft.multimodal.Multimodal
      .imageGridsBatched(spark, dhashPngMedia(spark, ids), gw = 9, gh = 8)
      .toDF()
      .select(col("doc_id"),
        graft.ops.MediaFingerprint.dhash63(col("features"), gw = 9, gh = 8).as("sh"))

  private[queries] def q127(spark: SparkSession, dir: String): DataFrame = {
    // Fingerprint ONCE and persist: the (doc_id, 8-byte hash) frame is
    // minuscule next to the decode that produced it, and the band
    // self-join + cap would otherwise re-run the PNG encode+decode per
    // consumer (cap count, pair side a, pair side b = 3× codec work).
    // At 100 TB this frame is a table you'd materialize anyway.
    val h = dhashFingerprints(spark,
        Tables.spread(Tables.documents(spark, dir)).select(col("doc_id")))
      .persist()
    try {
      val pairs = TextOps.simhashPairs(h, "dhash_hot_buckets")
        .where(col("hamming") <= 3)
        .orderBy(col("doc_a"), col("doc_b"))
      // Settled so the returned plan does not outlive the unpersist.
      Caches.settle(pairs, maxRows = 1 << 20)
    } finally h.unpersist()
  }
  /** The 63-bit dHash as one DuckDB expression straight off the cell
    * formulas (the brightness offset cancels out of every strict
    * comparison, exactly as it does in the decoded pixels). */
  private[queries] lazy val dhashBitsSql: String = (0 until 63).map { k =>
    val m1 = (k / 8) * 9 + (k % 8); val m2 = m1 + 1
    s"CASE WHEN ((doc_id % 101 + 1) * ($m1 + 3)) % 200 > ((doc_id % 101 + 1) * ($m2 + 3)) % 200 THEN CAST(${1L << k} AS BIGINT) ELSE 0 END"
  }.mkString(" + ")
  private[queries] lazy val q127Sql =
    s"""WITH h AS (SELECT doc_id, CAST($dhashBitsSql AS BIGINT) AS sh FROM documents),
       |bands AS (SELECT doc_id, sh, b, (sh >> (16 * b)) & 65535 AS v
       |          FROM h, unnest(range(4)) AS t(b)),
       |bsz AS (SELECT b, v FROM bands GROUP BY b, v
       |        HAVING count(*) <= ${TextOps.DefaultMaxBucket}),
       |kept AS (SELECT bands.* FROM bands JOIN bsz USING (b, v)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, a.sh AS ha,
       |                b.doc_id AS doc_b, b.sh AS hb
       |         FROM kept a JOIN kept b
       |           ON a.b = b.b AND a.v = b.v AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
       |FROM cand WHERE bit_count(xor(ha, hb)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin


  // ----------------------------------------------------------------- q128
  /** AUDIO perceptual dedup under the oracle — loudness-contour
    * fingerprints, the PCM-side member of the fingerprint family: each
    * document is rendered a genuine mono 8 kHz WAVE whose 8 envelope
    * cells carry constant amplitude `a_k = 1 + ((ck+1)·131·(k+3)) % 1000`
    * (the ·131 forces the modulus to wrap, so contours differ across
    * keys — 23 distinct shapes over the 29 keys)
    * from a content key (`ck = doc_id % 29`) MULTIPLIED by a per-doc
    * volume gain (`1 + doc_id % 5`) — the perturbation the contour
    * hash is built to ignore: every bit is an adjacent-cell `>`, and a
    * positive gain scales all cells equally, so re-mastered copies of
    * the same recording still collide. Production path: REAL PCM
    * decode ([[graft.multimodal.Multimodal.extractAudioFeaturesBatched]]
    * → PcmCodec.envelopeGrid, integer-exact means) →
    * [[graft.ops.MediaFingerprint.contourBits]] → one window over the
    * fingerprint for canonical/group-size. The oracle replays the
    * formulas; the hash only matches if the engine decoded the true
    * sample values. Scale shape: blobs never shuffle; one shuffle on
    * the 7-bit fingerprint (≤128 partitions of a corpus — the
    * production spelling widens cells for discrimination). */
  private[queries] def q128(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.multimodal.Multimodal
    import graft.ops.MediaFingerprint
    val media = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .mapPartitions(_.map { case (docId, nChars) =>
        val ns = 64 + (nChars % 64).toInt
        val ck = docId % 29; val gain = (1 + docId % 5).toInt
        val pcm = new Array[Byte](ns * 2)
        var k = 0
        while (k < 8) {
          // SAME cell bounds the envelope pool uses: [⌊k·ns/8⌋, ⌊(k+1)·ns/8⌋)
          val i0 = k * ns / 8; val i1 = (k + 1) * ns / 8
          val v = (1L + ((ck + 1) * 131L * (k + 3)) % 1000L).toInt * gain
          var i = i0
          while (i < i1) {
            pcm(i * 2) = (v & 0xff).toByte
            pcm(i * 2 + 1) = ((v >> 8) & 0xff).toByte
            i += 1
          }
          k += 1
        }
        val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
        val out = new java.io.ByteArrayOutputStream()
        graft.multimodal.SoundIO.write(
          new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(pcm), fmt, ns.toLong),
          javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
        Multimodal.MediaRecord(docId, out.toByteArray, "audio/wav")
      }).toDF()
    val fp = Multimodal.extractAudioFeaturesBatched(spark, media, cells = 8)
      .toDF()
      .select(col("doc_id"),
        MediaFingerprint.contourBits(col("envelope"), cells = 8).as("fp"))
    val w = Window.partitionBy(col("fp"))
    fp.select(col("doc_id"), col("fp"),
        min(col("doc_id")).over(w).as("canonical"),
        count(lit(1)).over(w).as("group_size"))
      .orderBy(col("doc_id"))
  }
  private[queries] lazy val contourBitsSql: String = (0 until 7).map { k =>
    s"CASE WHEN ((doc_id % 29 + 1) * 131 * (${k + 4})) % 1000 > ((doc_id % 29 + 1) * 131 * (${k + 3})) % 1000 THEN ${1 << k} ELSE 0 END"
  }.mkString(" + ")
  private[queries] lazy val q128Sql =
    s"""WITH f AS (SELECT doc_id, CAST($contourBitsSql AS INT) AS fp FROM documents)
       |SELECT doc_id, fp,
       |       min(doc_id) OVER (PARTITION BY fp) AS canonical,
       |       count(*) OVER (PARTITION BY fp) AS group_size
       |FROM f ORDER BY doc_id""".stripMargin


  // ----------------------------------------------------------------- q129
  /** VIDEO scene-change detection under the oracle — the temporal
    * analytics member of the video family (q113 decodes, q114
    * resamples, this one SEGMENTS): each document is rendered a
    * genuine MJPEG AVI of solid-gray 16×16 frames whose luma follows a
    * base + small-jitter series with one hard +80 jump at a per-doc
    * cut frame; the production path decodes every frame
    * ([[graft.multimodal.Multimodal.videoFrameGridsBatched]], g=1 —
    * solid-gray JPEG frames are DC-only, so the DCT round-trip is
    * bit-exact) and [[graft.multimodal.Multimodal.sceneCuts]] finds
    * the jump with a lag(1) window over (doc, frame). Jitter (≤9) sits
    * far below the threshold (40) and the jump (80±9) far above, so
    * the cut set is formula-determined and the oracle replays it
    * relationally — a hash match requires real frame decode AND
    * correct windowed differencing. Scale shape: blobs never shuffle;
    * one shuffle co-locates each video's frame rows, lag is
    * partition-local — no global ordering anywhere. */
  private[queries] def q129(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.multimodal.{AviCodec, Multimodal}
    val media = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { docId =>
        val nf = 5 + (docId % 4).toInt
        val cut = 2 + (docId % 3).toInt
        val base = 20 + (docId % 120).toInt
        val frames = (0 until nf).map { f =>
          val v = base + ((docId * 7 + f * 13) % 10).toInt +
            (if (f >= cut) 80 else 0)
          val img = new java.awt.image.BufferedImage(
            16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < 16) {
            var x = 0
            while (x < 16) { img.setRGB(x, y, (v << 16) | (v << 8) | v); x += 1 }
            y += 1
          }
          img
        }
        Multimodal.MediaRecord(docId,
          AviCodec.encodeMjpg(frames, rate = 10), "video/avi")
      }).toDF()
    val frames = Multimodal.videoFrameGridsBatched(spark, media, everyN = 1, g = 1)
      .toDF()
    Multimodal.sceneCuts(frames, element_at(col("grid"), 1), threshold = 40.0)
      .select(col("doc_id"), col("frame_idx"), col("prev_luma"), col("luma"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }
  private[queries] val q129Sql =
    """WITH f AS (
      |  SELECT doc_id, unnest(range(5 + doc_id % 4)) AS fi FROM documents),
      |v AS (SELECT doc_id, fi,
      |        CAST(20 + doc_id % 120 + (doc_id * 7 + fi * 13) % 10
      |             + CASE WHEN fi >= 2 + doc_id % 3 THEN 80 ELSE 0 END
      |          AS DOUBLE) AS luma
      |      FROM f),
      |l AS (SELECT doc_id, fi, luma,
      |        lag(luma) OVER (PARTITION BY doc_id ORDER BY fi) AS prev
      |      FROM v)
      |SELECT doc_id, CAST(fi AS INT) AS frame_idx, prev AS prev_luma, luma
      |FROM l WHERE prev IS NOT NULL AND abs(luma - prev) >= 40
      |ORDER BY doc_id, frame_idx""".stripMargin


  // ----------------------------------------------------------------- q132
  /** STREAMING perceptual IMAGE dedup — q112's streaming contract for
    * the dHash family, proving the banded-Hamming index is
    * fingerprint-agnostic end to end: the base corpus (doc_id % 4 != 0)
    * is rendered, DECODED and dHashed through the production stage
    * ([[dhashFingerprints]]) and indexed via `SimHashIndex.build
    * (hashCol)`; the stream docs arrive in 3 micro-batches of raw ids
    * whose images are fabricated, decoded and hashed INSIDE the stream
    * (`StreamingPipeline.startFingerprintIngest` — the media decode is
    * the per-batch fingerprint stage), probed against the PRE-batch
    * index with in-stream lag-1 auto-compaction (`compactEvery = 2`),
    * verified pairs (Hamming ≤ 3, ≥ 1 stream member) logged
    * batch-tagged. The oracle replays the INCREMENTAL cap semantics
    * (q112's rule: a bucket caps at its size as of the pair's emission
    * batch) over the dHash formula — the hash only matches if real
    * in-stream pixel decode, banded probing, exactly-once appends and
    * the mid-stream compaction together reproduce it. Scale shape:
    * q112's, with the decode as an extra narrow map stage per batch —
    * blobs never shuffle, never persist. */
  private[queries] def q132(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = graft.ops.Scratch.tempDir("graft_q132_")
    try {
      val ids = Tables.documents(spark, dir).select(col("doc_id"))
      val isStream = pmod(col("doc_id"), lit(4)) === 0
      // memoized deterministic base build (the lshBaseInto rule): the
      // base split's render → decode → dHash pass is bit-identical per
      // corpus, so it indexes once per JVM; the STREAM batches still
      // decode and hash inside the stream — the per-batch contract this
      // gate exists to exercise
      GraphFixtures.cloneIntoFor("dhashbase", dir, s"$tmp/idx")(p =>
        graft.ops.SimHashIndex.build(
          dhashFingerprints(spark, ids.where(!isStream)), p,
          hashCol = Some("sh")))
      val rows = fixtureSlice(ids.where(isStream).as[Long]).sorted
      val per = math.max(1, math.ceil(rows.length / 3.0).toInt)
      val chunks = rows.grouped(per).toArray
      val mem = MemoryStream[Long]
      val q = graft.streaming.StreamingPipeline.startFingerprintIngest(
        mem.toDF().toDF("doc_id"),
        batch => dhashFingerprints(batch.sparkSession, batch),
        indexPath = s"$tmp/idx", pairsDir = s"$tmp/pairs",
        checkpointDir = s"$tmp/ckpt",
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0),
        compactEvery = Some(2))
      try chunks.foreach { c => mem.addData(c.toSeq); q.processAllAvailable() }
      finally q.stop()
      localizeRows(
        readHammingPairLog(spark, s"$tmp/pairs")
          .select(col("doc_a"), col("doc_b"), col("hamming")),
        Seq("doc_a", "doc_b"))
    } finally rmRecursive(tmp) // result rows are driver-local; safe now
  }
  /** q112's incremental-cap replay over the dHash formula (see there for
    * the batch/bucket-size CTE semantics). */
  private[queries] lazy val q132Sql =
    s"""WITH h AS (SELECT doc_id, CAST($dhashBitsSql AS BIGINT) AS sh FROM documents),
       |st AS (SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS rn,
       |              count(*) OVER () AS n
       |       FROM h WHERE doc_id % 4 = 0),
       |bat AS (SELECT doc_id,
       |               CAST(rn // CAST(ceil(n / 3.0) AS BIGINT) AS INT) + 1 AS batch
       |        FROM st),
       |hb AS (SELECT h.doc_id, h.sh, COALESCE(bat.batch, 0) AS batch
       |       FROM h LEFT JOIN bat USING (doc_id)),
       |bands AS (SELECT doc_id, sh, batch, b, (sh >> (16 * b)) & 65535 AS v
       |          FROM hb, unnest(range(4)) AS t(b)),
       |sz AS (SELECT x.b, x.v, t.b2, count(*) AS cnt
       |       FROM bands x, unnest(range(1, 4)) AS t(b2)
       |       WHERE x.batch <= t.b2 GROUP BY x.b, x.v, t.b2),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, a.sh AS ha,
       |                b.doc_id AS doc_b, b.sh AS hb2
       |         FROM bands a JOIN bands b
       |           ON a.b = b.b AND a.v = b.v AND a.doc_id < b.doc_id
       |         JOIN sz ON sz.b = a.b AND sz.v = a.v
       |           AND sz.b2 = greatest(a.batch, b.batch)
       |         WHERE greatest(a.batch, b.batch) >= 1
       |           AND sz.cnt <= ${TextOps.DefaultMaxBucket})
       |SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb2)) AS INT) AS hamming
       |FROM cand WHERE bit_count(xor(ha, hb2)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin


  // ----------------------------------------------------------------- q137
  /** RAW-video (YUV4MPEG2) decode → luma embed under the oracle — the
    * third container of the video family (AVI q110/q113, MP4 q115/q117),
    * and the one a pipeline hits as lossless interchange between tools:
    * each document is rendered a genuine `.y4m` stream
    * ([[graft.multimodal.Y4mCodec.encode]] — ASCII header, FRAME
    * markers, uncompressed planar pixels) whose geometry, frame count,
    * fps and colorspace derive from table columns. Even docs are Cmono
    * (luma-only planes), odd docs C420 (chroma planes PRESENT and
    * skipped by the plane-offset arithmetic — get the colorspace layout
    * wrong and every luma value is garbage); each frame's Y plane is
    * four constant quadrants from q113's formula family. Two production
    * consumers run: [[graft.multimodal.Multimodal.videoFrameGridsBatched]]
    * (Y4M branch — walks the FRAME markers and pools every frame's
    * NATIVE Y plane into a 2×2 mean-luma grid, zero RGB conversion) and
    * [[graft.multimodal.Multimodal.decodeVideoStreamsBatched]] (header
    * facts: the F rational and walked frame count), equi-joined per
    * doc. The oracle recomputes geometry/fps/quadrants relationally —
    * the hash only matches if header parse, colorspace plane arithmetic
    * AND the marker walk all land on the true bytes. Scale shape: two
    * narrow mapPartitions stages + one doc_id equi-join of scalar rows;
    * blobs never cross a shuffle. */
  private[queries] def q137(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.multimodal.{Multimodal, Y4mCodec}
    val media = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .mapPartitions(_.map { case (docId, nChars) =>
        val w = 4 + 4 * (docId % 3).toInt
        val h = 4 + 4 * (nChars % 3).toInt
        val nf = 1 + (docId % 3).toInt
        val fps = 10 + (docId % 20).toInt
        val cs = if (docId % 2 == 0) "Cmono" else "C420"
        val fb = Y4mCodec.frameBytes(docId, cs, w, h)
        val frames = (0 until nf).map { f =>
          val plane = new Array[Byte](fb)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val k = (y / (h / 2)) * 2 + (x / (w / 2)) // row-major quadrant
              plane(y * w + x) =
                (1L + ((docId + 3L) * (f + 1L) * (k + 2L)) % 251L).toByte
              x += 1
            }
            y += 1
          }
          // C420 chroma planes: neutral 128 (never read by the luma path)
          java.util.Arrays.fill(plane, w * h, fb, 128.toByte)
          plane
        }
        Multimodal.MediaRecord(docId,
          Y4mCodec.encode(frames, w, h, fps, 1, cs), "video/y4m")
      }).toDF()
    val grids = Multimodal.videoFrameGridsBatched(spark, media, everyN = 1, g = 2)
      .toDF()
    val meta = Multimodal.decodeVideoStreamsBatched(spark, media).toDF()
      .select(col("doc_id"), col("rate").as("fps_num"),
        col("length").as("n_frames"))
    grids.join(meta, "doc_id")
      .select(col("doc_id"), col("frame_idx"), col("width"), col("height"),
        col("fps_num"), col("n_frames"),
        element_at(col("grid"), 1).cast("int").as("q1"),
        element_at(col("grid"), 2).cast("int").as("q2"),
        element_at(col("grid"), 3).cast("int").as("q3"),
        element_at(col("grid"), 4).cast("int").as("q4"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }
  private[queries] val q137Sql =
    """WITH f AS (
      |  SELECT doc_id, n_chars, unnest(range(1 + doc_id % 3)) AS frame_idx
      |  FROM documents)
      |SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
      |       CAST(4 + 4 * (doc_id % 3) AS INT) AS width,
      |       CAST(4 + 4 * (n_chars % 3) AS INT) AS height,
      |       CAST(10 + doc_id % 20 AS INT) AS fps_num,
      |       CAST(1 + doc_id % 3 AS BIGINT) AS n_frames,
      |       CAST(1 + ((doc_id + 3) * (frame_idx + 1) * 2) % 251 AS INT) AS q1,
      |       CAST(1 + ((doc_id + 3) * (frame_idx + 1) * 3) % 251 AS INT) AS q2,
      |       CAST(1 + ((doc_id + 3) * (frame_idx + 1) * 4) % 251 AS INT) AS q3,
      |       CAST(1 + ((doc_id + 3) * (frame_idx + 1) * 5) % 251 AS INT) AS q4
      |FROM f ORDER BY doc_id, frame_idx""".stripMargin

  // ----------------------------------------------------------------- q140
  /** MPEG transport-stream demux under the oracle — the FOURTH container
    * of the media family (AVI q110/q113, MP4 q115/q117, Y4M q137) and
    * the first MULTIPLEXED one: every HLS segment on the public web is
    * a `.ts` whose 188-byte packets interleave elementary streams, so
    * ingesting one is a demux, not a seek. Each document is rendered a
    * genuine single-program TS ([[graft.multimodal.TsCodec.encode]] —
    * PAT + PMT with CRC32/MPEG checksums, per-PID continuity counters,
    * an adaptation field with PCR on the first video packet) whose
    * program number, PIDs and packet counts derive from table columns.
    * The production consumer is
    * [[graft.multimodal.Multimodal.tsDemuxStatsBatched]]: one pass over
    * the packet layer (sync/PID/PUSI/AFC/CC arithmetic), CRC-validated
    * PAT→PMT section parse for the per-PID `stream_type`, per-PID
    * payload-byte accounting. The oracle recomputes every stat
    * closed-form — the hash only matches if the adaptation-length
    * arithmetic, the PSI walk AND the continuity check all land on the
    * true bytes. ES payloads (H.264/AAC) are counted, never decoded:
    * the documented inter-frame codec seam. Scale shape: one narrow
    * mapPartitions stage; blobs never cross a shuffle, only per-PID
    * stat rows reach the output sort. */
  private[queries] def q140(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.multimodal.{Multimodal, TsCodec}
    val media = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { docId =>
        val vpid = (256 + docId % 16).toInt
        Multimodal.MediaRecord(docId,
          TsCodec.encode(
            programNumber = (1 + docId % 7).toInt,
            pmtPid = (32 + docId % 8).toInt,
            pcrPid = vpid,
            streams = Seq(
              TsCodec.EsSpec(vpid, 0x1b, (3 + docId % 5).toInt,
                firstAdaptLen = 7), // PCR rides the first video packet
              TsCodec.EsSpec((512 + docId % 16).toInt, 0x0f,
                (2 + docId % 3).toInt, firstAdaptLen = 0))),
          "video/mp2t")
      }).toDF()
    Multimodal.tsDemuxStatsBatched(spark, media).toDF()
      .select(col("doc_id"), col("pid"),
        when(col("stream_type") === 0x1b, "h264")
          .when(col("stream_type") === 0x0f, "aac")
          .otherwise("other").as("stream_kind"),
        col("n_packets"), col("payload_bytes"), col("n_pusi"), col("cc_ok"),
        col("program_number"), col("pmt_pid"), col("pcr_pid"))
      .orderBy(col("doc_id"), col("pid"))
  }
  private[queries] val q140Sql =
    """WITH s AS (
      |  SELECT doc_id,
      |         CAST(256 + doc_id % 16 AS INT) AS pid,
      |         'h264' AS stream_kind,
      |         CAST(3 + doc_id % 5 AS INT) AS n_packets,
      |         CAST(176 + (2 + doc_id % 5) * 184 AS BIGINT) AS payload_bytes
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id,
      |         CAST(512 + doc_id % 16 AS INT),
      |         'aac',
      |         CAST(2 + doc_id % 3 AS INT),
      |         CAST((2 + doc_id % 3) * 184 AS BIGINT)
      |  FROM documents)
      |SELECT doc_id, pid, stream_kind, n_packets, payload_bytes,
      |       CAST(1 AS INT) AS n_pusi, TRUE AS cc_ok,
      |       CAST(1 + doc_id % 7 AS INT) AS program_number,
      |       CAST(32 + doc_id % 8 AS INT) AS pmt_pid,
      |       CAST(256 + doc_id % 16 AS INT) AS pcr_pid
      |FROM s ORDER BY doc_id, pid""".stripMargin

  // ----------------------------------------------------------------- q144
  /** FLAC metadata walk under the oracle — the lossless-audio member of
    * the container family (WAV/AIFF/AU headers parse via javax.sound in
    * q95; FLAC's STREAMINFO is packed bitfields javax.sound cannot
    * read, so [[graft.multimodal.FlacCodec]] walks it directly, RFC
    * 9639). Each document is rendered a genuine `.flac` metadata chain
    * — STREAMINFO with a 20-bit sample rate, 3-bit channel count and a
    * 36-bit total-sample count straddling byte boundaries, a PADDING
    * block, a data-dependent SEEKTABLE, then undecodable frame filler —
    * and [[graft.multimodal.Multimodal.flacMetaBatched]] recovers every
    * field. These are precisely the facts an audio-curation pass
    * filters on (sample-rate floor, duration cap, channel layout)
    * BEFORE spending decode budget; the Rice/LPC frame region is
    * counted, never decoded (the documented codec seam). The oracle
    * recomputes all fields closed-form — the hash only matches if the
    * bitfield extraction and the block walk land on the true bits.
    * Scale shape: one narrow mapPartitions stage, scalar rows out. */
  private[queries] def q144(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.multimodal.{FlacCodec, Multimodal}
    val media = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .mapPartitions(_.map { case (docId, nChars) =>
        val extras = Seq(1 -> new Array[Byte]((docId % 64).toInt)) ++
          (if (docId % 3 > 0)
            Seq(3 -> new Array[Byte](18 * (docId % 3).toInt))
          else Nil)
        Multimodal.MediaRecord(docId,
          FlacCodec.encode(
            sampleRate = 8000 * (1 + (docId % 6).toInt),
            channels = 1 + (docId % 2).toInt,
            bitsPerSample = 16,
            totalSamples = 1000L + (docId % 9) * 500L + nChars,
            extraBlocks = extras,
            frameBytes = (64 + nChars % 128).toInt), "audio/flac")
      }).toDF()
    Multimodal.flacMetaBatched(spark, media).toDF()
      .select(col("doc_id"), col("sample_rate"), col("channels"),
        col("bits"), col("total_samples"),
        expr("total_samples * 1000 DIV sample_rate").as("duration_ms"),
        col("n_blocks"), col("block_types"), col("frame_bytes"))
      .orderBy(col("doc_id"))
  }
  private[queries] val q144Sql =
    """SELECT doc_id,
      |       CAST(8000 * (1 + doc_id % 6) AS INT) AS sample_rate,
      |       CAST(1 + doc_id % 2 AS INT) AS channels,
      |       CAST(16 AS INT) AS bits,
      |       CAST(1000 + (doc_id % 9) * 500 + n_chars AS BIGINT) AS total_samples,
      |       CAST((1000 + (doc_id % 9) * 500 + n_chars) * 1000
      |            // (8000 * (1 + doc_id % 6)) AS BIGINT) AS duration_ms,
      |       CAST(CASE WHEN doc_id % 3 > 0 THEN 3 ELSE 2 END AS INT) AS n_blocks,
      |       CASE WHEN doc_id % 3 > 0 THEN '0,1,3' ELSE '0,1' END AS block_types,
      |       CAST(64 + n_chars % 128 AS BIGINT) AS frame_bytes
      |FROM documents ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------------- q146
  /** WARC crawl ingest under the oracle — the container LLM corpora are
    * actually mined from (ISO 28500; Common Crawl ships `.warc.gz` in
    * the member-per-record gzip layout). Each document is rendered a
    * genuine two-record WARC file — a `response` record whose content
    * is a full HTTP message (status line, headers, body = the document
    * text) and a `metadata` record — with EVEN doc_ids written as
    * member-gzipped archives ([[graft.multimodal.WarcCodec.encodeGzip]]:
    * one gzip member per record, CRC32+ISIZE trailers verified on read)
    * and odd ones plain, so both decode paths run in one query.
    * [[graft.multimodal.Multimodal.warcRecordsBatched]] inflates the
    * members, walks the Content-Length framing and splits the HTTP
    * layer; the oracle recomputes every framing fact closed-form and
    * pins `payload_md5 = md5(text)` — the hash only matches if the
    * member split, the framing walk AND the header/body split land on
    * the exact document bytes. Gzip member SIZES are deflate-
    * implementation-dependent and deliberately excluded from the
    * output. Scale shape: one narrow mapPartitions stage; archive
    * blobs never cross a shuffle — the payload reduces to its md5
    * before the output sort. */
  private[queries] def q146(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.multimodal.{Multimodal, WarcCodec}
    val media = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("source"), col("text"), col("n_chars"))
      .as[(Long, String, String, Long)]
      .mapPartitions(_.map { case (docId, source, text, nChars) =>
        val uri = s"https://example.org/$source/doc$docId"
        val date = f"2026-08-${docId % 28 + 1}%02dT00:00:00Z"
        val http = s"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n" +
          s"Content-Length: $nChars\r\n\r\n$text"
        val meta = s"fetchDurationMs: ${docId % 900 + 100}\r\n"
        val recs = Seq(
          WarcCodec.WarcRecord("response", uri, date,
            "application/http;msgtype=response", http.getBytes("US-ASCII")),
          WarcCodec.WarcRecord("metadata", uri, date,
            "application/warc-fields", meta.getBytes("US-ASCII")))
        if (docId % 2 == 0)
          Multimodal.MediaRecord(docId, WarcCodec.encodeGzip(recs),
            "application/warc+gzip")
        else
          Multimodal.MediaRecord(docId, WarcCodec.encode(recs),
            "application/warc")
      }).toDF()
    Multimodal.warcRecordsBatched(spark, media).toDF()
      .select(col("doc_id"), col("record_idx"), col("warc_type"),
        col("target_uri"), col("warc_date"), col("content_length"),
        col("http_status"), col("http_header_bytes"),
        length(col("payload")).as("payload_bytes"),
        md5(col("payload")).as("payload_md5"))
      .orderBy(col("doc_id"), col("record_idx"))
  }
  private[queries] val q146Sql =
    """WITH r AS (
      |  SELECT doc_id, 0 AS record_idx, 'response' AS warc_type,
      |         'https://example.org/' || source || '/doc' || doc_id AS target_uri,
      |         '2026-08-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
      |           || 'T00:00:00Z' AS warc_date,
      |         CAST(63 + length(CAST(n_chars AS VARCHAR)) + n_chars AS INT)
      |           AS content_length,
      |         200 AS http_status,
      |         CAST(63 + length(CAST(n_chars AS VARCHAR)) AS INT)
      |           AS http_header_bytes,
      |         CAST(n_chars AS INT) AS payload_bytes,
      |         md5(text) AS payload_md5
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id, 1, 'metadata',
      |         'https://example.org/' || source || '/doc' || doc_id,
      |         '2026-08-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
      |           || 'T00:00:00Z',
      |         22, -1, 0, 22,
      |         md5('fetchDurationMs: ' || CAST(doc_id % 900 + 100 AS VARCHAR)
      |             || chr(13) || chr(10))
      |  FROM documents)
      |SELECT doc_id, record_idx, warc_type, target_uri, warc_date,
      |       content_length, http_status, http_header_bytes,
      |       payload_bytes, payload_md5
      |FROM r ORDER BY doc_id, record_idx""".stripMargin

  // ----------------------------------------------------------------- q147
  /** CDC changelog merge under the oracle — the lakehouse upsert
    * (Delta/Iceberg/Hudi `MERGE`, Debezium materialization) as ONE
    * window over base ∪ changelog ([[graft.ops.ChangelogMerge]]): base
    * rows enter at seq 0, per key the highest-seq row wins, a winning
    * tombstone drops the key. The fixture changelog exercises every
    * interaction: generation-1 updates and tombstones (disjoint key
    * sets so every (key, seq) is unique — the determinism contract),
    * generation-2 RE-updates of a subset (seq 2 must beat seq 1) plus
    * inserts of brand-new keys, and generation-3 revivals of
    * tombstoned keys (an upsert AFTER a delete brings the key back —
    * the ordering case a join-based merge gets wrong first). The
    * output groups the merged snapshot per lang with a winner-seq
    * breakdown, so the hash pins which generation owns every surviving
    * row, not just the row count. Scale shape: the snapshot crosses
    * the wire exactly once (one hash shuffle on the key, window state
    * = one row) — no join, no second pass; re-merging the output with
    * the next changelog window is the same call (self-compacting, the
    * GenTable convergence argument). */
  /** The shared q147/q150 changelog fixture: three seq generations of
    * updates, tombstones, re-updates, inserts and revivals over the
    * documents snapshot — every (key, seq) unique (the determinism
    * contract). */
  private def changelogFixture(base: DataFrame): DataFrame = {
    import graft.ops.ChangelogMerge
    def gen(cond: Column, seq: Int, op: String, key: Column, lang: Column,
        source: Column, chars: Column): DataFrame =
      base.where(cond).select(key.as("doc_id"), lang.as("lang"),
        source.as("source"), chars.as("n_chars"),
        lit(seq.toLong).as(ChangelogMerge.SeqCol),
        lit(op).as(ChangelogMerge.OpCol))
    val id = col("doc_id")
    gen(pmod(id, lit(3)) === 1, 1, "u",
        id, col("lang"), col("source"), col("n_chars") + 1000L)
      .unionByName(gen(pmod(id, lit(3)) =!= 1 && pmod(id, lit(11)) === 0,
        1, "d", id, col("lang"), col("source"), col("n_chars")))
      .unionByName(gen(pmod(id, lit(6)) === 1, 2, "u",
        id, col("lang"), col("source"), col("n_chars") + 2000L))
      .unionByName(gen(pmod(id, lit(13)) === 0, 2, "u",
        id + 10000000L, lit("xx"), lit("srcNew"), pmod(id, lit(500)) + 1L))
      .unionByName(gen(pmod(id, lit(22)) === 0, 3, "u",
        id, col("lang"), col("source"), col("n_chars") + 3000L))
  }

  /** The shared q147/q150 report: merged snapshot per lang with the
    * winner-seq breakdown — pins which generation owns every row. */
  private def changelogReport(merged: DataFrame): DataFrame = {
    import graft.ops.ChangelogMerge
    def seqN(n: Int) = sum(when(col(ChangelogMerge.SeqCol) === n, 1L)
      .otherwise(0L))
    merged.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_live"), sum(col("n_chars")).as("sum_chars"),
        seqN(0).as("n_untouched"), seqN(1).as("n_g1"),
        seqN(2).as("n_g2"), seqN(3).as("n_g3"))
      .orderBy(col("lang"))
  }

  private[queries] def q147(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.ChangelogMerge
    val base = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    changelogReport(
      ChangelogMerge.merge(base, changelogFixture(base), Seq("doc_id")))
  }
  private[queries] val q147Sql =
    """WITH base AS (
      |  SELECT doc_id, lang, source, n_chars,
      |         CAST(0 AS BIGINT) AS cl_seq, 'u' AS cl_op FROM documents),
      |cl AS (
      |  SELECT doc_id, lang, source, n_chars + 1000 AS n_chars,
      |         CAST(1 AS BIGINT) AS cl_seq, 'u' AS cl_op
      |  FROM documents WHERE doc_id % 3 = 1
      |  UNION ALL
      |  SELECT doc_id, lang, source, n_chars, 1, 'd'
      |  FROM documents WHERE doc_id % 3 <> 1 AND doc_id % 11 = 0
      |  UNION ALL
      |  SELECT doc_id, lang, source, n_chars + 2000, 2, 'u'
      |  FROM documents WHERE doc_id % 6 = 1
      |  UNION ALL
      |  SELECT doc_id + 10000000, 'xx', 'srcNew', doc_id % 500 + 1, 2, 'u'
      |  FROM documents WHERE doc_id % 13 = 0
      |  UNION ALL
      |  SELECT doc_id, lang, source, n_chars + 3000, 3, 'u'
      |  FROM documents WHERE doc_id % 22 = 0),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id
      |    ORDER BY cl_seq DESC, cl_op DESC) AS rk
      |  FROM (SELECT * FROM base UNION ALL SELECT * FROM cl))
      |SELECT lang, count(*) AS n_live,
      |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |       CAST(sum(CASE WHEN cl_seq = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_untouched,
      |       CAST(sum(CASE WHEN cl_seq = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_g1,
      |       CAST(sum(CASE WHEN cl_seq = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_g2,
      |       CAST(sum(CASE WHEN cl_seq = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_g3
      |FROM r WHERE rk = 1 AND cl_op = 'u'
      |GROUP BY lang ORDER BY lang""".stripMargin

  // ----------------------------------------------------------------- q149
  /** MP3 metadata walk under the oracle — the most common audio file on
    * the public web, completing the audio-metadata family (javax.sound
    * WAV/AIFF/AU in q95, FLAC in q144). Each document is rendered a
    * genuine ID3v2.3-tagged MPEG-1 Layer III file
    * ([[graft.multimodal.Mp3Codec.encode]]: syncsafe tag size, TIT2 +
    * TPE1 text frames, real bitrate/sample-rate table indexes, padding
    * bit alternating so frame sizes genuinely vary) and
    * [[graft.multimodal.Multimodal.mp3MetaBatched]] recovers the text
    * facts AND the frame-walk facts — the oracle recomputes everything
    * closed-form from the published tables (`144·bitrate/sampleRate +
    * padding` per frame, 1152 samples per frame), so the hash only
    * matches if the syncsafe arithmetic, the tag-frame walk and every
    * frame-header stride land on the true bytes. Huffman audio
    * payloads are counted, never decoded — the documented
    * entropy-codec seam. Scale shape: one narrow mapPartitions stage;
    * blobs never cross a shuffle. */
  private[queries] def q149(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.multimodal.{Mp3Codec, Multimodal}
    val media = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("source")).as[(Long, String)]
      .mapPartitions(_.map { case (docId, source) =>
        Multimodal.MediaRecord(docId,
          Mp3Codec.encode(
            title = s"Doc $docId",
            artist = source,
            bitrateIdx = (1 + docId % 14).toInt,
            sampleRateIdx = (docId % 3).toInt,
            nFrames = (2 + docId % 7).toInt,
            mono = docId % 2 == 0), "audio/mpeg")
      }).toDF()
    Multimodal.mp3MetaBatched(spark, media).toDF()
      .select(col("doc_id"), col("title"), col("artist"), col("tag_bytes"),
        col("n_frames"), col("bitrate_kbps"), col("sample_rate"),
        col("channels"), col("audio_bytes"), col("duration_ms"))
      .orderBy(col("doc_id"))
  }
  private[queries] val q149Sql =
    """WITH p AS (
      |  SELECT doc_id,
      |         'Doc ' || doc_id AS title, source AS artist,
      |         ([32,40,48,56,64,80,96,112,128,160,192,224,256,320])
      |           [CAST(doc_id % 14 AS INT) + 1] AS br_kbps,
      |         ([44100,48000,32000])[CAST(doc_id % 3 AS INT) + 1] AS sr,
      |         CAST(2 + doc_id % 7 AS INT) AS n_frames,
      |         CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS channels
      |  FROM documents)
      |SELECT doc_id, title, artist,
      |       CAST(10 + (11 + length(title)) + (11 + length(artist)) AS INT)
      |         AS tag_bytes,
      |       n_frames,
      |       CAST(br_kbps AS INT) AS bitrate_kbps,
      |       CAST(sr AS INT) AS sample_rate,
      |       CAST(channels AS INT) AS channels,
      |       CAST(n_frames * ((144 * br_kbps * 1000) // sr)
      |            + n_frames // 2 AS BIGINT) AS audio_bytes,
      |       CAST(CAST(n_frames AS BIGINT) * 1152 * 1000 // sr AS BIGINT)
      |         AS duration_ms
      |FROM p ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------------- q178
  /** RAW-AAC (ADTS) transport walk under the oracle — the compressed-
    * audio ingest surface next to q149's MP3 (the r15 verdict's seam-
    * narrowing ask): each document fabricates an ADTS stream with
    * table-derived geometry (sampling-frequency index, channel config,
    * frame count, per-frame payload lengths that genuinely vary), and
    * [[graft.multimodal.AdtsCodec.parse]] walks the 7-byte headers —
    * sync, layer, AAC-LC profile, the published frequency table, the
    * 13-bit header-inclusive frame length, the tiling invariant — in
    * O(nFrames) header reads, payload never decoded (the raw data
    * block is the documented entropy seam, exactly MP3's). Every third
    * stream is CRC-PROTECTED (protection_absent = 0): its per-frame
    * ISO 11172-3 CRC-16 words must VERIFY during the walk, and the
    * `crc_frames` column pins that the protected/plain mix decoded
    * through the right header geometry (9 vs 7 bytes). The oracle
    * rebuilds frame counts, audio byte totals (a per-frame arithmetic
    * sum), the 1024-samples-per-frame duration and the CRC-frame
    * counts closed-form. Scale shape: one narrow mapPartitions stage;
    * blobs never shuffle. */
  private[queries] def q178(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.multimodal.{AdtsCodec, Multimodal}
    val media = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { docId =>
        Multimodal.MediaRecord(docId,
          AdtsCodec.encode(
            sampleRateIdx = (docId % 13).toInt,
            channels = (1 + docId % 7).toInt,
            nFrames = (2 + docId % 6).toInt,
            payloadLen = i => (20 + ((docId + i) % 5) * 3).toInt,
            crc = docId % 3 == 0), // every third stream CRC-protected
          "audio/aac")
      }).toDF()
    Multimodal.adtsMetaBatched(spark, media).toDF()
      .select(col("doc_id"), col("n_frames"), col("profile"),
        col("sample_rate"), col("channels"), col("audio_bytes"),
        col("duration_ms"), col("crc_frames"))
      .orderBy(col("doc_id"))
  }
  private[queries] val q178Sql =
    """WITH p AS (
      |  SELECT doc_id,
      |         ([96000,88200,64000,48000,44100,32000,24000,22050,16000,
      |           12000,11025,8000,7350])[CAST(doc_id % 13 AS INT) + 1] AS sr,
      |         CAST(1 + doc_id % 7 AS INT) AS channels,
      |         CAST(2 + doc_id % 6 AS INT) AS n_frames
      |  FROM documents),
      |fr AS (SELECT doc_id, unnest(range(0, n_frames)) AS i FROM p),
      |ab AS (SELECT doc_id, sum(20 + ((doc_id + i) % 5) * 3) AS audio_bytes
      |       FROM fr GROUP BY 1)
      |SELECT p.doc_id, p.n_frames, CAST(1 AS INT) AS profile,
      |       CAST(p.sr AS INT) AS sample_rate, p.channels,
      |       CAST(ab.audio_bytes AS BIGINT) AS audio_bytes,
      |       CAST(CAST(p.n_frames AS BIGINT) * 1024 * 1000 // p.sr AS BIGINT)
      |         AS duration_ms,
      |       CAST(CASE WHEN p.doc_id % 3 = 0 THEN p.n_frames ELSE 0 END
      |         AS INT) AS crc_frames
      |FROM p JOIN ab USING (doc_id)
      |ORDER BY p.doc_id""".stripMargin

  // ----------------------------------------------------------------- q179
  /** H.264 Annex-B NAL transport walk under the oracle — the
    * compressed-VIDEO ingest surface next to q178's raw AAC, closing
    * the transport-layer pair (r15 verdict "what's missing" #1): each
    * document fabricates a genuine Annex-B elementary stream (SPS with
    * exp-Golomb-coded geometry — High-profile chroma block included
    * for every third doc — PPS, IDR/non-IDR cadence, both 3- and
    * 4-byte start-code forms, REAL emulation-prevention escaping on
    * payloads crafted to contain start-code-aliasing byte runs), and
    * [[graft.multimodal.H264Codec.parse]] walks it back: start-code
    * scan, NAL headers, RBSP unescape, bit-exact SPS parse. The
    * oracle rebuilds dimensions, profile/level, max_frame_num, the
    * IDR cadence count and the POST-unescape slice byte count + sum
    * closed-form — the hash only matches if the exp-Golomb decode and
    * the emulation-prevention layer land on the exact written bits
    * (escape bytes on the wire are invisible to RBSP accounting).
    * Slice entropy data (CAVLC/CABAC) stays the documented seam.
    * Scale shape: one narrow mapPartitions stage; blobs never
    * shuffle. */
  private[queries] def q179(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.multimodal.{H264Codec, Multimodal}
    val media = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { docId =>
        Multimodal.MediaRecord(docId,
          H264Codec.encode(
            widthMbs = (1 + docId % 120).toInt,
            heightMapUnits = (1 + docId % 68).toInt,
            profileIdc = Array(66, 77, 100)((docId % 3).toInt),
            levelIdc = Array(30, 31, 40, 41, 51)((docId % 5).toInt),
            log2MaxFrameNumMinus4 = (docId % 4).toInt,
            nFrames = (2 + docId % 6).toInt,
            idrEvery = (1 + docId % 3).toInt,
            payloadLen = i => (16 + ((docId + i) % 7) * 4).toInt,
            payloadByte = (i, j) =>
              if (j % 8 < 2) 0 // zero runs force emulation prevention
              else if (j % 8 == 2) ((docId + i) % 4).toInt
              else ((docId * 7 + i * 31 + j) % 255 + 1).toInt),
          "video/h264")
      }).toDF()
    Multimodal.h264MetaBatched(spark, media).toDF()
      .select(col("doc_id"), col("width"), col("height"),
        col("profile").as("profile_idc"), col("level").as("level_idc"),
        col("max_frame_num"), col("chroma_format"), col("n_idr"),
        col("n_nonidr"), col("slice_rbsp_bytes"), col("slice_rbsp_sum"))
      .orderBy(col("doc_id"))
  }
  private[queries] val q179Sql =
    """WITH p AS (
      |  SELECT doc_id,
      |         ([66,77,100])[CAST(doc_id % 3 AS INT) + 1] AS profile_idc,
      |         ([30,31,40,41,51])[CAST(doc_id % 5 AS INT) + 1] AS level_idc,
      |         CAST(16 * (1 + doc_id % 120) AS INT) AS width,
      |         CAST(16 * (1 + doc_id % 68) AS INT) AS height,
      |         ([16,32,64,128])[CAST(doc_id % 4 AS INT) + 1] AS max_frame_num,
      |         CAST(2 + doc_id % 6 AS INT) AS n_frames,
      |         CAST(1 + doc_id % 3 AS INT) AS idr_every
      |  FROM documents),
      |fb AS (SELECT doc_id, i, 16 + ((doc_id + i) % 7) * 4 AS plen
      |       FROM (SELECT doc_id, unnest(range(0, n_frames)) AS i FROM p)),
      |bv AS (SELECT doc_id,
      |         CASE WHEN j % 8 < 2 THEN 0
      |              WHEN j % 8 = 2 THEN (doc_id + i) % 4
      |              ELSE (doc_id * 7 + i * 31 + j) % 255 + 1 END AS v
      |       FROM (SELECT doc_id, i, unnest(range(0, plen)) AS j FROM fb)),
      |ab AS (SELECT doc_id, count(*) AS nb, sum(v) AS sv
      |       FROM bv GROUP BY 1)
      |SELECT p.doc_id, p.width, p.height,
      |       CAST(p.profile_idc AS INT) AS profile_idc,
      |       CAST(p.level_idc AS INT) AS level_idc,
      |       CAST(p.max_frame_num AS INT) AS max_frame_num,
      |       CAST(1 AS INT) AS chroma_format,
      |       CAST((p.n_frames - 1) // p.idr_every + 1 AS INT) AS n_idr,
      |       CAST(p.n_frames - ((p.n_frames - 1) // p.idr_every + 1) AS INT)
      |         AS n_nonidr,
      |       CAST(ab.nb AS BIGINT) AS slice_rbsp_bytes,
      |       CAST(ab.sv AS BIGINT) AS slice_rbsp_sum
      |FROM p JOIN ab USING (doc_id)
      |ORDER BY p.doc_id""".stripMargin

  // ----------------------------------------------------------------- q180
  /** BROADCAST-VIDEO INGEST CHAIN under the oracle — q171's
    * crawl-chain discipline applied to HLS/broadcast segments: each
    * document renders a genuine H.264 Annex-B elementary stream
    * (q179's writer), wraps it in a real PES packet (unbounded-length
    * video form) and muxes it into MPEG-TS ([[graft.multimodal
    * .TsCodec.muxPayload]]: PAT + CRC'd PMT, 184-byte tiling,
    * adaptation-field stuffing on the final packet — the real muxer
    * padding discipline). The query then runs the full ingest path a
    * video pipeline runs on every segment: demux ([[graft.multimodal
    * .TsCodec.parse]]), locate the video PID by PMT stream_type 0x1B,
    * reassemble under strict continuity, strip the PES header, walk
    * the NALs ([[graft.multimodal.H264Codec.parse]]). The oracle
    * rebuilds EVERYTHING closed-form — including the SPS byte size
    * from its exp-Golomb bit arithmetic (2·⌊log₂ v+1⌋+1 per ue field,
    * via DuckDB's bin()) and the TS packet count from the
    * PES+stuffing tiling — so the hash only matches if mux,
    * reassembly, PES strip and NAL walk are all byte-exact. Slice
    * payloads here are escape-free by construction (emulation
    * prevention is q179's dedicated surface), keeping the wire length
    * closed-form. Scale shape: one narrow mapPartitions stage; TS
    * blobs never shuffle. */
  private[queries] def q180(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.multimodal.{H264Codec, Multimodal, TsCodec}
    val media = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { docId =>
        val es = H264Codec.encode(
          widthMbs = (1 + docId % 120).toInt,
          heightMapUnits = (1 + docId % 68).toInt,
          profileIdc = Array(66, 77, 100)((docId % 3).toInt),
          levelIdc = Array(30, 31, 40, 41, 51)((docId % 5).toInt),
          log2MaxFrameNumMinus4 = (docId % 4).toInt,
          nFrames = (2 + docId % 6).toInt,
          idrEvery = (1 + docId % 3).toInt,
          payloadLen = i => (16 + ((docId + i) % 7) * 4).toInt,
          payloadByte = (i, j) => ((docId * 7 + i * 31 + j) % 251 + 4).toInt)
        Multimodal.MediaRecord(docId,
          TsCodec.muxPayload(
            programNumber = (1 + docId % 1000).toInt,
            pmtPid = 0x30, pcrPid = 0x101, pid = 0x101,
            streamType = 0x1b, payload = TsCodec.pesWrap(0xe0, es)),
          "video/mp2t")
      }).toDF()
    Multimodal.tsH264ChainBatched(spark, media).toDF()
      .select(col("doc_id"), col("n_ts_packets"), col("payload_bytes"),
        col("width"), col("height"), col("profile").as("profile_idc"),
        col("level").as("level_idc"), col("max_frame_num"),
        col("n_idr"), col("n_nonidr"), col("slice_rbsp_bytes"),
        col("slice_rbsp_sum"))
      .orderBy(col("doc_id"))
  }
  private[queries] val q180Sql =
    """WITH p AS (
      |  SELECT doc_id,
      |         ([66,77,100])[CAST(doc_id % 3 AS INT) + 1] AS profile_idc,
      |         ([30,31,40,41,51])[CAST(doc_id % 5 AS INT) + 1] AS level_idc,
      |         1 + doc_id % 120 AS w_mbs,
      |         1 + doc_id % 68 AS h_units,
      |         doc_id % 4 AS log2v,
      |         ([16,32,64,128])[CAST(doc_id % 4 AS INT) + 1] AS max_frame_num,
      |         CAST(2 + doc_id % 6 AS INT) AS n_frames,
      |         CAST(1 + doc_id % 3 AS INT) AS idr_every
      |  FROM documents),
      |sps AS (
      |  SELECT doc_id,
      |         (34 + CASE WHEN profile_idc = 100 THEN 7 ELSE 0 END
      |          + 2 * (length(bin(log2v + 1)) + length(bin(w_mbs))
      |                 + length(bin(h_units))) + 7) // 8 AS sps_bytes
      |  FROM p),
      |fb AS (SELECT doc_id, i, 16 + ((doc_id + i) % 7) * 4 AS plen,
      |              CASE WHEN i % idr_every = 0 THEN 4 ELSE 3 END AS sc
      |       FROM (SELECT doc_id, idr_every, unnest(range(0, n_frames)) AS i
      |             FROM p)),
      |bv AS (SELECT doc_id, (doc_id * 7 + i * 31 + j) % 251 + 4 AS v
      |       FROM (SELECT doc_id, i, unnest(range(0, plen)) AS j FROM fb)),
      |sl AS (SELECT doc_id, sum(plen) AS sbytes, sum(sc + 1 + plen) AS wire
      |       FROM fb GROUP BY 1),
      |sm AS (SELECT doc_id, sum(v) AS ssum FROM bv GROUP BY 1),
      |es AS (SELECT p.doc_id,
      |              9 + 5 + sps.sps_bytes + 7 + sl.wire AS pes_len
      |       FROM p JOIN sps USING (doc_id) JOIN sl USING (doc_id))
      |SELECT p.doc_id,
      |       CAST(2 + (es.pes_len + 183) // 184 AS INT) AS n_ts_packets,
      |       CAST(es.pes_len AS BIGINT) AS payload_bytes,
      |       CAST(16 * p.w_mbs AS INT) AS width,
      |       CAST(16 * p.h_units AS INT) AS height,
      |       CAST(p.profile_idc AS INT) AS profile_idc,
      |       CAST(p.level_idc AS INT) AS level_idc,
      |       CAST(p.max_frame_num AS INT) AS max_frame_num,
      |       CAST((p.n_frames - 1) // p.idr_every + 1 AS INT) AS n_idr,
      |       CAST(p.n_frames - ((p.n_frames - 1) // p.idr_every + 1) AS INT)
      |         AS n_nonidr,
      |       CAST(sl.sbytes AS BIGINT) AS slice_rbsp_bytes,
      |       CAST(sm.ssum AS BIGINT) AS slice_rbsp_sum
      |FROM p JOIN es USING (doc_id) JOIN sl USING (doc_id)
      |       JOIN sm USING (doc_id)
      |ORDER BY p.doc_id""".stripMargin

  // ----------------------------------------------------------------- q182
  /** PDF text extraction — the document format public crawls carry more
    * text in than any other binary container, walked for REAL
    * ([[graft.multimodal.PdfCodec]]): each document renders a genuine
    * multi-page PDF (true byte offsets, catalog → pages → per-page
    * content streams, a shared Type1 font) in one of the THREE
    * real-world cross-reference shapes by doc_id % 3 — the classic
    * table, the PDF 1.5 xref STREAM (/W binary entries, FlateDecode
    * under the PNG Up predictor) and a classic INCREMENTAL update whose
    * /Prev chain replaces page 0's content object (the parse must
    * resolve the newest body, never the placeholder) — with pages
    * alternating PLAIN and FLATE-compressed content (RFC 1950 zlib via
    * the JDK Inflater — the ZipCodec/WarcCodec inflate discipline), and
    * page text split across one `(…) Tj` and one `[(…) -120 (…)] TJ`
    * show op with the literal-string escape set live in the data (the
    * `(lang)` parens and an embedded newline octal-escape in every
    * page). [[graft.multimodal.Multimodal.pdfPagesBatched]] re-walks
    * the object graph and the oracle recomputes every page's decoded
    * text closed-form — a wrong xref offset, a mis-walked /Prev chain,
    * a mis-predicted entry row, a mis-sliced stream, a broken inflate,
    * a dropped TJ element or a bad escape decode all hash-mismatch on
    * `text_md5`. Encrypted / object-stream / hybrid-reference PDFs fail
    * loudly (PdfCodecSpec). Scale shape: one narrow mapPartitions
    * stage; PDF blobs never cross a shuffle — each page reduces to
    * counters + md5 before the output sort. */
  private[queries] def q182(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.multimodal.{Multimodal, PdfCodec}
    val media = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("lang"), col("text"))
      .as[(Long, String, String)]
      .mapPartitions(_.map { case (docId, lang, text) =>
        val pages = (0 until (1 + docId % 3).toInt).map { p =>
          PdfCodec.PageSpec(Seq(
            text.drop(p * 7).take(25),
            "\n(" + lang + ")",
            text.drop(p * 7 + 25).take(15)),
            flate = (docId + p) % 2 == 0)
        }
        // all four real-world cross-reference/object shapes live in the
        // fixture: the classic table, the PDF 1.5 xref STREAM (W binary
        // entries under the PNG Up predictor), a classic INCREMENTAL
        // update whose /Prev chain must resolve page 0's replaced
        // content object, and COMPRESSED OBJECT STREAMS (catalog/pages/
        // font dereferenced through type-2 entries) — the oracle sees
        // only the final text, so a mis-walked chain, mis-predicted
        // entry or mis-sliced ObjStm member all hash-mismatch
        val bytes = (docId % 4).toInt match {
          case 0 => PdfCodec.encode(pages)
          case 1 => PdfCodec.encodeXrefStream(pages)
          case 2 => PdfCodec.encodeIncremental(pages, s"PLACEHOLDER $docId")
          case _ => PdfCodec.encodeObjectStreams(pages)
        }
        Multimodal.MediaRecord(docId, bytes, "application/pdf")
      }).toDF()
    Multimodal.pdfPagesBatched(spark, media).toDF()
      .select(col("doc_id"), col("page_idx"), col("n_text_ops"),
        col("flate"), length(col("text")).cast("int").as("text_chars"),
        md5(col("text")).as("text_md5"))
      .orderBy(col("doc_id"), col("page_idx"))
  }
  private[queries] val q182Sql =
    """WITH pg AS (
      |  SELECT doc_id, lang, text, CAST(p.p AS BIGINT) AS p
      |  FROM documents, (SELECT unnest(range(0, 3)) AS p) p
      |  WHERE p.p < 1 + doc_id % 3),
      |t AS (
      |  SELECT doc_id, p AS page_idx,
      |         substr(text, 1 + CAST(p * 7 AS INT), 25) || chr(10) ||
      |           '(' || lang || ')' ||
      |           substr(text, 1 + CAST(p * 7 + 25 AS INT), 15) AS ptext,
      |         (doc_id + p) % 2 = 0 AS flate
      |  FROM pg)
      |SELECT doc_id, CAST(page_idx AS INT) AS page_idx,
      |       2 AS n_text_ops, flate,
      |       CAST(length(ptext) AS INT) AS text_chars,
      |       md5(ptext) AS text_md5
      |FROM t ORDER BY doc_id, page_idx""".stripMargin

  // ----------------------------------------------------------------- q184
  /** Crawl-chain composition: PDF members INSIDE ZIP shards — q169's
    * archive layer feeding q182's document layer, the two-container
    * chain a real crawl ingest runs (dump shards arrive zipped; the
    * documents inside are PDFs). Each document renders a ZIP whose
    * `.pdf` members (STORED/DEFLATE alternating — the ZIP-layer decode
    * paths) each hold a genuine one-page PDF (plain/flate alternating —
    * the PDF-layer decode paths); the chain walks the central
    * directory, CRC-verifies and decodes every member, re-parses each
    * payload as a PDF and extracts its text. The oracle recomputes the
    * member naming, both alternations and the final decoded text
    * closed-form from `documents` — any byte lost at EITHER layer
    * hash-mismatches. Scale shape: two narrow mapPartitions stages
    * back to back; neither archive nor PDF bytes ever cross a shuffle. */
  private[queries] def q184(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.multimodal.{Multimodal, PdfCodec, ZipCodec}
    val shards = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("lang"), col("text"))
      .as[(Long, String, String)]
      .mapPartitions(_.map { case (docId, lang, text) =>
        val members = (1 to (1 + docId % 2).toInt).map { s =>
          val pdf = PdfCodec.encode(Seq(PdfCodec.PageSpec(
            Seq(text.drop(s * 5).take(30), "(" + lang + ")"),
            flate = s % 2 == 0)))
          val m = if (s % 2 == 0) ZipCodec.MethodStored
          else ZipCodec.MethodDeflate
          (f"${docId * 10 + s}%08d.pdf", pdf, m)
        }
        Multimodal.MediaRecord(docId, ZipCodec.encode(members),
          "application/zip")
      }).toDF()
    val pdfs = Multimodal.zipMembersBatched(spark, shards).toDF()
      .where(col("name").endsWith(".pdf"))
      // the full name stem, not a fixed 8-char slice: %08d is a MINIMUM
      // width, so doc_id*10+s outgrows 8 digits at large scale factors
      // and a positional substring would silently truncate the id
      .select(regexp_extract(col("name"), "^(\\d+)\\.pdf$", 1)
        .cast("bigint").as("doc_id"),
        col("payload").as("content"), lit("application/pdf").as("mime"))
    Multimodal.pdfPagesBatched(spark, pdfs).toDF()
      .select(col("doc_id").as("pdf_id"), col("n_text_ops"), col("flate"),
        length(col("text")).cast("int").as("text_chars"),
        md5(col("text")).as("text_md5"))
      .orderBy(col("pdf_id"))
  }
  private[queries] val q184Sql =
    """WITH s AS (
      |  SELECT doc_id, lang, text, CAST(g.s AS BIGINT) AS s
      |  FROM documents, (SELECT unnest(range(1, 3)) AS s) g
      |  WHERE g.s <= 1 + doc_id % 2),
      |t AS (
      |  SELECT doc_id * 10 + s AS pdf_id,
      |         substr(text, 1 + CAST(s * 5 AS INT), 30) ||
      |           '(' || lang || ')' AS ptext,
      |         s % 2 = 0 AS flate
      |  FROM s)
      |SELECT pdf_id, 2 AS n_text_ops, flate,
      |       CAST(length(ptext) AS INT) AS text_chars,
      |       md5(ptext) AS text_md5
      |FROM t ORDER BY pdf_id""".stripMargin

  // ----------------------------------------------------------------- q150
  /** STREAMING CDC changelog merge — q147's batch semantics through the
    * PRODUCTION streaming operator
    * ([[graft.streaming.StreamingPipeline.startChangelogIngest]]): the
    * documents snapshot is written as the merge-on-read table's base,
    * the SAME three-generation changelog fixture arrives as 3
    * micro-batches in seq order (one generation per batch), each batch
    * lands O(batch) as its own `delta/gen=batchId` (dynamic partition
    * overwrite — exactly-once on storage), and `compactEvery = 2` fires
    * the LAG-1 fold mid-stream after batch 1 — generation 0 folds into
    * a base that KEEPS per-row winner seqs, batch 2's deltas then merge
    * against the folded base. The declared output is q147's exact
    * per-lang winner-seq report read through
    * [[graft.ops.ChangelogMerge.readMerged]], and the oracle is q147's
    * SQL verbatim — the hash only matches if gen-keyed appends,
    * the mid-stream fold AND the merge-on-read view together reproduce
    * the one-shot batch merge exactly (the invariant the design exists
    * to provide, the q106/q62 relationship for the lakehouse family).
    * Scale shape: per batch O(batch rows) written, snapshot never
    * rewritten per trigger; the read is one window over base ∪ ≤ 2
    * live generations; stream state store EMPTY — storage is the
    * state. */
  private[queries] def q150(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.ops.ChangelogMerge
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = graft.ops.Scratch.tempDir("graft_q150_")
    try {
      val base = Tables.spread(Tables.documents(spark, dir))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      ChangelogMerge.writeBase(base, tmp)
      val cl = changelogFixture(base)
      // one micro-batch per seq generation, in seq order (the CDC
      // reader's delivery contract the compaction fold relies on)
      val chunks = (1 to 3).map { s =>
        fixtureSlice(cl.where(col(ChangelogMerge.SeqCol) === s)
          .as[(Long, String, String, Long, Long, String)]).sortBy(_._1)
      }
      val mem = MemoryStream[(Long, String, String, Long, Long, String)]
      val q = graft.streaming.StreamingPipeline.startChangelogIngest(
        mem.toDF().toDF("doc_id", "lang", "source", "n_chars",
          ChangelogMerge.SeqCol, ChangelogMerge.OpCol),
        tablePath = tmp, checkpointDir = s"$tmp/ckpt", key = Seq("doc_id"),
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0),
        compactEvery = Some(2))
      try chunks.foreach { c => mem.addData(c.toSeq); q.processAllAvailable() }
      finally q.stop()
      localizeRows(
        changelogReport(ChangelogMerge.readMerged(spark, tmp, Seq("doc_id"))),
        Seq("lang"))
    } finally rmRecursive(tmp)
  }
  private[queries] def q150Sql: String = q147Sql

  // ----------------------------------------------------------------- q154
  /** WebVTT subtitle parse + frame alignment — the query that turns one
    * captioned video into supervised (frame, caption) training pairs:
    * each document renders a genuine WebVTT file
    * ([[graft.multimodal.VttCodec.encode]]; cue count, offsets and
    * texts from table formulas), [[graft.multimodal.Multimodal
    * .vttCuesBatched]] parses the timing lines for real, and sampled
    * frame timestamps LEFT-join the cues on the containment range
    * `start ≤ t < end` — an equi-join on doc_id with a range residual,
    * NOT a cartesian (cues are per-video; the fixture's cue spacing
    * makes them non-overlapping, so each frame matches ≤ 1 cue).
    * Frames landing in inter-cue gaps keep cue_idx −1 — the honest
    * uncaptioned case. The oracle recomputes the matching cue
    * closed-form from the cue-grid formula, so the hash only matches
    * if the timestamp parse AND the range join land exactly. Scale
    * shape: cues and frames both keyed by doc — one shuffle each side;
    * at fleet scale the same join runs as q33's as-of spelling (union
    * + running window) when cue lists are long. */
  private[queries] def q154(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.multimodal.{Multimodal, VttCodec}
    val media = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("source")).as[(Long, String)]
      .mapPartitions(_.map { case (docId, source) =>
        val off = (docId % 7) * 100
        val cues = (1 to (2 + docId % 4).toInt).map { i =>
          VttCodec.Cue(i, (i - 1) * 2000L + off, (i - 1) * 2000L + off + 1500L,
            s"cue $i $source")
        }
        Multimodal.MediaRecord(docId,
          VttCodec.encode(cues).getBytes("UTF-8"), "text/vtt")
      }).toDF()
    val cues = Multimodal.vttCuesBatched(spark, media).toDF()
    val frames = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(0), lit(5))).as("frame_k"))
      .withColumn("t_ms", col("frame_k").cast("long") * 1300L)
    frames.join(cues,
        frames("doc_id") === cues("doc_id") &&
          col("t_ms") >= col("start_ms") && col("t_ms") < col("end_ms"),
        "left")
      .select(frames("doc_id"), col("frame_k"), col("t_ms"),
        coalesce(col("cue_idx"), lit(-1)).as("cue_idx"),
        coalesce(col("cue_text"), lit("")).as("cue_text"))
      .orderBy(frames("doc_id"), col("frame_k"))
  }
  private[queries] val q154Sql =
    """WITH f AS (
      |  SELECT doc_id, source, CAST(k.k AS INT) AS frame_k,
      |         CAST(k.k * 1300 AS BIGINT) AS t_ms,
      |         (doc_id % 7) * 100 AS off,
      |         2 + doc_id % 4 AS n_cues
      |  FROM documents, (SELECT unnest(range(0, 6)) AS k) k),
      |m AS (
      |  SELECT doc_id, frame_k, t_ms,
      |         CASE WHEN t_ms >= off AND (t_ms - off) % 2000 < 1500
      |                   AND (t_ms - off) // 2000 + 1 <= n_cues
      |              THEN CAST((t_ms - off) // 2000 + 1 AS INT)
      |              ELSE -1 END AS cue_idx,
      |         source
      |  FROM f)
      |SELECT doc_id, frame_k, t_ms, cue_idx,
      |       CASE WHEN cue_idx > 0 THEN 'cue ' || cue_idx || ' ' || source
      |            ELSE '' END AS cue_text
      |FROM m ORDER BY doc_id, frame_k""".stripMargin

  // ----------------------------------------------------------------- q155
  /** WebDataset tar-shard ingest — the de-facto layout of image-text
    * training corpora: one tar archive streams samples, each sample =
    * consecutive members sharing a key prefix (`00042.txt` +
    * `00042.cls` + `00042.json`). Each document renders a genuine
    * ustar shard ([[graft.multimodal.TarCodec.encode]] — octal size
    * fields, verified header checksums, block padding, two-zero-block
    * end marker) holding 2–4 samples whose member payloads derive from
    * table columns; [[graft.multimodal.Multimodal
    * .webdatasetMembersBatched]] walks the archive and splits the
    * WebDataset key/field convention, and the query pairs members into
    * samples with a plain group-by. The oracle recomputes every field
    * — including the text slice's md5 and the exact member byte sizes
    * — closed-form, so the hash only matches if the octal arithmetic,
    * the checksum walk and the padding strides all land. Scale shape:
    * one narrow mapPartitions stage; shard blobs never cross a
    * shuffle — the group-by carries sample keys, sizes and one md5 per
    * sample. */
  private[queries] def q155(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.multimodal.{Multimodal, TarCodec}
    val media = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("lang"), col("text")).as[(Long, String, String)]
      .mapPartitions(_.map { case (docId, lang, text) =>
        val members = (1 to (2 + docId % 3).toInt).flatMap { s =>
          val key = f"${docId * 10 + s}%08d"
          Seq(
            s"$key.txt" -> text.drop(s * 10).take(40).getBytes("US-ASCII"),
            s"$key.cls" -> lang.getBytes("US-ASCII"),
            s"$key.json" -> s"""{"doc":$docId,"s":$s}""".getBytes("US-ASCII"))
        }
        Multimodal.MediaRecord(docId, TarCodec.encode(members),
          "application/x-tar")
      }).toDF()
    Multimodal.webdatasetMembersBatched(spark, media).toDF()
      .groupBy(col("doc_id"), col("sample_key"))
      .agg(count(lit(1)).as("n_fields"),
        max(when(col("field") === "txt", length(col("payload"))))
          .as("txt_bytes"),
        max(when(col("field") === "txt", md5(col("payload"))))
          .as("txt_md5"),
        max(when(col("field") === "cls", col("payload").cast("string")))
          .as("cls"),
        sum(col("size")).as("total_bytes"))
      .orderBy(col("doc_id"), col("sample_key"))
  }
  private[queries] val q155Sql =
    """WITH s AS (
      |  SELECT doc_id, lang, text, CAST(g.s AS INT) AS s
      |  FROM documents, (SELECT unnest(range(1, 5)) AS s) g
      |  WHERE g.s <= 2 + doc_id % 3),
      |m AS (
      |  SELECT doc_id,
      |         lpad(CAST(doc_id * 10 + s AS VARCHAR), 8, '0') AS sample_key,
      |         substr(text, 1 + s * 10, 40) AS slice,
      |         lang,
      |         '{"doc":' || doc_id || ',"s":' || s || '}' AS js
      |  FROM s)
      |SELECT doc_id, sample_key,
      |       CAST(3 AS BIGINT) AS n_fields,
      |       CAST(length(slice) AS INT) AS txt_bytes,
      |       md5(slice) AS txt_md5,
      |       lang AS cls,
      |       CAST(length(slice) + length(lang) + length(js) AS BIGINT)
      |         AS total_bytes
      |FROM m ORDER BY doc_id, sample_key""".stripMargin

  // ----------------------------------------------------------------- q156
  /** Crawl-to-corpus, end-to-end: the first three stages a pretraining
    * corpus actually runs, composed from production operators with the
    * archive as the ONLY input — no side-channel join back to the
    * documents table. Each document ships as a two-record WARC
    * (response = HTTP message whose body is the text; metadata = a
    * warc-fields block carrying lang/source — Common Crawl's layout),
    * half the archives member-gzipped. The chain: (1) WARC ingest
    * recovers text from the HTTP split and lang/source from the
    * metadata fields (a per-doc equi-join of the two record types);
    * (2) exact dedup on normalized text (CurationPipeline.exactDedup,
    * first-wins); (3) the quality gate (min words + stopword ratio).
    * The per-lang report carries each stage's count, the survivors'
    * byte sum AND an md5 over the sorted survivor id list — the hash
    * pins exactly WHICH docs survive, so a wrong HTTP split, a wrong
    * metadata parse or a wrong gate all fail loudly. Scale shape:
    * archive blobs die in the first mapPartitions; the record-type
    * join and the dedup window are keyed on doc/hash; the report is a
    * 5-row aggregate. */
  private[queries] def q156(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.multimodal.{Multimodal, WarcCodec}
    val media = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
      .as[(Long, String, String, String)]
      .mapPartitions(_.map { case (docId, lang, source, text) =>
        val uri = s"https://example.org/$source/doc$docId"
        val date = "2026-08-15T00:00:00Z"
        val http = s"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n" +
          s"Content-Length: ${text.length}\r\n\r\n$text"
        val meta = s"lang: $lang\r\nsource: $source\r\n"
        val recs = Seq(
          WarcCodec.WarcRecord("response", uri, date,
            "application/http;msgtype=response", http.getBytes("US-ASCII")),
          WarcCodec.WarcRecord("metadata", uri, date,
            "application/warc-fields", meta.getBytes("US-ASCII")))
        if (docId % 2 == 0)
          Multimodal.MediaRecord(docId, WarcCodec.encodeGzip(recs),
            "application/warc+gzip")
        else
          Multimodal.MediaRecord(docId, WarcCodec.encode(recs),
            "application/warc")
      }).toDF()
    val records = Multimodal.warcRecordsBatched(spark, media).toDF()
    val texts = records.where(col("warc_type") === "response")
      .select(col("doc_id"), col("payload").cast("string").as("text"))
    val metas = records.where(col("warc_type") === "metadata")
      .select(col("doc_id"),
        regexp_extract(col("payload").cast("string"),
          "lang: ([^\\r]+)", 1).as("lang"))
    val crawled = texts.join(metas, "doc_id")
    val exact = CurationPipeline.exactDedup(crawled)
    val qual = CurationPipeline.qualityGate(exact, CurationPipeline.Config())
    val c0 = crawled.groupBy(col("lang")).agg(count(lit(1)).as("n_crawled"))
    val c1 = exact.groupBy(col("lang")).agg(count(lit(1)).as("n_after_exact"))
    val c2 = qual.groupBy(col("lang")).agg(
      count(lit(1)).as("n_after_quality"),
      sum(length(col("text"))).as("sum_chars"),
      md5(concat_ws(",", transform(sort_array(collect_list(col("doc_id"))),
        x => x.cast("string"))).cast("binary")).as("kept_md5"))
    c0.join(c1, "lang").join(c2, "lang")
      .select(col("lang"), col("n_crawled"), col("n_after_exact"),
        col("n_after_quality"), col("sum_chars"), col("kept_md5"))
      .orderBy(col("lang"))
  }
  private[queries] val q156Sql = {
    val norm = "regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')"
    val nWords = "len(string_split(text, ' '))"
    val swHits = "len(list_filter(string_split(text, ' '), x -> x = 'the' OR x = 'a'))"
    s"""WITH exact AS (
       |  SELECT doc_id, lang, text FROM documents
       |  QUALIFY row_number() OVER (PARTITION BY md5($norm) ORDER BY doc_id) = 1),
       |qual AS (
       |  SELECT doc_id, lang, text FROM exact
       |  WHERE $nWords >= 10
       |    AND CAST($swHits AS DOUBLE) / $nWords <= 0.5),
       |c0 AS (SELECT lang, count(*) AS n_crawled FROM documents GROUP BY 1),
       |c1 AS (SELECT lang, count(*) AS n_after_exact FROM exact GROUP BY 1),
       |c2 AS (SELECT lang, count(*) AS n_after_quality,
       |              CAST(sum(length(text)) AS BIGINT) AS sum_chars,
       |              md5(string_agg(CAST(doc_id AS VARCHAR), ','
       |                ORDER BY doc_id)) AS kept_md5
       |       FROM qual GROUP BY 1)
       |SELECT lang, n_crawled, n_after_exact, n_after_quality,
       |       sum_chars, kept_md5
       |FROM c0 JOIN c1 USING (lang) JOIN c2 USING (lang)
       |ORDER BY lang""".stripMargin
  }

  // ----------------------------------------------------------------- q157
  /** Ogg page walk under the oracle — the Opus/Vorbis transport
    * (RFC 3533), completing the web-audio container set (MP3 q149,
    * FLAC q144, WAV/AIFF/AU q95). Each document renders a genuine
    * single-serial logical stream ([[graft.multimodal.OggCodec
    * .encode]]: BOS/EOS flags, little-endian granules, per-page CRC
    * with the field zeroed, lacing-value segment tables) whose page
    * count, packet layout and granules derive from table formulas;
    * [[graft.multimodal.Multimodal.oggMetaBatched]] re-walks the page
    * layer — the oracle recomputes every stat closed-form, so the hash
    * only matches if the CRC verification, the lacing-framed packet
    * count AND the granule decode all land on the true bytes. Opus/
    * Vorbis packets are counted, never decoded — the documented
    * entropy-codec seam. Scale shape: one narrow mapPartitions stage;
    * blobs never cross a shuffle. */
  private[queries] def q157(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.multimodal.{Multimodal, OggCodec}
    val media = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { docId =>
        val nPages = (2 + docId % 4).toInt
        var cumPackets = 0L
        val pages = (0 until nPages).map { p =>
          val nPk = (1 + (docId + p) % 3).toInt
          cumPackets += nPk
          OggCodec.PageSpec(
            (0 until nPk).map(k => (50 + (docId + 7L * p + 3L * k) % 100).toInt),
            granule = cumPackets * 960L)
        }
        Multimodal.MediaRecord(docId,
          OggCodec.encode((1000 + docId % 100).toInt, pages), "audio/ogg")
      }).toDF()
    Multimodal.oggMetaBatched(spark, media).toDF()
      .select(col("doc_id"), col("serial"), col("n_pages"), col("n_packets"),
        col("payload_bytes"), col("last_granule"), col("bos_ok"),
        col("eos_ok"))
      .orderBy(col("doc_id"))
  }
  private[queries] val q157Sql =
    """WITH pg AS (
      |  SELECT doc_id, CAST(p.p AS BIGINT) AS p
      |  FROM documents, (SELECT unnest(range(0, 6)) AS p) p
      |  WHERE p.p < 2 + doc_id % 4),
      |pk AS (
      |  SELECT doc_id, p, CAST(k.k AS BIGINT) AS k
      |  FROM pg, (SELECT unnest(range(0, 3)) AS k) k
      |  WHERE k.k < 1 + (doc_id + p) % 3)
      |SELECT doc_id,
      |       CAST(1000 + doc_id % 100 AS INT) AS serial,
      |       CAST(2 + doc_id % 4 AS INT) AS n_pages,
      |       CAST(count(*) AS INT) AS n_packets,
      |       CAST(sum(50 + (doc_id + 7 * p + 3 * k) % 100) AS BIGINT)
      |         AS payload_bytes,
      |       CAST(count(*) * 960 AS BIGINT) AS last_granule,
      |       TRUE AS bos_ok, TRUE AS eos_ok
      |FROM pk GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------------- q169
  /** ZIP training-shard ingest — the other archive container public
    * corpora ship in, next to tar/WebDataset (q155) and WARC (q146).
    * Each document renders a genuine ZIP ([[graft.multimodal.ZipCodec
    * .encode]] — local headers, central directory, end record, CRC-32
    * per member) holding 2-4 samples of two members each, the text
    * member alternating STORED and DEFLATE (RFC 1951 via the JDK's raw
    * Inflater, the WarcCodec gzip precedent) so both decode paths run
    * in one query; [[graft.multimodal.Multimodal.zipMembersBatched]]
    * walks the central directory, cross-checks every local header and
    * CRC-verifies every payload. The oracle recomputes member order,
    * method choice, the exact decoded byte counts and `md5(payload)`
    * closed-form — the hash only matches if the directory walk, the
    * offset arithmetic AND the inflate land on the exact original
    * bytes. Compressed sizes are deflate-implementation-dependent and
    * deliberately excluded (the q146 rule). Scale shape: one narrow
    * mapPartitions stage; archive blobs never cross a shuffle — each
    * payload reduces to its size + md5 before the output sort. */
  private[queries] def q169(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.multimodal.{Multimodal, ZipCodec}
    val media = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("lang"), col("text")).as[(Long, String, String)]
      .mapPartitions(_.map { case (docId, lang, text) =>
        val members = (1 to (2 + docId % 3).toInt).flatMap { s =>
          val key = f"${docId * 10 + s}%08d"
          val m = if (s % 2 == 0) ZipCodec.MethodStored else ZipCodec.MethodDeflate
          Seq(
            (s"$key.txt", text.drop(s * 10).take(40).getBytes("US-ASCII"), m),
            (s"$key.cls", lang.getBytes("US-ASCII"), ZipCodec.MethodStored))
        }
        Multimodal.MediaRecord(docId, ZipCodec.encode(members),
          "application/zip")
      }).toDF()
    Multimodal.zipMembersBatched(spark, media).toDF()
      .select(col("doc_id"), col("member_idx"), col("name"),
        when(col("method") === ZipCodec.MethodStored, lit("stored"))
          .otherwise(lit("deflate")).as("method"),
        col("size").as("size_bytes"), md5(col("payload")).as("payload_md5"))
      .orderBy(col("doc_id"), col("member_idx"))
  }
  private[queries] val q169Sql =
    """WITH s AS (
      |  SELECT doc_id, lang, text, CAST(g.s AS INT) AS s
      |  FROM documents, (SELECT unnest(range(1, 5)) AS s) g
      |  WHERE g.s <= 2 + doc_id % 3),
      |m AS (
      |  SELECT doc_id, (s - 1) * 2 AS member_idx,
      |         lpad(CAST(doc_id * 10 + s AS VARCHAR), 8, '0') || '.txt' AS name,
      |         CASE WHEN s % 2 = 0 THEN 'stored' ELSE 'deflate' END AS method,
      |         substr(text, 1 + s * 10, 40) AS payload
      |  FROM s
      |  UNION ALL
      |  SELECT doc_id, (s - 1) * 2 + 1,
      |         lpad(CAST(doc_id * 10 + s AS VARCHAR), 8, '0') || '.cls',
      |         'stored', lang
      |  FROM s)
      |SELECT doc_id, member_idx, name, method,
      |       CAST(length(payload) AS INT) AS size_bytes,
      |       md5(payload) AS payload_md5
      |FROM m ORDER BY doc_id, member_idx""".stripMargin

  // ----------------------------------------------------------------- q170
  /** HTML main-content extraction under the oracle — the stage between
    * WARC ingest (q146/q156) and dedup/quality that every crawl corpus
    * runs: each document renders a REALISTIC page (title, style block,
    * link-only nav, a script whose raw text contains markup-looking
    * bytes — the HTML5 raw-text rule says that's data, not tags — the
    * text chunked into <p> blocks with inline links and an escaped
    * entity, and a link-only footer); [[graft.ops.HtmlOps.blocks]]
    * walks the markup into ordered text blocks and the query classifies
    * boilerplate by the jusText-style link-density rule (kept = not the
    * title, >= 3 words, links*2 < words) — nav and footer fail it
    * naturally, content paragraphs pass. The oracle rebuilds every
    * block's text, word/link counts and classification closed-form
    * from the table columns, so a wrong entity decode, a script body
    * leaking into text, a lost block boundary or a miscounted inline
    * link all hash-mismatch. Scale shape: one narrow mapPartitions
    * stage (markup never crosses a shuffle); the output reduces each
    * block to counts + md5 before the sort. */
  private[queries] def q170(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.ops.HtmlOps
    val blocks = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)]
      .mapPartitions(_.flatMap { case (docId, source, text) =>
        HtmlOps.blocks(docId, HtmlPage.of(docId, source, text))
          .map(b => (docId, b.idx, b.tag, b.text, b.nLinks))
      }).toDF("doc_id", "block_idx", "tag", "text", "n_links")
    val words = size(split(col("text"), " "))
    blocks.select(col("doc_id"), col("block_idx"), col("tag"),
        words.as("n_words"), col("n_links"),
        (col("tag") =!= "title" && words >= 3 &&
          col("n_links") * 2 < words).as("kept"),
        md5(col("text")).as("text_md5"))
      .orderBy(col("doc_id"), col("block_idx"))
  }
  private[queries] val q170Sql =
    """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws
      |           FROM documents),
      |ch AS (SELECT doc_id, CAST(g.c AS INT) AS c,
      |              ws[c*12+1 : c*12+12] AS cw
      |       FROM w, (SELECT unnest(range(0, 4)) AS c) g
      |       WHERE g.c * 12 < len(ws)),
      |p AS (SELECT doc_id, 2 + c AS block_idx, 'p' AS tag,
      |             CASE WHEN c = 0 THEN 'Doc & ' || array_to_string(cw, ' ')
      |                  ELSE array_to_string(cw, ' ') END AS text,
      |             CASE WHEN c % 2 = 1 THEN 1 ELSE 0 END AS n_links
      |      FROM ch),
      |nc AS (SELECT doc_id, count(*) AS n FROM ch GROUP BY doc_id),
      |blocks AS (
      |  SELECT doc_id, 0 AS block_idx, 'title' AS tag,
      |         'Doc ' || doc_id || ' of ' || source AS text, 0 AS n_links
      |  FROM w
      |  UNION ALL
      |  SELECT doc_id, 1, 'nav', 'Home About Contact', 3 FROM w
      |  UNION ALL
      |  SELECT doc_id, block_idx, tag, text, n_links FROM p
      |  UNION ALL
      |  SELECT w.doc_id, CAST(2 + nc.n AS INT), 'footer', 'Privacy Terms', 2
      |  FROM w JOIN nc ON nc.doc_id = w.doc_id)
      |SELECT doc_id, block_idx, tag,
      |       CAST(len(string_split(text, ' ')) AS INT) AS n_words, n_links,
      |       (tag <> 'title' AND len(string_split(text, ' ')) >= 3
      |          AND n_links * 2 < len(string_split(text, ' '))) AS kept,
      |       md5(text) AS text_md5
      |FROM blocks ORDER BY doc_id, block_idx""".stripMargin

  // ----------------------------------------------------------------- q171
  /** Crawl-to-corpus with REAL HTML bodies — q156's chain upgraded to
    * what a web corpus actually requires: each WARC response body is
    * MARKUP (the q170 page: nav/script/style/footer boilerplate around
    * the document text), so the chain is WARC walk (member-gzip half
    * the archives) -> HTML main-content extraction
    * ([[graft.ops.HtmlOps.mainText]]: block segmentation + the
    * link-density boilerplate rule) -> canonical-text exact dedup ->
    * quality gate -> per-lang report. Four self-written layers (gzip
    * member split, WARC framing, HTTP split, HTML walk) compose under
    * ONE hash: the oracle rebuilds the extracted text closed-form
    * (chunk arithmetic from the table columns), replays dedup and the
    * gate on it, and pins the survivor id list's md5 — a boilerplate
    * block leaking into the corpus, a lost entity, or a dedup keyed on
    * the wrong text all fail. Scale shape: archives and markup die in
    * their mapPartitions stages; dedup is one keyed window; the report
    * is a 5-row aggregate. */
  private[queries] def q171(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.multimodal.{Multimodal, WarcCodec}
    import graft.ops.HtmlOps
    val media = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
      .as[(Long, String, String, String)]
      .mapPartitions(_.map { case (docId, lang, source, text) =>
        val uri = s"https://example.org/$source/doc$docId"
        val date = "2026-08-16T00:00:00Z"
        val page = HtmlPage.of(docId, source, text)
        val http = s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
          s"Content-Length: ${page.length}\r\n\r\n$page"
        val meta = s"lang: $lang\r\n"
        val recs = Seq(
          WarcCodec.WarcRecord("response", uri, date,
            "application/http;msgtype=response", http.getBytes("US-ASCII")),
          WarcCodec.WarcRecord("metadata", uri, date,
            "application/warc-fields", meta.getBytes("US-ASCII")))
        if (docId % 2 == 0)
          Multimodal.MediaRecord(docId, WarcCodec.encodeGzip(recs),
            "application/warc+gzip")
        else
          Multimodal.MediaRecord(docId, WarcCodec.encode(recs),
            "application/warc")
      }).toDF()
    val records = Multimodal.warcRecordsBatched(spark, media).toDF()
    val ext = records.where(col("warc_type") === "response")
      .select(col("doc_id"), col("payload").cast("string").as("html"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, html) =>
        (id, HtmlOps.mainText(id, html))
      }).toDF("doc_id", "text")
    val metas = records.where(col("warc_type") === "metadata")
      .select(col("doc_id"),
        regexp_extract(col("payload").cast("string"),
          "lang: ([^\\r]+)", 1).as("lang"))
    val crawled = ext.join(metas, "doc_id")
    val exact = CurationPipeline.exactDedup(crawled)
    val qual = CurationPipeline.qualityGate(exact, CurationPipeline.Config())
    val c0 = crawled.groupBy(col("lang")).agg(count(lit(1)).as("n_crawled"))
    val c1 = exact.groupBy(col("lang")).agg(count(lit(1)).as("n_after_exact"))
    val c2 = qual.groupBy(col("lang")).agg(
      count(lit(1)).as("n_after_quality"),
      sum(length(col("text"))).as("sum_chars"),
      md5(concat_ws(",", transform(sort_array(collect_list(col("doc_id"))),
        x => x.cast("string"))).cast("binary")).as("kept_md5"))
    c0.join(c1, "lang").join(c2, "lang")
      .select(col("lang"), col("n_crawled"), col("n_after_exact"),
        col("n_after_quality"), col("sum_chars"), col("kept_md5"))
      .orderBy(col("lang"))
  }
  private[queries] val q171Sql = {
    val norm = "regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')"
    val nWords = "len(string_split(text, ' '))"
    val swHits = "len(list_filter(string_split(text, ' '), x -> x = 'the' OR x = 'a'))"
    s"""WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS ws
       |           FROM documents),
       |ch AS (SELECT doc_id, CAST(g.c AS INT) AS c,
       |              ws[c*12+1 : c*12+12] AS cw
       |       FROM w, (SELECT unnest(range(0, 4)) AS c) g
       |       WHERE g.c * 12 < len(ws)),
       |ext AS (SELECT doc_id,
       |              'Doc & ' || string_agg(array_to_string(cw, ' '), ' '
       |                ORDER BY c) AS text
       |        FROM ch WHERE c = 0 OR len(cw) >= 3 GROUP BY doc_id),
       |crawled AS (SELECT e.doc_id, w.lang, e.text
       |            FROM ext e JOIN w ON w.doc_id = e.doc_id),
       |exact AS (
       |  SELECT doc_id, lang, text FROM crawled
       |  QUALIFY row_number() OVER (PARTITION BY md5($norm) ORDER BY doc_id) = 1),
       |qual AS (
       |  SELECT doc_id, lang, text FROM exact
       |  WHERE $nWords >= 10
       |    AND CAST($swHits AS DOUBLE) / $nWords <= 0.5),
       |c0 AS (SELECT lang, count(*) AS n_crawled FROM crawled GROUP BY 1),
       |c1 AS (SELECT lang, count(*) AS n_after_exact FROM exact GROUP BY 1),
       |c2 AS (SELECT lang, count(*) AS n_after_quality,
       |              CAST(sum(length(text)) AS BIGINT) AS sum_chars,
       |              md5(string_agg(CAST(doc_id AS VARCHAR), ','
       |                ORDER BY doc_id)) AS kept_md5
       |       FROM qual GROUP BY 1)
       |SELECT lang, n_crawled, n_after_exact, n_after_quality,
       |       sum_chars, kept_md5
       |FROM c0 JOIN c1 USING (lang) JOIN c2 USING (lang)
       |ORDER BY lang""".stripMargin
  }
}
