package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.ops.{EventOps, TextOps}

/** Property-based checks (SURVEY.md §5 item 3). ScalaCheck props are run
  * directly (Test.check) — Spark calls inside properties use small
  * driver-built DataFrames, so each trial is milliseconds. */
class PropertySpec extends SparkSpecBase {
  import spark.implicits._

  private def check(p: Prop, trials: Int = 30): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(trials), p)
    assert(res.passed, res.status.toString)
  }

  private val wordGen = Gen.nonEmptyListOf(
    Gen.oneOf("spark", "data", "join", "the", "a", "row", "merge", "key"))

  test("shingle count law: |shingles_n(w)| == max(0, |w| - n + 1)") {
    check(Prop.forAll(wordGen, Gen.choose(1, 4)) { (ws, n) =>
      val text = ws.mkString(" ")
      val got = Seq(text).toDF("text")
        .select(size(TextOps.wordShingles($"text", n))).as[Int].head()
      got == math.max(0, ws.length - n + 1)
    }, trials = 20)
  }

  test("jaccard laws: j(a,a)=1, symmetry, bounds") {
    check(Prop.forAll(wordGen, wordGen) { (wa, wb) =>
      val df = Seq((wa.mkString(" "), wb.mkString(" "))).toDF("ta", "tb")
        .select(TextOps.shingleSet($"ta", 1).as("a"),
          TextOps.shingleSet($"tb", 1).as("b"))
      val (jaa, jab, jba) = df.select(
        TextOps.jaccardFromSets($"a", $"a"),
        TextOps.jaccardFromSets($"a", $"b"),
        TextOps.jaccardFromSets($"b", $"a")).as[(Double, Double, Double)].head()
      jaa == 1.0 && jab == jba && jab >= 0.0 && jab <= 1.0
    }, trials = 20)
  }

  test("simhash: in-row and row-exploded implementations agree") {
    check(Prop.forAll(Gen.nonEmptyListOf(wordGen.map(_.mkString(" ")))) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val inRow = docs.select($"doc_id",
        TextOps.simhash16InRow(array_distinct(TextOps.words($"text"))).as("h"))
      val rowBased = docs
        .select($"doc_id", explode(TextOps.words($"text")).as("word"))
        .distinct().groupBy($"doc_id")
        .agg(TextOps.simhash16($"word").as("h"))
      inRow.exceptAll(rowBased).isEmpty && rowBased.exceptAll(inRow).isEmpty
    }, trials = 10)
  }

  test("envelope roundtrip survives hostile payload strings") {
    val hostile = Gen.oneOf(
      """quote " inside""", "back\\slash", "new\nline", "tab\there",
      "unicode: é中文😀", "{\"json\": [1,2]}",
      "   ", "a:b:c", "")
    check(Prop.forAll(Gen.listOfN(3, hostile)) { payloads =>
      val df = payloads.zipWithIndex
        .map { case (p, i) => (s"u-$i", p) }.toDF("event_uuid", "payload")
      val rt = df.select(EventOps.decodeEnvelope(
        EventOps.encodeEnvelope(struct($"event_uuid", $"payload"), $"event_uuid"),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("event_uuid",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("payload",
            org.apache.spark.sql.types.StringType)))).as("e"))
        .select($"e.event_uuid", $"e.payload")
      val orig = df.select($"event_uuid", $"payload")
      rt.exceptAll(orig).isEmpty && orig.exceptAll(rt).isEmpty
    }, trials = 10)
  }

  test("normalizeText is idempotent and its md5 key is stable") {
    val hostile = Gen.oneOf(
      "MiXeD CaSe", "  runs   of   spaces  ", "tabs\tand\nnewlines",
      "punct!!!,,,;;;", "unicode é中文😀 mixed", "123 numbers 456",
      "", "   ", "already normal text")
    check(Prop.forAll(Gen.listOfN(3, hostile)) { texts =>
      val df = texts.toDF("t")
      val once = df.select(TextOps.normalizeText($"t").as("n1"))
      val twice = once.select($"n1", TextOps.normalizeText($"n1").as("n2"))
      twice.where($"n1" =!= $"n2").isEmpty
    }, trials = 10)
  }

  test("bpeApplyMerge agrees with a reference greedy implementation on " +
    "random token sequences and merge pairs") {
    def ref(ts: List[String], t1: String, t2: String): List[String] = {
      val out = scala.collection.mutable.ListBuffer[String]()
      var pending: Option[String] = None
      ts.foreach { t =>
        pending match {
          case Some(p) if p == t1 && t == t2 => out += s"${p}_$t"; pending = None
          case Some(p) => out += p; pending = Some(t)
          case None => pending = Some(t)
        }
      }
      pending.foreach(out += _)
      out.toList
    }
    val vocab = Seq("a", "b", "ab", "x")
    val tokGen = Gen.nonEmptyListOf(Gen.oneOf(vocab))
    check(Prop.forAll(tokGen, Gen.oneOf(vocab), Gen.oneOf(vocab)) { (ts, t1, t2) =>
      val got = Seq(ts.mkString(" ")).toDF("text")
        .select(TextOps.bpeApplyMerge(split($"text", " "), lit(t1), lit(t2)).as("m"))
        .as[Seq[String]].head()
      got == ref(ts, t1, t2)
    }, trials = 20)
  }

  test("exactNearDupPairs with an unbinding df cap equals brute-force " +
    "ground truth on random corpora") {
    val textGen = Gen.nonEmptyListOf(
      Gen.oneOf("red", "green", "blue", "fox", "dog")).map(_.mkString(" "))
    check(Prop.forAll(Gen.choose(3, 6).flatMap(n => Gen.listOfN(n, textGen))) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val sh = TextOps.shingleRows(docs, "doc_id", "text", 2)
      val got = TextOps.exactNearDupPairs(sh, "doc_id", 0.3, dfCap = 1000)
        .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
      // independent driver-side brute force over every pair
      def bigrams(t: String): Set[String] =
        t.split(" ").toList.sliding(2).filter(_.length == 2)
          .map(_.mkString(" ")).toSet
      val sets = texts.zipWithIndex.map { case (t, i) => i.toLong -> bigrams(t) }
      val want = (for {
        (ia, sa) <- sets; (ib, sb) <- sets
        if ia < ib
        union = (sa ++ sb).size
        if union > 0 && (sa & sb).size.toDouble / union >= 0.3
      } yield (ia, ib)).toSet
      got == want
    }, trials = 8)
  }

  test("bucketPairs and newVsIndexPairs equal brute-force enumeration " +
    "on random buckets, caps, payloads and is_new flags, and observe " +
    "exactly the dropped buckets") {
    // one row: (band, key, doc_id, payload, is_new); ids are distinct
    // within a bucket (a doc has one key per band) and repeat across them
    val bucketGen = for {
      band <- Gen.choose(0, 1); key <- Gen.choose(0L, 2L)
      ids <- Gen.nonEmptyContainerOf[Set, Long](Gen.choose(0L, 9L))
      cells <- Gen.listOfN(ids.size,
        Gen.zip(Gen.oneOf("x", "y", "z"), Gen.oneOf(true, false)))
    } yield ids.toList.zip(cells).map { case (id, (p, n)) => (band, key, id, p, n) }
    // buckets drawn twice merge; the first row of a repeated (bucket, id) wins
    val rowsGen = Gen.nonEmptyListOf(bucketGen)
      .map(_.flatten.groupBy(r => (r._1, r._2, r._3)).values.map(_.head).toList)
    val capGen = Gen.option(Gen.choose(1, 6))
    // no shrinking: a shrunk case breaks the generator's invariants
    check(Prop.forAllNoShrink(rowsGen, capGen) { (rows, cap) =>
      val buckets = rows.groupBy(r => (r._1, r._2))
      val kept = buckets.filter { case (_, m) => cap.forall(m.size <= _) }
      val want: List[(Int, Long, Long, String, Boolean, Long, String, Boolean)] =
        (for {
          ((band, key), m) <- kept.toList; a <- m; b <- m if a._3 < b._3
        } yield (band, key, a._3, a._4, a._5, b._3, b._4, b._5)).sorted
      val dropped = buckets.values.filterNot(m => cap.forall(m.size <= _))
      val df = rows.toDF("band", "key", "doc_id", "p", "is_new")
      val all = TextOps.bucketPairs(df, Seq("band", "key"), "doc_id", cap,
        "prop_pairs", "p", "is_new")
      // rows straight off `all`: its own QueryExecution holds the metric
      def tuples(f: org.apache.spark.sql.DataFrame) = f.collect().toList
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getString(3),
          r.getBoolean(4), r.getLong(5), r.getString(6), r.getBoolean(7)))
        .sorted
      val gotAll = tuples(all)
      val observed = all.queryExecution.observedMetrics.get("prop_pairs")
      def counts(m: org.apache.spark.sql.Row): Boolean =
        m.getAs[Long]("dropped_buckets") == dropped.size.toLong &&
          m.getAs[Long]("dropped_rows") == dropped.map(_.size.toLong).sum
      val metricOk = cap match {
        case None => observed.isEmpty
        // When the cap drops EVERY bucket, adaptive execution replaces the
        // empty join with an empty relation and the CollectMetrics node
        // leaves the final plan: the metric can be absent, never wrong.
        case Some(_) if kept.isEmpty => observed.forall(counts)
        case Some(_) => observed.exists(counts)
      }
      // the probe form: index rows (is_new = false) and batch rows, one
      // bucket kernel, pairs with at least one batch side
      val side = (n: Boolean) =>
        df.where($"is_new" === n).select($"band", $"key", $"doc_id", $"p")
      val gotNew = tuples(TextOps.newVsIndexPairs(side(false), side(true), cap,
        "prop_new_pairs", "p"))
      val wantNew = want.filter(r => r._5 || r._8)
      gotAll == want && metricOk && gotNew == wantNew
    }, trials = 12)
  }

  test("EventGen is deterministic: same n generates the identical relation") {
    check(Prop.forAll(Gen.choose(50L, 400L)) { n =>
      val a = graft.pipeline.EventGen.events(spark, n)
      val b = graft.pipeline.EventGen.events(spark, n)
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty && a.count() == n
    }, trials = 5)
  }

  test("simhash 4×16 banding pigeonhole: any pair with hamming ≤ 3 " +
    "shares at least one band bucket (q107's soundness invariant)") {
    // pure-integer pigeonhole over the exact band extraction q107 uses:
    // 3 flipped bits can touch at most 3 of the 4 disjoint 16-bit bands
    val hashGen = Gen.choose(Long.MinValue, Long.MaxValue)
      .map(_ & ((1L << 63) - 1)) // simhash63 range: bit 63 always 0
    val flipsGen = Gen.choose(0, 3)
      .flatMap(n => Gen.listOfN(n, Gen.choose(0, 62)))
    def bandKeys(h: Long): Seq[Long] =
      (0 until 4).map(b => (h >>> (16 * b)) & 65535L)
    check(Prop.forAll(hashGen, flipsGen) { (a, flips) =>
      val b = flips.foldLeft(a)((acc, j) => acc ^ (1L << j))
      // duplicate flip indices only LOWER the distance — still ≤ 3
      java.lang.Long.bitCount(a ^ b) <= 3 &&
        bandKeys(a).zip(bandKeys(b)).exists(p => p._1 == p._2)
    }, trials = 200)
    // and the band split q107 and SimHashIndex build their buckets from
    // (TextOps.hashBands) extracts the same 4 keys as the pure-integer
    // model (one sampled check ties the property to the product code)
    val samples = Seq(0L, 1L, (1L << 63) - 1, 0x123456789abcdefL,
      0x7edcba9876543210L)
    val sparkKeys = TextOps.hashBands(samples.toDF("sh"))
      .select($"sh", $"band", $"key").as[(Long, Int, Long)].collect()
      .groupBy(_._1).map { case (h, rows) => h -> rows.sortBy(_._2).map(_._3).toSeq }
    samples.foreach(h => assert(sparkKeys(h) == bandKeys(h),
      s"band spelling diverges for $h"))
  }

  test("banded-simhash near-dup detection is invariant under doc-id " +
    "permutation (q108's audit counts cannot depend on labeling)") {
    // texts with planted near-dups; detection keyed back to TEXT so the
    // comparison is label-free
    val texts = (0 until 24).map {
      case i if i % 3 == 0 => s"the quick brown fox jumps over dog ${i / 3}"
      case i if i % 3 == 1 => s"the quick brown fox jumps over cat ${i / 3}"
      case i => s"completely different content number $i about spark"
    }
    def pairsOf(ids: Seq[Long]): Set[(String, String)] = {
      val textOf = ids.zip(texts).toMap
      val h = textOf.toSeq.toDF("doc_id", "text")
        .select($"doc_id",
          TextOps.simhash63InRow(array_distinct(TextOps.words($"text"))).as("sh"))
      TextOps.simhashPairs(h, "prop_hot")
        .where($"hamming" <= 3)
        .select($"doc_a", $"doc_b").as[(Long, Long)].collect()
        .map { case (a, b) => (textOf(a), textOf(b)) }
        .map(p => if (p._1 <= p._2) p else p.swap).toSet
    }
    val identity = pairsOf(texts.indices.map(_.toLong))
    assert(identity.nonEmpty, "fixture planted no near-dup pairs - vacuous")
    val reversed = pairsOf(texts.indices.map(i => (texts.size - 1 - i).toLong))
    val scrambled = pairsOf(texts.indices.map(i => ((i * 17 + 5) % 101).toLong))
    assert(reversed === identity, "pair set changed under id reversal")
    assert(scrambled === identity, "pair set changed under id scrambling")
  }

  test("time-partition strings always parse back to the truncated minute") {
    check(Prop.forAll(Gen.choose(0L, 4102444800L)) { epoch =>
      val df = Seq(epoch).toDF("e").select(timestamp_seconds($"e").as("ts"))
      val r = EventOps.withTimePartitions(df, $"ts")
        .select(concat_ws("-", $"year", $"month", $"day", $"hour", $"minute"),
          date_format($"ts", "yyyy-MM-dd-HH-mm"))
        .as[(String, String)].head()
      r._1 == r._2 // zero-padded components reassemble the minute exactly
    }, trials = 20)
  }

  test("mp4 encode → parse roundtrips every random track spec exactly " +
    "(no Spark in the loop — pure codec law)") {
    import graft.multimodal.Mp4Codec
    val trackGen: Gen[Mp4Codec.TrackSpec] = for {
      video <- Gen.oneOf(true, false)
      w <- Gen.choose(16, 4096); h <- Gen.choose(16, 2160)
      // 16.16 stsd field: integer rates <= 65535 (encode refuses larger)
      ch <- Gen.choose(1, 8); sr <- Gen.choose(8000, 65535)
      ts <- Gen.choose(1L, 1000000L); dur <- Gen.choose(0L, 1L << 31)
      ns <- Gen.choose(1L, 1 << 20)
    } yield
      if (video) Mp4Codec.TrackSpec(0, video = true, width = w, height = h,
        timescale = ts, duration = dur, nSamples = ns)
      else Mp4Codec.TrackSpec(0, video = false, channels = ch,
        sampleRate = sr, timescale = ts, duration = dur, nSamples = ns)
    val specsGen = Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, trackGen))
      .map(_.zipWithIndex.map { case (t, i) => t.copy(trackId = i + 1L) })
    check(Prop.forAll(specsGen, Gen.choose(1L, 100000L),
        Gen.choose(0L, 1L << 31)) { (specs, mts, mdur) =>
      val c = Mp4Codec.parse(0L, Mp4Codec.encode(mts, mdur, specs))
      c.movieTimescale == mts && c.movieDuration == mdur &&
        c.tracks.size == specs.size &&
        c.tracks.zip(specs).forall { case (t, s) =>
          t.trackId == s.trackId &&
            t.handler == (if (s.video) "vide" else "soun") &&
            t.codec == (if (s.video) "avc1" else "mp4a") &&
            t.timescale == s.timescale && t.duration == s.duration &&
            t.nSamples == s.nSamples &&
            (!s.video || (t.width == s.width && t.height == s.height)) &&
            (s.video || (t.channels == s.channels && t.sampleRate == s.sampleRate))
        }
    }, trials = 50)
  }

  test("mp4 MJPEG sample table slices every frame back bit-exact for any " +
    "frame count × chunking (stsc run expansion law)") {
    import graft.multimodal.Mp4Codec
    def gray(v: Int) = {
      val img = new java.awt.image.BufferedImage(16, 16,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      g.setColor(new java.awt.Color(v, v, v))
      g.fillRect(0, 0, 16, 16); g.dispose()
      img
    }
    check(Prop.forAll(Gen.choose(1, 9), Gen.choose(1, 4),
        Gen.choose(0, 255)) { (nf, spc, v0) =>
      val vals = (0 until nf).map(f => (v0 + 29 * f) % 256)
      val bytes = Mp4Codec.encodeMjpg(vals.map(gray), samplesPerChunk = spc)
      val t = Mp4Codec.parse(0L, bytes).tracks.head
      t.nSamples == nf && t.samples.size == nf &&
        t.samples.zip(vals).forall { case ((off, sz), v) =>
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
            bytes, off.toInt, sz.toInt))
          // quality-1.0 solid gray roundtrips bit-exact (AviCodecSpec pin)
          img != null && (img.getRGB(7, 7) & 0xff) == v
        }
    }, trials = 40)
  }

  test("dhash63 is invariant under a global brightness offset and " +
    "positive contrast gain (the perceptual-dup law)") {
    import graft.ops.MediaFingerprint
    val gridGen = Gen.listOfN(72, Gen.choose(0, 180))
    def hash(cells: Seq[Float]): Long =
      Seq(Tuple1(cells.toArray)).toDF("g")
        .select(MediaFingerprint.dhash63($"g", 9, 8)).as[Long].head()
    check(Prop.forAll(gridGen, Gen.choose(1, 70), Gen.choose(1, 4)) {
      (cells, off, gain) =>
        val base = cells.map(_.toFloat)
        val h = hash(base)
        h >= 0L &&
          h == hash(base.map(_ + off)) &&        // brightness shift
          h == hash(base.map(_ * gain))          // positive contrast gain
    }, trials = 25)
  }

  test("contourBits is invariant under positive gain; complement under " +
    "strict contour reversal") {
    import graft.ops.MediaFingerprint
    // strictly monotone-step envelopes: adjacent cells never tie, so the
    // reversed contour's bits are the exact complement
    val stepGen = Gen.listOfN(7, Gen.oneOf(-40, -15, -3, 3, 15, 40))
    def fp(env: Seq[Float]): Int =
      Seq(Tuple1(env.toArray)).toDF("e")
        .select(MediaFingerprint.contourBits($"e", 8)).as[Int].head()
    check(Prop.forAll(stepGen, Gen.choose(1, 5)) { (steps, gain) =>
      val env = steps.scanLeft(300f)((a, d) => a + d)
      // rev_bit[k] compares env[6-k] vs env[7-k] = NOT orig_bit[6-k]:
      // reversal complements the BIT-REVERSED fingerprint
      val f = fp(env)
      val revComp = (0 until 7).map(k => ((~f >> (6 - k)) & 1) << k).sum
      f == fp(env.map(_ * gain)) && fp(env.reverse) == revComp
    }, trials = 25)
  }

  test("nfc_normalize is idempotent, agrees with java.text.Normalizer, " +
    "and is the identity on ASCII") {
    import graft.functions.NfcNormalize
    val asciiGen = Gen.listOf(Gen.alphaNumChar).map(_.mkString)
    val unicodeGen = Gen.listOf(Gen.oneOf(
      Gen.alphaChar.map(_.toString), Gen.const("e\u0301"),
      Gen.const("A\u030A"), Gen.const("\u00e9"), Gen.const("\u00f4"),
      Gen.const("\u212b") /* ANGSTROM SIGN, NFC-composes to A-ring */)).map(_.mkString)
    def run(s: String): String =
      Seq(Tuple1(s)).toDF("s")
        .select(NfcNormalize.nfc(spark, $"s")).as[String].head()
    check(Prop.forAll(unicodeGen) { s =>
      val once = run(s)
      once == java.text.Normalizer.normalize(
        s, java.text.Normalizer.Form.NFC) && run(once) == once
    }, trials = 25)
    check(Prop.forAll(asciiGen) { s => run(s) == s }, trials = 15)
  }

  test("H.264 emulation prevention: escape/unescape invert on arbitrary " +
    "bytes and the wire form never contains a start code") {
    import graft.multimodal.H264Codec
    // bias toward zeros and small values — the bytes that trigger the
    // escape path — plus uniform noise
    val byteGen = Gen.frequency(
      4 -> Gen.const(0), 2 -> Gen.choose(0, 3), 3 -> Gen.choose(0, 255))
    val bufGen = Gen.nonEmptyListOf(byteGen).map(_.map(_.toByte).toArray)
    check(Prop.forAll(bufGen) { rbsp =>
      val wire = H264Codec.escape(rbsp)
      val noStartCode = !wire.toSeq.sliding(3).exists(w =>
        w == Seq[Byte](0, 0, 0) || w == Seq[Byte](0, 0, 1) ||
          w == Seq[Byte](0, 0, 2))
      val back = H264Codec.unescape(1L, wire, 0, wire.length)
      noStartCode && back.toSeq == rbsp.toSeq
    }, trials = 60)
  }

  test("TS mux/reassemble/PES are lossless for arbitrary payload sizes " +
    "and contents") {
    import graft.multimodal.TsCodec
    val esGen = for {
      n <- Gen.choose(1, 1200)
      // last byte unconstrained — TS carries opaque bytes, the H.264
      // trailing-zero rule is the NAL layer's, not the transport's
      bytes <- Gen.listOfN(n, Gen.choose(0, 255))
    } yield bytes.map(_.toByte).toArray
    check(Prop.forAll(esGen, Gen.choose(0xc0, 0xef)) { (es, sid) =>
      val ts = TsCodec.muxPayload(3, 0x30, 0x151, 0x151, 0x1b,
        TsCodec.pesWrap(sid, es))
      val pes = TsCodec.reassemble(7L, ts, 0x151)
      ts.length % TsCodec.PacketSize == 0 &&
        TsCodec.pesUnwrap(7L, pes).toSeq == es.toSeq &&
        TsCodec.parse(7L, ts).streams.head.payloadBytes == pes.length
    }, trials = 40)
  }
}
