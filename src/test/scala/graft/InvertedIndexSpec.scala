package graft

import graft.ops.InvertedIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Persisted BM25 inverted-index lifecycle: probe parity with the
  * from-scratch scorer, append retry idempotence, pre-batch visibility,
  * tombstone semantics (matches now, stats at compact — the Lucene
  * contract), and the two compaction forms. */
class InvertedIndexSpec extends SparkSpecBase {
  import spark.implicits._

  /** 8 docs over a tiny vocabulary with skewed df so BM25 ranks are
    * stable and every tie rule is exercised. */
  private def fixture: DataFrame = (0L until 8L).map { i =>
    val common = "the quick fox"
    val rare = if (i % 2 == 0) s"zebra$i" else s"yak$i"
    (i, s"$common $rare word$i " + ("pad " * (i.toInt + 1)).trim)
  }.toDF("doc_id", "text")

  private def batch: DataFrame =
    Seq((100L, "the quick fox zebra0 extra"), (101L, "yak1 yak1 word3 blue"))
      .toDF("doc_id", "text")

  /** From-scratch BM25 over `docs` for `(query_id, term)` rows — the
    * spec's independent reference scorer (same expressions the oracle
    * pins in q130). */
  private def brute(docs: DataFrame, q: DataFrame, k: Int): Seq[(Long, Int, Long, Double)] = {
    val tok = docs.select(col("doc_id"),
      size(split(col("text"), " ")).as("dl"),
      explode(split(col("text"), " ")).as("term"))
    val tf = tok.groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"), max("dl").as("dl"))
    val dfr = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = docs.agg(count(lit(1)).as("n"),
      avg(size(split(col("text"), " "))).as("avgdl"))
    val idf = log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val tfn = (col("tf") * 2.2) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("score").desc, col("doc_id"))
    tf.join(q, "term").join(dfr, "term").crossJoin(stats)
      .withColumn("s", idf * tfn)
      .groupBy("query_id", "doc_id").agg(sum("s").as("score"))
      .withColumn("rn", row_number().over(w)).where(col("rn") <= k)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1),
        math.rint(r.getDouble(2) * 1e6) / 1e6)).toSeq.sorted
  }

  private def probed(path: String, q: DataFrame, k: Int): Seq[(Long, Int, Long, Double)] =
    InvertedIndex.probe(spark, path, q, k)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        math.rint(r.getDouble(3) * 1e6) / 1e6)).toSeq.sorted

  test("index probe reproduces the from-scratch BM25 ranking exactly") {
    val path = tmpDir("bm25_build")
    InvertedIndex.build(fixture, path)
    val q = Seq((0L, "the"), (0L, "zebra0"), (1L, "yak1"), (1L, "pad"))
      .toDF("query_id", "term")
    assert(probed(path, q, 3) == brute(fixture, q, 3))
    assert(probed(path, q, 3).nonEmpty)
  }

  test("probeAndAppend is idempotent in batchId and probes the pre-batch index") {
    val path = tmpDir("bm25_retry")
    InvertedIndex.build(fixture, path)
    def postB0(): Seq[String] =
      spark.read.parquet(InvertedIndex.postingsPath(path))
        .where(col("gen") === "b0")
        .select(col("term"), col("doc_id"), col("tf"), col("dl"))
        .collect().map(_.toString).sorted.toSeq
    val log1 = InvertedIndex.probeAndAppend(spark, path, batch, Some(0L))
      .collect().map(_.toString).sorted.toSeq
    val p1 = postB0()
    val log2 = InvertedIndex.probeAndAppend(spark, path, batch, Some(0L))
      .collect().map(_.toString).sorted.toSeq
    assert(log2 == log1)
    assert(postB0() == p1)
    // the retry probed the PRE-batch index: no match is a batch member
    assert(InvertedIndex.probeAndAppend(spark, path, batch, Some(0L))
      .collect().forall(_.getLong(2) < 100L))
    // stats carry one row per generation
    val gens = spark.read.parquet(InvertedIndex.statsPath(path))
      .select(col("gen")).distinct().collect().map(_.getString(0)).toSet
    assert(gens == Set("base", "b0"))
  }

  test("appended generations are visible to later probes (df, stats and matches)") {
    val path = tmpDir("bm25_vis")
    InvertedIndex.build(fixture, path)
    val q = Seq((7L, "blue")).toDF("query_id", "term")
    assert(probed(path, q, 3).isEmpty) // 'blue' exists only in the batch
    InvertedIndex.probeAndAppend(spark, path, batch, Some(0L))
    assert(probed(path, q, 3).map(_._3) == Seq(101L))
    // and the scores now reflect the grown corpus: parity vs from-scratch
    val q2 = Seq((0L, "the"), (0L, "zebra0")).toDF("query_id", "term")
    assert(probed(path, q2, 5) ==
      brute(fixture.unionByName(batch), q2, 5))
  }

  test("tombstones hide matches immediately; compact drops postings and stats") {
    val path = tmpDir("bm25_tomb")
    InvertedIndex.build(fixture, path)
    val q = Seq((0L, "zebra0")).toDF("query_id", "term")
    assert(probed(path, q, 3).map(_._3) == Seq(0L))
    InvertedIndex.markDeleted(spark, path, Seq(0L))
    // hidden from matches NOW — but df/N/avgdl still count it (the
    // Lucene deleted-doc contract), so scores equal the full-corpus ones
    assert(probed(path, q, 3).isEmpty)
    val qT = Seq((0L, "the")).toDF("query_id", "term")
    assert(probed(path, qT, 8) ==
      brute(fixture, qT, 8).filterNot(_._3 == 0L)
        .map { case (a, _, c, d) => (a, c, d) }
        .zipWithIndex.map { case ((a, c, d), i) => (a, i + 1, c, d) })
    InvertedIndex.compact(spark, path)
    val post = spark.read.parquet(InvertedIndex.postingsPath(path))
    assert(post.where(col("doc_id") === 0L).count() == 0)
    assert(post.select(col("gen")).distinct().collect()
      .map(_.getString(0)).toSeq == Seq("base"))
    // stats snapped to the post-takedown corpus: parity vs from-scratch
    // over the 7 live docs
    assert(probed(path, qT, 8) ==
      brute(fixture.where(col("doc_id") =!= 0L), qT, 8))
  }

  test("in-stream compact (keepBatch) folds verbatim and keeps the retry view") {
    val path = tmpDir("bm25_keep")
    InvertedIndex.build(fixture.where(col("doc_id") < 6), path)
    InvertedIndex.probeAndAppend(spark, path,
      fixture.where(col("doc_id") >= 6), Some(0L))
    InvertedIndex.probeAndAppend(spark, path, batch, Some(1L))
    def viewNotB1(): Set[String] =
      spark.read.parquet(InvertedIndex.postingsPath(path))
        .where(col("gen") =!= "b1")
        .select(col("term"), col("doc_id"), col("tf"), col("dl"))
        .collect().map(_.toString).toSet
    def statsTotal(): (Long, Long) = {
      val r = spark.read.parquet(InvertedIndex.statsPath(path))
        .agg(sum("n_docs"), sum("sum_dl")).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    val before = viewNotB1(); val st = statsTotal()
    InvertedIndex.compact(spark, path, keepBatch = Some(1L))
    assert(viewNotB1() == before)
    assert(statsTotal() == st)
    val gens = spark.read.parquet(InvertedIndex.postingsPath(path))
      .select(col("gen")).distinct().collect().map(_.getString(0)).toSet
    assert(gens == Set("base", "b1"))
  }

  test("impact truncation scores only each term's top-m postings; df stays true") {
    val path = tmpDir("bm25_impact")
    val docs = Seq(
      (0L, "common common common common"),
      (1L, "common common common pad"),
      (2L, "common common pad pad"),
      (3L, "common pad pad pad")).toDF("doc_id", "text")
    InvertedIndex.build(docs, path)
    val q = Seq((0L, "common")).toDF("query_id", "term")
    val full = probed(path, q, 4)
    assert(full.map(_._3).toSet == Set(0L, 1L, 2L, 3L))
    val capped = InvertedIndex.probe(spark, path, q, 4, maxPostings = Some(2))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        math.rint(r.getDouble(3) * 1e6) / 1e6)).toSeq.sorted
    // only the top-2 postings by tf survive the scoring join…
    assert(capped.map(_._3).toSet == Set(0L, 1L))
    // …and their scores are UNCHANGED (idf kept the true df = 4)
    assert(capped == full.filter(t => t._3 == 0L || t._3 == 1L))
  }

  test("postings materialize the impact rank; truncated probes cut on it") {
    val path = tmpDir("bm25_irn")
    InvertedIndex.build(fixture, path)
    val post = spark.read.parquet(InvertedIndex.postingsPath(path))
    assert(post.columns.contains("irn"))
    // irn is exactly the (tf desc, doc_id) rank within (term, gen)
    val the = post.where(col("term") === "the")
      .orderBy(col("irn")).select(col("irn"), col("doc_id"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(the.map(_._1) == (1 to the.size).toSeq)
    assert(the.map(_._2) == the.map(_._2).sorted) // all tf=1 → doc_id order
    // and the termdf sidecar carries the true per-term count
    val tdf = spark.read.parquet(InvertedIndex.termdfPath(path))
      .where(col("term") === "the").agg(sum("df")).collect()(0).getLong(0)
    assert(tdf == the.size)
  }

  test("pre-era (legacy) index probes via fallbacks and compact upgrades it") {
    val path = tmpDir("bm25_legacy")
    val legacy = InvertedIndex.Config(impactOrdered = false)
    InvertedIndex.build(fixture, path, legacy)
    val post0 = spark.read.parquet(InvertedIndex.postingsPath(path))
    assert(!post0.columns.contains("irn"), "legacy layout must not carry irn")
    assert(!new java.io.File(InvertedIndex.termdfPath(path)).exists(),
      "legacy layout must not carry the termdf sidecar")
    val q = Seq((0L, "the"), (0L, "zebra0"), (1L, "yak1"), (1L, "pad"))
      .toDF("query_id", "term")
    // probe fallbacks (window cut + scan-derived df) reproduce from-scratch
    assert(probed(path, q, 3) == brute(fixture, q, 3))
    val cappedLegacy = InvertedIndex.probe(spark, path, q, 3,
      maxPostings = Some(2)).collect().map(_.toString).sorted.toSeq
    // appends ADOPT the legacy era: one schema per table
    InvertedIndex.probeAndAppend(spark, path, batch, Some(0L))
    assert(!spark.read.parquet(InvertedIndex.postingsPath(path))
      .columns.contains("irn"))
    // compact = the era upgrade: irn + termdf appear, meta flips, and
    // probes (full and truncated) still match from-scratch
    InvertedIndex.compact(spark, path)
    val post1 = spark.read.parquet(InvertedIndex.postingsPath(path))
    assert(post1.columns.contains("irn"))
    assert(new java.io.File(InvertedIndex.termdfPath(path)).exists())
    assert(probed(path, q, 3) == brute(fixture.unionByName(batch), q, 3))
    // a further append lands in the NEW era (irn on its generation too)
    InvertedIndex.probeAndAppend(spark, path,
      Seq((200L, "zebra0 blue fresh")).toDF("doc_id", "text"), Some(1L))
    assert(spark.read.parquet(InvertedIndex.postingsPath(path))
      .where(col("gen") === "b1").columns.contains("irn"))
    assert(cappedLegacy.nonEmpty)
  }

  test("truncated probe on an impact-ordered index merges per-generation " +
    "prefixes to the exact global top-m") {
    val path = tmpDir("bm25_genmerge")
    // base: tf ladder 4,3 for 'common'; batch generation: tf 5,2 — the
    // global top-2 (tf 5,4) spans BOTH generations, so a per-gen cut
    // without the residual merge would score 4 rows, not 2
    InvertedIndex.build(Seq(
      (0L, "common common common common"),
      (1L, "common common common x")).toDF("doc_id", "text"), path)
    InvertedIndex.probeAndAppend(spark, path, Seq(
      (10L, "common common common common common"),
      (11L, "common common y z")).toDF("doc_id", "text"), Some(0L))
    val q = Seq((0L, "common")).toDF("query_id", "term")
    val capped = InvertedIndex.probe(spark, path, q, 4, maxPostings = Some(2))
      .collect().map(r => (r.getInt(1), r.getLong(2))).toSeq.sorted
    assert(capped.map(_._2).toSet == Set(0L, 10L),
      s"expected the cross-generation global top-2 postings, got $capped")
  }

  /** From-scratch phrase BM25 for (query_id, phrase) rows — independent
    * of the positions intersect: bigrams derive in-row (zip_with, the
    * q186 spelling), so a drifted adjacency rule in phraseProbe cannot
    * hide. Two-word phrases only (what the fixture exercises). */
  private def brutePhrase(docs: DataFrame, phrases: DataFrame,
      k: Int): Seq[(Long, Int, Long, Double)] = {
    val w = split(col("text"), " ")
    val bg = zip_with(
      slice(w, lit(1), size(w) - 1), slice(w, lit(2), size(w) - 1),
      (a, b) => concat_ws(" ", a, b))
    val ptf = docs.select(col("doc_id"), size(w).as("dl"),
        explode(bg).as("phrase"))
      .groupBy("doc_id", "phrase")
      .agg(count(lit(1)).as("tf"), max("dl").as("dl"))
    val pdf = ptf.groupBy("phrase").agg(count(lit(1)).as("df"))
    val stats = docs.agg(count(lit(1)).as("n"),
      avg(size(split(col("text"), " "))).as("avgdl"))
    val idf = log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val tfn = (col("tf") * 2.2) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("score").desc, col("doc_id"))
    ptf.join(phrases, "phrase").join(pdf, "phrase").crossJoin(stats)
      .withColumn("score", idf * tfn)
      .withColumn("rn", row_number().over(win)).where(col("rn") <= k)
      .select(col("query_id"), col("rn"), col("doc_id"), col("score"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        math.rint(r.getDouble(3) * 1e6) / 1e6)).toSeq.sorted
  }

  private def phraseProbed(path: String, phrases: DataFrame,
      k: Int): Seq[(Long, Int, Long, Double)] =
    InvertedIndex.phraseProbe(spark, path, phrases, k)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        math.rint(r.getDouble(3) * 1e6) / 1e6)).toSeq.sorted

  test("positions sidecar: build writes one row per token; append and " +
    "compact maintain it") {
    val path = tmpDir("bm25_pos")
    InvertedIndex.build(fixture, path, InvertedIndex.Config(positions = true))
    def tokens(df: DataFrame): Long =
      df.select(sum(size(split(col("text"), " ")))).collect()(0).getLong(0)
    val pos0 = spark.read.parquet(InvertedIndex.positionsPath(path))
    assert(pos0.columns.toSet == Set("term", "doc_id", "pos", "dl", "pk", "gen"))
    assert(pos0.count() == tokens(fixture))
    // append ADOPTS the persisted flag: the batch generation gets rows too
    InvertedIndex.probeAndAppend(spark, path, batch, Some(0L))
    assert(spark.read.parquet(InvertedIndex.positionsPath(path))
      .where(col("gen") === "b0").count() == tokens(batch))
    // compact folds positions with the same tombstone semantics
    InvertedIndex.markDeleted(spark, path, Seq(0L))
    InvertedIndex.compact(spark, path)
    val pos1 = spark.read.parquet(InvertedIndex.positionsPath(path))
    assert(pos1.where(col("doc_id") === 0L).count() == 0)
    assert(pos1.select("gen").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("base"))
    assert(pos1.count() ==
      tokens(fixture.where(col("doc_id") =!= 0L)) + tokens(batch))
  }

  test("phraseProbe reproduces from-scratch phrase BM25, across generations") {
    val path = tmpDir("bm25_phrase")
    InvertedIndex.build(fixture.where(col("doc_id") < 6), path,
      InvertedIndex.Config(positions = true))
    InvertedIndex.probeAndAppend(spark, path,
      fixture.where(col("doc_id") >= 6).unionByName(batch), Some(0L))
    val phrases = Seq((0L, "the quick"), (1L, "quick fox"), (2L, "fox zebra0"))
      .toDF("query_id", "phrase")
    val all = fixture.unionByName(batch)
    assert(phraseProbed(path, phrases, 5) == brutePhrase(all, phrases, 5))
    assert(phraseProbed(path, phrases, 5).nonEmpty)
    // adjacency is real: 'zebra0 quick' never occurs (wrong order)
    val rev = Seq((9L, "zebra0 quick")).toDF("query_id", "phrase")
    assert(phraseProbed(path, rev, 5).isEmpty)
  }

  test("phraseProbe hides tombstoned docs but keeps the Lucene statistics") {
    val path = tmpDir("bm25_phrase_tomb")
    InvertedIndex.build(fixture, path, InvertedIndex.Config(positions = true))
    val phrases = Seq((0L, "the quick")).toDF("query_id", "phrase")
    val before = phraseProbed(path, phrases, 8)
    assert(before.map(_._3).contains(0L))
    InvertedIndex.markDeleted(spark, path, Seq(0L))
    // doc 0 vanishes from matches NOW; everyone else's score is UNCHANGED
    // (phrase df / N / avgdl still count the deleted doc until compact)
    val after = phraseProbed(path, phrases, 8)
    assert(!after.map(_._3).contains(0L))
    assert(after.map(t => (t._3, t._4)).toSet ==
      before.filterNot(_._3 == 0L).map(t => (t._3, t._4)).toSet)
    // compact snaps statistics to the live corpus
    InvertedIndex.compact(spark, path)
    assert(phraseProbed(path, phrases, 8) ==
      brutePhrase(fixture.where(col("doc_id") =!= 0L), phrases, 8))
  }

  test("phraseProbe on a positions-less index fails loudly; term probes keep working") {
    val path = tmpDir("bm25_nopos")
    InvertedIndex.build(fixture, path) // default: no positions sidecar
    val e = intercept[IllegalStateException] {
      InvertedIndex.phraseProbe(spark, path,
        Seq((0L, "the quick")).toDF("query_id", "phrase"))
    }
    assert(e.getMessage.contains("positions"))
    val q = Seq((0L, "the")).toDF("query_id", "term")
    assert(probed(path, q, 3) == brute(fixture, q, 3))
  }

  test("termDf reads the persisted sidecar and equals the postings-derived df") {
    val path = tmpDir("bm25_termdf")
    InvertedIndex.build(fixture, path)
    InvertedIndex.probeAndAppend(spark, path, batch, Some(0L))
    val sidecar = InvertedIndex.termDf(spark, path)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val fromPostings = spark.read.parquet(InvertedIndex.postingsPath(path))
      .groupBy("term").agg(count(lit(1)).as("df"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(sidecar == fromPostings)
    assert(sidecar.nonEmpty)
  }

  test("truncated probe skips the residual merge window when one " +
    "generation is visible") {
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window => LWindow}
    def nWindows(p: LogicalPlan): Int = p.collect { case w: LWindow => w }.size
    val path = tmpDir("bm25_skipwin")
    InvertedIndex.build(fixture, path)
    val q = Seq((0L, "the")).toDF("query_id", "term")
    // single generation: `irn <= m` IS the global top-m — only the final
    // top-k window remains in the plan
    val single = InvertedIndex.probe(spark, path, q, 3, maxPostings = Some(2))
    assert(nWindows(single.queryExecution.optimizedPlan) == 1)
    // a second generation brings the exact cross-generation merge back
    InvertedIndex.probeAndAppend(spark, path, batch, Some(0L))
    val multi = InvertedIndex.probe(spark, path, q, 3, maxPostings = Some(2))
    assert(nWindows(multi.queryExecution.optimizedPlan) == 2)
  }

  test("truncated probe matches the capped reference on a tie-heavy corpus") {
    // adversarial mix: a flat-tf common term (every posting ties on tf,
    // so the cut falls inside a tie run and doc_id decides it), a skewed
    // term whose top postings dominate, and rare terms below the cap
    val rnd = new scala.util.Random(7)
    val docs = (0 until 120).map { i =>
      val common = "common " * (1 + rnd.nextInt(3))
      val skew = if (i < 4) "skewed " * 40 else if (i % 2 == 0) "skewed " else ""
      val rare = if (i % 17 == 0) s"rare$i " else ""
      (i.toLong, (common + skew + rare + "pad " * (8 + rnd.nextInt(5))).trim)
    }.toDF("doc_id", "text")
    val q = Seq((0L, "common"), (1L, "skewed"), (2L, "common"), (2L, "skewed"),
      (3L, "rare0"), (3L, "rare17"), (4L, "absent"))
      .toDF("query_id", "term")
    // the explicitly-computed capped reference: per term keep the top-m
    // postings by (tf desc, doc_id), score, then top-k
    val m = 48
    def cappedBrute(): Seq[(Long, Int, Long, Double)] = {
      val tok = docs.select(col("doc_id"),
        size(split(col("text"), " ")).as("dl"),
        explode(split(col("text"), " ")).as("term"))
      val tf = tok.groupBy("doc_id", "term")
        .agg(count(lit(1)).as("tf"), max("dl").as("dl"))
      val dfr = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val stats = docs.agg(count(lit(1)).as("n"),
        avg(size(split(col("text"), " "))).as("avgdl"))
      val wCap = org.apache.spark.sql.expressions.Window
        .partitionBy(col("term")).orderBy(col("tf").desc, col("doc_id"))
      val capped = tf.withColumn("prn", row_number().over(wCap))
        .where(col("prn") <= m).drop("prn")
      val idf = log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
      val tfn = (col("tf") * 2.2) /
        (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("score").desc, col("doc_id"))
      capped.join(q, "term").join(dfr, "term").crossJoin(stats)
        .withColumn("s", idf * tfn)
        .groupBy("query_id", "doc_id").agg(sum("s").as("score"))
        .withColumn("rn", row_number().over(w)).where(col("rn") <= 3)
        .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1),
          math.rint(r.getDouble(2) * 1e6) / 1e6)).toSeq.sorted
    }
    def truncated(path: String) =
      InvertedIndex.probe(spark, path, q, 3, maxPostings = Some(m))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          math.rint(r.getDouble(3) * 1e6) / 1e6)).toSeq.sorted
    val expected = cappedBrute()
    // one generation: the pushed `irn <= m` cut alone
    val single = tmpDir("bm25_trunc_ties")
    InvertedIndex.build(docs, single)
    assert(truncated(single) == expected)
    // half the corpus as base, the other half appended as generation b0:
    // the cross-generation merge window over the same tie runs
    val twoGens = tmpDir("bm25_trunc_ties_gens")
    InvertedIndex.build(docs.where(col("doc_id") < 60), twoGens)
    InvertedIndex.probeAndAppend(spark, twoGens, docs.where(col("doc_id") >= 60),
      Some(0L))
    assert(truncated(twoGens) == expected)
  }

  test("probing a non-index path fails loudly") {
    val path = tmpDir("bm25_nometa")
    val e = intercept[IllegalStateException] {
      InvertedIndex.probe(spark, path,
        Seq((0L, "x")).toDF("query_id", "term"), 3)
    }
    assert(e.getMessage.contains("_index_meta"))
  }
}
