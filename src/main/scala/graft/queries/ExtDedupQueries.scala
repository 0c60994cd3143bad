package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.ops.{Caches, EventOps, GraphOps, IvfIndex, Layout, LogReg, LshIndex, TextOps}
import graft.sources.Tables
import graft.pipeline.CurationPipeline
import graft.functions.{BloomMightContain, CosineSimilarity, MinHashSignature, VectorOps}

/** Deduplication family: exact, MinHash+LSH (one-shot, incremental
  * index, streaming), SimHash, n-gram jaccard, clusters/canonicals,
  * span fingerprints, SemDeDup, boilerplate, calibration audit. */
private[queries] trait ExtDedupQueries extends ExtQueryHelpers {
  // ------------------------------------------------------------------ q18
  /** Exact text dedup, first-wins by doc_id on md5(text). Duplicates are
    * injected in-query (mirroring the reference's duplicate model,
    * producer.py:162-166) since the corpus has none. */
  private[queries] def q18(spark: SparkSession, dir: String): DataFrame = {
    // duplicate injection via explode of per-row offsets: one scan (a
    // UNION of the table with a filtered self would scan twice)
    val all = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        explode(when(pmod(col("doc_id"), lit(10)) === 0,
          array(lit(0L), lit(1000000L))).otherwise(array(lit(0L)))).as("off"))
      .select((col("doc_id") + col("off")).as("doc_id"),
        md5(col("text")).as("text_hash"))
    EventOps.dedupFirstWins(all, Seq("text_hash"), Seq(col("doc_id")))
      .select(col("doc_id"), col("text_hash"))
      .orderBy(col("doc_id"))
  }
  private[queries] val q18Sql =
    """WITH all_docs AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0)
      |SELECT doc_id, md5(text) AS text_hash FROM all_docs
      |QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
      |ORDER BY doc_id""".stripMargin


  // ------------------------------------------------------------------ q19
  /** MinHash signatures (k=8, word-2-gram shingles). Fully map-side: the
    * shingle set and all k minima are computed inside the row — the only
    * exchange in the plan is the output ORDER BY. */
  private[queries] def q19(spark: SparkSession, dir: String): DataFrame = {
    // Two stages on purpose: the shingle set materializes into the spread
    // exchange (computed once), and the 8 md5-minima then run from the
    // materialized column, 32-way parallel — otherwise the set expression
    // inlines into every minhash column (8x recompute).
    val withSh = Tables.spread(Tables.documents(spark, dir)
      .select(col("doc_id"), TextOps.shingleSet(col("text"), SHINGLE_N).as("sh")))
      .where(size(col("sh")) > 0) // oracle's sig CTE omits shingle-less docs
    val sig = MinHashSignature.minhashSig(col("sh"), K)
    withSh.select(col("doc_id") +:
        (0 until K).map(i => element_at(sig, i + 1).as(s"m$i")): _*)
      .orderBy(col("doc_id"))
  }
  private[queries] val q19Sql =
    s"""WITH ${shingleCtes(SHINGLE_N)},
       |${sigCte(K)}
       |SELECT * FROM sig ORDER BY doc_id""".stripMargin


  // ------------------------------------------------------------------ q20
  /** MinHash + LSH near-dup pairs: band-bucket candidates (4 bands × r=2),
    * then EXACT jaccard on candidates only, keep >= 0.5. The full
    * shingle×shingle join never happens — only LSH survivors pay it. */
  private[queries] def q20(spark: SparkSession, dir: String): DataFrame =
    nearDupPairs(spark, dir)

  private[queries] val q20Sql =
    s"""WITH $pairCtes
       |SELECT doc_a, doc_b, jaccard FROM pairs ORDER BY doc_a, doc_b""".stripMargin


  // ------------------------------------------------------------------ q59
  /** Near-dup CLUSTERS: connected components over q20's verified pairs
    * (GraphOps.connectedComponents — alternating large-star/small-star),
    * each doc labeled with its component's minimum doc_id, i.e. the
    * canonical survivor a "keep one per duplicate group" pass retains.
    * The oracle computes the same closure with a recursive CTE (viable
    * on the oracle's scale; the Spark side is the O(log n)-round
    * distributed form). */
  private[queries] def q59(spark: SparkSession, dir: String): DataFrame = {
    val edges = nearDupPairs(spark, dir)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    GraphOps.connectedComponents(edges)
      .select(col("node").as("doc_id"), col("component").as("cluster_id"))
      .orderBy(col("doc_id"))
  }
  private[queries] val q59Sql =
    s"""WITH RECURSIVE $pairCtes,
       |bi AS (SELECT doc_a AS u, doc_b AS v FROM pairs
       |       UNION SELECT doc_b, doc_a FROM pairs),
       |reach(u, v) AS (
       |  SELECT u, u FROM bi
       |  UNION
       |  SELECT bi.u, reach.v FROM bi JOIN reach ON bi.v = reach.u)
       |SELECT u AS doc_id, min(v) AS cluster_id
       |FROM reach GROUP BY u ORDER BY doc_id""".stripMargin


  // ------------------------------------------------------------------ q62
  /** PERSISTED incremental LSH dedup index (ops.LshIndex) end-to-end
    * under the oracle: build the band-clustered index from a base corpus
    * (doc_id % 4 != 0), then probe it with an ingest batch (doc_id % 4
    * == 0) — the probe computes signatures for the BATCH ONLY, reads only
    * index buckets the batch touches, and emits the verified new near-dup
    * pairs (≥1 batch-side member). The oracle recomputes the same pairs
    * from scratch: the subset of q20's full-corpus pairs with a batch
    * member — which is exactly what an incremental run must produce,
    * including full-bucket hot-bucket-cap semantics (a bucket crossing
    * the cap only once the batch lands is dropped on both sides). */
  private[queries] def q62(spark: SparkSession, dir: String): DataFrame = {
    val tmp = graft.ops.Scratch.tempDir("graft_q62_")
    try {
      val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      val isBatch = pmod(col("doc_id"), lit(4)) === 0
      GraphFixtures.lshBaseInto(spark, dir, tmp)
      // probeAndAppend settles its pair list (Caches.settle), which
      // reads no scratch file, so the index is deleted at once
      LshIndex.probeAndAppend(spark, tmp, docs.where(isBatch))
    } finally rmRecursive(tmp)
  }
  private[queries] val q62Sql =
    s"""WITH ${pairCtesWith(" AND (a.doc_id % 4 = 0 OR b.doc_id % 4 = 0)")}
       |SELECT doc_a, doc_b, jaccard FROM pairs ORDER BY doc_a, doc_b""".stripMargin


  // ------------------------------------------------------------------ q92
  /** STREAMING incremental LSH dedup — the PRODUCTION operator
    * (`StreamingPipeline.startNearDupIngest`: foreachBatch →
    * `LshIndex.probeAndAppend` → batch-tagged pair log) put under the
    * oracle end-to-end: documents arrive in 3 micro-batches, each batch
    * probes the index as built from the base corpus PLUS every earlier
    * batch, logs its verified new near-dup pairs, and appends its own
    * signatures for the next batch. Cross-micro-batch stream-vs-stream
    * pairs are found through the index (batch 3 pairs with batch 1
    * without either being re-scanned), so the union of the logged
    * emissions equals the one-shot incremental result — q62's oracle,
    * recomputed from scratch in SQL. Scale shape: per batch the cost is
    * O(batch signatures) + the file-pruned touched-bucket reads
    * (LshIndex Scaladoc); the stream's own state store is EMPTY — the
    * index on storage IS the state, which is what makes the dedup
    * restartable and horizontally scalable. */
  private[queries] def q92(spark: SparkSession, dir: String): DataFrame =
    streamLshIngest(spark, dir, compactEvery = None, prefix = "graft_q92_")

  /** The shared q92/q106 harness: base corpus indexed, the doc_id%4==0
    * stream fed in 3 doc_id-ordered micro-batches through the PRODUCTION
    * `startNearDupIngest` (with or without in-stream auto-compaction),
    * pair log localized before the scratch dir dies. */
  private def streamLshIngest(spark: SparkSession, dir: String,
      compactEvery: Option[Int], prefix: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = graft.ops.Scratch.tempDir(prefix)
    try {
      val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      val isStream = pmod(col("doc_id"), lit(4)) === 0
      GraphFixtures.lshBaseInto(spark, dir, s"$tmp/idx")
      // The stream feed: batch docs in doc_id order, 3 micro-batches (the
      // harness chunking used by every streaming oracle query).
      val rows = fixtureSlice(docs.where(isStream).as[(Long, String)]).sortBy(_._1)
      val per = math.max(1, math.ceil(rows.length / 3.0).toInt)
      val chunks = rows.grouped(per).toArray
      val mem = MemoryStream[(Long, String)]
      val q = graft.streaming.StreamingPipeline.startNearDupIngest(
        mem.toDF().toDF("doc_id", "text"),
        indexPath = s"$tmp/idx", pairsDir = s"$tmp/pairs",
        checkpointDir = s"$tmp/ckpt",
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0),
        compactEvery = compactEvery)
      try chunks.foreach { c => mem.addData(c.toSeq); q.processAllAvailable() }
      finally q.stop()
      localizeRows(
        // explicit schema: an all-capped batch writes zero footers (see
        // readHammingPairLog) and must read as empty, not throw
        spark.read.schema("doc_a BIGINT, doc_b BIGINT, jaccard DOUBLE, batch_id BIGINT")
          .parquet(s"$tmp/pairs")
          .select(col("doc_a"), col("doc_b"), col("jaccard")),
        Seq("doc_a", "doc_b"))
    } finally rmRecursive(tmp) // result rows are driver-local; safe now
  }


  // ----------------------------------------------------------------- q106
  /** q92's streaming LSH ingest WITH in-stream auto-compaction on the
    * correctness gate: same 3-micro-batch feed through the production
    * operator, but `compactEvery = 2` fires the LAG-1 compaction
    * (`LshIndex.compact(keepBatch)`) inside foreachBatch after batch 1 —
    * generations fold mid-stream while batch 1's own generation is kept
    * replace-able — and batch 2 then probes the COMPACTED index. The
    * oracle is q62's from-scratch incremental SQL, identical to q92's:
    * the hash only matches if folding generations mid-stream changed
    * NOTHING about which pairs every later batch discovers — the
    * invariant the whole compaction design exists to provide, here
    * end-to-end under the driver's gate instead of only spec-pinned.
    * Scale shape: q92's, plus one bounded index rewrite (the compaction)
    * amortized over every batch between compactions. */
  private[queries] def q106(spark: SparkSession, dir: String): DataFrame =
    streamLshIngest(spark, dir, compactEvery = Some(2), prefix = "graft_q106_")


  // ----------------------------------------------------------------- q112
  /** STREAMING SimHash near-dup ingest — q92's streaming contract for
    * the HAMMING family (ops/SimHashIndex), closing the round-11
    * verdict's stretch item: base corpus (doc_id % 4 != 0) indexed by
    * in-row 63-bit fingerprints, the stream docs fed in 3 micro-batches
    * through the production `startSimHashIngest` WITH in-stream lag-1
    * auto-compaction (`compactEvery = 2` — the fold fires after batch 1
    * and batch 2 probes the compacted index), each batch probing only
    * its touched band buckets and logging verified pairs
    * (popcount-of-XOR ≤ 3, ≥ 1 stream-side member). The oracle is
    * q107's from-scratch SQL restricted to the incremental subset —
    * the hash only matches if banded fingerprint probing, the
    * generation-keyed appends AND the mid-stream compaction together
    * produce exactly the one-shot recompute's pairs. Scale shape: like
    * q92 but cheaper — the fingerprint is the verify payload, so there
    * is no sigs table and no second index scan per batch. */
  private[queries] def q112(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = graft.ops.Scratch.tempDir("graft_q112_")
    try {
      val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      val isStream = pmod(col("doc_id"), lit(4)) === 0
      // memoized deterministic base build (the lshBaseInto rule): the
      // in-row fingerprints are bit-identical per (corpus, layout), so
      // five-ish seconds of base indexing amortize across the gates that
      // share this split while each still mutates its own clone
      GraphFixtures.cloneIntoFor("simhashbase", dir, s"$tmp/idx")(p =>
        graft.ops.SimHashIndex.build(docs.where(!isStream), p))
      val rows = fixtureSlice(docs.where(isStream).as[(Long, String)]).sortBy(_._1)
      val per = math.max(1, math.ceil(rows.length / 3.0).toInt)
      val chunks = rows.grouped(per).toArray
      val mem = MemoryStream[(Long, String)]
      val q = graft.streaming.StreamingPipeline.startSimHashIngest(
        mem.toDF().toDF("doc_id", "text"),
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
  /** q112's oracle replays the INCREMENTAL cap semantics, not q107's
    * from-scratch cap: the probe of batch b caps a bucket at its size AS
    * OF batch b (base + batches ≤ b), so a pair emitted before its
    * bucket later crosses the cap legitimately stays in the log — at
    * sf0.1 this diverges from the full-corpus cap (short-doc fingerprint
    * clusters cross the cap mid-stream; measured: 3439 vs 2395 pairs).
    * The SQL assigns every doc its harness batch (0 = base, 1–3 = the
    * doc_id-ordered thirds of the stream docs), computes each bucket's
    * size at each batch time, and keeps a candidate pair iff some shared
    * band's bucket is under the cap at the pair's emission time
    * b* = max(batch_a, batch_b) — exactly when the engine's combined
    * probe-time bucket admitted it. */
  private[queries] val q112Sql =
    s"""WITH dw AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
       |h AS (SELECT doc_id, CAST($simhashBitsSql AS BIGINT) AS sh FROM dw GROUP BY doc_id),
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


  // ------------------------------------------------------------------ q100
  /** The exactly-once pair-log CONSUMER contract under a replayed batch:
    * the downstream half of q92's streaming story. Same ingest shape as
    * q92 (base corpus indexed, stream docs delivered through
    * `LshIndex.probeAndAppendToLog`) in 2 batches — so the three
    * probe/append cycles paid here match q92's cost envelope, with the
    * replay as the third delivery — except batch 1 is
    * RE-DELIVERED verbatim right after its first delivery — the
    * foreachBatch retry a crash between the index append and the
    * checkpoint commit produces. The retry probes the identical
    * pre-batch index (its own generation `b1` is excluded) and its
    * dynamic partition overwrite REPLACES partition `batch_id=1` in the
    * pair log, so storage converges to the first attempt's state. The
    * consumer then applies the contract every pair-log reader runs:
    * latest-batch-wins per (doc_a, doc_b) pair. `n_versions` — the
    * number of log rows per pair the consumer saw — is part of the
    * output: the oracle pins it to exactly 1, which can only hash-match
    * if the replay added NO duplicate pair rows. Scale shape: the log is
    * batch_id-partitioned parquet; the consumer is one window over
    * (doc_a, doc_b) — O(log) rows, no index access at all. */
  private[queries] def q100(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tmp = graft.ops.Scratch.tempDir("graft_q100_")
    try {
      val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      val isStream = pmod(col("doc_id"), lit(4)) === 0
      GraphFixtures.lshBaseInto(spark, dir, s"$tmp/idx")
      val rows = fixtureSlice(docs.where(isStream).as[(Long, String)]).sortBy(_._1)
      val per = math.max(1, math.ceil(rows.length / 2.0).toInt)
      val chunks = rows.grouped(per).toArray
      chunks.zipWithIndex.foreach { case (c, i) =>
        graft.ops.LshIndex.probeAndAppendToLog(spark, s"$tmp/idx",
          c.toSeq.toDF("doc_id", "text"), s"$tmp/pairs", batchId = i.toLong)
        if (i == 1) // the crash-retry: same batch id, same data, re-delivered
          graft.ops.LshIndex.probeAndAppendToLog(spark, s"$tmp/idx",
            c.toSeq.toDF("doc_id", "text"), s"$tmp/pairs", batchId = i.toLong)
      }
      val log = spark.read
        .schema("doc_a BIGINT, doc_b BIGINT, jaccard DOUBLE, batch_id BIGINT")
        .parquet(s"$tmp/pairs")
      val byPair = Window.partitionBy(col("doc_a"), col("doc_b"))
      val consumed = log
        .withColumn("n_versions", count(lit(1)).over(byPair))
        .withColumn("rn", row_number().over(
          byPair.orderBy(col("batch_id").desc)))
        .where(col("rn") === 1)
        .select(col("doc_a"), col("doc_b"), col("jaccard"), col("n_versions"))
      // localize before deleting the scratch dir (q92's rule)
      localizeRows(consumed, Seq("doc_a", "doc_b"))
    } finally rmRecursive(tmp)
  }
  private[queries] val q100Sql =
    s"""WITH ${pairCtesWith(" AND (a.doc_id % 4 = 0 OR b.doc_id % 4 = 0)")}
       |SELECT doc_a, doc_b, jaccard, CAST(1 AS BIGINT) AS n_versions
       |FROM pairs ORDER BY doc_a, doc_b""".stripMargin


  // ------------------------------------------------------------------ q101
  /** Index TAKEDOWN + COMPACTION under the oracle: the corpus-maintenance
    * pair q62/q92 need for real training data. Build the persisted LSH
    * index from the base corpus (doc_id % 4 != 0), tombstone every base
    * doc with doc_id ≡ 9 (mod 16) (`LshIndex.markDeleted` — O(deletions)
    * id writes, no rebuild), physically drop them with
    * `LshIndex.compact` (generations fold to fresh-build tightness,
    * tombstoned rows disappear), then probe with the ingest batch
    * (doc_id % 4 == 0). The oracle recomputes the incremental pairs from
    * scratch over ONLY the live documents — at sf0.01 the takedown set
    * partners two of the seven baseline pairs (docs 377 and 393), so the
    * hash can only match if deleted docs truly stopped pairing AND
    * bucket-cap sizes were recounted without them. Scale shape: the
    * takedown is a tombstone append + one bounded compaction rewrite;
    * the probe pays the same pruned-bucket cost as q62. */
  private[queries] def q101(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tmp = graft.ops.Scratch.tempDir("graft_q101_")
    try {
      val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      val isBatch = pmod(col("doc_id"), lit(4)) === 0
      GraphFixtures.lshBaseInto(spark, dir, tmp)
      // the takedown list: ids only, bounded by the deletion set (the
      // API shape a takedown queue produces — never the corpus itself)
      val deleted = docs.where(pmod(col("doc_id"), lit(16)) === 9)
        .select(col("doc_id")).as[Long].collect().sorted
      LshIndex.markDeleted(spark, tmp, deleted.toSeq)
      LshIndex.compact(spark, tmp)
      LshIndex.probeAndAppend(spark, tmp, docs.where(isBatch))
    } finally rmRecursive(tmp)
  }
  private[queries] val q101Sql =
    s"""WITH live AS (SELECT doc_id, text FROM documents WHERE doc_id % 16 <> 9),
       |${pairCtesWith(" AND (a.doc_id % 4 = 0 OR b.doc_id % 4 = 0)", "live")}
       |SELECT doc_a, doc_b, jaccard FROM pairs ORDER BY doc_a, doc_b""".stripMargin


  // ----------------------------------------------------------------- q107
  /** SimHash HAMMING-DISTANCE near-dup pairs — the Charikar/Google-style
    * dedup path, complementing the MinHash/Jaccard path (q20): 63-bit
    * SimHash per doc ([[TextOps.simhash63InRow]], in-row — no shuffle to
    * fingerprint), 4× 16-bit band bucketing (pigeonhole: any pair within
    * Hamming ≤ 3 shares at least one exact band), hot-bucket cap
    * (DefaultMaxBucket, mirrored in the oracle's HAVING — clusters of
    * identical tiny-doc fingerprints would otherwise go quadratic), band
    * self-join for candidates, and an IN-ROW popcount-of-XOR verify.
    * Everything is integer arithmetic, so the oracle reproduces the
    * exact pair set. Scale shape: the self-join shuffles 4 small rows
    * per doc on (band, key); candidates after the cap are the only
    * pairs that pay the verify, and the verify is two BIGINTs — no set
    * intersection, which is exactly why production pipelines run simhash
    * next to minhash. */
  private[queries] def q107(spark: SparkSession, dir: String): DataFrame = {
    // fingerprints persisted: 16 bytes/doc, and the plan below consumes
    // them THREE times (bucket-size agg + both self-join sides) — without
    // the cache each consumer re-runs the 63-aggregate simhash over the
    // corpus. The dw projection is a separate select so the 63 aggregate()
    // leaves read an attribute, not 63 re-splits (TextOps.simhash63InRow's
    // caller contract).
    val h = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), array_distinct(TextOps.words(col("text"))).as("dw"))
      .select(col("doc_id"), TextOps.simhash63InRow(col("dw")).as("sh"))
      .persist()
    val out = TextOps.simhashPairs(h, "simhash_hot_buckets")
      .where(col("hamming") <= 3)
      .orderBy(col("doc_a"), col("doc_b"))
    // settle so the fingerprint cache can be released before returning
    try Caches.settle(out, maxRows = 1 << 22) finally h.unpersist()
  }
  /** The 63-bit SimHash fingerprint as one DuckDB expression over a
    * per-doc `word` stream — shared by q107's and q112's oracles. LAZY:
    * q112Sql initializes before this declaration (trait vals run in
    * file order) and would otherwise interpolate "null". */
  private[queries] lazy val simhashBitsSql: String = (0 until 63).map { j =>
    val h = j / 4 + 1; val s = j % 4
    s"CASE WHEN sum(CASE WHEN ((strpos('0123456789abcdef', substr(md5(word), $h, 1)) - 1) >> $s) & 1 = 1 THEN 1 ELSE -1 END) >= 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END"
  }.mkString(" + ")
  private[queries] val q107Sql =
    s"""WITH dw AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
       |h AS (SELECT doc_id, CAST($simhashBitsSql AS BIGINT) AS sh FROM dw GROUP BY doc_id),
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


  // ----------------------------------------------------------------- q108
  /** SimHash CALIBRATION audit — q84's contract for the Hamming path:
    * before trusting q107's threshold at scale, measure, on the same
    * fixed-size deterministic sample, the full tuning curve
    * (threshold t = 0..3) of banded-SimHash pair detection against
    * EXACT word-set-jaccard ≥ 0.5 ground truth
    * ([[TextOps.exactNearDupPairs]] over 1-gram word shingles — the
    * same feature set the fingerprint hashes, so the audit measures the
    * sketch, not a feature mismatch). One FULL-OUTER pair frame tagged
    * (hamming, is_true) — q84's no-scalar-join rule — exploded across
    * the 4 thresholds and aggregated once. On THIS corpus the audit
    * correctly flags SimHash as miscalibrated (even t=0 is mostly
    * false positives): the docs are short, so few features vote per
    * fingerprint and unrelated tiny docs collide — exactly the
    * "audit before you trust the sketch on your distribution" report
    * this operator exists to produce; on long-document corpora the
    * same curve separates. Scale shape: constant-size sample
    * (TakeOrderedAndProject), capped buckets, one aggregation. */
  private[queries] def q108(spark: SparkSession, dir: String): DataFrame = {
    val sample = Tables.spread(Tables.documents(spark, dir))
      .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
      .limit(Q84_SAMPLE)
      .select(col("doc_id"), array_distinct(TextOps.words(col("text"))).as("dw"))
      .persist()
    try {
      val h = sample.select(col("doc_id"), TextOps.simhash63InRow(col("dw")).as("sh"))
      val ham = TextOps.simhashPairs(h, "simhash_audit_hot")
        .select(col("doc_a"), col("doc_b"), col("hamming").as("d"))
      val exact = TextOps.exactNearDupPairs(
          sample.select(col("doc_id"), explode(col("dw")).as("shingle")),
          "doc_id", 0.5)
        .select(col("doc_a"), col("doc_b"), lit(1L).as("e"))
      val tagged = ham.join(exact, Seq("doc_a", "doc_b"), "full_outer")
      val curve = tagged
        .select(col("d"), col("e"), explode(typedLit(Seq(0, 1, 2, 3))).as("t"))
        .groupBy(col("t")).agg(
          sum(when(col("d") <= col("t"), 1L).otherwise(0L)).as("n_predicted"),
          sum(when(col("d") <= col("t") && col("e") === 1L, 1L).otherwise(0L))
            .as("n_predicted_true"),
          sum(coalesce(col("e"), lit(0L))).as("n_true_pairs"))
        .select(col("t"), col("n_predicted"), col("n_predicted_true"),
          col("n_true_pairs"),
          round(col("n_predicted_true") / col("n_predicted"), 4)
            .as("pair_precision"),
          round(col("n_predicted_true") / col("n_true_pairs"), 4).as("recall"))
        .orderBy(col("t"))
      Caches.collectExact(curve, rows = 4)
    } finally sample.unpersist()
  }
  private[queries] val q108Sql = {
    val bits = (0 until 63).map { j =>
      val h = j / 4 + 1; val s = j % 4
      s"CASE WHEN sum(CASE WHEN ((strpos('0123456789abcdef', substr(md5(word), $h, 1)) - 1) >> $s) & 1 = 1 THEN 1 ELSE -1 END) >= 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END"
    }.mkString(" + ")
    s"""WITH sample AS (
       |  SELECT * FROM documents
       |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT $Q84_SAMPLE),
       |dw AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word FROM sample),
       |h AS (SELECT doc_id, CAST($bits AS BIGINT) AS sh FROM dw GROUP BY doc_id),
       |bands AS (SELECT doc_id, sh, b, (sh >> (16 * b)) & 65535 AS v
       |          FROM h, unnest(range(4)) AS tt(b)),
       |bsz AS (SELECT b, v FROM bands GROUP BY b, v
       |        HAVING count(*) <= ${TextOps.DefaultMaxBucket}),
       |kept AS (SELECT bands.* FROM bands JOIN bsz USING (b, v)),
       |ham AS (SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS INT) AS d FROM (
       |  SELECT DISTINCT a.doc_id AS doc_a, a.sh AS ha, b.doc_id AS doc_b, b.sh AS hb
       |  FROM kept a JOIN kept b ON a.b = b.b AND a.v = b.v AND a.doc_id < b.doc_id)),
       |sdf AS (SELECT word FROM dw GROUP BY word
       |        HAVING count(*) <= ${TextOps.DefaultMaxBucket}),
       |rare AS (SELECT dw.* FROM dw JOIN sdf USING (word)),
       |cooc AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM rare a JOIN rare b ON a.word = b.word AND a.doc_id < b.doc_id),
       |sizes AS (SELECT doc_id, count(*) AS n FROM dw GROUP BY doc_id),
       |einter AS (SELECT c.doc_a, c.doc_b, count(*) AS i FROM cooc c
       |           JOIN dw a ON a.doc_id = c.doc_a
       |           JOIN dw b ON b.doc_id = c.doc_b AND b.word = a.word
       |           GROUP BY 1, 2),
       |exact AS (SELECT doc_a, doc_b, 1 AS e FROM einter
       |          JOIN sizes za ON za.doc_id = einter.doc_a
       |          JOIN sizes zb ON zb.doc_id = einter.doc_b
       |          WHERE CAST(i AS DOUBLE) / (za.n + zb.n - i) >= 0.5),
       |tagged AS (SELECT coalesce(ham.doc_a, exact.doc_a) AS doc_a, d, e
       |           FROM ham FULL OUTER JOIN exact USING (doc_a, doc_b)),
       |th AS (SELECT CAST(unnest(range(4)) AS INT) AS t)
       |SELECT t,
       |  count(*) FILTER (WHERE d <= t) AS n_predicted,
       |  count(*) FILTER (WHERE d <= t AND e = 1) AS n_predicted_true,
       |  count(*) FILTER (WHERE e = 1) AS n_true_pairs,
       |  round((count(*) FILTER (WHERE d <= t AND e = 1)) * 1.0 /
       |        (count(*) FILTER (WHERE d <= t)), 4) AS pair_precision,
       |  round((count(*) FILTER (WHERE d <= t AND e = 1)) * 1.0 /
       |        (count(*) FILTER (WHERE e = 1)), 4) AS recall
       |FROM th, tagged GROUP BY t ORDER BY t""".stripMargin
  }


  // ------------------------------------------------------------------ q21
  /** 16-bit SimHash fingerprints over distinct words — fully in-row
    * (distinct word set + 16 vote sums inside the row; the only shuffles
    * are the spread and the output sort). */
  private[queries] def q21(spark: SparkSession, dir: String): DataFrame = {
    val withWords = Tables.spread(Tables.documents(spark, dir)
      .select(col("doc_id"), array_distinct(TextOps.words(col("text"))).as("dw")))
    withWords
      .select(col("doc_id"), TextOps.simhash16InRow(col("dw")).as("simhash16"))
      .orderBy(col("doc_id"))
  }
  private[queries] val q21Sql = {
    val bits = (0 until 16).map { j =>
      val h = j / 4 + 1; val s = j % 4
      s"CASE WHEN sum(CASE WHEN ((strpos('0123456789abcdef', substr(md5(word), $h, 1)) - 1) >> $s) & 1 = 1 THEN 1 ELSE -1 END) >= 0 THEN ${1 << j} ELSE 0 END"
    }.mkString(" + ")
    s"""WITH dw AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
       |SELECT doc_id, $bits AS simhash16 FROM dw GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }


  // ------------------------------------------------------------------ q22
  /** n-gram Jaccard similarity on adjacent doc pairs (doc_id, doc_id+1) —
    * the windowless exact-jaccard operator; pairs with empty intersection
    * drop out (inner-join semantics, same in the oracle). */
  private[queries] def q22(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), TextOps.shingleSet(col("text"), SHINGLE_N).as("sh"))
    val a = docs.select(col("doc_id").as("doc_a"), col("sh").as("sa"))
    val b = docs.select((col("doc_id") - 1).as("doc_a"),
      col("doc_id").as("doc_b"), col("sh").as("sb"))
    val j = TextOps.jaccardFromSets(col("sa"), col("sb"))
    a.join(b, "doc_a") // one shuffle join on doc id; jaccard in-row
      .where(size(array_intersect(col("sa"), col("sb"))) >= 1) // oracle's inner-join-on-shingle semantics
      .select(col("doc_a"), col("doc_b"), round(j, 4).as("jaccard"))
      .orderBy(col("doc_a"))
  }
  private[queries] val q22Sql =
    s"""WITH ${shingleCtes(SHINGLE_N)},
       |inter AS (SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, count(*) AS n_inter
       |  FROM sh sa JOIN sh sb ON sa.doc_id + 1 = sb.doc_id AND sa.shingle = sb.shingle
       |  GROUP BY 1, 2),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
       |SELECT doc_a, doc_b,
       |       round(CAST(n_inter AS DOUBLE) / (za.n + zb.n - n_inter), 4) AS jaccard
       |FROM inter JOIN sizes za ON za.doc_id = doc_a JOIN sizes zb ON zb.doc_id = doc_b
       |ORDER BY doc_a""".stripMargin


  // ------------------------------------------------------------------ q51
  /** Incremental dedup against a seen corpus via a Bloom pre-filter —
    * the "is this document new?" pattern every continuously-ingesting
    * training-data pipeline runs. The probe side is the WHOLE incoming
    * feed (which, as in real re-ingestion, contains already-seen docs:
    * here the 20% with doc_id % 5 == 0 that form the seen corpus); key =
    * md5 of normalized text.
    *
    * The Bloom filter (built in ONE distributed pass over the corpus,
    * `stat.bloomFilter`) splits the probe side map-side:
    *   - might_contain = false → DEFINITELY new, no join at all (at a
    *     3% fpp that is ~97% of the truly-new majority of the feed);
    *   - might_contain = true → seen-or-false-positive, verified by an
    *     anti-join against the corpus keys.
    * The result is EXACT (the bloom only prunes the join input), which is
    * why the oracle is the plain NOT IN — and at 100 TB the anti-join
    * shuffles only the seen fraction + 3% of the new instead of the whole
    * feed. */
  private[queries] def q51(spark: SparkSession, dir: String): DataFrame = {
    val key = md5(TextOps.normalizeText(col("text")))
    val docs = Tables.documents(spark, dir)
    val corpusKeys = docs.where(pmod(col("doc_id"), lit(5)) === 0)
      .select(key.as("k"))
    val probe = Tables.spread(docs)
      .select(col("doc_id"), col("lang"), col("n_chars"), key.as("k"))
    val bloom = corpusKeys.stat.bloomFilter("k", 100000L, 0.03)
    val might = BloomMightContain.mightContain(bloom, col("k"))
    probe.where(!might)
      .unionByName(probe.where(might).join(corpusKeys, Seq("k"), "left_anti"))
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }
  private[queries] val q51Sql =
    """WITH k AS (
      |  SELECT doc_id, lang, n_chars,
      |    md5(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
      |        ' +', ' ', 'g')) AS k
      |  FROM documents)
      |SELECT doc_id, lang, n_chars FROM k
      |WHERE k NOT IN (SELECT k FROM k WHERE doc_id % 5 = 0)
      |ORDER BY doc_id""".stripMargin


  // ------------------------------------------------------------------ q73
  /** Exact duplicated-span detection via mod-p k-gram fingerprinting —
    * the "exact substring dedup" complement to MinHash doc-level near-dup
    * (MinHash dilutes a copied paragraph inside an otherwise-new doc;
    * span fingerprints catch it). Classic scheme (the mod-p baseline of
    * Schleimer et al.'s winnowing, SIGMOD'03): hash every k=8-word gram,
    * KEEP only hashes whose last hex digit ∈ {0,4,8,c} (density 1/4) —
    * selection is content-defined, so two docs sharing an exact span
    * select the SAME fingerprints regardless of alignment. Fabricated
    * positives (doc_id%7==0 → a 25-word verbatim excerpt re-published as
    * doc_id+2,000,000) keep the match path deterministic at every sf.
    * Scale shape: gram hashing + selection + dedup are fully in-row
    * (one explode, no shuffle until the fingerprint join); only the
    * 1-in-4 selected 16-byte hashes ever shuffle — the corpus text does
    * not. A boilerplate cap (fingerprints present in > 64 docs are
    * dropped, the q20 hot-bucket idiom) bounds the self-join fanout at
    * 100 TB, where a site-wide footer gram would otherwise pair
    * quadratically. */
  private[queries] def q73(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val w0 = TextOps.words(col("text"))
    val excerpts = docs
      .where(pmod(col("doc_id"), lit(7)) === 0 && size(w0) >= 27)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat_ws(" ", slice(w0, 3, 25)).as("text"))
    val w = TextOps.words(col("text"))
    // the gram transform binds the token array once per row (TextOps.bound)
    // — unbound, the lambda re-split the text at every gram position
    val gramFps = TextOps.bound(w) { wb =>
      array_distinct(filter(
        transform(sequence(lit(1), size(wb) - 7),
          i => md5(concat_ws(" ", slice(wb, i, lit(8))).cast("binary"))),
        h => substring(h, 32, 1).isin("0", "4", "8", "c")))
    }
    val fps = Tables.spread(docs.unionByName(excerpts))
      .where(size(w) >= 8)
      .select(col("doc_id"), explode(gramFps).as("fp"))
    val common = fps.groupBy(col("fp"))
      .agg(count(lit(1)).as("n_docs")).where(col("n_docs") > 64)
    val rare = fps.join(broadcast(common), Seq("fp"), "left_anti")
    rare.as("a").join(rare.as("b"), Seq("fp"))
      .where(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .where(col("shared_fps") >= 2)
      .orderBy(col("doc_a"), col("doc_b"))
  }
  private[queries] val q73Sql =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 2000000, array_to_string(string_split(text, ' ')[3:27], ' ')
      |  FROM documents
      |  WHERE doc_id % 7 = 0 AND len(string_split(text, ' ')) >= 27),
      |w AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus
      |      WHERE len(string_split(text, ' ')) >= 8),
      |fp AS (
      |  SELECT DISTINCT doc_id, unnest(
      |    list_filter(
      |      list_transform(range(1, len(w) - 6),
      |        i -> md5(array_to_string(w[i:i+7], ' '))),
      |      h -> substr(h, 32, 1) IN ('0','4','8','c'))) AS fp
      |  FROM w),
      |rare AS (
      |  SELECT doc_id, fp FROM fp
      |  QUALIFY count(*) OVER (PARTITION BY fp) <= 64)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_fps
      |FROM rare a JOIN rare b USING (fp)
      |WHERE a.doc_id < b.doc_id
      |GROUP BY 1, 2
      |HAVING count(*) >= 2
      |ORDER BY doc_a, doc_b""".stripMargin


  // ------------------------------------------------------------------ q77
  /** SemDeDup — semantic dedup inside IVF cells (Abbas et al.,
    * arXiv:2303.09540): embeddings are assigned to their nearest coarse
    * centroid (q54's literal-centroid map-side pass — zero shuffle for
    * the assignment), and only WITHIN a cell are pairs compared; a doc is
    * a semantic duplicate if some lower-id doc in its cell has cosine
    * ≥ 0.35. Survivorship is deterministic min-id-wins on direct pairs
    * (transitive-closure clustering is q59's operator; SemDeDup proper
    * also prunes on direct ε-balls only). Output = the dropped docs with
    * their earliest keeper.
    *
    * Scale shape: the O(n²) risk lives entirely inside cells, which is
    * the point of the IVF partition — production sizes K ~ √n so cells
    * stay bounded, and the same hot-bucket cap as the LSH ops drops
    * degenerate cells (mirrored in the oracle) instead of paying them.
    * Cell assignment is codegen'd map-side; the pair join shuffles on
    * cell id only. */
  private[queries] def q77(spark: SparkSession, dir: String): DataFrame = {
    val K = 16
    val cents: Seq[Seq[Float]] = Tables.embeddings(spark, dir)
      .where(col("vec_id") < K).orderBy(col("vec_id"))
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toSeq).toSeq
    val centArr = typedLit(cents)
    // nearest centroid, ties to the higher id — exactly q54's rule
    def cellOf(v: Column): Column =
      array_max(transform(sequence(lit(1), lit(K)), i => struct(
        CosineSimilarity.cosineSim(v, element_at(centArr, i)).as("c"),
        (i - 1).as("i")))).getField("i")
    val asg = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), cellOf(col("embedding")).as("cell"))
    val cos = CosineSimilarity.cosineSim(col("embedding_a"), col("embedding_b"))
    val pairs = TextOps.bucketPairs(asg, Seq("cell"), "vec_id",
        Some(4 * TextOps.DefaultMaxBucket), "semdedup_hot_cells", "embedding")
      .where(cos >= 0.35)
      .select(col("cell"), col("vec_id_a").as("va"), col("vec_id_b").as("vb"),
        round(cos, 4).as("cos_sim"))
    val firstKeeper = Window.partitionBy(col("vb")).orderBy(col("va"))
    pairs.withColumn("rn", row_number().over(firstKeeper))
      .where(col("rn") === 1)
      .select(col("vb").as("vec_id"), col("va").as("dup_of"),
        col("cell"), col("cos_sim"))
      .orderBy(col("vec_id"))
  }
  private[queries] val q77Sql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |c AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 16),
      |asg0 AS (
      |  SELECT vec_id, v,
      |    (SELECT c_id FROM c ORDER BY list_cosine_similarity(v, cv) DESC, c_id DESC
      |     LIMIT 1) AS cell
      |  FROM e),
      |sz AS (SELECT cell FROM asg0 GROUP BY cell HAVING count(*) <= 256),
      |asg AS (SELECT asg0.* FROM asg0 JOIN sz USING (cell)),
      |pairs AS (
      |  SELECT a.cell, a.vec_id AS va, b.vec_id AS vb,
      |         list_cosine_similarity(a.v, b.v) AS cos
      |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
      |  WHERE list_cosine_similarity(a.v, b.v) >= 0.35)
      |SELECT vb AS vec_id, va AS dup_of, cell, round(cos, 4) AS cos_sim
      |FROM pairs
      |QUALIFY row_number() OVER (PARTITION BY vb ORDER BY va) = 1
      |ORDER BY vec_id""".stripMargin


  // ------------------------------------------------------------------ q84
  /** LSH calibration audit — the recall/precision report a production
    * dedup pipeline runs to tune its banding (k, r, bands) before
    * trusting MinHash+LSH at full scale: on a FIXED-SIZE deterministic
    * sample (top-[[Q84_SAMPLE]] docs by md5(doc_id) — a
    * TakeOrderedAndProject, so the audit's cost is a constant independent
    * of corpus size; both endpoints must sample in for a pair to be
    * observable), compute (a) EXACT ground-truth near-dup pairs
    * (jaccard ≥ 0.5) via [[TextOps.exactNearDupPairs]] — a
    * document-frequency-capped inverted-index equi-join, no cartesian,
    * no uncapped hot-shingle blowup — and (b) the production LSH path
    * (bands → hot-bucket cap → candidates → jaccard verify), then
    * report candidate precision and verified recall. With r=2, b=4 the
    * theoretical candidate probability at j=0.5 is 1−(1−j²)⁴ ≈ 0.68 —
    * the audit makes the measured recall a declared, oracle-checked
    * number instead of folklore. */
  private[queries] def q84(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables.documents(spark, dir))
      .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
      .limit(Q84_SAMPLE)
    val sig = minhashSigTable(
      docs.select(col("doc_id"), TextOps.shingleSet(col("text"), SHINGLE_N).as("sh")))
      .persist()
    try {
      val cand = TextOps.lshCandidatePairs(
        TextOps.lshBands(sig, "doc_id", K, R), "doc_id", NearDup.maxBucket)
      val verified = TextOps.verifyJaccard(cand, sig, "doc_id", "sh",
          NearDup.jaccardThreshold)
        .select(col("doc_a"), col("doc_b"))
      // exact ground truth: df-capped inverted-index candidates, true
      // jaccard from the full sets (TextOps.exactNearDupPairs)
      val shRows = sig.select(col("doc_id"), explode(col("sh")).as("shingle"))
      val exact = TextOps.exactNearDupPairs(shRows, "doc_id", 0.5)
        .select(col("doc_a"), col("doc_b"))
      // one pair-level frame → one aggregation; no 1-row scalar joins
      val tagged = cand.withColumn("c", lit(1L))
        .join(exact.withColumn("e", lit(1L)), Seq("doc_a", "doc_b"), "full_outer")
        .join(verified.withColumn("v", lit(1L)), Seq("doc_a", "doc_b"), "left")
      Caches.collectExact(tagged.agg(
          sum(coalesce(col("e"), lit(0L))).as("n_exact_pairs"),
          sum(coalesce(col("c"), lit(0L))).as("n_candidates"),
          sum(when(col("c") === 1 && col("e") === 1, 1L).otherwise(0L))
            .as("n_candidates_true"),
          sum(coalesce(col("v"), lit(0L))).as("n_verified"))
        .select(col("n_exact_pairs"), col("n_candidates"),
          col("n_candidates_true"), col("n_verified"),
          round(col("n_verified") / col("n_exact_pairs"), 4).as("recall"),
          round(col("n_candidates_true") / col("n_candidates"), 4)
            .as("cand_precision")), rows = 1)
    } finally sig.unpersist()
  }
  private[queries] val q84Sql =
    s"""WITH sample AS (
       |  SELECT * FROM documents
       |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT $Q84_SAMPLE),
       |${pairCtesWith("", "sample")},
       |sdf AS (SELECT shingle FROM sh GROUP BY shingle
       |  HAVING count(*) <= ${TextOps.DefaultMaxBucket}),
       |rare AS (SELECT sh.* FROM sh JOIN sdf USING (shingle)),
       |cooc AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
       |einter AS (SELECT c.doc_a, c.doc_b, count(*) AS i
       |  FROM cooc c JOIN sh a ON a.doc_id = c.doc_a
       |              JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
       |  GROUP BY 1, 2),
       |exact AS (SELECT doc_a, doc_b
       |  FROM einter JOIN sizes za ON za.doc_id = einter.doc_a
       |              JOIN sizes zb ON zb.doc_id = einter.doc_b
       |  WHERE CAST(i AS DOUBLE) / (za.n + zb.n - i) >= 0.5),
       |ctrue AS (SELECT count(*) AS n FROM cand c
       |  JOIN exact e ON c.doc_a = e.doc_a AND c.doc_b = e.doc_b)
       |SELECT
       |  (SELECT count(*) FROM exact) AS n_exact_pairs,
       |  (SELECT count(*) FROM cand) AS n_candidates,
       |  (SELECT n FROM ctrue) AS n_candidates_true,
       |  (SELECT count(*) FROM pairs) AS n_verified,
       |  round((SELECT count(*) FROM pairs) * 1.0 /
       |        (SELECT count(*) FROM exact), 4) AS recall,
       |  round((SELECT n FROM ctrue) * 1.0 /
       |        (SELECT count(*) FROM cand), 4) AS cand_precision""".stripMargin


  // ------------------------------------------------------------------ q85
  /** Cluster-canonical near-dedup (CurationPipeline.canonicalSelect):
    * cluster the verified near-dup pairs transitively and keep exactly
    * the longest member per cluster (ties to the lowest doc_id) — the
    * keep-one-survivor form of dedup that pairwise removal cannot
    * express (a chain a–b, b–c may drop both b and c). Every doc is
    * emitted with its cluster and a kept flag so drops are auditable.
    * The oracle recomputes the clusters with a recursive CTE (q59's
    * reachability) and ranks members with the same window. */
  private[queries] def q85(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val edges = nearDupPairs(spark, dir)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    CurationPipeline.canonicalSelect(docs, edges, length(col("text")))
      .select(col("doc_id"), col("cluster_id"), col("kept"))
      .orderBy(col("doc_id"))
  }
  private[queries] val q85Sql =
    s"""WITH RECURSIVE $pairCtes,
       |bi AS (SELECT doc_a AS u, doc_b AS v FROM pairs
       |       UNION SELECT doc_b, doc_a FROM pairs),
       |reach(u, v) AS (
       |  SELECT u, u FROM bi
       |  UNION
       |  SELECT bi.u, reach.v FROM bi JOIN reach ON bi.v = reach.u),
       |cl AS (SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u),
       |ful AS (SELECT d.doc_id,
       |          coalesce(cl.cluster_id, d.doc_id) AS cluster_id,
       |          length(d.text) AS q
       |        FROM documents d LEFT JOIN cl USING (doc_id)),
       |rk AS (SELECT doc_id, cluster_id,
       |         row_number() OVER (PARTITION BY cluster_id
       |                            ORDER BY q DESC, doc_id) AS rn
       |       FROM ful)
       |SELECT doc_id, cluster_id, CAST(rn = 1 AS INTEGER) AS kept
       |FROM rk ORDER BY doc_id""".stripMargin


  // ------------------------------------------------------------------ q90
  /** Cross-document boilerplate-block removal (CurationPipeline
    * .boilerplateStrip): strip every 5-token block occurring in >= 8
    * distinct docs and reassemble the survivors in order. A deterministic
    * banner ("ad click banner buy now") is prepended to every doc_id%3==0
    * doc — prepending exactly one block keeps the original block
    * boundaries intact, so the op must return those docs to their
    * original text while leaving the rest untouched (plus any naturally
    * frequent blocks, which both engines count identically). Output
    * carries the (n_blocks, n_dropped) audit columns the stage emits. */
  private[queries] def q90(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("text"))
    val aug = docs.withColumn("text",
      when(pmod(col("doc_id"), lit(3)) === 0,
        concat(lit("ad click banner buy now "), col("text")))
        .otherwise(col("text")))
    CurationPipeline.boilerplateStrip(aug, blockTokens = 5, minDocs = 8)
      .select(col("doc_id"), col("n_blocks"), col("n_dropped"),
        col("text").as("clean_text"))
      .orderBy(col("doc_id"))
  }
  private[queries] val q90Sql =
    """WITH aug AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 3 = 0 THEN 'ad click banner buy now ' || text
      |              ELSE text END AS text
      |  FROM documents),
      |w AS (SELECT doc_id, string_split(text, ' ') AS w,
      |             CAST(ceil(len(string_split(text, ' ')) / 5.0) AS INT) AS nb
      |      FROM aug),
      |blk AS (
      |  SELECT doc_id,
      |         unnest(range(1, nb + 1)) AS bp,
      |         unnest(list_transform(range(1, nb + 1),
      |           i -> array_to_string(w[(i - 1) * 5 + 1 : i * 5], ' '))) AS blk
      |  FROM w),
      |freq AS (
      |  SELECT blk FROM (SELECT DISTINCT doc_id, blk FROM blk)
      |  GROUP BY blk HAVING count(*) >= 8),
      |kept AS (
      |  SELECT doc_id, bp, blk FROM blk
      |  WHERE blk NOT IN (SELECT blk FROM freq)),
      |clean AS (
      |  SELECT doc_id, count(*) AS n_kept,
      |         string_agg(blk, ' ' ORDER BY bp) AS clean_text
      |  FROM kept GROUP BY doc_id)
      |SELECT w.doc_id, w.nb AS n_blocks,
      |       w.nb - coalesce(c.n_kept, 0) AS n_dropped,
      |       coalesce(c.clean_text, '') AS clean_text
      |FROM w LEFT JOIN clean c USING (doc_id)
      |ORDER BY w.doc_id""".stripMargin


  // ----------------------------------------------------------------- q120
  /** Content-defined chunk dedup — the storage/dataset-versioning dedup
    * (LBFS, Muthitacharoen et al. SOSP'01; FastCDC, Xia et al. USENIX
    * ATC'16) at token granularity: a chunk boundary falls AFTER any
    * token whose hash ∈ 1/8 of the space (q80's md5-prefix convention,
    * expected chunk ≈ 8 tokens), so boundaries depend only on LOCAL
    * content — an insertion reshapes the one chunk it lands in, not
    * every downstream block (the failure mode of q90's fixed 5-token
    * grid). Chunks dedup by first corpus occurrence (min (doc, pos)
    * owner per chunk hash). Scale shape: chunking is ONE in-row
    * `aggregate` fold over the token array (a linear codegen'd pass -
    * no posexplode of tokens, no per-doc window sort, no shuffle to
    * FORM chunks); only (doc, chunk-hash) pairs shuffle — 16-byte hashes, never
    * chunk text — and the owner aggregate is one groupBy on that
    * hash. */
  private[queries] def q120(spark: SparkSession, dir: String): DataFrame = {
    val h6 = (t: Column) =>
      conv(substring(md5(t.cast("binary")), 1, 6), 16, 10).cast("long")
    val isCut = (t: Column) => pmod(h6(t), lit(8)) === 0
    // ONE left-to-right in-row fold forms the chunks: append the running
    // chunk when its last token is a cut token, flush the unterminated
    // tail in the finisher. Linear, codegen'd, zero shuffle to chunk.
    val emptyAcc = struct(
      array().cast("array<string>").as("done"), lit("").as("cur"))
    val chunkArr = aggregate(
      TextOps.words(col("text")),
      emptyAcc,
      (acc, t) => {
        val joined = when(acc.getField("cur") === "", t)
          .otherwise(concat(acc.getField("cur"), lit(" "), t))
        when(isCut(t),
          struct(array_append(acc.getField("done"), joined).as("done"),
            lit("").as("cur")))
          .otherwise(struct(acc.getField("done").as("done"),
            joined.as("cur")))
      },
      acc => when(acc.getField("cur") === "", acc.getField("done"))
        .otherwise(array_append(acc.getField("done"), acc.getField("cur"))))
    val chunks = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), posexplode(chunkArr))
      .select(col("doc_id"), col("pos").cast("long").as("chunk"),
        md5(col("col").cast("binary")).as("chash"))
    val owner = chunks.groupBy(col("chash"))
      .agg(min(struct(col("doc_id"), col("chunk"))).as("first"))
    chunks.join(owner, Seq("chash"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("first.doc_id") =!= col("doc_id") ||
          col("first.chunk") =!= col("chunk"), 1L).otherwise(0L)).as("n_dup"))
      .select(col("doc_id"), col("n_chunks"), col("n_dup"),
        round(col("n_dup").cast("double") / col("n_chunks"), 4).as("dup_ratio"))
      .orderBy(col("doc_id"))
  }
  private[queries] val q120Sql =
    """WITH toks AS (
      |  SELECT doc_id,
      |         unnest(string_split(text, ' ')) AS term,
      |         generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
      |  FROM documents),
      |cuts AS (
      |  SELECT doc_id, pos, term,
      |         CASE WHEN ('0x' || substr(md5(term), 1, 6))::BIGINT % 8 = 0
      |              THEN 1 ELSE 0 END AS cut
      |  FROM toks),
      |ch AS (
      |  SELECT doc_id, pos, term,
      |         coalesce(sum(cut) OVER (PARTITION BY doc_id ORDER BY pos
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk
      |  FROM cuts),
      |chunks AS (
      |  SELECT doc_id, chunk,
      |         md5(string_agg(term, ' ' ORDER BY pos)) AS chash
      |  FROM ch GROUP BY 1, 2),
      |owner AS (
      |  SELECT chash, min(doc_id * 1000000 + chunk) AS first_key
      |  FROM chunks GROUP BY 1)
      |SELECT doc_id, count(*) AS n_chunks,
      |       CAST(sum(CASE WHEN doc_id * 1000000 + chunk <> first_key
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
      |       round(sum(CASE WHEN doc_id * 1000000 + chunk <> first_key
      |                      THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS dup_ratio
      |FROM chunks JOIN owner USING (chash)
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin


  // ----------------------------------------------------------------- q133
  /** PageRank over the verified near-dup graph — the iterative GRAPH
    * ANALYTICS member beyond q59's connected components: on the
    * undirected dup graph (q20's verified pairs, both directions), a
    * doc's rank measures how centrally it sits in its duplication
    * cluster — the signal curation uses to pick the canonical version
    * of a heavily-recombined boilerplate family (the cluster minimum
    * q59/q85 use is arbitrary; the rank-max is the most-duplicated
    * representative). 3 fixed power iterations, damping 0.85,
    * teleport over the VERTEX set (docs with ≥1 dup edge — isolated
    * docs carry no rank information). Scale shape: each iteration is
    * the canonical two-shuffle step (join ranks onto edges by src,
    * re-aggregate contributions by dst); the undirected graph has no
    * dangling nodes, so no mass-redistribution pass; the vertex count
    * is the only driver scalar. Output doubles round to 6dp — each
    * value is a ≤deg-addend sum, contraction-mapped across
    * iterations, so cross-engine ulp drift stays far below the
    * rounding grain. */
  private[queries] def q133(spark: SparkSession, dir: String): DataFrame = {
    val pairs = nearDupPairs(spark, dir).select(col("doc_a"), col("doc_b"))
    // nearDupPairs localizes its (small) pair list — a LocalRelation
    // whose scan is ONE partition. Left as-is, every iteration's joins
    // and aggregates inherit that single partition and the whole graph
    // pipeline runs serially (measured: ~2/3 of this query's sf1 time).
    // One explicit src-hash repartition + persist distributes the edge
    // list once; groupBy(src)/join(src) downstream then reuse the
    // partitioning without further exchanges.
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .repartition(col("src"))
      .persist()
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg")).persist()
    val n = deg.count() // vertex count of the dup graph — bounded scalar
    val edgesDeg = edges.join(deg, "src")
    var ranks = deg.select(col("src").as("doc_id"), lit(1.0 / n).as("pr"))
    for (_ <- 1 to 3) {
      val next = edgesDeg.join(ranks, edgesDeg("src") === ranks("doc_id"))
        .select(col("dst"), (col("pr") / col("deg")).as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
        .select(col("dst").as("doc_id"),
          (lit(0.15 / n) + lit(0.85) * col("s")).as("pr"))
      // SETTLE each round (q148's rule): without the plan cut, every
      // iteration re-analyzes the whole accumulated lineage — measured
      // as per-iteration cost GROWING 3→5 s at sf1 on a 48k-vertex
      // graph. Vertex-sized ranks localize to a LocalRelation (free
      // broadcast fodder for the next join); past the cap they settle
      // cluster-side via localCheckpoint (Caches.settle).
      ranks = Caches.settle(next, maxRows = 1 << 20)
    }
    val out = ranks.join(deg, ranks("doc_id") === deg("src"))
      .select(col("doc_id"), col("deg").as("degree"),
        round(col("pr"), 6).as("pagerank"))
      .orderBy(col("doc_id"))
    // vertex-sized output; settle, then release the edge cache
    val res = Caches.settle(out, maxRows = 1 << 20)
    edges.unpersist(); deg.unpersist()
    res
  }
  private[queries] val q133Sql =
    s"""WITH $pairCtes,
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       |nv AS (SELECT count(*) AS n FROM deg),
       |r0 AS (SELECT src AS doc_id, 1.0 / (SELECT n FROM nv) AS pr FROM deg),
       |it1 AS (SELECT e.dst AS doc_id,
       |          0.15 / (SELECT n FROM nv) + 0.85 * sum(r.pr / e.deg) AS pr
       |        FROM (SELECT edges.*, deg.deg FROM edges JOIN deg USING (src)) e
       |        JOIN r0 r ON r.doc_id = e.src GROUP BY e.dst),
       |it2 AS (SELECT e.dst AS doc_id,
       |          0.15 / (SELECT n FROM nv) + 0.85 * sum(r.pr / e.deg) AS pr
       |        FROM (SELECT edges.*, deg.deg FROM edges JOIN deg USING (src)) e
       |        JOIN it1 r ON r.doc_id = e.src GROUP BY e.dst),
       |it3 AS (SELECT e.dst AS doc_id,
       |          0.15 / (SELECT n FROM nv) + 0.85 * sum(r.pr / e.deg) AS pr
       |        FROM (SELECT edges.*, deg.deg FROM edges JOIN deg USING (src)) e
       |        JOIN it2 r ON r.doc_id = e.src GROUP BY e.dst)
       |SELECT r.doc_id, d.deg AS degree, round(r.pr, 6) AS pagerank
       |FROM it3 r JOIN deg d ON d.src = r.doc_id
       |ORDER BY doc_id""".stripMargin


  // ----------------------------------------------------------------- q134
  /** ASYMMETRIC containment dedup ([[TextOps.containmentPairs]]) — the
    * quote-inclusion near-dup class every symmetric measure misses: a
    * short doc fully embedded in a longer one has containment
    * |A∩B|/min(|A|,|B|) ≈ 1 while its Jaccard (q22) stays low because
    * the union is dominated by the long doc. Candidates come from the
    * same df-capped 2-gram shingle inverted index as the exact-jaccard
    * audit (boilerplate shingles never join); verification divides the
    * true intersection by the SMALLER set; the directed output names
    * the contained doc (`doc_sub` — what a containment pass drops) and
    * its superset. All integer counting → the oracle replays the exact
    * pair set. Scale shape: one (id, shingle) distinct shuffle, a
    * capped posting-list self-join, and two broadcast-sized size
    * joins per surviving candidate. */
  private[queries] def q134(spark: SparkSession, dir: String): DataFrame = {
    val sh = TextOps.shingleRows(
      Tables.spread(Tables.documents(spark, dir)), "doc_id", "text", 2)
    TextOps.containmentPairs(sh, "doc_id", threshold = 0.8)
      .select(col("doc_sub"), col("doc_sup"),
        round(col("containment"), 4).as("containment"))
      .orderBy(col("doc_sub"), col("doc_sup"))
  }
  private[queries] val q134Sql =
    s"""WITH ${shingleCtes(2)},
       |rare AS (SELECT sh.* FROM sh JOIN (
       |    SELECT shingle FROM sh GROUP BY shingle
       |    HAVING count(*) <= ${TextOps.DefaultMaxBucket}) r USING (shingle)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM rare a JOIN rare b
       |           ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
       |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS n_inter
       |          FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a
       |                      JOIN sh sb ON sb.doc_id = c.doc_b
       |                                AND sb.shingle = sa.shingle
       |          GROUP BY c.doc_a, c.doc_b),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |c AS (SELECT doc_a, doc_b, za.n AS na, zb.n AS nb,
       |             CAST(n_inter AS DOUBLE) / least(za.n, zb.n) AS cont
       |      FROM inter JOIN sizes za ON za.doc_id = doc_a
       |                 JOIN sizes zb ON zb.doc_id = doc_b)
       |SELECT CASE WHEN na <= nb THEN doc_a ELSE doc_b END AS doc_sub,
       |       CASE WHEN na <= nb THEN doc_b ELSE doc_a END AS doc_sup,
       |       round(cont, 4) AS containment
       |FROM c WHERE cont >= 0.8
       |ORDER BY doc_sub, doc_sup""".stripMargin


  // ----------------------------------------------------------------- q158
  /** DEGREE-CAPPED PageRank — q133's scale-safe form (the round-13
    * verdict's watch item): the dup graph's edge count grows with dup
    * DENSITY, not just corpus size, and one boilerplate family of f
    * copies contributes f² edges, so q133's per-iteration shuffle is
    * super-linear on skewed corpora (measured 9.04×/decade at sf1). The
    * standard large-graph mitigation caps per-vertex fan-OUT: each
    * vertex keeps its `cap` pseudo-randomly chosen out-edges (ordered
    * by md5(src|dst) — deterministic, engine-portable, unbiased w.r.t.
    * edge structure), so the iteration shuffle is O(V·cap) REGARDLESS
    * of dup density and a 10^6-copy hub costs the same as a 16-copy
    * one. Rank mass still flows both ways on capped hubs because the
    * cap is applied per DIRECTION of the undirected edge list — a
    * dropped (a→b) does not drop (b→a) unless b is also over-cap. Every
    * vertex keeps min(deg, cap) ≥ 1 out-edges, so the capped graph has
    * no dangling mass and the same 3-iteration/0.85-damping machinery
    * as q133 applies with the CAPPED out-degree as the divisor. Output
    * keeps both degrees so curation can see how much each hub was
    * subsampled. */
  private[queries] val q158Cap = 8
  private[queries] def q158(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = nearDupPairs(spark, dir).select(col("doc_a"), col("doc_b"))
    // distribute the localized pair list once (q133's rule: a
    // LocalRelation scan is one partition — left alone, the whole
    // pipeline below runs serially)
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .repartition(col("src"))
      .persist()
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg")).persist()
    val n = deg.count() // vertex count — bounded scalar, one driver long
    // TWO-PHASE deterministic cap. The one-window spelling
    // (row_number over partitionBy(src)) funnels a hub's ENTIRE f²
    // edge set into one task's sort — the exact skew this operator
    // exists to remove (measured 16×/decade at the sf1 sweep). Phase 1
    // caps per (src, salt) where salt = hash(dst) % 64: a hub's edges
    // spread across 64 salt groups (deterministic — no dependence on
    // physical partitioning), so no task sorts more than deg/64, and
    // ≤ cap × 64 survivors remain per src. Phase 2 runs the same
    // (mk, dst) order globally over the survivors. Top-k is a monotone
    // selection — the global top-cap is contained in the union of the
    // salt-local top-caps for ANY salting — so the winners are
    // IDENTICAL to the one-window spelling (and to the oracle, which
    // keeps that spelling at its own scale). At a scale where deg/64
    // still skews, the salt width widens; cap and salt are the two
    // knobs, both free of the hub hotspot.
    val mk = md5(concat(col("src").cast("string"), lit("|"),
      col("dst").cast("string")))
    val wLocal = Window.partitionBy(col("src"), col("salt"))
      .orderBy(col("mk"), col("dst"))
    val wGlobal = Window.partitionBy(col("src")).orderBy(col("mk"), col("dst"))
    val capped = edges.withColumn("mk", mk)
      .withColumn("salt", pmod(xxhash64(col("dst")), lit(64L)))
      .withColumn("lrn", row_number().over(wLocal))
      .where(col("lrn") <= q158Cap)
      .withColumn("rn", row_number().over(wGlobal))
      .where(col("rn") <= q158Cap)
      .select(col("src"), col("dst"))
      .persist() // reused by every iteration + cdeg — never recompute
    val cdeg = capped.groupBy(col("src")).agg(count(lit(1)).as("cdeg"))
    val edgesDeg = capped.join(cdeg, "src")
    // unlike q133's symmetric graph, capping can leave a vertex with
    // ZERO in-edges (every neighbor subsampled it away) — iterate over
    // the full vertex set with a left join so such a vertex keeps its
    // teleport-only rank instead of silently dropping out
    val verts = deg.select(col("src").as("doc_id"))
    var ranks = verts.withColumn("pr", lit(1.0 / n))
    for (_ <- 1 to 3) {
      val contrib = edgesDeg.join(ranks, edgesDeg("src") === ranks("doc_id"))
        .select(col("dst"), (col("pr") / col("cdeg")).as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      val next = verts.join(contrib, verts("doc_id") === contrib("dst"), "left")
        .select(verts("doc_id"),
          (lit(0.15 / n) + lit(0.85) * coalesce(col("s"), lit(0.0))).as("pr"))
      // settle each round — q133's rule (plan-tree bloat otherwise)
      ranks = Caches.settle(next, maxRows = 1 << 20)
    }
    // rename before the double join: deg and cdeg share lineage (both
    // derive from edges) AND a column name — unaliased, the second
    // join's cdeg("src") is ambiguous against deg's src
    val cdegR = cdeg.select(col("src").as("csrc"), col("cdeg"))
    val out = ranks.join(deg, ranks("doc_id") === deg("src"))
      .join(cdegR, ranks("doc_id") === cdegR("csrc"))
      .select(col("doc_id"), col("deg").as("degree"),
        col("cdeg").as("capped_degree"), round(col("pr"), 6).as("pagerank"))
      .orderBy(col("doc_id"))
    // vertex-sized output; settle so the edge caches can be released
    // before returning (the nearDupPairs rule)
    val res = Caches.settle(out, maxRows = 1 << 20)
    capped.unpersist(); edges.unpersist(); deg.unpersist()
    res
  }
  private[queries] val q158Sql =
    s"""WITH $pairCtes,
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       |nv AS (SELECT count(*) AS n FROM deg),
       |ce AS (SELECT src, dst FROM (
       |         SELECT src, dst, row_number() OVER (PARTITION BY src
       |           ORDER BY md5(CAST(src AS VARCHAR) || '|' ||
       |                        CAST(dst AS VARCHAR)), dst) AS rn
       |         FROM edges) WHERE rn <= $q158Cap),
       |cdeg AS (SELECT src, count(*) AS cdeg FROM ce GROUP BY src),
       |ec AS (SELECT ce.*, cdeg.cdeg FROM ce JOIN cdeg USING (src)),
       |r0 AS (SELECT src AS doc_id, 1.0 / (SELECT n FROM nv) AS pr FROM deg),
       |c1 AS (SELECT e.dst AS doc_id, sum(r.pr / e.cdeg) AS s
       |       FROM ec e JOIN r0 r ON r.doc_id = e.src GROUP BY e.dst),
       |it1 AS (SELECT d.src AS doc_id, 0.15 / (SELECT n FROM nv) +
       |          0.85 * coalesce(c1.s, 0) AS pr
       |        FROM deg d LEFT JOIN c1 ON c1.doc_id = d.src),
       |c2 AS (SELECT e.dst AS doc_id, sum(r.pr / e.cdeg) AS s
       |       FROM ec e JOIN it1 r ON r.doc_id = e.src GROUP BY e.dst),
       |it2 AS (SELECT d.src AS doc_id, 0.15 / (SELECT n FROM nv) +
       |          0.85 * coalesce(c2.s, 0) AS pr
       |        FROM deg d LEFT JOIN c2 ON c2.doc_id = d.src),
       |c3 AS (SELECT e.dst AS doc_id, sum(r.pr / e.cdeg) AS s
       |       FROM ec e JOIN it2 r ON r.doc_id = e.src GROUP BY e.dst),
       |it3 AS (SELECT d.src AS doc_id, 0.15 / (SELECT n FROM nv) +
       |          0.85 * coalesce(c3.s, 0) AS pr
       |        FROM deg d LEFT JOIN c3 ON c3.doc_id = d.src)
       |SELECT r.doc_id, d.deg AS degree, c.cdeg AS capped_degree,
       |       round(r.pr, 6) AS pagerank
       |FROM it3 r JOIN deg d ON d.src = r.doc_id
       |           JOIN cdeg c ON c.src = r.doc_id
       |ORDER BY doc_id""".stripMargin


  // ----------------------------------------------------------------- q164
  /** Exact substring-dedup REMOVAL — the operator q73 was missing half
    * of (the carried r13/r14 ask): q73 DETECTS docs sharing verbatim
    * spans; this emits the CLEANED corpus with every cross-doc
    * duplicated span cut out of every occurrence — the Lee et al.
    * ("Deduplicating Training Data Makes Language Models Better",
    * ACL 2022) ExactSubstr rule, with the 50-token threshold scaled to
    * this corpus's 8-word gram width (q73's k). Same corpus as q73
    * (documents ∪ the fabricated verbatim re-publications, so real
    * shared spans exist at every sf).
    *
    * Mechanics: every 8-word gram hashes WITH its position (density 1 —
    * winnowing-style 1-in-4 selection detects but cannot delimit, so
    * removal hashes every gram); a gram is duplicated iff it occurs in
    * ≥ 2 DISTINCT docs — one window (min(doc_id) ≠ max(doc_id) over the
    * hash partition), no pair join, so unlike q73 no df-cap is needed:
    * cost is linear in grams regardless of how common a span is.
    * Duplicated gram starts become covered intervals [pos, pos+7],
    * gaps-and-islands-merged per doc (one window chain), and the
    * bounded island list joins back to the corpus where an IN-ROW
    * filter rebuilds the text from the uncovered positions — the
    * corpus text itself never shuffles. A doc that is one big copied
    * span (the fabricated excerpts) cleans to the empty string.
    *
    * Scale shape: the gram relation is O(corpus tokens) rows of
    * (16-byte hash, doc, pos) and shuffles ONCE (the dup window) —
    * the honest ExactSubstr cost (Lee et al. pay a corpus-order
    * suffix array); islands are O(duplicated grams) and the final
    * join is keyed on doc_id with the island side ≪ corpus by the
    * dedup premise (AQE broadcasts it when small). */
  private[queries] def q164(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val w0 = TextOps.words(col("text"))
    val excerpts = docs
      .where(pmod(col("doc_id"), lit(7)) === 0 && size(w0) >= 27)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat_ws(" ", slice(w0, 3, 25)).as("text"))
    val corpus = Tables.spread(docs.unionByName(excerpts))
    val w = TextOps.words(col("text"))
    val grams = corpus.where(size(w) >= 8)
      .select(col("doc_id"), explode(transform(sequence(lit(1), size(w) - 7),
        i => struct(i.as("pos"),
          md5(concat_ws(" ", slice(w, i, lit(8))).cast("binary")).as("h"))))
        .as("g"))
      .select(col("doc_id"), col("g.pos").as("pos"), col("g.h").as("h"))
    // cross-doc duplicated gram: distinct-doc count ≥ 2, spelled as ONE
    // window (min ≠ max over the hash partition) — no join, no cap
    val wDup = Window.partitionBy(col("h"))
    val starts = grams
      .withColumn("xdoc",
        min(col("doc_id")).over(wDup) =!= max(col("doc_id")).over(wDup))
      .where(col("xdoc"))
      .select(col("doc_id"), col("pos").as("s"), (col("pos") + 7).as("e"))
    // gaps-and-islands: merge overlapping/adjacent covered intervals
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("s"))
    val islands = starts
      .withColumn("pmax", max(col("e")).over(
        wDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("ni",
        when(col("pmax").isNull || col("s") > col("pmax") + 1, 1).otherwise(0))
      .withColumn("iid", sum(col("ni")).over(wDoc))
      .groupBy(col("doc_id"), col("iid"))
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("s"), col("e"))).as("isl"))
    val isl = coalesce(col("isl"),
      array().cast("array<struct<s:int,e:int>>"))
    // In-row rebuild from the GAP RANGES between islands, not a
    // per-token membership test: higher-order functions are
    // interpreted (CodegenFallback — the zorderWrite lesson), so the
    // iteration count must be per-RANGE (size(isl)+1 per doc, a
    // handful) with the token-volume work done by the native `slice`.
    // The per-token exists() spelling measured 23 s at sf1 on 2.5M
    // tokens; this is the same result — islands are disjoint and
    // sorted by construction, so the kept positions are exactly the
    // gaps (before the first island, between islands, after the last).
    val keptWords = flatten(transform(
      sequence(lit(0), size(isl)),
      j => {
        val start = when(j === 0, lit(1))
          .otherwise(element_at(isl, j).getField("e") + 1)
        val end = when(j === size(isl), size(w))
          .otherwise(element_at(isl, j + 1).getField("s") - 1)
        slice(w, start, greatest(end - start + 1, lit(0)))
      }))
    corpus.join(islands, Seq("doc_id"), "left")
      .select(col("doc_id"), size(w).as("n_tok"),
        (size(w) - size(keptWords)).as("n_removed"),
        concat_ws(" ", keptWords).as("cleaned_text"))
      .orderBy(col("doc_id"))
  }
  /** Oracle: the same dup rule + removal replayed over exploded token
    * positions (equivalent to the islands spelling by construction —
    * the islands are exactly the union of the covered position sets). */
  private[queries] val q164Sql =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 2000000, array_to_string(string_split(text, ' ')[3:27], ' ')
      |  FROM documents
      |  WHERE doc_id % 7 = 0 AND len(string_split(text, ' ')) >= 27),
      |w AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
      |g AS (SELECT doc_id, i AS pos, md5(array_to_string(w[i:i+7], ' ')) AS h
      |      FROM w, unnest(range(1, len(w) - 6)) AS t(i)),
      |x AS (SELECT doc_id, pos FROM g
      |      QUALIFY min(doc_id) OVER (PARTITION BY h)
      |           <> max(doc_id) OVER (PARTITION BY h)),
      |cov AS (SELECT DISTINCT doc_id, pos + d AS p
      |        FROM x, unnest(range(8)) AS t(d)),
      |tok AS (SELECT doc_id, i AS p, w[i] AS word
      |        FROM w, unnest(range(1, len(w) + 1)) AS t(i)),
      |kept AS (SELECT tok.doc_id, tok.p, tok.word FROM tok
      |         ANTI JOIN cov ON cov.doc_id = tok.doc_id AND cov.p = tok.p),
      |agg AS (SELECT doc_id, count(*) AS n_kept,
      |               string_agg(word, ' ' ORDER BY p) AS ct
      |        FROM kept GROUP BY doc_id)
      |SELECT w.doc_id, len(w.w) AS n_tok,
      |       len(w.w) - coalesce(agg.n_kept, 0) AS n_removed,
      |       coalesce(agg.ct, '') AS cleaned_text
      |FROM w LEFT JOIN agg ON agg.doc_id = w.doc_id
      |ORDER BY w.doc_id""".stripMargin
}
