package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import graft.ops.{ChangelogMerge, EventOps, GenTable, GraphIndex, InvertedIndex,
  IvfIndex, LshIndex, Par, PqIndex, SimHashIndex}

/** Streaming side of the reference pipeline as Structured Streaming
  * (reference EP1: run_toy_example.py:21-49 — an infinite loop of
  * per-record Lambda calls with Redis dedup at 278 ev/s, compacted every
  * 60 s). Spark-first recomposition:
  *
  *   records (Kinesis-mock JSON strings) → envelope decode → event-time ts
  *   → keyed dedup → enrichment → partitioned sink, 60 s trigger.
  *
  * Dedup modes (SURVEY.md §2 row 6):
  *  - PARITY: `dropDuplicates("event_uuid")` — unbounded state, exactly
  *    the reference's process-lifetime Redis set;
  *  - SCALE: `withWatermark + dropDuplicatesWithinWatermark` — bounded
  *    state, the 100 TB posture (pair with the RocksDB state store:
  *    `spark.sql.streaming.stateStore.providerClass=
  *    org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider`).
  */
object StreamingPipeline {

  /** Decode a stream (or batch) of Kinesis-mock record strings into staged
    * events: envelope fields + event-time `ts` + type/subtype/ISO
    * enrichment (toy_lambda_function.py:44-62).
    *
    * Corrupt records (decodeEnvelope degrades every malformed stage to
    * NULL) are quarantined HERE — without the filter a batch of garbage
    * would stage as null-field rows and, worse, all dedup to a single
    * null-key survivor. The reference's per-record lambda instead dies on
    * the first bad record. */
  def decodeRecords(records: DataFrame, recordCol: String = "record"): DataFrame = {
    val decoded = records
      .withColumn("event", EventOps.decodeEnvelope(col(recordCol)))
      .where(col("event").isNotNull && col("event.event_uuid").isNotNull)
      .select(col("event.*"))
      .withColumn("ts", timestamp_seconds(col("created_at")))
    EventOps.withEventTypeSubtype(decoded)
      .withColumn("created_datetime", EventOps.createdDatetime(col("created_at")))
  }

  /** Keyed exact dedup on the stream. `watermark=None` reproduces the
    * reference's unbounded Redis-set state; `Some("10 minutes")` bounds
    * state for production. First occurrence wins in both (micro-batch
    * arrival order, matching the reference's arrival-order Redis check). */
  def dedup(events: DataFrame, watermark: Option[String]): DataFrame =
    watermark match {
      case Some(delay) =>
        events.withWatermark("ts", delay)
          .dropDuplicatesWithinWatermark(Seq("event_uuid"))
      case None =>
        events.dropDuplicates(Seq("event_uuid"))
    }

  /** Full pipeline: records → decode → dedup. */
  def pipeline(records: DataFrame, watermark: Option[String] = Some("10 minutes")): DataFrame =
    dedup(decodeRecords(records), watermark)

  /** Full EP1 orchestration (reference: run_toy_example.py:21-49's
    * ∞ loop — ingest 60 s, then run the Glue batch): every micro-batch
    * appends to minute-partitioned staging NDJSON, then re-compacts
    * exactly the hours that batch touched into language-partitioned
    * parquet. `foreachBatch` + dynamic partition overwrite makes the
    * compaction idempotent per hour; the touched-hours collect is a
    * handful of tuples, not data.
    *
    * A micro-batch that carries data into one hour runs 3 Spark jobs:
    * (1) the touched-hours collect over the persisted batch, the only pass
    * of decode → dedup → state store; (2) the staging write, from the
    * cache; (3) the hour's compaction, one pass whose write also observes
    * its duplicate and written counts (each further touched hour adds one
    * job). An empty micro-batch runs job 1 only. Cost still open: job 3
    * re-reads the whole hour's staging, so rows read per micro-batch grow
    * with the hour's age. */
  def startIngestWithCompaction(records: org.apache.spark.sql.DataFrame,
      stagingDir: String, processedDir: String, checkpointDir: String,
      metrics: graft.pipeline.Metrics = new graft.pipeline.Metrics,
      watermark: Option[String] = Some("10 minutes"),
      trigger: Trigger = Trigger.ProcessingTime("60 seconds")): org.apache.spark.sql.streaming.StreamingQuery = {
    val staged = metrics.observed(graft.ops.EventOps.withTimePartitions(
      pipeline(records, watermark), col("ts")))
    staged.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.persist()
        try {
          // job 1: the one pass of decode → dedup → state store, filling
          // the cache on its way to the touched hours
          val hours = batch.select("year", "month", "day", "hour")
            .distinct().collect()
          // empty micro-batch: no hours, so nothing is staged or compacted
          // (the reference logs "No records" and skips,
          // toy_lambda_function.py:66-69)
          if (hours.nonEmpty) {
            batch.write.mode("append") // job 2, from the cache
              .partitionBy("year", "month", "day", "hour", "minute")
              .json(stagingDir)
            hours.foreach { h => // job 3 per touched hour
              graft.pipeline.BatchPipeline.compactHour(
                batch.sparkSession, stagingDir, processedDir,
                h.getString(0), h.getString(1), h.getString(2), h.getString(3),
                metrics)
            }
          }
        } finally batch.unpersist()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }

  /** The one index-ingest skeleton behind every `start*Ingest` below:
    * each data micro-batch runs `ingest(batch, batchId)`, idempotent in
    * `batchId` — foreachBatch is at-least-once, but every per-batch write
    * is keyed by the micro-batch id and REPLACES its own partitions, so a
    * batch re-delivered after a crash between its writes and the
    * checkpoint commit converges to the first attempt's state:
    * exactly-once ON STORAGE (the GenTable lifecycle for the six index
    * families; the changelog's own delta generations for
    * [[startChangelogIngest]]).
    *
    * `compactEvery = Some(n)` (n > 0) is the LAG-1 auto-fold: batch ids
    * n−1, 2n−1, … run `fold(spark, batchId)`, which folds all OLDER
    * generations and keeps the batch's own verbatim, so its crash-retry
    * still replaces exactly its partitions and probes the same rows; the
    * batchId-keyed trigger re-fires deterministically on retry, and
    * re-folding a folded index is a no-op. Live generations stay bounded
    * at ≤ n without an operator scheduling compactions. The fold runs
    * OUTSIDE the isEmpty guard: an empty micro-batch on the firing slot
    * must still fold, or the ≤ n bound silently slips by a full cycle.
    *
    * Consumer note for the result logs: a log directory holds parquet
    * footers only once some batch has emitted rows — until then
    * `spark.read.parquet` on it cannot infer a schema, so readers of a
    * possibly-empty log pass an explicit schema. */
  private def startBatchIngest(input: DataFrame, checkpointDir: String,
      trigger: Trigger, compactEvery: Option[Int])(
      ingest: (DataFrame, Long) => Unit)(
      fold: (SparkSession, Long) => Unit): StreamingQuery = {
    compactEvery.foreach(n =>
      require(n > 0, s"compactEvery must be positive, got $n"))
    input.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) ingest(batch, batchId)
        compactEvery.foreach { n =>
          if (batchId % n == n - 1) fold(batch.sparkSession, batchId)
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }

  /** Continuously-ingesting near-duplicate detection: each micro-batch of
    * documents probes the persisted LSH index (ops/LshIndex) against its
    * PRE-batch state, writes the discovered near-dup pairs to the
    * batch_id-partitioned `pairsDir` log, then appends the batch's
    * signatures/bands into the index so the next batch sees them
    * (LshIndex.probeAndAppendToLog). This is q62's incremental operator
    * under Structured Streaming — the actual 100 TB training-data loop:
    * each batch pays O(batch) probe cost (file-pruned index scans).
    * Delivery and `compactEvery` are [[startBatchIngest]]'s; the replay
    * spec is in LshIndexLifecycleSpec. */
  def startNearDupIngest(docs: DataFrame, indexPath: String, pairsDir: String,
      checkpointDir: String, cfg: LshIndex.Config = LshIndex.Config(),
      trigger: Trigger = Trigger.ProcessingTime("60 seconds"),
      compactEvery: Option[Int] = None): StreamingQuery =
    startBatchIngest(docs, checkpointDir, trigger, compactEvery) { (batch, b) =>
      LshIndex.probeAndAppendToLog(batch.sparkSession, indexPath, batch,
        pairsDir, cfg, batchId = b)
    } { (spark, b) => LshIndex.compact(spark, indexPath, keepBatch = Some(b)) }

  /** Continuously-ingesting SimHash near-dup detection — the
    * HAMMING-DISTANCE twin of [[startNearDupIngest]] (ops/SimHashIndex):
    * each micro-batch fingerprints in-row, probes only the band buckets
    * it touches against the PRE-batch index, logs its verified pairs and
    * appends its band rows. */
  def startSimHashIngest(docs: DataFrame, indexPath: String, pairsDir: String,
      checkpointDir: String, cfg: SimHashIndex.Config = SimHashIndex.Config(),
      trigger: Trigger = Trigger.ProcessingTime("60 seconds"),
      compactEvery: Option[Int] = None): StreamingQuery =
    startBatchIngest(docs, checkpointDir, trigger, compactEvery) { (batch, b) =>
      SimHashIndex.probeAndAppendToLog(batch.sparkSession, indexPath, batch,
        pairsDir, cfg, batchId = b)
    } { (spark, b) => SimHashIndex.compact(spark, indexPath, keepBatch = Some(b)) }

  /** Continuously-ingesting PERCEPTUAL near-dup detection — the
    * MULTIMODAL generalization of [[startSimHashIngest]]: each
    * micro-batch is first mapped through `fingerprint` — any
    * batch → (doc_id, sh BIGINT) stage, e.g. media decode →
    * MediaFingerprint.dhash63 — and the resulting 63-bit hashes ride
    * the SAME banded-Hamming index (ops/SimHashIndex with `hashCol`).
    * One index family, every comparative fingerprint. */
  def startFingerprintIngest(docs: DataFrame,
      fingerprint: DataFrame => DataFrame,
      indexPath: String, pairsDir: String, checkpointDir: String,
      cfg: SimHashIndex.Config = SimHashIndex.Config(),
      trigger: Trigger = Trigger.ProcessingTime("60 seconds"),
      compactEvery: Option[Int] = None): StreamingQuery =
    startBatchIngest(docs, checkpointDir, trigger, compactEvery) { (batch, b) =>
      SimHashIndex.probeAndAppendToLog(batch.sparkSession, indexPath,
        fingerprint(batch), pairsDir, cfg, batchId = b, hashCol = Some("sh"))
    } { (spark, b) => SimHashIndex.compact(spark, indexPath, keepBatch = Some(b)) }

  /** Continuously-ingesting IVF vector search — the VECTOR twin of
    * [[startNearDupIngest]]: each micro-batch of embeddings ANN-probes
    * the persisted cell-clustered corpus (ops/IvfIndex) in its PRE-batch
    * state — top-k cosine neighbors searched in `nprobe` cells only,
    * file-pruned by the clustered layout — logs the per-vector results
    * to `annDir`, then appends the batch into the corpus. The quantizer
    * stays FROZEN (`cents` — FAISS add-after-train); re-train + rebuild
    * is the offline path, not the ingest path. */
  def startVectorIngest(vectors: DataFrame, corpusPath: String, annDir: String,
      checkpointDir: String, cents: Seq[Seq[Float]], k: Int = 3, nprobe: Int = 2,
      trigger: Trigger = Trigger.ProcessingTime("60 seconds"),
      compactEvery: Option[Int] = None): StreamingQuery =
    startBatchIngest(vectors, checkpointDir, trigger, compactEvery) { (batch, b) =>
      IvfIndex.probeAndAppendToLog(batch.sparkSession, corpusPath, batch,
        annDir, cents, batchId = b, k = k, nprobe = nprobe)
    } { (spark, b) => IvfIndex.compactCorpus(spark, corpusPath, keepBatch = Some(b)) }

  /** Continuously-ingesting PQ vector search — the COMPRESSED-index twin
    * of [[startVectorIngest]] (q123–q126): each micro-batch ADC-probes
    * the persisted code table (ops/PqIndex) in its PRE-batch state — the
    * probe's true floats against every candidate's reconstruction — logs
    * the per-vector top-k to `annDir`, then PQ-ENCODES the batch map-side
    * off the frozen codebooks and appends its code ints. */
  def startPqIngest(vectors: DataFrame, codesPath: String, annDir: String,
      checkpointDir: String, base: Seq[Seq[Float]], k: Int = 3,
      trigger: Trigger = Trigger.ProcessingTime("60 seconds"),
      compactEvery: Option[Int] = None,
      prune: Option[(Seq[Seq[Float]], Int)] = None): StreamingQuery =
    startBatchIngest(vectors, checkpointDir, trigger, compactEvery) { (batch, b) =>
      PqIndex.probeAndAppendToLog(batch.sparkSession, codesPath, batch,
        annDir, base, batchId = b, k = k, prune = prune)
    } { (spark, b) => PqIndex.compact(spark, codesPath, keepBatch = Some(b)) }

  /** Continuously-ingesting GRAPH-ANN index — the proximity-graph twin
    * of [[startVectorIngest]] (q148/q163/q165): each micro-batch
    * beam-searches the persisted graph (ops/GraphIndex) in its PRE-batch
    * state, logs the per-vector results to `annDir`, then appends itself
    * — forward top-k edges plus reverse edges capped per receiving node.
    * The in-stream fold is VERBATIM (no degree re-prune — the kept
    * batch's retry must probe the exact pre-fold adjacency); the offline
    * re-prune is [[graft.ops.GraphIndex.compact]]'s keepBatch=None form. */
  def startGraphIngest(vectors: DataFrame, indexPath: String, annDir: String,
      checkpointDir: String, k: Int = 4, beamW: Int = 8, hops: Int = 2,
      revCap: Int = 4,
      trigger: Trigger = Trigger.ProcessingTime("60 seconds"),
      compactEvery: Option[Int] = None): StreamingQuery =
    startBatchIngest(vectors, checkpointDir, trigger, compactEvery) { (batch, b) =>
      GraphIndex.probeAndAppendToLog(batch.sparkSession, indexPath, batch,
        annDir, batchId = b, k = k, beamW = beamW, hops = hops, revCap = revCap)
    } { (spark, b) => GraphIndex.compact(spark, indexPath, keepBatch = Some(b)) }

  /** Continuously-ingesting BM25 inverted index — the TEXT-RETRIEVAL
    * twin of [[startNearDupIngest]] (ops/InvertedIndex): each
    * micro-batch of documents distills a short retrieval query per doc
    * (its top `queryTerms` terms), BM25-probes the persisted postings in
    * their PRE-batch state — partition-pruned to the probed terms' pk
    * directories — logs the per-doc top-k matches to `matchesDir`, then
    * appends the batch's postings and generation stats. */
  def startBm25Ingest(docs: DataFrame, indexPath: String, matchesDir: String,
      checkpointDir: String, k: Int = 3, queryTerms: Int = 2,
      trigger: Trigger = Trigger.ProcessingTime("60 seconds"),
      compactEvery: Option[Int] = None): StreamingQuery =
    startBatchIngest(docs, checkpointDir, trigger, compactEvery) { (batch, b) =>
      InvertedIndex.probeAndAppendToLog(batch.sparkSession, indexPath, batch,
        matchesDir, batchId = b, k = k, queryTerms = queryTerms)
    } { (spark, b) => InvertedIndex.compact(spark, indexPath, keepBatch = Some(b)) }

  /** Continuously-ingesting HYBRID retrieval — q181's BM25 ⊕ dense RRF
    * fusion IN-STREAM ([[hybridIngestBatch]] per micro-batch).
    * `compactEvery` folds BOTH indexes lag-1 in one firing: they live at
    * different paths under independent locks, so the two folds run in
    * ONE concurrent round. */
  def startHybridIngest(docs: DataFrame, bm25Path: String, ivfPath: String,
      cents: Seq[Seq[Float]], fusedDir: String, checkpointDir: String,
      sideK: Int = 10, fuseK: Int = 5, rrfC: Int = 60,
      queryTerms: Int = 2, nprobe: Int = 2,
      trigger: Trigger = Trigger.ProcessingTime("60 seconds"),
      compactEvery: Option[Int] = None): StreamingQuery =
    startBatchIngest(docs, checkpointDir, trigger, compactEvery) { (batch, b) =>
      hybridIngestBatch(batch, b, bm25Path, ivfPath, cents, fusedDir, sideK,
        fuseK, rrfC, queryTerms, nprobe)
    } { (spark, b) =>
      Par.all(
        () => InvertedIndex.compact(spark, bm25Path, keepBatch = Some(b)),
        () => IvfIndex.compactCorpus(spark, ivfPath, keepBatch = Some(b)))
    }

  /** One micro-batch of the hybrid ingest, idempotent in `batchId`: each
    * doc (doc_id, text, embedding) probes BOTH indexes in their PRE-batch
    * state — the sparse leg distills its top `queryTerms` terms and ranks
    * the pk-pruned postings ([[graft.ops.InvertedIndex.probeAndAppend]],
    * impact-cap included), the dense leg searches its `nprobe` nearest
    * cells ([[graft.ops.IvfIndex.probeAndAppend]]) — and the two top-`sideK`
    * rank lists fuse per (probe, match) by reciprocal-rank fusion
    * (score = Σ 1/(rrfC + rank), a leg contributing only where the doc
    * made its list; rank-only integer arithmetic → bit-stable). The fused
    * top-`fuseK` replaces the batch's partition of the `fusedDir` log;
    * the batch appends to BOTH indexes. The two legs run CONCURRENTLY
    * (different index paths, independent locks), each already
    * overlapping its own probe with its generation appends. */
  def hybridIngestBatch(batch: DataFrame, batchId: Long, bm25Path: String,
      ivfPath: String, cents: Seq[Seq[Float]], fusedDir: String,
      sideK: Int = 10, fuseK: Int = 5, rrfC: Int = 60,
      queryTerms: Int = 2, nprobe: Int = 2): Unit = {
    import org.apache.spark.sql.expressions.Window
    val spark = batch.sparkSession
    val cached = batch.persist()
    try {
      var bm: DataFrame = spark.emptyDataFrame
      var dn: DataFrame = spark.emptyDataFrame
      Par.all(
        () => bm = InvertedIndex.probeAndAppend(spark, bm25Path,
          cached.select(col("doc_id"), col("text")), batchId = Some(batchId),
          k = sideK, queryTerms = queryTerms),
        () => dn = IvfIndex.probeAndAppend(spark, ivfPath,
          cached.select(col("doc_id").as("vec_id"), col("embedding")),
          cents, batchId = Some(batchId), k = sideK, nprobe = nprobe))
      val bmr = bm.select(col("probe_id"), col("match_id"),
        col("rn").as("brn"))
      val dnr = dn.select(col("probe_id"),
        col("neighbor_id").as("match_id"), col("rn").as("drn"))
      val wf = Window.partitionBy(col("probe_id"))
        .orderBy(col("rrf").desc, col("match_id"))
      val fused = bmr.join(dnr, Seq("probe_id", "match_id"), "full_outer")
        .withColumn("rrf",
          coalesce(lit(1.0) / (col("brn") + rrfC), lit(0.0)) +
            coalesce(lit(1.0) / (col("drn") + rrfC), lit(0.0)))
        .withColumn("frn", row_number().over(wf)).where(col("frn") <= fuseK)
        .select(col("probe_id"), col("frn"), col("match_id"),
          round(col("rrf"), 6).as("rrf_r"),
          coalesce(col("brn"), lit(0)).as("bm25_rn"),
          coalesce(col("drn"), lit(0)).as("dense_rn"))
      GenTable.writeBatchLog(fused, batchId, fusedDir)
    } finally { cached.unpersist(); () }
  }

  /** Continuously-ingesting CDC changelog merge — the streaming form of
    * [[graft.ops.ChangelogMerge]] (the lakehouse merge-on-read shape):
    * each micro-batch of changelog rows (key, payload…, cl_seq, cl_op)
    * lands as its own delta GENERATION (`delta/gen=batchId`, dynamic
    * partition overwrite — a retried batch replaces exactly its own
    * generation, the same exactly-once-on-storage contract as the index
    * ingests), so the micro-batch itself costs O(batch): the snapshot
    * is never rewritten per trigger. Readers get the merged view via
    * `ChangelogMerge.readMerged` (one window over base ∪ live deltas);
    * `compactEvery` folds completed generations lag-1 (the own
    * generation stays replayable), keeping the live-delta count — and
    * the read amplification — bounded at ≤ n generations. The stream's
    * state store is EMPTY: the table on storage is the state, which is
    * what makes the merge restartable and horizontally scalable. */
  def startChangelogIngest(changelog: DataFrame, tablePath: String,
      checkpointDir: String, key: Seq[String],
      trigger: Trigger = Trigger.ProcessingTime("60 seconds"),
      compactEvery: Option[Int] = None): StreamingQuery =
    startBatchIngest(changelog, checkpointDir, trigger, compactEvery) { (batch, b) =>
      ChangelogMerge.appendDelta(batch, tablePath, b)
    } { (spark, b) =>
      // lag-1: fold only generations strictly OLDER than this batch
      if (b > 0) ChangelogMerge.compact(spark, tablePath, key, uptoGen = b - 1)
    }

  /** Partitioned streaming file sink with the reference's 60 s cadence
    * (run_toy_example.py:25). Time partitions derive from EVENT time; the
    * reference's processing-time partitioning (toy_lambda_function.py:9-19)
    * would put late events in wrong partitions silently. */
  def sink(events: DataFrame, outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("60 seconds")): DataStreamWriter[Row] = {
    EventOps.withTimePartitions(events, col("ts"))
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .partitionBy("year", "month", "day", "hour")
      .trigger(trigger)
  }
}
