package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.Row
import graft.model.EventModel
import graft.ops.EventOps

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

  /** Continuously-ingesting near-duplicate detection: each micro-batch of
    * documents probes the persisted LSH index (ops/LshIndex) against its
    * PRE-batch state, appends the discovered near-dup pairs (tagged with
    * the micro-batch id) to `pairsDir`, then appends the batch's
    * signatures/bands into the index so the next batch sees them. This is
    * q62's incremental operator under Structured Streaming — the actual
    * 100 TB training-data loop: documents arrive continuously, each batch
    * pays O(batch) probe cost (file-pruned index scans), and the pair log
    * accumulates as a batch_id-partitioned parquet table.
    *
    * Delivery: foreachBatch is at-least-once, but every per-batch write
    * here is keyed by the micro-batch id and REPLACES its own partitions,
    * so a batch re-delivered after a crash between the index append and
    * the checkpoint commit converges to the first attempt's state —
    * exactly-once ON STORAGE. Two halves (both exercised by the replay
    * spec in LshIndexLifecycleSpec):
    *  - the index append lands in generation `b<batchId>` via dynamic
    *    partition overwrite, and the probe excludes its own generation,
    *    so the retry probes the identical pre-batch index and the index
    *    row counts are retry-stable (LshIndex.probeAndAppend);
    *  - the pair log is hive-partitioned on batch_id and written with
    *    dynamic partition overwrite, so the retry replaces its own log
    *    partition instead of appending duplicate pair rows.
    *
    * Consumer note: the log directory holds parquet footers only once
    * some batch has emitted rows — until then `spark.read.parquet` on it
    * cannot infer a schema. Consumers reading a possibly-empty log
    * should pass an explicit schema (or treat the inference failure as
    * an empty log). */
  def startNearDupIngest(docs: DataFrame, indexPath: String, pairsDir: String,
      checkpointDir: String, cfg: graft.ops.LshIndex.Config = graft.ops.LshIndex.Config(),
      trigger: Trigger = Trigger.ProcessingTime("60 seconds"),
      compactEvery: Option[Int] = None): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          nearDupIngestBatch(batch, batchId, indexPath, pairsDir, cfg)
        // Auto-compaction, LAG-1: every n-th batch folds all OLDER
        // generations into gen=base but rewrites its OWN generation
        // verbatim (keepBatch), so a crash-retry of this batch still
        // replaces exactly its partitions and probes the same rows —
        // the batchId-keyed trigger re-fires deterministically on
        // retry, and re-compacting an already-compacted index is a
        // no-op fold. File counts stay bounded at ≤ n generations
        // without an operator having to schedule compact() offline.
        // Evaluated OUTSIDE the isEmpty guard: an empty micro-batch
        // landing on the firing slot must still compact (folding an
        // unchanged index is cheap, and its nonexistent generation
        // makes keepBatch a no-op filter) or the documented ≤ n
        // generation bound silently slips by a full cycle.
        compactEvery.foreach { n =>
          if (n > 0 && batchId % n == (n - 1))
            graft.ops.LshIndex.compact(
              batch.sparkSession, indexPath, keepBatch = Some(batchId))
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** One micro-batch of the near-dup ingest, idempotent in `batchId` —
    * the exact body `startNearDupIngest` runs per trigger, exposed so the
    * replay spec (and any batch backfill driver) can re-deliver a batch
    * and assert convergence. */
  def nearDupIngestBatch(batch: DataFrame, batchId: Long, indexPath: String,
      pairsDir: String, cfg: graft.ops.LshIndex.Config = graft.ops.LshIndex.Config()): Unit =
    // sink form: the pair-log write IS the pre-append materialization —
    // one job per batch instead of localize + rewrite (r15 floor cut)
    graft.ops.LshIndex.probeAndAppendToLog(
      batch.sparkSession, indexPath, batch, pairsDir, cfg, batchId = batchId)

  /** Continuously-ingesting SimHash near-dup detection — the
    * HAMMING-DISTANCE twin of [[startNearDupIngest]] (ops/SimHashIndex):
    * each micro-batch fingerprints in-row, probes only the band buckets
    * it touches against the PRE-batch index, logs its verified pairs
    * (batch-tagged, dynamic-overwrite idempotent) and appends its band
    * rows into generation `b<batchId>`. Delivery and compaction
    * contracts are identical to the LSH ingest — same GenTable layout,
    * same lag-1 `compactEvery` policy (evaluated outside the isEmpty
    * guard, same as the other two ingests). */
  def startSimHashIngest(docs: DataFrame, indexPath: String, pairsDir: String,
      checkpointDir: String,
      cfg: graft.ops.SimHashIndex.Config = graft.ops.SimHashIndex.Config(),
      trigger: Trigger = Trigger.ProcessingTime("60 seconds"),
      compactEvery: Option[Int] = None): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          simHashIngestBatch(batch, batchId, indexPath, pairsDir, cfg)
        compactEvery.foreach { n =>
          if (n > 0 && batchId % n == (n - 1))
            graft.ops.SimHashIndex.compact(
              batch.sparkSession, indexPath, keepBatch = Some(batchId))
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** One micro-batch of the SimHash ingest, idempotent in `batchId` —
    * exposed like [[nearDupIngestBatch]] for replay specs and backfill. */
  def simHashIngestBatch(batch: DataFrame, batchId: Long, indexPath: String,
      pairsDir: String,
      cfg: graft.ops.SimHashIndex.Config = graft.ops.SimHashIndex.Config()): Unit =
    // sink form, like nearDupIngestBatch (one job instead of two)
    graft.ops.SimHashIndex.probeAndAppendToLog(
      batch.sparkSession, indexPath, batch, pairsDir, cfg, batchId = batchId)

  /** Continuously-ingesting PERCEPTUAL near-dup detection — the
    * MULTIMODAL generalization of [[startSimHashIngest]]: each
    * micro-batch is first mapped through `fingerprint` — any
    * batch → (doc_id, sh BIGINT) stage, e.g. media decode →
    * MediaFingerprint.dhash63 — and the resulting 63-bit hashes ride
    * the SAME banded-Hamming index (ops/SimHashIndex with
    * `hashCol`), the same generation-keyed exactly-once appends, the
    * same batch-tagged pair log and the same lag-1 `compactEvery`
    * policy. One index family, every comparative fingerprint. */
  def startFingerprintIngest(docs: DataFrame,
      fingerprint: DataFrame => DataFrame,
      indexPath: String, pairsDir: String, checkpointDir: String,
      cfg: graft.ops.SimHashIndex.Config = graft.ops.SimHashIndex.Config(),
      trigger: Trigger = Trigger.ProcessingTime("60 seconds"),
      compactEvery: Option[Int] = None): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          fingerprintIngestBatch(fingerprint(batch), batchId, indexPath,
            pairsDir, cfg)
        compactEvery.foreach { n =>
          if (n > 0 && batchId % n == (n - 1))
            graft.ops.SimHashIndex.compact(
              batch.sparkSession, indexPath, keepBatch = Some(batchId))
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** One micro-batch of the fingerprint ingest (`hashes` = (doc_id, sh)),
    * idempotent in `batchId` — exposed like [[simHashIngestBatch]]. */
  def fingerprintIngestBatch(hashes: DataFrame, batchId: Long,
      indexPath: String, pairsDir: String,
      cfg: graft.ops.SimHashIndex.Config = graft.ops.SimHashIndex.Config()): Unit =
    // sink form, like simHashIngestBatch (one job instead of two)
    graft.ops.SimHashIndex.probeAndAppendToLog(
      hashes.sparkSession, indexPath, hashes, pairsDir, cfg,
      batchId = batchId, hashCol = Some("sh"))

  /** Continuously-ingesting IVF vector search — the VECTOR twin of
    * [[startNearDupIngest]], completing the streaming story for the ANN
    * index family: each micro-batch of embeddings ANN-probes the
    * persisted cell-clustered corpus (ops/IvfIndex) in its PRE-batch
    * state — top-k cosine neighbors searched in `nprobe` cells only,
    * file-pruned by the clustered layout — logs the per-vector results
    * (tagged with the micro-batch id) to `annDir`, then appends the
    * batch into the corpus so the next batch can match against it. The
    * quantizer stays FROZEN (`cents` — FAISS add-after-train); re-train
    * + rebuild is the offline path, not the ingest path.
    *
    * Delivery mirrors the near-dup ingest exactly: the corpus append
    * lands in generation `b<batchId>` via dynamic partition overwrite
    * and the probe excludes its own generation, the ANN log is
    * batch_id-partitioned and replaced per batch — so a foreachBatch
    * retry converges to the first attempt's state on storage
    * (IvfIndexSpec replays a batch and pins stable counts). Same
    * consumer note as [[startNearDupIngest]]: the ANN log has no
    * parquet footers until a batch emits rows. */
  def startVectorIngest(vectors: DataFrame, corpusPath: String, annDir: String,
      checkpointDir: String, cents: Seq[Seq[Float]], k: Int = 3, nprobe: Int = 2,
      trigger: Trigger = Trigger.ProcessingTime("60 seconds"),
      compactEvery: Option[Int] = None): org.apache.spark.sql.streaming.StreamingQuery =
    vectors.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          vectorIngestBatch(batch, batchId, corpusPath, annDir, cents, k, nprobe)
        // same LAG-1 auto-compaction contract as startNearDupIngest —
        // and, like there, evaluated outside the isEmpty guard so an
        // empty batch on the firing slot can't defer the ≤ n bound
        compactEvery.foreach { n =>
          if (n > 0 && batchId % n == (n - 1))
            graft.ops.IvfIndex.compactCorpus(
              batch.sparkSession, corpusPath, keepBatch = Some(batchId))
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** One micro-batch of the vector ingest, idempotent in `batchId` —
    * exposed (like [[nearDupIngestBatch]]) so the replay spec and batch
    * backfill drivers can re-deliver a batch and assert convergence. */
  def vectorIngestBatch(batch: DataFrame, batchId: Long, corpusPath: String,
      annDir: String, cents: Seq[Seq[Float]], k: Int = 3, nprobe: Int = 2): Unit =
    // sink form, like nearDupIngestBatch (one job instead of two)
    graft.ops.IvfIndex.probeAndAppendToLog(
      batch.sparkSession, corpusPath, batch, annDir, cents,
      batchId = batchId, k = k, nprobe = nprobe)

  /** Continuously-ingesting PQ vector search — the COMPRESSED-index
    * twin of [[startVectorIngest]], completing the streaming story for
    * the PQ family (q123–q126): each micro-batch of embeddings
    * ADC-probes the persisted code table (ops/PqIndex) in its PRE-batch
    * state — the probe's true floats against every candidate's
    * code-table reconstruction — logs the per-vector top-k (tagged with
    * the micro-batch id) to `annDir`, then PQ-ENCODES the batch
    * map-side off the frozen codebooks and appends its 4 code ints per
    * vector into the table. The codebooks stay FROZEN (FAISS
    * add-after-train); re-train + re-encode is the offline path.
    *
    * Delivery mirrors the other ingests exactly: generation-keyed
    * appends via dynamic partition overwrite, own-generation exclusion
    * at probe time, batch_id-partitioned ANN log — a foreachBatch retry
    * converges on storage. `compactEvery` is the same lag-1 in-stream
    * compaction contract as [[startVectorIngest]]. */
  def startPqIngest(vectors: DataFrame, codesPath: String, annDir: String,
      checkpointDir: String, base: Seq[Seq[Float]], k: Int = 3,
      trigger: Trigger = Trigger.ProcessingTime("60 seconds"),
      compactEvery: Option[Int] = None,
      prune: Option[(Seq[Seq[Float]], Int)] = None): org.apache.spark.sql.streaming.StreamingQuery =
    vectors.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          pqIngestBatch(batch, batchId, codesPath, annDir, base, k, prune)
        // evaluated outside the isEmpty guard (the startVectorIngest rule)
        compactEvery.foreach { n =>
          if (n > 0 && batchId % n == (n - 1))
            graft.ops.PqIndex.compact(
              batch.sparkSession, codesPath, keepBatch = Some(batchId))
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** One micro-batch of the PQ ingest, idempotent in `batchId` —
    * exposed (like [[vectorIngestBatch]]) for replay specs and batch
    * backfill drivers. */
  def pqIngestBatch(batch: DataFrame, batchId: Long, codesPath: String,
      annDir: String, base: Seq[Seq[Float]], k: Int = 3,
      prune: Option[(Seq[Seq[Float]], Int)] = None): Unit =
    // sink form, like vectorIngestBatch (one job instead of two)
    graft.ops.PqIndex.probeAndAppendToLog(
      batch.sparkSession, codesPath, batch, annDir, base,
      batchId = batchId, k = k, prune = prune)

  /** Continuously-ingesting GRAPH-ANN index — the proximity-graph twin
    * of [[startVectorIngest]], completing the streaming story for the
    * graph family (q148/q163/q165): each micro-batch of embeddings
    * beam-searches the persisted graph (ops/GraphIndex) in its
    * PRE-batch state for every vector's top-k neighbors, logs the
    * per-vector results (tagged with the micro-batch id) to `annDir`,
    * then appends itself — forward top-k edges plus reverse edges
    * capped per receiving node — so the next batch traverses a graph
    * that includes it. Delivery mirrors the other ingests exactly:
    * generation-keyed appends via dynamic partition overwrite,
    * own-generation exclusion at probe time, batch_id-partitioned ANN
    * log — a foreachBatch retry converges on storage. `compactEvery`
    * is the lag-1 contract; the in-stream fold is VERBATIM (no degree
    * re-prune — the kept batch's retry must probe the exact
    * pre-compaction adjacency), the offline re-prune being
    * [[graft.ops.GraphIndex.compact]]'s keepBatch=None form. */
  def startGraphIngest(vectors: DataFrame, indexPath: String, annDir: String,
      checkpointDir: String, k: Int = 4, beamW: Int = 8, hops: Int = 2,
      revCap: Int = 4,
      trigger: Trigger = Trigger.ProcessingTime("60 seconds"),
      compactEvery: Option[Int] = None): org.apache.spark.sql.streaming.StreamingQuery =
    vectors.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          graphIngestBatch(batch, batchId, indexPath, annDir, k, beamW,
            hops, revCap)
        // evaluated outside the isEmpty guard (the startVectorIngest rule)
        compactEvery.foreach { n =>
          if (n > 0 && batchId % n == (n - 1))
            graft.ops.GraphIndex.compact(
              batch.sparkSession, indexPath, keepBatch = Some(batchId))
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** One micro-batch of the graph ingest, idempotent in `batchId` —
    * exposed (like [[vectorIngestBatch]]) for replay specs and batch
    * backfill drivers. */
  def graphIngestBatch(batch: DataFrame, batchId: Long, indexPath: String,
      annDir: String, k: Int = 4, beamW: Int = 8, hops: Int = 2,
      revCap: Int = 4): Unit =
    graft.ops.GraphIndex.probeAndAppendToLog(
      batch.sparkSession, indexPath, batch, annDir,
      batchId = batchId, k = k, beamW = beamW, hops = hops, revCap = revCap)

  /** Continuously-ingesting BM25 inverted index — the TEXT-RETRIEVAL
    * twin of [[startNearDupIngest]], completing the streaming story for
    * the inverted-index family (ops/InvertedIndex): each micro-batch of
    * documents distills a short retrieval query per doc (its top
    * `queryTerms` terms), BM25-probes the persisted postings in their
    * PRE-batch state — partition-pruned to the probed terms' pk
    * directories — logs the per-doc top-k matches (tagged with the
    * micro-batch id) to `matchesDir`, then appends the batch's postings
    * and generation stats so the next batch retrieves against it.
    * Delivery mirrors the other ingests exactly: generation-keyed
    * appends via dynamic partition overwrite, own-generation exclusion
    * at probe time, batch_id-partitioned match log. `compactEvery` is
    * the lag-1 in-stream compaction contract (evaluated outside the
    * isEmpty guard, same as the other ingests). */
  def startBm25Ingest(docs: DataFrame, indexPath: String, matchesDir: String,
      checkpointDir: String, k: Int = 3, queryTerms: Int = 2,
      trigger: Trigger = Trigger.ProcessingTime("60 seconds"),
      compactEvery: Option[Int] = None): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          bm25IngestBatch(batch, batchId, indexPath, matchesDir, k, queryTerms)
        // evaluated outside the isEmpty guard (the startVectorIngest rule)
        compactEvery.foreach { n =>
          if (n > 0 && batchId % n == (n - 1))
            graft.ops.InvertedIndex.compact(
              batch.sparkSession, indexPath, keepBatch = Some(batchId))
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** One micro-batch of the BM25 ingest, idempotent in `batchId` —
    * exposed (like [[nearDupIngestBatch]]) for replay specs and batch
    * backfill drivers. */
  def bm25IngestBatch(batch: DataFrame, batchId: Long, indexPath: String,
      matchesDir: String, k: Int = 3, queryTerms: Int = 2): Unit =
    graft.ops.InvertedIndex.probeAndAppendToLog(
      batch.sparkSession, indexPath, batch, matchesDir,
      batchId = batchId, k = k, queryTerms = queryTerms)

  /** Continuously-ingesting HYBRID retrieval — q181's BM25 ⊕ dense RRF
    * fusion IN-STREAM, completing the serving story both persisted
    * retrieval indexes exist for: each micro-batch of documents WITH
    * embeddings (doc_id, text, embedding) probes BOTH indexes in their
    * PRE-batch state — the sparse leg distills each doc's top
    * `queryTerms` terms and ranks the pk-pruned postings
    * ([[graft.ops.InvertedIndex.probeAndAppend]]'s probe, impact-cap
    * included), the dense leg searches its `nprobe` nearest cells of
    * the cell-clustered corpus ([[graft.ops.IvfIndex.probeAndAppend]]'s
    * probe) — fuses the two top-`sideK` rank lists per (probe, match)
    * with reciprocal-rank fusion (score = Σ 1/(rrfC + rank), a leg
    * contributing only where the doc made its list; rank-only integer
    * arithmetic → bit-stable), writes the fused top-`fuseK` to the
    * `batch_id`-partitioned `fusedDir` log, and appends the batch to
    * BOTH indexes. The two legs run CONCURRENTLY (different index
    * paths, independent locks), each already overlapping its own probe
    * with its generation appends. Delivery is the family contract:
    * generation-keyed appends via dynamic partition overwrite on both
    * indexes, own-generation exclusion at probe time, the fused log's
    * batch partition replaced on retry — exactly-once on storage with
    * an EMPTY state store. `compactEvery` folds BOTH indexes lag-1 in
    * one firing (evaluated outside the isEmpty guard, the
    * startVectorIngest rule). */
  def startHybridIngest(docs: DataFrame, bm25Path: String, ivfPath: String,
      cents: Seq[Seq[Float]], fusedDir: String, checkpointDir: String,
      sideK: Int = 10, fuseK: Int = 5, rrfC: Int = 60,
      queryTerms: Int = 2, nprobe: Int = 2,
      trigger: Trigger = Trigger.ProcessingTime("60 seconds"),
      compactEvery: Option[Int] = None): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          hybridIngestBatch(batch, batchId, bm25Path, ivfPath, cents,
            fusedDir, sideK, fuseK, rrfC, queryTerms, nprobe)
        // evaluated outside the isEmpty guard (the startVectorIngest rule)
        compactEvery.foreach { n =>
          if (n > 0 && batchId % n == (n - 1))
            // the two indexes live at different paths under independent
            // locks — fold them in ONE concurrent round, not two serial
            // rewrites (the Par rule the probe legs already follow)
            graft.ops.Par.all(
              () => graft.ops.InvertedIndex.compact(
                batch.sparkSession, bm25Path, keepBatch = Some(batchId)),
              () => graft.ops.IvfIndex.compactCorpus(
                batch.sparkSession, ivfPath, keepBatch = Some(batchId)))
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** One micro-batch of the hybrid ingest, idempotent in `batchId` —
    * both legs probed-and-appended concurrently, then the RRF fusion of
    * their materialized logs replaces the batch's fused-log partition. */
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
      graft.ops.Par.all(
        () => bm = graft.ops.InvertedIndex.probeAndAppend(spark, bm25Path,
          cached.select(col("doc_id"), col("text")), batchId = Some(batchId),
          k = sideK, queryTerms = queryTerms),
        () => dn = graft.ops.IvfIndex.probeAndAppend(spark, ivfPath,
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
      fused.withColumn("batch_id", lit(batchId))
        .write.partitionBy("batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").parquet(fusedDir)
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
      compactEvery: Option[Int] = None): org.apache.spark.sql.streaming.StreamingQuery =
    changelog.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          graft.ops.ChangelogMerge.appendDelta(batch, tablePath, batchId)
        // LAG-1 like the index ingests: fold generations strictly OLDER
        // than this batch so a crash-retry of this batch still replaces
        // exactly its own partitions. Evaluated outside the isEmpty
        // guard (an empty batch on the firing slot must still compact —
        // see startNearDupIngest).
        compactEvery.foreach { n =>
          if (n > 0 && batchId % n == (n - 1) && batchId > 0)
            graft.ops.ChangelogMerge.compact(
              batch.sparkSession, tablePath, key, uptoGen = batchId - 1)
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

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
