package graft.ops

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted, incrementally-maintained MinHash+LSH near-duplicate index —
  * the continuously-ingesting form of the single-job `nearDupPairs` plan
  * (ExtQueries q20). One-shot LSH recomputes every signature on every
  * run: at 100 TB that is a full-corpus scan + md5 pass per ingest batch.
  * The index amortizes it: signatures and band rows are computed ONCE per
  * document, written to storage, and each ingest batch pays only
  *
  *   O(|batch| signatures) + O(index rows in touched buckets)
  *
  * — and "touched buckets" is enforced at the FILE level, not just the
  * row level: both index tables are hive-partitioned on a hash bucket of
  * their lookup key, and each probe derives a partition predicate from
  * the batch, so the parquet scan lists and reads only the touched
  * bucket directories. Scan cost per batch is proportional to the batch,
  * not to the index.
  *
  * Storage layout (`<path>/bands`, `<path>/sigs`):
  *   - `bands` (band, key, doc_id), hive-partitioned on
  *     `pk = hash(band, key) mod indexPartitions` and range-clustered on
  *     (band, key) within partitions. The probe collects the batch's
  *     distinct pk values (bounded by `indexPartitions`, never by batch
  *     size) into a partition `IN` predicate — file-level pruning — and
  *     keeps a broadcast row-level semi join on (band, key) for
  *     exactness within the touched directories.
  *   - `sigs` (doc_id, sh), hive-partitioned on its own
  *     `pk = hash(doc_id) mod indexPartitions` and clustered on doc_id:
  *     exact-jaccard verification derives the candidate docs' ps values
  *     the same way (the candidate list is already localized), so set
  *     fetches read only the touched sig directories. This matters even
  *     more than the bands pruning: sigs hold the full per-doc shingle
  *     sets and are corpus-sized, where bands are ~1-2% of the corpus.
  *
  * Probe semantics match the one-shot operator exactly: the hot-bucket
  * cap (TextOps.capHotBuckets) counts the FULL combined bucket (index +
  * batch members) — partition + semi-join pruning keeps every member of
  * a touched bucket, so a bucket that crosses the cap only after the
  * batch lands is dropped just as a full recompute would drop it.
  * New-vs-new pairs inside the batch are found in the same pass as
  * new-vs-old — the batch's own band rows ride the combined table.
  *
  * Generations, retries, takedowns and folds are the GenTable
  * lifecycle: `probeAndAppend` appends the batch's bands/sigs as its own
  * generation (the hidden one, so a retry probes the identical pre-batch
  * state — hot-bucket-cap counts included), [[markDeleted]] tombstones
  * docs, [[compact]] folds. Appends land in the same pk hash-bucket
  * directories, so file-level pruning keeps working as the index grows.
  */
object LshIndex {

  import org.apache.hadoop.fs.{Path => HPath}

  case class Config(
      shingleN: Int = 2, k: Int = 8, r: Int = 2,
      jaccardThreshold: Double = 0.5,
      maxBucket: Option[Int] = Some(TextOps.DefaultMaxBucket),
      bandFiles: Int = 8, sigFiles: Int = 8,
      /** Hash-bucket count for the hive partitioning of both tables.
        * Bounds the per-probe partition-predicate size (the collect is
        * ≤ this many ints) and the directory fan-out. A LAYOUT property
        * of the on-disk index, not of the caller: build persists it (and
        * the file counts) in `_index_meta`, and every probe adopts the
        * persisted values — so [[sizedConfig]] can pick it per corpus
        * without probe callers knowing. At 100 TB raise it (or let
        * [[buildSized]] raise it) so a bucket directory stays a few GB. */
      indexPartitions: Int = 32)

  /** Layout sized to the corpus: one hash-bucket directory per ~2k docs,
    * floored at 4 (toy corpora should not pay a 32-directory fan-out) and
    * capped at 4096 (at 100 TB each directory is then a few GB — the
    * target row-group-pruning granularity). File counts scale with the
    * fan-out so write tasks stay parallel without exploding file counts. */
  def sizedConfig(nDocs: Long, base: Config = Config()): Config = {
    val p = math.min(4096L, math.max(4L, nDocs / 2000L)).toInt
    base.copy(indexPartitions = p,
      bandFiles = math.max(2, p / 4), sigFiles = math.max(2, p / 4))
  }

  private def bandsPath(path: String) = s"$path/bands"
  private def sigsPath(path: String) = s"$path/sigs"
  private def tombsPath(path: String) = s"$path/tombstones"
  private def metaPath(path: String) = new HPath(path, "_index_meta")

  /** The partition modulus and file counts are a LAYOUT contract between
    * build and probe: a probe under a different modulus derives the wrong
    * pk values and silently prunes the wrong directories. Build persists
    * the layout next to the tables; probes ADOPT the persisted values
    * (the caller's Config keeps only the signature/threshold knobs), so a
    * drifted default — or a [[buildSized]] layout the caller never saw —
    * cannot mis-prune. A missing meta file fails loudly. */
  private def writeMeta(spark: SparkSession, path: String, cfg: Config): Unit =
    GenTable.writeMeta(spark, metaPath(path), Seq(
      "indexPartitions" -> cfg.indexPartitions,
      "bandFiles" -> cfg.bandFiles, "sigFiles" -> cfg.sigFiles))

  /** cfg with the persisted on-disk layout folded in. */
  private def adoptMeta(spark: SparkSession, path: String, cfg: Config): Config = {
    val kv = GenTable.readMeta(spark, metaPath(path))
    val m = kv.getOrElse("indexPartitions",
      throw new IllegalStateException(
        s"${metaPath(path)} has no indexPartitions entry — rebuild with LshIndex.build"))
    cfg.copy(indexPartitions = m,
      bandFiles = kv.getOrElse("bandFiles", cfg.bandFiles),
      sigFiles = kv.getOrElse("sigFiles", cfg.sigFiles))
  }

  /** Partition bucket of a bands row: hash of the full bucket key. */
  private def bandPk(cfg: Config): Column =
    pmod(xxhash64(col("band"), col("key")), lit(cfg.indexPartitions)).cast("int")

  /** Partition bucket of a sigs row / candidate doc id. */
  private def sigPs(cfg: Config, docId: Column): Column =
    pmod(xxhash64(docId), lit(cfg.indexPartitions)).cast("int")

  /** (doc_id, sh, m0..m(k-1)) — one row per doc, all map-side.
    * Shingle-less docs are dropped: they have no minima (null band keys)
    * and can never pair. The scan is spread first: the k·|shingles| md5
    * passes are the index's dominant compute, and an under-split input
    * (one fat row group) would serialize them onto one core —
    * Tables.spread is a no-op whenever the scan already has ≥
    * parallelism splits, i.e. always at production scale. */
  private def signatures(docs: DataFrame, cfg: Config,
      id: String, text: String): DataFrame =
    graft.sources.Tables.spread(docs)
      .select(col(id), TextOps.shingleSet(col(text), cfg.shingleN).as("sh"))
      .where(size(col("sh")) > 0)
      .select(col(id) +: col("sh") +:
        TextOps.minhashFromSet(col("sh"), cfg.k): _*)

  private def bandsOf(sig: DataFrame, cfg: Config, id: String): DataFrame =
    TextOps.lshBands(sig, id, cfg.k, cfg.r)
      .select(col("band"), col("key"), col(id).as("doc_id"))

  /** The bands table write (GenTable's bucketed layout, clustered on the
    * bucket key). Bucket size is governed by `indexPartitions`
    * ([[sizedConfig]] keeps a directory at a few GB), so the
    * one-task-per-bucket write is the scale-correct shape. */
  private def writeBands(bands: DataFrame, path: String, cfg: Config,
      mode: String, gen: String): Unit =
    GenTable.writePartitioned(bands.withColumn("__part", bandPk(cfg)),
      bandsPath(path), cfg.bandFiles, mode, gen, col("band"), col("key"))

  /** The sigs table write, bucketed and clustered on doc_id. */
  private def writeSigs(sig: DataFrame, path: String, cfg: Config, id: String,
      mode: String, gen: String): Unit =
    GenTable.writePartitioned(
      sig.select(col(id).as("doc_id"), col("sh"))
        .withColumn("__part", sigPs(cfg, col("doc_id"))),
      sigsPath(path), cfg.sigFiles, mode, gen, col("doc_id"))

  /** Build the index at `path` from a base corpus (full recompute — run
    * once; subsequent batches go through [[probeAndAppend]]). */
  def build(docs: DataFrame, path: String, cfg: Config = Config(),
      id: String = "doc_id", text: String = "text"): Unit = {
    val sig = signatures(docs, cfg, id, text).persist()
    try buildFromSig(sig, path, cfg, id) finally sig.unpersist()
  }

  /** The two table writes + meta, from an already-persisted signature
    * frame — shared by [[build]] and [[buildSized]]. */
  private def buildFromSig(sig: DataFrame, path: String, cfg: Config,
      id: String): Unit = {
    writeBands(bandsOf(sig, cfg, id), path, cfg, "overwrite", "base")
    writeSigs(sig, path, cfg, id, "overwrite", "base")
    writeMeta(sig.sparkSession, path, cfg)
  }

  /** [[build]] with the layout sized from the INDEXED doc count —
    * taken from the persisted signature frame's own count, so the
    * sizing pass and the signature compute are one job instead of a
    * separate corpus scan (r15), and shingle-less docs (which never
    * enter the index) don't inflate the layout. Returns the chosen
    * layout; probes need not see it (they adopt the persisted meta).
    * `sizedConfig` only sets LAYOUT fields, so signatures computed
    * under `base` are identical under the sized config. */
  def buildSized(docs: DataFrame, path: String, base: Config = Config(),
      id: String = "doc_id", text: String = "text"): Config = {
    val sig = signatures(docs, base, id, text).persist()
    try {
      val cfg = sizedConfig(sig.count(), base)
      buildFromSig(sig, path, cfg, id)
      cfg
    } finally sig.unpersist()
  }

  /** The probe's plans, exposed (package-private) so the plan-health spec
    * can pin the EXACT scan frames the probe uses: `bandScan`/`sigScan`
    * are the partition-pruned index reads, `pairs` the verified result. */
  private[graft] case class Probe(
      pairs: DataFrame, bandScan: DataFrame, sigScan: DataFrame,
      caches: Seq[DataFrame], pairsUnordered: DataFrame) {
    /** Unpersist every frame the probe cached. Call once the probe's
      * result frames are materialized (or abandoned) — probeAndAppend
      * does this in its finally; probePlan callers (the specs) must. */
    def release(): Unit = caches.foreach(_.unpersist())
  }

  /** The probe's verified-pair plan for an already-computed batch
    * signature frame — shared by [[probeAndAppend]] and the plan-pinning
    * specs (which assert the file-level pruning on the two index scans).
    * Returns the probe plans plus the batch band rows (for the append). */
  private def probePairs(spark: SparkSession, path: String, sig: DataFrame,
      rawCfg: Config, id: String, extraCaches: Seq[DataFrame],
      hiddenGen: Option[String] = None): (Probe, DataFrame, Config) = {
    val cfg = adoptMeta(spark, path, rawCfg)
    val caches = scala.collection.mutable.Buffer[DataFrame](extraCaches: _*)
    val newBandsPlan = bandsOf(sig, cfg, id)
    // Only buckets the batch touches can yield new pairs. The batch's
    // distinct pk values (≤ indexPartitions ints — bounded regardless of
    // batch size) become a partition predicate, so the bands scan LISTS
    // only touched directories; the broadcast semi join then keeps, row
    // level, every member of a touched bucket (so the hot-bucket count
    // below is the bucket's FULL size). The index side never shuffles.
    //
    // ONE bounded job instead of two (the r15 streaming-floor work: the
    // per-micro-batch cost is a stack of tiny jobs, so each removed job
    // is a direct cut): the batch's band rows — |batch| × k/r rows,
    // batch-sized by construction — localize WITH their pk, and the
    // touched-key broadcast list, the pk partition predicate AND the
    // union/append side all derive from the same driver-local rows. The
    // over-cap fallback keeps the original two-job spelling.
    val (newBands, touchedKeys, touchedPk) =
      Caches.localize(newBandsPlan.withColumn("pk", bandPk(cfg)),
        maxRows = 1 << 20) match {
        case Some(local) =>
          val rows = local.collect() // LocalRelation: driver-side, no job
          val schema = local.schema
          val (bi, ki, pi) = (schema.fieldIndex("band"),
            schema.fieldIndex("key"), schema.fieldIndex("pk"))
          val keyRows = rows.map(r =>
            org.apache.spark.sql.Row(r.get(bi), r.get(ki))).distinct.toSeq
          val tk = spark.createDataFrame(
            new java.util.ArrayList(keyRows.asJava),
            org.apache.spark.sql.types.StructType(
              Seq(schema("band"), schema("key"))))
          val pk = rows.map(_.getInt(pi)).distinct.map(Int.box).toSeq
          (local.drop("pk"), tk, pk)
        case None =>
          val tk = newBandsPlan.select(col("band"), col("key")).distinct()
          val pk = tk.select(bandPk(cfg).as("pk")).distinct()
            .collect().map(r => Int.box(r.getInt(0))).toSeq
          (newBandsPlan, tk, pk)
      }
    val indexBands = GenTable.hide(spark.read.parquet(bandsPath(path))
        .where(col("pk").isin(touchedPk: _*)), hiddenGen)
      .select(col("band"), col("key"), col("doc_id"))
      .join(broadcast(touchedKeys), Seq("band", "key"), "left_semi")
    val combined = indexBands.withColumn("is_new", lit(false))
      .unionByName(newBands.withColumn("is_new", lit(true)))
    val pruned = cfg.maxBucket match {
      case Some(m) =>
        TextOps.capHotBuckets(combined, Seq("band", "key"), m, "lsh_index_hot_buckets")
      case None => combined
    }
    val a = pruned.select(col("band"), col("key"),
      col("doc_id").as("doc_a"), col("is_new").as("na"))
    val b = pruned.select(col("band"), col("key"),
      col("doc_id").as("doc_b"), col("is_new").as("nb"))
    // The candidate plan carries each side's sigs partition bucket so ONE
    // materialization yields both the broadcast list and the sigs
    // partition predicate (formerly a second collect job per probe).
    val candPlan = a.join(b, Seq("band", "key"))
      .where(col("doc_a") < col("doc_b") && (col("na") || col("nb")))
      .select(col("doc_a"), col("doc_b"),
        sigPs(cfg, col("doc_a")).as("ps_a"), sigPs(cfg, col("doc_b")).as("ps_b"))
      .distinct()
    // Candidates are rare (capped buckets bound them) — localize so the
    // broadcast below ships a LocalRelation and the ps predicate comes
    // from the already-collected rows, job-free. The over-cap fallback
    // persists (released via Probe.release) and pays one extra ps job.
    val (cand, candPs) = Caches.localize(candPlan, maxRows = 1 << 20) match {
      case Some(local) =>
        val ps = local.collect() // LocalRelation: driver-side, no job
          .flatMap(r => Seq(r.getInt(2), r.getInt(3))).distinct.toSeq
        (local.select(col("doc_a"), col("doc_b")), ps.map(Int.box))
      case None =>
        val p = candPlan.persist(); p.count(); caches += p
        val ps = p.select(explode(array(col("ps_a"), col("ps_b"))).as("ps"))
          .distinct().collect().map(r => Int.box(r.getInt(0))).toSeq
        (p.select(col("doc_a"), col("doc_b")), ps)
    }
    // Exact verification: shingle sets come from the index for old docs,
    // from the in-memory batch for new ones. The candidate docs' ps
    // values (again ≤ indexPartitions ints) prune the sigs scan to the
    // touched directories — at 100 TB sigs are corpus-sized, so this is
    // the pruning that matters most.
    val indexSets = GenTable.hide(spark.read.parquet(sigsPath(path))
        .where(col("pk").isin(candPs: _*)), hiddenGen)
      .select(col("doc_id"), col("sh"))
    val sets = indexSets
      .unionByName(sig.select(col(id).as("doc_id"), col("sh")))
    val withSets = sets.select(col("doc_id").as("doc_a"), col("sh").as("sa"))
      .join(broadcast(cand), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sb")), "doc_b")
    val j = TextOps.jaccardFromSets(col("sa"), col("sb"))
    // Tombstoned docs are dead on arrival: their index rows survive until
    // the next compact, but no probe may emit a pair naming them. The
    // tombstone frame carries its size-bounded join hint (TombstoneLog:
    // broadcast while takedown-sized, shuffle-hash above the budget).
    val tombs = tombstones(spark, path)
    def dropTombstoned(df: DataFrame): DataFrame = tombs.fold(df) { t =>
      df.join(t, df("doc_a") === t("doc_id"), "left_anti")
        .join(t, df("doc_b") === t("doc_id"), "left_anti")
    }
    // unordered: the global (doc_a, doc_b) sort — a sampling job + range
    // exchange per probe — is applied only where row order is part of the
    // contract (Probe.pairs, the returning API); the streaming log sink
    // writes unordered and its consumers sort on read
    val pairs = dropTombstoned(withSets.where(j >= cfg.jaccardThreshold)
      .select(col("doc_a"), col("doc_b"), round(j, 4).as("jaccard")))
    (Probe(pairs.orderBy(col("doc_a"), col("doc_b")), indexBands, indexSets,
      caches.toSeq, pairsUnordered = pairs), newBands, cfg)
  }

  /** The tombstone log as a (doc_id) frame, or None when no doc was ever
    * deleted (the common case — probes then pay zero extra plan nodes). */
  private def tombstones(spark: SparkSession, path: String): Option[DataFrame] =
    TombstoneLog.readDir(spark, tombsPath(path), "doc_id")

  /** Probe-only entry point for the plan-health spec: returns the probe
    * plans WITHOUT appending, so the spec can execute them and pin the
    * two index scans' partition filters and scanned-file counts. The
    * batch signature frame is persisted (it feeds every returned frame
    * plus the probe's own actions) — callers release via
    * [[Probe.release]] once done executing the frames. */
  private[graft] def probePlan(spark: SparkSession, path: String,
      newDocs: DataFrame, cfg: Config = Config(), id: String = "doc_id",
      text: String = "text"): Probe = {
    val sig = signatures(newDocs, cfg, id, text).persist()
    probePairs(spark, path, sig, cfg, id, extraCaches = Seq(sig))._1
  }

  /** Probe the index with an ingest batch: returns the verified NEW
    * near-dup pairs (doc_a, doc_b, jaccard ≥ threshold; at least one side
    * from the batch; doc_a < doc_b), then appends the batch's bands and
    * shingle sets to the index so the next batch sees them.
    *
    * `batchId` selects the GenTable delivery contract: `Some(id)` is
    * exactly-once on storage (streaming callers MUST pass their
    * micro-batch id), `None` an ad-hoc at-least-once append.
    *
    * The returned pair list is localized (it is orders of magnitude
    * smaller than the batch) so no cache outlives the call; an over-cap
    * (> 2^20 pairs) result is eagerly localCheckpoint-ed instead —
    * frozen pre-append, outside the CacheManager, reclaimed with the
    * RDD by the context cleaner. */
  def probeAndAppend(spark: SparkSession, path: String, newDocs: DataFrame,
      cfg: Config = Config(), id: String = "doc_id",
      text: String = "text", batchId: Option[Long] = None): DataFrame =
    probeAppendCore(spark, path, newDocs, cfg, id, text, batchId,
      pairs => Caches.localize(pairs, maxRows = 1 << 20)
        .getOrElse(pairs.localCheckpoint()))

  /** [[probeAndAppend]] with the verified pairs written DIRECTLY into
    * the `batch_id`-partitioned pair log (GenTable.writeBatchLog) instead
    * of a driver-side localize followed by a second write job: the log
    * write IS the pre-append materialization — one job where the
    * streaming ingest paid two per micro-batch. This is the body
    * StreamingPipeline.startNearDupIngest runs per micro-batch. */
  def probeAndAppendToLog(spark: SparkSession, path: String,
      newDocs: DataFrame, pairsDir: String, cfg: Config = Config(),
      id: String = "doc_id", text: String = "text",
      batchId: Long = 0L): Unit = {
    probeAppendCore(spark, path, newDocs, cfg, id, text, Some(batchId),
      { pairs =>
        GenTable.writeBatchLog(pairs, batchId, pairsDir); spark.emptyDataFrame
      }, needOrdered = false)
    ()
  }

  /** Shared probe/append body: `materialize` runs the one action that
    * freezes the verified pairs (localize for the returning API, a direct
    * log write for the streaming form), ordered against the index
    * appends by GenTable.probeThenAppend. */
  private def probeAppendCore(spark: SparkSession, path: String,
      newDocs: DataFrame, cfg: Config, id: String, text: String,
      batchId: Option[Long],
      materialize: DataFrame => DataFrame,
      needOrdered: Boolean = true): DataFrame =
      IndexLock.withWriter(path) {
    val sig = signatures(newDocs, cfg, id, text).persist()
    var probeCaches: Seq[DataFrame] = Seq(sig)
    try {
      val (probe, newBands, layout) = probePairs(spark, path, sig, cfg, id,
        extraCaches = Seq(sig), hiddenGen = batchId.map(GenTable.batchGen))
      probeCaches = probe.caches
      val pairsOut = if (needOrdered) probe.pairs else probe.pairsUnordered
      // independent targets (bands vs sigs), shared input persisted
      // (sig) or driver-local (newBands) — appended concurrently
      GenTable.probeThenAppend(batchId, () => materialize(pairsOut), Seq(
        (mode, gen) => writeBands(newBands, path, layout, mode, gen),
        (mode, gen) => writeSigs(sig, path, layout, id, mode, gen)))
    } finally probeCaches.foreach(_.unpersist())
  }

  /** Tombstone `docIds`: the docs stay physically in the index until the
    * next [[compact]], but no subsequent probe emits a pair naming them.
    * The standard takedown shape for an append-only training corpus —
    * O(deletions) writes, no index rebuild, no rewrite on the hot path. */
  def markDeleted(spark: SparkSession, path: String, docIds: Seq[Long]): Unit =
    IndexLock.withWriter(path) {
      adoptMeta(spark, path, Config()) // loud failure on a non-index path
      TombstoneLog.append(spark, tombsPath(path), "doc_id", docIds)
    }

  /** Fold the index back to single-generation tightness (GenTable.fold:
    * tombstoned docs drop, `keepBatch` is the in-stream lag-1 form): one
    * fresh `gen=base` layout under the same persisted pk modulus, one
    * file per pk directory — the shape a fresh [[build]] produces — so
    * probes stop paying one extra file per past ingest batch. Run it at
    * whatever cadence keeps per-directory file counts bounded (e.g. the
    * ingest's `compactEvery`). Each table commits via Layout.swapInto
    * (rename-aside: a crash at any point is recovered by re-running
    * compact); out-of-band READERS of a mid-fold index may see a
    * transient path-not-found — see swapInto's scaladoc. */
  def compact(spark: SparkSession, path: String,
      keepBatch: Option[Long] = None): Unit = {
    val cfg = adoptMeta(spark, path, Config())
    GenTable.fold(spark, path, keepBatch,
      tables = Seq(bandsPath(path) -> true, sigsPath(path) -> true),
      heal = Seq(bandsPath(path), sigsPath(path)),
      tombs = Some(GenTable.Tombs(tombsPath(path), "doc_id", sigsPath(path)))) { f =>
      // ONE pass, one write per table: every surviving row maps to its
      // target generation in-row and GenTable.writeGens lands base + kept
      // in a single shuffle + write job; __part is recomputed rather than
      // trusting the read-back pk (identical by construction, but the
      // hash is the layout's source of truth)
      def rewrite(tablePath: String, files: Int, dataCols: Seq[String],
          part: Column, cluster: Column*): Unit = {
        val staged = s"$tablePath.compacting"
        Layout.healSwap(spark, staged, tablePath)
        val out = f.dropTombstoned(spark.read.parquet(tablePath))
          .select(dataCols.map(col) :+ f.target.as("__gen"): _*)
        GenTable.writeGens(out.withColumn("__part", part), staged, files, cluster: _*)
        Layout.swapInto(spark, staged, tablePath)
      }
      // independent targets: their fold jobs run concurrently
      Par.all(
        () => rewrite(bandsPath(path), cfg.bandFiles,
          Seq("band", "key", "doc_id"), bandPk(cfg), col("band"), col("key")),
        () => rewrite(sigsPath(path), cfg.sigFiles, Seq("doc_id", "sh"),
          sigPs(cfg, col("doc_id")), col("doc_id")))
    }
  }
}
