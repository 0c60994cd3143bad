package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorOps

/** Persisted PRODUCT-QUANTIZATION code table — the storage/lifecycle
  * half of the PQ ANN family (the query half is q123–q126): the corpus
  * lives as `M` sub-space code bytes per vector instead of the raw
  * floats (64× compression at the default 64-dim/4-subspace/16-centroid
  * geometry — the property that lets a 100 TB corpus's search structure
  * stay RAM-resident, Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011), and a probe scores candidates
  * ASYMMETRICALLY: true probe vector vs the candidate's reconstruction.
  *
  * Same storage contract as [[IvfIndex]]'s corpus: generation-partitioned
  * parquet under the GenTable lifecycle (exactly-once batch appends,
  * own-generation hiding, lag-1 folds; no takedown log). Codebooks are
  * FROZEN plan-time literals (FAISS add-after-train): encoding is a pure
  * map-side pass — zero shuffle, no codebook table anywhere in the plan.
  *
  * The probe here is FLAT ADC (every stored code scored — the
  * RAM-resident regime where the linear scan of 4-byte codes is the
  * point); the cell-pruned IVFPQ composition is q124's shape and slots
  * in by carrying [[IvfIndex.cellOf]] next to the codes. */
object PqIndex {

  /** Default geometry: 4 subspaces × 16 dims × 16 centroids (64-dim
    * vectors, 16 total codebook rows — one code byte per subspace). */
  val M = 4
  val DSUB = 16
  val K = 16

  /** Null-cell precondition cache: table path → the GENERATION LISTING
    * (GenTable.genNames) under which the check last passed. The pruned
    * probe's guard is a corpus-column scan job; its answer only changes
    * when the table's generations change, so a probe re-pays the scan
    * only when the listing differs from the validated one (one FS
    * metadata glob per batch instead of a data pass — r14 advice), and
    * the writer pre-marks its own cell-carrying appends valid. An
    * out-of-band append (e.g. a cell-less or null-cell generation
    * written by another tool) changes the listing and forces a fresh
    * check. */
  private val cellValidated =
    new java.util.concurrent.ConcurrentHashMap[String, Set[String]]()

  /** Centroid `k`'s sub-vector for subspace `m`, as a plan literal. */
  def centLit(base: Seq[Seq[Float]], m: Int, k: Int): Column =
    array(base(k).slice(m * DSUB, (m + 1) * DSUB).map(lit): _*)

  private def subVec(e: Column, m: Int): Column = slice(e, m * DSUB + 1, DSUB)

  /** Subspace `m`'s code for an embedding column: argmin centroid by
    * squared L2, ties to the LOWER code id (`array_min` on (dist, k)
    * structs compares dist first, then k — the pinned oracle rule). */
  def codeOf(e: Column, base: Seq[Seq[Float]], m: Int): Column =
    array_min(array((0 until K).map(k =>
      struct(VectorOps.l2Sq(subVec(e, m), centLit(base, m, k)).as("d"),
        lit(k).as("k"))): _*)).getField("k")

  /** Reconstruction (concatenated codebook centroids) from stored code
    * columns `codeCol(0..M-1)` — a when-chain per subspace, all
    * literals, so candidates rebuild map-side with zero joins. */
  def reconOf(codeCol: Int => Column, base: Seq[Seq[Float]]): Column =
    concat((0 until M).map { m =>
      (1 until K).foldLeft(centLit(base, m, 0)) { (acc, k) =>
        when(codeCol(m) === k, centLit(base, m, k)).otherwise(acc)
      }
    }: _*)

  /** PQ-encode: (id, c0..c{M-1}) map-side off the literal codebooks.
    * With `cellCents` set, a coarse `cell` column rides along
    * ([[IvfIndex.cellOf]] on the full vector) — the IVFPQ composition:
    * the cell prunes the probe's scan, the codes rank the survivors. */
  def encode(vectors: DataFrame, base: Seq[Seq[Float]],
      id: String = "vec_id", vec: String = "embedding",
      cellCents: Option[Seq[Seq[Float]]] = None): DataFrame =
    vectors.select(col(id).as("vec_id") +:
      ((0 until M).map(m => codeOf(col(vec), base, m).as(s"c$m")) ++
        cellCents.map(c => IvfIndex.cellOf(col(vec), c).as("cell")).toSeq): _*)

  /** How a rewrite of the code table spreads: tables carrying a `cell`
    * column are cell-CLUSTERED within each generation (the IvfIndex
    * corpus layout) so parquet min/max stats on `cell` are tight per row
    * group and per file: a pruned probe's pushed `cell IN (touched)`
    * filter skips every non-matching row group, reducing an untouched
    * file to a footer read — the data-bytes-scale-with-touched-cells
    * property the IVFPQ probe relies on. (Spark's file LISTING is pruned
    * only by hive-partition columns — `gen` here; within a generation the
    * stats do the skipping.) Cell-less tables keep the plain round-robin
    * spread (flat ADC scans read everything anyway).
    *
    * WHO clusters is the LSM split (the r14 q138 lesson): the base build
    * and the fold cluster (they are the offline, amortized rewrites),
    * but a per-batch streaming APPEND does NOT — it spreads round-robin:
    * the range shuffle's sampling pass + sort per micro-batch made the
    * ingest pay at write time, on every batch, what probes save at read
    * time (q138 sf1 regressed 34.6 → 44.7 s from exactly that). Probes
    * row-group-prune the folded generations and scan the small unfolded
    * batch tail flat — `cell IN (touched)` still row-filters the tail, it
    * just reads its few small files whole, which is
    * O(batches-since-fold), bounded by the compactEvery cadence. */
  private def clustered(codes: DataFrame, files: Int): GenTable.Spread =
    if (codes.columns.contains("cell")) GenTable.Spread.Range(files, col("cell"))
    else GenTable.Spread.RoundRobin(files)

  /** Build the persisted code table (`gen=base`) under frozen codebooks
    * — the train+add half. One map-side encode, one narrow write. */
  def buildCodes(vectors: DataFrame, path: String, base: Seq[Seq[Float]],
      files: Int = 4, id: String = "vec_id", vec: String = "embedding",
      cellCents: Option[Seq[Seq[Float]]] = None): Unit = {
    val codes = graft.sources.Tables.spread(encode(vectors, base, id, vec, cellCents))
    GenTable.build(codes, path, clustered(codes, files))
  }

  /** One ingest batch against the persisted code table: ADC-probe the
    * PRE-batch state for each batch vector's top-`k` neighbors (probe's
    * TRUE floats vs each candidate's code-table reconstruction — the
    * asymmetric distance), then append the batch's own codes into its
    * generation. Returns (probe_id, rn, neighbor_id, adc_dist),
    * materialized BEFORE the append so the result cannot lazily observe
    * the post-append table.
    *
    * Scale shape: the corpus side never shuffles and never carries
    * floats — only the 4 code ints ride the scan, reconstruction is a
    * literal when-chain, the batch broadcasts onto it; the only
    * corpus-sized movement is the top-k window on (probe, adc). The
    * `batchId` delivery contract is GenTable's. */
  /** `prune = Some((cellCents, nprobe))` turns the flat ADC scan into
    * the IVFPQ probe: the table must have been built/appended with the
    * same `cellCents` (cells ride next to the codes), each probe scores
    * only its `nprobe` nearest cells, and the scan prunes to those
    * cells BEFORE any reconstruction — the composition that keeps the
    * per-batch probe sublinear in the corpus (a flat ADC stream ingest
    * is probes × corpus and measured 33×/decade at the sf1 sweep;
    * pruning restores the ≤ nprobe/K fraction). The scan prunes at two
    * levels: the batch's DISTINCT probed cells (a bounded ≤ K-int
    * collect, IvfIndex's pattern) push into the parquet scan as
    * `cell IN (touched)` — row-group pruning against the
    * cell-clustered layout ([[clustered]]) — and each surviving (probe, candidate)
    * pair still checks `array_contains(pcells, cell)`, so the pair
    * enumeration is probes × touched-cell rows, never probes ×
    * corpus. */
  def probeAndAppend(spark: SparkSession, path: String, batch: DataFrame,
      base: Seq[Seq[Float]], batchId: Option[Long], k: Int = 3,
      files: Int = 2, id: String = "vec_id",
      vec: String = "embedding",
      prune: Option[(Seq[Seq[Float]], Int)] = None): DataFrame =
    probeAppendCore(spark, path, batch, base, batchId, k, files, id, vec,
      prune, Caches.settle(_, 1 << 22))

  /** [[probeAndAppend]] with the ANN rows written DIRECTLY into the
    * `batch_id`-partitioned log (GenTable.toBatchLog) — one job per
    * micro-batch instead of localize + write. */
  def probeAndAppendToLog(spark: SparkSession, path: String,
      batch: DataFrame, annDir: String, base: Seq[Seq[Float]],
      batchId: Long, k: Int = 3, files: Int = 2, id: String = "vec_id",
      vec: String = "embedding",
      prune: Option[(Seq[Seq[Float]], Int)] = None): Unit = {
    probeAppendCore(spark, path, batch, base, Some(batchId), k, files, id,
      vec, prune, GenTable.toBatchLog(batchId, annDir))
    ()
  }

  /** Shared probe/append body: `materialize` runs the one action that
    * freezes the ANN result, ordered by GenTable.probeThenAppend. */
  private def probeAppendCore(spark: SparkSession, path: String,
      batch: DataFrame, base: Seq[Seq[Float]], batchId: Option[Long],
      k: Int, files: Int, id: String, vec: String,
      prune: Option[(Seq[Seq[Float]], Int)],
      materialize: DataFrame => DataFrame): DataFrame = IndexLock.withWriter(path) {
    import org.apache.spark.sql.expressions.Window
    // one evaluation of the batch plan + one K-centroid pass per
    // subspace, shared by the probe broadcast and the append
    val coded = batch
      .select(col(id).as("vec_id") +: col(vec).as("embedding") +:
        ((0 until M).map(m => codeOf(col(vec), base, m).as(s"c$m")) ++
          prune.map { case (cents, _) =>
            IvfIndex.cellOf(col(vec), cents).as("cell")
          }.toSeq): _*)
      .persist()
    try {
      val probes = coded.select(col("vec_id").as("probe_id") +:
        col("embedding").as("probe") +:
        prune.map { case (cents, np) =>
          IvfIndex.topCellsOf(col("embedding"), cents, np).as("pcells")
        }.toSeq: _*)
      val corpusRaw = GenTable.visible(spark, path, batchId.map(GenTable.batchGen))
      prune.foreach { _ =>
        require(corpusRaw.columns.contains("cell"),
          s"$path: pruned probe needs a cell column — build the code " +
            "table with the same cellCents")
        // generations appended BEFORE pruning was enabled carry null
        // cells; array_contains(pcells, null) is null → silently
        // filtered, a quiet recall hole on every probe. Fail loudly
        // instead: the fix is a one-time re-code (compact with cells).
        // Validated once per GENERATION LISTING, not per probe batch
        // (r14 advice): the scan job re-runs only when the table's
        // generations changed since the last clean check — the writer's
        // own appends below re-mark the new listing valid for free, so
        // a streaming ingest pays the scan once, not per micro-batch.
        val gens = GenTable.genNames(spark, path, nested = false)
        if (!Option(cellValidated.get(path)).contains(gens)) {
          val nullCells = corpusRaw.where(col("cell").isNull).limit(1).count()
          require(nullCells == 0L,
            s"$path: pruned probe found generations with null cell — " +
              "re-code the table with cellCents before pruned probes " +
              "(null cells would be silently dropped from every probe)")
          cellValidated.put(path, gens); ()
        }
      }
      // bounded collect (≤ K cell ids): the batch's distinct probed
      // cells, pushed into the parquet scan as `cell IN (touched)` —
      // with the folds' cell-clustered layout this prunes at row-group
      // level, so the pair enumeration below runs over probes ×
      // (touched-cell rows), not probes × corpus (IvfIndex's shape)
      val corpusScan = prune.fold(corpusRaw) { _ =>
        val touched = probes.select(explode(col("pcells")).as("c"))
          .distinct().collect().map(_.getInt(0)).toSeq
        corpusRaw.where(col("cell").isin(touched: _*))
      }
      val corpus = corpusScan
        .withColumn("recon", reconOf(m => col(s"c$m"), base))
      val cand = corpus.crossJoin(broadcast(probes))
        .where(col("vec_id") =!= col("probe_id") &&
          prune.fold(lit(true))(_ =>
            array_contains(col("pcells"), col("cell"))))
        .withColumn("adc", VectorOps.l2Sq(col("probe"), col("recon")))
      val w = Window.partitionBy(col("probe_id"))
        .orderBy(col("adc"), col("vec_id"))
      val ann = cand.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
        .select(col("probe_id"), col("rn"), col("vec_id").as("neighbor_id"),
          round(col("adc"), 4).as("adc_dist"))
      // k rows per batch vector — bounded
      // UNCLUSTERED append (LSM write path): the per-batch delta skips
      // the range-shuffle + sort — compact() restores the clustered
      // layout for the accumulated generations (see clustered).
      val result = GenTable.probeThenAppend(batchId, () => materialize(ann),
        (coded.drop("embedding"), path, GenTable.Spread.RoundRobin(files)))
      // this append carries cells whenever pruning is configured — mark
      // the post-append listing valid so the next batch skips the scan
      prune.foreach(_ =>
        cellValidated.put(path, GenTable.genNames(spark, path, nested = false)))
      result
    } finally coded.unpersist()
  }

  /** Fold accumulated generations back into one tight `gen=base` table
    * — the GenTable.fold lifecycle with no tombstone log (the code table
    * takes no takedowns), including the `keepBatch` lag-1 in-stream form.
    * The fold is WHERE clustering happens (the LSM pattern): one write
    * lands the folded base and the kept generation, both cell-clustered
    * ([[clustered]]). The code table carries no text/floats, so a rewrite
    * moves 4 ints per vector. */
  def compact(spark: SparkSession, path: String, files: Int = 4,
      keepBatch: Option[Long] = None): Unit =
    GenTable.fold(spark, path, keepBatch, tables = Seq(path -> false),
      swap = Seq(path), tombs = None) { f =>
      val all = spark.read.parquet(path)
      f.write(all, f.staged(path), clustered(all, files))
    }
}
