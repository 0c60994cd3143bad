package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF coarse quantizer — the production form of the declared
  * q54 (ExtQueries.scala), which derives its centroids from the corpus
  * inside the query. Real IVF trains centroids ONCE (k-means or, as in
  * the declared query's deterministic stand-in, a fixed sample), persists
  * them, and every subsequent ANN query reads them back: the corpus scan
  * never re-derives the quantizer, and the centroid table is tiny by
  * construction (K vectors — IVF's defining property is that the coarse
  * quantizer fits on the driver, which is what lets cell assignment ship
  * as literals in a map-side expression).
  *
  * Storage is one [[Layout.clusteredWrite]] parquet table
  * (centroid_id, embedding), clustered on centroid_id.
  */
object IvfIndex {

  /** Lloyd's k-means over an embedding column — the trainer that turns
    * the deterministic stand-in quantizer into a real one. Design for
    * scale, per iteration:
    *   - the K current centroids ship to every task as a LITERAL array
    *     (IVF's defining property: the coarse quantizer fits on the
    *     driver), so cell assignment is map-side — the corpus never
    *     shuffles for the join;
    *   - the element-wise mean per cell runs as posexplode →
    *     partial+final hash aggregate: the shuffle carries exactly
    *     K × dim partial rows per task, never corpus rows;
    *   - empty cells keep their previous centroid (the standard rule).
    * Assignment uses the ANN path's exact tie rule (cosine desc, ties
    * to the HIGHER centroid id) so a trained quantizer drops into
    * ivfAnn/annIvfPersisted unchanged; means are rounded back to float
    * (the embedding element type — and `CAST(.. AS REAL)` makes the
    * rounding oracle-reproducible). Seed = the first K vectors in id
    * order (deterministic; callers wanting k-means++ can pass their own
    * seed). `iters` jobs total, one corpus scan each. */
  def kmeansTrain(emb: DataFrame, k: Int, iters: Int,
      id: String = "vec_id", vec: String = "embedding",
      seed: Option[Seq[Seq[Float]]] = None): Seq[Seq[Float]] = {
    val spark = emb.sparkSession
    val spread = graft.sources.Tables.spread(emb)
    var cents: Seq[Seq[Float]] = seed.getOrElse(
      emb.orderBy(col(id)).select(col(vec)).limit(k).collect()
        .map(_.getSeq[Number](0).map(_.floatValue()).toSeq).toSeq)
    require(cents.size == k, s"seed has ${cents.size} centroids, want $k")
    for (_ <- 1 to iters) {
      val assigned = spread.withColumn("cell", cellOf(spark, col(vec), cents))
      val means = assigned
        .select(col("cell"), posexplode(col(vec)))
        .groupBy(col("cell"), col("pos")).agg(avg(col("col")).as("m"))
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("ms"))
        .select(col("cell"),
          transform(col("ms"), s => s.getField("m").cast("float")).as("cv"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Float](1).toSeq).toMap
      cents = cents.indices.map(i => means.getOrElse(i, cents(i)))
    }
    cents
  }

  /** Per-cell (cosine, id) score structs — the shared kernel of
    * [[cellOf]] and [[topCellsOf]]; struct ordering gives the ANN path's
    * tie rule (cosine desc, ties to the higher centroid id) for free. */
  private def cellScores(spark: SparkSession, v: org.apache.spark.sql.Column,
      cents: Seq[Seq[Float]]): org.apache.spark.sql.Column = {
    val centArr = typedLit(cents)
    transform(sequence(lit(1), lit(cents.size)), i => struct(
      graft.functions.CosineSimilarity.cosineSim(spark, v, element_at(centArr, i)).as("c"),
      (i - 1).as("i")))
  }

  /** Map-side cell assignment under the ANN path's tie rule (cosine
    * desc, ties to the higher centroid id) — the centroids ride the plan
    * as a literal, so this is a pure per-row expression. */
  def cellOf(spark: SparkSession, v: org.apache.spark.sql.Column,
      cents: Seq[Seq[Float]]): org.apache.spark.sql.Column =
    array_max(cellScores(spark, v, cents)).getField("i")

  /** The probe's `nprobe` nearest cells (same tie rule) — map-side, the
    * IVF query's cell short-list. */
  def topCellsOf(spark: SparkSession, v: org.apache.spark.sql.Column,
      cents: Seq[Seq[Float]], nprobe: Int): org.apache.spark.sql.Column =
    transform(slice(reverse(array_sort(cellScores(spark, v, cents))), 1, nprobe),
      s => s.getField("i"))

  /** Train a quantizer with [[kmeansTrain]] and persist it — the full
    * production flow: train once, [[loadCentroids]] + annIvfPersisted
    * per query. Returns the trained centroids. */
  def trainAndWrite(emb: DataFrame, path: String, k: Int, iters: Int,
      id: String = "vec_id", vec: String = "embedding"): Seq[Seq[Float]] = {
    val spark = emb.sparkSession
    import spark.implicits._
    val cents = kmeansTrain(emb, k, iters, id, vec)
    writeCentroids(
      cents.zipWithIndex.map { case (cv, i) => (i, cv) }
        .toDF("centroid_id", "embedding")
        .select(col("centroid_id"), col("embedding").cast("array<float>")),
      path)
    cents
  }

  /** Persist `centroids` (centroid_id, embedding) at `path` — one
    * clusteredWrite, single file (the table is K rows). */
  def writeCentroids(centroids: DataFrame, path: String): Unit =
    Layout.clusteredWrite(
      centroids.select(col("centroid_id"), col("embedding")),
      path, files = 1, col("centroid_id"))

  /** Read the persisted centroids back, ordered by centroid_id. The
    * collect is bounded by K (the table IS the coarse quantizer — if it
    * doesn't fit on the driver it isn't an IVF quantizer); the guard
    * fails loudly rather than silently localizing a mis-pointed path. */
  def loadCentroids(spark: SparkSession, path: String,
      maxK: Int = 1 << 16): Seq[Seq[Float]] = {
    val rows = spark.read.parquet(path)
      .orderBy(col("centroid_id"))
      .select(col("embedding"))
      .limit(maxK + 1).collect()
    require(rows.length <= maxK,
      s"centroid table at $path exceeds $maxK rows — not a coarse quantizer")
    rows.map(_.getSeq[Float](0).toSeq).toSeq
  }

  // ------------------------------------------------------ ingest corpus

  /** One generation of the persisted IVF corpus (`gen` is a hive
    * partition level, the GenTable lifecycle; "replace-gen" is dynamic
    * partition overwrite), rows cell-clustered WITHIN the generation so
    * per-file min/max on `cell` keeps a probe's scan proportional to its
    * touched cells across every generation. */
  private def writeGen(assigned: DataFrame, path: String, files: Int,
      mode: String, gen: String): Unit = {
    val w = assigned.withColumn("gen", lit(gen))
      .repartitionByRange(files, col("cell"))
      .sortWithinPartitions(col("cell"))
      .write.partitionBy("gen")
    mode match {
      case "replace-gen" =>
        w.option("partitionOverwriteMode", "dynamic").mode("overwrite").parquet(path)
      case m => w.mode(m).parquet(path)
    }
  }

  /** Build the persisted cell-clustered corpus (`gen=base`) under a
    * FROZEN quantizer — the FAISS add-after-train contract's `train+add`
    * half. Map-side cell assignment; one range shuffle on `cell`. */
  def buildCorpus(emb: DataFrame, path: String, cents: Seq[Seq[Float]],
      files: Int = 4, id: String = "vec_id", vec: String = "embedding"): Unit = {
    val spark = emb.sparkSession
    writeGen(
      graft.sources.Tables.spread(emb)
        .select(col(id).as("vec_id"), col(vec).as("embedding"))
        .withColumn("cell", cellOf(spark, col("embedding"), cents)),
      path, files, "overwrite", "base")
  }

  /** One ingest batch against the persisted corpus: ANN-probe the
    * PRE-batch state for each batch vector's top-`k` cosine neighbors
    * (searching its `nprobe` nearest cells only), then append the batch
    * into its own generation. Returns (probe_id, rn, neighbor_id,
    * cos_sim) — materialized BEFORE the append so the result cannot
    * lazily observe the post-append table.
    *
    * Scale shape: the probed-cell short-list collects as ≤ K ints; the
    * corpus scan filters `cell IN (touched)` — pushed to parquet, pruned
    * at file level by the clustered layout — and the batch broadcasts
    * onto it (the corpus never shuffles). `batchId` is the GenTable
    * delivery contract (`Some(b)`: exactly-once on storage, what
    * `StreamingPipeline.startVectorIngest` relies on). */
  def probeAndAppend(spark: SparkSession, path: String, batch: DataFrame,
      cents: Seq[Seq[Float]], batchId: Option[Long], k: Int = 3,
      nprobe: Int = 2, files: Int = 2, id: String = "vec_id",
      vec: String = "embedding"): DataFrame =
    probeAppendCore(spark, path, batch, cents, batchId, k, nprobe, files,
      id, vec, ann => Caches.localize(ann, maxRows = 1 << 22)
        .getOrElse(ann.localCheckpoint()))

  /** [[probeAndAppend]] with the ANN rows written DIRECTLY into the
    * `batch_id`-partitioned log (GenTable.writeBatchLog) — one job per
    * micro-batch instead of localize + write. */
  def probeAndAppendToLog(spark: SparkSession, path: String,
      batch: DataFrame, annDir: String, cents: Seq[Seq[Float]],
      batchId: Long, k: Int = 3, nprobe: Int = 2, files: Int = 2,
      id: String = "vec_id", vec: String = "embedding"): Unit = {
    probeAppendCore(spark, path, batch, cents, Some(batchId), k, nprobe,
      files, id, vec, { ann =>
        GenTable.writeBatchLog(ann, batchId, annDir); spark.emptyDataFrame
      })
    ()
  }

  /** Shared probe/append body: `materialize` runs the one action that
    * freezes the ANN result, ordered by GenTable.probeThenAppend. */
  private def probeAppendCore(spark: SparkSession, path: String,
      batch: DataFrame, cents: Seq[Seq[Float]], batchId: Option[Long],
      k: Int, nprobe: Int, files: Int, id: String, vec: String,
      materialize: DataFrame => DataFrame): DataFrame = IndexLock.withWriter(path) {
    import org.apache.spark.sql.expressions.Window
    // One evaluation of the batch plan + ONE K-centroid cosine pass per
    // vector, shared by the touched-cell collect, the probe broadcast
    // and the append — without the persist each consumer re-runs the
    // upstream batch plan.
    val assigned = batch
      .select(col(id).as("vec_id"), col(vec).as("embedding"))
      .withColumn("cell", cellOf(spark, col("embedding"), cents))
      .withColumn("pcells", topCellsOf(spark, col("embedding"), cents, nprobe))
      .persist()
    try {
      // bounded collect: the DISTINCT union of probed cells, ≤ K ints
      val touched = assigned.select(explode(col("pcells")).as("c"))
        .distinct().collect().map(_.getInt(0)).toSeq
      val probes = assigned.select(col("vec_id").as("probe_id"),
        col("embedding").as("probe"), col("pcells"))
      val corpus = dropTombstoned(spark, path,
        GenTable.hide(spark.read.parquet(path), batchId.map(GenTable.batchGen))
          .where(col("cell").isin(touched: _*)))
      val cand = corpus.crossJoin(broadcast(probes))
        .where(array_contains(col("pcells"), col("cell")) &&
          col("vec_id") =!= col("probe_id"))
        .withColumn("cos", graft.functions.CosineSimilarity.cosineSim(
          spark, col("embedding"), col("probe")))
      val w = Window.partitionBy(col("probe_id"))
        .orderBy(col("cos").desc, col("vec_id"))
      val ann = cand.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
        .select(col("probe_id"), col("rn"), col("vec_id").as("neighbor_id"),
          round(col("cos"), 4).as("cos_sim"))
      // k rows per batch vector — bounded by construction
      GenTable.probeThenAppend(batchId, () => materialize(ann), Seq(
        (mode, gen) => writeGen(
          assigned.select(col("vec_id"), col("embedding"), col("cell")),
          path, files, mode, gen)))
    } finally assigned.unpersist()
  }

  private def tombsPath(path: String) = s"$path.tombstones"

  /** Tombstoned vec_ids as a (tiny) broadcastable table, if any. Sibling
    * path (`<corpus>.tombstones`) rather than a subdirectory: the corpus
    * path is itself a parquet table and a nested foreign table would
    * corrupt its reads. */
  private def tombstones(spark: SparkSession, path: String): Option[DataFrame] =
    TombstoneLog.readDir(spark, tombsPath(path), "vec_id")

  private def dropTombstoned(spark: SparkSession, path: String,
      df: DataFrame): DataFrame =
    tombstones(spark, path).fold(df)(t =>
      df.join(t, Seq("vec_id"), "left_anti"))

  /** Tombstone `vecIds`: the vectors stay physically present until the
    * next [[compactCorpus]], but no subsequent probe returns them as
    * neighbors. O(deletions) writes, no rebuild, nothing on the ingest
    * hot path. */
  def markDeleted(spark: SparkSession, path: String, vecIds: Seq[Long]): Unit =
    IndexLock.withWriter(path) {
      require(new org.apache.hadoop.fs.Path(path)
          .getFileSystem(spark.sessionState.newHadoopConf())
          .exists(new org.apache.hadoop.fs.Path(path)),
        s"markDeleted: no corpus at $path")
      TombstoneLog.append(spark, tombsPath(path), "vec_id", vecIds)
    }

  /** Fold the corpus's accumulated generations back into one tight
    * `gen=base` layout (`files` globally cell-clustered files) — the
    * GenTable.fold lifecycle, with `Layout.swapInto` as the commit. Run
    * it at whatever cadence keeps per-cell file counts bounded. */
  def compactCorpus(spark: SparkSession, path: String, files: Int = 4,
      keepBatch: Option[Long] = None): Unit =
    GenTable.fold(spark, path, keepBatch, tables = Seq(path -> false),
      heal = Seq(path),
      tombs = Some(GenTable.Tombs(tombsPath(path), "vec_id", path))) { f =>
      val staged = s"$path.compacting"
      Layout.healSwap(spark, staged, path)
      val all = f.dropTombstoned(spark.read.parquet(path)
        .select(col("vec_id"), col("embedding"), col("cell"), col("gen")))
      f.keepGen match {
        case Some(_) =>
          // one pass, one write: the target generation derives in-row,
          // base + kept land in a single shuffle + write job; the (gen,
          // cell) task sort keeps every output file cell-sorted within
          // its generation, so min/max cell pruning is unchanged
          all.select(col("vec_id"), col("embedding"), col("cell"), f.target.as("gen"))
            .repartitionByRange(files, col("cell"))
            .sortWithinPartitions(col("gen"), col("cell"))
            .write.partitionBy("gen").mode("overwrite").parquet(staged)
        case None =>
          writeGen(all.drop("gen"), staged, files, "overwrite", "base")
      }
      Layout.swapInto(spark, staged, path)
    }
}
