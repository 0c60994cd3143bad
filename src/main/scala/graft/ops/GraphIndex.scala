package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted graph-ANN index — the proximity-graph family (NN-Descent /
  * Vamana / HNSW lineage) brought to the same lifecycle contract as the
  * table families (LshIndex, IvfIndex, PqIndex, SimHashIndex): build
  * once, beam-probe forever, batch-insert incrementally, tombstone
  * takedowns, compact offline.
  *
  * Storage is two gen-partitioned parquet tables under one index root:
  *
  *   - `<path>/nodes` — (vec_id, embedding), clustered by vec_id within
  *     each generation so a probe's candidate-scoring scan prunes to the
  *     beam's touched ids at row-group level;
  *   - `<path>/edges` — (src, dst, cos), DIRECTED adjacency clustered by
  *     src so a beam hop's `src IN (frontier)` scan prunes the same way.
  *     Both directions are stored EXPLICITLY (the build symmetrizes and
  *     degree-caps; an insert appends forward top-k plus capped reverse
  *     edges) — symmetrize-at-read would make every hub's unbounded
  *     in-degree a read-time frontier explosion, so the degree bound is
  *     enforced where edges are written, the Vamana/HNSW `R` discipline.
  *
  * Generations, retries, takedowns and folds are the GenTable lifecycle:
  * a foreachBatch crash-retry probes the identical pre-batch graph and
  * converges on storage. The tombstone log is a sibling
  * (`<path>.tombstones`, as IvfIndex's); a taken-down node drops out of
  * entry selection, traversal and results immediately, and out of
  * storage at the next [[compact]]. Traversal-through-deleted (the HNSW
  * soft-delete refinement) is deliberately not done: the oracle replays
  * reachability exactly, and a takedown that disconnects a region is the
  * documented cost until compaction re-links it.
  *
  * Scale shape of one beam probe batch (the whole point of graph ANN —
  * per-probe cost O(hops·beam·maxDeg), independent of corpus size):
  * beams are |batch|·beamW rows by construction, so they settle
  * driver-local (the bounded [[Caches.localize]] rule, deployment-sized
  * by `spark.graft.localize.maxRows`); each hop is then (1) an edge scan
  * pruned by `src IN (frontier)` — pushed to parquet, file/row-group
  * pruned by the clustered layout — collected bounded, expanded driver-
  * side, and (2) a node scan pruned by `vec_id IN (candidates)` scoring
  * against the broadcast candidate list. Over-cap batches fall back to
  * the distributed spelling (same semantics, keyed joins instead of
  * pruned scans + local expansion); GraphIndexSpec pins the two paths
  * equal. Reference anchor: the toy pipeline has no vector surface at
  * all (SURVEY §2B gap rows) — semantics follow the public NN-Descent
  * (Dong et al., WWW 2011) and DiskANN/HNSW insertion literature.
  */
object GraphIndex {

  def nodesPath(path: String): String = s"$path/nodes"
  def edgesPath(path: String): String = s"$path/edges"
  private def tombsPath(path: String) = s"$path.tombstones"

  /** Frontier-size bound for the pruned-scan beam spelling: above this
    * many DISTINCT beam vertices the hop takes the distributed keyed-join
    * path instead of building a `src IN (…)` literal list (the In is
    * cheap to EXECUTE at any size — InSet — but a million-literal
    * expression is slow to construct and bloats the plan). */
  private val MaxInLiterals = 1 << 12

  // ------------------------------------------------------------- build

  /** NN-Descent k-NN-graph construction (Dong et al., WWW 2011) — the
    * build kernel the declared q148/q163 share (ExtAnnQueries delegates
    * here; the oracle replays it CTE for CTE). Start every node with k
    * pseudo-random neighbors and iterate "a neighbor of a neighbor is
    * probably a neighbor": each round symmetrizes the current graph,
    * proposes all pairs sharing a common node (the LOCAL join — ≤
    * (2k choose 2) candidates per node, never all-pairs), scores them,
    * keeps each node's top-k. Returns the settled directed (src, dst,
    * cos) edge list — n·k rows by construction. Each round's graph is
    * consumed 3× (both local-join sides + the union into the next
    * top-k), so rounds settle via the bounded localize (fallback:
    * persist) — without a barrier the lineage re-executes the whole
    * prior round per consumer. */
  def nnDescent(emb: DataFrame, k: Int = 4, rounds: Int = 2,
      id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val spark = emb.sparkSession
    val e = graft.sources.Tables.spread(emb)
      .select(col(id).as("vec_id"), col(vec).as("embedding"))
    val nRows = e.agg(count(lit(1)).as("n"))
    // Init-ring arithmetic runs in DENSE-RANK space (idx = row_number
    // over vec_id − 1), decoded back to real ids through `ranked` — on
    // a sparse id set (q165–q167's vec_id % 4 <> 0 base) the raw-id
    // ring pointed ~1/4 of init edges at nonexistent ids, silently
    // thinning initial connectivity (r15 advice). Ranks come from a
    // distributed sort + zipWithIndex (per-partition offsets), not a
    // single-partition window, so the build stays shuffle-shaped at
    // corpus scale; the oracle replays the same rank with
    // row_number() OVER (ORDER BY vec_id).
    val ranked = {
      val sorted = e.select(col("vec_id")).orderBy(col("vec_id"))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vid",
          sorted.schema("vec_id").dataType),
        org.apache.spark.sql.types.StructField("idx",
          org.apache.spark.sql.types.LongType)))
      spark.createDataFrame(
        sorted.rdd.zipWithIndex().map { case (r, i) =>
          org.apache.spark.sql.Row(r.get(0), i) }, schema)
    }
    val init = ranked.select(col("vid").as("src"), col("idx").as("sidx"))
      .crossJoin(broadcast(nRows))
      .select(col("src"), col("sidx"),
        explode(sequence(lit(1), lit(k))).as("j"), col("n"))
      .withColumn("d0", pmod(col("src") * 37L + col("j") * 101L + 1L, col("n")))
      .withColumn("fidx", when(col("d0") === col("sidx"),
        pmod(col("d0") + 1L, col("n"))).otherwise(col("d0")))
      .join(ranked.select(col("vid").as("dst"), col("idx").as("fidx")), "fidx")
      .select(col("src"), col("dst"))
    def withCos(edges: DataFrame): DataFrame = edges
      .join(e.select(col("vec_id").as("src"), col("embedding").as("se")), "src")
      .join(e.select(col("vec_id").as("dst"), col("embedding").as("de")), "dst")
      .select(col("src"), col("dst"),
        graft.functions.CosineSimilarity.cosineSim(col("se"), col("de")).as("cos"))
    def topK(scored: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("src")).orderBy(col("cos").desc, col("dst"))
      scored.groupBy(col("src"), col("dst")).agg(max(col("cos")).as("cos"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= k).drop("rn")
    }
    def descend(cur: DataFrame): DataFrame = {
      val u = cur.select(col("src"), col("dst")).unionByName(
        cur.select(col("dst").as("src"), col("src").as("dst")))
      val pairs = u.as("x").join(u.as("y"),
          col("x.src") === col("y.src") && col("x.dst") < col("y.dst"))
        .select(col("x.dst").as("src"), col("y.dst").as("dst")).distinct()
      val cand = withCos(pairs)
      val sym = cand.unionByName(cand.select(col("dst").as("src"),
        col("src").as("dst"), col("cos")))
      settleLineage(topK(cur.unionByName(sym)))
    }
    var cur = settleLineage(topK(withCos(init)))
    for (_ <- 1 to rounds) cur = descend(cur)
    cur
  }

  /** Build the persisted index at `path` from scratch: NN-Descent the
    * directed top-k graph, symmetrize, cap every node's out-degree at
    * `maxDeg` (cos desc, ties to the lower dst — one window), write
    * `gen=base` nodes + edges. The degree cap is what bounds every
    * future probe's per-hop fan-out. */
  def build(emb: DataFrame, path: String, k: Int = 4, maxDeg: Int = 8,
      rounds: Int = 2, files: Int = 4,
      id: String = "vec_id", vec: String = "embedding"): Unit = {
    val e = graft.sources.Tables.spread(emb)
      .select(col(id).as("vec_id"), col(vec).as("embedding"))
    val g = nnDescent(emb, k, rounds, id, vec)
    val sym = g.unionByName(
        g.select(col("dst").as("src"), col("src").as("dst"), col("cos")))
      .groupBy(col("src"), col("dst")).agg(max(col("cos")).as("cos"))
    GenTable.build(nodeRows(e), nodesPath(path), nodesSpread(files))
    GenTable.build(edgeRows(topPerSrc(sym, maxDeg)), edgesPath(path), edgesSpread(files))
  }

  private def topPerSrc(edges: DataFrame, n: Int): DataFrame = {
    val w = Window.partitionBy(col("src")).orderBy(col("cos").desc, col("dst"))
    edges.withColumn("rn", row_number().over(w)).where(col("rn") <= n).drop("rn")
  }

  /** How the two tables spread (the IvfIndex corpus layout): rows
    * clustered on vec_id (nodes) or src (edges) WITHIN each generation,
    * so per-file min/max stats keep pruned scans proportional to their
    * touched keys. */
  private def nodesSpread(files: Int) = GenTable.Spread.Range(files, col("vec_id"))
  private def edgesSpread(files: Int) = GenTable.Spread.Range(files, col("src"))
  private def nodeRows(df: DataFrame): DataFrame = df.select(col("vec_id"), col("embedding"))
  private def edgeRows(df: DataFrame): DataFrame = df.select(col("src"), col("dst"), col("cos"))

  private def settleLineage(df: DataFrame): DataFrame = Caches.settle(df, 1 << 22)

  // ------------------------------------------------------------- probe

  /** Best-first beam search over the persisted graph: every probe starts
    * at the deterministic entry vertex (minimum visible vec_id — the
    * medoid stand-in q163 uses), runs `hops` rounds of expand-score-
    * prune (beam ∪ neighbors-of-beam, cosine vs the probe, top-`beamW`
    * by cos desc / vertex asc), and returns the final per-probe top-`k`
    * as (probe_id, rn, neighbor_id, cos) — cos unrounded, self excluded.
    * `excludeGen` is hidden (GenTable.visible, the retry contract);
    * tombstoned nodes are invisible to entry, traversal and results. See
    * the object scaladoc for the two execution paths (driver-localized
    * beams with pruned scans vs the distributed fallback). */
  def beamSearch(spark: SparkSession, path: String, probes: DataFrame,
      k: Int = 4, beamW: Int = 8, hops: Int = 2,
      excludeGen: Option[String] = None, maxLocal: Int = 1 << 20,
      id: String = "probe_id", vec: String = "probe"): DataFrame = {
    val tombs = TombstoneLog.readDir(spark, tombsPath(path), "vec_id")
    val nodes = TombstoneLog.mask(GenTable.visible(spark, nodesPath(path), excludeGen),
        tombs, "vec_id")
      .select(col("vec_id"), col("embedding"))
    val edges = TombstoneLog.mask(GenTable.visible(spark, edgesPath(path), excludeGen),
        tombs, "src", "dst")
      .select(col("src"), col("dst"))
    val p = probes.select(col(id).as("probe_id"), col(vec).as("probe")).persist()
    try {
      // ONE bounded collect: the entry vertex (min visible id)
      val entryRow = nodes.agg(min(col("vec_id"))).collect()(0)
      require(!entryRow.isNullAt(0), s"beamSearch: no visible nodes at $path")
      val entryId = entryRow.getLong(0)
      val wBeam = Window.partitionBy(col("probe_id"))
        .orderBy(col("cos").desc, col("v"))
      // score a (probe_id, v) candidate frame; prunedIds pushes the
      // candidate vertex list into the node scan when driver-known
      def scored(cand: DataFrame, prunedIds: Option[Seq[Long]],
          candLocal: Boolean): DataFrame = {
        val nsrc = prunedIds.fold(nodes)(ids =>
          nodes.where(col("vec_id").isin(ids: _*)))
        val c = if (candLocal) broadcast(cand) else cand
        val withVe = nsrc.join(c, nsrc("vec_id") === c("v"))
          .select(col("probe_id"), col("v"), col("embedding").as("ve"))
        p.join(if (candLocal) broadcast(withVe) else withVe, "probe_id")
          .select(col("probe_id"), col("v"),
            graft.functions.CosineSimilarity.cosineSim(col("ve"), col("probe")).as("cos"))
      }
      // hop 0: every probe's beam = the entry vertex (no window needed)
      var settled = Caches.localizeWithRows(scored(
        p.select(col("probe_id")).withColumn("v", lit(entryId)),
        Some(Seq(entryId)), candLocal = false), maxLocal)
      var beamDist: DataFrame = null // only used on the over-cap path
      if (settled.isEmpty)
        beamDist = settleLineage(scored(
          p.select(col("probe_id")).withColumn("v", lit(entryId)),
          Some(Seq(entryId)), candLocal = false))
      for (_ <- 1 to hops) {
        var hopDone = false
        settled.foreach { case (localBeam, rows) =>
          // frontier + expansion fully driver-side: ONE pruned edge
          // scan, then one pruned node scan scoring the local list
          val beamPairs = rows.map(r => (r.getLong(0), r.getLong(1)))
          val frontier = beamPairs.map(_._2).distinct.toSeq
          if (frontier.size > MaxInLiterals) {
            // the pruned-scan spelling builds `src IN (frontier)` as a
            // literal list — bounded HERE on frontier SIZE, not just on
            // adjacency row count, so a huge probe batch under maxLocal
            // can't construct a million-literal In expression; the
            // distributed spelling below is the same semantics keyed
            beamDist = localBeam
            settled = None
          } else {
          val adjRows = edges.where(col("src").isin(frontier: _*))
            .limit(maxLocal + 1).collect()
          if (adjRows.length > maxLocal) {
            // adjacency outgrew the cap (hot graph region): this hop
            // falls through to the distributed spelling below
            beamDist = localBeam
            settled = None
          } else {
            val adj = adjRows.groupBy(_.getLong(0))
              .map { case (s, rs) => s -> rs.map(_.getLong(1)) }
            val cand = beamPairs.flatMap { case (pid, v) =>
              (pid, v) +: adj.getOrElse(v, Array.empty[Long]).map(d => (pid, d))
            }.distinct
            import spark.implicits._
            val candDf = cand.toSeq.toDF("probe_id", "v")
            val topped = scored(candDf, Some(cand.map(_._2).distinct.toSeq),
                candLocal = true)
              .withColumn("rn", row_number().over(wBeam))
              .where(col("rn") <= beamW).drop("rn")
            settled = Caches.localizeWithRows(topped, maxLocal)
            if (settled.isEmpty) beamDist = settleLineage(topped)
            hopDone = true
          }
          }
        }
        if (!hopDone && settled.isEmpty) {
          // distributed spelling: same candidate set, keyed joins
          val expand = beamDist.select(col("probe_id"), col("v").as("src"))
            .join(edges, "src")
            .select(col("probe_id"), col("dst").as("v"))
          val cand = beamDist.select(col("probe_id"), col("v"))
            .unionByName(expand).distinct()
          beamDist = settleLineage(
            scored(cand, None, candLocal = false)
              .withColumn("rn", row_number().over(wBeam))
              .where(col("rn") <= beamW).drop("rn"))
        }
      }
      val beam = settled.map(_._1).getOrElse(beamDist)
      val fin = beam.where(col("v") =!= col("probe_id"))
        .withColumn("rn", row_number().over(wBeam)).where(col("rn") <= k)
        .select(col("probe_id"), col("rn"), col("v").as("neighbor_id"),
          col("cos"))
      // sever lineage from the probe frame before unpersisting it
      settleLineage(fin)
    } finally { p.unpersist(); () }
  }

  // ------------------------------------------------------------ ingest

  /** One ingest batch: beam-search the PRE-batch graph for each batch
    * vector's top-`k` neighbors, then append the batch as generation
    * `b<id>` — nodes plus DIRECTED edges both ways: forward (new →
    * neighbor, the search result) and reverse (neighbor → new), the
    * reverse side capped at `revCap` per existing node per batch (top
    * by cos desc / new-id asc) so a magnet node's degree grows at most
    * `revCap` per batch instead of unboundedly — the Vamana/HNSW
    * insertion discipline, oracle-replayed by q165/q166. Returns the
    * per-vector ANN log (probe_id, rn, neighbor_id, cos_sim),
    * materialized BEFORE the append — serially, because the reverse
    * edges derive from the probe result (GenTable's `batchId` delivery
    * contract otherwise). */
  def probeAndAppend(spark: SparkSession, path: String, batch: DataFrame,
      batchId: Option[Long], k: Int = 4, beamW: Int = 8, hops: Int = 2,
      revCap: Int = 4, files: Int = 2, id: String = "vec_id",
      vec: String = "embedding"): DataFrame =
    probeAppendCore(spark, path, batch, batchId, k, beamW, hops, revCap,
      files, id, vec, Caches.settle(_, 1 << 22))

  /** [[probeAndAppend]] with the ANN log written DIRECTLY into the
    * `batch_id`-partitioned log (GenTable.toBatchLog) — one job
    * instead of localize + write. */
  def probeAndAppendToLog(spark: SparkSession, path: String,
      batch: DataFrame, annDir: String, batchId: Long, k: Int = 4,
      beamW: Int = 8, hops: Int = 2, revCap: Int = 4, files: Int = 2,
      id: String = "vec_id", vec: String = "embedding"): Unit = {
    probeAppendCore(spark, path, batch, Some(batchId), k, beamW, hops,
      revCap, files, id, vec, GenTable.toBatchLog(batchId, annDir))
    ()
  }

  private def probeAppendCore(spark: SparkSession, path: String,
      batch: DataFrame, batchId: Option[Long], k: Int, beamW: Int,
      hops: Int, revCap: Int, files: Int, id: String, vec: String,
      materialize: DataFrame => DataFrame): DataFrame =
    IndexLock.withWriter(path) {
      val b = batch.select(col(id).as("vec_id"), col(vec).as("embedding"))
        .persist()
      try {
        // beamSearch already settles its result (k rows per batch
        // vector, bounded by construction), so fwd/rev below re-derive
        // from a local/persisted frame, not from a re-run search
        val ann = beamSearch(spark, path, b, k, beamW, hops,
          excludeGen = batchId.map(GenTable.batchGen),
          id = "vec_id", vec = "embedding")
        val result = materialize(
          ann.select(col("probe_id"), col("rn"), col("neighbor_id"),
            round(col("cos"), 4).as("cos_sim")))
        val fwd = ann.select(col("probe_id").as("src"),
          col("neighbor_id").as("dst"), col("cos"))
        val wRev = Window.partitionBy(col("neighbor_id"))
          .orderBy(col("cos").desc, col("probe_id"))
        val rev = ann.withColumn("rrn", row_number().over(wRev))
          .where(col("rrn") <= revCap)
          .select(col("neighbor_id").as("src"), col("probe_id").as("dst"),
            col("cos"))
        // independent targets (edges vs nodes), inputs settled (ann) or
        // persisted (b) — append concurrently
        Par.all(
          () => GenTable.append(edgeRows(fwd.unionByName(rev)), edgesPath(path),
            edgesSpread(files), batchId),
          () => GenTable.append(nodeRows(b), nodesPath(path), nodesSpread(files), batchId))
        result
      } finally { b.unpersist(); () }
    }

  // ------------------------------------------- takedown + compaction

  /** Tombstone `vecIds` — nodes stay physically present until the next
    * [[compact]] but disappear from entry selection, traversal and
    * results immediately. O(deletions) writes, nothing on the ingest
    * hot path. */
  def markDeleted(spark: SparkSession, path: String, vecIds: Seq[Long]): Unit =
    IndexLock.withWriter(path) {
      require(new org.apache.hadoop.fs.Path(nodesPath(path))
          .getFileSystem(spark.sessionState.newHadoopConf())
          .exists(new org.apache.hadoop.fs.Path(nodesPath(path))),
        s"markDeleted: no graph index at $path")
      TombstoneLog.append(spark, tombsPath(path), "vec_id", vecIds)
    }

  /** Fold the accumulated generations back into one tight `gen=base`
    * (GenTable.fold): tombstoned nodes drop physically WITH every edge
    * touching them (either endpoint), and — in the OFFLINE form
    * (`keepBatch = None`) — the merged adjacency re-prunes to `maxDeg`
    * per node, absorbing the reverse-edge growth the per-batch `revCap`
    * admitted. The in-stream form (`keepBatch = Some(b)`) folds VERBATIM
    * instead — no re-prune — because a kept batch's crash-retry must
    * probe the exact pre-compaction adjacency to converge; the offline
    * re-prune runs at the next quiesced compaction. Both tables stage
    * under one root and commit in ONE swap of the index root
    * (Layout.stagedCommit), so the root is what a crash leaves in
    * `<path>.old`. */
  def compact(spark: SparkSession, path: String, maxDeg: Int = 8,
      files: Int = 4, keepBatch: Option[Long] = None): Unit =
    GenTable.fold(spark, path, keepBatch,
      tables = Seq(nodesPath(path) -> false, edgesPath(path) -> false),
      swap = Seq(path),
      tombs = Some(GenTable.Tombs(tombsPath(path), "vec_id", nodesPath(path)))) { f =>
      val nodes = f.dropTombstoned(spark.read.parquet(nodesPath(path)))
      val edges = f.dropTombstoned(spark.read.parquet(edgesPath(path)), "src", "dst")
      // independent targets: nodes and edges fold concurrently, one write each
      Par.all(
        () => f.write(nodes, nodesPath(f.staged(path)), nodesSpread(files)),
        () => f.write(if (f.keepGen.isEmpty) topPerSrc(edges, maxDeg) else edges,
          edgesPath(f.staged(path)), edgesSpread(files)))
    }
}
