package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.ops.{Caches, EventOps, GraphOps, IvfIndex, Layout, LogReg, LshIndex, TextOps}
import graft.sources.Tables
import graft.pipeline.CurationPipeline
import graft.functions.{BloomMightContain, CosineSimilarity, VectorOps}

/** Vector/ANN family: brute-force kNN, LSH buckets, IVF (one-shot,
  * persisted, incremental), quantization, random projection,
  * k-means training, recall audit. */
private[queries] trait ExtAnnQueries extends ExtQueryHelpers {
  // ------------------------------------------------------------------ q23
  /** Brute-force k-NN (k=3) for probe vectors vec_id < 5: broadcast the
    * probes, one map-side pass over the corpus, per-probe top-k window.
    * The scale baseline every ANN variant is judged against. */
  private[queries] def q23(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.spread(Tables.embeddings(spark, dir))
    val probes = Tables.embeddings(spark, dir).where(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    emb.crossJoin(broadcast(probes))
      .where(col("vec_id") =!= col("probe_id"))
      .withColumn("cos", CosineSimilarity.cosineSim(col("embedding"), col("probe")))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .select(col("probe_id"), col("rn"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 4).as("cos_sim"))
      .orderBy(col("probe_id"), col("rn"))
  }
  private[queries] val q23Sql =
    """WITH probes AS (SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS probe
      |  FROM embeddings WHERE vec_id < 5)
      |SELECT probe_id,
      |       row_number() OVER (PARTITION BY probe_id
      |         ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]), probe) DESC, vec_id) AS rn,
      |       vec_id AS neighbor_id,
      |       round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), probe), 4) AS cos_sim
      |FROM embeddings CROSS JOIN probes
      |WHERE vec_id <> probe_id
      |QUALIFY rn <= 3
      |ORDER BY probe_id, rn""".stripMargin


  // ------------------------------------------------------------------ q24
  /** LSH-bucketed ANN: sign-bucket on the first 8 dims (256 buckets), then
    * search only within the probe's bucket. The scale path: the bucket id
    * is a narrow int computed map-side; the candidate join shuffles
    * corpus-size/256 rows per probe instead of corpus-size.
    *
    * Deliberately NOT hot-bucket-capped (unlike the pair ops q20/q30):
    * probe→corpus matching is linear in bucket size — a hot bucket costs
    * at most what brute force (q23) pays for those probes, never
    * quadratic — and dropping the probe's own bucket would return zero
    * neighbors for exactly the probes that have the most candidates. */
  private[queries] def q24(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.spread(Tables.embeddings(spark, dir))
      .withColumn("bucket", VectorOps.signBucket(col("embedding"), 8))
    val probes = Tables.embeddings(spark, dir)
      .withColumn("bucket", VectorOps.signBucket(col("embedding"), 8))
      .where(col("vec_id") < 50)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe"),
        col("bucket"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    emb.join(broadcast(probes), Seq("bucket"))
      .where(col("vec_id") =!= col("probe_id"))
      .withColumn("cos", CosineSimilarity.cosineSim(col("embedding"), col("probe")))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .select(col("probe_id"), col("rn"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 4).as("cos_sim"))
      .orderBy(col("probe_id"), col("rn"))
  }
  private[queries] val q24Sql =
    s"""WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, ${bucketSql(8)} AS bucket
       |  FROM embeddings),
       |probes AS (SELECT vec_id AS probe_id, e AS probe, bucket FROM b WHERE vec_id < 50)
       |SELECT probe_id,
       |       row_number() OVER (PARTITION BY probe_id
       |         ORDER BY list_cosine_similarity(e, probe) DESC, vec_id) AS rn,
       |       vec_id AS neighbor_id,
       |       round(list_cosine_similarity(e, probe), 4) AS cos_sim
       |FROM b JOIN probes USING (bucket)
       |WHERE vec_id <> probe_id
       |QUALIFY rn <= 3
       |ORDER BY probe_id, rn""".stripMargin


  // ------------------------------------------------------------------ q30
  /** Embedding-cosine near-dup: top-20 same-bucket pairs by cosine (the
    * corpus has no >0.5-cosine pairs, so a threshold would return empty;
    * top-k keeps the op observable at every scale factor). */
  private[queries] def q30(spark: SparkSession, dir: String): DataFrame = {
    // hot-bucket cap: within-bucket pairing is quadratic in bucket size,
    // so a degenerate bucket (e.g. all-zero embeddings) is dropped rather
    // than paid — mirrored in the oracle SQL below.
    val emb = Tables.embeddings(spark, dir)
      .withColumn("bucket", VectorOps.signBucket(col("embedding"), 8))
    TextOps.bucketPairs(emb, Seq("bucket"), "vec_id",
        Some(TextOps.DefaultMaxBucket), "ann_hot_buckets", "embedding")
      .select(col("vec_id_a").as("vec_a"), col("vec_id_b").as("vec_b"),
        round(CosineSimilarity.cosineSim(col("embedding_a"),
          col("embedding_b")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_a"), col("vec_b"))
      .limit(20)
  }
  private[queries] val q30Sql =
    s"""WITH b0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, ${bucketSql(8)} AS bucket
       |  FROM embeddings),
       |sz AS (SELECT bucket FROM b0 GROUP BY bucket HAVING count(*) <= ${TextOps.DefaultMaxBucket}),
       |b AS (SELECT b0.* FROM b0 JOIN sz USING (bucket))
       |SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
       |       round(list_cosine_similarity(a.e, c.e), 4) AS cos_sim
       |FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
       |ORDER BY cos_sim DESC, vec_a, vec_b
       |LIMIT 20""".stripMargin


  // ------------------------------------------------------------------ q54
  /** IVF ANN — the OTHER scale path next to q24's LSH buckets: a coarse
    * quantizer of 16 deterministic centroids (the first 16 corpus
    * vectors; production trains k-means, same plumbing) partitions the
    * corpus into cells, and each probe searches only its `nprobe=2`
    * nearest cells.
    *
    * The IVF scale property is that centroids always fit on the driver:
    * they ship as ONE literal array inside the assignment expression, so
    * corpus→cell assignment is a pure map-side pass (zero shuffle, full
    * codegen via the fused cosine), and the candidate join carries
    * ~nprobe/K of the corpus per probe. Deterministic end to end —
    * argmax ties break toward the higher centroid id in BOTH engines —
    * so unlike typical ANN this variant is exactly oracle-checkable. */
  private[queries] def q54(spark: SparkSession, dir: String): DataFrame = {
    val K = 16
    val cents: Seq[Seq[Float]] = Tables.embeddings(spark, dir)
      .where(col("vec_id") < K).orderBy(col("vec_id"))
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toSeq).toSeq
    ivfAnn(spark, dir, cents)
  }

  /** Production spelling of q54: centroids come from a PERSISTED table
    * (ops/IvfIndex — one clusteredWrite at train time, one bounded
    * read-back per query) instead of being re-derived from the corpus
    * inside every query. Same plan after the centroids are in hand —
    * IvfIndexSpec pins result-equality with the declared q54. */
  def annIvfPersisted(spark: SparkSession, dir: String,
      centroidPath: String): DataFrame =
    ivfAnn(spark, dir, graft.ops.IvfIndex.loadCentroids(spark, centroidPath))

  private[queries] val q54Sql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |c AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 16),
      |asg AS (
      |  SELECT vec_id,
      |    (SELECT c_id FROM c ORDER BY list_cosine_similarity(v, cv) DESC, c_id DESC
      |     LIMIT 1) AS cell
      |  FROM e),
      |p AS (SELECT vec_id AS probe_id, v AS pv FROM e
      |      WHERE vec_id >= 16 AND vec_id < 21),
      |pc AS (
      |  SELECT probe_id, c_id, row_number() OVER (PARTITION BY probe_id
      |    ORDER BY list_cosine_similarity(pv, cv) DESC, c_id DESC) AS rn
      |  FROM p CROSS JOIN c),
      |cand AS (
      |  SELECT p.probe_id, e.vec_id, list_cosine_similarity(p.pv, e.v) AS cos
      |  FROM p JOIN pc ON pc.probe_id = p.probe_id AND pc.rn <= 2
      |       JOIN asg a ON a.cell = pc.c_id
      |       JOIN e ON e.vec_id = a.vec_id
      |  WHERE e.vec_id <> p.probe_id)
      |SELECT probe_id,
      |       row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rn,
      |       vec_id AS neighbor_id, round(cos, 4) AS cos_sim
      |FROM cand
      |QUALIFY rn <= 3
      |ORDER BY probe_id, rn""".stripMargin


  // ------------------------------------------------------------------ q97
  /** INCREMENTAL IVF ingest — the vector twin of q62's incremental LSH
    * index: the corpus is PERSISTED cell-clustered under a FROZEN coarse
    * quantizer (the first 16 base vectors, q54's deterministic
    * convention trained on the base generation only), an ingest batch
    * (vec_id % 4 == 0) is assigned to cells map-side under the SAME
    * centroid literals and APPENDED — cell-local, no rebuild, no
    * reshuffle of the existing table — and the ANN probe then runs
    * against the persisted table only. The oracle recomputes the same
    * top-3 from scratch over the full corpus with base-derived
    * centroids: an incremental ingest that drifted the quantizer,
    * mis-assigned a cell, or lost batch rows hash-mismatches. Scale
    * shape: the frozen-quantizer append IS the IVF production contract
    * (FAISS-style add-after-train); each append range-partitions only
    * its own batch, and the clustered layout keeps per-file cell ranges
    * prunable across generations (Layout.clusteredWrite append mode). */
  private[queries] def q97(spark: SparkSession, dir: String): DataFrame = {
    val K = 16; val NPROBE = 2
    val tmp = graft.ops.Scratch.tempDir("graft_q97_")
    try {
      val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
      val isBatch = pmod(col("vec_id"), lit(4)) === 0
      val cents: Seq[Seq[Float]] = emb.where(!isBatch)
        .orderBy(col("vec_id")).limit(K)
        .select(col("embedding")).collect().map(_.getSeq[Float](0).toSeq).toSeq
      // cell assignment + probe short-list come from the PRODUCTION
      // index helpers (one source of truth for the tie rule)
      def cellOf(v: Column): Column = IvfIndex.cellOf(v, cents)
      val path = s"$tmp/corpus"
      // build: base generation, cell-clustered
      Layout.clusteredWrite(
        Tables.spread(emb.where(!isBatch))
          .withColumn("cell", cellOf(col("embedding"))),
        path, files = 4, col("cell"))
      // ingest: batch under the SAME frozen centroids, appended
      Layout.clusteredWrite(
        Tables.spread(emb.where(isBatch))
          .withColumn("cell", cellOf(col("embedding"))),
        path, files = 2, "append", col("cell"))
      // probe: persisted table only — the original frames never re-read
      val corpus = spark.read.parquet(path)
      val probes = corpus.where(col("vec_id") >= K && col("vec_id") < K + 5)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe"),
          IvfIndex.topCellsOf(col("embedding"), cents, NPROBE).as("pcells"))
      val cand = corpus.crossJoin(broadcast(probes))
        .where(array_contains(col("pcells"), col("cell")) &&
          col("vec_id") =!= col("probe_id"))
        .withColumn("cos",
          CosineSimilarity.cosineSim(col("embedding"), col("probe")))
        .select(col("probe_id"), col("vec_id"), col("cos"))
      val out = topNeighbors(cand, 3)
        .select(col("probe_id"), col("rn"), col("vec_id").as("neighbor_id"),
          round(col("cos"), 4).as("cos_sim"))
        .orderBy(col("probe_id"), col("rn"))
      // settled (Caches.settle): the finally below deletes the scratch
      // parquet this plan reads, and a settled frame reads no file
      Caches.settle(out, maxRows = 1 << 16)
    } finally rmRecursive(tmp)
  }
  private[queries] val q97Sql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |c AS (SELECT vec_id AS c_id, v AS cv FROM (
      |        SELECT * FROM e WHERE vec_id % 4 <> 0 ORDER BY vec_id LIMIT 16)),
      |asg AS (
      |  SELECT vec_id,
      |    (SELECT c_id FROM c ORDER BY list_cosine_similarity(v, cv) DESC, c_id DESC
      |     LIMIT 1) AS cell
      |  FROM e),
      |p AS (SELECT vec_id AS probe_id, v AS pv FROM e
      |      WHERE vec_id >= 16 AND vec_id < 21),
      |pc AS (
      |  SELECT probe_id, c_id, row_number() OVER (PARTITION BY probe_id
      |    ORDER BY list_cosine_similarity(pv, cv) DESC, c_id DESC) AS rn
      |  FROM p CROSS JOIN c),
      |cand AS (
      |  SELECT p.probe_id, e.vec_id, list_cosine_similarity(p.pv, e.v) AS cos
      |  FROM p JOIN pc ON pc.probe_id = p.probe_id AND pc.rn <= 2
      |       JOIN asg a ON a.cell = pc.c_id
      |       JOIN e ON e.vec_id = a.vec_id
      |  WHERE e.vec_id <> p.probe_id)
      |SELECT probe_id,
      |       row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rn,
      |       vec_id AS neighbor_id, round(cos, 4) AS cos_sim
      |FROM cand
      |QUALIFY rn <= 3
      |ORDER BY probe_id, rn""".stripMargin


  // ----------------------------------------------------------------- q105
  /** STREAMING IVF vector ingest — the vector twin of q92's streaming
    * LSH story, run through the PRODUCTION operator
    * (`StreamingPipeline.startVectorIngest`: foreachBatch →
    * `IvfIndex.probeAndAppend` → batch-tagged ANN log): embeddings
    * arrive in 2 micro-batches, each batch ANN-probes the persisted
    * cell-clustered corpus as built from the base vectors PLUS every
    * earlier batch (top-3 cosine in the probe's 2 nearest cells, frozen
    * first-16 quantizer — q97's conventions), logs its per-vector
    * results, and appends itself for the next batch. The oracle
    * recomputes the whole history relationally: the deterministic
    * vec_id-order 2-chunk batching, per-batch corpus visibility
    * (`a.b < p.b`), cell assignment and probe short-list under the
    * exact tie rules — a mis-batched append, a probe that saw its own
    * batch, or a retry that duplicated a generation all hash-mismatch.
    * Scale shape: per batch the corpus scan is `cell IN (touched)` —
    * pushed, file-pruned by the clustered layout — with the batch
    * broadcast onto it; the stream's state store is EMPTY (the corpus
    * on storage IS the state), so the ingest restarts and scales
    * horizontally exactly like the near-dup ingest. */
  private[queries] def q105(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val K = 16
    val tmp = graft.ops.Scratch.tempDir("graft_q105_")
    try {
      val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
      val isStream = pmod(col("vec_id"), lit(4)) === 0
      val base = emb.where(!isStream)
      val cents: Seq[Seq[Float]] = base.orderBy(col("vec_id")).limit(K)
        .select(col("embedding")).collect().map(_.getSeq[Float](0).toSeq).toSeq
      // memoized deterministic base build (the lshBaseInto rule; q191's
      // dense leg shares the same base corpus + first-16 quantizer)
      GraphFixtures.cloneIntoFor("ivfbase", dir, s"$tmp/corpus", cents, 4)(p =>
        IvfIndex.buildCorpus(base, p, cents, files = 4))
      // stream feed: 2 micro-batches in vec_id order (q100's chunking)
      val rows = fixtureSlice(emb.where(isStream).as[(Long, Seq[Float])]).sortBy(_._1)
      val per = math.max(1, math.ceil(rows.length / 2.0).toInt)
      val chunks = rows.grouped(per).toArray
      val mem = MemoryStream[(Long, Seq[Float])]
      val q = graft.streaming.StreamingPipeline.startVectorIngest(
        mem.toDF().toDF("vec_id", "embedding"),
        corpusPath = s"$tmp/corpus", annDir = s"$tmp/ann",
        checkpointDir = s"$tmp/ckpt", cents = cents,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      try chunks.foreach { c => mem.addData(c.toSeq); q.processAllAvailable() }
      finally q.stop()
      // localize the (≤ 3·|stream|-row) log before the scratch dir dies
      localizeRows(
        spark.read.parquet(s"$tmp/ann")
          .select(col("probe_id"), col("rn"), col("neighbor_id"), col("cos_sim")),
        Seq("probe_id", "rn"))
    } finally rmRecursive(tmp)
  }
  private[queries] val q105Sql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |base AS (SELECT vec_id, v FROM e WHERE vec_id % 4 <> 0),
      |c AS (SELECT vec_id AS c_id, v AS cv FROM (
      |        SELECT * FROM base ORDER BY vec_id LIMIT 16)),
      |s AS (SELECT vec_id, v,
      |        (row_number() OVER (ORDER BY vec_id) - 1)
      |          // CAST(ceil(count(*) OVER () / 2.0) AS BIGINT) AS b
      |      FROM e WHERE vec_id % 4 = 0),
      |univ AS (SELECT vec_id, v, -1 AS b FROM base
      |         UNION ALL SELECT vec_id, v, b FROM s),
      |asg AS (SELECT vec_id, v, b,
      |          (SELECT c_id FROM c ORDER BY list_cosine_similarity(v, cv) DESC, c_id DESC
      |           LIMIT 1) AS cell
      |        FROM univ),
      |pc AS (SELECT p.vec_id AS probe_id, p.b AS pb, p.v AS pv, c.c_id,
      |         row_number() OVER (PARTITION BY p.vec_id
      |           ORDER BY list_cosine_similarity(p.v, cv) DESC, c_id DESC) AS crn
      |       FROM s p CROSS JOIN c),
      |cand AS (SELECT pc.probe_id, a.vec_id, list_cosine_similarity(pc.pv, a.v) AS cos
      |         FROM pc JOIN asg a ON a.cell = pc.c_id AND pc.crn <= 2
      |         WHERE a.b < pc.pb)
      |SELECT probe_id,
      |       row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rn,
      |       vec_id AS neighbor_id, round(cos, 4) AS cos_sim
      |FROM cand
      |QUALIFY rn <= 3
      |ORDER BY probe_id, rn""".stripMargin


  // ----------------------------------------------------------------- q109
  /** IVF corpus TAKEDOWN + COMPACTION under the oracle — q101's contract
    * for the vector index family, completing the lifecycle symmetry
    * (LSH: q101 takedown + q106 auto-compact both gated; IVF: q105
    * ingest gated, takedown/compaction previously spec-only): build the
    * cell-clustered corpus, run one production ingest generation
    * (`IvfIndex.probeAndAppend`), tombstone vec 35 and 87 — the RANK-1
    * neighbors of probes 16 and 19 at sf0.01, so the takedown reshuffles
    * the top-3 and is load-bearing in the hash — then `compactCorpus`
    * (generations fold, tombstoned rows drop physically, log cleared)
    * and ANN-probe the compacted table read-only. The oracle recomputes
    * the same top-3 from scratch excluding the deleted ids: a takedown
    * that left rows behind, a compaction that lost a generation, or a
    * probe that still saw a tombstoned vector all hash-mismatch. Scale
    * shape: takedown is O(deletions) writes; compaction one bounded
    * rewrite; the probe is q97's (cell-pruned scan, broadcast probes). */
  private[queries] def q109(spark: SparkSession, dir: String): DataFrame = {
    val K = 16; val NPROBE = 2
    val tmp = graft.ops.Scratch.tempDir("graft_q109_")
    try {
      val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
      val isBatch = pmod(col("vec_id"), lit(4)) === 0
      val cents: Seq[Seq[Float]] = emb.where(!isBatch)
        .orderBy(col("vec_id")).limit(K)
        .select(col("embedding")).collect().map(_.getSeq[Float](0).toSeq).toSeq
      val path = s"$tmp/corpus"
      // memoized deterministic base build shared with q105/q191 (same
      // split, same quantizer, same files=4 layout — the lshBaseInto rule)
      GraphFixtures.cloneIntoFor("ivfbase", dir, path, cents, 4)(p =>
        IvfIndex.buildCorpus(emb.where(!isBatch), p, cents, files = 4))
      // one production ingest generation (its ANN log is not this query's
      // contract; the lifecycle below is)
      IvfIndex.probeAndAppend(spark, path,
        Tables.spread(emb.where(isBatch)), cents, batchId = Some(0L))
      IvfIndex.markDeleted(spark, path, Seq(35L, 87L))
      IvfIndex.compactCorpus(spark, path, files = 4)
      // read-only ANN over the compacted corpus: q97's probe shape
      val corpus = spark.read.parquet(path)
      val probes = corpus.where(col("vec_id") >= K && col("vec_id") < K + 5)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe"),
          IvfIndex.topCellsOf(col("embedding"), cents, NPROBE).as("pcells"))
      val cand = corpus.crossJoin(broadcast(probes))
        .where(array_contains(col("pcells"), col("cell")) &&
          col("vec_id") =!= col("probe_id"))
        .withColumn("cos",
          CosineSimilarity.cosineSim(col("embedding"), col("probe")))
        .select(col("probe_id"), col("vec_id"), col("cos"))
      val out = topNeighbors(cand, 3)
        .select(col("probe_id"), col("rn"), col("vec_id").as("neighbor_id"),
          round(col("cos"), 4).as("cos_sim"))
        .orderBy(col("probe_id"), col("rn"))
      Caches.settle(out, maxRows = 1 << 16)
    } finally rmRecursive(tmp)
  }
  private[queries] val q109Sql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |c AS (SELECT vec_id AS c_id, v AS cv FROM (
      |        SELECT * FROM e WHERE vec_id % 4 <> 0 ORDER BY vec_id LIMIT 16)),
      |live AS (SELECT * FROM e WHERE vec_id NOT IN (35, 87)),
      |asg AS (
      |  SELECT vec_id,
      |    (SELECT c_id FROM c ORDER BY list_cosine_similarity(v, cv) DESC, c_id DESC
      |     LIMIT 1) AS cell
      |  FROM live),
      |p AS (SELECT vec_id AS probe_id, v AS pv FROM live
      |      WHERE vec_id >= 16 AND vec_id < 21),
      |pc AS (
      |  SELECT probe_id, c_id, row_number() OVER (PARTITION BY probe_id
      |    ORDER BY list_cosine_similarity(pv, cv) DESC, c_id DESC) AS rn
      |  FROM p CROSS JOIN c),
      |cand AS (
      |  SELECT p.probe_id, e2.vec_id, list_cosine_similarity(p.pv, e2.v) AS cos
      |  FROM p JOIN pc ON pc.probe_id = p.probe_id AND pc.rn <= 2
      |       JOIN asg a ON a.cell = pc.c_id
      |       JOIN live e2 ON e2.vec_id = a.vec_id
      |  WHERE e2.vec_id <> p.probe_id)
      |SELECT probe_id,
      |       row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rn,
      |       vec_id AS neighbor_id, round(cos, 4) AS cos_sim
      |FROM cand
      |QUALIFY rn <= 3
      |ORDER BY probe_id, rn""".stripMargin


  // ------------------------------------------------------------------ q65
  /** Persisted-quantizer IVF ANN — q54's production spelling end-to-end
    * under the oracle: train (= the same deterministic first-16 stand-in
    * q54 uses), persist via one IvfIndex.writeCentroids, read back, and
    * query. Result ≡ q54 by construction (IvfIndexSpec pins it too), so
    * the oracle IS q54's SQL. The centroid read-back localizes eagerly,
    * so the scratch dir can be deleted before the result is consumed. */
  private[queries] def q65(spark: SparkSession, dir: String): DataFrame = {
    val tmp = graft.ops.Scratch.tempDir("graft_q65_")
    try {
      graft.ops.IvfIndex.writeCentroids(
        Tables.embeddings(spark, dir).where(col("vec_id") < 16)
          .select(col("vec_id").as("centroid_id"), col("embedding")),
        tmp)
      annIvfPersisted(spark, dir, tmp)
    } finally rmRecursive(tmp)
  }


  // ------------------------------------------------------------------ q66
  /** Int8 quantization audit, oracle-checked: per-vector scale and worst
    * reconstruction error. err(x) = |x − round(x/scale)·scale| is
    * derivable from x alone, so DuckDB verifies the DEFINITIONAL scale/2
    * bound on every vector — the quantizer's exactness contract runs
    * under the hash compare, not just a spec. Map-side only + sort. */
  private[queries] def q66(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.spread(Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("embedding"),
        VectorOps.quantizeInt8(col("embedding")).as("q"))
    val scale = col("q").getField("scale")
    val maxErr = aggregate(
      transform(col("embedding"), x => {
        val xd = x.cast("double")
        abs(xd - round(xd / scale) * scale)
      }),
      lit(0.0), (acc, e) => greatest(acc, e))
    emb.select(col("vec_id"),
        round(scale, 6).as("scale_r"),
        round(maxErr, 6).as("max_err_r"),
        (maxErr <= scale / 2 + lit(1e-9)).as("within_bound"))
      .orderBy(col("vec_id"))
  }
  private[queries] val q66Sql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |s AS (
      |  SELECT vec_id, v,
      |         CASE WHEN list_max(list_transform(v, x -> abs(x))) = 0 THEN 1.0
      |              ELSE list_max(list_transform(v, x -> abs(x))) / 127 END AS scale
      |  FROM e),
      |m AS (
      |  SELECT vec_id, scale,
      |         list_max(list_transform(v, x -> abs(x - round(x / scale) * scale))) AS max_err
      |  FROM s)
      |SELECT vec_id, round(scale, 6) AS scale_r, round(max_err, 6) AS max_err_r,
      |       max_err <= scale / 2 + 1e-9 AS within_bound
      |FROM m ORDER BY vec_id""".stripMargin


  // ------------------------------------------------------------------ q79
  /** Signed random projection of embeddings to 8 dims — the
    * Johnson-Lindenstrauss / Achlioptas ±1 projection ("Database-friendly
    * random projections", PODS'01) every large-corpus pipeline uses to
    * cheapen downstream similarity work: distances survive within (1±ε)
    * at a fraction of the width. The projection matrix is never stored
    * or broadcast as data: sign s(i,j) ∈ {+1,−1} is a pure function of
    * (i,j) — first hex nibble of md5(i||'|'||j) < '8' — so any engine,
    * any executor, any scale regenerates the identical matrix from the
    * formula. Since it is ROW-INVARIANT it is rendered ONCE at
    * plan-build time into a literal (64×8 doubles), leaving the per-row
    * work a pure fused multiply-add over the array — no per-row hashing
    * (the first spelling md5'd in-row: 512 digests/row, ~6× slower).
    * Map-side only (one scan, no shuffle before the output sort); long
    * (vec_id, dim, v) shape keeps the oracle trivial, array_agg per
    * vec_id when a vector column is needed. */
  private[queries] def q79(spark: SparkSession, dir: String): DataFrame = {
    val D = 8; val SRC_DIM = 64 // embeddings.parquet is fixed 64-wide
    def signOf(i: Int, j: Int): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$i|$j".getBytes("UTF-8"))
      if (((hex(0) >> 4) & 0xf) < 8) 1.0 else -1.0
    }
    // signs(j) = the ±1 column for output dim j, indexable by i (1-based)
    val signs = typedLit(Seq.tabulate(D)(j => Seq.tabulate(SRC_DIM)(i => signOf(i, j))))
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        explode(sequence(lit(0), lit(D - 1))).as("dim"))
      .select(col("vec_id"), col("dim"),
        round(aggregate(
          transform(sequence(lit(1), size(col("embedding"))), i =>
            element_at(col("embedding"), i).cast("double") *
              element_at(element_at(signs, col("dim") + 1), i)),
          lit(0.0d), (acc, x) => acc + x), 4).as("v"))
      .orderBy(col("vec_id"), col("dim"))
  }
  private[queries] val q79Sql =
    """WITH u AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
      |         CAST(unnest(embedding) AS DOUBLE) AS x
      |  FROM embeddings),
      |dims AS (SELECT unnest(range(0, 8)) AS dim),
      |terms AS (
      |  SELECT vec_id, dim,
      |         x * (CASE WHEN substr(md5((i - 1) || '|' || dim), 1, 1)
      |                        BETWEEN '0' AND '7'
      |                   THEN 1.0 ELSE -1.0 END) AS t
      |  FROM u CROSS JOIN dims)
      |SELECT vec_id, dim, round(sum(t), 4) AS v
      |FROM terms GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin


  // ------------------------------------------------------------------ q87
  /** IVF-ANN recall audit — q84's calibration-audit pattern applied to
    * the vector path: run q54's IVF plan (16 cells, nprobe=2) and
    * brute-force ground truth over the SAME probes, and declare
    * recall@3 plus the candidate fraction the cell pruning actually
    * scanned. nprobe tuning at 100 TB needs this number to be a
    * measured, oracle-checked quantity, not folklore. The ground-truth
    * side is bounded by the fixed probe count (5 × corpus), the IVF
    * side is q54's own plan; both rank with the identical
    * (cos desc, vec_id) tie rule the oracle uses. */
  private[queries] def q87(spark: SparkSession, dir: String): DataFrame = {
    val K = 16
    val cents: Seq[Seq[Float]] = Tables.embeddings(spark, dir)
      .where(col("vec_id") < K).orderBy(col("vec_id"))
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toSeq).toSeq
    val cand = ivfCandidates(spark, dir, cents).persist()
    try {
      val ivf = topNeighbors(cand, 3).select(col("probe_id"), col("vec_id"))
      val emb = Tables.spread(Tables.embeddings(spark, dir))
      val probes = Tables.embeddings(spark, dir)
        .where(col("vec_id") >= K && col("vec_id") < K + 5)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe"))
      val bfCand = emb.crossJoin(broadcast(probes))
        .where(col("vec_id") =!= col("probe_id"))
        .withColumn("cos",
          CosineSimilarity.cosineSim(col("embedding"), col("probe")))
        .select(col("probe_id"), col("vec_id"), col("cos"))
      val bf = topNeighbors(bfCand, 3).select(col("probe_id"), col("vec_id"))
      val out = ivf.join(bf, Seq("probe_id", "vec_id"))
        .agg(count(lit(1)).as("h"))
        .crossJoin(cand.agg(count(lit(1)).as("nc")))
        .crossJoin(emb.agg(count(lit(1)).as("ne")))
        .select(lit(5).as("n_probes"),
          round(col("h") / 15.0, 4).as("recall_at_3"),
          round(col("nc") / (lit(5.0) * col("ne")), 4).as("avg_scan_frac"))
      Caches.collectExact(out, rows = 1)
    } finally cand.unpersist()
  }
  private[queries] val q87Sql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |c AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 16),
      |asg AS (
      |  SELECT vec_id,
      |    (SELECT c_id FROM c ORDER BY list_cosine_similarity(v, cv) DESC, c_id DESC
      |     LIMIT 1) AS cell
      |  FROM e),
      |p AS (SELECT vec_id AS probe_id, v AS pv FROM e
      |      WHERE vec_id >= 16 AND vec_id < 21),
      |pc AS (
      |  SELECT probe_id, c_id, row_number() OVER (PARTITION BY probe_id
      |    ORDER BY list_cosine_similarity(pv, cv) DESC, c_id DESC) AS rn
      |  FROM p CROSS JOIN c),
      |cand AS (
      |  SELECT p.probe_id, e.vec_id, list_cosine_similarity(p.pv, e.v) AS cos
      |  FROM p JOIN pc ON pc.probe_id = p.probe_id AND pc.rn <= 2
      |       JOIN asg a ON a.cell = pc.c_id
      |       JOIN e ON e.vec_id = a.vec_id
      |  WHERE e.vec_id <> p.probe_id),
      |ivf AS (SELECT probe_id, vec_id FROM cand
      |  QUALIFY row_number() OVER (PARTITION BY probe_id
      |    ORDER BY cos DESC, vec_id) <= 3),
      |bfc AS (SELECT p.probe_id, e.vec_id,
      |          list_cosine_similarity(p.pv, e.v) AS cos
      |        FROM p CROSS JOIN e WHERE e.vec_id <> p.probe_id),
      |bf AS (SELECT probe_id, vec_id FROM bfc
      |  QUALIFY row_number() OVER (PARTITION BY probe_id
      |    ORDER BY cos DESC, vec_id) <= 3)
      |SELECT 5 AS n_probes,
      |  round((SELECT count(*) FROM ivf JOIN bf USING (probe_id, vec_id)) / 15.0, 4)
      |    AS recall_at_3,
      |  round((SELECT count(*) FROM cand) /
      |        (5.0 * (SELECT count(*) FROM e)), 4) AS avg_scan_frac""".stripMargin


  // ------------------------------------------------------------------ q88
  /** k-means quantizer TRAINING (IvfIndex.kmeansTrain) under the oracle:
    * two Lloyd iterations from the deterministic first-8 seed, then the
    * final cell assignment — declared as per-cell member counts plus the
    * trained centroid norms (a compact fingerprint of the full centroid
    * vectors). The oracle unrolls both iterations in SQL: correlated
    * argmax assignment, per-dimension means with the same
    * double-accumulate-then-REAL-round rule, empty cells keeping their
    * previous centroid. This is the trainer behind q54/q65's quantizer
    * — per iteration the corpus is scanned once, assignment is a
    * map-side literal expression, and only K × dim partial-mean rows
    * ever shuffle. */
  private[queries] def q88(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val cents = IvfIndex.kmeansTrain(emb, k = 8, iters = 2)
    val counts = Tables.spread(emb)
      .withColumn("c_id", IvfIndex.cellOf(col("embedding"), cents))
      .groupBy(col("c_id")).agg(count(lit(1)).as("n_members"))
    val norms = cents.zipWithIndex
      .map { case (cv, i) => (i, math.sqrt(cv.map(x => x.toDouble * x).sum)) }
      .toDF("c_id", "norm")
    norms.join(counts, Seq("c_id"), "left")
      .select(col("c_id"),
        coalesce(col("n_members"), lit(0L)).as("n_members"),
        round(col("norm"), 4).as("centroid_norm"))
      .orderBy(col("c_id"))
  }
  private[queries] val q88Sql = {
    def iter(n: Int, prev: String) =
      s"""a$n AS (SELECT vec_id, v,
         |  (SELECT c_id FROM $prev ORDER BY list_cosine_similarity(v, cv) DESC, c_id DESC
         |   LIMIT 1) AS cell FROM e),
         |m$n AS (SELECT cell, i, CAST(avg(v[i]) AS REAL) AS m
         |        FROM a$n CROSS JOIN range(1, 65) r(i) GROUP BY cell, i),
         |n$n AS (SELECT cell AS c_id, list(CAST(m AS DOUBLE) ORDER BY i) AS cv
         |        FROM m$n GROUP BY cell),
         |c$n AS (SELECT c0.c_id, coalesce(n$n.cv, p.cv) AS cv
         |        FROM c0 JOIN $prev p USING (c_id)
         |        LEFT JOIN n$n USING (c_id))""".stripMargin
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c0 AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 8),
       |${iter(1, "c0")},
       |${iter(2, "c1")},
       |a3 AS (SELECT vec_id,
       |  (SELECT c_id FROM c2 ORDER BY list_cosine_similarity(v, cv) DESC, c_id DESC
       |   LIMIT 1) AS cell FROM e),
       |cnt AS (SELECT cell AS c_id, count(*) AS n_members FROM a3 GROUP BY cell)
       |SELECT c2.c_id, coalesce(cnt.n_members, 0) AS n_members,
       |  round(sqrt(list_aggregate(list_transform(c2.cv, x -> x * x), 'sum')), 4)
       |    AS centroid_norm
       |FROM c2 LEFT JOIN cnt USING (c_id)
       |ORDER BY c_id""".stripMargin
  }


  // ----------------------------------------------------------------- q116
  /** STREAMING MULTIMODAL INGEST — the multimodal × streaming-index
    * cross product no other query exercises, composed entirely from
    * production operators: documents arrive as COMPRESSED Motion-JPEG
    * video payloads in 2 micro-batches, and INSIDE the streaming plan
    * each batch is decoded ([[graft.multimodal.AviCodec.decodeFrame]]'s
    * real JDK JPEG path), pooled into a 2×2 mean-luma grid
    * ([[graft.multimodal.Multimodal.videoFrameGridsBatched]] — the
    * 4-float embedding), and fed to `StreamingPipeline.startVectorIngest`
    * (foreachBatch → `IvfIndex.probeAndAppend` → batch-tagged ANN log,
    * exactly-once generations — q105's contract with real decoded
    * pixels as the vector source instead of the embeddings table).
    * Frame quadrants are 8×8-block-aligned constant grays from table
    * formulas, so the MJPEG round-trip is bit-exact (q113's property)
    * and the oracle can replay the ENTIRE history relationally:
    * fabrication formula → feature vector → frozen first-16 quantizer →
    * per-batch corpus visibility → top-3-of-2-cells probe. A decode
    * that faked pixels, a probe that saw its own batch, or a retry that
    * duplicated a generation all hash-mismatch. Scale shape: fabricate/
    * decode/pool are narrow in-stream stages (blobs never shuffle, never
    * enter state — the corpus on storage IS the state), and each batch's
    * corpus scan is cell-pruned with the batch broadcast onto it. The
    * frozen quantizer's cell count scales as `max(16, ⌊√nBase⌋)` — a
    * FIXED K makes per-probe candidate lists grow linearly with the
    * corpus and total pair volume quadratic (the sf1 decade measured
    * 10.6× per 10× data at K=16); √n keeps candidates at ~2√n rows per
    * probe while staying oracle-replayable (a LIMIT subquery), the
    * tractable stand-in for the production path's kmeans-trained,
    * sizedConfig-scaled quantizer (q88). Centroid features decode only
    * the first K docs, and the K-sizing count reads the parquet footer
    * path, not the decode path. */
  private[queries] def q116(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.multimodal.{AviCodec, Multimodal}
    val tmp = graft.ops.Scratch.tempDir("graft_q116_")
    try {
      // one 16x16 MJPEG frame per doc; 8x8-aligned quadrant grays
      // L(d,k) = 1 + ((d+2)·(k+3) + (d² mod 97)·(k+1)) mod 249 — the
      // (d² mod 97) term keeps directions varied so cell assignment is
      // not a near-tie between collinear vectors
      def mediaOf(ids: org.apache.spark.sql.Dataset[Long]): DataFrame =
        ids.mapPartitions(_.map { docId =>
          val img = new java.awt.image.BufferedImage(
            16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < 16) {
            var x = 0
            while (x < 16) {
              val k = (y / 8) * 2 + (x / 8)
              val v = (1L + ((docId + 2L) * (k + 3L) +
                (docId * docId % 97L) * (k + 1L)) % 249L).toInt
              img.setRGB(x, y, (v << 16) | (v << 8) | v)
              x += 1
            }
            y += 1
          }
          Multimodal.MediaRecord(docId,
            AviCodec.encodeMjpg(Seq(img), rate = 10), "video/avi")
        }).toDF()
      def featsOf(ids: org.apache.spark.sql.Dataset[Long]): DataFrame =
        Multimodal.videoFrameGridsBatched(mediaOf(ids), everyN = 1, g = 2)
          .toDF()
          .select(col("doc_id").as("vec_id"), col("grid").as("embedding"))
      val ids = Tables.documents(spark, dir).select(col("doc_id"))
      val baseIds = ids.where(pmod(col("doc_id"), lit(4)) =!= 0)
      // memoized deterministic base build (the lshBaseInto rule): the
      // base split's fabricate → decode → pool pass and its first-√n
      // quantizer are bit-identical per corpus, so the decode-heavy
      // indexing runs once per JVM and the centroids persist next to the
      // corpus (the ivfFullDir layout); the STREAM batches still decode
      // inside the stream — the per-batch contract under test
      GraphFixtures.cloneIntoFor("mediaivfbase", dir, tmp) { p =>
        val K = math.max(16, math.sqrt(baseIds.count().toDouble).toInt)
        val base = featsOf(baseIds.as[Long])
        // centroids: first K base docs by id — only K docs decode here
        val centFeats = featsOf(baseIds.orderBy(col("doc_id")).limit(K).as[Long])
          .orderBy(col("vec_id"))
        val centRows = centFeats.collect()
        IvfIndex.writeCentroids(
          spark.createDataFrame(java.util.Arrays.asList(centRows: _*),
              centFeats.schema)
            .select(col("vec_id").cast("int").as("centroid_id"),
              col("embedding")),
          s"$p/centroids")
        IvfIndex.buildCorpus(base, s"$p/corpus",
          centRows.map(_.getSeq[Float](1).toSeq).toSeq)
      }
      val cents: Seq[Seq[Float]] =
        IvfIndex.loadCentroids(spark, s"$tmp/centroids")
      // stream feed: 2 micro-batches of doc ids in doc_id order
      val streamIds = ids.where(pmod(col("doc_id"), lit(4)) === 0)
        .as[Long].collect().sorted
      val per = math.max(1, math.ceil(streamIds.length / 2.0).toInt)
      val chunks = streamIds.grouped(per).toArray
      val mem = MemoryStream[Long]
      val q = graft.streaming.StreamingPipeline.startVectorIngest(
        featsOf(mem.toDS()),
        corpusPath = s"$tmp/corpus", annDir = s"$tmp/ann",
        checkpointDir = s"$tmp/ckpt", cents = cents,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      try chunks.foreach { c => mem.addData(c.toSeq); q.processAllAvailable() }
      finally q.stop()
      localizeRows(
        spark.read.parquet(s"$tmp/ann")
          .select(col("probe_id"), col("rn"), col("neighbor_id"), col("cos_sim")),
        Seq("probe_id", "rn"))
    } finally rmRecursive(tmp)
  }
  private[queries] val q116Sql =
    """WITH v AS (
      |  SELECT doc_id AS vec_id,
      |    list_transform(range(4), k -> CAST(1 + ((doc_id + 2) * (k + 3)
      |      + (doc_id * doc_id % 97) * (k + 1)) % 249 AS DOUBLE)) AS v
      |  FROM documents),
      |base AS (SELECT vec_id, v FROM v WHERE vec_id % 4 <> 0),
      |c AS (SELECT vec_id AS c_id, v AS cv FROM (
      |        SELECT * FROM base ORDER BY vec_id
      |        LIMIT (SELECT CAST(greatest(16, floor(sqrt(count(*)))) AS BIGINT)
      |               FROM base))),
      |s AS (SELECT vec_id, v,
      |        (row_number() OVER (ORDER BY vec_id) - 1)
      |          // CAST(ceil(count(*) OVER () / 2.0) AS BIGINT) AS b
      |      FROM v WHERE vec_id % 4 = 0),
      |univ AS (SELECT vec_id, v, -1 AS b FROM base
      |         UNION ALL SELECT vec_id, v, b FROM s),
      |asg AS (SELECT vec_id, v, b,
      |          (SELECT c_id FROM c ORDER BY list_cosine_similarity(v, cv) DESC, c_id DESC
      |           LIMIT 1) AS cell
      |        FROM univ),
      |pc AS (SELECT p.vec_id AS probe_id, p.b AS pb, p.v AS pv, c.c_id,
      |         row_number() OVER (PARTITION BY p.vec_id
      |           ORDER BY list_cosine_similarity(p.v, cv) DESC, c_id DESC) AS crn
      |       FROM s p CROSS JOIN c),
      |cand AS (SELECT pc.probe_id, a.vec_id, list_cosine_similarity(pc.pv, a.v) AS cos
      |         FROM pc JOIN asg a ON a.cell = pc.c_id AND pc.crn <= 2
      |         WHERE a.b < pc.pb)
      |SELECT probe_id,
      |       row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rn,
      |       vec_id AS neighbor_id, round(cos, 4) AS cos_sim
      |FROM cand
      |QUALIFY rn <= 3
      |ORDER BY probe_id, rn""".stripMargin


  // ----------------------------------------------------------------- q123
  /** Product-quantization ANN with asymmetric distance (PQ/ADC — Jégou,
    * Douze, Schmid, TPAMI 2011): the 64-dim embedding splits into M=4
    * subvectors of 16 dims, each subspace gets its own K=16 codebook
    * (the frozen first-16-base convention of q54/q97 — production runs
    * per-subspace k-means through the same `kmeansTrain` plumbing), and
    * every corpus vector is ENCODED to 4 small codes: 64 floats → 4
    * code bytes, the 64× compression that lets a 100 TB corpus's index
    * live in RAM. A probe scores candidates asymmetrically — true probe
    * vector vs the candidate's RECONSTRUCTION (its codebook centroids
    * concatenated), which is exactly Σₘ ‖probe_m − c_m(code_m)‖²
    * computed as one 64-dim fold.
    *
    * Scale shape: codebooks are plan-time literals (like q54's coarse
    * quantizer), so ENCODING is a pure map-side pass — zero shuffle, no
    * join, no codebook table anywhere; probes broadcast; the only
    * corpus-sized movement is the top-k window on (probe, adc). Ties in
    * both argmin (code assignment → lower code id) and ranking
    * (→ lower vec_id) are pinned so the oracle is exact. */
  /** The frozen PQ codebooks of q123/q124/q125: 4 subspaces × 16
    * centroids, each centroid the matching 16-dim slice of one of the
    * first 16 base vectors (the q54/q97 frozen-quantizer convention —
    * production trains per-subspace k-means through q88's plumbing). */
  private[queries] def pqBase(spark: SparkSession, dir: String): Seq[Seq[Float]] =
    Tables.embeddings(spark, dir)
      .where(col("vec_id") < 16).orderBy(col("vec_id"))
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toSeq).toSeq

  /** PQ-encode the corpus map-side: (vec_id, c0..c3, recon[, cell]).
    * Codebooks ride the plan as literals — no join, no shuffle; `recon`
    * is the candidate-side reconstruction ADC scores against. Argmin
    * ties go to the LOWER code id (array_min on (dist, k) structs
    * compares dist first, then k). */
  private[queries] def pqCoded(spark: SparkSession, dir: String,
      base: Seq[Seq[Float]], withCell: Boolean = false): DataFrame = {
    // encoding/reconstruction expressions live in ops.PqIndex (the
    // persisted-code-table operator, q138) — one source of truth for
    // the argmin tie rule and the when-chain reconstruction
    import graft.ops.PqIndex
    val cols = Seq(col("vec_id")) ++
      (0 until PqIndex.M).map(m =>
        PqIndex.codeOf(col("embedding"), base, m).as(s"c$m")) ++
      (if (withCell)
        Seq(graft.ops.IvfIndex.cellOf(col("embedding"), base).as("cell"))
      else Nil)
    Tables.spread(Tables.embeddings(spark, dir)).select(cols: _*)
      .withColumn("recon", PqIndex.reconOf(m => col(s"c$m"), base))
  }

  private[queries] def q123(spark: SparkSession, dir: String): DataFrame = {
    val K = 16
    val coded = pqCoded(spark, dir, pqBase(spark, dir))
    val probes = Tables.embeddings(spark, dir)
      .where(col("vec_id") >= K && col("vec_id") < K + 5)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("adc"), col("vec_id"))
    coded.crossJoin(broadcast(probes))
      .where(col("vec_id") =!= col("probe_id"))
      .withColumn("adc", VectorOps.l2Sq(col("probe"), col("recon")))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .select(col("probe_id"), col("rn"), col("vec_id").as("neighbor_id"),
        round(col("adc"), 4).as("adc_dist"))
      .orderBy(col("probe_id"), col("rn"))
  }
  /** Shared oracle CTE prefix of the PQ family (q123/q124/q125): the
    * sub-vector split, codebooks, per-(vec, subspace) code assignment
    * (same argmin tie rule as `pqCoded`), reconstruction, and the probe
    * set. Lazy: referenced by vals that may initialize before this
    * trait's fields (the q112 lesson). */
  private[queries] lazy val pqCtes: String =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |ms AS (SELECT CAST(unnest(range(4)) AS INT) AS m),
      |sub AS (SELECT vec_id, m, v[m * 16 + 1 : (m + 1) * 16] AS sv
      |        FROM e CROSS JOIN ms),
      |c AS (SELECT vec_id AS c_id, m, sv AS cv FROM sub WHERE vec_id < 16),
      |codes AS (
      |  SELECT vec_id, m, code FROM (
      |    SELECT s.vec_id, s.m, c.c_id AS code,
      |           row_number() OVER (PARTITION BY s.vec_id, s.m
      |             ORDER BY list_sum(list_transform(range(16),
      |               i -> (sv[i + 1] - cv[i + 1]) ^ 2)) ASC, c.c_id ASC) AS arn
      |    FROM sub s JOIN c ON c.m = s.m)
      |  WHERE arn = 1),
      |recon AS (
      |  SELECT codes.vec_id, flatten(list(cv ORDER BY codes.m)) AS r
      |  FROM codes JOIN c ON c.m = codes.m AND c.c_id = codes.code
      |  GROUP BY codes.vec_id),
      |p AS (SELECT vec_id AS probe_id, v AS pv FROM e
      |      WHERE vec_id >= 16 AND vec_id < 21)""".stripMargin

  private[queries] lazy val q123Sql =
    s"""WITH $pqCtes,
      |adc AS (
      |  SELECT p.probe_id, r.vec_id,
      |         list_sum(list_transform(range(64),
      |           i -> (p.pv[i + 1] - r.r[i + 1]) ^ 2)) AS adc
      |  FROM recon r CROSS JOIN p
      |  WHERE r.vec_id <> p.probe_id)
      |SELECT probe_id,
      |       row_number() OVER (PARTITION BY probe_id
      |         ORDER BY adc ASC, vec_id) AS rn,
      |       vec_id AS neighbor_id, round(adc, 4) AS adc_dist
      |FROM adc
      |QUALIFY rn <= 3
      |ORDER BY probe_id, rn""".stripMargin


  // ----------------------------------------------------------------- q124
  /** IVF + PQ combined (IVFADC without residual encoding — the
    * `by_residual = false` spelling of Jégou et al.'s IVFADC, i.e. a
    * FAISS `IndexIVFPQ` shape): q54's coarse quantizer prunes the
    * candidate set to the probe's nprobe=2 cells, and PQ's asymmetric
    * distance ranks the survivors — the index that makes BOTH the scan
    * (cell pruning) and the per-candidate cost (4 code bytes + a
    * table-free reconstruction distance) sublinear. One corpus pass
    * computes cell AND codes map-side off the same literals; the only
    * corpus-sized movement stays the top-k window. */
  private[queries] def q124(spark: SparkSession, dir: String): DataFrame = {
    val K = 16; val NPROBE = 2
    val base = pqBase(spark, dir)
    val coded = pqCoded(spark, dir, base, withCell = true)
    val probes = Tables.embeddings(spark, dir)
      .where(col("vec_id") >= K && col("vec_id") < K + 5)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe"),
        graft.ops.IvfIndex.topCellsOf(col("embedding"), base, NPROBE)
          .as("pcells"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("adc"), col("vec_id"))
    coded.crossJoin(broadcast(probes))
      .where(array_contains(col("pcells"), col("cell")) &&
        col("vec_id") =!= col("probe_id"))
      .withColumn("adc", VectorOps.l2Sq(col("probe"), col("recon")))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .select(col("probe_id"), col("rn"), col("vec_id").as("neighbor_id"),
        round(col("adc"), 4).as("adc_dist"))
      .orderBy(col("probe_id"), col("rn"))
  }
  private[queries] lazy val q124Sql =
    s"""WITH $pqCtes,
      |fc AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 16),
      |asg AS (
      |  SELECT vec_id,
      |    (SELECT c_id FROM fc ORDER BY list_cosine_similarity(v, cv) DESC, c_id DESC
      |     LIMIT 1) AS cell
      |  FROM e),
      |pcells AS (
      |  SELECT probe_id, c_id, row_number() OVER (PARTITION BY probe_id
      |    ORDER BY list_cosine_similarity(pv, cv) DESC, c_id DESC) AS crn
      |  FROM p CROSS JOIN fc),
      |adc AS (
      |  SELECT p.probe_id, r.vec_id,
      |         list_sum(list_transform(range(64),
      |           i -> (p.pv[i + 1] - r.r[i + 1]) ^ 2)) AS adc
      |  FROM p JOIN pcells ON pcells.probe_id = p.probe_id AND pcells.crn <= 2
      |       JOIN asg a ON a.cell = pcells.c_id
      |       JOIN recon r ON r.vec_id = a.vec_id
      |  WHERE r.vec_id <> p.probe_id)
      |SELECT probe_id,
      |       row_number() OVER (PARTITION BY probe_id
      |         ORDER BY adc ASC, vec_id) AS rn,
      |       vec_id AS neighbor_id, round(adc, 4) AS adc_dist
      |FROM adc
      |QUALIFY rn <= 3
      |ORDER BY probe_id, rn""".stripMargin


  // ----------------------------------------------------------------- q125
  /** The two-stage PQ search frames shared by q125/q126: the ADC
    * shortlist (top-`sl` per probe by reconstruction distance — the
    * cheap pass that reads 4 code bytes per candidate) and its exact
    * re-rank (the refine step every production PQ deployment runs:
    * shortlist ids broadcast back against the corpus scan to fetch
    * full-precision vectors, exact L2 top-3). */
  private[queries] def pqRerank(spark: SparkSession, dir: String,
      sl: Int): (DataFrame, DataFrame) = {
    val K = 16
    val coded = pqCoded(spark, dir, pqBase(spark, dir))
    val probes = Tables.embeddings(spark, dir)
      .where(col("vec_id") >= K && col("vec_id") < K + 5)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe"))
    val wAdc = Window.partitionBy(col("probe_id"))
      .orderBy(col("adc"), col("vec_id"))
    val shortl = coded.crossJoin(broadcast(probes))
      .where(col("vec_id") =!= col("probe_id"))
      .withColumn("adc", VectorOps.l2Sq(col("probe"), col("recon")))
      .withColumn("srn", row_number().over(wAdc)).where(col("srn") <= sl)
      .select(col("probe_id"), col("vec_id"))
    val wL2 = Window.partitionBy(col("probe_id"))
      .orderBy(col("d2"), col("vec_id"))
    val rer = Tables.spread(Tables.embeddings(spark, dir))
      .join(broadcast(shortl), Seq("vec_id"))
      .join(broadcast(probes), Seq("probe_id"))
      .withColumn("d2", VectorOps.l2Sq(col("probe"), col("embedding")))
      .withColumn("rn", row_number().over(wL2)).where(col("rn") <= 3)
    (shortl, rer)
  }

  /** PQ recall + quantization-collapse audit — q87's calibration-audit
    * contract for the PQ path: per probe, (a) raw ADC top-3 and (b) the
    * production shortlist-50 + exact-re-rank top-3 (q126's operator),
    * each vs exact full-precision L2 top-3 ground truth → two declared
    * recalls, plus the shortlist's scan fraction and the number of
    * DISTINCT code words the corpus uses (a collapsed codebook — few
    * distinct codes — is the classic silent PQ failure). On this
    * synthetic corpus the numbers honestly expose PQ's limit on
    * near-random vectors (distance concentration): raw ADC recall ~0,
    * re-rank recovers a chunk of it at a declared scan cost — exactly
    * the trust-the-sketch-on-YOUR-distribution report the audit family
    * exists to produce (q84/q108's charter). */
  private[queries] def q125(spark: SparkSession, dir: String): DataFrame = {
    val K = 16
    val coded = pqCoded(spark, dir, pqBase(spark, dir))
    val probes = Tables.embeddings(spark, dir)
      .where(col("vec_id") >= K && col("vec_id") < K + 5)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe"))
    val wAdc = Window.partitionBy(col("probe_id"))
      .orderBy(col("adc"), col("vec_id"))
    val pq = coded.crossJoin(broadcast(probes))
      .where(col("vec_id") =!= col("probe_id"))
      .withColumn("adc", VectorOps.l2Sq(col("probe"), col("recon")))
      .withColumn("rn", row_number().over(wAdc)).where(col("rn") <= 3)
      .select(col("probe_id"), col("vec_id"))
    val (shortl, rerFull) = pqRerank(spark, dir, sl = 50)
    val rer = rerFull.select(col("probe_id"), col("vec_id"))
    val wL2 = Window.partitionBy(col("probe_id"))
      .orderBy(col("d2"), col("vec_id"))
    val bf = Tables.spread(Tables.embeddings(spark, dir))
      .crossJoin(broadcast(probes))
      .where(col("vec_id") =!= col("probe_id"))
      .withColumn("d2", VectorOps.l2Sq(col("probe"), col("embedding")))
      .withColumn("rn", row_number().over(wL2)).where(col("rn") <= 3)
      .select(col("probe_id"), col("vec_id"))
    val out = pq.join(bf, Seq("probe_id", "vec_id"))
      .agg(count(lit(1)).as("h"))
      .crossJoin(rer.join(bf, Seq("probe_id", "vec_id"))
        .agg(count(lit(1)).as("h2")))
      .crossJoin(shortl.agg(count(lit(1)).as("nsl")))
      .crossJoin(coded.agg(countDistinct(
        col("c0"), col("c1"), col("c2"), col("c3")).as("n_codes"),
        count(lit(1)).as("ne")))
      .select(lit(5).as("n_probes"),
        round(col("h") / 15.0, 4).as("adc_recall_at_3"),
        round(col("h2") / 15.0, 4).as("rerank_recall_at_3"),
        round(col("nsl") / (lit(5.0) * col("ne")), 4).as("rerank_scan_frac"),
        col("n_codes").as("n_distinct_codes"))
    Caches.collectExact(out, rows = 1)
  }
  /** Shared two-stage CTEs (the shortlist + re-rank of q125/q126). */
  private[queries] lazy val pqRerankCtes: String =
    """adc AS (
      |  SELECT p.probe_id, r.vec_id,
      |         list_sum(list_transform(range(64),
      |           i -> (p.pv[i + 1] - r.r[i + 1]) ^ 2)) AS adc
      |  FROM recon r CROSS JOIN p
      |  WHERE r.vec_id <> p.probe_id),
      |shortl AS (SELECT probe_id, vec_id FROM adc
      |  QUALIFY row_number() OVER (PARTITION BY probe_id
      |    ORDER BY adc ASC, vec_id) <= 50),
      |rerc AS (
      |  SELECT s.probe_id, s.vec_id,
      |         list_sum(list_transform(range(64),
      |           i -> (p.pv[i + 1] - e.v[i + 1]) ^ 2)) AS d2
      |  FROM shortl s JOIN e USING (vec_id) JOIN p USING (probe_id)),
      |rer AS (SELECT probe_id, vec_id, d2,
      |    row_number() OVER (PARTITION BY probe_id
      |      ORDER BY d2 ASC, vec_id) AS rn
      |  FROM rerc QUALIFY rn <= 3)""".stripMargin

  private[queries] lazy val q125Sql =
    s"""WITH $pqCtes,
      |$pqRerankCtes,
      |pq AS (SELECT probe_id, vec_id FROM adc
      |  QUALIFY row_number() OVER (PARTITION BY probe_id
      |    ORDER BY adc ASC, vec_id) <= 3),
      |bfc AS (
      |  SELECT p.probe_id, e.vec_id,
      |         list_sum(list_transform(range(64),
      |           i -> (p.pv[i + 1] - e.v[i + 1]) ^ 2)) AS d2
      |  FROM e CROSS JOIN p WHERE e.vec_id <> p.probe_id),
      |bf AS (SELECT probe_id, vec_id FROM bfc
      |  QUALIFY row_number() OVER (PARTITION BY probe_id
      |    ORDER BY d2 ASC, vec_id) <= 3),
      |cw AS (SELECT count(DISTINCT l) AS n_codes FROM (
      |  SELECT vec_id, list(code ORDER BY m) AS l FROM codes GROUP BY vec_id))
      |SELECT 5 AS n_probes,
      |  round((SELECT count(*) FROM pq JOIN bf USING (probe_id, vec_id)) / 15.0, 4)
      |    AS adc_recall_at_3,
      |  round((SELECT count(*) FROM rer JOIN bf USING (probe_id, vec_id)) / 15.0, 4)
      |    AS rerank_recall_at_3,
      |  round((SELECT count(*) FROM shortl) /
      |        (5.0 * (SELECT count(*) FROM e)), 4) AS rerank_scan_frac,
      |  (SELECT n_codes FROM cw) AS n_distinct_codes""".stripMargin


  // ----------------------------------------------------------------- q126
  /** PQ shortlist + exact re-rank — the operator production PQ systems
    * actually serve (FAISS refine / two-stage retrieval): the ADC pass
    * scans 4 CODE BYTES per candidate to shortlist 50, then ONLY the
    * shortlist's full-precision vectors are fetched (ids broadcast back
    * against the corpus scan — a semi-join fetch, never a full-corpus
    * second pass) and exact L2 re-ranks the top-3. Compression does the
    * heavy scan, full precision does the final ordering; the shortlist
    * size is the declared recall/cost dial q125 audits. */
  private[queries] def q126(spark: SparkSession, dir: String): DataFrame = {
    val (_, rer) = pqRerank(spark, dir, sl = 50)
    rer.select(col("probe_id"), col("rn"), col("vec_id").as("neighbor_id"),
        round(col("d2"), 4).as("l2_dist"))
      .orderBy(col("probe_id"), col("rn"))
  }
  private[queries] lazy val q126Sql =
    s"""WITH $pqCtes,
      |$pqRerankCtes
      |SELECT probe_id, rn, vec_id AS neighbor_id, round(d2, 4) AS l2_dist
      |FROM rer
      |ORDER BY probe_id, rn""".stripMargin


  // ----------------------------------------------------------------- q138
  /** STREAMING PQ ingest — the lifecycle twin q92/q105/q112 gave the
    * LSH/IVF/SimHash families, now for the COMPRESSED vector index
    * (ops/PqIndex): the base corpus (vec_id % 4 != 0) is PQ-encoded
    * under codebooks frozen from its own first 16 vectors and persisted
    * as a generation-keyed code table; the stream vectors (vec_id % 4
    * == 0) are fed in 2 vec_id-ordered micro-batches through the
    * production `StreamingPipeline.startPqIngest` — each batch
    * ADC-probes the PRE-batch table (true probe floats vs candidate
    * reconstructions), logs its top-3 per vector, and appends its own 4
    * code ints per vector for the next batch to match against. The
    * oracle recomputes the WHOLE thing from scratch in SQL — codebook
    * slices, per-subspace argmin codes (same lower-code-id tie),
    * reconstructions, the IVF cell assignments and nprobe=2 probe
    * short-list (the codebook vectors double as coarse centroids —
    * q124's IVFPQ shape in the stream), ADC, and the b(atch)-visibility
    * rule `r.b < p.b`: the hash only matches if in-stream encoding,
    * the generation-keyed appends, the CELL PRUNING and the pre-batch
    * exclusion together produce exactly the from-scratch incremental
    * IVFADC result. Scale shape: per batch the corpus side moves 4
    * code ints + 1 cell int/vector (never floats), each probe scans
    * only its nprobe/K cell fraction (the flat-ADC spelling measured
    * 33×/decade at the r13 sf1 sweep — the pruning is the fix),
    * reconstruction is a literal when-chain, probes broadcast; the
    * stream's own state store is EMPTY — the code table on storage IS
    * the state. */
  private[queries] def q138(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = graft.ops.Scratch.tempDir("graft_q138_")
    try {
      val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
      val isStream = pmod(col("vec_id"), lit(4)) === 0
      val baseCorpus = emb.where(!isStream)
      val base: Seq[Seq[Float]] = baseCorpus.orderBy(col("vec_id")).limit(16)
        .select(col("embedding")).collect().map(_.getSeq[Float](0).toSeq).toSeq
      // IVFPQ composition (q124's shape in the stream): the codebook
      // vectors double as coarse centroids; cells ride next to the
      // codes and each probe scans only its nprobe=2 cells — a flat
      // ADC stream ingest is probes × corpus and measured 33×/decade
      // at sf1, the pruned probe restores ≤ nprobe/K of that.
      val prune = Some((base, 2))
      // memoized deterministic base build (the lshBaseInto rule): codes
      // under the frozen codebooks are bit-identical per corpus
      GraphFixtures.cloneIntoFor("pqbase", dir, s"$tmp/codes", base, 4)(p =>
        graft.ops.PqIndex.buildCodes(baseCorpus, p, base, files = 4,
          cellCents = Some(base)))
      val rows = fixtureSlice(emb.where(isStream).as[(Long, Seq[Float])]).sortBy(_._1)
      val per = math.max(1, math.ceil(rows.length / 2.0).toInt)
      val chunks = rows.grouped(per).toArray
      val mem = MemoryStream[(Long, Seq[Float])]
      val q = graft.streaming.StreamingPipeline.startPqIngest(
        mem.toDF().toDF("vec_id", "embedding"),
        codesPath = s"$tmp/codes", annDir = s"$tmp/ann",
        checkpointDir = s"$tmp/ckpt", base = base,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0),
        prune = prune)
      try chunks.foreach { c => mem.addData(c.toSeq); q.processAllAvailable() }
      finally q.stop()
      localizeRows(
        spark.read.parquet(s"$tmp/ann")
          .select(col("probe_id"), col("rn"), col("neighbor_id"),
            col("adc_dist")),
        Seq("probe_id", "rn"))
    } finally rmRecursive(tmp)
  }
  private[queries] val q138Sql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |base AS (SELECT vec_id, v FROM e WHERE vec_id % 4 <> 0),
      |cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c_id, v
      |       FROM (SELECT * FROM base ORDER BY vec_id LIMIT 16)),
      |ms AS (SELECT CAST(unnest(range(4)) AS INT) AS m),
      |c AS (SELECT c_id, m, v[m * 16 + 1 : (m + 1) * 16] AS cv
      |      FROM cb CROSS JOIN ms),
      |s AS (SELECT vec_id, v,
      |        (row_number() OVER (ORDER BY vec_id) - 1)
      |          // CAST(ceil(count(*) OVER () / 2.0) AS BIGINT) AS b
      |      FROM e WHERE vec_id % 4 = 0),
      |univ AS (SELECT vec_id, v, -1 AS b FROM base
      |         UNION ALL SELECT vec_id, v, b FROM s),
      |sub AS (SELECT vec_id, b, m, v[m * 16 + 1 : (m + 1) * 16] AS sv
      |        FROM univ CROSS JOIN ms),
      |codes AS (SELECT vec_id, b, m, code FROM (
      |    SELECT sub.vec_id, sub.b, sub.m, c.c_id AS code,
      |           row_number() OVER (PARTITION BY sub.vec_id, sub.m
      |             ORDER BY list_sum(list_transform(range(16),
      |               i -> (sv[i + 1] - cv[i + 1]) ^ 2)) ASC, c.c_id ASC) AS arn
      |    FROM sub JOIN c ON c.m = sub.m)
      |  WHERE arn = 1),
      |recon AS (SELECT codes.vec_id, max(codes.b) AS b,
      |                 flatten(list(cv ORDER BY codes.m)) AS r
      |          FROM codes JOIN c ON c.m = codes.m AND c.c_id = codes.code
      |          GROUP BY codes.vec_id),
      |asg AS (SELECT u.vec_id,
      |          (SELECT c_id FROM cb
      |           ORDER BY list_cosine_similarity(u.v, cb.v) DESC, c_id DESC
      |           LIMIT 1) AS cell
      |        FROM univ u),
      |pc AS (SELECT p.vec_id AS probe_id, cb.c_id,
      |              row_number() OVER (PARTITION BY p.vec_id
      |                ORDER BY list_cosine_similarity(p.v, cb.v) DESC,
      |                         cb.c_id DESC) AS crn
      |       FROM s p CROSS JOIN cb),
      |adc AS (SELECT p.vec_id AS probe_id, r.vec_id,
      |               list_sum(list_transform(range(64),
      |                 i -> (p.v[i + 1] - r.r[i + 1]) ^ 2)) AS adc
      |        FROM s p
      |        JOIN pc ON pc.probe_id = p.vec_id AND pc.crn <= 2
      |        JOIN asg a ON a.cell = pc.c_id
      |        JOIN recon r ON r.vec_id = a.vec_id AND r.b < p.b)
      |SELECT probe_id,
      |       row_number() OVER (PARTITION BY probe_id
      |         ORDER BY adc ASC, vec_id) AS rn,
      |       vec_id AS neighbor_id, round(adc, 4) AS adc_dist
      |FROM adc
      |QUALIFY rn <= 3
      |ORDER BY probe_id, rn""".stripMargin

  // ----------------------------------------------------------------- q148
  /** NN-Descent k-NN-graph construction (Dong et al., WWW 2011) — the
    * graph-ANN family's BUILD step, next to the table families (LSH
    * q24, IVF q54, PQ q123): start every node with k pseudo-random
    * neighbors and iterate "a neighbor of a neighbor is probably a
    * neighbor" — each round symmetrizes the current graph, proposes
    * all pairs that share a common node (the LOCAL JOIN: ≤ (2k choose
    * 2) candidate pairs per node, never all-pairs), scores them, and
    * keeps each node's top-k. Two fixed rounds, relationally unrolled,
    * oracle-replayed step for step (the closed-form-iteration
    * precedent of q88/q94/q139); cosine rides the same
    * [[CosineSimilarity]] expression q23 bit-pins against DuckDB. The
    * output carries an HONEST per-edge `is_true` audit against exact
    * top-k for the 50 reported nodes — recall is a measured property,
    * not a promise. Scale shape: every step is keyed — the local join
    * shuffles on the shared node, the two embedding fetches and the
    * top-k window shuffle on vec_id; candidate volume is O(n·k²) per
    * round by construction. The audit's crossJoin is
    * `crossJoin(broadcast(50 probes))`, the standard bounded ANN
    * scan. */
  /** q148's two-round NN-Descent k-NN graph (k = 4), shared by the
    * build query (q148, which audits it edge-by-edge) and the beam
    * search that traverses it (q163). Returns the settled
    * (src, dst, cos) edge list — bounded at n·k rows by construction,
    * memoized per JVM (the build is deterministic; [[GraphFixtures]]). */
  private def nnDescentGraph(spark: SparkSession, dir: String): DataFrame =
    GraphFixtures.fullNnEdges(spark, dir)

  private[queries] def q148(spark: SparkSession, dir: String): DataFrame = {
    val k = 4
    val emb = Tables.spread(Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("embedding"))
    val e2 = nnDescentGraph(spark, dir)
    val probes = Tables.embeddings(spark, dir).where(col("vec_id") < 50)
      .select(col("vec_id").as("src"), col("embedding").as("probe"))
    val wTrue = Window.partitionBy(col("src"))
      .orderBy(col("cos").desc, col("dst"))
    val truth = emb.crossJoin(broadcast(probes))
      .where(col("vec_id") =!= col("src"))
      .select(col("src"), col("vec_id").as("dst"),
        CosineSimilarity.cosineSim(col("embedding"), col("probe")).as("cos"))
      .withColumn("rn", row_number().over(wTrue)).where(col("rn") <= k)
      .select(col("src"), col("dst"), lit(true).as("is_true"))
    val wOut = Window.partitionBy(col("src")).orderBy(col("cos").desc, col("dst"))
    e2.where(col("src") < 50)
      .join(truth, Seq("src", "dst"), "left")
      .select(col("src"), row_number().over(wOut).as("rn"),
        col("dst").as("neighbor_id"), round(col("cos"), 4).as("cos_sim"),
        coalesce(col("is_true"), lit(false)).as("is_true"))
      .orderBy(col("src"), col("rn"))
  }
  /** The CTE chain producing the NN-Descent graph `e2` over the
    * embedding relation `e` — the shared oracle prefix of q148Sql
    * (audit) and q163Sql (beam search). */
  private[queries] def nnGraphCtesOver(eBody: String): String =
    s"""e AS ($eBody),
      |nn AS (SELECT count(*) AS n FROM e),
      |rk AS MATERIALIZED (
      |  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS idx FROM e),
      |init AS (
      |  SELECT f.src, r2.vec_id AS dst
      |  FROM (SELECT v.vec_id AS src,
      |               CASE WHEN v.d0 = v.idx THEN (v.d0 + 1) % v.n ELSE v.d0 END AS fidx
      |        FROM (SELECT vec_id, idx, (vec_id * 37 + j.j * 101 + 1) % nn.n AS d0, nn.n AS n
      |              FROM rk CROSS JOIN nn CROSS JOIN (SELECT unnest(range(1, 5)) AS j) j) v) f
      |  JOIN rk r2 ON r2.idx = f.fidx),
      |c0 AS (SELECT i.src, i.dst, list_cosine_similarity(a.emb, b.emb) AS cos
      |       FROM init i JOIN e a ON a.vec_id = i.src JOIN e b ON b.vec_id = i.dst),
      |e0 AS (SELECT src, dst, cos FROM (
      |        SELECT src, dst, cos, row_number() OVER (PARTITION BY src
      |          ORDER BY cos DESC, dst) AS rn
      |        FROM (SELECT src, dst, max(cos) AS cos FROM c0 GROUP BY 1, 2))
      |       WHERE rn <= 4),
      |u1 AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
      |p1 AS (SELECT DISTINCT x.dst AS src, y.dst AS dst
      |       FROM u1 x JOIN u1 y ON x.src = y.src AND x.dst < y.dst),
      |c1 AS (SELECT p.src, p.dst, list_cosine_similarity(a.emb, b.emb) AS cos
      |       FROM p1 p JOIN e a ON a.vec_id = p.src JOIN e b ON b.vec_id = p.dst),
      |m1 AS (SELECT src, dst, cos FROM e0
      |       UNION ALL SELECT src, dst, cos FROM c1
      |       UNION ALL SELECT dst, src, cos FROM c1),
      |e1 AS (SELECT src, dst, cos FROM (
      |        SELECT src, dst, cos, row_number() OVER (PARTITION BY src
      |          ORDER BY cos DESC, dst) AS rn
      |        FROM (SELECT src, dst, max(cos) AS cos FROM m1 GROUP BY 1, 2))
      |       WHERE rn <= 4),
      |u2 AS (SELECT src, dst FROM e1 UNION ALL SELECT dst, src FROM e1),
      |p2 AS (SELECT DISTINCT x.dst AS src, y.dst AS dst
      |       FROM u2 x JOIN u2 y ON x.src = y.src AND x.dst < y.dst),
      |c2 AS (SELECT p.src, p.dst, list_cosine_similarity(a.emb, b.emb) AS cos
      |       FROM p2 p JOIN e a ON a.vec_id = p.src JOIN e b ON b.vec_id = p.dst),
      |m2 AS (SELECT src, dst, cos FROM e1
      |       UNION ALL SELECT src, dst, cos FROM c2
      |       UNION ALL SELECT dst, src, cos FROM c2),
      |e2 AS (SELECT src, dst, cos FROM (
      |        SELECT src, dst, cos, row_number() OVER (PARTITION BY src
      |          ORDER BY cos DESC, dst) AS rn
      |        FROM (SELECT src, dst, max(cos) AS cos FROM m2 GROUP BY 1, 2))
      |       WHERE rn <= 4)""".stripMargin

  private lazy val nnGraphCtes = nnGraphCtesOver(
    "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings")

  private[queries] lazy val q148Sql =
    s"""WITH $nnGraphCtes,
      |truth AS (SELECT src, dst FROM (
      |        SELECT p.vec_id AS src, c.vec_id AS dst,
      |               row_number() OVER (PARTITION BY p.vec_id
      |                 ORDER BY list_cosine_similarity(c.emb, p.emb) DESC,
      |                          c.vec_id) AS rn
      |        FROM e c CROSS JOIN (SELECT * FROM e WHERE vec_id < 50) p
      |        WHERE c.vec_id <> p.vec_id)
      |       WHERE rn <= 4)
      |SELECT g.src,
      |       row_number() OVER (PARTITION BY g.src
      |         ORDER BY g.cos DESC, g.dst) AS rn,
      |       g.dst AS neighbor_id, round(g.cos, 4) AS cos_sim,
      |       t.dst IS NOT NULL AS is_true
      |FROM e2 g LEFT JOIN truth t ON t.src = g.src AND t.dst = g.dst
      |WHERE g.src < 50
      |ORDER BY g.src, rn""".stripMargin

  // ----------------------------------------------------------------- q152
  /** Hard-negative mining for contrastive/embedding training — for each
    * anchor, the most-similar vectors of a DIFFERENT label (the
    * "hardest" negatives: high-cosine cross-class pairs are what a
    * triplet/InfoNCE loss learns most from), with a near-dup ceiling
    * (cos < 0.95) so mislabeled duplicates cannot poison the negative
    * set — the standard two-guard recipe (e.g. SBERT/DPR hard-negative
    * mining). 20 anchors broadcast against the corpus (q23's bounded
    * ANN-scan shape: one map-side pass, per-anchor top-3 window);
    * cosine rides the bit-pinned [[CosineSimilarity]] expression. At
    * fleet scale the brute-force scan swaps for the IVF/PQ shortlist
    * (q126's two-stage serve) with the same label-filter + ceiling
    * semantics. */
  private[queries] def q152(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.spread(Tables.embeddings(spark, dir))
    val anchors = Tables.embeddings(spark, dir).where(col("vec_id") < 20)
      .select(col("vec_id").as("anchor_id"), col("embedding").as("anchor"),
        col("label").as("anchor_label"))
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    emb.crossJoin(broadcast(anchors))
      .where(col("label") =!= col("anchor_label"))
      .withColumn("cos",
        CosineSimilarity.cosineSim(col("embedding"), col("anchor")))
      .where(col("cos") < 0.95)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .select(col("anchor_id"), col("anchor_label"), col("rn"),
        col("vec_id").as("negative_id"), col("label").as("negative_label"),
        round(col("cos"), 4).as("cos_sim"))
      .orderBy(col("anchor_id"), col("rn"))
  }
  private[queries] val q152Sql =
    """WITH a AS (SELECT vec_id AS anchor_id,
      |                  CAST(embedding AS DOUBLE[]) AS anchor,
      |                  label AS anchor_label
      |           FROM embeddings WHERE vec_id < 20),
      |s AS (SELECT a.anchor_id, a.anchor_label, e.vec_id, e.label,
      |             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
      |                                    a.anchor) AS cos
      |      FROM embeddings e CROSS JOIN a
      |      WHERE e.label <> a.anchor_label)
      |SELECT anchor_id, anchor_label,
      |       row_number() OVER (PARTITION BY anchor_id
      |         ORDER BY cos DESC, vec_id) AS rn,
      |       vec_id AS negative_id, label AS negative_label,
      |       round(cos, 4) AS cos_sim
      |FROM s WHERE cos < 0.95
      |QUALIFY rn <= 3
      |ORDER BY anchor_id, rn""".stripMargin


  // ----------------------------------------------------------------- q161
  /** FILTERED vector search — ANN under a metadata predicate (here:
    * same `label` as the probe, the in-class retrieval every RAG /
    * dataset-curation stack runs as "top-k among docs matching X").
    * This is the PRE-FILTER composition: the predicate applies to the
    * candidate frame BEFORE the top-k window, so every returned
    * neighbor satisfies it and a probe whose nprobe cells hold fewer
    * than k matching rows honestly returns fewer rows — the
    * post-filter alternative (top-k first, filter after) silently
    * under-returns even when matches exist elsewhere in the cell,
    * which is the classic filtered-ANN bug. Scale shape is q54's
    * unchanged: centroids ship as one literal (cell assignment stays
    * map-side), 20 probes broadcast, the corpus side carries
    * ~nprobe/K of the table, and the label equi-predicate fuses into
    * the same codegen'd candidate filter — a predicate column that
    * rides next to the cells costs nothing extra at 100 TB. */
  private[queries] def q161(spark: SparkSession, dir: String): DataFrame = {
    val K = 16; val NPROBE = 2
    val cents: Seq[Seq[Float]] = Tables.embeddings(spark, dir)
      .where(col("vec_id") < K).orderBy(col("vec_id"))
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toSeq).toSeq
    val emb = Tables.spread(Tables.embeddings(spark, dir))
      .withColumn("cell",
        graft.ops.IvfIndex.cellOf(col("embedding"), cents))
    val probes = Tables.embeddings(spark, dir)
      .where(col("vec_id") >= K && col("vec_id") < K + 20)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe"),
        col("label").as("probe_label"),
        graft.ops.IvfIndex.topCellsOf(col("embedding"), cents, NPROBE)
          .as("pcells"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    emb.crossJoin(broadcast(probes))
      .where(array_contains(col("pcells"), col("cell")) &&
        col("vec_id") =!= col("probe_id") &&
        col("label") === col("probe_label")) // the pre-filter predicate
      .withColumn("cos",
        CosineSimilarity.cosineSim(col("embedding"), col("probe")))
      .withColumn("rn", row_number().over(w)).where(col("rn") <= 3)
      .select(col("probe_id"), col("probe_label").as("label"), col("rn"),
        col("vec_id").as("neighbor_id"), round(col("cos"), 4).as("cos_sim"))
      .orderBy(col("probe_id"), col("rn"))
  }
  private[queries] val q161Sql =
    """WITH e AS (SELECT vec_id, label,
      |                  CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |c AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 16),
      |asg AS (
      |  SELECT vec_id,
      |    (SELECT c_id FROM c ORDER BY list_cosine_similarity(v, cv) DESC, c_id DESC
      |     LIMIT 1) AS cell
      |  FROM e),
      |p AS (SELECT vec_id AS probe_id, label AS probe_label, v AS pv FROM e
      |      WHERE vec_id >= 16 AND vec_id < 36),
      |pc AS (
      |  SELECT probe_id, c_id, row_number() OVER (PARTITION BY probe_id
      |    ORDER BY list_cosine_similarity(pv, cv) DESC, c_id DESC) AS rn
      |  FROM p CROSS JOIN c),
      |cand AS (
      |  SELECT p.probe_id, p.probe_label, e.vec_id,
      |         list_cosine_similarity(p.pv, e.v) AS cos
      |  FROM p JOIN pc ON pc.probe_id = p.probe_id AND pc.rn <= 2
      |       JOIN asg a ON a.cell = pc.c_id
      |       JOIN e ON e.vec_id = a.vec_id
      |  WHERE e.vec_id <> p.probe_id AND e.label = p.probe_label)
      |SELECT probe_id, probe_label AS label,
      |       row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rn,
      |       vec_id AS neighbor_id, round(cos, 4) AS cos_sim
      |FROM cand
      |QUALIFY rn <= 3
      |ORDER BY probe_id, rn""".stripMargin

  // ----------------------------------------------------------------- q163
  /** GRAPH-ANN BEAM SEARCH over q148's NN-Descent k-NN graph — the
    * SEARCH half of the graph-index family (the carried r13/r14 ask:
    * q148 builds the graph, nothing traversed it). 30 probes each start
    * at a FIXED deterministic entry vertex (the minimum vec_id — the
    * stand-in for HNSW/Vamana's medoid entry) and run 3 unrolled
    * best-first hops: every beam member's undirected neighbors join the
    * candidate set, candidates score against the probe (the bit-pinned
    * [[CosineSimilarity]] q23/q148 share with the oracle), and the
    * top-8 beam survives (cos desc, vertex asc — a total order). The
    * final per-probe top-4 excludes the probe's own vertex and carries
    * q148's honest `is_true` audit column: recall vs the exact
    * brute-force top-4 is measured in the output, not promised.
    *
    * Scale shape — the reason graph ANN exists: the graph is O(n·k)
    * edges keyed by src, each hop is ONE keyed join (frontier ⋈
    * adjacency; the frontier is probes × beam rows, bounded by
    * construction) plus one bounded top-k window, so per-probe search
    * cost is O(hops · beam · k) — independent of corpus size, no
    * brute scan anywhere except the audit's own reference answer.
    * Beams settle between hops via the bounded localize (q148's rule:
    * each beam feeds the next hop's join twice, and a settled frontier
    * keeps the per-hop plan tree flat). */
  private[queries] def q163(spark: SparkSession, dir: String): DataFrame = {
    val k = 4; val beamW = 8; val hops = 3; val nProbes = 30
    val emb = Tables.spread(Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("embedding"))
    def settle(df: DataFrame): DataFrame = Caches.settle(df, maxRows = 1 << 22)
    val graph = nnDescentGraph(spark, dir)
    val adj = settle(graph.select(col("src"), col("dst"))
      .unionByName(graph.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())
    val probes = Tables.embeddings(spark, dir).where(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe"))
    val entry = emb.agg(min(col("vec_id")).as("v"))
    def scored(cand: DataFrame): DataFrame = cand
      .join(emb.select(col("vec_id").as("v"), col("embedding").as("ve")), "v")
      .join(probes, "probe_id")
      .select(col("probe_id"), col("v"),
        CosineSimilarity.cosineSim(col("ve"), col("probe")).as("cos"))
    val wBeam = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("v"))
    var beam = settle(scored(
      probes.select(col("probe_id")).crossJoin(broadcast(entry))))
    for (_ <- 1 to hops) {
      val expand = beam.select(col("probe_id"), col("v").as("src"))
        .join(adj, "src")
        .select(col("probe_id"), col("dst").as("v"))
      val cand = beam.select(col("probe_id"), col("v"))
        .unionByName(expand).distinct()
      beam = settle(scored(cand)
        .withColumn("rn", row_number().over(wBeam))
        .where(col("rn") <= beamW).drop("rn"))
    }
    val truth = emb.crossJoin(broadcast(probes))
      .where(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("v"),
        CosineSimilarity.cosineSim(col("embedding"), col("probe")).as("cos"))
      .withColumn("rn", row_number().over(wBeam.orderBy(col("cos").desc, col("v"))))
      .where(col("rn") <= k)
      .select(col("probe_id"), col("v"), lit(true).as("is_true"))
    beam.where(col("v") =!= col("probe_id"))
      .withColumn("rn", row_number().over(wBeam)).where(col("rn") <= k)
      .join(truth, Seq("probe_id", "v"), "left")
      .select(col("probe_id"), col("rn"), col("v").as("neighbor_id"),
        round(col("cos"), 4).as("cos_sim"),
        coalesce(col("is_true"), lit(false)).as("is_true"))
      .orderBy(col("probe_id"), col("rn"))
  }
  /** Oracle: the shared graph CTEs + the unrolled 3-hop beam chain +
    * the exact-top-4 audit, replayed end-to-end — selection order,
    * entry vertex, beam ties and the recall bits all hash-checked. */
  private[queries] lazy val q163Sql = {
    val rounds = (1 to 3).map { r =>
      val prev = s"b${r - 1}"
      s"""bc$r AS (SELECT DISTINCT probe_id, v FROM (
         |        SELECT probe_id, v FROM $prev
         |        UNION ALL
         |        SELECT $prev.probe_id, a.dst AS v
         |        FROM $prev JOIN adj a ON a.src = $prev.v)),
         |bs$r AS (SELECT bc$r.probe_id, bc$r.v,
         |              list_cosine_similarity(ev.emb, p.pv) AS cos
         |       FROM bc$r JOIN e ev ON ev.vec_id = bc$r.v
         |            JOIN p ON p.probe_id = bc$r.probe_id),
         |b$r AS (SELECT probe_id, v, cos FROM (
         |        SELECT *, row_number() OVER (PARTITION BY probe_id
         |          ORDER BY cos DESC, v) AS rn FROM bs$r) WHERE rn <= 8)""".stripMargin
    }.mkString(",\n")
    s"""WITH $nnGraphCtes,
       |adj AS (SELECT src, dst FROM e2 UNION SELECT dst, src FROM e2),
       |ent AS (SELECT min(vec_id) AS v FROM e),
       |p AS (SELECT vec_id AS probe_id, emb AS pv FROM e WHERE vec_id < 30),
       |b0 AS (SELECT p.probe_id, ent.v,
       |              list_cosine_similarity(ev.emb, p.pv) AS cos
       |       FROM p CROSS JOIN ent JOIN e ev ON ev.vec_id = ent.v),
       |$rounds,
       |tr AS (SELECT probe_id, v FROM (
       |        SELECT p.probe_id, c.vec_id AS v,
       |               row_number() OVER (PARTITION BY p.probe_id
       |                 ORDER BY list_cosine_similarity(c.emb, p.pv) DESC,
       |                          c.vec_id) AS rn
       |        FROM e c JOIN p ON c.vec_id <> p.probe_id)
       |       WHERE rn <= 4)
       |SELECT g.probe_id,
       |       row_number() OVER (PARTITION BY g.probe_id
       |         ORDER BY g.cos DESC, g.v) AS rn,
       |       g.v AS neighbor_id, round(g.cos, 4) AS cos_sim,
       |       t.v IS NOT NULL AS is_true
       |FROM b3 g LEFT JOIN tr t ON t.probe_id = g.probe_id AND t.v = g.v
       |WHERE g.v <> g.probe_id
       |QUALIFY rn <= 4
       |ORDER BY g.probe_id, rn""".stripMargin
  }

  // ----------------------------------------------------------------- q168
  /** MATRYOSHKA two-stage serving — shortlist by TRUNCATED-prefix
    * cosine (first 16 of 64 dims, the MRL contract: nested prefixes of
    * one embedding are themselves usable embeddings, Kusupati et al.
    * 2022), then rerank the 10 survivors by FULL-dimension cosine and
    * return the top-3 with q148's honest `is_true` audit against the
    * exact full-dim answer — recall is measured in the output, not
    * promised. Cosine needs no renormalization under truncation (it is
    * scale-invariant), so the prefix score is just the same bit-pinned
    * [[CosineSimilarity]] over `slice(embedding, 1, 16)`.
    *
    * Scale shape — why MRL serving exists: the shortlist scan touches
    * ONE QUARTER of the vector bytes (at 100 TB the prefix lives as its
    * own column/table, so column pruning makes the scan literally 4×
    * smaller — here the slice stands in for that layout), and the
    * full-width vectors are only read for |probes|·shortlist rows, the
    * q126 rerank shape. Probes broadcast; both windows are bounded. */
  private[queries] def q168(spark: SparkSession, dir: String): DataFrame = {
    val PDIM = 16; val SHORTLIST = 10; val K = 3
    val emb = Tables.spread(Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("embedding"))
    val probes = Tables.embeddings(spark, dir).where(col("vec_id") < 20)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe"))
    val wPref = Window.partitionBy(col("probe_id"))
      .orderBy(col("pcos").desc, col("vec_id"))
    val wFull = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    val short = emb.crossJoin(broadcast(probes))
      .where(col("vec_id") =!= col("probe_id"))
      .withColumn("pcos", CosineSimilarity.cosineSim(
        slice(col("embedding"), 1, PDIM), slice(col("probe"), 1, PDIM)))
      .withColumn("srn", row_number().over(wPref))
      .where(col("srn") <= SHORTLIST)
    val reranked = short
      .withColumn("cos",
        CosineSimilarity.cosineSim(col("embedding"), col("probe")))
      .withColumn("rn", row_number().over(wFull)).where(col("rn") <= K)
    val truth = emb.crossJoin(broadcast(probes))
      .where(col("vec_id") =!= col("probe_id"))
      .withColumn("cos",
        CosineSimilarity.cosineSim(col("embedding"), col("probe")))
      .withColumn("rn", row_number().over(wFull)).where(col("rn") <= K)
      .select(col("probe_id"), col("vec_id"), lit(true).as("is_true"))
    reranked.join(truth, Seq("probe_id", "vec_id"), "left")
      .select(col("probe_id"), col("rn"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 4).as("cos_sim"),
        coalesce(col("is_true"), lit(false)).as("is_true"))
      .orderBy(col("probe_id"), col("rn"))
  }
  // ----------------------------------------------------------------- q177
  /** MATRYOSHKA serving COMPOSED WITH A REAL SHORTLIST INDEX — q168's
    * two-stage MRL contract upgraded from a flat prefix scan (its
    * documented stand-in) to the IVF cell layout the fleet would run:
    * the corpus's 16-dim PREFIXES are PERSISTED as their own
    * cell-clustered table (the MRL column layout made literal — the
    * shortlist stage reads a table 4× narrower than the embeddings),
    * the coarse quantizer lives in PREFIX space (first 16 corpus
    * vectors' prefixes, q54's deterministic convention; assignment/
    * probe tie rules from the production [[IvfIndex]] helpers), each
    * probe shortlists top-10 by prefix cosine inside its nprobe=2
    * cells ONLY — the scan is cell-pruned at file/row-group level by
    * the clustered layout, provably: the touched-cell list is pushed
    * as a partition predicate — and the 10 survivors rerank by
    * FULL-dimension cosine fetched per vec_id (|probes|·10 rows, the
    * q126 rerank shape). Recall is AUDITED in the output against the
    * exact full-dim top-3 (q168's truth), so composing the index can
    * only lose recall measurably, never silently. */
  private[queries] def q177(spark: SparkSession, dir: String): DataFrame = {
    val PDIM = 16; val CELLS = 16; val NPROBE = 2; val SHORTLIST = 10; val K = 3
    val tmp = graft.ops.Scratch.tempDir("graft_q177_")
    try {
      val emb = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
      val pcents: Seq[Seq[Float]] = emb.where(col("vec_id") < CELLS)
        .orderBy(col("vec_id")).select(col("embedding"))
        .collect().map(_.getSeq[Float](0).take(PDIM).toSeq).toSeq
      val path = s"$tmp/prefix"
      graft.ops.Layout.clusteredWrite(
        Tables.spread(emb)
          .select(col("vec_id"), slice(col("embedding"), 1, PDIM).as("pemb"))
          .withColumn("cell", graft.ops.IvfIndex.cellOf(col("pemb"), pcents)),
        path, files = 4, col("cell"))
      val probes = emb.where(col("vec_id") < 20)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe"),
          graft.ops.IvfIndex.topCellsOf(
            slice(col("embedding"), 1, PDIM), pcents, NPROBE).as("pcells"))
        .persist()
      try {
        // the probes' touched cells (≤ CELLS ints) push into the prefix
        // scan as a range-prunable predicate — the cell-clustered files
        // make it a file/row-group prune, not just a row filter
        val touched = probes.select(explode(col("pcells")).as("c"))
          .distinct().collect().map(r => Int.box(r.getInt(0))).toSeq
        val pref = spark.read.parquet(path).where(col("cell").isin(touched: _*))
        val wPref = Window.partitionBy(col("probe_id"))
          .orderBy(col("pcos").desc, col("vec_id"))
        val short = pref.crossJoin(broadcast(probes))
          .where(array_contains(col("pcells"), col("cell")) &&
            col("vec_id") =!= col("probe_id"))
          .withColumn("pcos",
            CosineSimilarity.cosineSim(col("pemb"), slice(col("probe"), 1, PDIM)))
          .withColumn("srn", row_number().over(wPref))
          .where(col("srn") <= SHORTLIST)
          .select(col("probe_id"), col("vec_id"), col("probe"))
        val wFull = Window.partitionBy(col("probe_id"))
          .orderBy(col("cos").desc, col("vec_id"))
        val reranked = emb.join(broadcast(short), "vec_id")
          .withColumn("cos",
            CosineSimilarity.cosineSim(col("embedding"), col("probe")))
          .withColumn("rn", row_number().over(wFull)).where(col("rn") <= K)
        val truth = emb.crossJoin(
            broadcast(probes.select(col("probe_id"), col("probe"))))
          .where(col("vec_id") =!= col("probe_id"))
          .withColumn("cos",
            CosineSimilarity.cosineSim(col("embedding"), col("probe")))
          .withColumn("rn", row_number().over(wFull)).where(col("rn") <= K)
          .select(col("probe_id"), col("vec_id"), lit(true).as("is_true"))
        val out = reranked.join(truth, Seq("probe_id", "vec_id"), "left")
          .select(col("probe_id"), col("rn"), col("vec_id").as("neighbor_id"),
            round(col("cos"), 4).as("cos_sim"),
            coalesce(col("is_true"), lit(false)).as("is_true"))
        localizeRows(out, Seq("probe_id", "rn"))
      } finally { probes.unpersist(); () }
    } finally rmRecursive(tmp)
  }
  private[queries] val q177Sql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |c AS (SELECT vec_id AS c_id, v[1:16] AS cv FROM e WHERE vec_id < 16),
      |asg AS (
      |  SELECT vec_id,
      |    (SELECT c_id FROM c ORDER BY list_cosine_similarity(v[1:16], cv) DESC, c_id DESC
      |     LIMIT 1) AS cell
      |  FROM e),
      |p AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id < 20),
      |pc AS (
      |  SELECT probe_id, c_id, row_number() OVER (PARTITION BY probe_id
      |    ORDER BY list_cosine_similarity(pv[1:16], cv) DESC, c_id DESC) AS rn
      |  FROM p CROSS JOIN c),
      |shortl AS (SELECT probe_id, vec_id FROM (
      |  SELECT p.probe_id, e.vec_id,
      |    row_number() OVER (PARTITION BY p.probe_id
      |      ORDER BY list_cosine_similarity(p.pv[1:16], e.v[1:16]) DESC,
      |               e.vec_id) AS srn
      |  FROM p JOIN pc ON pc.probe_id = p.probe_id AND pc.rn <= 2
      |       JOIN asg a ON a.cell = pc.c_id
      |       JOIN e ON e.vec_id = a.vec_id
      |  WHERE e.vec_id <> p.probe_id) WHERE srn <= 10),
      |rr AS (SELECT s.probe_id, s.vec_id,
      |         list_cosine_similarity(e.v, p.pv) AS cos,
      |         row_number() OVER (PARTITION BY s.probe_id
      |           ORDER BY list_cosine_similarity(e.v, p.pv) DESC, s.vec_id) AS rn
      |  FROM shortl s JOIN e ON e.vec_id = s.vec_id
      |       JOIN p ON p.probe_id = s.probe_id),
      |tr AS (SELECT probe_id, vec_id FROM (
      |  SELECT p.probe_id, e.vec_id,
      |    row_number() OVER (PARTITION BY p.probe_id
      |      ORDER BY list_cosine_similarity(e.v, p.pv) DESC, e.vec_id) AS rn
      |  FROM e CROSS JOIN p WHERE e.vec_id <> p.probe_id) WHERE rn <= 3)
      |SELECT rr.probe_id, rr.rn, rr.vec_id AS neighbor_id,
      |       round(rr.cos, 4) AS cos_sim,
      |       tr.vec_id IS NOT NULL AS is_true
      |FROM rr LEFT JOIN tr ON tr.probe_id = rr.probe_id AND tr.vec_id = rr.vec_id
      |WHERE rr.rn <= 3
      |ORDER BY rr.probe_id, rr.rn""".stripMargin

  private[queries] val q168Sql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |p AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id < 20),
      |shortl AS (SELECT probe_id, vec_id, v, pv FROM (
      |    SELECT p.probe_id, e.vec_id, e.v, p.pv,
      |      row_number() OVER (PARTITION BY p.probe_id
      |        ORDER BY list_cosine_similarity(e.v[1:16], p.pv[1:16]) DESC,
      |                 e.vec_id) AS srn
      |    FROM e CROSS JOIN p WHERE e.vec_id <> p.probe_id) WHERE srn <= 10),
      |rr AS (SELECT probe_id, vec_id, list_cosine_similarity(v, pv) AS cos,
      |    row_number() OVER (PARTITION BY probe_id
      |      ORDER BY list_cosine_similarity(v, pv) DESC, vec_id) AS rn
      |  FROM shortl),
      |tr AS (SELECT probe_id, vec_id FROM (
      |    SELECT p.probe_id, e.vec_id,
      |      row_number() OVER (PARTITION BY p.probe_id
      |        ORDER BY list_cosine_similarity(e.v, p.pv) DESC, e.vec_id) AS rn
      |    FROM e CROSS JOIN p WHERE e.vec_id <> p.probe_id) WHERE rn <= 3)
      |SELECT rr.probe_id, rr.rn, rr.vec_id AS neighbor_id,
      |       round(rr.cos, 4) AS cos_sim,
      |       tr.vec_id IS NOT NULL AS is_true
      |FROM rr LEFT JOIN tr ON tr.probe_id = rr.probe_id AND tr.vec_id = rr.vec_id
      |WHERE rr.rn <= 3
      |ORDER BY rr.probe_id, rr.rn""".stripMargin
}
