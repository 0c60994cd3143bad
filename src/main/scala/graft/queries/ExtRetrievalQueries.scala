package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.{InvertedIndex, IvfIndex, TextOps}
import graft.functions.CosineSimilarity
import graft.sources.Tables

/** Persisted BM25 inverted-index lifecycle (ops/InvertedIndex): build +
  * ranked probe, incremental doc-batch append, streaming ingest with
  * in-stream compaction, takedown + offline compaction — the 7th
  * lifecycle family (after LSH/SimHash/IVF/PQ/graph/changelog), probing
  * q130's bit-pinned BM25 scorer against persisted postings. Every
  * oracle replays the WHOLE lifecycle relationally: tokenize → tf →
  * df → corpus stats → idf·tfn → per-query top-k, per visible
  * generation set, so a stale df, a stats row missing a generation, a
  * probe that saw its own batch or a resurrected takedown all
  * hash-mismatch. */
private[queries] trait ExtRetrievalQueries extends ExtQueryHelpers {

  /** Match-log geometry shared by the ingest gates and their oracles. */
  private val Bm25K = 3          // matches logged per batch doc
  private val Bm25QueryTerms = 2 // distilled query terms per batch doc

  /** BM25 scoring CTE chain over docs `$docsCte` (doc_id, text) for
    * queries `$qCte` (query_id, term), ending in `<pfx>agg`
    * (query_id, doc_id, score) — the relational replay of
    * [[InvertedIndex.probe]]: tf with doc length, df from the tf table,
    * (N, avgdl) corpus stats, the exact q130 idf·tfn product, summed
    * per (query, doc). `cap = Some(m)` replays the probe's
    * impact-ordered truncation: the SCORING join reads each term's
    * top-m postings by (tf desc, doc_id) while df/idf keep the true
    * document frequency — bit-for-bit the [[InvertedIndex.probe]]
    * `maxPostings` rule. `tf` is MATERIALIZED (df and the scoring join
    * both read it — DuckDB inlines CTEs, the q165 precedent). */
  private def bm25Ctes(pfx: String, docsCte: String, qCte: String,
      cap: Option[Int] = None): String = {
    val scoredSrc = cap.fold(s"${pfx}tf")(_ => s"${pfx}icap")
    val capCte = cap.fold("")(m =>
      s"""
         |${pfx}icap AS (SELECT doc_id, term, tf, dl FROM (
         |       SELECT *, row_number() OVER (PARTITION BY term
         |         ORDER BY tf DESC, doc_id) AS prn FROM ${pfx}tf)
         |      WHERE prn <= $m),""".stripMargin)
    s"""${pfx}tok AS (SELECT doc_id, len(string_split(text, ' ')) AS dl,
       |        unnest(string_split(text, ' ')) AS term FROM $docsCte),
       |${pfx}tf AS MATERIALIZED (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
       |       FROM ${pfx}tok GROUP BY 1, 2),
       |${pfx}df AS (SELECT term, count(*) AS df FROM ${pfx}tf GROUP BY 1),$capCte
       |${pfx}st AS (SELECT count(*) AS n,
       |        avg(len(string_split(text, ' '))) AS avgdl FROM $docsCte),
       |${pfx}sc AS (SELECT q.query_id, t.doc_id,
       |        ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1.0) *
       |        ((t.tf * 2.2) /
       |         (t.tf + 1.2 * (0.25 + 0.75 * t.dl / s.avgdl))) AS sv
       |   FROM $qCte q JOIN $scoredSrc t ON t.term = q.term
       |        JOIN ${pfx}df d ON d.term = q.term CROSS JOIN ${pfx}st s),
       |${pfx}agg AS (SELECT query_id, doc_id, sum(sv) AS score
       |       FROM ${pfx}sc GROUP BY 1, 2)""".stripMargin
  }

  /** The per-batch-doc distilled query: top-2 terms by (tf desc, term) —
    * ends in `$out` (query_id, term). */
  private def distillCtes(pfx: String, batchCte: String, out: String): String =
    s"""${pfx}btf AS (SELECT doc_id, term, count(*) AS tf FROM (
       |        SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |        FROM $batchCte) GROUP BY 1, 2),
       |$out AS (SELECT doc_id AS query_id, term FROM (
       |        SELECT doc_id, term, row_number() OVER (PARTITION BY doc_id
       |          ORDER BY tf DESC, term) AS qrn FROM ${pfx}btf)
       |       WHERE qrn <= $Bm25QueryTerms)""".stripMargin

  /** Per-query top-k selection over `<pfx>agg`, as the ingest log shape
    * (probe_id, rn, match_id, score_r). */
  private def topKSel(pfx: String): String =
    s"""SELECT query_id AS probe_id, rn, doc_id AS match_id,
       |       round(score, 4) AS score_r
       |FROM (SELECT query_id, doc_id, score,
       |        row_number() OVER (PARTITION BY query_id
       |          ORDER BY score DESC, doc_id) AS rn FROM ${pfx}agg)
       |WHERE rn <= $Bm25K""".stripMargin

  // ----------------------------------------------------------------- q173
  /** BM25 ranked retrieval THROUGH THE PERSISTED INDEX — build the
    * postings (term-clustered, pk-partitioned) + generation stats from
    * the corpus, derive q130's 4 two-term queries from the indexed df,
    * and rank via [[InvertedIndex.probe]]: the partition-pruned
    * postings scan, the probe-side df aggregate and the stats-row
    * (N, avgdl) must reproduce the from-scratch q130 result EXACTLY —
    * the oracle IS q130's SQL. Scale shape: the probe reads only the
    * probed terms' pk directories (file-pruned, term-clustered row
    * groups), df reduces the same pruned scan, stats are one row per
    * generation — probe cost is O(postings of probed terms), not
    * O(corpus); the one-off full-df query derivation here is gate
    * bootstrap, not probe cost (production queries arrive externally). */
  private[queries] def q173(spark: SparkSession, dir: String): DataFrame = {
    // probe-only: the memoized full-corpus index is read in place (the
    // deterministic build is shared per JVM — GraphFixtures; mutating
    // gates clone instead)
    {
      val path = GraphFixtures.bm25FullDir(spark, dir)
      // query derivation reads the persisted |vocab|-sized termdf sidecar
      // (InvertedIndex.termDf), not a groupBy over the corpus-sized
      // postings — the bootstrap is now probe-cost-only
      val dfAll = InvertedIndex.termDf(spark, path)
      val qt = dfAll.orderBy(col("df").desc, col("term")).limit(8)
        .withColumn("r", row_number().over(
          Window.orderBy(col("df").desc, col("term"))))
        .select(((col("r") - 1) / 2).cast("bigint").as("query_id"), col("term"))
      val res = InvertedIndex.probe(spark, path, qt, k = 10)
        .select(col("query_id"), col("doc_id"),
          round(col("score"), 4).as("bm25"), col("rn"))
      localizeRows(res, Seq("query_id", "rn"))
    }
  }
  // oracle: q130's SQL verbatim (ExtCurationQueries.q130Sql) — the
  // index + pruned probe must be indistinguishable from from-scratch

  // ----------------------------------------------------------------- q174
  /** INCREMENTAL inverted-index ingest — q97's contract for the text
    * family: the index is PERSISTED from the base corpus (doc_id % 4
    * <> 0), an ingest batch (doc_id % 4 == 0) distills one short query
    * per doc (top-2 terms by tf — contamination/near-dup forensics
    * against the standing corpus), BM25-probes the PRE-batch postings
    * for its top-3 matches, and APPENDS as `gen=b0` (postings + stats
    * row). The emitted match log puts the distillation, the pruned
    * probe, df/N/avgdl visibility AND the ranking under one hash. */
  private[queries] def q174(spark: SparkSession, dir: String): DataFrame = {
    val tmp = graft.ops.Scratch.tempDir("graft_q174_")
    try {
      val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      val isBatch = pmod(col("doc_id"), lit(4)) === 0
      val path = s"$tmp/idx"
      GraphFixtures.bm25BaseInto(spark, dir, path)
      val log = InvertedIndex.probeAndAppend(spark, path,
        docs.where(isBatch), batchId = Some(0L),
        k = Bm25K, queryTerms = Bm25QueryTerms)
      localizeRows(log, Seq("probe_id", "rn"))
    } finally rmRecursive(tmp)
  }
  private[queries] lazy val q174Sql =
    s"""WITH base AS MATERIALIZED (SELECT doc_id, text FROM documents
       |        WHERE doc_id % 4 <> 0),
       |bat AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0),
       |${distillCtes("i", "bat", "q")},
       |${bm25Ctes("i", "base", "q", cap = Some(InvertedIndex.DefaultMaxPostings))}
       |${topKSel("i")}
       |ORDER BY probe_id, rn""".stripMargin

  // ----------------------------------------------------------------- q175
  /** STREAMING inverted-index ingest through the PRODUCTION operator
    * (`StreamingPipeline.startBm25Ingest`: foreachBatch →
    * [[InvertedIndex.probeAndAppendToLog]]) WITH in-stream
    * auto-compaction on the gate — q105 + q106's contracts for the
    * text family in one harness: documents arrive in 2 micro-batches,
    * each batch probes the index as built from base PLUS every earlier
    * batch (own generation excluded — the retry contract), logs its
    * top-3 matches to the batch_id-partitioned log, appends itself,
    * and `compactEvery = 1` folds generations lag-1 after EVERY batch —
    * so batch 1 probes the POST-fold postings and stats (the live-fold
    * rule q172 established): the oracle, a from-scratch replay of both
    * rounds' visibility, hash-matches only if folding changed nothing.
    * The stream's state store is EMPTY — the index on storage IS the
    * state. */
  private[queries] def q175(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = graft.ops.Scratch.tempDir("graft_q175_")
    try {
      val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      val isStream = pmod(col("doc_id"), lit(4)) === 0
      val path = s"$tmp/idx"
      GraphFixtures.bm25BaseInto(spark, dir, path)
      val rows = fixtureSlice(docs.where(isStream).as[(Long, String)])
        .sortBy(_._1)
      val per = math.max(1, math.ceil(rows.length / 2.0).toInt)
      val chunks = rows.grouped(per).toArray
      val mem = MemoryStream[(Long, String)]
      val q = graft.streaming.StreamingPipeline.startBm25Ingest(
        mem.toDF().toDF("doc_id", "text"),
        indexPath = path, matchesDir = s"$tmp/matches",
        checkpointDir = s"$tmp/ckpt", k = Bm25K, queryTerms = Bm25QueryTerms,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0),
        compactEvery = Some(1))
      try chunks.foreach { c => mem.addData(c.toSeq); q.processAllAvailable() }
      finally q.stop()
      localizeRows(
        spark.read.schema(
            "probe_id BIGINT, rn INT, match_id BIGINT, score_r DOUBLE, batch_id BIGINT")
          .parquet(s"$tmp/matches")
          .select(col("probe_id"), col("rn"), col("match_id"), col("score_r")),
        Seq("probe_id", "rn"))
    } finally rmRecursive(tmp)
  }
  private[queries] lazy val q175Sql =
    s"""WITH base AS MATERIALIZED (SELECT doc_id, text FROM documents
       |        WHERE doc_id % 4 <> 0),
       |s AS MATERIALIZED (SELECT doc_id, text,
       |        (row_number() OVER (ORDER BY doc_id) - 1)
       |          // CAST(ceil(count(*) OVER () / 2.0) AS BIGINT) AS b
       |      FROM documents WHERE doc_id % 4 = 0),
       |b0 AS (SELECT doc_id, text FROM s WHERE b = 0),
       |b1 AS (SELECT doc_id, text FROM s WHERE b = 1),
       |${distillCtes("x", "b0", "q0")},
       |${bm25Ctes("x", "base", "q0", cap = Some(InvertedIndex.DefaultMaxPostings))},
       |d1 AS MATERIALIZED (SELECT doc_id, text FROM base
       |       UNION ALL SELECT doc_id, text FROM b0),
       |${distillCtes("y", "b1", "q1")},
       |${bm25Ctes("y", "d1", "q1", cap = Some(InvertedIndex.DefaultMaxPostings))}
       |SELECT * FROM (${topKSel("x")} UNION ALL ${topKSel("y")})
       |ORDER BY probe_id, rn""".stripMargin

  // ----------------------------------------------------------------- q176
  /** Inverted-index TAKEDOWN + COMPACTION — q101/q109's contract for
    * the text family: after the base build and one incremental batch,
    * five docs (three base, two batch) are tombstoned
    * ([[InvertedIndex.markDeleted]] — O(deletions), nothing rebuilt)
    * and an OFFLINE [[InvertedIndex.compact]] folds the generations
    * into one tight gen=base: tombstoned docs drop physically from the
    * postings AND from the recomputed (N, avgdl) stats — df snaps to
    * the post-takedown corpus, the Lucene merge semantics. The output
    * re-derives the 4 top-df queries from the compacted index and
    * ranks top-10 through the probe; the oracle replays q130's chain
    * over `documents` minus the tombstoned ids, so a resurrected doc,
    * a stale stats row or an un-dropped posting all hash-mismatch. */
  private[queries] def q176(spark: SparkSession, dir: String): DataFrame = {
    val tmp = graft.ops.Scratch.tempDir("graft_q176_")
    try {
      val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      val isBatch = pmod(col("doc_id"), lit(4)) === 0
      val path = s"$tmp/idx"
      GraphFixtures.bm25BaseInto(spark, dir, path)
      InvertedIndex.probeAndAppend(spark, path, docs.where(isBatch),
        batchId = Some(0L), k = Bm25K, queryTerms = Bm25QueryTerms)
      InvertedIndex.markDeleted(spark, path, Seq(1L, 2L, 3L, 0L, 4L))
      InvertedIndex.compact(spark, path)
      // post-compact derivation from the recomputed termdf sidecar — the
      // same persisted-sketch path as q173
      val dfAll = InvertedIndex.termDf(spark, path)
      val qt = dfAll.orderBy(col("df").desc, col("term")).limit(8)
        .withColumn("r", row_number().over(
          Window.orderBy(col("df").desc, col("term"))))
        .select(((col("r") - 1) / 2).cast("bigint").as("query_id"), col("term"))
      val res = InvertedIndex.probe(spark, path, qt, k = 10)
        .select(col("query_id"), col("doc_id"),
          round(col("score"), 4).as("bm25"), col("rn"))
      localizeRows(res, Seq("query_id", "rn"))
    } finally rmRecursive(tmp)
  }
  // ----------------------------------------------------------------- q181
  /** HYBRID retrieval: BM25 ⊕ dense ANN with RECIPROCAL-RANK FUSION —
    * the composition both persisted retrieval indexes exist for. The
    * same five probe items (doc_id = vec_id ∈ [16, 21) — the documents
    * and embeddings tables share the id space; q54's probe convention)
    * run BOTH retrieval legs:
    *
    *   - SPARSE: each probe doc distills its top-2 terms (tf desc, term
    *     — the ingest-path discipline) and ranks the PERSISTED full-
    *     corpus inverted index through [[InvertedIndex.probe]] (q173's
    *     pk-pruned path; k+1 then self-dropped and re-ranked, so the
    *     list is the top-`SideK` OTHER documents by BM25);
    *   - DENSE: each probe embedding searches its `nprobe=2` nearest
    *     cells of the PERSISTED cell-clustered IVF corpus under the
    *     persisted first-16 quantizer (q65/q97's probe semantics:
    *     touched-cell predicate pushed to the corpus scan, probes
    *     broadcast, cosine desc / vec_id tie rule, self excluded);
    *
    * then fuses per (query, doc) with reciprocal-rank fusion
    * (Cormack–Clarke–Büttcher, SIGIR'09: score = Σ_legs 1/(60 + rank),
    * a leg contributing only where the doc made its top-`SideK`) and
    * emits the fused top-`FuseK` with both per-leg ranks (0 = absent
    * from that leg). RRF depends on the RANKS only — integer arithmetic
    * in double — so the fused scores are bit-stable wherever the two
    * legs' rankings are, which q173/q54 already pin. The oracle replays
    * BOTH chains relationally (q130's BM25 CTEs + q54's cosine/cell
    * chain) and the fusion formula. Scale shape: each leg is the
    * already-audited bounded probe (pk-pruned postings / cell-pruned
    * corpus); the fusion joins two ≤ |queries|·SideK rank lists —
    * probe-batch-sized, never corpus-sized. */
  private val HybridSideK = 10
  private val HybridFuseK = 5
  private val HybridRrfC = 60

  /** The shared hybrid frame q181 (fused top-k) and q185 (fusion audit)
    * both rank: both legs' top-`HybridSideK` lists full-outer-joined per
    * (query, doc), with NULLABLE per-leg ranks, the RRF score and the
    * fused rank `frn`. One source of truth for the probe set, the leg
    * semantics and every tie rule. */
  private def hybridFused(spark: SparkSession, dir: String): DataFrame = {
    val NProbe = 2
    // ---- sparse leg: distilled 2-term queries through the postings
    val bmPath = GraphFixtures.bm25FullDir(spark, dir)
    val ptf = Tables.documents(spark, dir)
      .where(col("doc_id") >= 16 && col("doc_id") < 21)
      .select(col("doc_id"), explode(TextOps.words(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val wq = Window.partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("term"))
    val qt = ptf.withColumn("qrn", row_number().over(wq))
      .where(col("qrn") <= Bm25QueryTerms)
      .select(col("doc_id").as("query_id"), col("term"))
    val wb = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    val bm = InvertedIndex.probe(spark, bmPath, qt, k = HybridSideK + 1)
      .where(col("doc_id") =!= col("query_id"))
      .withColumn("brn", row_number().over(wb))
      .where(col("brn") <= HybridSideK)
      .select(col("query_id"), col("doc_id"), col("brn"))
    // ---- dense leg: persisted quantizer + cell-clustered corpus
    val ivfDir = GraphFixtures.ivfFullDir(spark, dir)
    val cents = IvfIndex.loadCentroids(spark, s"$ivfDir/centroids")
    val probes = Tables.embeddings(spark, dir)
      .where(col("vec_id") >= 16 && col("vec_id") < 21)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe"))
      .withColumn("pcells",
        IvfIndex.topCellsOf(col("probe"), cents, NProbe))
    val touched = probes.select(explode(col("pcells")).as("c"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val wd = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    val dn = spark.read.parquet(s"$ivfDir/corpus")
      .where(col("cell").isin(touched: _*))
      .crossJoin(broadcast(probes))
      .where(array_contains(col("pcells"), col("cell")) &&
        col("vec_id") =!= col("probe_id"))
      .withColumn("cos",
        CosineSimilarity.cosineSim(col("embedding"), col("probe")))
      .withColumn("drn", row_number().over(wd))
      .where(col("drn") <= HybridSideK)
      .select(col("probe_id").as("query_id"), col("vec_id").as("doc_id"),
        col("drn"))
    // ---- fuse: RRF over the two rank lists (leg absent → no addend)
    val wf = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("doc_id"))
    bm.join(dn, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (col("brn") + HybridRrfC), lit(0.0)) +
          coalesce(lit(1.0) / (col("drn") + HybridRrfC), lit(0.0)))
      .withColumn("frn", row_number().over(wf))
  }

  private[queries] def q181(spark: SparkSession, dir: String): DataFrame = {
    val out = hybridFused(spark, dir)
      .where(col("frn") <= HybridFuseK)
      .select(col("query_id"), col("frn"), col("doc_id"),
        round(col("rrf"), 6).as("rrf_r"),
        coalesce(col("brn"), lit(0)).as("bm25_rn"),
        coalesce(col("drn"), lit(0)).as("dense_rn"))
    localizeRows(out, Seq("query_id", "frn"))
  }
  /** The hybrid CTE chain shared by q181 and q185: both legs' top-10
    * lists, full-outer-joined with NULLABLE per-leg ranks, RRF and the
    * fused rank — ends in `franked` (query_id, doc_id, brn, drn, rrf,
    * frn). The relational mirror of [[hybridFused]]. */
  private lazy val hybridCtes: String =
    s"""docs AS MATERIALIZED (SELECT doc_id, text FROM documents),
       |pdocs AS (SELECT doc_id, text FROM documents
       |       WHERE doc_id >= 16 AND doc_id < 21),
       |${distillCtes("h", "pdocs", "q")},
       |${bm25Ctes("h", "docs", "q")},
       |bmr AS (SELECT query_id, doc_id,
       |        row_number() OVER (PARTITION BY query_id
       |          ORDER BY score DESC, doc_id) AS brn
       |      FROM hagg WHERE doc_id <> query_id QUALIFY brn <= 10),
       |e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |      FROM embeddings),
       |c AS MATERIALIZED (SELECT vec_id AS c_id, v AS cv FROM e
       |      WHERE vec_id < 16),
       |asg AS MATERIALIZED (
       |  SELECT vec_id,
       |    (SELECT c_id FROM c
       |     ORDER BY list_cosine_similarity(v, cv) DESC, c_id DESC
       |     LIMIT 1) AS cell
       |  FROM e),
       |p AS MATERIALIZED (SELECT vec_id AS probe_id, v AS pv FROM e
       |      WHERE vec_id >= 16 AND vec_id < 21),
       |pc AS (
       |  SELECT probe_id, c_id, row_number() OVER (PARTITION BY probe_id
       |    ORDER BY list_cosine_similarity(pv, cv) DESC, c_id DESC) AS rn
       |  FROM p CROSS JOIN c),
       |dcand AS (
       |  SELECT p.probe_id, e.vec_id, list_cosine_similarity(p.pv, e.v) AS cos
       |  FROM p JOIN pc ON pc.probe_id = p.probe_id AND pc.rn <= 2
       |       JOIN asg a ON a.cell = pc.c_id
       |       JOIN e ON e.vec_id = a.vec_id
       |  WHERE e.vec_id <> p.probe_id),
       |dnr AS (SELECT probe_id, vec_id,
       |        row_number() OVER (PARTITION BY probe_id
       |          ORDER BY cos DESC, vec_id) AS drn
       |      FROM dcand QUALIFY drn <= 10),
       |fusedraw AS (
       |  SELECT coalesce(b.query_id, d.probe_id) AS query_id,
       |         coalesce(b.doc_id, d.vec_id) AS doc_id,
       |         coalesce(1.0 / (b.brn + 60), 0) +
       |           coalesce(1.0 / (d.drn + 60), 0) AS rrf,
       |         b.brn AS brn, d.drn AS drn
       |  FROM bmr b FULL OUTER JOIN dnr d
       |    ON b.query_id = d.probe_id AND b.doc_id = d.vec_id),
       |franked AS (
       |  SELECT query_id, doc_id, brn, drn, rrf,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY rrf DESC, doc_id) AS frn
       |  FROM fusedraw)""".stripMargin

  private[queries] lazy val q181Sql =
    s"""WITH $hybridCtes
       |SELECT query_id, frn, doc_id, round(rrf, 6) AS rrf_r,
       |       coalesce(brn, 0) AS bm25_rn, coalesce(drn, 0) AS dense_rn
       |FROM franked
       |WHERE frn <= 5
       |ORDER BY query_id, frn""".stripMargin

  // ----------------------------------------------------------------- q185
  /** HYBRID-FUSION AUDIT — the metrics row that tells an operator what
    * each retrieval leg contributed (the q87/q125 recall-audit rule
    * applied to q181's fusion): per query, the leg-overlap size over
    * both full top-10 lists, the fused top-5's source composition
    * (consensus / BM25-only / dense-only), and the reciprocal rank each
    * leg gave the fused winner (0 = that leg missed it entirely). All
    * metrics are integer-and-rank arithmetic over [[hybridFused]]'s
    * rows, so they are bit-stable exactly where q181 is, and the oracle
    * replays the identical CTE chain plus the aggregation. A hybrid
    * deployment watches exactly these numbers: overlap collapsing to 10
    * means the dense leg adds nothing; dense-only rows in the fused
    * top-k are what hybrid BUYS over plain BM25. */
  private[queries] def q185(spark: SparkSession, dir: String): DataFrame = {
    val ranked = hybridFused(spark, dir)
    val inTop = col("frn") <= HybridFuseK
    val out = ranked.groupBy(col("query_id")).agg(
      sum(when(col("brn").isNotNull && col("drn").isNotNull, 1L)
        .otherwise(0L)).as("n_overlap"),
      sum(when(inTop && col("brn").isNotNull && col("drn").isNotNull, 1L)
        .otherwise(0L)).as("n_both"),
      sum(when(inTop && col("brn").isNotNull && col("drn").isNull, 1L)
        .otherwise(0L)).as("n_bm25_only"),
      sum(when(inTop && col("drn").isNotNull && col("brn").isNull, 1L)
        .otherwise(0L)).as("n_dense_only"),
      round(max(when(col("frn") === 1,
        coalesce(lit(1.0) / col("brn"), lit(0.0)))), 6).as("rr_bm25_r"),
      round(max(when(col("frn") === 1,
        coalesce(lit(1.0) / col("drn"), lit(0.0)))), 6).as("rr_dense_r"))
    localizeRows(out, Seq("query_id"))
  }
  private[queries] lazy val q185Sql =
    s"""WITH $hybridCtes
       |SELECT query_id,
       |       CAST(sum(CASE WHEN brn IS NOT NULL AND drn IS NOT NULL
       |                THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
       |       CAST(sum(CASE WHEN frn <= 5 AND brn IS NOT NULL
       |                AND drn IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_both,
       |       CAST(sum(CASE WHEN frn <= 5 AND brn IS NOT NULL
       |                AND drn IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_bm25_only,
       |       CAST(sum(CASE WHEN frn <= 5 AND drn IS NOT NULL
       |                AND brn IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_dense_only,
       |       round(max(CASE WHEN frn = 1
       |                 THEN coalesce(1.0 / brn, 0) END), 6) AS rr_bm25_r,
       |       round(max(CASE WHEN frn = 1
       |                 THEN coalesce(1.0 / drn, 0) END), 6) AS rr_dense_r
       |FROM franked
       |GROUP BY query_id
       |ORDER BY query_id""".stripMargin

  /** The 4 highest-df adjacent-bigram phrase queries over `docs` —
    * q186's derivation discipline (df desc, phrase asc; query_id =
    * rank − 1). Gate BOOTSTRAP shared by q186 and the persisted phrase
    * gates q187–q189 (production phrase queries arrive externally):
    * one in-row zip_with pass over the corpus, the same derivation the
    * oracles replay. */
  private def phraseQueriesOf(docs: DataFrame): DataFrame = {
    val w = TextOps.words(col("text"))
    val bg = zip_with(
      slice(w, lit(1), size(w) - 1), slice(w, lit(2), size(w) - 1),
      (a, b) => concat_ws(" ", a, b))
    docs.select(col("doc_id"), explode(bg).as("phrase"))
      .groupBy(col("doc_id"), col("phrase")).agg(count(lit(1)).as("tf"))
      .groupBy(col("phrase")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("phrase")).limit(4)
      .withColumn("query_id", row_number().over(
        Window.orderBy(col("df").desc, col("phrase"))) - 1)
      .select(col("query_id"), col("phrase"))
  }

  /** The phrase-BM25 output shape shared by q187/q188/q189: probe the
    * positions sidecar for `qt`'s phrases, re-attach the phrase text,
    * round and order — q186's exact output columns. */
  private def phraseProbeOut(spark: SparkSession, path: String,
      qt: DataFrame): DataFrame = {
    val res = InvertedIndex.phraseProbe(spark, path, qt, k = 10)
      .join(broadcast(qt), Seq("query_id"))
      .select(col("query_id"), col("phrase"), col("rn"), col("doc_id"),
        round(col("score"), 4).as("bm25_r"))
    localizeRows(res, Seq("query_id", "rn"))
  }

  /** q186's closed-form phrase-BM25 chain over an arbitrary document
    * selection — the shared oracle of the from-scratch spelling (q186)
    * and every persisted phrase gate (q187–q189): bigrams via DuckDB
    * list comprehension, phrase tf/df, corpus stats, the exact q130
    * idf·tfn product, per-phrase top-10. */
  private def phraseBm25Sql(docsSel: String): String =
    s"""WITH pdocs AS MATERIALIZED ($docsSel),
      |d AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM pdocs),
      |bg AS (
      |  SELECT doc_id, len(w) AS dl,
      |         unnest([w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1]
      |                 for i in range(1, greatest(len(w), 1))]) AS phrase
      |  FROM d),
      |ptf AS MATERIALIZED (
      |  SELECT doc_id, phrase, count(*) AS tf, max(dl) AS dl
      |  FROM bg GROUP BY 1, 2),
      |qt AS (SELECT phrase, df, row_number() OVER (ORDER BY df DESC, phrase)
      |                - 1 AS query_id
      |       FROM (SELECT phrase, count(*) AS df FROM ptf GROUP BY 1)
      |       ORDER BY df DESC, phrase LIMIT 4),
      |st AS (SELECT count(*) AS n,
      |              avg(len(string_split(text, ' '))) AS avgdl
      |       FROM pdocs)
      |SELECT qt.query_id, qt.phrase,
      |       row_number() OVER (PARTITION BY qt.query_id
      |         ORDER BY ln((st.n - qt.df + 0.5) / (qt.df + 0.5) + 1.0) *
      |                  ((ptf.tf * 2.2) /
      |                   (ptf.tf + 1.2 * (0.25 + 0.75 * ptf.dl / st.avgdl)))
      |           DESC, ptf.doc_id) AS rn,
      |       ptf.doc_id,
      |       round(ln((st.n - qt.df + 0.5) / (qt.df + 0.5) + 1.0) *
      |             ((ptf.tf * 2.2) /
      |              (ptf.tf + 1.2 * (0.25 + 0.75 * ptf.dl / st.avgdl))), 4)
      |         AS bm25_r
      |FROM ptf JOIN qt USING (phrase) CROSS JOIN st
      |QUALIFY rn <= 10
      |ORDER BY query_id, rn""".stripMargin

  // ----------------------------------------------------------------- q191
  /** STREAMING HYBRID FUSION through the PRODUCTION operator
    * ([[graft.streaming.StreamingPipeline.startHybridIngest]]) — q181's
    * BM25 ⊕ dense RRF fusion in-stream, the serving story's last gap
    * (r17 verdict #5): documents WITH their embeddings arrive in 2
    * micro-batches; each batch probes BOTH persisted indexes in their
    * PRE-batch state (sparse: distilled top-2-term queries against the
    * pk-pruned impact-capped postings — q175's leg; dense: nprobe=2
    * cell-pruned cosine against the cell-clustered corpus under the
    * frozen first-16 quantizer — q105's leg; the two legs run
    * CONCURRENTLY on independent index locks), fuses the top-10 rank
    * lists per (probe, match) with RRF (rank-only arithmetic —
    * bit-stable), writes the fused top-5 to the batch_id-partitioned
    * log, appends itself to BOTH indexes, and `compactEvery = 1` folds
    * BOTH indexes lag-1 after every batch (the live-fold rule q175/q172
    * pin per family, here exercised for two families in one firing).
    * The oracle replays both batches' two-leg visibility and the fusion
    * closed-form — a leg that saw its own batch, a missed generation on
    * either index, a fold that changed bytes or a drifted fusion rank
    * all hash-mismatch. The stream's state store is EMPTY: the two
    * indexes on storage ARE the state. */
  private[queries] def q191(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = graft.ops.Scratch.tempDir("graft_q191_")
    try {
      val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      val emb = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
      val bmPath = s"$tmp/bm25"
      GraphFixtures.bm25BaseInto(spark, dir, bmPath) // doc_id % 4 <> 0 split
      val base = emb.where(pmod(col("vec_id"), lit(4)) =!= 0)
      val cents: Seq[Seq[Float]] = base.orderBy(col("vec_id")).limit(16)
        .select(col("embedding")).collect().map(_.getSeq[Float](0).toSeq).toSeq
      // memoized deterministic base build shared with q105 (same split,
      // same first-16 quantizer, same layout — the lshBaseInto rule)
      GraphFixtures.cloneIntoFor("ivfbase", dir, s"$tmp/ivf", cents, 4)(p =>
        IvfIndex.buildCorpus(base, p, cents, files = 4))
      val rows = fixtureSlice(
        docs.where(pmod(col("doc_id"), lit(4)) === 0)
          .join(emb.withColumnRenamed("vec_id", "doc_id"), "doc_id")
          .as[(Long, String, Seq[Float])]).sortBy(_._1)
      val per = math.max(1, math.ceil(rows.length / 2.0).toInt)
      val chunks = rows.grouped(per).toArray
      val mem = MemoryStream[(Long, String, Seq[Float])]
      val q = graft.streaming.StreamingPipeline.startHybridIngest(
        mem.toDF().toDF("doc_id", "text", "embedding"),
        bm25Path = bmPath, ivfPath = s"$tmp/ivf", cents = cents,
        fusedDir = s"$tmp/fused", checkpointDir = s"$tmp/ckpt",
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0),
        compactEvery = Some(1))
      try chunks.foreach { c => mem.addData(c.toSeq); q.processAllAvailable() }
      finally q.stop()
      localizeRows(
        spark.read.schema("probe_id BIGINT, frn INT, match_id BIGINT, " +
            "rrf_r DOUBLE, bm25_rn INT, dense_rn INT, batch_id BIGINT")
          .parquet(s"$tmp/fused")
          .select(col("probe_id"), col("frn"), col("match_id"),
            col("rrf_r"), col("bm25_rn"), col("dense_rn")),
        Seq("probe_id", "frn"))
    } finally rmRecursive(tmp)
  }
  private[queries] lazy val q191Sql =
    s"""WITH docs AS MATERIALIZED (SELECT doc_id, text FROM documents),
       |e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |      FROM embeddings),
       |s AS MATERIALIZED (SELECT doc_id,
       |        (row_number() OVER (ORDER BY doc_id) - 1)
       |          // CAST(ceil(count(*) OVER () / 2.0) AS BIGINT) AS b
       |      FROM documents WHERE doc_id % 4 = 0),
       |base0 AS MATERIALIZED (SELECT doc_id, text FROM docs
       |        WHERE doc_id % 4 <> 0),
       |bat0 AS (SELECT d.doc_id, d.text FROM docs d JOIN s USING (doc_id)
       |         WHERE s.b = 0),
       |bat1 AS (SELECT d.doc_id, d.text FROM docs d JOIN s USING (doc_id)
       |         WHERE s.b = 1),
       |base1 AS MATERIALIZED (SELECT doc_id, text FROM base0
       |        UNION ALL SELECT doc_id, text FROM bat0),
       |${distillCtes("x", "bat0", "q0")},
       |${bm25Ctes("x", "base0", "q0", cap = Some(InvertedIndex.DefaultMaxPostings))},
       |${distillCtes("y", "bat1", "q1")},
       |${bm25Ctes("y", "base1", "q1", cap = Some(InvertedIndex.DefaultMaxPostings))},
       |bmr AS (
       |  SELECT query_id, doc_id, brn FROM (
       |    SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, doc_id) AS brn FROM xagg) WHERE brn <= 10
       |  UNION ALL
       |  SELECT query_id, doc_id, brn FROM (
       |    SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, doc_id) AS brn FROM yagg) WHERE brn <= 10),
       |ebase AS MATERIALIZED (SELECT vec_id, v FROM e WHERE vec_id % 4 <> 0),
       |c AS MATERIALIZED (SELECT vec_id AS c_id, v AS cv FROM (
       |        SELECT * FROM ebase ORDER BY vec_id LIMIT 16)),
       |sp AS MATERIALIZED (SELECT e.vec_id, e.v, s.b FROM e
       |      JOIN s ON s.doc_id = e.vec_id),
       |univ AS (SELECT vec_id, v, -1 AS b FROM ebase
       |         UNION ALL SELECT vec_id, v, b FROM sp),
       |asg AS MATERIALIZED (SELECT vec_id, v, b,
       |        (SELECT c_id FROM c
       |         ORDER BY list_cosine_similarity(v, cv) DESC, c_id DESC
       |         LIMIT 1) AS cell
       |      FROM univ),
       |pc AS (SELECT p.vec_id AS probe_id, p.b AS pb, p.v AS pv, c.c_id,
       |         row_number() OVER (PARTITION BY p.vec_id
       |           ORDER BY list_cosine_similarity(p.v, cv) DESC, c_id DESC)
       |           AS crn
       |       FROM sp p CROSS JOIN c),
       |dnr AS (SELECT probe_id, vec_id, drn FROM (
       |  SELECT probe_id, vec_id,
       |    row_number() OVER (PARTITION BY probe_id
       |      ORDER BY cos DESC, vec_id) AS drn
       |  FROM (SELECT pc.probe_id, a.vec_id,
       |          list_cosine_similarity(pc.pv, a.v) AS cos
       |        FROM pc JOIN asg a ON a.cell = pc.c_id AND pc.crn <= 2
       |        WHERE a.b < pc.pb)) WHERE drn <= 10),
       |fusedraw AS (
       |  SELECT coalesce(b.query_id, d.probe_id) AS probe_id,
       |         coalesce(b.doc_id, d.vec_id) AS match_id,
       |         coalesce(1.0 / (b.brn + 60), 0) +
       |           coalesce(1.0 / (d.drn + 60), 0) AS rrf,
       |         b.brn AS brn, d.drn AS drn
       |  FROM bmr b FULL OUTER JOIN dnr d
       |    ON b.query_id = d.probe_id AND b.doc_id = d.vec_id)
       |SELECT probe_id, frn, match_id, round(rrf, 6) AS rrf_r,
       |       coalesce(brn, 0) AS bm25_rn, coalesce(drn, 0) AS dense_rn
       |FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
       |        ORDER BY rrf DESC, match_id) AS frn FROM fusedraw)
       |WHERE frn <= 5
       |ORDER BY probe_id, frn""".stripMargin

  // ----------------------------------------------------------------- q186
  /** PHRASE retrieval under the oracle — the positional dimension the
    * single-term BM25 family (q130/q173) lacks: a phrase query matches
    * only docs where its words are ADJACENT, which bag-of-words scoring
    * cannot express. Bigram "phrases" derive in-row (zip_with over the
    * token array — positions never shuffle; the only corpus exchange is
    * the (doc, phrase) tf aggregation), the 4 highest-df phrases become
    * the queries (df desc / phrase asc, q173's derivation discipline),
    * and matching docs rank by the exact q130 BM25 expression with the
    * phrase's own tf/df (single addend — bit-stable without ordering
    * tricks). The oracle rebuilds bigrams, df, corpus stats and the
    * ranking closed-form (DuckDB list comprehension), so a drifted
    * adjacency rule, an off-by-one pair window or a wrong phrase df all
    * hash-mismatch. This is the from-scratch spelling (what q130 is to
    * q173): the persisted production form is the POSITIONS SIDECAR on
    * [[InvertedIndex]] — (term, doc_id, pos, dl) under the same
    * (pk, gen) layout — whose [[InvertedIndex.phraseProbe]] intersects
    * the probed terms' position lists instead of re-tokenizing; q187
    * pins that probe against THIS query's oracle (the q130→q173
    * relationship). */
  private[queries] def q186(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("text"))
    val w = TextOps.words(col("text"))
    // adjacent-pair phrases, computed IN-ROW: no positions ever shuffle
    val bg = zip_with(
      slice(w, lit(1), size(w) - 1), slice(w, lit(2), size(w) - 1),
      (a, b) => concat_ws(" ", a, b))
    val base = docs.select(col("doc_id"), size(w).as("dl"),
      explode(bg).as("phrase"))
    val ptf = base.groupBy(col("doc_id"), col("phrase"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    val qt = ptf.groupBy(col("phrase")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("phrase")).limit(4)
      .withColumn("query_id", row_number().over(
        Window.orderBy(col("df").desc, col("phrase"))) - 1)
    val stats = docs.agg(count(lit(1)).as("n"),
      avg(size(TextOps.words(col("text")))).as("avgdl"))
    val idf = log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val tfn = (col("tf") * 2.2) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    val wr = Window.partitionBy(col("query_id"))
      .orderBy(col("s").desc, col("doc_id"))
    ptf.join(broadcast(qt), Seq("phrase"))
      .crossJoin(broadcast(stats))
      .withColumn("s", idf * tfn)
      .withColumn("rn", row_number().over(wr)).where(col("rn") <= 10)
      .select(col("query_id"), col("phrase"), col("rn"), col("doc_id"),
        round(col("s"), 4).as("bm25_r"))
      .orderBy(col("query_id"), col("rn"))
  }
  private[queries] lazy val q186Sql =
    phraseBm25Sql("SELECT doc_id, text FROM documents")

  // ----------------------------------------------------------------- q187
  /** PHRASE retrieval THROUGH THE PERSISTED POSITIONS SIDECAR — the
    * production form q186 pins the semantics for (r17 verdict's top
    * ask): the full corpus is indexed ONCE with
    * `InvertedIndex.Config(positions = true)` — (term, doc_id, pos, dl)
    * rows under the same (pk, gen) hive layout as the postings,
    * clustered (term, doc_id, pos) — and
    * [[InvertedIndex.phraseProbe]] ranks the 4 bootstrap phrases by
    * pk-pruning the phrase terms' directories, intersecting position
    * lists relationally (one aggregation keyed on pos − term_index; an
    * occurrence = all term slots present at one base position) and
    * scoring with the exact q130/q186 BM25 expression (phrase tf = the
    * adjacency count, phrase df = matching docs, N/avgdl from the
    * generation stats rows). The oracle IS q186's SQL — the index +
    * pruned intersect must be indistinguishable from re-tokenizing the
    * corpus. Scale shape: probe cost O(positions of the probed terms),
    * never a corpus re-tokenize — at 100 TB the from-scratch spelling
    * re-reads everything per query batch; this reads a handful of
    * pk directories. */
  private[queries] def q187(spark: SparkSession, dir: String): DataFrame = {
    val path = GraphFixtures.bm25PosFullDir(spark, dir)
    val docs = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("text"))
    phraseProbeOut(spark, path, phraseQueriesOf(docs))
  }
  // oracle: q186Sql (the q130→q173 relationship for phrases)

  // ----------------------------------------------------------------- q188
  /** Phrase-index TAKEDOWN + COMPACTION — q176's contract for the
    * positions sidecar: five docs are tombstoned
    * ([[InvertedIndex.markDeleted]]) and the offline
    * [[InvertedIndex.compact]] folds postings, termdf, POSITIONS and
    * stats in one stage-and-swap commit — tombstoned docs drop
    * physically from the position lists and the recomputed stats. The
    * output re-derives the 4 bootstrap phrases from the live corpus and
    * ranks through the phrase probe; the oracle replays q186's chain
    * over `documents` minus the tombstoned ids, so a resurrected
    * position row, a stale stats row or an un-folded generation all
    * hash-mismatch. */
  private[queries] def q188(spark: SparkSession, dir: String): DataFrame = {
    val tmp = graft.ops.Scratch.tempDir("graft_q188_")
    try {
      val path = s"$tmp/idx"
      GraphFixtures.bm25PosFullInto(spark, dir, path)
      InvertedIndex.markDeleted(spark, path, Seq(0L, 1L, 2L, 3L, 4L))
      InvertedIndex.compact(spark, path)
      val live = Tables.spread(Tables.documents(spark, dir))
        .where(!col("doc_id").isin(0L, 1L, 2L, 3L, 4L))
        .select(col("doc_id"), col("text"))
      phraseProbeOut(spark, path, phraseQueriesOf(live))
    } finally rmRecursive(tmp)
  }
  private[queries] lazy val q188Sql = phraseBm25Sql(
    "SELECT doc_id, text FROM documents WHERE doc_id NOT IN (0, 1, 2, 3, 4)")

  // ----------------------------------------------------------------- q189
  /** INCREMENTAL phrase-index ingest — q174's contract for the
    * positions sidecar: the index is built positions-enabled from the
    * base corpus (doc_id % 4 <> 0), the ingest batch (doc_id % 4 == 0)
    * arrives through [[InvertedIndex.probeAndAppend]] — whose append
    * now lands the batch's POSITION rows as `gen=b0` alongside postings
    * / termdf / stats, in the same concurrent append round — and the
    * phrase probe then ranks across BOTH generations: the adjacency
    * intersect never crosses generations (a doc lives in exactly one),
    * but tf, df and the stats must merge base ∪ b0 exactly. base ∪
    * batch = the full corpus, so the oracle is again q186's SQL
    * verbatim: a position row lost in the append, a stats row missing
    * the generation or a df that missed b0 all hash-mismatch. */
  private[queries] def q189(spark: SparkSession, dir: String): DataFrame = {
    val tmp = graft.ops.Scratch.tempDir("graft_q189_")
    try {
      val path = s"$tmp/idx"
      GraphFixtures.bm25PosBaseInto(spark, dir, path)
      val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      InvertedIndex.probeAndAppend(spark, path,
        docs.where(pmod(col("doc_id"), lit(4)) === 0), batchId = Some(0L),
        k = Bm25K, queryTerms = Bm25QueryTerms)
      phraseProbeOut(spark, path,
        phraseQueriesOf(Tables.spread(docs)))
    } finally rmRecursive(tmp)
  }
  // oracle: q186Sql (base ∪ batch = the full corpus)

  private[queries] lazy val q176Sql =
    """WITH live AS MATERIALIZED (SELECT doc_id, text FROM documents
      |        WHERE doc_id NOT IN (0, 1, 2, 3, 4)),
      |tokens AS (
      |  SELECT doc_id, len(string_split(text, ' ')) AS dl,
      |         unnest(string_split(text, ' ')) AS term
      |  FROM live),
      |tf AS MATERIALIZED (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
      |       FROM tokens GROUP BY 1, 2),
      |df AS MATERIALIZED (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |qt AS (SELECT (row_number() OVER (ORDER BY df DESC, term) - 1) // 2
      |                 AS query_id, term, df
      |       FROM df ORDER BY df DESC, term LIMIT 8),
      |stats AS (SELECT count(*) AS n,
      |                 avg(len(string_split(text, ' '))) AS avgdl
      |          FROM live),
      |scored AS (
      |  SELECT qt.query_id, tf.doc_id,
      |         ln((stats.n - qt.df + 0.5) / (qt.df + 0.5) + 1.0) *
      |         ((tf.tf * 2.2) /
      |          (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl))) AS s
      |  FROM tf JOIN qt ON tf.term = qt.term CROSS JOIN stats),
      |agg AS (SELECT query_id, doc_id, sum(s) AS score
      |        FROM scored GROUP BY 1, 2)
      |SELECT query_id, doc_id, round(score, 4) AS bm25,
      |       row_number() OVER (PARTITION BY query_id
      |                          ORDER BY score DESC, doc_id) AS rn
      |FROM agg
      |QUALIFY rn <= 10
      |ORDER BY query_id, rn""".stripMargin
}
