package graft.ops

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted BM25 inverted index — the TEXT-RETRIEVAL member of the
  * lifecycle-index family (LshIndex / SimHashIndex / IvfIndex / PqIndex /
  * GraphIndex): build once, probe ranked queries forever, batch-append
  * incrementally, tombstone takedowns, compact offline. One-shot BM25
  * (ExtCurationQueries q130) re-tokenizes the whole corpus per run; at
  * 100 TB that is a full scan + tokenize pass per query batch. The index
  * amortizes it: term postings are computed ONCE per document, written
  * clustered by term, and each probe pays
  *
  *   O(postings of the probed terms)
  *
  * — enforced at the FILE level: the postings table is hive-partitioned
  * on `pk = hash(term) mod indexPartitions`, each probe derives a
  * partition `IN` predicate from its query terms (≤ indexPartitions
  * ints, bounded regardless of batch size), and a broadcast semi join on
  * `term` keeps row-level exactness inside the touched directories —
  * the LshIndex bands discipline applied to text postings.
  *
  * Storage layout (`<path>/postings`, `<path>/termdf`, `<path>/docstats`):
  *   - `postings` (term, doc_id, tf, dl, irn), partitioned (pk, gen) and
  *     range-clustered on (term, irn) within partitions — `irn` is the
  *     MATERIALIZED IMPACT RANK (row_number per term within the
  *     generation, tf desc / doc_id asc, the Anh–Moffat impact order
  *     written as a column): one term's postings sit contiguous,
  *     highest-impact first, so a truncated probe's `irn <= m` predicate
  *     pushes to the scan and row-group min/max prune a hot term's tail
  *     without any probe-side sort.
  *   - `termdf` (term, df) per generation, same (pk, gen) partitioning:
  *     the TRUE per-(term, generation) document frequency, persisted at
  *     write time because a truncated scan no longer sees every posting
  *     of a term — probes sum the visible generations' rows for the
  *     probed terms only (same pk pruning + term semi join).
  *   - `docstats` (n_docs, sum_dl) — ONE row per generation: the
  *     corpus-level N and Σdl the BM25 idf/length-normalization terms
  *     need. Probes aggregate the visible generations' rows (a
  *     broadcast-sized read), never the corpus.
  * Indexes written before the impact-order era (meta lacks
  * `impactOrdered`) are adopted as-is: probes fall back to the probe-side
  * window and scan-derived df, appends keep the legacy layout (one
  * schema per table), and the next [[compact]] rewrites into the
  * impact-ordered form — the same era-adoption rule IndexCompatSpec pins
  * for every family.
  *
  * Scoring is Okapi BM25 (k1 = 1.2, b = 0.75), the exact expression
  * q130 pins bit-for-bit against DuckDB:
  *   idf = ln((N − df + 0.5) / (df + 0.5) + 1)
  *   s   = idf · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl))
  * summed per (query, doc) over the query's terms. Callers keep query
  * term lists short (the gates use ≤ 2 terms — real retrieval queries
  * are distilled, not whole documents), which also keeps the per-group
  * float sum ≤ 2 addends: IEEE addition is commutative, so the score is
  * bit-stable without ordering tricks.
  *
  * Generations, retries, takedowns and folds are the GenTable
  * lifecycle; [[markDeleted]] tombstones hide docs from emitted MATCHES
  * immediately — but, deliberately, NOT from df/N/avgdl until
  * [[compact]] folds them out physically: corpus statistics stay a
  * property of the physical postings, exactly the public Lucene
  * semantics (deleted docs count toward docFreq until segment merge), so
  * probes never pay a corpus-sized stats correction on the hot path.
  *
  * Reference anchor: the toy pipeline has no retrieval surface at all
  * (SURVEY §2B gap rows) — semantics follow the public Okapi BM25
  * formulation (Robertson & Zaragoza 2009) and the Lucene deleted-doc
  * statistics contract. */
object InvertedIndex {

  /** `impactOrdered = false` writes the pre-era layout (no `irn` column,
    * no `termdf` sidecar) — kept as a first-class option so the
    * era-upgrade path (legacy build → probe fallback → compact rewrite)
    * stays testable; production builds leave the default.
    *
    * `positions = true` additionally maintains the POSITIONS sidecar —
    * (term, doc_id, pos, dl) under the same (pk, gen) layout, clustered
    * on (term, doc_id, pos) — which [[phraseProbe]] intersects for
    * phrase/proximity retrieval (q186's semantics without re-tokenizing
    * the corpus per query). Opt-in because it costs Θ(total tokens)
    * rows (vs Θ(distinct (doc, term)) for the postings): enable it for
    * phrase-retrieval workloads at BUILD time. Appends and compacts
    * ADOPT the persisted flag (the family meta rule); a positions-less
    * index cannot grow the sidecar later (postings carry no positional
    * information), so [[phraseProbe]] on one fails loudly. */
  case class Config(indexPartitions: Int = 32, postFiles: Int = 8,
      impactOrdered: Boolean = true, positions: Boolean = false)

  /** Default impact-ordering truncation for the INGEST probe (see
    * [[probe]]'s `maxPostings`): each query term scores against its
    * top-256 postings by (tf desc, doc_id). Bounds a doc-batch probe's
    * scoring-join volume at |batch|·queryTerms·256 — corpus-independent
    * — where the untruncated join degenerates to |batch|·df per term
    * (quadratic in corpus for common terms once |batch| ∝ corpus; the
    * r16 sf1 sweep measured exactly that blowup). */
  val DefaultMaxPostings = 256

  /** Prefix depth of the max-score pruned probe (see [[maxScoreScored]]):
    * how many highest-impact postings per term the first phase scores
    * before deciding whether the tail can matter at all. */
  val MaxScorePrefix = 32

  /** Above this many candidate docs the tail filter joins instead of
    * riding the scan as a pushed IN predicate. */
  private val MaxScoreIsinCap = 1024

  /** Session conf gating max-score engagement: the pruning pays one
    * extra bounded job (the prefix phase), so it engages only when the
    * scoring volume it can SKIP — (m − m0) · |query-term pairs| rows
    * that would otherwise enter the scoring join — is at least this
    * many rows (default 1M ≈ the work one small job costs; the r18
    * closing bench measured the always-on spelling taxing the sf0.1
    * gates ~0.7 s per ingest probe for nothing). Set it to 0 to force
    * the pruned path (the spec spelling), or very high to disable. */
  val MaxScoreMinSavedConf = "spark.graft.bm25.maxscore.minSavedRows"

  /** Upper bound on phase A itself (|query-term pairs| · m0 rows):
    * phase A localizes its detail to the driver and ships the partial
    * scores back as a LocalRelation, so past a few hundred thousand
    * rows the round-trip costs more than the skipped join (measured:
    * a 12.5k-doc ingest batch at sf1 ran 18.9 s pruned vs ~11 s plain).
    * Together with [[MaxScoreMinSavedConf]] this brackets the regime
    * the pruning genuinely wins: moderate query batches against
    * hot-term-heavy postings, where the tail dwarfs the prefix. */
  private val MaxScorePhaseACap = 1L << 18

  private def maxScoreMinSaved(spark: SparkSession): Long =
    spark.conf.getOption(MaxScoreMinSavedConf).map { s =>
      try s.trim.toLong
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"$MaxScoreMinSavedConf must be a row count, got '$s'")
      }
    }.getOrElse(1L << 20)

  def postingsPath(path: String): String = s"$path/postings"
  def termdfPath(path: String): String = s"$path/termdf"
  def positionsPath(path: String): String = s"$path/positions"
  def statsPath(path: String): String = s"$path/docstats"
  private def tombsPath(path: String) = s"$path/tombstones"
  private def metaPath(path: String) =
    new org.apache.hadoop.fs.Path(path, "_index_meta")

  private def termPk(cfg: Config): Column =
    pmod(xxhash64(col("term")), lit(cfg.indexPartitions)).cast("int")

  private def writeMeta(spark: SparkSession, path: String, cfg: Config): Unit =
    GenTable.writeMeta(spark, metaPath(path), Seq(
      "indexPartitions" -> cfg.indexPartitions, "postFiles" -> cfg.postFiles,
      "impactOrdered" -> (if (cfg.impactOrdered) 1 else 0),
      "positions" -> (if (cfg.positions) 1 else 0)))

  /** A meta file with no `impactOrdered` key is a pre-era index — adopt
    * its layout (legacy probe fallbacks, legacy-format appends) until a
    * [[compact]] upgrades it. */
  private def adoptMeta(spark: SparkSession, path: String, cfg: Config): Config = {
    val kv = GenTable.readMeta(spark, metaPath(path))
    cfg.copy(
      indexPartitions = kv.getOrElse("indexPartitions",
        throw new IllegalStateException(
          s"${metaPath(path)} has no indexPartitions entry — rebuild with InvertedIndex.build")),
      postFiles = kv.getOrElse("postFiles", cfg.postFiles),
      impactOrdered = kv.getOrElse("impactOrdered", 0) == 1,
      positions = kv.getOrElse("positions", 0) == 1)
  }

  /** (doc_id, term, tf, dl) — one row per distinct (doc, term); `dl` is
    * the doc's token count (string_split semantics: TextOps.words, the
    * same tokenizer q130 and the oracle use). Map-side until the one
    * keyed aggregation; spread first so an under-split scan cannot
    * serialize the tokenize pass. */
  private def postingsOf(docs: DataFrame, id: String, text: String): DataFrame =
    graft.sources.Tables.spread(docs)
      .select(col(id).as("doc_id"), TextOps.words(col(text)).as("w"))
      .select(col("doc_id"), size(col("w")).as("dl"), explode(col("w")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))

  /** (doc_id, term, pos, dl) — one row per TOKEN (`pos` is the 0-based
    * token index under TextOps.words). The positions sidecar's rows;
    * the postings (tf, dl) aggregate is derivable from them, which the
    * positions-enabled write paths exploit to tokenize once. */
  private def positionsOf(docs: DataFrame, id: String, text: String): DataFrame =
    graft.sources.Tables.spread(docs)
      .select(col(id).as("doc_id"), TextOps.words(col(text)).as("w"))
      .select(col("doc_id"), size(col("w")).as("dl"),
        posexplode(col("w")).as(Seq("pos", "term")))
      .select(col("doc_id"), col("term"), col("pos"), col("dl"))

  /** The postings aggregate derived from a positions frame — same shape
    * as [[postingsOf]], one tokenize pass for both tables. */
  private def postingsFromPositions(positions: DataFrame): DataFrame =
    positions.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))

  private def positionRows(positions: DataFrame): DataFrame =
    positions.select(col("term"), col("doc_id"), col("pos"), col("dl"))

  private def positionsSpread(cfg: Config) = GenTable.Spread.Hash(cfg.postFiles,
    termPk(cfg), col("term"), col("doc_id"), col("pos"))

  /** One (n_docs, sum_dl) row for a doc frame — the generation's
    * contribution to the corpus stats. */
  private def docStatsOf(docs: DataFrame, id: String, text: String): DataFrame =
    docs.agg(count(col(id)).as("n_docs"),
      sum(size(TextOps.words(col(text)))).as("sum_dl"))

  /** docstats is one row per generation — one file per generation, no
    * pk level (there is nothing to prune). */
  private val statsSpread = GenTable.Spread.Single

  /** Build the index at `path` from a base corpus (full recompute — run
    * once; subsequent batches go through [[probeAndAppend]]). */
  def build(docs: DataFrame, path: String, cfg: Config = Config(),
      id: String = "doc_id", text: String = "text"): Unit = {
    val pos = if (cfg.positions) Some(positionsOf(docs, id, text).persist())
      else None
    val post = pos.fold(postingsOf(docs, id, text))(postingsFromPositions)
      .persist()
    try {
      GenTable.build(postingRows(post, cfg), postingsPath(path), postingsSpread(cfg))
      if (cfg.impactOrdered)
        GenTable.build(termDfOf(post), termdfPath(path), termdfSpread(cfg))
      pos.foreach(p =>
        GenTable.build(positionRows(p), positionsPath(path), positionsSpread(cfg)))
      GenTable.build(docStatsOf(docs, id, text), statsPath(path), statsSpread)
      writeMeta(docs.sparkSession, path, cfg)
    } finally { post.unpersist(); pos.foreach(_.unpersist()); () }
  }

  /** The materialized impact rank: row_number per term (tf desc, doc_id
    * asc) WITHIN one generation's postings — computed once at write time
    * (build / append / compact), so probes never sort a term's postings
    * again. Cross-generation truncation stays exact because the global
    * top-m by (tf desc, doc_id) is always a subset of the union of
    * per-generation top-m prefixes. A fold ranks within each row's
    * target generation (`gen`). */
  private def withImpactRank(postings: DataFrame, gen: Column*): DataFrame = {
    val w = Window.partitionBy(col("term") +: gen: _*)
      .orderBy(col("tf").desc, col("doc_id"))
    postings.withColumn("irn", row_number().over(w))
  }

  /** The postings rows a build or append writes: impact-ranked, or the
    * pre-era layout for an index that predates the impact order. */
  private def postingRows(postings: DataFrame, cfg: Config): DataFrame = {
    val data = postings.select(col("term"), col("doc_id"), col("tf"), col("dl"))
    if (cfg.impactOrdered) withImpactRank(data) else data
  }

  private def postingsSpread(cfg: Config) = GenTable.Spread.Hash(cfg.postFiles,
    termPk(cfg), col("term"), if (cfg.impactOrdered) col("irn") else col("doc_id"))

  /** One generation's (term, df) sidecar rows — df is the TRUE posting
    * count per term in this generation (the idf numerator source once
    * truncated scans stop seeing every posting). Same (pk, gen)
    * partitioning as the postings, so one probe predicate prunes both. */
  private def termDfOf(postings: DataFrame): DataFrame =
    postings.groupBy(col("term")).agg(count(lit(1)).as("df"))

  private def termdfSpread(cfg: Config) =
    GenTable.Spread.Hash(cfg.postFiles, termPk(cfg), col("term"))

  private def tombstones(spark: SparkSession, path: String): Option[DataFrame] =
    TombstoneLog.readDir(spark, tombsPath(path), "doc_id")

  /** Rank `queries` — a (query_id, term) frame, one row per query term —
    * against the visible index: BM25 top-`k` docs per query as
    * (query_id, rn, doc_id, score). The postings scan is partition-
    * pruned to the probed terms' pk directories (file level) plus a
    * broadcast semi join on term (row level); df comes from that same
    * pruned scan; N/avgdl from the generation stats rows. Tombstoned
    * docs never appear in results (they still count toward df/N/avgdl —
    * see the object scaladoc for why that is the Lucene contract).
    * `excludeGen` is hidden (GenTable.hide, the retry contract).
    *
    * `maxPostings = Some(m)` applies IMPACT-ORDERED truncation (the
    * public Anh–Moffat impact-ordering / Lucene max-score family): each
    * term SCORES against only its top-`m` postings by (tf desc,
    * doc_id), while idf keeps the TRUE df — so a common term's
    * contribution is both honest (its idf is tiny) and bounded (its
    * join fan-out is ≤ m rows instead of ≤ corpus). Mandatory for
    * probes whose query count scales with the corpus (the ingest path
    * defaults to [[DefaultMaxPostings]]). On an impact-ordered index the
    * cut is a PUSHED SCAN PREDICATE (`irn <= m` against the materialized
    * rank column; row-group min/max prune a hot term's tail files), and
    * the only probe-side rank work left is the cross-generation merge of
    * the ≤ m-row per-generation prefixes — exact, because the global
    * top-m is a subset of their union. Pre-era indexes (no `irn`) fall
    * back to the full probe-side window. */
  def probe(spark: SparkSession, path: String, queries: DataFrame,
      k: Int = 10, excludeGen: Option[String] = None,
      cfg: Config = Config(),
      maxPostings: Option[Int] = None): DataFrame = {
    val layout = adoptMeta(spark, path, cfg)
    val qcols = queries.select(col("query_id"), col("term"))
    // touched pk values + the term semi-join list from ONE bounded
    // localize (the LshIndex probe shape); over-cap falls back to a
    // distinct-pk collect with the terms staying distributed
    val (q, touchedTerms, touchedPk, localQ) =
      Caches.localize(qcols.withColumn("pk", termPk(layout)),
        maxRows = 1 << 20) match {
        case Some(local) =>
          val rows = local.collect() // LocalRelation — driver-side, no job
          val terms = rows.map(_.getString(1)).distinct.toSeq
          val tt = spark.createDataFrame(
            new java.util.ArrayList(
              terms.map(t => org.apache.spark.sql.Row(t)).asJava),
            org.apache.spark.sql.types.StructType(Seq(local.schema("term"))))
          (local.drop("pk"), tt,
            rows.map(_.getInt(2)).distinct.map(Int.box).toSeq, Some(rows))
        case None =>
          val tt = qcols.select(col("term")).distinct()
          val pk = tt.select(termPk(layout).as("pk")).distinct()
            .collect().map(r => Int.box(r.getInt(0))).toSeq
          (qcols, tt, pk, None)
      }
    def visible(table: String): DataFrame =
      GenTable.hide(spark.read.parquet(table), excludeGen)
    val rawPost = visible(postingsPath(path)).where(col("pk").isin(touchedPk: _*))
    // materialized truncation: on an impact-ordered index the per-term
    // cut is a pushed parquet predicate on the rank column — the scan
    // reads ≤ m rows per (term, generation) and prunes a hot term's
    // tail row groups; legacy indexes scan whole and cut below
    val scanCut =
      if (layout.impactOrdered) maxPostings.fold(rawPost)(m =>
        rawPost.where(col("irn") <= m))
      else rawPost
    val post = scanCut
      .select(col("term"), col("doc_id"), col("tf"), col("dl"))
      .join(broadcast(touchedTerms), Seq("term"), "left_semi")
    // TRUE df per probed term: from the termdf sidecar (same pk pruning;
    // per-generation rows sum to the global count) — the scan can no
    // longer supply it once truncated. Legacy era: count the full scan.
    val df =
      if (layout.impactOrdered)
        visible(termdfPath(path)).where(col("pk").isin(touchedPk: _*))
          .join(broadcast(touchedTerms), Seq("term"), "left_semi")
          .groupBy(col("term")).agg(sum(col("df")).as("df"))
      else post.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = visible(statsPath(path))
      .agg(sum(col("n_docs")).as("n"),
        (sum(col("sum_dl")).cast("double") / sum(col("n_docs"))).as("avgdl"))
    // the exact q130 BM25 spelling — bit-pinned against DuckDB there
    val idf = log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val tfn = (col("tf") * 2.2) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    // the residual cross-generation merge: the scan already returned the
    // per-generation top-m prefixes (≤ m·|gens| rows per term on an
    // impact-ordered index), this window keeps the exact global top-m of
    // their union — bit-identical to the single-window legacy cut, which
    // is also what this same expression computes on a pre-era index.
    // With a SINGLE visible generation on an impact-ordered index the
    // per-generation prefix already IS the global top-m (`irn <= m` was
    // pushed to the scan), so the merge window — one whole exchange on
    // the probe's hot path — is skipped outright.
    val singleVisibleGen = layout.impactOrdered && maxPostings.isDefined && {
      val gens = GenTable.genNames(spark, postingsPath(path), nested = true)
      (gens -- excludeGen.toSet).size <= 1
    }
    val scoredPost =
      if (singleVisibleGen) post
      else maxPostings.fold(post) { m =>
        val wImp = Window.partitionBy(col("term"))
          .orderBy(col("tf").desc, col("doc_id"))
        post.withColumn("prn", row_number().over(wImp))
          .where(col("prn") <= m).drop("prn")
      }
    val tombs = tombstones(spark, path)
    // max-score pruning (the Turtle–Flood / Lucene max-score family in
    // batch-relational form): on the single-generation impact-ordered
    // fast path, a bounded PREFIX often already settles the top-k — see
    // [[maxScoreScored]]. Engages only when exactness is provable;
    // anything else falls back to the plain full-cap scoring below.
    val prunedScored: Option[DataFrame] =
      if (!singleVisibleGen || localQ.isEmpty || tombs.isDefined) None
      else maxPostings.flatMap { m =>
        val m0 = math.max(k, MaxScorePrefix)
        // engagement gate, both sides: the one extra job must pay for
        // itself in skipped scoring-join volume, AND phase A's driver
        // round-trip must stay small (see MaxScorePhaseACap)
        val saved = (m - m0).toLong * localQ.get.length
        val phaseA = m0.toLong * localQ.get.length
        if (m0 >= m || saved < maxScoreMinSaved(spark) ||
            phaseA > MaxScorePhaseACap) None
        else maxScoreScored(spark, rawPost, q, localQ.get, touchedTerms,
          df, stats, k, m, m0)
      }
    val scored = prunedScored.getOrElse(
      scoredPost.join(broadcast(q), "term")
        .join(broadcast(df), "term")
        .crossJoin(broadcast(stats))
        .withColumn("s", idf * tfn)
        .groupBy(col("query_id"), col("doc_id"))
        .agg(sum(col("s")).as("score")))
    val alive = tombs.fold(scored)(t =>
      scored.join(t, Seq("doc_id"), "left_anti"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    alive.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
      .select(col("query_id"), col("rn"), col("doc_id"), col("score"))
  }

  /** Max-score / block-max pruned scoring (Turtle & Flood's max-score,
    * Lucene's `MAXSCORE` family, adapted to the batch-relational probe):
    * instead of scoring every `irn <= m` posting of every probed term,
    * score a bounded PREFIX (`irn <= m0`) first, bound what the tail
    * (`m0 < irn <= m`) could still contribute, and read the tail ONLY
    * for docs that can still reach the top-k.
    *
    * Soundness (why the result is BIT-IDENTICAL to full-cap scoring):
    *   - every prefix posting is in the final sum (single generation ⇒
    *     `irn` IS the global impact rank), so a doc's prefix score `p`
    *     LOWER-bounds its final score;
    *   - a tail posting of term t has tf ≤ the term's boundary tf (the
    *     minimum tf in its prefix — the impact order guarantees it) and
    *     tfn is increasing in tf and maximal at dl = 1, so its
    *     contribution is ≤ bmax_t = idf_t · tfn(btf_t, dl = 1); terms
    *     with df ≤ m0 have NO tail (bmax = 0);
    *   - θ_q = the k-th best prefix score lower-bounds the k-th best
    *     FINAL score (final ≥ prefix pointwise, all contributions > 0);
    *   - an UNSEEN doc's final score is ≤ B_q = Σ_t bmax_t < θ_q (the
    *     query-safety test, strict) ⇒ it cannot enter the top-k;
    *   - a SEEN doc's final score is ≤ p + Σ_{t where unseen} bmax_t =
    *     p + B_q − Σ_{t where seen} bmax_t; below θ_q (strict) ⇒ out.
    * Docs that survive those bounds get their tail postings scored for
    * real (a superset filter — extra tail rows only make non-winners'
    * partial scores more exact, never change the top-k), so every
    * EMITTED row carries the exact full-cap score. Queries that fail
    * the safety test (θ undefined, or B_q ≥ θ_q) keep their whole tail.
    *
    * Engages only when (a) the skippable scoring volume clears
    * [[MaxScoreMinSavedConf]] — the pruning pays one extra bounded job,
    * which must pay for itself — (b) the index carries NO tombstone log
    * (a tombstoned prefix doc would inflate θ and over-prune alive
    * docs; tombstones are transient between takedown and compact), and
    * (c) the phase-A prefix localizes (bounded driver work — the
    * ingest path's batch-sized probes); returns None to fall back
    * otherwise. Phase A is ONE job: the localized detail rows carry
    * both the exact prefix score and the row's term tail bound, and
    * every tail-bearing term necessarily has prefix rows (irn starts
    * at 1), so the per-query budget derives driver-side.
    * The candidate-doc tail filter rides the SCAN as a
    * pushed IN predicate when the list is small (≤ [[MaxScoreIsinCap]],
    * no unsafe queries — on a skewed corpus the tail scan then reads
    * near-zero rows), and joins otherwise. Sum-order caveat: per-doc
    * partials add driver-side; for the ≤ 2-term distilled queries the
    * families use, IEEE addition is commutative so scores stay
    * bit-stable (the object-scaladoc short-query discipline). */
  private def maxScoreScored(spark: SparkSession, rawPost: DataFrame,
      q: DataFrame, qRows: Array[org.apache.spark.sql.Row],
      touchedTerms: DataFrame, df: DataFrame, stats: DataFrame,
      k: Int, m: Int, m0: Int): Option[DataFrame] = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val idf = log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val tfn = (col("tf") * 2.2) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    val prefix = rawPost.where(col("irn") <= m0)
      .select(col("term"), col("doc_id"), col("tf"), col("dl"))
      .join(broadcast(touchedTerms), Seq("term"), "left_semi")
    // boundary tf per term over the PHYSICAL prefix (tombstoned docs
    // included — they are physical postings until compact, and the tail
    // bound is about physical rows)
    val btf = prefix.groupBy(col("term")).agg(min(col("tf")).as("btf"))
    val tfnUb = (col("btf") * 2.2) /
      (col("btf") + lit(1.2) * (lit(0.25) + lit(0.75) * lit(1.0) / col("avgdl")))
    // the single phase-A frame: exact prefix score AND the row's term
    // tail bound (0 for terms fully inside the prefix — df <= m0 means
    // no tail exists)
    val detail = prefix.join(broadcast(q), "term")
      .join(broadcast(df), "term").join(broadcast(btf), "term")
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("term"), col("doc_id"),
        (idf * tfn).as("s"),
        when(col("df") > m0, idf * tfnUb).otherwise(lit(0.0)).as("bmax"))
    val localDetail = Caches.localize(detail, maxRows = 1 << 22)
      .map(_.collect())
    if (localDetail.isEmpty) return None
    // every tail-bearing (query, term) has prefix rows (irn starts at
    // 1), so the per-query tail budget derives from the detail itself
    val bmaxByQt = localDetail.get
      .map(r => (r.get(0), r.getString(1)) -> r.getDouble(4)).toMap
    val bByQ = bmaxByQt.toSeq.groupBy(_._1._1)
      .map { case (qid, rs) => qid -> rs.map(_._2).sum }
    // p (exact prefix partial) and covered-bound per (query, doc)
    val pd = scala.collection.mutable.LinkedHashMap
      .empty[(Any, Any), (Double, Double)]
    localDetail.get.foreach { r =>
      val key = (r.get(0), r.get(2))
      val bm = bmaxByQt.getOrElse((r.get(0), r.getString(1)), 0.0)
      val (p0, c0) = pd.getOrElse(key, (0.0, 0.0))
      pd(key) = (p0 + r.getDouble(3), c0 + bm)
    }
    val byQ = pd.toSeq.groupBy(_._1._1)
    val keepDocs = scala.collection.mutable.LinkedHashSet.empty[Any]
    val unsafeQ = scala.collection.mutable.LinkedHashSet.empty[Any]
    qRows.map(_.get(0)).distinct.foreach { qid =>
      val docs = byQ.getOrElse(qid, Seq.empty)
      val b = bByQ.getOrElse(qid, 0.0)
      if (docs.size < k && b > 0.0) { unsafeQ += qid; () }
      else if (docs.size >= k) {
        val th = docs.map(_._2._1).sorted(Ordering[Double].reverse)(k - 1)
        if (b < th)
          docs.foreach { case ((_, d), (p, cov)) =>
            if (p + b - cov >= th) { keepDocs += d; () }
          }
        else { unsafeQ += qid; () }
      }
      // docs.size < k with b == 0: nothing beyond the prefix exists for
      // this query — safe with no candidates
    }
    // phase-A partials as a LocalRelation — reused, not recomputed
    val qidField = detail.schema("query_id")
    val docField = detail.schema("doc_id")
    val pRows: Seq[Row] =
      pd.toSeq.map { case ((qid, d), (p, _)) => Row(qid, d, p) }
    val pref = spark.createDataFrame(
      new java.util.ArrayList(pRows.asJava),
      StructType(Seq(qidField, docField, StructField("s", DoubleType))))
    val tailNeeded = unsafeQ.nonEmpty || keepDocs.nonEmpty
    val tailScored: Option[DataFrame] = if (!tailNeeded) None else {
      val tailBase = rawPost.where(col("irn") > m0 && col("irn") <= m)
      val pushIn = unsafeQ.isEmpty && keepDocs.size <= MaxScoreIsinCap
      val tailCut =
        if (pushIn) tailBase.where(col("doc_id").isin(keepDocs.toSeq: _*))
        else tailBase
      val scored0 = tailCut
        .select(col("term"), col("doc_id"), col("tf"), col("dl"))
        .join(broadcast(touchedTerms), Seq("term"), "left_semi")
        .join(broadcast(q), "term")
        .join(broadcast(df), "term").crossJoin(broadcast(stats))
        .select(col("query_id"), col("doc_id"), (idf * tfn).as("s"))
      Some(
        if (pushIn) scored0
        else {
          val kd = spark.createDataFrame(
            new java.util.ArrayList(keepDocs.toSeq.map(Row(_)).asJava),
            StructType(Seq(docField))).withColumn("__kd", lit(1))
          val uq = spark.createDataFrame(
            new java.util.ArrayList(unsafeQ.toSeq.map(Row(_)).asJava),
            StructType(Seq(qidField))).withColumn("__kq", lit(1))
          scored0.join(broadcast(kd), Seq("doc_id"), "left")
            .join(broadcast(uq), Seq("query_id"), "left")
            .where(col("__kd") === 1 || col("__kq") === 1)
            .drop("__kd", "__kq")
        })
    }
    Some(tailScored.fold(pref)(t => pref.unionByName(t))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("s")).as("score")))
  }

  /** GLOBAL document frequency per term — all visible generations
    * summed, tombstones included (the Lucene df contract) — for gate
    * bootstrap and query distillation: reads the |vocab|-sized termdf
    * sidecar instead of aggregating the corpus-sized postings (the r17
    * gate derivations' dominant residual cost); pre-era indexes fall
    * back to the postings count. */
  def termDf(spark: SparkSession, path: String,
      cfg: Config = Config()): DataFrame = {
    val layout = adoptMeta(spark, path, cfg)
    if (layout.impactOrdered)
      spark.read.parquet(termdfPath(path))
        .groupBy(col("term")).agg(sum(col("df")).as("df"))
    else
      spark.read.parquet(postingsPath(path))
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
  }

  /** PHRASE retrieval against the positions sidecar — the persisted
    * production form of q186's from-scratch phrase BM25: `phrases` is a
    * (query_id, phrase) frame where `phrase` is a space-joined word
    * sequence (any length ≥ 1); a document matches where the phrase's
    * words appear ADJACENT in order. Ranking is the exact q130/q186 BM25
    * expression with the PHRASE's own tf (adjacent-occurrence count per
    * doc) and df (matching-doc count across the visible generations —
    * tombstones included, the same Lucene statistics contract as
    * [[probe]]); N/avgdl come from the generation stats rows. Returns
    * (query_id, rn, doc_id, score), top-`k` per query by (score desc,
    * doc_id).
    *
    * Cost shape: the positions scan is pk-pruned to the phrase terms'
    * directories plus a broadcast term semi join — O(positions of the
    * probed terms), never a corpus re-tokenize. The adjacency intersect
    * is one aggregation keyed on (query, doc, pos − term_index): a row
    * per candidate ALIGNMENT, so its volume is bounded by the matched
    * positions themselves. Requires a positions-enabled index
    * (Config(positions = true) at build); fails loudly otherwise. */
  def phraseProbe(spark: SparkSession, path: String, phrases: DataFrame,
      k: Int = 10, excludeGen: Option[String] = None,
      cfg: Config = Config()): DataFrame = {
    val layout = adoptMeta(spark, path, cfg)
    if (!layout.positions)
      throw new IllegalStateException(
        s"$path carries no positions sidecar — phrase probes need a " +
          "positions-enabled index (InvertedIndex.Config(positions = " +
          "true) at build); term probes keep working")
    val qterms0 = phrases.select(col("query_id"), col("phrase"))
      .select(col("query_id"), col("phrase"),
        posexplode(split(col("phrase"), " ")).as(Seq("ti", "term")))
    val (qt, touchedTerms, touchedPk) =
      Caches.localize(qterms0.withColumn("pk", termPk(layout)),
        maxRows = 1 << 20) match {
        case Some(local) =>
          val rows = local.collect() // LocalRelation — driver-side, no job
          val terms = rows.map(_.getAs[String]("term")).distinct.toSeq
          val tt = spark.createDataFrame(
            new java.util.ArrayList(
              terms.map(t => org.apache.spark.sql.Row(t)).asJava),
            org.apache.spark.sql.types.StructType(Seq(local.schema("term"))))
          (local.drop("pk"), tt,
            rows.map(_.getAs[Int]("pk")).distinct.map(Int.box).toSeq)
        case None =>
          val tt = qterms0.select(col("term")).distinct()
          val pk = tt.select(termPk(layout).as("pk")).distinct()
            .collect().map(r => Int.box(r.getInt(0))).toSeq
          (qterms0, tt, pk)
      }
    def visible(table: String): DataFrame =
      GenTable.hide(spark.read.parquet(table), excludeGen)
    val posScan = visible(positionsPath(path)).where(col("pk").isin(touchedPk: _*))
      .select(col("term"), col("doc_id"), col("pos"), col("dl"))
      .join(broadcast(touchedTerms), Seq("term"), "left_semi")
    // phrase length per query — the alignment-completeness target
    val nt = qt.groupBy(col("query_id"), col("phrase"))
      .agg((max(col("ti")) + 1).as("nt"))
    // one row per (query term-slot, matching position); an occurrence of
    // the phrase at base position b puts term-slot ti at pos b + ti, so
    // grouping on bp = pos − ti and demanding ALL slots present is the
    // in-order adjacency intersect
    val occ = posScan.join(broadcast(qt), "term")
      .withColumn("bp", col("pos") - col("ti"))
      .groupBy(col("query_id"), col("phrase"), col("doc_id"), col("bp"))
      .agg(countDistinct(col("ti")).as("nm"), max(col("dl")).as("dl"))
      .join(broadcast(nt), Seq("query_id", "phrase"))
      .where(col("nm") === col("nt"))
    val ptf = occ.groupBy(col("query_id"), col("phrase"), col("doc_id"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    // phrase df over the visible corpus — computed BEFORE the tombstone
    // filter (deleted docs count toward statistics until compact)
    val pdf = ptf.groupBy(col("query_id"), col("phrase"))
      .agg(count(lit(1)).as("df"))
    val stats = visible(statsPath(path))
      .agg(sum(col("n_docs")).as("n"),
        (sum(col("sum_dl")).cast("double") / sum(col("n_docs"))).as("avgdl"))
    val idf = log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val tfn = (col("tf") * 2.2) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    val scored = ptf.join(broadcast(pdf), Seq("query_id", "phrase"))
      .crossJoin(broadcast(stats))
      .withColumn("score", idf * tfn)
    val alive = tombstones(spark, path).fold(scored)(t =>
      scored.join(t, Seq("doc_id"), "left_anti"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    alive.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
      .select(col("query_id"), col("rn"), col("doc_id"), col("score"))
  }

  /** One ingest batch: each batch doc DISTILLS its own retrieval query —
    * its top-`queryTerms` terms by (tf desc, term asc), the short-query
    * discipline that keeps BM25 sums bit-stable — probes the PRE-batch
    * index for its top-`k` matches (contamination / near-dup forensics
    * against the standing corpus), then appends the batch's postings
    * and stats as its own generation. Returns the match log
    * (probe_id, rn, match_id, score_r), materialized before the appends
    * can be observed (GenTable's `batchId` delivery contract). */
  def probeAndAppend(spark: SparkSession, path: String, batch: DataFrame,
      batchId: Option[Long], k: Int = 3, queryTerms: Int = 2,
      cfg: Config = Config(), id: String = "doc_id",
      text: String = "text",
      maxPostings: Option[Int] = Some(DefaultMaxPostings)): DataFrame =
    probeAppendCore(spark, path, batch, batchId, k, queryTerms, cfg, id,
      text, maxPostings, GenTable.localized(1 << 20))

  /** [[probeAndAppend]] with the match log written DIRECTLY into the
    * `batch_id`-partitioned log (GenTable.toBatchLog) — one job
    * instead of localize + write. */
  def probeAndAppendToLog(spark: SparkSession, path: String,
      batch: DataFrame, matchesDir: String, batchId: Long, k: Int = 3,
      queryTerms: Int = 2, cfg: Config = Config(), id: String = "doc_id",
      text: String = "text",
      maxPostings: Option[Int] = Some(DefaultMaxPostings)): Unit = {
    probeAppendCore(spark, path, batch, Some(batchId), k, queryTerms, cfg,
      id, text, maxPostings, GenTable.toBatchLog(batchId, matchesDir))
    ()
  }

  private def probeAppendCore(spark: SparkSession, path: String,
      batch: DataFrame, batchId: Option[Long], k: Int, queryTerms: Int,
      cfg: Config, id: String, text: String, maxPostings: Option[Int],
      materialize: DataFrame => DataFrame): DataFrame =
    IndexLock.withWriter(path) {
      val layout = adoptMeta(spark, path, cfg)
      val pos = if (layout.positions)
        Some(positionsOf(batch, id, text).persist()) else None
      val post = pos.fold(postingsOf(batch, id, text))(postingsFromPositions)
        .persist()
      try {
        val wq = Window.partitionBy(col("doc_id"))
          .orderBy(col("tf").desc, col("term"))
        val q = post.withColumn("qrn", row_number().over(wq))
          .where(col("qrn") <= queryTerms)
          .select(col("doc_id").as("query_id"), col("term"))
        // probe construction stays BEFORE the concurrent round: its
        // listings (and, on retry, the schema read of the delivery-1
        // gen=b<id> files the append is about to REPLACE) must freeze
        // before any dynamic-overwrite delete — deferring it into the
        // round races readParquetFootersInParallel against the retry's
        // partition replacement. probe() now also runs its bounded
        // max-score phase-A jobs here, serial before the appends — two
        // small prefix-sized jobs, a price worth the retry safety.
        val log = probe(spark, path, q, k,
          excludeGen = batchId.map(GenTable.batchGen), cfg = layout,
          maxPostings = maxPostings)
          .select(col("query_id").as("probe_id"), col("rn"),
            col("doc_id").as("match_id"),
            round(col("score"), 4).as("score_r"))
        // independent targets (postings vs termdf vs stats) — appended
        // concurrently; the termdf sidecar exists only in the
        // impact-ordered era (appends adopt the index's layout)
        GenTable.probeThenAppend(batchId, () => materialize(log), Seq(
          Some((postingRows(post, layout), postingsPath(path), postingsSpread(layout))),
          Some((docStatsOf(batch, id, text), statsPath(path), statsSpread)),
          Option.when(layout.impactOrdered)(
            (termDfOf(post), termdfPath(path), termdfSpread(layout))),
          pos.map(p => (positionRows(p), positionsPath(path), positionsSpread(layout)))
        ).flatten: _*)
      } finally { post.unpersist(); pos.foreach(_.unpersist()); () }
    }

  /** Tombstone `docIds`: hidden from every subsequent probe's MATCHES
    * immediately; physically dropped (and removed from df/N/avgdl) at
    * the next [[compact]]. O(deletions) writes, nothing rebuilt. */
  def markDeleted(spark: SparkSession, path: String, docIds: Seq[Long]): Unit =
    IndexLock.withWriter(path) {
      adoptMeta(spark, path, Config()) // loud failure on a non-index path
      TombstoneLog.append(spark, tombsPath(path), "doc_id", docIds)
    }

  /** Fold the accumulated generations back into one tight `gen=base`
    * (GenTable.fold): tombstoned docs drop physically from the postings
    * AND from the recomputed generation stats (df/N/avgdl snap to the
    * post-takedown corpus — the Lucene merge semantics). Every fold
    * rewrites into the impact-ordered era, so a PRE-ERA index never
    * skips: the in-stream fold is also its upgrade, stamped into the
    * meta once every table has committed. */
  def compact(spark: SparkSession, path: String,
      keepBatch: Option[Long] = None): Unit = IndexLock.withWriter(path) {
    val cfg = adoptMeta(spark, path, Config())
    // the LSM merge is where a pre-era index upgrades: irn materialized,
    // termdf sidecar created (first committed by a rename), meta stamped
    val upgraded = cfg.copy(impactOrdered = true)
    val pkTables = Seq(postingsPath(path), termdfPath(path)) ++
      (if (cfg.positions) Seq(positionsPath(path)) else Nil)
    GenTable.fold(spark, path, keepBatch,
      tables = pkTables.map(_ -> true) :+ (statsPath(path) -> false),
      swap = pkTables :+ statsPath(path),
      tombs = Some(GenTable.Tombs(tombsPath(path), "doc_id", postingsPath(path))),
      skippable = cfg.impactOrdered) { f =>
      val postStaged = f.staged(postingsPath(path))
      // the postings fold and the positions fold (which exists only on a
      // positions-enabled index) read and write DISJOINT tables — one
      // concurrent round, one write each; the impact rank is a
      // per-(term, GENERATION) property, so it ranks within each row's
      // target generation
      Par.all(
        () => f.write(
          withImpactRank(f.dropTombstoned(spark.read.parquet(postingsPath(path)))
            .select(col("term"), col("doc_id"), col("tf"), col("dl"), col("gen")),
            f.target),
          postStaged, postingsSpread(upgraded)),
        () => if (cfg.positions)
          f.write(f.dropTombstoned(spark.read.parquet(positionsPath(path))),
            f.staged(positionsPath(path)), positionsSpread(upgraded)))
      // termdf + stats recomputed from the STAGED rewrite (the committed
      // bytes, not the plan) — independent target tables over the same
      // read-only staged rows, so the two derivations share one round.
      // A doc lives in exactly one generation and has ≥ 1 token under
      // string_split semantics, so the distinct (doc_id, dl) rows per
      // generation are its docs.
      val stagedRows = spark.read.parquet(postStaged)
      Par.all(
        () => f.write(stagedRows.groupBy(col("term"), col("gen"))
            .agg(count(lit(1)).as("df")),
          f.staged(termdfPath(path)), termdfSpread(upgraded)),
        () => f.write(stagedRows.select(col("doc_id"), col("dl"), col("gen")).distinct()
            .groupBy(col("gen"))
            .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl")),
          f.staged(statsPath(path)), statsSpread))
    }
    if (!cfg.impactOrdered) writeMeta(spark, path, upgraded)
  }
}
