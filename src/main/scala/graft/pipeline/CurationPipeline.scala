package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.{Caches, EventOps, TextOps}

/** End-to-end training-data curation: the extension operators composed the
  * way a 100 TB corpus job would chain them — each stage a pure
  * `DataFrame => DataFrame`, cheap stages first so expensive ones see
  * fewer rows:
  *
  *   1. normalize + EXACT dedup (md5 of canonical text; one shuffle)
  *   2. quality gate (per-row expressions only)
  *   3. near-dup candidate removal via MinHash+LSH (band shuffle over
  *      survivors only; keeps the lexicographically-first doc per
  *      verified near-dup pair)
  *   4. token accounting for budget reporting
  *
  * Stage outputs keep lineage columns so the report can attribute drops.
  */
object CurationPipeline {

  /** `maxBucket` caps LSH band buckets (TextOps.bucketPairs): a bucket
    * with more members is dropped from CANDIDATE generation, which means
    * its documents are all KEPT by near-dedup — hot buckets are usually
    * boilerplate, but a >maxBucket cluster of true near-duplicates
    * (mass-templated spam) survives curation under the cap. Tune it to
    * the corpus (or `None` to disable and pay the quadratic bucket);
    * the `lsh_hot_buckets` observe() metric reports what was dropped so
    * the trade is visible in run telemetry. */
  /** `langIdAudit` switches on the CONTENT-derived language audit stage
    * ([[langIdAnnotateMulti]]): docs whose char-trigram ARGMAX-predicted
    * language disagrees with their declared `lang` column are dropped
    * after the quality gate. Off by default — it requires a `lang`
    * column and a corpus large enough to train on. `langIdTarget` is
    * kept for the binary [[langIdAnnotate]] audits callers run directly
    * (the stage itself trains one-vs-rest over every declared
    * language). */
  case class Config(
      shingleN: Int = 2, minhashK: Int = 8, bandR: Int = 2,
      jaccardThreshold: Double = 0.5,
      minWords: Int = 10, maxStopwordRatio: Double = 0.5,
      stopwords: Seq[String] = Seq("the", "a"),
      maxBucket: Option[Int] = Some(graft.ops.TextOps.DefaultMaxBucket),
      langIdAudit: Boolean = false, langIdTarget: String = "en")

  /** Stage 1: canonical-text exact dedup, first-wins by id. */
  def exactDedup(docs: DataFrame, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    val hashed = docs.withColumn("__norm_hash",
      md5(TextOps.normalizeText(col(text))))
    EventOps.dedupFirstWins(hashed, Seq("__norm_hash"), Seq(col(id)))
      .drop("__norm_hash")
  }

  /** Stage 1b: cross-document boilerplate-block removal — the CCNet /
    * RefinedWeb "line-level dedup" stage (Wenzek et al. arXiv:1911.00359
    * §4.1; Penedo et al. arXiv:2306.01116) re-expressed over single-line
    * docs: the unit is a consecutive `blockTokens`-token block instead of
    * a newline-delimited line. Every block occurring in >= `minDocs`
    * DISTINCT docs (nav bars, cookie banners, license footers) is
    * stripped from every doc, and the surviving blocks are reassembled in
    * order.
    *
    * Scale shape: blocks are computed IN-ROW and deduped in-row before
    * the counting explode, so the frequency pass is one partial+final
    * agg over block strings — the corpus text shuffles once, as blocks.
    * The frequent set is tiny by construction (boilerplate = few
    * distinct strings repeated widely), so the removal is a broadcast
    * anti join; the per-doc reassembly groupBy is the only other
    * corpus-sized exchange. Docs reduced to nothing come back with
    * empty text (and their `n_dropped` audit trail), not silently
    * filtered — dropping them is the quality gate's decision. */
  def boilerplateStrip(docs: DataFrame, blockTokens: Int = 5,
      minDocs: Int = 8, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    val w = TextOps.words(col(text))
    val nb = ceil(size(w) / lit(blockTokens.toDouble)).cast("int")
    val blocks = transform(sequence(lit(1), nb),
      i => concat_ws(" ", slice(w, (i - 1) * blockTokens + 1, lit(blockTokens))))
    val freq = docs
      .select(explode(array_distinct(blocks)).as("__blk"))
      .groupBy(col("__blk")).agg(count(lit(1)).as("__n"))
      .where(col("__n") >= minDocs)
      .select(col("__blk"))
    val positioned = docs.select(col(id),
      posexplode(blocks).as(Seq("__bp", "__blk")))
    val rebuilt = positioned
      .join(broadcast(freq), Seq("__blk"), "left_anti")
      .groupBy(col(id)).agg(
        count(lit(1)).as("__n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("__bp"), col("__blk")))),
          s => s.getField("__blk"))).as("__clean"))
    docs.withColumn("n_blocks", nb)
      .join(rebuilt, Seq(id), "left")
      .withColumn("n_dropped", col("n_blocks") - coalesce(col("__n_kept"), lit(0L)))
      .withColumn(text, coalesce(col("__clean"), lit("")))
      .drop("__n_kept", "__clean")
  }

  /** Stage 2: quality gate on per-row signals. The token array is bound
    * once per row (TextOps.bound): the word count and the stopword ratio
    * previously each split the text — the codegen'd `size(split)` pair
    * CSE'd, but the stopword `filter()` HOF re-split interpreted. */
  def qualityGate(docs: DataFrame, cfg: Config, text: String = "text"): DataFrame = {
    val keep = TextOps.bound(TextOps.words(col(text))) { w =>
      val hits = size(filter(w, x => x.isInCollection(cfg.stopwords)))
      size(w) >= cfg.minWords &&
        hits.cast("double") / size(w) <= cfg.maxStopwordRatio
    }
    docs.where(keep)
  }

  /** Stage 3: MinHash+LSH near-dup removal — drops the higher-id doc of
    * every verified (jaccard >= threshold) candidate pair. The drop-id
    * set is settled eagerly (while the signature table is cached), so
    * the signature cache is released before returning and no cache
    * outlives the call: a drop set under the cap becomes a driver-local
    * relation (ids only — a curation drop set is orders of magnitude
    * smaller than its corpus) feeding a broadcast anti-join; a larger one
    * is checkpointed ([[Caches.settle]]) and joined distributed. */
  def nearDedup(docs: DataFrame, cfg: Config, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    val sig = sigTable(docs, cfg, id, text).persist()
    try {
      val drop = Caches.settle(verifiedPairs(sig, cfg, id)
        .select(col("doc_b").as(id)).distinct(), maxRows = 1 << 20)
      val local = drop.queryExecution.logical.isInstanceOf[LocalRelation]
      docs.join(if (local) broadcast(drop) else drop, Seq(id), "left_anti")
    } finally sig.unpersist()
  }

  /** The (id, sh shingle set, m0..m(k-1) minhash signature) table — the
    * shared front half of every MinHash consumer in the pipeline. */
  private def sigTable(docs: DataFrame, cfg: Config, id: String,
      text: String): DataFrame =
    docs.select(col(id), TextOps.shingleSet(col(text), cfg.shingleN).as("sh"))
      .select(col(id) +: col("sh") +:
        TextOps.minhashFromSet(col("sh"), cfg.minhashK): _*)

  /** The verified near-dup pairs (doc_a, doc_b, jaccard) over an in-scope
    * (persisted) signature table: LSH candidates → exact jaccard gate
    * (TextOps.verifyJaccard). */
  private[graft] def verifiedPairs(sig: DataFrame, cfg: Config,
      id: String): DataFrame =
    TextOps.verifyJaccard(
      TextOps.lshCandidatePairs(
        TextOps.lshBands(sig, id, cfg.minhashK, cfg.bandR), id, cfg.maxBucket),
      sig, id, "sh", cfg.jaccardThreshold)

  /** Verified near-dup pair EDGES (doc_a, doc_b) over `docs` — the input
    * [[canonicalSelect]] clusters. The pair list is settled
    * ([[Caches.settle]]: localized when small, the common case —
    * candidates are capped upstream) so no cache outlives the call. */
  def nearDupEdges(docs: DataFrame, cfg: Config, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    val sig = sigTable(docs, cfg, id, text).persist()
    try Caches.settle(verifiedPairs(sig, cfg, id)
      .select(col("doc_a"), col("doc_b")), maxRows = 1 << 20)
    finally sig.unpersist()
  }

  /** Stage 2b: bigram-repetition gate — drop docs whose repetition ratio
    * (1 − distinct/total word bigrams, the boilerplate/spam signal q70
    * audits) exceeds `maxRepetition`. Fully in-row; docs under 2 words
    * pass (ratio undefined — the quality gate owns short docs). */
  def repetitionGate(docs: DataFrame, maxRepetition: Double = 0.2,
      text: String = "text"): DataFrame = {
    // the bigram array comes from wordShingles (token array bound
    // internally — the bare transform re-split the text at every gram
    // position) and is itself bound once per row for its two references
    // (distinct size / total size). An under-2-word doc has an EMPTY
    // shingle array — same pass-through as the old size(w) < 2 branch,
    // and the Or short-circuits before the 0-denominator division.
    val keep = TextOps.bound(TextOps.wordShingles(col(text), 2)) { g =>
      size(g) < 1 ||
        (lit(1.0) - size(array_distinct(g)).cast("double") / size(g)
          <= maxRepetition)
    }
    docs.where(keep)
  }

  /** Stage 2c: PII scrub (TextOps.redactPii) — rewrite the text column in
    * place. Runs BEFORE near-dedup in the chain: scrubbing first means
    * redaction markers participate in similarity (two docs differing only
    * in their PII become exact-er duplicates — the desired behavior). */
  def piiScrub(docs: DataFrame, text: String = "text"): DataFrame =
    docs.withColumn(text, TextOps.redactPii(col(text)))

  /** Stage 3b: cluster-canonical selection — the keep-ONE-survivor form
    * of near-dedup. Pairwise removal (stage 3) drops the higher-id doc of
    * each verified pair independently, which can drop every member of a
    * chain (a–b, b–c can drop b and c while a–c was never a candidate);
    * canonical selection instead clusters the verified pair EDGES
    * (GraphOps connected components, O(log n) rounds) and keeps exactly
    * the highest-`quality` member per cluster, ties to the lowest id.
    * Docs in no pair are their own singleton cluster and survive.
    *
    * Returns every input doc annotated with (cluster_id, kept 1|0)
    * rather than filtering, so callers either `.where($"kept" === 1)` or
    * audit the drops. Scale shape: the cluster map covers only docs that
    * appear in a pair (orders of magnitude smaller than the corpus —
    * planner broadcasts it when small), and the survivor rank is one
    * window shuffle on cluster_id; hot-bucket caps upstream bound the
    * largest cluster, so the per-cluster sort cannot be the skew. */
  def canonicalSelect(docs: DataFrame, edges: DataFrame, quality: Column,
      id: String = "doc_id"): DataFrame = {
    val clusters = graft.ops.GraphOps.connectedComponents(edges)
      .select(col("node").as(id), col("component").as("cluster_id"))
    val w = Window.partitionBy(col("cluster_id")).orderBy(quality.desc, col(id))
    docs.join(clusters, Seq(id), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(id)))
      .withColumn("kept", when(row_number().over(w) === 1, 1).otherwise(0))
  }

  /** Stage 2d: per-source cap (the C4/CCNet-style domain cap) — keep at
    * most `cap` docs per source, by `priority` (desc, ties to the lowest
    * id). One window shuffle on the source key; output is bounded at
    * cap × #sources regardless of corpus size. A mega-source serializes
    * only its own partition — salt upstream (SkewOps) if one source
    * dominates the corpus. */
  def sourceCap(docs: DataFrame, cap: Int, priority: Column,
      source: String = "source", id: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy(col(source)).orderBy(priority.desc, col(id))
    docs.withColumn("__rk", row_number().over(w))
      .where(col("__rk") <= cap).drop("__rk")
  }

  /** Stage 5: contiguous sequence packing — assign each row a token-bin
    * id within its shard (q68's operator as a pipeline stage): bin =
    * tokens-accumulated-before-this-row ÷ cap. Per-shard window state, so
    * the stage scales horizontally; never pack over a global ordering. */
  def packed(docs: DataFrame, shard: Column, order: Column, tokens: Column,
      cap: Int = 512): DataFrame = {
    val w = Window.partitionBy(shard).orderBy(order)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.withColumn("bin",
      floor((sum(tokens).over(w) - tokens) / lit(cap.toDouble)))
  }

  /** Stage 4: token accounting columns. */
  /** CONTENT-derived language-ID audit (the optional curation stage the
    * `Config.langIdAudit` flag wires in): hashed char-trigram frequency
    * features ([[TextOps.charTrigrams]] → [[graft.ops.LogReg.bucketOf]])
    * train the full-batch logistic-regression one-vs-rest classifier
    * against the DECLARED `lang` column (q94's trainer and determinism
    * schedule: weights 6-decimal rounded between iterations), then every
    * doc is re-scored from its own bytes. Returns the input annotated
    * with `lang_pred` (target lang or "other", margin 6-decimal rounded
    * before the sign test so engine sum-order wobble cannot flip it) and
    * `lang_agree` (content vs declaration) — the caller decides whether
    * disagreement means drop (mislabeled doc) or review. Scale shape:
    * the model is `dims` doubles riding plans as a literal; per
    * iteration one job over the persisted sparse feature table; the
    * scoring pass is the same feature table joined once — corpus text
    * never shuffles beyond the trigram aggregation. */
  /** The persisted sparse feature table (doc_id, j, x) both audits train
    * and score on, computed in ONE corpus pass: the per-(doc, bucket)
    * counts aggregate first, and the per-doc trigram total `n` — which
    * used to come from a SECOND explode scan joined back on — is just
    * Σc over the doc's ≤ dims bucket rows, a window over the
    * already-aggregated (docs × ≤ dims)-sized table. Halves the
    * corpus-side work: the trigram explode and the per-term md5
    * bucketing run once, and the doc_id join shuffle disappears
    * (guide §2.4 — remove shuffles/passes outright). x is bit-identical:
    * same c, same n, same division. Caller unpersists. */
  private def trigramFeatures(docs: DataFrame, dims: Int, id: String,
      text: String): DataFrame = {
    import graft.ops.LogReg
    graft.sources.Tables.spread(docs)
      .select(col(id).as("doc_id"),
        explode(TextOps.charTrigrams(col(text))).as("term"))
      .select(col("doc_id"), LogReg.bucketOf(col("term"), dims).as("j"))
      .groupBy(col("doc_id"), col("j")).agg(count(lit(1)).as("c"))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("doc_id"))))
      .select(col("doc_id"), col("j"),
        (col("c").cast("double") / col("n")).as("x"))
      .persist()
  }

  def langIdAnnotate(docs: DataFrame, dims: Int = 32, iters: Int = 2,
      targetLang: String = "en", id: String = "doc_id",
      text: String = "text", lang: String = "lang"): DataFrame = {
    val (annotated, release) =
      langIdAnnotateStaged(docs, dims, iters, targetLang, id, text, lang)
    release() // self-cleaning form: the returned plan recomputes features
    annotated
  }

  /** [[langIdAnnotate]] with the feature cache left ALIVE — the returned
    * cleanup releases it (the nearDupEdges staging rule). Callers that
    * materialize the annotated output (aggregate + localize, persist +
    * count) before releasing avoid re-deriving the trigram features a
    * second time at action time. */
  def langIdAnnotateStaged(docs: DataFrame, dims: Int = 32, iters: Int = 2,
      targetLang: String = "en", id: String = "doc_id",
      text: String = "text", lang: String = "lang"): (DataFrame, () => Unit) = {
    import graft.ops.LogReg
    val feat = trigramFeatures(docs, dims, id, text)
    val labels = docs.select(col(id).as("doc_id"),
      when(col(lang) === targetLang, 1.0).otherwise(0.0).as("y"))
    locally {
      val w = LogReg.train(feat, labels, dims, iters)
      val wLit = array(w.map(lit): _*)
      val z = feat
        .select(col("doc_id"),
          (col("x") * element_at(wLit, col("j") + 1)).as("t"))
        .groupBy(col("doc_id")).agg(sum(col("t")).as("__z"))
      // featureless docs (< 3 chars) score z = 0 → predicted target:
      // sigmoid(0) = 0.5 sits ON the boundary and >= breaks toward the
      // positive class, the same closed form the oracle replays
      val annotated = docs.join(z.withColumnRenamed("doc_id", id), Seq(id), "left")
        .withColumn("lang_pred",
          when(round(coalesce(col("__z"), lit(0.0)), 6) >= 0,
            lit(targetLang)).otherwise(lit("other")))
        .withColumn("lang_agree",
          (col(lang) === targetLang) === (col("lang_pred") === targetLang))
        .drop("__z")
      (annotated, () => { feat.unpersist(); () })
    }
  }

  /** MULTICLASS content-derived language ID — [[langIdAnnotate]]
    * generalized from target-vs-rest to one-vs-rest over EVERY declared
    * language, with argmax(z) prediction (ties toward the
    * alphabetically-first language — the deterministic break the oracle
    * replays): the same hashed char-trigram features feed
    * [[graft.ops.LogReg.trainMulti]] (per-class math, schedule and
    * 6-decimal inter-iteration rounding identical to the binary
    * trainer, but one fused job per iteration regardless of class
    * count), then every doc is re-scored from its own bytes against all
    * class models in ONE aggregation pass and labeled with the winning
    * class. Returns the input annotated with `lang_pred` (the argmax
    * language; per-class margins 6-decimal rounded before comparison so
    * sum-order wobble cannot flip a winner) and `lang_agree`
    * (prediction = declaration). Featureless docs (< 3 chars) score 0
    * on every class and predict the first language alphabetically.
    * Scale shape: the model is dims × |classes| doubles riding plans as
    * literals; the class vocabulary is one bounded distinct-collect
    * (languages, not documents); everything else is q94's shape. */
  def langIdAnnotateMulti(docs: DataFrame, dims: Int = 32, iters: Int = 2,
      id: String = "doc_id", text: String = "text",
      lang: String = "lang"): DataFrame = {
    val (annotated, release) =
      langIdAnnotateMultiStaged(docs, dims, iters, id, text, lang)
    release() // self-cleaning form: the returned plan recomputes features
    annotated
  }

  /** [[langIdAnnotateMulti]] with the feature cache left ALIVE — the
    * returned cleanup releases it (the [[langIdAnnotateStaged]] rule). */
  def langIdAnnotateMultiStaged(docs: DataFrame, dims: Int = 32,
      iters: Int = 2, id: String = "doc_id", text: String = "text",
      lang: String = "lang"): (DataFrame, () => Unit) = {
    import graft.ops.LogReg
    val classes = docs.select(col(lang)).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    require(classes.nonEmpty, "langIdAnnotateMulti: no languages to train on")
    val feat = trigramFeatures(docs, dims, id, text)
    locally {
      val labels = docs.select(col(id).as("doc_id"), col(lang).as("label"))
      val w = LogReg.trainMulti(feat, labels, classes, dims, iters)
      val wLits = w.map(wc => array(wc.map(lit): _*))
      val z = feat
        .groupBy(col("doc_id"))
        .agg(round(sum(col("x") * element_at(wLits.head, col("j") + 1)), 6)
            .as("__z0"),
          wLits.tail.zipWithIndex.map { case (wl, i) =>
            round(sum(col("x") * element_at(wl, col("j") + 1)), 6)
              .as(s"__z${i + 1}")
          }: _*)
      val zCols = classes.indices.map(k => coalesce(col(s"__z$k"), lit(0.0)))
      // argmax with the tie toward the earliest class: the CASE chain
      // tests classes in ascending order, first hit wins (a one-class
      // corpus degenerates to that class)
      val pred =
        if (classes.size == 1) lit(classes.head)
        else {
          val zMax = greatest(zCols: _*)
          classes.indices.tail.foldLeft(
            when(zCols.head === zMax, classes.head)) { (acc, k) =>
              acc.when(zCols(k) === zMax, classes(k))
            }
        }
      val annotated = docs.join(z.withColumnRenamed("doc_id", id), Seq(id), "left")
        .withColumn("lang_pred", pred)
        .withColumn("lang_agree", col(lang) === col("lang_pred"))
        .drop(classes.indices.map(k => s"__z$k"): _*)
      (annotated, () => { feat.unpersist(); () })
    }
  }

  def withTokenCounts(docs: DataFrame, text: String = "text"): DataFrame =
    docs.withColumn("ws_tokens", size(TextOps.words(col(text))))
      .withColumn("bpe_tokens", TextOps.bpeishTokenCountOf(text))

  /** The full chain + a one-row funnel report (input → exact-deduped →
    * quality-passed → near-deduped, with the surviving token budget).
    * Intermediate stages are cached only while this call runs: `curated`
    * is materialized eagerly and the report row collected locally, then
    * every stage cache is released. The one cache that survives is
    * `curated` itself — the returned deliverable — which the caller
    * releases with `curated.unpersist()` when done. */
  def curate(docs: DataFrame, cfg: Config = Config()): (DataFrame, DataFrame) = {
    val exact = exactDedup(docs).persist()
    val qualityOnly = qualityGate(exact, cfg)
    // optional content-derived language audit: docs whose trigram-scored
    // language disagrees with their declared `lang` drop here (the
    // flag's contract: mislabeled docs are curation losses, not keeps).
    // The stage compares the MULTICLASS argmax prediction — one-vs-rest
    // over every declared language — against the declaration, so a doc
    // mislabeled between two non-target languages is caught too (the
    // binary target-vs-rest form could not see it).
    val (audited, auditCleanup) = if (cfg.langIdAudit) {
      // staged form: the trigram-feature cache stays alive until the
      // funnel report below materializes every stage, so the audit's
      // scoring pass reads the cache instead of re-deriving features
      val (ann, rel) = langIdAnnotateMultiStaged(qualityOnly)
      (ann.where(col("lang_agree")).drop("lang_pred", "lang_agree"), rel)
    } else (qualityOnly, () => ())
    val quality = audited.persist()
    val near = nearDedup(quality, cfg)
    val curated = withTokenCounts(near).persist()
    try {
      val report = docs.agg(count(lit(1)).as("input_docs"))
        .crossJoin(exact.agg(count(lit(1)).as("after_exact_dedup")))
        .crossJoin(quality.agg(count(lit(1)).as("after_quality")))
        .crossJoin(curated.agg(count(lit(1)).as("after_near_dedup"),
          sum(col("ws_tokens")).as("total_ws_tokens"),
          sum(col("bpe_tokens")).as("total_bpe_tokens")))
      // one-row funnel: collect it locally so the stage caches it reads
      // can be dropped before returning
      (curated, Caches.collectExact(report, rows = 1))
    } finally {
      exact.unpersist(); quality.unpersist(); auditCleanup()
    }
  }
}
