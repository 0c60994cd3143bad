package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis and near-duplicate primitives for large-scale training-data
  * pipelines. All pure Catalyst expressions (higher-order array functions +
  * built-in hashes) — no UDFs — so every op is codegen'd, pushdown-friendly,
  * and cheap to fan out over 100 TB of documents.
  *
  * Hash choice: md5 (not xxhash64) because the correctness oracle (DuckDB)
  * must reproduce every value bit-for-bit; md5 is the strongest hash both
  * engines share. At pure-production scale xxhash64 halves the cost — swap
  * `hashExpr` there.
  */
object TextOps {

  /** Whitespace tokenization (the corpus is single-space separated). */
  def words(text: Column): Column = split(text, " ")

  /** Evaluate `v` once per row and hand it to `f` as a bound lambda
    * variable. Whole-stage codegen eliminates common subexpressions, but
    * higher-order-function lambdas evaluate INTERPRETED, where every
    * textual occurrence of an argument expression re-evaluates — so
    * `slice(split(text), i, n)` inside a `transform` lambda re-split the
    * document at every gram position, O(words²) splits per doc (JFR on
    * the round-18 baseline: `UTF8String.split` was the single hottest
    * frame across the gram/shingle queries). A one-element
    * `transform(array(v), f)` binds `v` as a lambda variable instead:
    * computed once per row, referenced many times. `element_at(_, 1)` is
    * safe under ANSI — the array always has exactly one element — and no
    * optimizer rule rewrites GetArrayItem through ArrayTransform, so the
    * binding survives to execution. */
  def bound(v: Column)(f: Column => Column): Column =
    element_at(transform(array(v), f), 1)

  /** Character trigrams as an array column (empty when < 3 chars) — the
    * classic content-derived language-ID feature (Cavnar & Trenkle 1994's
    * n-gram profiles, the fastText lang-id feature family): one gram per
    * position, overlapping, raw bytes untouched so the feature is a pure
    * function of the text in ANY engine. */
  def charTrigrams(text: Column): Column =
    when(length(text) >= 3,
      transform(sequence(lit(1), length(text) - 2),
        i => text.substr(i, lit(3))))
      .otherwise(array())

  /** Word n-gram shingles as an array column (empty when < n words).
    * The token array is [[bound]] once per row — unbound, the transform
    * lambda re-split the text at every gram position. */
  def wordShingles(text: Column, n: Int): Column =
    bound(words(text)) { w =>
      when(size(w) >= n,
        transform(sequence(lit(1), size(w) - (n - 1)),
          i => concat_ws(" ", slice(w, i, lit(n)))))
        .otherwise(array().cast("array<string>"))
    }

  /** Character k-gram array (for rolling-hash-style fingerprints). */
  def charShingles(text: Column, k: Int): Column =
    when(length(text) >= k,
      transform(sequence(lit(1), length(text) - (k - 1)),
        i => text.substr(i, lit(k))))
      .otherwise(array().cast("array<string>"))

  /** Seeded shingle hash — the minhash building block. */
  def seededHash(seed: Int, shingle: Column): Column =
    md5(concat(lit(s"$seed|"), shingle))

  /** Per-row DISTINCT shingle set as an array column. This is the scale
    * shape: the set is derived inside the row (array_distinct ∘ transform)
    * — no explode, no shuffle, no recomputation when reused across minhash
    * / jaccard / fingerprint consumers. Shingle sets of normal documents
    * are a few hundred strings; fall back to [[shingleRows]] only for
    * pathological multi-MB docs. */
  def shingleSet(text: Column, n: Int): Column =
    array_distinct(wordShingles(text, n))

  /** MinHash signature columns computed from a shingle-set array, fully
    * map-side: m_s = array_min(md5("s|" + shingle)). k passes over an
    * in-row array vs a k-hash shuffle — O(k·|set|) per row, zero exchange. */
  def minhashFromSet(shingles: Column, k: Int): Seq[Column] =
    (0 until k).map(s =>
      array_min(transform(shingles, x => seededHash(s, x))).as(s"m$s"))

  /** Exact jaccard between two shingle-set arrays, in-row. */
  def jaccardFromSets(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    inter.cast("double") / (size(a) + size(b) - inter)
  }

  /** Explode a doc table into DISTINCT (id, shingle) rows — the input of
    * the exact inverted-index verifiers ([[exactNearDupPairs]],
    * [[containmentPairs]]). One narrow pass; the distinct is a shuffle on
    * (id, shingle). */
  def shingleRows(df: DataFrame, id: String, text: String, n: Int): DataFrame =
    df.select(col(id), explode(wordShingles(col(text), n)).as("shingle"))
      .distinct()

  /** LSH band rows (band_id, band_key) from a k-signature with bands of
    * `r` consecutive minhashes. Docs sharing any band key are candidate
    * near-duplicate pairs. */
  def lshBands(sig: DataFrame, id: String, k: Int, r: Int): DataFrame = {
    val bandStructs = (0 until k / r).map { b =>
      struct(lit(b).as("band"),
        concat((b * r until (b + 1) * r).map(i => col(s"m$i")): _*).as("key"))
    }
    sig.select(col(id), explode(array(bandStructs: _*)).as("bk"))
      .select(col(id), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Default hot-bucket cap: a band key shared by more than this many
    * docs is near-certainly boilerplate (standard LSH practice), and an
    * uncapped key makes the candidate self-join quadratic in its size —
    * the one shape that kills this plan at 100 TB. 64 keeps ≤ 2016
    * pairs per bucket while being far above any honest near-dup
    * cluster in the synthetic corpus. */
  val DefaultMaxBucket = 64

  /** Drop rows whose bucket (the tuple of `keys` values) holds more than
    * `max` rows. One extra aggregation on the (narrow) key columns; the
    * kept-keys set joins back as a broadcast-able semi-side. The drop is
    * observable without an extra pass via the `metric` observe() metric
    * (`dropped_buckets` / `dropped_rows`) on the bucket-size subplan —
    * read it from QueryExecution.observedMetrics or a listener. */
  private def capHotBuckets(df: DataFrame, keys: Seq[String], max: Int,
      metric: String): DataFrame = {
    val kcols = keys.map(col)
    val sizes = df.groupBy(kcols: _*)
      .agg(count(lit(1)).as("__bn"))
      .observe(metric,
        sum(when(col("__bn") > max, 1L).otherwise(0L)).as("dropped_buckets"),
        sum(when(col("__bn") > max, col("__bn")).otherwise(0L)).as("dropped_rows"))
      .where(col("__bn") <= max)
      .drop("__bn")
    df.join(sizes, keys)
  }

  /** The one candidate kernel: every pair of rows sharing a bucket (the
    * tuple of `keys` values), `<id>_a < <id>_b`, as (keys…, <id>_a,
    * <p>_a…, <id>_b, <p>_b…) for each `payload` column p. With
    * `maxBucket`, a bucket holding more rows is dropped first
    * ([[capHotBuckets]], observed as `metric`): hot buckets are almost
    * always boilerplate, and each contributes O(n²) pairs. A row's id
    * may sit in several buckets, so callers project and `distinct` the
    * pairs they keep. */
  def bucketPairs(df: DataFrame, keys: Seq[String], id: String,
      maxBucket: Option[Int], metric: String, payload: String*): DataFrame = {
    val kept = maxBucket.fold(df)(m => capHotBuckets(df, keys, m, metric))
    def side(s: String): DataFrame = kept.select(
      keys.map(col) ++ (id +: payload).map(c => col(c).as(s"${c}_$s")): _*)
    side("a").join(side("b"), keys).where(col(s"${id}_a") < col(s"${id}_b"))
  }

  /** Distinct candidate pairs (doc_a < doc_b) sharing an LSH band key,
    * hot buckets capped ([[bucketPairs]]). */
  def lshCandidatePairs(bands: DataFrame, id: String,
      maxBucket: Option[Int] = Some(DefaultMaxBucket)): DataFrame =
    bucketPairs(bands, Seq("band", "key"), id, maxBucket, "lsh_hot_buckets")
      .select(col(s"${id}_a").as("doc_a"), col(s"${id}_b").as("doc_b")).distinct()

  /** The new-vs-index bucket self-join of a persisted band index's probe
    * (LshIndex, SimHashIndex): `index` holds the index rows of the touched
    * buckets and `batch` the batch's rows, both (band, key, doc_id,
    * `payload`…). Hot buckets are capped over the COMBINED bucket (index +
    * batch), as the one-shot [[lshCandidatePairs]] caps them; the result
    * is [[bucketPairs]]' (band, key, doc_id_a, <payload>_a…, is_new_a,
    * doc_id_b, …, is_new_b), kept where at least one side is from the
    * batch. */
  def newVsIndexPairs(index: DataFrame, batch: DataFrame,
      maxBucket: Option[Int], metric: String, payload: String*): DataFrame = {
    val combined = index.withColumn("is_new", lit(false))
      .unionByName(batch.withColumn("is_new", lit(true)))
    bucketPairs(combined, Seq("band", "key"), "doc_id", maxBucket, metric,
        payload :+ "is_new": _*)
      .where(col("is_new_a") || col("is_new_b"))
  }

  /** The SimHash band split: `bands` disjoint `bandBits`-bit slices of
    * each row's 63-bit fingerprint `sh`, one (…, band, key) row per slice,
    * every input column kept. Pigeonhole: a pair within Hamming
    * ≤ bands − 1 shares at least one slice. */
  def hashBands(h: DataFrame, bands: Int = 4, bandBits: Int = 16): DataFrame = {
    val bandArr = array((0 until bands).map(b =>
      struct(lit(b).as("band"),
        shiftright(col("sh"), bandBits * b)
          .bitwiseAND(lit((1L << bandBits) - 1)).as("key"))): _*)
    val cols = h.columns.map(col).toSeq
    h.select(cols :+ explode(bandArr).as("bk"): _*)
      .select(cols ++ Seq(col("bk.band").as("band"), col("bk.key").as("key")): _*)
  }

  /** Hamming verify of SimHash band pairs: [[bucketPairs]]' output over
    * (doc_id, payload `sh`) → the DISTINCT (doc_a, doc_b, hamming =
    * popcount(sh_a xor sh_b)); callers keep their own distance bound. */
  def hammingPairs(pairs: DataFrame): DataFrame =
    pairs.select(col("doc_id_a").as("doc_a"), col("doc_id_b").as("doc_b"),
        col("sh_a"), col("sh_b")).distinct()
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("int").as("hamming"))

  /** One-shot banded-SimHash pairs over a (doc_id, sh) fingerprint frame:
    * 4×16-bit [[hashBands]] → [[bucketPairs]] capped at
    * [[DefaultMaxBucket]] (observed as `metric`) → [[hammingPairs]]. */
  def simhashPairs(h: DataFrame, metric: String): DataFrame =
    hammingPairs(bucketPairs(hashBands(h), Seq("band", "key"), "doc_id",
      Some(DefaultMaxBucket), metric, "sh"))

  /** Exact-jaccard verify of candidate pairs against in-row shingle sets:
    * `broadcast(cand)` (doc_a, doc_b) — candidates are rare, capped
    * buckets bound them — joins `sets` (id, set) once per side, and the
    * jaccard is in-row on the two set arrays. Returns (doc_a, doc_b,
    * jaccard) for the pairs with jaccard ≥ `threshold`. */
  def verifyJaccard(cand: DataFrame, sets: DataFrame, id: String,
      set: String, threshold: Double): DataFrame = {
    val j = jaccardFromSets(col("sa"), col("sb"))
    sets.select(col(id).as("doc_a"), col(set).as("sa"))
      .join(broadcast(cand), "doc_a")
      .join(sets.select(col(id).as("doc_b"), col(set).as("sb")), "doc_b")
      .where(j >= threshold)
      .select(col("doc_a"), col("doc_b"), j.as("jaccard"))
  }

  /** |A∩B| (`n_inter`) and the set sizes (`na`, `nb`) of candidate pairs
    * over (id, shingle) rows: a shingle-equijoin restricted to
    * candidates, so only candidate pairs pay the set-intersection cost. */
  private def candidateOverlap(cand: DataFrame, shingles: DataFrame,
      id: String): DataFrame = {
    val sa = shingles.select(col(id).as("doc_a"), col("shingle"))
    val sb = shingles.select(col(id).as("doc_b"), col("shingle"))
    val inter = cand.join(sa, "doc_a").join(sb, Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_inter"))
    val sizes = shingles.groupBy(col(id)).agg(count(lit(1)).as("n"))
    inter
      .join(sizes.select(col(id).as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col(id).as("doc_b"), col("n").as("nb")), "doc_b")
  }

  /** Exact jaccard on candidate pairs: |A∩B| and |A∪B| from
    * [[candidateOverlap]]. */
  def jaccardOnCandidates(cand: DataFrame, shingles: DataFrame, id: String): DataFrame =
    candidateOverlap(cand, shingles, id)
      .select(col("doc_a"), col("doc_b"),
        (col("n_inter").cast("double") /
          (col("na") + col("nb") - col("n_inter"))).as("jaccard"))

  /** Distinct (doc_a, doc_b) pairs sharing a shingle, over the shingle
    * inverted index with a DOCUMENT-FREQUENCY cap of `dfCap` — the
    * candidate discovery of [[exactNearDupPairs]] and
    * [[containmentPairs]]. */
  private def sharedShinglePairs(shingles: DataFrame, id: String, dfCap: Int,
      metric: String): DataFrame =
    bucketPairs(shingles, Seq("shingle"), id, Some(dfCap), metric)
      .select(col(s"${id}_a").as("doc_a"), col(s"${id}_b").as("doc_b")).distinct()

  /** EXACT near-duplicate ground truth, at scale: candidate pairs come
    * from the shingle inverted index with a DOCUMENT-FREQUENCY cap — a
    * shingle appearing in more than `dfCap` docs is corpus boilerplate,
    * and uncapped it makes the index self-join quadratic in its
    * posting-list size (one stopword-ish shingle in 1M docs is 10¹² join
    * rows — the shape that kills the audit at 100 TB). The surviving
    * pairs then get their TRUE jaccard from the FULL uncapped sets via
    * [[jaccardOnCandidates]], so the cap only gates candidate DISCOVERY:
    * a jaccard ≥ t pair is missed only when every shared shingle is
    * above the cap, i.e. the docs overlap on nothing but boilerplate —
    * exactly the pairs a near-dup audit should not count. */
  def exactNearDupPairs(shingles: DataFrame, id: String, threshold: Double,
      dfCap: Int = DefaultMaxBucket): DataFrame =
    jaccardOnCandidates(
        sharedShinglePairs(shingles, id, dfCap, "exact_hot_shingles"), shingles, id)
      .where(col("jaccard") >= threshold)

  /** ASYMMETRIC containment dedup — the quote-inclusion case Jaccard
    * misses: a short doc fully quoted inside a long one has
    * C(A,B) = |A∩B| / min(|A|,|B|) ≈ 1 while J(A,B) = |A∩B|/|A∪B|
    * stays small (the union is dominated by the long doc). Candidate
    * discovery is [[exactNearDupPairs]]'s df-capped shingle inverted
    * index (same 100 TB posting-list rationale); verification divides
    * the true intersection by the SMALLER set. Output is directed:
    * `doc_sub` (the contained/smaller doc — ties break to the lower
    * id, which candidate order already guarantees) → `doc_sup`. A
    * containment-dedup pass drops `doc_sub`, keeping the superset
    * document. */
  def containmentPairs(shingles: DataFrame, id: String, threshold: Double,
      dfCap: Int = DefaultMaxBucket): DataFrame =
    candidateOverlap(
        sharedShinglePairs(shingles, id, dfCap, "containment_hot_shingles"),
        shingles, id)
      .withColumn("containment",
        col("n_inter").cast("double") / least(col("na"), col("nb")))
      .where(col("containment") >= threshold)
      .select(
        when(col("na") <= col("nb"), col("doc_a")).otherwise(col("doc_b"))
          .as("doc_sub"),
        when(col("na") <= col("nb"), col("doc_b")).otherwise(col("doc_a"))
          .as("doc_sup"),
        col("containment"))

  /** 16-bit SimHash over the DISTINCT words of a doc, as aggregate
    * expressions: bit j of md5(word)'s first 4 hex chars votes ±1; the
    * sign of the vote sum sets bit j of the fingerprint. Returns the
    * aggregate Column (use inside groupBy(id).agg). 16 bits keeps the
    * oracle SQL tractable; widen with more hex chars for production. */
  def simhash16(word: Column): Column = {
    val bitCols = (0 until 16).map { j =>
      val h = j / 4 + 1 // hex char position (1-based)
      val s = j % 4     // bit within that hex char
      val v = conv(substring(md5(word), h, 1), 16, 10).cast("int")
      val bit = shiftright(v, s).bitwiseAND(lit(1))
      val vote = when(bit === 1, 1).otherwise(-1)
      when(sum(vote) >= 0, lit(1 << j)).otherwise(lit(0))
    }
    bitCols.reduce(_ + _)
  }

  /** In-row 16-bit SimHash over a distinct-word array column: 16
    * `aggregate` passes over the (small) array replace the
    * explode→distinct→groupBy double shuffle of the row-based form.
    * Integer vote sums are order-independent, so this is value-identical
    * to [[simhash16]] and the same oracle SQL. */
  def simhash16InRow(distinctWords: Column): Column = {
    val bits = (0 until 16).map { j =>
      val h = j / 4 + 1
      val s = j % 4
      val voteSum = aggregate(distinctWords, lit(0), (acc, w) => {
        val v = conv(substring(md5(w), h, 1), 16, 10).cast("int")
        acc + when(shiftright(v, s).bitwiseAND(lit(1)) === 1, 1).otherwise(-1)
      })
      when(voteSum >= 0, lit(1 << j)).otherwise(lit(0))
    }
    bits.reduce(_ + _)
  }

  /** 63-bit SimHash over a distinct-word array column — [[simhash16InRow]]
    * widened to production discrimination (the 16-bit form keeps its
    * oracle-SQL tractability niche; 63 bits ≈ the classic 64-bit simhash
    * minus the sign bit, so the fingerprint stays a positive BIGINT and
    * band extraction shifts never smear sign). Bit `j` votes on bit
    * `j % 4` of md5 hex char `j / 4 + 1`; integer vote sums are
    * order-independent, so the value is deterministic under any
    * partitioning. */
  def simhash63InRow(distinctWords: Column): Column = {
    // Caller contract: pass an ATTRIBUTE (project the distinct-word array
    // in its own select first), not a computed expression — the 63
    // aggregate() leaves each re-evaluate their argument, so a computed
    // array_distinct∘split argument is split 63× per row. Do NOT wrap
    // the whole tree in [[bound]] instead: that forces the bit-sum/when
    // layer (codegen'd, with only the aggregate() leaves falling back)
    // into one interpreted HOF evaluation per row — the r18 q107/q108
    // regression (q107 2.47 → 8.88 s). A two-step projection keeps the
    // argument evaluated once (CollapseProject never inlines a non-cheap
    // alias referenced 63×) AND the outer layer codegen'd.
    val bits = (0 until 63).map { j =>
      val h = j / 4 + 1
      val s = j % 4
      val voteSum = aggregate(distinctWords, lit(0), (acc, w) => {
        val v = conv(substring(md5(w), h, 1), 16, 10).cast("int")
        acc + when(shiftright(v, s).bitwiseAND(lit(1)) === 1, 1).otherwise(-1)
      })
      when(voteSum >= 0, lit(1L << j)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Rolling-hash document fingerprint: minimum md5 over character
    * k-gram shingles (winnowing with window = whole doc). Computed fully
    * inside one row via array_min∘transform — no explode, no shuffle. */
  def charFingerprint(text: Column, k: Int): Column =
    array_min(transform(charShingles(text, k), s => md5(s)))

  /** One BPE merge-APPLY round, fully in-row: fuse adjacent (t1, t2)
    * token pairs into "t1_t2" with greedy LEFT-TO-RIGHT non-overlapping
    * semantics — the tokenizer-side contract ("a a a" under merge (a,a)
    * → ["a_a", "a"], never ["a", "a_a"]). A single `aggregate` fold over
    * the token array: accumulator = (emitted tokens, pending token); a
    * pending/current match emits the fused token and clears pending, so
    * an overlapping second match cannot fire. No explode, no shuffle —
    * the full tokenizer applies its 32k learned merges by iterating
    * exactly this operator. */
  def bpeApplyMerge(tokens: Column, t1: Column, t2: Column): Column = {
    val none = lit(null).cast("string")
    def st(out: Column, pending: Column) =
      struct(out.as("out"), pending.as("pending"))
    aggregate(
      tokens,
      st(array().cast("array<string>"), none),
      (acc, t) => {
        val out = acc.getField("out")
        val pend = acc.getField("pending")
        when(pend.isNotNull && pend === t1 && t === t2,
          st(array_append(out, concat_ws("_", pend, t)), none))
          .when(pend.isNotNull, st(array_append(out, pend), t))
          .otherwise(st(out, t))
      },
      acc => when(acc.getField("pending").isNotNull,
        array_append(acc.getField("out"), acc.getField("pending")))
        .otherwise(acc.getField("out")))
  }

  /** Apply a SET of token-disjoint BPE merges in ONE in-row pass —
    * the batched-trainer companion of [[bpeApplyMerge]] (which applies
    * exactly one). Same greedy left-to-right non-overlapping fold; the
    * pending/current pair fuses when it matches ANY merge in the set.
    * Caller contract: the merges are TOKEN-DISJOINT (no token appears
    * in two merges, on either side) — then no two distinct patterns can
    * ever compete for one token and the single-pass result equals
    * applying the merges in any sequential order, which is what lets a
    * trainer learn m merges per corpus pass instead of one (q159; a
    * production 32k-merge run becomes 32k/m heavy passes). An empty
    * set is the identity. */
  def bpeApplyMergeSet(tokens: Column, merges: Seq[(String, String)]): Column = {
    if (merges.isEmpty) return tokens
    val none = lit(null).cast("string")
    def st(out: Column, pending: Column) =
      struct(out.as("out"), pending.as("pending"))
    def isMerge(pend: Column, t: Column): Column =
      merges.map { case (a, b) => pend === lit(a) && t === lit(b) }
        .reduce(_ || _)
    aggregate(
      tokens,
      st(array().cast("array<string>"), none),
      (acc, t) => {
        val out = acc.getField("out")
        val pend = acc.getField("pending")
        when(pend.isNotNull && isMerge(pend, t),
          st(array_append(out, concat_ws("_", pend, t)), none))
          .when(pend.isNotNull, st(array_append(out, pend), t))
          .otherwise(st(out, t))
      },
      acc => when(acc.getField("pending").isNotNull,
        array_append(acc.getField("out"), acc.getField("pending")))
        .otherwise(acc.getField("out")))
  }

  /** Token count under a BPE-ish regex (letter runs / digit runs / single
    * other non-space chars). `expr` because the Scala functions API has no
    * regexp_extract_all binding; the SQL function is the same codegen'd
    * Catalyst expression. */
  val bpeishPattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"
  def bpeishTokenCountOf(colName: String): Column =
    size(expr(s"regexp_extract_all(lower(`$colName`), '$bpeishPattern', 0)"))

  /** Stopword ratio: fraction of tokens found in `stop`. */
  def stopwordRatio(text: Column, stop: Seq[String]): Column = {
    val w = words(text)
    val hits = size(filter(w, x => x.isInCollection(stop)))
    hits.cast("double") / size(w)
  }

  /** Canonical text normalization for dedup keys: lowercase, strip
    * non-alphanumeric (keeping spaces), collapse whitespace runs. Pure
    * per-row expression; hash the result for the exact-dedup key. */
  def normalizeText(text: Column): Column =
    regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 ]", ""),
      " +", " ")

  /** PII redaction — the scrub pass a training corpus gets before the
    * tokenizer: emails → `[EMAIL]`, then phone-shaped digit runs →
    * `[PHONE]`. A pure chained `regexp_replace` (codegen'd, map-side);
    * the patterns deliberately stay inside the regex subset whose
    * semantics are identical in Java regex (Spark) and RE2 (DuckDB
    * oracle): literal classes, `{n,}` counts, no backrefs/lookarounds.
    * Production swaps in locale-specific pattern packs; the operator
    * shape (ordered replace chain over a text column) is the contract. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text,
        "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "[EMAIL]"),
      "\\+?[0-9][0-9() .-]{6,}[0-9]", "[PHONE]")

  /** N-gram-heuristic language ID: stopword-marker scoring. With a real
    * corpus the marker lists are per-language frequency profiles; the
    * synthetic corpus is English-ish, so the heuristic reduces to an
    * English-vs-other decision at `threshold`. */
  def langIdHeuristic(text: Column, threshold: Double = 0.05,
      markers: Seq[String] = Seq("the", "a")): Column =
    when(stopwordRatio(text, markers) >= threshold, lit("en")).otherwise(lit("other"))
}
