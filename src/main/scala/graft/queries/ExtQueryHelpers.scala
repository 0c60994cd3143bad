package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.ops.{Caches, EventOps, GraphOps, IvfIndex, Layout, LogReg, LshIndex, TextOps}
import graft.sources.Tables
import graft.pipeline.CurationPipeline
import graft.functions.{BloomMightContain, CosineSimilarity, MinHashSignature, VectorOps}

/** Shared plumbing of the extension-query registry: minhash/LSH
  * constants, the DuckDB CTE builders that mirror TextOps, the
  * one-shot near-dup pair operator, and the IVF candidate/top-k
  * frames. Mixed into every ExtQueries domain trait. */
private[queries] trait ExtQueryHelpers {

  private[queries] val K = 8        // minhash signature width
  private[queries] val R = 2        // minhashes per LSH band -> 4 bands
  private[queries] val SHINGLE_N = 2 // word n-gram shingle size
  private[queries] val Q84_SAMPLE = 300 // q84 audit sample size — FIXED, not proportional

  /** DuckDB CTEs producing DISTINCT (doc_id, shingle) word n-grams —
    * mirror of TextOps.shingleRows. */
  private[queries] def shingleCtes(n: Int, src: String = "documents"): String = {
    val concat = (0 until n).map(j => s"w[i+$j]").mkString(" || ' ' || ")
    s"""words AS (SELECT doc_id, string_split(text, ' ') AS w FROM $src),
       |idx AS (SELECT doc_id, w, unnest(range(1, greatest(len(w) - ${n - 2}, 1))) AS i FROM words),
       |sh AS (SELECT DISTINCT doc_id, $concat AS shingle FROM idx)""".stripMargin
  }

  private[queries] def sigCte(k: Int): String = {
    val mins = (0 until k).map(s => s"min(md5('$s|' || shingle)) AS m$s").mkString(", ")
    s"sig AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id)"
  }

  private[queries] def bandCte(k: Int, r: Int): String = {
    val rows = (0 until k / r).map { b =>
      val key = (b * r until (b + 1) * r).map(i => s"m$i").mkString(" || ")
      s"SELECT doc_id, $b AS band, $key AS key FROM sig"
    }
    s"bands AS (${rows.mkString(" UNION ALL ")})"
  }

  /** DuckDB 8-dim sign-bucket expression — mirror of VectorOps.signBucket. */
  private[queries] def bucketSql(dims: Int): String =
    (0 until dims)
      .map(i => s"(CASE WHEN embedding[${i + 1}] >= 0 THEN ${1 << i} ELSE 0 END)")
      .mkString(" + ")


  /** The one-shot near-dup knobs of q20/q59/q84: CurationPipeline's
    * verify at this registry's shingle/minhash/band constants
    * (jaccard ≥ 0.5, hot-bucket cap DefaultMaxBucket). */
  private[queries] val NearDup = CurationPipeline.Config(
    shingleN = SHINGLE_N, minhashK = K, bandR = R)

  /** (doc_id, sh, m0..m(K-1)) over a (doc_id, sh shingle set) frame: the
    * K minima of the fused one-pass MinHashSignature expression, read
    * from the set column. */
  private[queries] def minhashSigTable(shingled: DataFrame): DataFrame = {
    val sigArr = MinHashSignature.minhashSig(col("sh"), K)
    shingled.select(col("doc_id") +: col("sh") +:
      (0 until K).map(i => element_at(sigArr, i + 1).as(s"m$i")): _*)
  }

  /** Verified near-dup pairs (doc_a, doc_b, jaccard >= 0.5), localized —
    * the shared front half of q20 (pair listing) and q59 (transitive
    * clustering of the same pairs). */
  private[queries] def nearDupPairs(spark: SparkSession, dir: String): DataFrame = {
    // Materialize (doc_id, shingle_set, signature) ONCE: the band
    // self-join and both jaccard set-lookups are all consumers of this
    // table, and without materialization each plan branch re-derives the
    // md5-heavy signature expressions from the parquet scan (4 scans).
    // persist() makes every branch read the shared InMemoryRelation —
    // the signature table is ~1% the corpus size. At 100 TB the same op
    // writes the signature table to storage once and joins against it
    // (see TextOps scaladoc); in-memory cache is the single-job form.
    val sig = minhashSigTable(Tables.spread(Tables.documents(spark, dir)
        .select(col("doc_id"), TextOps.shingleSet(col("text"), SHINGLE_N).as("sh"))))
      .persist()
    try {
      val pairs = CurationPipeline.verifiedPairs(sig, NearDup, "doc_id")
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
      // Settle the (tiny) verified-pair list so the signature cache is
      // released before returning — a lazily-returned DataFrame would
      // pin the ~1%-of-corpus cache for the session lifetime.
      Caches.settle(pairs, maxRows = 1 << 20)
    } finally sig.unpersist()
  }
  /** CTE chain ending in `pairs` = the verified near-dup pairs — shared
    * by q20 (lists them), q59 (clusters them) and q62 (the incremental
    * subset: `candFilter` restricts candidate pairs, e.g. to those with
    * at least one batch-side member). */
  private[queries] def pairCtesWith(candFilter: String, src: String = "documents"): String =
    s"""${shingleCtes(SHINGLE_N, src)},
       |${sigCte(K)},
       |${bandCte(K, R)},
       |bsz AS (SELECT band, key FROM bands GROUP BY band, key
       |  HAVING count(*) <= ${TextOps.DefaultMaxBucket}),
       |kept AS (SELECT bands.* FROM bands JOIN bsz USING (band, key)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM kept a JOIN kept b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id$candFilter),
       |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS n_inter
       |  FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a
       |              JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
       |  GROUP BY c.doc_a, c.doc_b),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |pairs AS (SELECT doc_a, doc_b,
       |    round(CAST(n_inter AS DOUBLE) / (za.n + zb.n - n_inter), 4) AS jaccard
       |  FROM inter JOIN sizes za ON za.doc_id = doc_a JOIN sizes zb ON zb.doc_id = doc_b
       |  WHERE CAST(n_inter AS DOUBLE) / (za.n + zb.n - n_inter) >= 0.5)""".stripMargin
  private[queries] val pairCtes = pairCtesWith("")

  /** Hard bound on the rows a streaming-fixture collect may pull
    * driver-side. The MemoryStream harness queries (q92/q100/q105/q106/
    * q112/q132) fabricate their micro-batches from a corpus slice; at
    * the declared SFs the slice is a few thousand rows, but the bound
    * must be EXPLICIT so a larger declared SF fails loudly instead of
    * OOM-ing the driver mid-fixture. The production operators
    * (`startNearDupIngest`/`startVectorIngest`/...) consume a real
    * stream and never collect — only the test-harness feed does. */
  private[queries] val StreamFixtureCap = 200000

  /** Collect a streaming-fixture slice with the cap enforced: the
    * `limit` bounds what the collect can ever pull (never more than
    * cap+1 rows), and the `require` turns an over-cap slice into a loud
    * error rather than silently-truncated stream semantics (which would
    * diverge from the from-scratch oracle). Below the cap the rows are
    * exactly the full slice, so oracle parity is untouched. */
  private[queries] def fixtureSlice[T](ds: org.apache.spark.sql.Dataset[T]): Array[T] = {
    val rows = ds.limit(StreamFixtureCap + 1).collect()
    require(rows.length <= StreamFixtureCap,
      s"streaming fixture slice has > $StreamFixtureCap rows at this SF — " +
        "the MemoryStream harness is driver-side by design; shard the feed " +
        "or raise StreamFixtureCap consciously")
    rows
  }

  /** Read a Hamming-family pair log (the batch-tagged parquet the
    * SimHash/fingerprint ingests write) with an EXPLICIT schema: when
    * every band bucket of a batch crosses the hot-bucket cap the log
    * legitimately contains zero rows — and zero parquet footers — so a
    * schema-inferring read throws UNABLE_TO_INFER_SCHEMA where the
    * correct answer is an empty relation (first hit: the sf1 scaling
    * sweep, whose 10× dup groups push every fixture bucket past the
    * cap). */
  private[queries] def readHammingPairLog(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(
      "doc_a BIGINT, doc_b BIGINT, hamming INT, batch_id BIGINT")
      .parquet(dir)

  /** Recursively delete a query-local scratch directory. */
  private[queries] def rmRecursive(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(path))
  }

  /** Pull a (small) result fully driver-side as a plan-free local
    * relation sorted on `sortCols` — the rule every scratch-dir query
    * follows so no lineage outlives the directory it reads. */
  private[queries] def localizeRows(df: DataFrame, sortCols: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    val schema = df.schema
    spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), schema)
      .orderBy(sortCols.map(col): _*)
  }

  /** The IVF candidate frame (probe_id, vec_id, cos): corpus rows in the
    * probe's NPROBE nearest cells only — the frame both q54's top-k and
    * q87's recall audit rank. */
  private[queries] def ivfCandidates(spark: SparkSession, dir: String,
      cents: Seq[Seq[Float]]): DataFrame = {
    val K = cents.size; val NPROBE = 2
    // cell assignment + probe short-list from the PRODUCTION index
    // helpers (ops.IvfIndex) — one source of truth for the tie rule
    // (cosine desc, ties to the higher centroid id)
    val emb = Tables.spread(Tables.embeddings(spark, dir))
      .withColumn("cell", graft.ops.IvfIndex.cellOf(col("embedding"), cents))
    val probes = Tables.embeddings(spark, dir)
      .where(col("vec_id") >= K && col("vec_id") < K + 5)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe"),
        graft.ops.IvfIndex.topCellsOf(col("embedding"), cents, NPROBE)
          .as("pcells"))
    emb.crossJoin(broadcast(probes))
      .where(array_contains(col("pcells"), col("cell")) &&
        col("vec_id") =!= col("probe_id"))
      .withColumn("cos", CosineSimilarity.cosineSim(col("embedding"), col("probe")))
      .select(col("probe_id"), col("vec_id"), col("cos"))
  }

  private[queries] def topNeighbors(cand: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    cand.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
  }

  private[queries] def ivfAnn(spark: SparkSession, dir: String,
      cents: Seq[Seq[Float]]): DataFrame =
    topNeighbors(ivfCandidates(spark, dir, cents), 3)
      .select(col("probe_id"), col("rn"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 4).as("cos_sim"))
      .orderBy(col("probe_id"), col("rn"))

}
