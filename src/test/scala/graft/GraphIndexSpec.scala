package graft

import graft.ops.GraphIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Persisted graph-ANN index lifecycle: build determinism, beam-search
  * exactness on an exhaustively-searchable fixture, local/distributed
  * path equality, insert retry idempotence, reverse-edge capping,
  * tombstone visibility and the two compaction forms. */
class GraphIndexSpec extends SparkSpecBase {
  import spark.implicits._

  /** 12 deterministic unit-ish vectors in 4 dims — three loose clusters
    * so the NN-Descent graph is connected and cosine ranks are stable. */
  private def fixture: DataFrame = (0 until 12).map { i =>
    val a = 1.0f + (i % 3) * 0.3f
    val b = 0.5f + (i % 4) * 0.2f
    val c = 0.2f + (i % 5) * 0.1f
    (i.toLong, Seq(a, b, c, 1.0f - 0.05f * i))
  }.toDF("vec_id", "embedding")

  private def bruteTopK(corpus: DataFrame, probes: DataFrame, k: Int): Seq[(Long, Int, Long)] = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id")).orderBy(col("cos").desc, col("vec_id"))
    corpus.crossJoin(broadcast(probes))
      .where(col("vec_id") =!= col("probe_id"))
      .withColumn("cos",
        graft.functions.CosineSimilarity.cosineSim(col("embedding"), col("probe")))
      .withColumn("rn", row_number().over(w)).where(col("rn") <= k)
      .select(col("probe_id"), col("rn"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
  }

  test("beamSearch with beam ≥ n and enough hops is exact on a connected graph") {
    val path = tmpDir("graphidx_exact")
    GraphIndex.build(fixture, path, k = 4, maxDeg = 8)
    val probes = fixture.select(col("vec_id").as("probe_id"),
      col("embedding").as("probe"))
    val got = GraphIndex.beamSearch(spark, path, probes,
        k = 3, beamW = 12, hops = 4)
      .select(col("probe_id"), col("rn"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    assert(got == bruteTopK(fixture, probes, 3))
  }

  test("localized and distributed beam paths return identical results") {
    val path = tmpDir("graphidx_paths")
    GraphIndex.build(fixture, path, k = 4, maxDeg = 8)
    val probes = fixture.where(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe"))
    def run(): Seq[(Long, Int, Long, Double)] =
      GraphIndex.beamSearch(spark, path, probes, k = 3, beamW = 4, hops = 2)
        .collect().map(r =>
          (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq.sorted
    val local = run()
    spark.conf.set("spark.graft.localize.maxRows", "0") // force distributed
    try assert(run() == local)
    finally spark.conf.unset("spark.graft.localize.maxRows")
    assert(local.nonEmpty)
  }

  test("probeAndAppend is idempotent in batchId (replace-gen retry)") {
    val path = tmpDir("graphidx_retry")
    GraphIndex.build(fixture.where(col("vec_id") < 8), path, k = 3, maxDeg = 6)
    val batch = fixture.where(col("vec_id") >= 8)
    def edgesB0(): Seq[(Long, Long, Double)] =
      spark.read.parquet(GraphIndex.edgesPath(path))
        .where(col("gen") === "b0")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq.sorted
    val log1 = GraphIndex.probeAndAppend(spark, path, batch, Some(0L),
      k = 2, beamW = 6, hops = 3, revCap = 2).collect().toSeq
    val e1 = edgesB0()
    val log2 = GraphIndex.probeAndAppend(spark, path, batch, Some(0L),
      k = 2, beamW = 6, hops = 3, revCap = 2).collect().toSeq
    assert(edgesB0() == e1)
    assert(log2.map(_.toString).sorted == log1.map(_.toString).sorted)
    // the retry probed the PRE-batch graph: no neighbor is a batch member
    assert(log2.forall(_.getLong(2) < 8))
  }

  test("reverse edges are capped per receiving node per batch") {
    val path = tmpDir("graphidx_revcap")
    // base: 4 spread vectors; batch: 6 near-clones of base vector 0 —
    // every insert's top-1 is vector 0, so uncapped it would receive 6
    // reverse edges
    val base = (0 until 4).map(i =>
      (i.toLong, Seq(if (i == 0) 1.0f else 0.1f * i, 1.0f - 0.2f * i, 0.3f * i, 0.1f)))
      .toDF("vec_id", "embedding")
    val batch = (10 until 16).map(i =>
      (i.toLong, Seq(1.0f, 0.8f + 0.001f * i, 0.001f * i, 0.1f)))
      .toDF("vec_id", "embedding")
    GraphIndex.build(base, path, k = 2, maxDeg = 4)
    GraphIndex.probeAndAppend(spark, path, batch, Some(0L),
      k = 2, beamW = 4, hops = 2, revCap = 2)
    val rev = spark.read.parquet(GraphIndex.edgesPath(path))
      .where(col("gen") === "b0" && col("src") < 10) // reverse = old → new
      .groupBy(col("src")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rev.values.forall(_ <= 2), s"rev cap violated: $rev")
    assert(rev.nonEmpty)
  }

  test("tombstoned nodes vanish from probes immediately and from storage at compact") {
    val path = tmpDir("graphidx_tomb")
    GraphIndex.build(fixture, path, k = 4, maxDeg = 8)
    val probes = fixture.where(col("vec_id") === 3L)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe"))
    val before = GraphIndex.beamSearch(spark, path, probes,
      k = 3, beamW = 12, hops = 4).collect().map(_.getLong(2)).toSet
    val victim = before.head
    GraphIndex.markDeleted(spark, path, Seq(victim))
    val after = GraphIndex.beamSearch(spark, path, probes,
      k = 3, beamW = 12, hops = 4).collect().map(_.getLong(2)).toSet
    assert(!after.contains(victim))
    GraphIndex.compact(spark, path, maxDeg = 8)
    val nodes = spark.read.parquet(GraphIndex.nodesPath(path))
    val edges = spark.read.parquet(GraphIndex.edgesPath(path))
    assert(nodes.where(col("vec_id") === victim).count() == 0)
    assert(edges.where(col("src") === victim || col("dst") === victim).count() == 0)
    // everything folded into one tight generation
    assert(nodes.select(col("gen")).distinct().collect().map(_.getString(0)).toSeq == Seq("base"))
  }

  test("in-stream compact (keepBatch) folds verbatim; offline compact re-prunes to maxDeg") {
    val path = tmpDir("graphidx_compact")
    GraphIndex.build(fixture.where(col("vec_id") < 6), path, k = 3, maxDeg = 4)
    GraphIndex.probeAndAppend(spark, path,
      fixture.where(col("vec_id") >= 6 && col("vec_id") < 9), Some(0L),
      k = 2, beamW = 6, hops = 3, revCap = 2)
    GraphIndex.probeAndAppend(spark, path,
      fixture.where(col("vec_id") >= 9), Some(1L),
      k = 2, beamW = 6, hops = 3, revCap = 2)
    def visibleNotB1(): Set[(Long, Long)] =
      spark.read.parquet(GraphIndex.edgesPath(path))
        .where(col("gen") =!= "b1")
        .select(col("src"), col("dst"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val beforeFold = visibleNotB1()
    GraphIndex.compact(spark, path, maxDeg = 4, keepBatch = Some(1L))
    // kept batch's excluded-gen view is unchanged — the retry contract
    assert(visibleNotB1() == beforeFold)
    val gens = spark.read.parquet(GraphIndex.edgesPath(path))
      .select(col("gen")).distinct().collect().map(_.getString(0)).toSet
    assert(gens == Set("base", "b1"))
    // offline compact: one generation, degree re-pruned
    GraphIndex.compact(spark, path, maxDeg = 4)
    val deg = spark.read.parquet(GraphIndex.edgesPath(path))
      .groupBy(col("src")).agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).collect()(0).getLong(0)
    assert(deg <= 4)
  }
}
