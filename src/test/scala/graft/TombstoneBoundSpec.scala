package graft

import graft.ops.{InvertedIndex, IvfIndex, TombstoneLog}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The bounded tombstone-join contract (TombstoneLog.readDir/read): the
  * takedown set broadcasts into the families' anti/semi joins only while
  * its on-disk log fits the configured budget; above it the joins
  * DEGRADE to a shuffle hash join instead of shipping an unbounded hash
  * relation to every executor. The family contract assumes takedown
  * volume ≪ compaction cadence — this spec proves the posture is safe
  * when the assumption breaks, with identical results either way. */
class TombstoneBoundSpec extends SparkSpecBase {
  import spark.implicits._

  private def docs: DataFrame = (0L until 12L)
    .map(i => (i, s"alpha beta tok$i " + ("pad " * (i.toInt % 3 + 1)).trim))
    .toDF("doc_id", "text")

  private def joinKinds(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def withCap[T](bytes: Long)(body: => T): T = {
    val old = spark.conf.getOption(TombstoneLog.BroadcastMaxBytesKey)
    spark.conf.set(TombstoneLog.BroadcastMaxBytesKey, bytes.toString)
    try body
    finally old match {
      case Some(v) => spark.conf.set(TombstoneLog.BroadcastMaxBytesKey, v)
      case None    => spark.conf.unset(TombstoneLog.BroadcastMaxBytesKey)
    }
  }

  test("BM25 probe broadcasts a small tombstone set and shuffle-joins a " +
    "forced-large one — same results") {
    val path = tmpDir("tomb_bound_bm25")
    InvertedIndex.build(docs, path)
    InvertedIndex.markDeleted(spark, path, Seq(3L, 5L))
    val q = Seq((0L, "alpha"), (1L, "beta")).toDF("query_id", "term")
    val small = InvertedIndex.probe(spark, path, q, 8)
    assert(joinKinds(small).contains("BroadcastHashJoin"),
      "within-budget tombstones must broadcast")
    val smallRows = small.collect().map(_.toString).sorted.toSeq
    // force "large": a zero budget makes ANY log exceed it — the same
    // code path a multi-GB takedown log takes
    val (largeRows, largePlan) = withCap(0L) {
      val large = InvertedIndex.probe(spark, path, q, 8)
      (large.collect().map(_.toString).sorted.toSeq, joinKinds(large))
    }
    // the tombstone join is the plan's only LeftAnti — it must have
    // degraded to the shuffle form (other broadcasts, e.g. the probed
    // term semi join, rightly survive)
    assert(largePlan.linesIterator.exists(l =>
      l.contains("ShuffledHashJoin") && l.contains("LeftAnti")),
      s"over-budget tombstones must shuffle, plan was:\n$largePlan")
    assert(!largePlan.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftAnti")),
      "the tombstone anti join must not broadcast over budget")
    assert(largeRows == smallRows, "join strategy must not change results")
    assert(smallRows.nonEmpty)
    assert(!smallRows.exists(_.split(",")(2) == "3") &&
      !smallRows.exists(_.split(",")(2) == "5"),
      "tombstoned docs must stay hidden under both strategies")
  }

  test("a malformed or negative broadcast budget fails naming its key") {
    val path = tmpDir("tomb_bound_conf")
    InvertedIndex.build(docs, path)
    InvertedIndex.markDeleted(spark, path, Seq(3L))
    val q = Seq((0L, "alpha")).toDF("query_id", "term")
    val key = TombstoneLog.BroadcastMaxBytesKey
    val old = spark.conf.getOption(key)
    try Seq("10MB", "-1").foreach { v =>
      spark.conf.set(key, v)
      val e = intercept[IllegalArgumentException] {
        InvertedIndex.probe(spark, path, q, 8).collect()
      }
      assert(e.getMessage.contains(key) && e.getMessage.contains(v), e.getMessage)
    } finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("IVF compact applies a forced-large tombstone set via shuffle and " +
    "still drops the vectors physically") {
    val path = tmpDir("tomb_bound_ivf")
    val emb = (0L until 20L).map(i =>
      (i, Seq.tabulate(4)(d => (math.sin(i * 3.0 + d) * 10).toFloat)))
      .toDF("vec_id", "embedding")
    val cents = emb.where(col("vec_id") < 4).orderBy(col("vec_id"))
      .select(col("embedding")).collect().map(_.getSeq[Float](0).toSeq).toSeq
    IvfIndex.buildCorpus(emb, path, cents)
    IvfIndex.markDeleted(spark, path, Seq(7L, 11L))
    withCap(0L) { IvfIndex.compactCorpus(spark, path) }
    val left = spark.read.parquet(path).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(!left.contains(7L) && !left.contains(11L))
    assert(left.size == 18)
  }
}
