package graft

import org.apache.spark.sql.functions._
import graft.functions.SpaceSavingTopK

class SpaceSavingSpec extends SparkSpecBase {
  import spark.implicits._

  private def topOf(df: org.apache.spark.sql.DataFrame, capacity: Int, k: Int) =
    df.agg(SpaceSavingTopK.topK($"key", capacity, k).as("top"))
      .select(explode($"top").as("e"))
      .select($"e.key", $"e.n")
      .as[(String, Long)].collect().toSeq

  test("exact when capacity >= cardinality, across many partitions " +
    "(partial buffers merge map-side without eviction)") {
    val rows = (1 to 2000).map(i => s"k${i % 37}")
    val df = rows.toDF("key").repartition(8)
    val got = topOf(df, capacity = 64, k = 5)
    val want = rows.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .sortBy { case (k, n) => (-n, k) }.take(5)
    assert(got == want)
  }

  test("deterministic tie-break: equal counts order by key ascending " +
    "and survive the k boundary") {
    val df = ('a' to 'j').flatMap(c => Seq.fill(10)(c.toString)).toDF("key")
    val got = topOf(df, capacity = 32, k = 4)
    assert(got == Seq("a" -> 10L, "b" -> 10L, "c" -> 10L, "d" -> 10L))
  }

  test("under eviction the heavy hitter survives and its count " +
    "over-estimates by at most n/capacity") {
    val n = 5000
    val hot = Seq.fill(n / 2)("HOT")
    val tail = (1 to n / 2).map(i => s"t$i") // every tail key unique
    val df = scala.util.Random.shuffle(hot ++ tail).toDF("key").coalesce(1)
    val got = topOf(df, capacity = 100, k = 1)
    assert(got.size == 1 && got.head._1 == "HOT")
    val est = got.head._2
    val truth = n / 2L
    assert(est >= truth, s"Space-Saving must never under-count: $est < $truth")
    assert(est <= truth + n / 100, s"error bound n/m violated: $est vs $truth")
  }

  test("multi-partition eviction: merge compensates for keys the other " +
    "summary evicted, so the heavy hitter never under-counts") {
    // 8 partitions, each full of unique tail keys that force evictions in
    // every partial buffer AND in the cross-partition merges. Without the
    // Agarwal-style implied-min credit in merge(), HOT's count loses the
    // contribution of partitions that evicted it and under-estimates.
    val n = 8000
    val hot = Seq.fill(n / 4)("HOT")
    val tail = (1 to 3 * n / 4).map(i => s"t$i") // unique per key
    val rnd = new scala.util.Random(7)
    val df = rnd.shuffle(hot ++ tail).toDF("key").repartition(8)
    val got = topOf(df, capacity = 64, k = 1)
    assert(got.size == 1 && got.head._1 == "HOT")
    val est = got.head._2
    val truth = n / 4L
    assert(est >= truth, s"merged Space-Saving must never under-count: $est < $truth")
    // Mergeable-summaries bound: total over-estimate <= sum of per-stream
    // implied minima <= n/capacity.
    assert(est <= truth + n / 64, s"merged error bound violated: $est vs $truth")
  }

  test("keys longer than 64 KiB survive buffer serialization " +
    "(length-prefixed UTF-8, not writeUTF)") {
    val big = "x" * 70000
    val df = (Seq.fill(5)(big) ++ Seq("small")).toDF("key").repartition(3)
    val got = topOf(df, capacity = 8, k = 2)
    assert(got == Seq(big -> 5L, "small" -> 1L))
  }

  test("nulls are ignored; fewer distinct keys than k returns them all") {
    val df = Seq(Some("x"), None, Some("x"), Some("y"), None).toDF("key")
    val got = topOf(df, capacity = 8, k = 5)
    assert(got == Seq("x" -> 2L, "y" -> 1L))
  }
}
