package graft

import org.apache.spark.sql.functions._
import graft.functions.BloomMightContain

/** The Bloom membership expression behind q51's incremental dedup. */
class BloomMightContainSpec extends SparkSpecBase {
  import spark.implicits._

  private def bloomOf(keys: Seq[String]) = {
    val df = keys.toDF("k")
    df.stat.bloomFilter("k", 10000L, 0.01)
  }

  test("no false negatives: every inserted key is might_contain=true") {
    val keys = (0 until 2000).map(i => s"key-$i")
    val bloom = bloomOf(keys)
    val hits = keys.toDF("k")
      .where(BloomMightContain.mightContain(bloom, $"k"))
      .count()
    assert(hits === 2000L, "a Bloom filter must never miss an inserted key")
  }

  test("false-positive rate near the configured fpp; nulls stay null") {
    val bloom = bloomOf((0 until 2000).map(i => s"key-$i"))
    val fresh = (0 until 2000).map(i => s"other-$i").toDF("k")
    val fp = fresh.where(BloomMightContain.mightContain(bloom, $"k")).count()
    assert(fp < 2000 * 0.05, s"fp rate ${fp / 2000.0} far above configured 1%")

    val withNull = Seq(Some("key-1"), None).toDF("k")
      .select(BloomMightContain.mightContain(bloom, $"k").as("m"))
      .collect()
    assert(withNull(0).getBoolean(0) === true)
    assert(withNull(1).isNullAt(0))
  }

  test("bloom pre-filter + anti-join verify equals the plain anti-join " +
    "(q51's exactness argument)") {
    val corpus = (0 until 500).map(i => s"doc-$i")
    val feed = (250 until 1000).map(i => s"doc-$i") // 250 seen, 500 new
    val bloom = bloomOf(corpus)
    val corpusDf = corpus.toDF("k")
    val feedDf = feed.toDF("k")
    val might = BloomMightContain.mightContain(bloom, $"k")
    val viaBloom = feedDf.where(!might)
      .unionByName(feedDf.where(might).join(corpusDf, Seq("k"), "left_anti"))
    val plain = feedDf.join(corpusDf, Seq("k"), "left_anti")
    assert(viaBloom.orderBy("k").collect().toSeq ===
      plain.orderBy("k").collect().toSeq)
    assert(viaBloom.count() === 500L)
  }
}
