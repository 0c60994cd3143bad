package graft

import graft.ops.Caches
import graft.queries.Queries

/** Every declared query must run, return rows, and keep its oracle
  * contract (column names are what the driver hash-compares on). */
class QueriesSpec extends SparkSpecBase {

  test("registry: unique names; every declared query is oracle-paired") {
    val names = Queries.all.map(_.name)
    assert(names.distinct.size === names.size)
    val rowsOnly = Queries.all.filter(_.sql.isEmpty).map(_.name).toSet
    assert(rowsOnly === Set.empty[String]) // q34 carries bound-assertions SQL
    assert(SparkEntry.oracleSql.keySet === SparkEntry.queries.keySet)
  }

  Queries.all.foreach { d =>
    test(s"${d.name} runs on sf0.001 with rows > 0") {
      val df = d.fn(spark, sf0001)
      assert(df.columns.nonEmpty)
      assert(df.count() > 0, s"${d.name} returned no rows")
    }
  }

  /** The queries whose results outlive a cache or scratch dir they read
    * — every one settles through Caches.settle or collects a bounded
    * aggregate (Caches.collectExact). */
  private val settling = Set(20, 59, 61, 63, 64, 72, 81, 84, 85, 87, 89, 96,
    107, 108, 125, 127, 133, 148, 158, 160, 162, 163, 165, 166, 167, 172)

  test("at localize cap 0 the settling queries return their default-cap " +
    "rows and leave no cache entry") {
    val capped = spark.newSession()
    capped.conf.set(Caches.MaxRowsConf, "0")
    val cacheManager = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    val decls = Queries.all.filter(d => settling(d.name.drop(1).takeWhile(_.isDigit).toInt))
    assert(decls.size === settling.size)
    decls.foreach { d =>
      val want = d.fn(spark, sf0001).collect().toSeq
      assert(cacheManager.isEmpty, s"${d.name} left a cache entry")
      val got = d.fn(capped, sf0001).collect().toSeq
      assert(cacheManager.isEmpty, s"${d.name} left a cache entry at cap 0")
      assert(got == want, s"${d.name} rows differ at cap 0")
    }
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q162 leakage guarantee: no verified near-dup pair straddles a " +
    "split, and buckets land ~90/5/5 by anchor") {
    import spark.implicits._
    val split = Queries.all.find(_.name == "q162_leakage_safe_split").get
      .fn(spark, sf0001)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val pairs = Queries.all.find(_.name == "q20_minhash_lsh_neardup").get
      .fn(spark, sf0001)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(split(a) == split(b),
        s"near-dup pair ($a, $b) straddles splits ${split(a)}/${split(b)}")
    }
    // all three splits exist and train dominates (90/5/5 by md5 bucket)
    val byCat = split.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(byCat.keySet == Set("train", "val", "test"), byCat.toString)
    assert(byCat("train") > byCat("val") + byCat("test"), byCat.toString)
  }
}
