package graft

import graft.ops.Caches

/** The localize cap contract: call-site defaults, the session-conf
  * override that governs every call site at once (the 100 TB driver-
  * sizing knob), and the 0 = always-cluster-side escape hatch. */
class CachesSpec extends SparkSpecBase {

  private def df(n: Int) = {
    import spark.implicits._
    (1 to n).toDF("v")
  }

  test("localize returns Some under the cap, None over it, order kept") {
    val got = Caches.localize(df(10).orderBy(org.apache.spark.sql.functions
      .col("v").desc), maxRows = 10)
    assert(got.isDefined)
    assert(got.get.collect().map(_.getInt(0)).toSeq == (10 to 1 by -1))
    assert(got.get.queryExecution.optimizedPlan.collectLeaves()
      .forall(_.nodeName.contains("LocalRelation")))
    assert(Caches.localize(df(11), maxRows = 10).isEmpty)
  }

  test("spark.graft.localize.maxRows overrides every call-site default") {
    try {
      spark.conf.set(Caches.MaxRowsConf, "5")
      assert(Caches.localize(df(6), maxRows = 1000).isEmpty)
      assert(Caches.localize(df(5), maxRows = 1).isDefined)
      // 0 disables localization entirely — deliberate cluster-side path
      spark.conf.set(Caches.MaxRowsConf, "0")
      assert(Caches.localize(df(1), maxRows = 1000).isEmpty)
      // a malformed or negative cap fails naming its key
      Seq("10MB", "-1").foreach { v =>
        spark.conf.set(Caches.MaxRowsConf, v)
        val e = intercept[IllegalArgumentException](Caches.localize(df(1), maxRows = 1))
        assert(e.getMessage.contains(Caches.MaxRowsConf) && e.getMessage.contains(v),
          e.getMessage)
      }
    } finally spark.conf.unset(Caches.MaxRowsConf)
    assert(Caches.localize(df(3), maxRows = 3).isDefined)
  }

  test("settle localizes under the cap and checkpoints over it, same " +
    "rows and no CacheManager entry either way") {
    val capped = spark.newSession()
    capped.conf.set(Caches.MaxRowsConf, "0")
    spark.catalog.clearCache()
    val want = (1 to 10).reverse
    val v = org.apache.spark.sql.functions.col("v")
    val local = Caches.settle(df(10).orderBy(v.desc), maxRows = 10)
    val over = Caches.settle(capped.range(1, 11).toDF("v").orderBy(v.desc), maxRows = 10)
    assert(local.queryExecution.logical.nodeName == "LocalRelation")
    assert(over.queryExecution.logical.nodeName != "LocalRelation")
    assert(local.collect().map(_.getInt(0)).toSeq == want)
    assert(over.collect().map(_.getLong(0)).toSeq == want)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("collectExact ignores the cap and checks the row count") {
    val capped = spark.newSession()
    capped.conf.set(Caches.MaxRowsConf, "0")
    val one = capped.range(5).toDF("v").agg(org.apache.spark.sql.functions.sum("v"))
    assert(Caches.collectExact(one, rows = 1).collect().head.getLong(0) == 10L)
    assertThrows[IllegalArgumentException](Caches.collectExact(df(2), rows = 1))
  }
}
