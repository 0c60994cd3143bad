package graft

import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions, KMVSketch}

class KMVSketchSpec extends SparkSpecBase {
  import spark.implicits._

  test("below-k groups return the exact distinct count (incl. duplicates)") {
    val df = (1 to 100).map(i => ("g", s"v${i % 40}")).toDF("g", "v")
      .repartition(8) // force partial-aggregate merge paths
    val got = df.groupBy($"g")
      .agg(KMVSketch.kmvDistinct($"v", 256).as("est"))
      .as[(String, Double)].head()
    assert(got._2 === 40.0)
  }

  test("estimate is within 15% of truth for a 20k-distinct group at k=256") {
    val df = spark.range(20000).select(lit("g").as("g"), $"id".cast("string").as("v"))
      .repartition(16)
    val est = df.groupBy($"g")
      .agg(KMVSketch.kmvDistinct($"v", 256).as("est"))
      .select("est").as[Double].head()
    assert(math.abs(est - 20000) / 20000 < 0.15, s"estimate $est too far from 20000")
  }

  test("merge order does not change the result (repartition invariance)") {
    val base = spark.range(5000).select(lit("g").as("g"), $"id".cast("string").as("v"))
    def est(parts: Int) = base.repartition(parts).groupBy($"g")
      .agg(KMVSketch.kmvDistinct($"v", 128).as("est"))
      .select("est").as[Double].head()
    assert(est(2) === est(32)) // bounded-set state is order-insensitive
  }

  test("SQL registration works") {
    GraftFunctions.register(spark)
    spark.range(10).select($"id".cast("string").as("v"))
      .createOrReplaceTempView("kmv_t")
    val got = spark.sql("SELECT kmv_distinct(v, 64) FROM kmv_t")
      .as[Double].head()
    assert(got === 10.0)
  }
}
