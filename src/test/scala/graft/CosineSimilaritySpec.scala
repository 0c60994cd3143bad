package graft

import org.apache.spark.sql.functions._
import graft.functions.{CosineSimilarity, GraftFunctions, VectorOps}
import graft.sources.Tables

class CosineSimilaritySpec extends SparkSpecBase {
  import spark.implicits._

  test("native expression is bit-identical to the higher-order-function " +
    "spelling on real embeddings") {
    val emb = Tables.embeddings(spark, sf0001)
    val probe = Tables.embeddings(spark, sf0001).where($"vec_id" === 0)
      .select($"embedding".as("probe"))
    val both = emb.crossJoin(broadcast(probe)).select(
      $"vec_id",
      VectorOps.cosine($"embedding", $"probe").as("hof"),
      CosineSimilarity.cosineSim($"embedding", $"probe").as("native"))
    // bit-identical, not approximately equal: same accumulation order
    assert(both.where($"hof" =!= $"native" ||
      ($"hof".isNull !== $"native".isNull)).isEmpty)
  }

  test("registered SQL function works and zero vectors yield NULL") {
    GraftFunctions.register(spark)
    Seq((Array(1f, 2f), Array(2f, 4f)), (Array(0f, 0f), Array(1f, 1f)))
      .toDF("a", "b").createOrReplaceTempView("vecs")
    val got = spark.sql("SELECT round(cosine_sim(a, b), 6) FROM vecs")
      .as[Option[Double]].collect().toSeq
    assert(got === Seq(Some(1.0), None))
  }

  test("type check rejects non-float arrays") {
    GraftFunctions.register(spark)
    Seq((Array(1.0, 2.0), Array(2.0, 4.0))).toDF("a", "b")
      .createOrReplaceTempView("dvecs")
    val e = intercept[Exception] {
      spark.sql("SELECT cosine_sim(a, b) FROM dvecs").collect()
    }
    assert(e.getMessage.contains("cosine_sim") ||
      e.getMessage.toLowerCase.contains("type"))
  }
}
