package graft

import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions, MinHashSignature}
import graft.ops.TextOps
import graft.sources.Tables

class MinHashSignatureSpec extends SparkSpecBase {
  import spark.implicits._

  test("fused expression equals the built-in k-pass spelling on real docs") {
    val docs = Tables.documents(spark, sf0001)
      .select($"doc_id", TextOps.shingleSet($"text", 2).as("sh"))
    val sig = MinHashSignature.minhashSig($"sh", 8)
    val fused = docs.select($"doc_id" +:
      (0 until 8).map(i => element_at(sig, i + 1).as(s"m$i")): _*)
    val builtin = docs.select($"doc_id" +: TextOps.minhashFromSet($"sh", 8): _*)
    assert(fused.exceptAll(builtin).isEmpty && builtin.exceptAll(fused).isEmpty)
  }

  test("SQL registration + empty shingle array yields null signature") {
    GraftFunctions.register(spark)
    Seq(Seq("a b", "b c"), Seq.empty[String]).toDF("sh")
      .createOrReplaceTempView("sh_t")
    val got = spark.sql("SELECT minhash_sig(sh, 4) FROM sh_t").collect()
    assert(got(0).getSeq[String](0).length === 4)
    assert(got(1).isNullAt(0))
  }

  test("codegen path: parquet-backed empty shingle array yields NULL " +
    "(regression: generated code must set isNull, not return null array)") {
    val dir = tmpDir("mh_parquet")
    Seq(Seq("a b", "b c"), Seq.empty[String]).toDF("sh")
      .write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir) // file-backed -> no LocalRelation folding
    val got = back.select(MinHashSignature.minhashSig($"sh", 4).as("s"))
      .collect()
    assert(got.count(_.isNullAt(0)) === 1)
    assert(got.count(r => !r.isNullAt(0) && r.getSeq[String](0).length == 4) === 1)
  }
}
