package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.VectorOps
import graft.sources.Tables

/** Int8 quantization exactness bounds — definitional, not statistical:
  * symmetric round-to-nearest with scale = max|aᵢ|/127 reconstructs every
  * component within scale/2. Checked over the whole embeddings table so
  * the bound holds on real data, not a toy vector. */
class QuantizationSpec extends SparkSpecBase {
  import spark.implicits._

  /** Reconstruct a float vector from [[VectorOps.quantizeInt8]] output. */
  private def dequantizeInt8(q: Column): Column =
    transform(q.getField("codes"),
      c => (c.cast("double") * q.getField("scale")).cast("float"))

  test("per-component reconstruction error ≤ scale/2 over the full table") {
    val emb = Tables.embeddings(spark, sf0001)
    val q = VectorOps.quantizeInt8($"embedding")
    val err = emb.select(
      $"vec_id", q.as("q"),
      dequantizeInt8(q).as("deq"), $"embedding")
      .select($"vec_id",
        aggregate(
          zip_with($"deq", $"embedding",
            (d, o) => abs(d.cast("double") - o.cast("double"))),
          lit(0.0), (acc, x) => greatest(acc, x)).as("max_err"),
        ($"q.scale" / 2 + lit(1e-9)).as("bound"))
    assert(err.where($"max_err" > $"bound").count() === 0)
  }

  test("codes stay in int8 range; zero vector quantizes losslessly") {
    val emb = Tables.embeddings(spark, sf0001)
    val codes = emb.select(
      explode(VectorOps.quantizeInt8($"embedding").getField("codes")).as("c"))
    val (lo, hi) = codes.agg(min($"c".cast("int")), max($"c".cast("int")))
      .as[(Int, Int)].head()
    assert(lo >= -127 && hi <= 127)
    val z = Seq(Array(0f, 0f, 0f)).toDF("v")
      .select(dequantizeInt8(VectorOps.quantizeInt8($"v")))
      .as[Seq[Float]].head()
    assert(z == Seq(0f, 0f, 0f))
  }

  // bound: each side perturbs by ≤ scale/2 per component → relative L2
  // perturbation ≤ ~1/254·(max/rms) per vector, and cosine moves by at
  // most ~2× the summed relative perturbations — ~8e-3 worst case here
  // (measured max on this table: 3.7e-3)
  test("cosine on dequantized vectors tracks exact cosine to < 1e-2") {
    val emb = Tables.embeddings(spark, sf0001)
    val a = emb.select($"vec_id".as("ia"), $"embedding".as("va"))
      .where($"ia" < 20)
    val b = emb.select($"vec_id".as("ib"), $"embedding".as("vb"))
      .where($"ib" >= 20 && $"ib" < 40)
    val drift = a.crossJoin(b).select(
      abs(VectorOps.cosine($"va", $"vb") -
        VectorOps.cosine(
          dequantizeInt8(VectorOps.quantizeInt8($"va")),
          dequantizeInt8(VectorOps.quantizeInt8($"vb"))))
        .as("d"))
    assert(drift.agg(max($"d")).as[Double].head() < 1e-2)
  }
}
