package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector similarity primitives over `ArrayType(FloatType)` embedding
  * columns, built entirely from Spark's higher-order array functions
  * (`zip_with` / `aggregate` / `transform`) so they stay codegen'd
  * Catalyst expressions — no UDF, no serialization wall.
  *
  * All arithmetic is widened to double before accumulation: float
  * accumulation order varies across partitions, double keeps the result
  * stable to ~1e-15, which survives `round(x, 4)` oracle comparison.
  */
object VectorOps {

  /** Σ aᵢ·bᵢ in double precision (left-to-right fold). */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** ‖a‖₂ in double precision. */
  def l2Norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))

  /** Cosine similarity in double precision; null-safe on zero vectors
    * (returns null via division by zero → null in SQL semantics only for
    * decimal; doubles yield NaN/Infinity, so we guard explicitly). */
  def cosine(a: Column, b: Column): Column = {
    val denom = l2Norm(a) * l2Norm(b)
    when(denom === 0.0, lit(null)).otherwise(dot(a, b) / denom)
  }

  /** Squared euclidean distance in double precision. */
  def l2Sq(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => {
        val d = x.cast("double") - y.cast("double"); d * d
      }),
      lit(0.0), (acc, x) => acc + x)

  /** Sign-bucket LSH key from the first `k` dimensions: bit i = 1 iff
    * embedding[i] >= 0. An axis-aligned random-hyperplane LSH (the
    * "planes" are the first k coordinate axes — deterministic, hence
    * oracle-expressible). Cheap narrow-int bucket id for bucketed ANN.
    */
  def signBucket(a: Column, k: Int): Column =
    (0 until k).map(i => when(element_at(a, i + 1) >= 0f, 1 << i).otherwise(0))
      .reduce(_ + _)

  /** Symmetric per-vector int8 quantization:
    * `struct(scale double, codes array<tinyint>)` with
    * `scale = max|aᵢ| / 127` and `codes[i] = round(aᵢ / scale)`. 4× less
    * storage/shuffle than float32 — at 100 TB the candidate-scoring scan
    * reads a quarter of the bytes. Pure higher-order expressions, fully
    * codegen'd. Exactness bound (pinned by QuantizationSpec): every
    * reconstructed component is within `scale/2 = max|aᵢ|/254` of the
    * original — the rounding half-step, so the bound is definitional,
    * not statistical. Zero vectors quantize to scale=1, all-zero codes. */
  def quantizeInt8(a: Column): Column = {
    val maxAbs = aggregate(a, lit(0.0),
      (acc, x) => greatest(acc, abs(x.cast("double"))))
    val scale = when(maxAbs === 0.0, lit(1.0)).otherwise(maxAbs / 127.0)
    struct(scale.as("scale"),
      transform(a, x => round(x.cast("double") / scale).cast("tinyint")).as("codes"))
  }
}
