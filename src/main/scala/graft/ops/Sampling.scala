package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines. `rand()`-based
  * sampling is non-reproducible across retries/runs and un-oracle-able;
  * these ops derive the keep/drop decision from a hash of the row's id,
  * so the same input always yields the same sample (idempotent pipelines,
  * exactly re-runnable experiments, verifiable counts).
  */
object Sampling {

  /** Uniform hash fraction in [0, 1): the first 13 hex chars of
    * md5(id) — 52 bits, exactly representable in a double (and exactly
    * reproducible in the DuckDB oracle). */
  def hashFraction(id: Column): Column =
    (conv(substring(md5(id.cast("string")), 1, 13), 16, 10).cast("double")
      / math.pow(16, 13))

  /** Stratified (per-class) sampling: keep ~`fractions(class)` of each
    * class's rows (1.0 for unlisted classes). One map-side pass — the
    * class column never shuffles. */
  def stratifiedSample(df: DataFrame, id: Column, classCol: Column,
      fractions: Map[String, Double]): DataFrame = {
    val frac = fractions.foldLeft(lit(1.0)) { case (acc, (cls, f)) =>
      when(classCol === cls, f).otherwise(acc)
    }
    df.where(hashFraction(id) < frac)
  }
}
