package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** The SQL names of graft's Catalyst functions, one
  * `(name, ExpressionInfo, builder)` row each. Column code never goes
  * through these names: each function's companion object builds its
  * expression directly. The table is what SQL text resolves, installed
  * either when the session is built ([[GraftExtensions]]) or into an
  * existing session ([[register]]). */
object GraftFunctions {

  /** A literal argument's value; `what` names it in the error. */
  private def literal[T](fn: String, what: String, e: Expression)(
      value: PartialFunction[Any, T]): T = {
    if (!e.foldable) throw new IllegalArgumentException(s"$fn: $what must be a literal")
    val v = e.eval()
    value.applyOrElse(v, (_: Any) => throw new IllegalArgumentException(
      s"$fn: $what has the wrong type, got $v"))
  }

  private def int(fn: String, what: String, e: Expression): Int =
    literal(fn, s"$what (an integer)", e) {
      case i: Int => i
      case l: Long => l.toInt
      case s: Short => s.toInt
    }

  private def doubles(fn: String, what: String, e: Expression): Seq[Double] =
    literal(fn, s"$what (an array of numbers)", Cast(e, ArrayType(DoubleType))) {
      case a: ArrayData => a.toDoubleArray().toSeq
    }

  private def bytes(fn: String, what: String, e: Expression): Array[Byte] =
    literal(fn, s"$what (binary)", e) { case b: Array[Byte] => b }

  private def entry(name: String, cls: Class[_])(
      build: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  val table: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    entry("cosine_sim", classOf[CosineSimilarity])(a => CosineSimilarity(a(0), a(1))),
    entry("minhash_sig", classOf[MinHashSignature])(a =>
      MinHashSignature(a(0), int("minhash_sig", "k", a(1)))),
    entry("nfc_normalize", classOf[NfcNormalize])(a => NfcNormalize(a(0))),
    entry("bloom_might_contain", classOf[BloomMightContain])(a =>
      BloomMightContain(a(1), bytes("bloom_might_contain", "filter", a(0)))),
    entry("kmv_distinct", classOf[KMVSketch])(a =>
      KMVSketch(a(0), int("kmv_distinct", "k", a(1)))),
    entry("kll_quantiles", classOf[KllQuantiles])(a =>
      KllQuantiles(a(0), int("kll_quantiles", "capacity", a(1)),
        doubles("kll_quantiles", "quantiles", a(2)))),
    entry("space_saving_topk", classOf[SpaceSavingTopK])(a =>
      SpaceSavingTopK(a(0), int("space_saving_topk", "capacity", a(1)),
        int("space_saving_topk", "k", a(2)))))

  /** Install [[table]] into an existing session (tests, notebooks). */
  def register(spark: SparkSession): Unit =
    table.foreach { case (id, _, build) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        id.funcName, build, "built-in")
    }
}

/** SparkSessionExtensions hook that injects [[GraftFunctions.table]].
  * Register with `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.functions.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftFunctions.table.foreach(e.injectFunction)
}
