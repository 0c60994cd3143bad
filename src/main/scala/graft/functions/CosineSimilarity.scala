package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}

/** Native fused cosine similarity over two `array<float>` columns.
  *
  * The built-in-function spelling (VectorOps.cosine:
  * `aggregate(zip_with(a,b,*)) / (sqrt(aggregate(a*a)) · sqrt(aggregate(b*b)))`)
  * is three higher-order passes plus a materialized zip_with array per row.
  * This expression is one fused loop with three local accumulators and
  * full whole-stage codegen — the (b)-tier of the custom-operator
  * preference order (compose built-ins < custom Expression < custom
  * plan node), used here because the built-in composition demonstrably
  * allocates per row on the ANN hot path.
  *
  * Accumulation order (left-to-right per accumulator, widened to double,
  * `sqrt(na)*sqrt(nb)` denominator) is EXACTLY the built-in spelling's, so
  * both produce bit-identical doubles and hash-match the same oracle.
  * Zero-magnitude inputs yield NULL (ditto). Arrays shorter than the
  * other operand are handled by iterating the common prefix (the HOF
  * spelling nulls-out instead; never exercised — embeddings are fixed-d).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects (array<float>, array<float>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else java.lang.Double.valueOf(dot / denom)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val denom = ctx.freshName("denom")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  final double $x = (double) $a.getFloat($i);
         |  final double $y = (double) $b.getFloat($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |final double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |if ($denom == 0.0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $dot / $denom;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  /** Column-API entry point. The Expression→Column bridge is private[sql]
    * in Spark 4, so we go through the public function registry +
    * `call_function` (idempotent per-session registration). */
  def cosineSim(spark: SparkSession, a: Column, b: Column): Column = {
    GraftFunctions.register(spark)
    org.apache.spark.sql.functions.call_function("cosine_sim", a, b)
  }
}

/** SparkSessionExtensions hook for ALL graft custom functions
  * (`cosine_sim`, `minhash_sig`, `bloom_might_contain`,
  * `nfc_normalize`, `kmv_distinct`). Register with
  * `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.functions.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  private def intLit(e: Expression, fn: String): Int = e match {
    case l if l.foldable => l.eval() match {
      case i: Int => i
      case l2: Long => l2.toInt
      case other => throw new IllegalArgumentException(
        s"$fn: k must be an integer literal, got $other")
    }
    case _ => throw new IllegalArgumentException(s"$fn: k must be a literal")
  }

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (exprs: Seq[Expression]) => CosineSimilarity(exprs.head, exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_sig"),
      (exprs: Seq[Expression]) =>
        MinHashSignature(exprs.head, intLit(exprs(1), "minhash_sig"))))
    e.injectFunction((
      new FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(classOf[BloomMightContain].getName, "bloom_might_contain"),
      (exprs: Seq[Expression]) => BloomMightContain.fromExprs(exprs)))
    e.injectFunction((
      new FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      (exprs: Seq[Expression]) => NfcNormalize(exprs.head)))
    e.injectFunction((
      new FunctionIdentifier("kmv_distinct"),
      new ExpressionInfo(classOf[KMVSketch].getName, "kmv_distinct"),
      (exprs: Seq[Expression]) =>
        KMVSketch(exprs.head, intLit(exprs(1), "kmv_distinct"))
          .toAggregateExpression()))
  }
}

/** Runtime registration for an existing session (tests, Verify). */
object GraftFunctions {
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_sim",
      (exprs: Seq[Expression]) => CosineSimilarity(exprs.head, exprs(1)),
      "built-in")
  }
}
