package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExpressions.{column, expression}
import org.apache.spark.unsafe.types.UTF8String

/** Fused k-way MinHash signature over a shingle-set array.
  *
  * The built-in spelling (TextOps.minhashFromSet) runs k separate
  * `array_min(transform(sh, md5("s|" + x)))` passes: k traversals, k
  * intermediate hash arrays, and a fresh string concat per (seed,
  * shingle). This expression makes ONE pass over the shingle array,
  * reuses a single MessageDigest and one prefix-patched byte buffer per
  * row, and tracks the k minima in place — the md5 work is identical, the
  * allocation/traversal overhead is gone.
  *
  * Oracle compatibility: min over lowercase-hex md5 of the UTF-8 bytes of
  * `"<seed>|<shingle>"`, lexicographic on the hex string — exactly
  * DuckDB's `min(md5(seed || '|' || shingle))` and exactly the built-in
  * spelling (hex is ASCII, so UTF8String ordering == String ordering).
  *
  * Codegen: the loop lives in [[MinHashSignature.compute]]; doGenCode
  * emits a static call so the surrounding stage stays whole-stage
  * codegen'd (the digest dominates; one static call per row is noise).
  */
case class MinHashSignature(child: Expression, k: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) if k > 0 =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_sig expects (array<string>, k>0), got ${t.simpleString}, k=$k")
    }

  override def nullSafeEval(input: Any): Any =
    MinHashSignature.compute(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      // compute() returns null for an empty shingle array — propagate it as
      // SQL NULL or downstream codegen dereferences a null ArrayData (NPE)
      s"""
         |${ev.value} = graft.functions.MinHashSignature.compute($a, $k);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

object MinHashSignature {
  /** One pass: for every shingle, k digests of ("s|" ++ shingleBytes);
    * minima tracked as hex strings. Empty input → array of k nulls is
    * wrong for containsNull=false; return null (matches array_min of an
    * empty transform → null per built-in semantics only per-element;
    * the built-in spelling yields k null columns — callers treat a null
    * array the same). */
  def compute(shingles: ArrayData, k: Int): ArrayData = {
    val n = shingles.numElements()
    if (n == 0) return null
    val md = Digests.md5()
    val prefixes = Array.tabulate(k)(s => (s.toString + "|").getBytes)
    val mins = new Array[String](k)
    var i = 0
    while (i < n) {
      val sh = shingles.getUTF8String(i).getBytes
      var s = 0
      while (s < k) {
        md.reset()
        md.update(prefixes(s))
        md.update(sh)
        val hx = Digests.toHex(md.digest())
        if (mins(s) == null || hx.compareTo(mins(s)) < 0) mins(s) = hx
        s += 1
      }
      i += 1
    }
    val out = new Array[Any](k)
    var s = 0
    while (s < k) { out(s) = UTF8String.fromString(mins(s)); s += 1 }
    new GenericArrayData(out)
  }

  /** Column entry point. */
  def minhashSig(shingles: Column, k: Int): Column =
    column(MinHashSignature(expression(shingles), k))
}
