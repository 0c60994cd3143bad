package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExpressions.{column, expression}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization as a native codegen'd Catalyst expression.
  *
  * Spark SQL has no normalization function, yet canonical-equivalence
  * collapsing is the FIRST pass of any multilingual training-data
  * pipeline: "café" spelled e+U+0301 (decomposed) and é (precomposed)
  * must hash to the same dedup key, the same shingles, and the same
  * tokenizer input, or every accented duplicate silently survives
  * exact dedup. A Scala UDF would work but falls out of whole-stage
  * codegen and pays SerDe per row; this is the (b)-tier custom
  * Expression — one static call on the already-materialized
  * `UTF8String`, inlined into the generated consume path.
  *
  * The kernel is `java.text.Normalizer` (JDK, public knowledge — the
  * ICU-lite normalizer every JVM ships). An ASCII fast path skips the
  * String round-trip entirely: NFC is the identity on pure-ASCII
  * bytes, which is ~all of a web-scraped English corpus, so the hot
  * path is a byte scan, not an allocation.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"nfc_normalize expects string, got ${other.simpleString}")
    }

  override def nullSafeEval(input: Any): Any =
    NfcNormalize.normalize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NfcNormalize.normalize($c)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object NfcNormalize {

  /** Static kernel shared by eval and generated code. */
  def normalize(s: UTF8String): UTF8String = {
    val bytes = s.getBytes
    var i = 0
    var ascii = true
    while (ascii && i < bytes.length) { ascii = bytes(i) >= 0; i += 1 }
    if (ascii) s // NFC is the identity on ASCII — skip the String trip
    else {
      val str = s.toString
      val norm = java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC)
      if (norm == str) s else UTF8String.fromString(norm)
    }
  }

  /** Column entry point. */
  def nfc(c: Column): Column = column(NfcNormalize(expression(c)))
}
