package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExpressions.{column, expression}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** Broadcast-side variant of [[BloomMightContain]] — the 100 TB form.
  *
  * The byte-carrying variant serializes the filter INTO the task binary:
  * right for the MB-scale filters a per-partition corpus produces, wrong
  * for a whole-corpus filter (a multi-GB filter would ship with every
  * task and blow the RPC frame). Here the expression carries only a
  * `Broadcast` HANDLE; the filter bytes move once per executor over the
  * torrent-broadcast path and are materialized lazily. Codegen resolves
  * `handle.value` once per operator instance (mutable-state init), so
  * the per-row cost is the same single hash probe as the inline variant.
  *
  * It has no SQL name: a broadcast cannot ride a literal the way the
  * inline variant's bytes do, so only the Column entry point builds it.
  */
case class BloomMightContainBcast(child: Expression, handle: Broadcast[BloomFilter])
    extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"bloom_might_contain_bcast expects a string key, got ${other.simpleString}")
    }

  // Equality on the broadcast's id (Broadcast itself is reference-equal
  // only), so identical probes of the same filter canonicalize together.
  override def equals(other: Any): Boolean = other match {
    case b: BloomMightContainBcast => child == b.child && handle.id == b.handle.id
    case _ => false
  }
  override def hashCode(): Int = 31 * child.hashCode() + handle.id.hashCode()

  @transient private lazy val bloom: BloomFilter = handle.value

  override def nullSafeEval(key: Any): Any =
    bloom.mightContainString(key.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcastCls = classOf[Broadcast[_]].getName
    val bloomCls = classOf[BloomFilter].getName
    val ref = ctx.addReferenceObj("graftBloomBcast", handle, bcastCls)
    // resolve the broadcast value ONCE per operator instance, not per row
    val bloomVar = ctx.addMutableState(bloomCls, "graftBloomVal",
      v => s"$v = ($bloomCls) $ref.value();")
    nullSafeCodeGen(ctx, ev, key =>
      s"${ev.value} = $bloomVar.mightContainString($key.toString());")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomMightContainBcast =
    copy(child = newChild)
}

object BloomMightContainBcast {
  /** Probe `key` against an already-broadcast filter. Retire the filter
    * with `handle.unpersist()` once the queries planned against it have
    * finished executing. */
  def mightContain(handle: Broadcast[BloomFilter], key: Column): Column =
    column(BloomMightContainBcast(expression(key), handle))
}
