package graft.functions

import java.io.ByteArrayInputStream
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExpressions.{column, expression}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** Bloom-filter membership probe as a native codegen'd expression — the
  * engine half of the INCREMENTAL-DEDUP pattern (q51): test a key column
  * against a pre-built corpus Bloom filter entirely map-side.
  *
  * Spark keeps its own `BloomFilterMightContain` internal (it exists for
  * the runtime join-filter rewrite, is not in the public function
  * registry, and `DataFrameStatFunctions.bloomFilter` returns a sketch
  * object with no Column-side probe), so tier (b) of the custom-operator
  * ladder applies: a small `UnaryExpression` whose serialized filter
  * rides the expression tree to executors and is deserialized ONCE per
  * task (transient lazy), with `doGenCode` referencing the deserialized
  * object — zero per-row overhead beyond the hash probe itself.
  *
  * Scale note: the filter bytes ship inside the task binary, which is
  * right for the MB-scale filters a per-partition corpus produces; a
  * multi-GB whole-corpus filter should go through
  * `SparkContext.broadcast` and a broadcast-aware variant instead
  * (same expression shape, different reference plumbing).
  */
case class BloomMightContain(child: Expression, bloomBytes: Array[Byte])
    extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"bloom_might_contain expects a string key, got ${other.simpleString}")
    }

  // Array[Byte] compares by reference under the case-class equals, which
  // would make two semantically identical probes never equal — blocking
  // canonicalization/CSE and subexpression dedup. Compare filter content.
  override def equals(other: Any): Boolean = other match {
    case b: BloomMightContain =>
      child == b.child && java.util.Arrays.equals(bloomBytes, b.bloomBytes)
    case _ => false
  }
  override def hashCode(): Int =
    31 * child.hashCode() + java.util.Arrays.hashCode(bloomBytes)

  @transient private lazy val bloom: BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(bloomBytes))

  override def nullSafeEval(key: Any): Any =
    bloom.mightContainString(key.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftBloom", bloom, classOf[BloomFilter].getName)
    nullSafeCodeGen(ctx, ev, key =>
      s"${ev.value} = $ref.mightContainString($key.toString());")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomMightContain =
    copy(child = newChild)
}

object BloomMightContain {
  /** Column entry point: `key` probed against `bloom`, whose serialized
    * bytes ride the expression. */
  def mightContain(bloom: BloomFilter, key: Column): Column = {
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    column(BloomMightContain(expression(key), bos.toByteArray))
  }
}
