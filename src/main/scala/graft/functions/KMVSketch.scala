package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExpressions.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}

/** KMV (k-minimum-values) distinct-count sketch as a custom
  * `TypedImperativeAggregate` — the aggregate tier of the custom-operator
  * ladder (scalar `Expression`s: CosineSimilarity / MinHashSignature).
  *
  * State = the k lexicographically-smallest md5 hex digests of the
  * group's values (a bounded TreeSet; fixed memory per group, mergeable —
  * partial aggregation works normally). Estimate = (k-1) / frac(kth min),
  * where frac maps the first 13 hex chars onto [0,1) — the classic KMV
  * estimator (Bar-Yossef et al.). Deterministic (md5, no randomness), so
  * unlike HLL implementations it is ORACLE-MATCHABLE: the DuckDB side
  * ranks the same hashes and applies the same formula (q43).
  *
  * Groups with fewer than k distinct values return the exact count.
  */
case class KMVSketch(child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.TreeSet[String]] {

  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType if k > 1 =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"kmv_distinct expects (string, k>1), got ${t.simpleString}, k=$k")
    }

  override def createAggregationBuffer(): java.util.TreeSet[String] =
    new java.util.TreeSet[String]()

  private def insert(buf: java.util.TreeSet[String], hex: String): Unit = {
    if (buf.size < k) { buf.add(hex); () }
    else if (hex.compareTo(buf.last) < 0 && buf.add(hex)) {
      buf.remove(buf.last); ()
    }
  }

  override def update(buf: java.util.TreeSet[String],
      input: InternalRow): java.util.TreeSet[String] = {
    val v = child.eval(input)
    if (v != null) insert(buf, Digests.md5Hex(v.toString))
    buf
  }

  override def merge(b1: java.util.TreeSet[String],
      b2: java.util.TreeSet[String]): java.util.TreeSet[String] = {
    val it = b2.iterator()
    while (it.hasNext) insert(b1, it.next())
    b1
  }

  override def eval(buf: java.util.TreeSet[String]): Any = {
    val n = buf.size
    if (n < k) n.toDouble
    else {
      val frac = java.lang.Long.parseLong(buf.last.substring(0, 13), 16)
        .toDouble / math.pow(16, 13)
      (k - 1) / frac
    }
  }

  override def serialize(buf: java.util.TreeSet[String]): Array[Byte] = {
    val sb = new StringBuilder
    val it = buf.iterator()
    while (it.hasNext) { sb.append(it.next()); sb.append(',') }
    sb.toString.getBytes("UTF-8")
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[String] = {
    val buf = createAggregationBuffer()
    new String(bytes, "UTF-8").split(',').foreach(h => if (h.nonEmpty) buf.add(h))
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): KMVSketch =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KMVSketch =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KMVSketch =
    copy(child = newChildren.head)
}

object KMVSketch {
  /** Column entry point. */
  def kmvDistinct(value: Column, k: Int): Column =
    column(KMVSketch(expression(value), k).toAggregateExpression())
}
