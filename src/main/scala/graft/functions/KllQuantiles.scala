package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExpressions.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Mergeable quantile sketch (the KLL/MRL compactor-stack family —
  * Karnin–Lang–Liberty FOCS'16, Manku–Rajagopalan–Lindsay SIGMOD'98)
  * as a `TypedImperativeAggregate` — the bounded-memory alternative to
  * exact per-group percentiles (q37), whose sort carries every row of
  * the group. Each partial buffer is a stack of levels; an item at
  * level i represents 2^i original rows. A level that fills to
  * `capacity` compacts: sort, keep every other element, promote the
  * survivors one level up — halving the item count while preserving
  * every kept item's rank to within the discarded neighbors' span.
  * Memory is O(levels × capacity) = O(capacity · log(n/capacity))
  * per partial buffer at ANY n; partial aggregation combines map-side
  * and the merge just concatenates levels and re-compacts, so the
  * shuffle carries sketches, never rows.
  *
  * Determinism posture (the q34/q60 discipline): compaction keeps the
  * EVEN-indexed survivors of each sorted level with a per-level
  * alternating parity — no randomness anywhere, so a single-partition
  * run is bit-stable. Across shuffles the merge ORDER can vary, which
  * moves individual estimates within their error bound but never past
  * it; queries therefore declare BOUND CHECKS (rank error ≤ ε·n), not
  * raw estimates — q34's error-bound oracle pattern. With the
  * alternating parity the worst-case rank error of a level-i compaction
  * is 2^i rows and at most `n / capacity` compactions happen per level,
  * giving the classical ε = O(log(n/capacity) / capacity) rank error;
  * the registry query checks a conservative ε against exact ranks.
  *
  * Output: `array<double>` — the estimated value at each requested
  * quantile (foldable `array<double>` literal), by weighted-rank
  * lower-bound over the summary. */
case class KllQuantiles(child: Expression, capacity: Int,
    quantiles: Seq[Double], mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[KllQuantiles.Summary] {

  import KllQuantiles.Summary

  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case DoubleType if capacity >= 8 && quantiles.nonEmpty &&
          quantiles.forall(q => q >= 0.0 && q <= 1.0) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"kll_quantiles expects (double, capacity >= 8, quantiles in " +
            s"[0,1]), got ${t.simpleString}, capacity=$capacity")
    }

  override def createAggregationBuffer(): Summary = new Summary

  override def update(buf: Summary, input: InternalRow): Summary = {
    val v = child.eval(input)
    if (v != null) {
      buf.n += 1
      buf.level(0) += v.asInstanceOf[Double]
      // cascade upward: compact(0) half-fills level 1, which eventually
      // fills and must compact into level 2, and so on — without this,
      // levels >= 1 grow O(n) per partial buffer and the documented
      // O(capacity · log(n/capacity)) bound (and the "shuffle carries
      // sketches, never rows" contract) is violated.
      var lv = 0
      while (lv < buf.levels.length) {
        while (buf.levels(lv).length >= capacity) buf.compact(lv, capacity)
        lv += 1
      }
    }
    buf
  }

  override def merge(b1: Summary, b2: Summary): Summary = {
    b1.n += b2.n
    var i = 0
    while (i < b2.levels.length) {
      val src = b2.level(i) // ensures the level exists
      b1.level(i) ++= src
      i += 1
    }
    // cascade: a concatenated level may exceed capacity several times
    var lv = 0
    while (lv < b1.levels.length) {
      while (b1.levels(lv).length >= capacity) b1.compact(lv, capacity)
      lv += 1
    }
    b1
  }

  override def eval(buf: Summary): Any = {
    // weighted items, sorted by value; estimate = the smallest value
    // whose cumulative weight reaches ceil(q * n) (rank lower bound)
    val items = scala.collection.mutable.ArrayBuffer[(Double, Long)]()
    var lv = 0
    while (lv < buf.levels.length) {
      val w = 1L << lv
      buf.levels(lv).foreach(v => items += ((v, w)))
      lv += 1
    }
    val sorted = items.sortBy(_._1)
    val total = sorted.iterator.map(_._2).sum
    val out = quantiles.map { q =>
      if (sorted.isEmpty) Double.NaN
      else {
        val target = math.max(1L, math.ceil(q * total).toLong)
        var cum = 0L
        var i = 0
        var res = sorted.last._1
        var found = false
        while (i < sorted.length && !found) {
          cum += sorted(i)._2
          if (cum >= target) { res = sorted(i)._1; found = true }
          i += 1
        }
        res
      }
    }
    new GenericArrayData(out.toArray[Any])
  }

  override def serialize(buf: Summary): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeLong(buf.n)
    out.writeInt(buf.levels.length)
    buf.levels.foreach { lv =>
      out.writeInt(lv.length)
      lv.foreach(out.writeDouble)
    }
    // parity bits keep the alternating-compaction schedule across spills
    out.writeInt(buf.parity.length)
    buf.parity.foreach(p => out.writeBoolean(p))
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Summary = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = createAggregationBuffer()
    buf.n = in.readLong()
    val nl = in.readInt()
    var i = 0
    while (i < nl) {
      val len = in.readInt()
      val lv = buf.level(i)
      var j = 0
      while (j < len) { lv += in.readDouble(); j += 1 }
      i += 1
    }
    val np = in.readInt()
    i = 0
    while (i < np) { buf.parityBit(i); buf.parity(i) = in.readBoolean(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): KllQuantiles =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KllQuantiles =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KllQuantiles =
    copy(child = newChildren.head)
}

object KllQuantiles {

  /** Compactor stack: `levels(i)` holds items of weight 2^i; `parity(i)`
    * alternates which half survives level i's next compaction (the
    * deterministic schedule — no randomness). */
  final class Summary {
    var n: Long = 0L
    val levels = scala.collection.mutable.ArrayBuffer[
      scala.collection.mutable.ArrayBuffer[Double]]()
    val parity = scala.collection.mutable.ArrayBuffer[Boolean]()

    def level(i: Int): scala.collection.mutable.ArrayBuffer[Double] = {
      while (levels.length <= i) {
        levels += scala.collection.mutable.ArrayBuffer[Double]()
        parity += false
      }
      levels(i)
    }

    def parityBit(i: Int): Boolean = { level(i); parity(i) }

    /** Sort level `lv`, promote every other element (alternating start
      * index), clear the level. Rank slip per compaction ≤ one item's
      * weight; the alternation cancels the slip's bias pairwise. */
    def compact(lv: Int, capacity: Int): Unit = {
      val cur = level(lv)
      val sorted = cur.sorted
      val start = if (parityBit(lv)) 1 else 0
      parity(lv) = !parity(lv)
      val up = level(lv + 1)
      var i = start
      while (i < sorted.length) { up += sorted(i); i += 2 }
      cur.clear()
    }
  }

  /** Column entry point. */
  def quantiles(value: Column, capacity: Int, qs: Seq[Double]): Column =
    column(KllQuantiles(expression(value), capacity, qs).toAggregateExpression())
}
