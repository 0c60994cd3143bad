package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExpressions.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Space-Saving top-k heavy hitters (Metwally et al., "Efficient
  * computation of frequent and top-k elements in data streams") as a
  * `TypedImperativeAggregate` — the bounded-memory alternative to the
  * exact `GROUP BY key ORDER BY count` top-k, whose shuffle carries
  * every distinct key. Here each partial buffer holds at most `capacity`
  * counters, partial aggregation combines map-side, and the merge is
  * the mergeable-summaries construction (Agarwal et al., PODS'12):
  * keys missing from one side are credited that side's implied minimum
  * counter (its possible evicted mass) before truncating back to the
  * `capacity` largest — so the cost at 100 TB is
  * O(partitions × capacity), independent of key cardinality, and the
  * over-estimate guarantee survives multi-partition merges.
  *
  * Guarantees: counts are exact while no counter was ever evicted
  * (cardinality ≤ capacity — the regime q60's oracle checks exactly);
  * under eviction every reported count OVER-estimates the true count by
  * at most its tracked `err` ≤ n/capacity. Deterministic tie-breaking:
  * eviction and output order on the full (count, key) order, never on
  * hash-map iteration order. NOT merge-order invariant under eviction:
  * the implied-min credits reflect each buffer's accumulated state, so
  * in the eviction regime the estimates (not the bounds) can vary with
  * shuffle-fetch order — same property as classical Space-Saving
  * truncation. In the exact regime (no eviction) results are fully
  * run-to-run stable.
  *
  * Output: the k counters largest by (count DESC, key ASC) as an array
  * of (key, n) structs.
  */
case class SpaceSavingTopK(child: Expression, capacity: Int, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[SpaceSavingTopK.Summary] {

  import SpaceSavingTopK.Summary

  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("n", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType if capacity > 0 && k > 0 && k <= capacity =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"space_saving_topk expects (string, 0 < k <= capacity), " +
            s"got ${t.simpleString}, capacity=$capacity, k=$k")
    }

  override def createAggregationBuffer(): Summary = new Summary

  override def update(buf: Summary, input: InternalRow): Summary = {
    val v = child.eval(input)
    if (v != null) {
      val key = v.toString
      val counts = buf.counts
      val cur = counts.get(key)
      if (cur != null) {
        // the eviction index (when live) orders by the mutable count, so
        // the key leaves the set BEFORE the count changes
        if (buf.order != null) { buf.order.remove(key); cur(0) += 1; buf.order.add(key); () }
        else cur(0) += 1
      } else if (counts.size < capacity) {
        counts.put(key, Array(1L, 0L))
        // entering the eviction regime: build the index once; from here
        // on every eviction is O(log capacity), not an O(capacity) scan
        // (measured: the scan made q60 40x for 10x data at sf1, where
        // per-partition key cardinality first exceeds the capacity)
        if (counts.size == capacity) buf.buildOrder()
      } else {
        if (buf.order == null) buf.buildOrder() // merge invalidated it
        // evict the (count, key)-minimal counter: smallest count, ties
        // broken toward the lexicographically LARGEST key — the index
        // comparator encodes exactly this rule, so first() is the victim
        val minKey = buf.order.first()
        val minCount = counts.get(minKey)(0)
        buf.order.remove(minKey)
        counts.remove(minKey)
        counts.put(key, Array(minCount + 1, minCount))
        buf.order.add(key)
      }
    }
    buf
  }

  /** The implied count a summary assigns to keys it does NOT hold: a
    * full summary may have evicted the key after counting it up to the
    * current minimum counter, so missing keys estimate at min; a
    * non-full summary never evicted, so missing keys truly counted 0. */
  private def impliedMin(buf: Summary): Long = {
    if (buf.counts.size < capacity) 0L
    else {
      var m = Long.MaxValue
      val it = buf.counts.values().iterator()
      while (it.hasNext) { val c = it.next()(0); if (c < m) m = c }
      m
    }
  }

  override def merge(b1: Summary, b2: Summary): Summary = {
    // Mergeable-summaries merge (Agarwal et al., PODS'12): each side's
    // estimate for a key it lacks is that side's implied minimum, so a
    // key kept by only one partition still rides the other's possible
    // evicted mass — without this, post-eviction merges can UNDER-count
    // a key the other summary dropped. The compensation also rides the
    // err slot, preserving (count - err) ≤ true ≤ count.
    val m1 = impliedMin(b1)
    val m2 = impliedMin(b2)
    if (m2 > 0) {
      val it1 = b1.counts.entrySet().iterator()
      while (it1.hasNext) {
        val e = it1.next()
        if (!b2.counts.containsKey(e.getKey)) { e.getValue()(0) += m2; e.getValue()(1) += m2 }
      }
    }
    val it = b2.counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val cur = b1.counts.get(e.getKey)
      if (cur != null) { cur(0) += e.getValue()(0); cur(1) += e.getValue()(1) }
      else {
        val arr = e.getValue.clone()
        arr(0) += m1; arr(1) += m1
        b1.counts.put(e.getKey, arr)
      }
    }
    if (b1.counts.size > capacity) {
      val kept = sortedEntries(b1).take(capacity)
      b1.counts.clear()
      kept.foreach { case (key, arr) => b1.counts.put(key, arr) }
    }
    b1.order = null // counts changed wholesale; rebuilt lazily on update
    b1
  }

  private def sortedEntries(buf: Summary): Seq[(String, Array[Long])] = {
    import scala.jdk.CollectionConverters._
    buf.counts.entrySet().asScala.toSeq.map(e => (e.getKey, e.getValue))
      .sortBy { case (key, arr) => (-arr(0), key) }
  }

  override def eval(buf: Summary): Any =
    new GenericArrayData(sortedEntries(buf).take(k).map { case (key, arr) =>
      new GenericInternalRow(Array[Any](UTF8String.fromString(key), arr(0)))
    }.toArray[Any])

  override def serialize(buf: Summary): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.counts.size)
    val it = buf.counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      // Length-prefixed UTF-8, not writeUTF: writeUTF throws for keys
      // whose encoding exceeds 65535 bytes — a real hazard for the
      // registry-exposed general string-key aggregate.
      val kb = e.getKey.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(kb.length); out.write(kb)
      out.writeLong(e.getValue()(0)); out.writeLong(e.getValue()(1))
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Summary = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = createAggregationBuffer()
    val n = in.readInt()
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val kb = new Array[Byte](len)
      in.readFully(kb)
      buf.counts.put(new String(kb, java.nio.charset.StandardCharsets.UTF_8),
        Array(in.readLong(), in.readLong()))
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): SpaceSavingTopK =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): SpaceSavingTopK =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SpaceSavingTopK =
    copy(child = newChildren.head)
}

object SpaceSavingTopK {

  /** Aggregation state: the counter map plus, once the map has filled
    * to `capacity`, a lazily-built ordered eviction index over the LIVE
    * counts — first() is always the (count ASC, key DESC)-minimal
    * counter, i.e. the eviction victim under the documented rule. Index
    * discipline: a key must leave the set BEFORE its count mutates
    * (the comparator reads the mutable count), and any wholesale counts
    * change (merge, deserialize) nulls the index for a lazy rebuild. */
  final class Summary {
    val counts = new java.util.HashMap[String, Array[Long]]()
    var order: java.util.TreeSet[String] = null
    def buildOrder(): Unit = {
      order = new java.util.TreeSet[String](new java.util.Comparator[String] {
        override def compare(a: String, b: String): Int = {
          val ca = counts.get(a)(0); val cb = counts.get(b)(0)
          if (ca != cb) java.lang.Long.compare(ca, cb)
          else b.compareTo(a) // ties: lexicographically LARGEST key first
        }
      })
      order.addAll(counts.keySet())
      ()
    }
  }

  /** Column entry point. */
  def topK(value: Column, capacity: Int, k: Int): Column =
    column(SpaceSavingTopK(expression(value), capacity, k).toAggregateExpression())
}
