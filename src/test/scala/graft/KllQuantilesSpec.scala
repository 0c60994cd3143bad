package graft

import graft.functions.KllQuantiles
import org.apache.spark.sql.functions._

class KllQuantilesSpec extends SparkSpecBase {

  private val qs = Seq(0.25, 0.5, 0.75, 0.9, 0.99)

  private def estimates(values: Seq[Double], capacity: Int,
      partitions: Int): Seq[Double] = {
    import spark.implicits._
    values.toDF("v").repartition(partitions)
      .agg(KllQuantiles.quantiles(col("v"), capacity, qs).as("est"))
      .collect().head.getSeq[Double](0)
  }

  test("exact regime: below capacity the sketch IS the sorted level") {
    val values = (1 to 100).map(_.toDouble)
    val est = estimates(values, capacity = 256, partitions = 1)
    // rank lower bound: smallest value with cum weight >= ceil(q*n)
    assert(est == qs.map(q => math.max(1, math.ceil(q * 100).toInt).toDouble))
  }

  test("compacted regime: rank error stays within eps*n across " +
    "partition counts") {
    // deterministic but shuffled-looking input: multiplicative ordering
    val n = 20000
    val values = (0 until n).map(i => ((i * 48271L) % 100003L).toDouble)
    val sortedV = values.sorted
    for (parts <- Seq(1, 7, 32)) {
      val est = estimates(values, capacity = 128, partitions = parts)
      qs.zip(est).foreach { case (q, e) =>
        val nle = sortedV.count(_ <= e)
        val nlt = sortedV.count(_ < e)
        val eps = 0.08 * n
        assert(nle >= q * n - eps && nlt <= q * n + eps,
          s"q=$q est=$e nle=$nle nlt=$nlt parts=$parts")
      }
    }
  }

  test("estimates are actual data values, duplicates handled") {
    val values = Seq.fill(5000)(7.0) ++ Seq.fill(5000)(9.0)
    val est = estimates(values, capacity = 64, partitions = 8)
    assert(est.forall(e => e == 7.0 || e == 9.0))
    assert(est.last == 9.0) // q99 must land in the upper half
    assert(est.head == 7.0) // q25 must land in the lower half
  }

  test("nulls are skipped, empty input yields NaN") {
    import spark.implicits._
    val est = Seq[Option[Double]](None, Some(3.0), None).toDF("v")
      .agg(KllQuantiles.quantiles(col("v"), 64, Seq(0.5)))
      .collect().head.getSeq[Double](0)
    assert(est == Seq(3.0))
    val empty = Seq.empty[Double].toDF("v")
      .agg(KllQuantiles.quantiles(col("v"), 64, Seq(0.5)))
      .collect().head.getSeq[Double](0)
    assert(empty.head.isNaN)
  }

  test("serde roundtrip preserves the summary exactly") {
    val agg = KllQuantiles(org.apache.spark.sql.catalyst.expressions.Literal(1.0),
      capacity = 16, quantiles = qs)
    val buf = agg.createAggregationBuffer()
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
    (0 until 1000).foreach { i =>
      row.update(0, ((i * 31L) % 997L).toDouble)
      agg.update(buf, row)
    }
    val back = agg.deserialize(agg.serialize(buf))
    assert(back.n == buf.n)
    assert(back.levels.map(_.toSeq) == buf.levels.map(_.toSeq))
    assert(back.parity.toSeq == buf.parity.toSeq)
    assert(agg.eval(back) != null)
  }

  test("update() keeps every level under capacity — the " +
    "O(capacity*log(n/capacity)) partial-buffer bound") {
    // regression (round-14 ADVICE high): update() used to compact only
    // level 0, so level 1 grew to ~n/2 items per partition — an O(n)
    // partial buffer and shuffle payload. The cascade must hold the
    // bound for a single buffer fed n rows with NO merge() involved.
    val cap = 32
    val agg = KllQuantiles(
      org.apache.spark.sql.catalyst.expressions.BoundReference(0,
        org.apache.spark.sql.types.DoubleType, nullable = false),
      capacity = cap, quantiles = Seq(0.5))
    val buf = agg.createAggregationBuffer()
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
    val n = 100000
    (0 until n).foreach { i =>
      row.update(0, ((i * 48271L) % 100003L).toDouble)
      agg.update(buf, row)
    }
    buf.levels.zipWithIndex.foreach { case (lv, i) =>
      assert(lv.length < cap, s"level $i holds ${lv.length} >= $cap items")
    }
    val totalItems = buf.levels.map(_.length).sum
    val bound = cap * (64 - java.lang.Long.numberOfLeadingZeros(n.toLong / cap) + 2)
    assert(totalItems <= bound, s"$totalItems items exceeds bound $bound")
    assert(buf.levels.length <= 64 - java.lang.Long.numberOfLeadingZeros(n.toLong / cap) + 2)
    // serialized partial stays small — the shuffle-carries-sketches contract
    assert(agg.serialize(buf).length < 64 * 1024,
      s"serialized partial is ${agg.serialize(buf).length} bytes")
    // and the estimate is still within the rank error bound
    val est = agg.eval(buf)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toDoubleArray()(0)
    val sortedV = (0 until n).map(i => ((i * 48271L) % 100003L).toDouble).sorted
    val nle = sortedV.count(_ <= est)
    assert(math.abs(nle - 0.5 * n) <= 0.12 * n, s"median est $est nle=$nle")
  }

  test("partial aggregation really happens map-side (two KLL stages)") {
    import spark.implicits._
    val df = (1 to 1000).map(i => (i % 5, i.toDouble)).toDF("g", "v")
      .repartition(8)
      .groupBy(col("g"))
      .agg(KllQuantiles.quantiles(col("v"), 64, Seq(0.5)).as("est"))
    val plan = df.queryExecution.executedPlan.toString
    assert("ObjectHashAggregate".r.findAllIn(plan).length >= 2, plan)
    assert(df.collect().length == 5)
  }
}
