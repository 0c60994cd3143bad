package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.ops.EventOps
import graft.pipeline.EventGen
import graft.streaming.StreamingPipeline

/** The ep1_backfill workload: Kinesis-mock records through
  * `StreamingPipeline.startIngestWithCompaction` (decode → dedup → minute
  * staging → per-hour compaction), closed loop, one reference minute
  * (16,700 events) per micro-batch, every batch in one event hour.
  *
  * Records are the reference wire unit (`EventGen.kinesisBatches` →
  * `EventOps.explodeRecordsBatch`, where 5 % of the 100-record wire batches
  * re-append 1–10 copies of their head), plus cross-batch re-sends and
  * corrupt records the benchmark plants from its seed. */
object Ep1 {
  /** The reference's design rate (README: 1 M events/h). */
  val Rate = 278.0
  /** Wire batches in one reference minute: 167 × 100 ≈ 278 ev/s × 60 s. */
  val WirePerMinute = 167
  /** Wire batches of the untimed warm-up micro-batch that opens the hour. */
  val WarmWire = 10
  /** Timed micro-batches per run. The count is fixed, not timed: each batch
    * re-reads a larger hour, so a count that followed the program's speed
    * would change the work measured. */
  val TimedMinutes = 2
  val ResendShare = 0.02
  val CorruptShare = 0.001

  /** One fed unit: records in feed order, with the number of distinct valid
    * events first seen in it and of corrupt records planted in it. */
  final case class Chunk(records: Array[String], events: Int, corrupt: Int)

  /** Hour-aligned event-time origin, moved by the seed so every seed lands
    * in its own event hour. */
  def t0(seed: Long): Double = 1.71e9 + 3600.0 * Math.floorMod(seed, 1000L)

  /** The records of `nWire` consecutive 100-event wire batches, in wire
    * order. */
  def wire(spark: SparkSession, nWire: Int, seed: Long): Array[String] = {
    import spark.implicits._
    val kb = EventGen.kinesisBatches(spark, nWire.toLong * 100, 100, t0(seed), Rate)
    EventOps.explodeRecordsBatch(kb.orderBy("batch_id")).as[String].collect()
  }

  /** Records of the first `WarmWire` wire batches (their copies included). */
  def warmLength(records: Array[String]): Int =
    group(records, WarmWire * 100).head.length

  /** Split wire-ordered records into groups of `perGroup` distinct events;
    * a wire batch's appended copies stay with it. */
  def group(records: Array[String], perGroup: Int): Seq[Array[String]] = {
    val out = mutable.ArrayBuffer[Array[String]]()
    val cur = mutable.ArrayBuffer[String]()
    val seen = mutable.HashSet[String]()
    records.foreach { r =>
      if (!seen(r)) {
        if (seen.size == perGroup) {
          out += cur.toArray; cur.clear(); seen.clear()
        }
        seen += r
      }
      cur += r
    }
    if (cur.nonEmpty) out += cur.toArray
    out.toSeq
  }

  /** A corrupt variant of a valid record: truncated JSON, a payload that is
    * not base64, or base64 of text that is not JSON. Every one must be
    * quarantined by decode. */
  def corrupt(r: String, kind: Int): String = kind % 3 match {
    case 0 => // cut inside the payload string, so no parser can still read it
      val at = r.indexOf("\"data\":\"") + 8
      r.substring(0, at + (r.indexOf('"', at) - at) / 2)
    case 1 => r.replaceFirst("\"data\":\"[^\"]*\"", "\"data\":\"%%not-base64%%\"")
    case _ => r.replaceFirst("\"data\":\"[^\"]*\"", "\"data\":\"" +
      java.util.Base64.getEncoder.encodeToString("{truncated event".getBytes) + "\"")
  }

  /** Closed-loop chunks: each group of wire batches plus ~2 % re-sends of
    * events from the previous three groups and ~0.1 % corrupt records. */
  def chunks(groups: Seq[Array[String]], seed: Long): Seq[Chunk] = {
    val rnd = new java.util.Random(seed * 7919L + 17L)
    groups.indices.map { k =>
      val own = groups(k)
      val events = own.distinct.length
      val pool = groups.slice(math.max(0, k - 3), k).flatten
      val resends =
        if (pool.isEmpty) Array.empty[String]
        else Array.fill(math.round(events * ResendShare).toInt)(
          pool(rnd.nextInt(pool.length)))
      val bad = Array.tabulate(math.max(1, math.round(events * CorruptShare).toInt))(
        i => corrupt(own(rnd.nextInt(own.length)), i))
      val all = own ++ resends ++ bad
      // shuffle: re-sends and corrupt records arrive among fresh ones
      for (i <- all.indices.reverse) {
        val j = rnd.nextInt(i + 1); val t = all(i); all(i) = all(j); all(j) = t
      }
      Chunk(all, events, bad.length)
    }
  }

  /** A running EP1 query over a MemoryStream, with its own directories. */
  final class Pipe(spark: SparkSession, dir: String) {
    val staging = s"$dir/staging"
    val processed = s"$dir/processed"
    private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    private val mem: MemoryStream[String] = MemoryStream[String]
    val query: StreamingQuery = StreamingPipeline.startIngestWithCompaction(
      mem.toDF().select(col("value").as("record")), staging, processed,
      s"$dir/checkpoint", trigger = Trigger.ProcessingTime(0L))
    var eventsFed = 0L
    var corruptFed = 0L
    /** Every record fed, in feed order. */
    val fed = mutable.ArrayBuffer[String]()

    /** Closed-loop step: add one chunk and wait until it is committed. */
    def step(c: Chunk): Double = {
      fed ++= c.records
      val t = System.nanoTime()
      mem.addData(c.records.toSeq)
      query.processAllAvailable()
      eventsFed += c.events; corruptFed += c.corrupt
      (System.nanoTime() - t) / 1e9
    }

    def stop(): Unit = query.stop()
  }

  /** One ep1_backfill run: inputs and an untimed warm-up batch (the hour's
    * first 1,000 events) in set-up, then `TimedMinutes` timed batches. */
  def backfill(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val chunks = ctx.setupSpan("inputs") {
      val recs = wire(spark, WarmWire + TimedMinutes * WirePerMinute, ctx.seed)
      val (warm, rest) = recs.splitAt(warmLength(recs))
      Ep1.chunks(warm +: group(rest, WirePerMinute * 100), ctx.seed)
    }
    val pipe = ctx.setupSpan("start") {
      val p = new Pipe(spark, ctx.dir("ep1"))
      p.step(chunks.head)
      p
    }
    val o = new Outcome
    val lat = mutable.ArrayBuffer[Double]()
    var events = 0L
    try {
      ctx.timed {
        chunks.drop(1).foreach { c =>
          lat += pipe.step(c)
          events += c.events
        }
      }
      o.attempted += lat.size
    } finally pipe.stop()
    val (bytes, files) = treeSize(pipe.staging, pipe.processed)
    val tc = System.nanoTime()
    o.check(3, check(spark, pipe, ctx.seed))
    o.detail("check_s") = (System.nanoTime() - tc) / 1e9
    o.detail("events_per_s") = events / lat.sum
    o.detail("batch_latency_s") = Stats.timing(lat.toSeq)
    o.detail("batch_latencies_s") = lat.toSeq
    o.detail("events_fed") = pipe.eventsFed
    o.detail("storage_bytes_per_event") = bytes.toDouble / pipe.eventsFed
    o.e2e("throughput_per_s") = events / lat.sum
    o.e2e("latency_p50_s") = Stats.median(lat.toSeq)
    o.e2e("latency_tail_s") = Stats.tail(lat.toSeq)._2
    o.e2e("storage_bytes_per_item") = bytes.toDouble / pipe.eventsFed
    o.e2e("recall") = if (o.failed == 0) 1.0 else 0.0
    o.query = Some(pipe.query.id)
    o.storageFiles = files.toDouble
    o.records = pipe.fed.toSeq
    o
  }

  /** The output checks; returns the failed checks (empty when all hold). */
  def check(spark: SparkSession, p: Pipe, seed: Long): Seq[String] = {
    val fails = mutable.ArrayBuffer[String]()
    val out = spark.read.parquet(p.processed)
      .select(col("event_uuid"), col("language_id"))
    val exp = EventGen.events(spark, p.eventsFed, t0(seed), Rate)
      .select(col("event_uuid"),
        col("event_specifics.language_id").cast("string").as("language_id"))
    // exactly one processed row per fed event, and none other
    val keys = out.groupBy("event_uuid").agg(count(lit(1)).as("n"))
      .join(exp.select(col("event_uuid"), lit(true).as("fed")), Seq("event_uuid"),
        "full_outer")
      .agg(sum(when(col("n").isNull, 1L).otherwise(0L)),
        sum(when(col("fed").isNull, 1L).otherwise(0L)),
        sum(when(col("n") > 1, col("n") - 1).otherwise(0L)))
      .head()
    val (missing, unfed, dups) = (keys.getLong(0), keys.getLong(1), keys.getLong(2))
    if (missing + unfed + dups != 0)
      fails += s"processed output vs ${p.eventsFed} events fed: $missing missing, " +
        s"$unfed never fed, $dups duplicate rows"
    // per-language counts against the generator's own events
    val byLang = out.select(col("language_id"), lit(1L).as("got"), lit(0L).as("want"))
      .unionByName(exp.select(col("language_id"), lit(0L).as("got"), lit(1L).as("want")))
      .groupBy("language_id").agg(sum("got"), sum("want")).collect()
      .filter(r => r.getLong(1) != r.getLong(2))
    if (byLang.nonEmpty) fails += s"per-language counts differ: ${byLang.mkString(", ")}"
    // decode must quarantine exactly the corrupt records planted
    val kept = StreamingPipeline.decodeRecords(
      spark.createDataset(p.fed.toSeq)(org.apache.spark.sql.Encoders.STRING)
        .toDF("record")).count()
    if (p.fed.size - kept != p.corruptFed)
      fails += s"decode quarantined ${p.fed.size - kept} of ${p.fed.size} records, " +
        s"${p.corruptFed} planted corrupt"
    fails.toSeq
  }

  /** Bytes of every file under `dirs`, and their count. */
  def treeSize(dirs: String*): (Long, Long) = {
    var bytes = 0L; var files = 0L
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(walk))
      else if (f.isFile) { bytes += f.length; files += 1 }
    dirs.foreach(d => walk(new java.io.File(d)))
    (bytes, files)
  }
}
