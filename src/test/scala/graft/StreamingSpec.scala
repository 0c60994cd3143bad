package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.pipeline.EventGen
import graft.streaming.StreamingPipeline

/** Streaming parity (reference EP1: per-record Lambda + process-lifetime
  * Redis dedup set), driven synchronously through MemoryStream. */
class StreamingSpec extends SparkSpecBase {
  import spark.implicits._

  private def envelopedStrings(n: Long): Seq[String] =
    EventGen.enveloped(EventGen.events(spark, n)).as[String].collect().toSeq

  test("unbounded dedup (reference parity): within- and cross-batch " +
    "duplicates are dropped, enrichment lands") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[String]
    val out = StreamingPipeline.pipeline(
      mem.toDF().select($"value".as("record")), watermark = None)
    val q = out.writeStream.format("memory").queryName("stream_out")
      .outputMode("append").start()
    try {
      val batch = envelopedStrings(100)
      mem.addData(batch ++ batch.take(10)) // within-batch dups
      q.processAllAvailable()
      assert(spark.table("stream_out").count() === 100)

      mem.addData(batch.take(20)) // cross-batch dups (Redis-set semantics)
      q.processAllAvailable()
      assert(spark.table("stream_out").count() === 100)

      val cols = spark.table("stream_out").columns.toSet
      assert(Set("event_uuid", "event_type", "event_subtype",
        "created_datetime", "ts").subsetOf(cols))
      // 3-part payment names split per reference semantics
      val pay = spark.table("stream_out")
        .where($"event_name" === "payment:order:completed")
      assert(pay.isEmpty ||
        pay.select("event_subtype").distinct().as[String].head() == "order")
    } finally q.stop()
  }

  test("corrupt records are quarantined by the streaming decode, not " +
    "staged as null rows and not fatal") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[String]
    val out = StreamingPipeline.pipeline(
      mem.toDF().select($"value".as("record")), watermark = None)
    val q = out.writeStream.format("memory").queryName("quarantine_out")
      .outputMode("append").start()
    try {
      val good = envelopedStrings(30)
      mem.addData(good ++ Seq(
        "not json", """{"kinesis":{"data":"!!!bad-b64!!!"}}""",
        """{"kinesis":{"data":"bm90IGpzb24="}}"""))
      q.processAllAvailable()
      assert(spark.table("quarantine_out").count() === 30)
      assert(spark.table("quarantine_out")
        .where($"event_uuid".isNull).count() === 0)
    } finally q.stop()
  }

  test("watermarked dedup (scale posture) drops in-window duplicates") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[String]
    val out = StreamingPipeline.pipeline(
      mem.toDF().select($"value".as("record")),
      watermark = Some("10 minutes"))
    val q = out.writeStream.format("memory").queryName("wm_out")
      .outputMode("append").start()
    try {
      val batch = envelopedStrings(50)
      mem.addData(batch ++ batch) // exact duplicates, same event time
      q.processAllAvailable()
      assert(spark.table("wm_out").count() === 50)
    } finally q.stop()
  }

  test("foreachBatch orchestration: staging + per-hour compaction per " +
    "micro-batch (EP1 loop parity)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val staging = tmpDir("orch_staging")
    val processed = tmpDir("orch_processed")
    val ckpt = tmpDir("orch_ckpt")
    val mem = MemoryStream[String]
    val q = StreamingPipeline.startIngestWithCompaction(
      mem.toDF().select($"value".as("record")), staging, processed, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
    try {
      val batch = envelopedStrings(300)
      mem.addData(batch ++ batch.take(30)) // with duplicates
      q.processAllAvailable()
      // staged NDJSON exists, minute-partitioned
      val stagedN = spark.read
        .schema(graft.model.EventModel.stagedEventSchema)
        .json(staging).count()
      assert(stagedN === 300) // streaming dedup upstream of staging
      // compacted parquet for the touched hour, language-partitioned
      val hourDir = new java.io.File(
        s"$processed/year=2024/month=03/day=09/hour=16")
      assert(hourDir.isDirectory)
      assert(spark.read.parquet(hourDir.toString).count() === 300)

      mem.addData(batch.take(50)) // replayed events, second micro-batch
      q.processAllAvailable()
      assert(spark.read.parquet(hourDir.toString).count() === 300,
        "cross-batch dedup + idempotent re-compaction must hold")
    } finally q.stop()
  }

  test("an EP1 data micro-batch runs at most 3 Spark jobs, and a " +
    "re-delivered duplicate batch leaves the pipeline counters unchanged") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val staging = tmpDir("jobs_staging")
    val processed = tmpDir("jobs_processed")
    val ckpt = tmpDir("jobs_ckpt")
    val batch = envelopedStrings(300)
    // an earlier delivery of the first 40 events already sits in staging,
    // unseen by this query's dedup state: the hour's compaction finds them
    // twice
    graft.pipeline.BatchPipeline.stageEvents(
      StreamingPipeline.decodeRecords(batch.take(40).toDF("record"))
        .drop("event_type", "event_subtype", "created_datetime"),
      staging, ts = $"ts")

    val metrics = new graft.pipeline.Metrics
    val progress = metrics.streamingListener()
    val mem = MemoryStream[String]
    val q = StreamingPipeline.startIngestWithCompaction(
      mem.toDF().select($"value".as("record")), staging, processed, ckpt,
      metrics, trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    val listener = new BatchJobs(q.id.toString)
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(progress)
    try {
      mem.addData(batch ++ batch.take(30)) // in-batch duplicates
      q.processAllAvailable()
      drainListenerBus()
      // 40 keys staged twice; 300 rows out of the stream + the 300 rows the
      // hour now holds (the stream's observation sees each row once: no
      // probe pass over the batch adds to it)
      assert(metrics.batchDuplicates.get === 40L)
      assert(metrics.ingestedEvents.get === 600L)
      assert(q.recentProgress.filter(_.numInputRows > 0).map(
        _.observedMetrics.get("cw").getAs[Long]("n_rows")).toSeq === Seq(300L))

      mem.addData(batch.take(50)) // re-delivered: the dedup state drops all
      q.processAllAvailable()
      drainListenerBus()
      assert(metrics.batchDuplicates.get === 40L)
      assert(metrics.ingestedEvents.get === 600L)
      val hourDir = s"$processed/year=2024/month=03/day=09/hour=16"
      assert(spark.read.parquet(hourDir).count() === 300L)

      val dataBatches = q.recentProgress.filter(_.numInputRows > 0).map(_.batchId)
      assert(dataBatches.length === 2)
      val perBatch = dataBatches.map(b => b -> listener.of(b)).toMap
      assert(perBatch(dataBatches.head) > 0, s"no jobs seen: $perBatch")
      assert(perBatch.values.forall(_ <= 3), s"jobs per data micro-batch: $perBatch")
    } finally {
      q.stop()
      spark.streams.removeListener(progress)
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  /** Spark jobs per micro-batch of one streaming query, from the batch id
    * Spark stamps on every job a micro-batch runs. */
  private class BatchJobs(queryId: String)
      extends org.apache.spark.scheduler.SparkListener {
    private val jobs = new java.util.concurrent.ConcurrentHashMap[Long, Int]()
    override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      Option(e.properties).filter(p =>
        p.getProperty("sql.streaming.queryId") == queryId)
        .flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
        .foreach(b => jobs.merge(b.toLong, 1, _ + _))
    def of(batchId: Long): Int = jobs.getOrDefault(batchId, 0)
  }

  /** Wait until every event posted so far has reached the listeners. */
  private def drainListenerBus(): Unit = {
    val bus = spark.sparkContext.getClass.getMethod("listenerBus")
      .invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  test("late data beyond the watermark is dropped AND observable via " +
    "numRowsDroppedByWatermark (silent loss is not acceptable at scale)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, java.sql.Timestamp)]
    def ts(min: Int) = new java.sql.Timestamp(1710000000000L + min * 60000L)
    val agg = mem.toDF().toDF("k", "ts")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "5 minutes"), $"k").count()
    val q = agg.writeStream.format("memory").queryName("late_out")
      .outputMode("append").start()
    try {
      mem.addData(("a", ts(0)), ("a", ts(60)))
      q.processAllAvailable() // watermark -> ts(50)
      mem.addData(("late", ts(20))) // 30 min behind the watermark
      q.processAllAvailable()
      mem.addData(("b", ts(61)))
      q.processAllAvailable()
      val dropped = q.lastProgress.stateOperators
        .map(_.numRowsDroppedByWatermark).sum
      val allProgress = q.recentProgress
        .flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
      assert(allProgress >= 1,
        s"late row must be counted as dropped (lastBatch=$dropped, total=$allProgress)")
      // and it never reaches the sink
      assert(spark.table("late_out").where($"k" === "late").isEmpty)
    } finally q.stop()
  }

  test("exactly-once across restart: a NEW query on the same checkpoint " +
    "resumes source offsets AND dedup state (reference loses its Redis " +
    "set on process death; the checkpoint does not)") {
    val srcDir = tmpDir("restart_src")
    val ckpt = tmpDir("restart_ckpt")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("record",
        org.apache.spark.sql.types.StringType)))
    // simple NDJSON writer (one {"record": "..."} per line, JSON-escaped)
    def jstr(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c => c.toString
    } + "\""
    def writeFile(name: String, records: Seq[String]): Unit = {
      import java.nio.file.{Files, Paths}
      Files.write(Paths.get(srcDir, name),
        records.map(r => s"""{"record":${jstr(r)}}""").mkString("\n").getBytes)
      ()
    }
    val all = envelopedStrings(120)
    val (first, second) = all.splitAt(60)
    val outDir = tmpDir("restart_out")

    // the memory sink cannot recover from a checkpoint; the FILE sink is
    // the restartable one (exactly the production shape)
    def startQuery() = {
      val src = spark.readStream.schema(schema).json(srcDir)
      StreamingPipeline.pipeline(src, watermark = None)
        .select("event_uuid", "event_type", "ts")
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    }

    writeFile("a.json", first)
    val q1 = startQuery()
    try { q1.processAllAvailable() } finally q1.stop()
    assert(spark.read.parquet(outDir).count() === 60)

    // second feed replays 20 already-seen records + 60 new ones; the
    // restarted query (a NEW StreamingQuery object on the same
    // checkpoint) must resume source offsets (not re-read a.json) and
    // drop the replays from RESTORED dedup state
    writeFile("b.json", first.take(20) ++ second)
    val q2 = startQuery()
    try { q2.processAllAvailable() } finally q2.stop()
    val out = spark.read.parquet(outDir)
    assert(out.count() === 120,
      "restart must emit exactly the 60 new events once")
    assert(out.select("event_uuid").distinct().count() === 120,
      "no event may be duplicated across the restart boundary")
  }

  test("near-dup ingest loop (startNearDupIngest): per-micro-batch LSH " +
    "probe+append matches the sequential operator batch by batch, and the " +
    "stream-maintained index equals the sequentially maintained one") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.ops.LshIndex
    def docsDf(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
    val base = docsDf(Seq(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "completely different text about spark engines here"))
    val streamIdx = tmpDir("nd_stream_idx")
    val seqIdx = tmpDir("nd_seq_idx")
    val pairsDir = tmpDir("nd_pairs")
    LshIndex.build(base, streamIdx)
    LshIndex.build(base, seqIdx)
    val b1 = Seq(
      10L -> "the quick brown fox jumps over the lazy dog today",
      11L -> "totally unrelated fresh content never seen before")
    val b2 = Seq(
      20L -> "the quick brown fox jumps over the lazy dog today!",
      21L -> "totally unrelated fresh content never seen before!!")
    val mem = MemoryStream[(Long, String)]
    val q = StreamingPipeline.startNearDupIngest(
      mem.toDS().toDF("doc_id", "text"), streamIdx, pairsDir,
      tmpDir("nd_ckpt"),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    // sequential reference: identical batches through probeAndAppend
    val exp1 = LshIndex.probeAndAppend(spark, seqIdx, docsDf(b1)).collect().toSet
    val exp2 = LshIndex.probeAndAppend(spark, seqIdx, docsDf(b2)).collect().toSet
    assert(exp1.nonEmpty && exp2.nonEmpty, "fixture must produce pairs")
    val log = spark.read.parquet(pairsDir)
    def batchPairs(id: Long) = log.where($"batch_id" === id)
      .drop("batch_id").collect().toSet
    assert(batchPairs(0L) === exp1)
    assert(batchPairs(1L) === exp2)
    // index parity: stream- and sequentially-maintained indexes converge
    def bands(p: String) = spark.read.parquet(s"$p/bands")
      .select($"band", $"key", $"doc_id", $"pk")
      .as[(Int, String, Long, Int)].collect().toSet
    def sigs(p: String) = spark.read.parquet(s"$p/sigs")
      .select($"doc_id", array_sort($"sh"), $"pk")
      .as[(Long, Seq[String], Int)].collect().toSet
    assert(bands(streamIdx) === bands(seqIdx))
    assert(sigs(streamIdx) === sigs(seqIdx))
  }

  /** Spark jobs of data micro-batches 1 and 2 of an index ingest over an
    * index `build` at a fresh path, started by `start(input, indexPath,
    * compactEvery = Some(3))` over three text batches: batch 0 warms up,
    * batch 1 probes, logs and appends, batch 2 also fires the lag-1 fold,
    * which must leave `table` (under the index) with only `base` and
    * `b2`. */
  private def indexIngestJobs(build: String => Unit, table: String,
      start: (org.apache.spark.sql.DataFrame, String, Option[Int]) =>
        org.apache.spark.sql.streaming.StreamingQuery): (Int, Int) = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val idx = tmpDir("idxjobs_idx")
    build(idx)
    val mem = MemoryStream[(Long, String)]
    val q = start(mem.toDS().toDF("doc_id", "text"), idx, Some(3))
    val listener = new BatchJobs(q.id.toString)
    spark.sparkContext.addSparkListener(listener)
    try {
      Seq(
        Seq(10L -> "the quick brown fox jumps over the lazy dog today",
          11L -> "totally unrelated fresh content never seen before!"),
        Seq(20L -> "the quick brown fox jumps over the lazy dog today!",
          21L -> "completely different text about spark engines here too"),
        Seq(30L -> "totally unrelated fresh content never seen before!!",
          31L -> "completely different text about spark engines there"))
        .foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      drainListenerBus()
      val gens = spark.read.parquet(s"$idx/$table").select($"gen".cast("string"))
        .distinct().as[String].collect().toSet
      assert(gens === Set("base", "b2"), s"the fold did not run: $gens")
      (listener.of(1L), listener.of(2L))
    } finally {
      q.stop()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  private val ingestBase = Seq(
    1L -> "the quick brown fox jumps over the lazy dog",
    2L -> "completely different text about spark engines here",
    3L -> "totally unrelated fresh content never seen before").toDF("doc_id", "text")

  private val trigger0 = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)

  // (family, plain-batch cap, fold-batch cap, build, folded table, start):
  // the caps are the counts measured when they were set, so a change that
  // adds a job to a family's per-batch path fails here
  Seq[(String, Int, Int, String => Unit, String,
      (org.apache.spark.sql.DataFrame, String, Option[Int]) =>
        org.apache.spark.sql.streaming.StreamingQuery)](
    ("near-dup", 21, 27, graft.ops.LshIndex.build(ingestBase, _), "bands",
      (in, idx, every) => StreamingPipeline.startNearDupIngest(in, idx,
        tmpDir("ndjobs_pairs"), tmpDir("ndjobs_ckpt"), trigger = trigger0,
        compactEvery = every)),
    ("SimHash", 13, 16, graft.ops.SimHashIndex.build(ingestBase, _), "bands",
      (in, idx, every) => StreamingPipeline.startSimHashIngest(in, idx,
        tmpDir("shjobs_pairs"), tmpDir("shjobs_ckpt"), trigger = trigger0,
        compactEvery = every)),
    ("BM25", 27, 38, graft.ops.InvertedIndex.build(ingestBase, _), "postings",
      (in, idx, every) => StreamingPipeline.startBm25Ingest(in, idx,
        tmpDir("bm25jobs_matches"), tmpDir("bm25jobs_ckpt"), trigger = trigger0,
        compactEvery = every))
  ).foreach { case (family, plainCap, foldCap, build, table, start) =>
    test(s"a $family ingest data micro-batch runs at most $plainCap Spark jobs, " +
      s"and at most $foldCap when it also fires the lag-1 fold") {
      val (plain, fold) = indexIngestJobs(build, table, start)
      assert(plain <= plainCap, s"batch 1 ran $plain jobs")
      assert(fold <= foldCap, s"batch 2 ran $fold jobs")
    }
  }

  test("compactEvery must be positive: a non-positive cadence fails at " +
    "start instead of silently never folding") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val idx = tmpDir("nd_cadence_idx")
    graft.ops.LshIndex.build(
      Seq(1L -> "the quick brown fox").toDF("doc_id", "text"), idx)
    Seq(0, -1).foreach { n =>
      val e = intercept[IllegalArgumentException] {
        StreamingPipeline.startNearDupIngest(
          MemoryStream[(Long, String)].toDS().toDF("doc_id", "text"), idx,
          tmpDir("nd_cadence_pairs"), tmpDir("nd_cadence_ckpt"),
          compactEvery = Some(n))
      }
      assert(e.getMessage.contains("compactEvery"), e.getMessage)
    }
  }

  test("RocksDB bounded-memory posture: watermarked windowed agg runs " +
    "correctly under boundedMemoryUsage with a small cap") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val confs = Map(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      // cap ALL RocksDB state memory (block cache + memtables across
      // stores) to one small shared budget — the posture that keeps a
      // 1000-executor stream's state from eating executor heaps
      "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage" -> "true",
      "spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB" -> "64",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")
    val old = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val mem = MemoryStream[(Long, java.sql.Timestamp)]
      def ts(min: Int) = new java.sql.Timestamp(1710000000000L + min * 60000L)
      val agg = mem.toDF().toDF("user_id", "ts")
        .withWatermark("ts", "10 minutes")
        .groupBy(window($"ts", "5 minutes"), $"user_id").count()
      val q = agg.writeStream.format("memory").queryName("rocksdb_bounded")
        .option("checkpointLocation", tmpDir("rb_ckpt"))
        .outputMode("append").start()
      try {
        mem.addData((0 until 200).map(i => (i.toLong % 20, ts(i % 10))): _*)
        q.processAllAvailable()
        mem.addData((1L, ts(120))) // advance watermark, flush windows
        q.processAllAvailable()
        assert(spark.table("rocksdb_bounded").count() > 0)
        // the run actually used RocksDB state (not a silent fallback)
        val usedRocks = q.recentProgress.flatMap(_.stateOperators)
          .exists(so => Option(so.customMetrics)
            .exists(m => m.keySet().toString.contains("rocksdb")))
        assert(usedRocks, "state operator metrics carry no rocksdb counters")
      } finally q.stop()
    } finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("stream-stream interval join: purchase joins clicks within the " +
    "preceding hour, watermarked state on both sides") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions.expr
    val clicks = MemoryStream[(Long, java.sql.Timestamp)]
    val purchases = MemoryStream[(Long, java.sql.Timestamp)]
    def ts(min: Int) = new java.sql.Timestamp(1710000000000L + min * 60000L)

    val c = clicks.toDF().toDF("user_id", "click_ts")
      .withWatermark("click_ts", "2 hours")
    val p = purchases.toDF().toDF("p_user_id", "purchase_ts")
      .withWatermark("purchase_ts", "2 hours")
    val joined = p.join(c,
      expr("""user_id = p_user_id AND
              click_ts <= purchase_ts AND
              click_ts >= purchase_ts - INTERVAL 1 HOUR"""))
    val q = joined.writeStream.format("memory").queryName("ss_join")
      .outputMode("append").start()
    try {
      clicks.addData((1L, ts(0)), (1L, ts(30)), (2L, ts(0)))
      purchases.addData((1L, ts(45)), (2L, ts(90)))
      q.processAllAvailable()
      val got = spark.table("ss_join")
        .select("user_id", "click_ts", "purchase_ts").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2))).toSet
      // user 1: both clicks within the hour before ts(45);
      // user 2: click at ts(0) is OUTSIDE [ts(30), ts(90)] - excluded
      assert(got === Set(
        (1L, ts(0), ts(45)),
        (1L, ts(30), ts(45))))
    } finally q.stop()
  }
}
