package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.sources.Tables

/** A typed event row for the MemoryStream feed (mirror of the events
  * table's query columns; `props` omitted — none of the streaming duals
  * read it). */
case class StreamEvent(event_id: Long, ts: java.sql.Timestamp,
    user_id: Long, event_type: String, value: Double)

/** STREAMING-PATH oracle queries (SURVEY.md §2 rows 6/21 + Part B
  * streaming categories; reference EP1 run_toy_example.py:21-49).
  *
  * The reference IS a stream processor, so its semantics must be verified
  * on the streaming engine, not only on batch duals. Each query here
  * executes a REAL Structured Streaming query — MemoryStream source fed
  * in several micro-batches (event-time order, like the live 60 s-cadence
  * ingest), event-time watermark, stateful operator, memory sink — then
  * returns the sink's contents for the driver's DuckDB hash-compare
  * against a plain batch SQL oracle.
  *
  * MemoryStream is necessarily driver-fed: that is the cost of putting
  * the streaming engine itself under the oracle, and it is bounded to the
  * correctness scale factors. The production ingest path stays
  * distributed (file / rate sources + partitioned sinks,
  * graft.streaming.StreamingPipeline).
  *
  * Why the oracles are exact:
  *  - q48 (watermarked dedup): duplicates are EXACT COPIES of earlier
  *    records (the reference's duplicate model, producer.py:142-167)
  *    keyed on the unique event_id. `dropDuplicatesWithinWatermark`
  *    emits a row iff it is not late AND not in state; state lives
  *    until watermark > ts + delay, and a copy sharing that ts is late
  *    exactly when the state has expired — so every event_id emits
  *    exactly once for ANY positive delay. Result ≡ the original table.
  *  - q49/q50 (sliding / session windows, append mode): windows emit
  *    once the watermark passes their end, so after the in-order feed,
  *    two sentinel batches 3 h past max(ts) advance the watermark far
  *    enough to flush every real window. The sentinels' own windows end
  *    AFTER the final watermark and can never emit (q50 filters the
  *    sentinel user as belt and braces), so the sink holds exactly the
  *    batch-dual result (q32/q31's gaps-and-islands SQL).
  */
object StreamQueries {

  private val TS_S = "yyyy-MM-dd HH:mm:ss"
  private val TS_US = "yyyy-MM-dd HH:mm:ss.SSSSSS"
  /** Micro-batch count: 3 keeps every cross-batch behavior under test
    * (state carried over ≥2 boundaries, watermark advanced ≥2 times,
    * cross-batch duplicates/joins/session merges) at 3/4 of the
    * fixed per-batch harness cost of the earlier 4. */
  private val CHUNKS = 3
  private val SENTINEL_USER = -1L

  /** State partitions for the harness streams. A stateful query pays a
    * fixed per-micro-batch cost PER STATE PARTITION (store load + delta
    * commit), so the harness sizes state to its data (a few micro-batches
    * of a small-SF table), not to the session's scan parallelism — at
    * 32 shuffle partitions the three queries spent ~20 s each on state
    * file churn. Production streams inherit the session setting, where
    * many state partitions is exactly right. */
  private val STATE_PARTITIONS = "4"

  /** Checkpoints for the harness streams go to tmpfs when available:
    * state-store deltas + offset/commit logs are many tiny fsync-heavy
    * files, and disk-backed /tmp makes the fixed harness cost noisy
    * (observed ±50% run-to-run). Production checkpoints of course go to
    * durable storage — this is a measurement-harness choice only.
    * Placement policy is shared with every other scratch consumer via
    * [[graft.ops.Scratch]]. */
  private def newCheckpointDir(): java.io.File =
    new java.io.File(graft.ops.Scratch.tempDir("graft_ckpt_"))

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(); ()
  }

  /** Start `df` into a fresh memory sink with tmpfs checkpointing and the
    * harness state-partition count; runs `drive`, then cleans up. Returns
    * the sink's rows re-homed into a LOCAL relation: the sink data is
    * already driver-resident by construction, so this adds no memory —
    * but dropping the sink's temp view means repeated runs (best-of-N
    * bench) don't pin one full sink copy per run for the session
    * lifetime. */
  private[queries] def runToMemorySink(spark: SparkSession, df: DataFrame)(
      drive: org.apache.spark.sql.streaming.StreamingQuery => Unit): DataFrame = {
    val name = "graft_stream_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val ckpt = newCheckpointDir()
    // The stream captures its state-partition count from the session conf
    // when its first micro-batch is constructed (on the stream thread), so
    // these settings must hold across the whole synchronous drive loop;
    // each is restored (or unset, when it was not explicitly set: a conf
    // entry's getOption reports its default) before returning. Queries run
    // sequentially through Verify/Bench, so the mutation window cannot
    // leak into another plan.
    //  - The oracles run on the PRODUCTION state store (RocksDB, off-heap,
    //    the backend a 100 TB stream's state actually lives in), not the
    //    default in-memory HDFS-backed provider — state encoding and
    //    store semantics are part of what the hash-compare certifies.
    //  - Changelog checkpointing: commit appends a per-batch changelog
    //    instead of uploading a full RocksDB snapshot every micro-batch —
    //    the production posture for frequent small commits, and it halves
    //    the fixed per-batch harness cost here.
    val scoped = Seq(
      "spark.sql.shuffle.partitions" -> STATE_PARTITIONS,
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")
    val explicit = spark.conf.getAll
    val saved = scoped.map { case (k, _) => k -> explicit.get(k) }
    try {
      scoped.foreach { case (k, v) => spark.conf.set(k, v) }
      val q = df.writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt.getAbsolutePath)
        .outputMode("append").start()
      try drive(q) finally q.stop()
      val sink = spark.table(name)
      spark.createDataFrame(
        java.util.Arrays.asList(sink.collect(): _*), sink.schema)
    } finally {
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      // Drop in the OUTER finally so a failed drive() also releases the
      // sink's driver-resident rows — otherwise each failed best-of-N
      // run pins a full sink copy for the session lifetime.
      if (spark.catalog.tableExists(name)) spark.catalog.dropTempView(name)
      deleteRecursively(ckpt)
    }
  }

  /** Events in event-time order, split into micro-batch chunks. */
  private def chunkedEvents(spark: SparkSession, dir: String): Array[Array[StreamEvent]] = {
    import spark.implicits._
    val rows = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[StreamEvent]
      .collect()
      .sortBy(e => (e.ts.getTime, e.event_id))
    val per = math.max(1, math.ceil(rows.length.toDouble / CHUNKS).toInt)
    rows.grouped(per).toArray
  }

  /** Run `transform` over a MemoryStream fed chunk-by-chunk (one
    * processAllAvailable per addData → real micro-batch boundaries, real
    * cross-batch state), then return the memory sink's table.
    * `extraPerChunk(i)` lets callers inject per-batch rows (duplicates /
    * sentinels). */
  private def runStream(spark: SparkSession, chunks: Array[Array[StreamEvent]],
      transform: DataFrame => DataFrame,
      extraPerChunk: Int => Seq[StreamEvent] = _ => Nil,
      sentinels: Seq[StreamEvent] = Nil): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[StreamEvent]
    runToMemorySink(spark, transform(mem.toDF())) { q =>
      chunks.zipWithIndex.foreach { case (chunk, i) =>
        mem.addData(chunk.toSeq ++ extraPerChunk(i))
        q.processAllAvailable()
      }
      // Each sentinel is its own micro-batch: batch N's emission uses the
      // watermark derived from batch N-1, so flushing the final windows
      // takes two watermark advances past the data's horizon.
      sentinels.foreach { s =>
        mem.addData(s)
        q.processAllAvailable()
      }
    }
  }

  private def tsPlus(t: java.sql.Timestamp, millis: Long) =
    new java.sql.Timestamp(t.getTime + millis)

  private def sentinelsAfter(chunks: Array[Array[StreamEvent]]): Seq[StreamEvent] = {
    val maxTs = chunks.last.last.ts
    Seq(
      StreamEvent(-1L, tsPlus(maxTs, 3L * 3600 * 1000), SENTINEL_USER, "sentinel", 0.0),
      StreamEvent(-2L, tsPlus(maxTs, 3L * 3600 * 1000 + 60 * 1000), SENTINEL_USER, "sentinel", 0.0))
  }

  // ------------------------------------------------------------------ q48
  /** Watermarked streaming dedup (StreamingPipeline's SCALE mode, bounded
    * state) under the driver oracle. Duplicate model: each micro-batch
    * replays exact copies of a slice of the previous batch's tail
    * (cross-batch dups) and of its own head (within-batch dups) —
    * the reference's "5% of batches append 1-10 dups" shape
    * (producer.py:142-167) made deterministic. */
  private def q48(spark: SparkSession, dir: String): DataFrame = {
    val chunks = chunkedEvents(spark, dir)
    val out = runStream(spark, chunks,
      df => df.withWatermark("ts", "2 days")
        .dropDuplicatesWithinWatermark(Seq("event_id")),
      extraPerChunk = i =>
        if (i == 0) chunks(0).take(25).toSeq // within-batch copies
        else chunks(i - 1).takeRight(200).filter(_.event_id % 3 == 0).toSeq ++
          chunks(i).take(25).toSeq)
    out.select(col("user_id"), col("event_id"), col("event_type"),
        round(col("value"), 2).as("value_r"))
      .orderBy(col("event_id"))
  }
  private val q48Sql =
    """SELECT user_id, event_id, event_type, round(value, 2) AS value_r
      |FROM events ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------------ q49
  /** Sliding windows (10 min / 5 min) computed BY THE STREAMING ENGINE in
    * append mode — cross-batch partial window state, watermark-driven
    * emission — against q32's batch oracle. */
  private def q49(spark: SparkSession, dir: String): DataFrame = {
    val chunks = chunkedEvents(spark, dir)
    val out = runStream(spark, chunks,
      df => df.withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
        .agg(count(lit(1)).as("n"))
        .select(date_format(col("window.start"), TS_S).as("window_start"), col("n")),
      sentinels = sentinelsAfter(chunks))
    out.orderBy(col("window_start"))
  }
  private val q49Sql =
    """WITH w2 AS (
      |  SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS ws FROM events
      |  UNION ALL
      |  SELECT time_bucket(INTERVAL 5 MINUTE, ts) - INTERVAL 5 MINUTE FROM events)
      |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, count(*) AS n
      |FROM w2 GROUP BY ws ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------ q50
  /** Session windows (30 min gap) per user on the streaming engine —
    * sessions MERGE across micro-batches in the state store — against
    * q31's gaps-and-islands oracle. */
  private def q50(spark: SparkSession, dir: String): DataFrame = {
    val chunks = chunkedEvents(spark, dir)
    val out = runStream(spark, chunks,
      // NOTE: no sentinel filter INSIDE the streaming query — Catalyst
      // pushes a grouping-key predicate below EventTimeWatermark, which
      // would hide the sentinel rows from the watermark tracker and leave
      // the final sessions unflushed. The sentinel session can never emit
      // (its end lies past the final watermark); it is filtered again on
      // the batch result below purely as belt and braces.
      df => df.withWatermark("ts", "1 hour")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          date_format(col("session_window.start"), TS_S).as("session_start"),
          col("n_events")),
      sentinels = sentinelsAfter(chunks))
    out.where(col("user_id") =!= SENTINEL_USER)
      .orderBy(col("user_id"), col("session_start"))
  }
  private val q50Sql =
    """WITH g AS (
      |  SELECT user_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |s AS (SELECT user_id, ts, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts) AS sid FROM g)
      |SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      |       count(*) AS n_events
      |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin

  // ------------------------------------------------------------------ q52
  /** Watermarked STREAM-STREAM interval join: every purchase joined to
    * the same user's clicks within the preceding hour — both sides real
    * streams with event-time watermarks bounding the join state
    * (SURVEY.md §2 Part B "Streaming: stateful"; at 100 TB the watermark
    * is what keeps both buffers finite). Inner-join matches emit as they
    * arrive, so no sentinel flush is needed; the oracle is the plain
    * batch range join. */
  private def q52(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val all = chunkedEvents(spark, dir)
    def side(t: String) = all.map(_.filter(_.event_type == t))
    val (clickChunks, purchChunks) = (side("click"), side("purchase"))
    val mc = MemoryStream[StreamEvent]
    val mp = MemoryStream[StreamEvent]
    val clicks = mc.toDF().select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val purchases = mp.toDF().select(col("user_id").as("p_user"),
        col("ts").as("p_ts"), col("event_id").as("p_event_id"))
      .withWatermark("p_ts", "1 hour")
    val joined = purchases.join(clicks,
      expr("c_user = p_user AND c_ts BETWEEN p_ts - INTERVAL 1 HOUR AND p_ts"))
    runToMemorySink(spark, joined) { q =>
      clickChunks.zip(purchChunks).foreach { case (cs, ps) =>
        mc.addData(cs.toSeq); mp.addData(ps.toSeq)
        q.processAllAvailable()
      }
    }
      .select(col("p_event_id"), col("p_user").as("user_id"),
        date_format(col("c_ts"), TS_US).as("click_ts"),
        date_format(col("p_ts"), TS_US).as("purchase_ts"))
      .orderBy(col("p_event_id"), col("click_ts"))
  }
  private val q52Sql =
    """SELECT p.event_id AS p_event_id, p.user_id,
      |       strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
      |       strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts
      |FROM events p JOIN events c
      |  ON c.user_id = p.user_id AND c.event_type = 'click'
      | AND p.event_type = 'purchase'
      | AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
      |ORDER BY p_event_id, click_ts""".stripMargin

  // ------------------------------------------------------------------ q53
  /** CUSTOM keyed state under the oracle: per-user sessionization via
    * `flatMapGroupsWithState` (graft.streaming.SessionTracker — explicit
    * open-session state machine, event-time timeout) must reproduce
    * exactly the gaps-and-islands SQL that also oracles the built-in
    * `session_window` (q50): two independent sessionization
    * implementations and one SQL oracle, all hash-equal. */
  private def q53(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    implicit val ss: SparkSession = spark
    val chunks = chunkedEvents(spark, dir)
    val mem = MemoryStream[StreamEvent]
    val tracked = graft.streaming.SessionTracker.track(
      mem.toDS().map(e => graft.streaming.SessionTracker.UserEvent(e.user_id, e.ts)),
      gapMinutes = 30)
    runToMemorySink(spark, tracked.toDF()) { q =>
      chunks.foreach { c => mem.addData(c.toSeq); q.processAllAvailable() }
      // Event-time timeouts fire in the batch AFTER the watermark
      // advances past session_end + gap: two sentinel batches flush the
      // final open sessions (the sentinel user's own session stays in
      // state, never emitted, and is filtered below regardless).
      sentinelsAfter(chunks).foreach { s =>
        mem.addData(s); q.processAllAvailable()
      }
    }
      .where(col("user_id") =!= SENTINEL_USER)
      .select(col("user_id"),
        date_format(col("session_start"), TS_S).as("session_start"),
        col("n_events"))
      .orderBy(col("user_id"), col("session_start"))
  }
  private val q53Sql = q50Sql

  // ------------------------------------------------------------------ q83
  /** Stream-STATIC dim enrichment — the canonical "enrich the live event
    * stream with a dimension table" pattern, run on the streaming engine
    * under the oracle: the static nation dim joins each micro-batch as a
    * BROADCAST (stream-static joins are stateless — nothing enters the
    * state store for the join), then a watermarked 1 h tumbling count
    * per nation emits in append mode. The user→nation FK is fabricated
    * (nk = user_id % 25) like the repo's other synthetic enrichments.
    * Scale shape: the dim broadcasts once per micro-batch plan, the only
    * stateful operator is the windowed count — state is (windows ×
    * nations), independent of stream volume. Sentinel rows advance the
    * watermark to flush the final real windows; the sentinels' own
    * windows end past the final watermark and can never emit. */
  private def q83(spark: SparkSession, dir: String): DataFrame = {
    val chunks = chunkedEvents(spark, dir)
    val nation = Tables.nation(spark, dir)
      .select(col("n_nationkey").cast("long").as("nk"), col("n_name"))
    val out = runStream(spark, chunks,
      df => df.withWatermark("ts", "1 hour")
        .withColumn("nk", pmod(col("user_id"), lit(25L)))
        .join(broadcast(nation), "nk")
        .groupBy(window(col("ts"), "1 hour"), col("n_name"))
        .agg(count(lit(1)).as("n_events"))
        .select(date_format(col("window.start"), TS_S).as("window_start"),
          col("n_name"), col("n_events")),
      sentinels = sentinelsAfter(chunks))
    out.orderBy(col("window_start"), col("n_name"))
  }
  private val q83Sql =
    """SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S')
      |         AS window_start,
      |       n_name, count(*) AS n_events
      |FROM events JOIN nation ON n_nationkey = user_id % 25
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  val all: Seq[Decl] = Seq(
    Decl("q48_stream_dedup", q48, Some(q48Sql)),
    Decl("q49_stream_sliding", q49, Some(q49Sql)),
    Decl("q50_stream_session", q50, Some(q50Sql)),
    Decl("q52_stream_interval_join", q52, Some(q52Sql)),
    Decl("q53_stream_custom_state", q53, Some(q53Sql)),
    Decl("q83_stream_static_join", q83, Some(q83Sql)))
}
