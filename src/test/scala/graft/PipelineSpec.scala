package graft

import org.apache.spark.sql.functions._
import graft.ops.EventOps
import graft.pipeline.{BatchPipeline, EventGen, Metrics}
import graft.streaming.StreamingPipeline

/** End-to-end batch parity: producer → envelope → decode → staging →
  * hourly compaction → language-partitioned parquet (reference EP1,
  * run_toy_example.py:21-49, minus its bugs). */
class PipelineSpec extends SparkSpecBase {
  import spark.implicits._

  test("batch pipeline end-to-end: dups removed, partitions laid out, " +
    "enrichment present, nested language_id gone") {
    val staging = tmpDir("staging")
    val processed = tmpDir("processed")
    val metrics = new Metrics

    // produce 3000 events across ~11 s with ~2% duplicate injection
    val enveloped = EventGen.enveloped(
      EventGen.withDuplicates(EventGen.events(spark, 3000), 0.02))

    // lambda-side: decode + enrich + stage as minute-partitioned NDJSON
    val staged = StreamingPipeline.decodeRecords(enveloped)
    BatchPipeline.stageEvents(
      staged.drop("event_type", "event_subtype", "created_datetime"),
      staging, ts = $"ts")

    // glue-side: compact the hour
    val (dupKeys, written) = BatchPipeline.compactHour(
      spark, staging, processed,
      "2024", "03", "09", "16", metrics)
    assert(dupKeys > 0, "injected duplicates must be visible pre-dedup")
    assert(written === 3000L, "dedup must remove exactly the injected dups")

    // layout: language partitions under the hour path
    val hourPath = new java.io.File(
      s"$processed/year=2024/month=03/day=09/hour=16")
    assert(hourPath.isDirectory)
    val langDirs = hourPath.listFiles().filter(_.isDirectory).map(_.getName)
    assert(langDirs.nonEmpty && langDirs.forall(_.startsWith("language_id=")))

    // read back through partition discovery; nested copy must be gone
    val back = spark.read.parquet(hourPath.toString)
    assert(back.count() === 3000L)
    assert(back.columns.contains("language_id"))
    val nested = back.schema("event_specifics").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames
    assert(!nested.contains("language_id"))

    // enrichment survives our schema-bound read (unlike the reference,
    // which binds a raw-sample schema and silently drops it - SURVEY §1.3)
    assert(back.columns.contains("event_subtype"))
    assert(metrics.batchDuplicates.get() === dupKeys)
    assert(metrics.processedStorageMb.get() > 0.0)
  }

  test("compaction is idempotent under dynamic partition overwrite") {
    val staging = tmpDir("staging2")
    val processed = tmpDir("processed2")
    val enveloped = EventGen.enveloped(EventGen.events(spark, 500))
    val staged = StreamingPipeline.decodeRecords(enveloped)
    BatchPipeline.stageEvents(
      staged.drop("event_type", "event_subtype", "created_datetime"),
      staging, ts = $"ts")
    val (_, w1) = BatchPipeline.compactHour(
      spark, staging, processed, "2024", "03", "09", "16")
    val (_, w2) = BatchPipeline.compactHour(
      spark, staging, processed, "2024", "03", "09", "16")
    assert(w1 === w2, "re-compacting the same hour must not duplicate data")
  }

  /** Decode, enrich and stage `events` as minute-partitioned NDJSON. */
  private def stage(events: org.apache.spark.sql.DataFrame, staging: String): Unit =
    BatchPipeline.stageEvents(
      StreamingPipeline.decodeRecords(EventGen.enveloped(events))
        .drop("event_type", "event_subtype", "created_datetime"),
      staging, ts = $"ts")

  /** `n` events from id `from` on, all in hour 17 of 2024-03-09. */
  private def hour17(from: Long, n: Long) =
    EventGen.eventsFromIds(spark.range(from, from + n).toDF(), t0 = 1.71e9 + 3600)

  private val (y, mo, d) = ("2024", "03", "09")

  test("compactHour on an hour with no staged rows returns (0, 0)") {
    val staging = tmpDir("staging_empty")
    val processed = tmpDir("processed_empty")
    val metrics = new Metrics
    stage(EventGen.events(spark, 200), staging) // hour 16 only
    assert(BatchPipeline.compactHour(
      spark, staging, processed, y, mo, d, "17", metrics) === ((0L, 0L)))
    assert(metrics.batchDuplicates.get === 0L)
    assert(metrics.ingestedEvents.get === 0L)
    assert(!new java.io.File(s"$processed/year=$y/month=$mo/day=$d/hour=17").exists)

    // the hour's directory exists but holds no rows: the write's observed
    // counts over an empty input are 0, not null
    val emptyMinute = new java.io.File(s"$staging/year=$y/month=$mo/day=$d/hour=18/minute=00")
    assert(emptyMinute.mkdirs())
    assert(new java.io.File(emptyMinute, "part-00000.json").createNewFile())
    assert(BatchPipeline.compactHour(
      spark, staging, processed, y, mo, d, "18", metrics) === ((0L, 0L)))
    assert(metrics.ingestedEvents.get === 0L)
  }

  test("compaction reads only its hour's staging files, and its output " +
    "equals a filtered read of the whole staging tree") {
    val staging = tmpDir("staging_hour")
    val processed = tmpDir("processed_hour")
    stage(EventGen.withDuplicates(EventGen.events(spark, 1500), 0.05), staging)
    stage(hour17(5000, 400), staging)

    val hourDir = new java.io.File(s"$staging/year=$y/month=$mo/day=$d/hour=16")
    def jsonFiles(f: java.io.File): Seq[String] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(jsonFiles)
      else if (f.getName.endsWith(".json")) Seq(f.getCanonicalPath) else Nil
    val read = BatchPipeline.readStagedHour(spark, staging, y, mo, d, "16")
    val listed = read.inputFiles.map(u => new java.io.File(new java.net.URI(u))
      .getCanonicalPath).toSet
    assert(listed.nonEmpty && listed === jsonFiles(hourDir).toSet)
    assert(jsonFiles(new java.io.File(staging)).toSet.diff(listed).nonEmpty,
      "hour 17's files exist but must not be listed")
    assert(read.columns.toSeq.takeRight(5) ===
      Seq("year", "month", "day", "hour", "minute"))

    // the same hour selected from the whole tree by partition filters
    val whole = spark.read.schema(graft.model.EventModel.stagedEventSchema)
      .json(staging)
      .where($"year" === y && $"month" === mo && $"day" === d && $"hour" === "16")
    val expected = EventOps.liftLanguageId(EventOps.dedupFirstWins(
        whole, Seq("event_uuid"), Seq($"created_at")))
      .drop("year", "month", "day", "hour", "minute")

    val (dupKeys, written) = BatchPipeline.compactHour(
      spark, staging, processed, y, mo, d, "16")
    assert(dupKeys === EventOps.duplicateKeys(whole, "event_uuid").count())
    assert(dupKeys > 0 && written === 1500L)
    val back = spark.read.parquet(s"$processed/year=$y/month=$mo/day=$d/hour=16")
      .select(expected.columns.toSeq.map(col): _*)
    assert(back.schema === expected.schema)
    assert(back.exceptAll(expected).isEmpty && expected.exceptAll(back).isEmpty)
  }

  test("compactHour overwrites only its own partitions under a static " +
    "session partitionOverwriteMode, and leaves the session value alone") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "static")
    try {
      val staging = tmpDir("staging_static")
      val processed = tmpDir("processed_static")
      stage(EventGen.events(spark, 600), staging)
      stage(hour17(5000, 300), staging)
      assert(BatchPipeline.compactHour(
        spark, staging, processed, y, mo, d, "17")._2 === 300L)
      // a language partition the next compaction of hour 16 does not write
      val hour16 = s"$processed/year=$y/month=$mo/day=$d/hour=16"
      val sibling = new java.io.File(s"$hour16/language_id=zz")
      Seq("kept").toDF("event_uuid").write.parquet(sibling.toString)
      val siblingFiles = sibling.list().toSet

      assert(BatchPipeline.compactHour(
        spark, staging, processed, y, mo, d, "16")._2 === 600L)
      assert(spark.conf.get(key) === "static")
      assert(sibling.list().toSet === siblingFiles, "sibling language partition lost")
      assert(spark.read.parquet(s"$processed/year=$y/month=$mo/day=$d/hour=17")
        .count() === 300L, "sibling hour lost")
      assert(new java.io.File(hour16).listFiles().count(_.getName
        .startsWith("language_id=")) > 1)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("generator fidelity: staged schema matches EventModel; all 30 " +
    "union keys populated; per-subtype field sets match event_config.yml") {
    val staged = StreamingPipeline.decodeRecords(
      EventGen.enveloped(EventGen.events(spark, 8000)))
    assert(staged.schema
      .fields.map(f => f.name -> f.dataType).toSeq
      .filterNot(f => f._1 == "ts") // engine-side event-time column
      === graft.model.EventModel.stagedEventSchema
        .fields.map(f => f.name -> f.dataType).toSeq)

    staged.persist()
    try {
      // every one of the 30 effective union keys occurs in generated data
      val unionKeys = graft.model.EventModel.eventSpecificsSchema.fieldNames
      val counts = staged.select(unionKeys.toSeq.map(k =>
        count(col(s"event_specifics.`$k`")).as(k)): _*).head()
      unionKeys.zipWithIndex.foreach { case (k, i) =>
        assert(counts.getLong(i) > 0, s"union key $k never generated") }

      // the e-mail/email pair lives on exactly its two subtypes
      val dash = staged.where(col("event_specifics.`e-mail`").isNotNull)
        .select("event_name").distinct().as[String].collect()
      assert(dash.toSeq === Seq("account:email_confirmed"))
      val plain = staged.where(col("event_specifics.email").isNotNull)
        .select("event_name").distinct().as[String].collect()
      assert(plain.toSeq === Seq("account:confirmation_bounced"))

      // per-subtype field sets: for each taxonomy row, exactly the fields
      // whose type HAS a producer branch are non-null (spot full matrix)
      val presenceCols = unionKeys.toSeq.map(k =>
        (count(col(s"event_specifics.`$k`")) > 0).as(k))
      val present = staged
        .groupBy(col("event_name"))
        .agg(presenceCols.head, presenceCols.tail: _*)
        .collect().map(r => r.getString(0) ->
          unionKeys.zipWithIndex.collect {
            case (k, i) if r.getBoolean(i + 1) => k }.toSet).toMap
      EventGen.taxonomy.foreach { case (name, fields) =>
        val expect = fields.collect {
          case (k, t) if !Set("account_field", "subscription_id",
            "subscription_type", "purchase_source", "reason_cancelled",
            "order_id", "payment_method", "game_id")(t) => k }.toSet
        assert(present(name) === expect,
          s"$name: got ${present(name)}, want $expect")
      }

      // the silently-skipped config fields never reach the wire JSON
      val wire = EventGen.enveloped(EventGen.events(spark, 2000))
        .select(unbase64(get_json_object(col("record"), "$.kinesis.data"))
          .cast("string").as("j"))
      assert(wire.where(col("j").contains("order_id") ||
        col("j").contains("subscription_type") ||
        col("j").contains("game_id")).isEmpty)

      // language_id is the literal not_applicable for the na categories
      val na = staged.where(col("event_type").isin(
        "account", "language", "subscription", "payment", "referral"))
        .select("event_specifics.language_id").distinct().as[String].collect()
      assert(na.toSeq === Seq("not_applicable"))
    } finally staged.unpersist()
  }

  test("Records batch wrapper: 5% of batches carry 1-10 appended dups; " +
    "explode+decode+dedup recovers exactly the originals (q05/q06 shape)") {
    val n = 4000L
    val batches = EventGen.kinesisBatches(spark, n, batchSize = 40)
    assert(batches.count() === 100)

    val records = EventOps.explodeRecordsBatch(batches)
    val total = records.count()
    assert(total > n, "some batches must carry appended duplicates")
    assert(total <= n + 100 * 10)

    val events = records.select(
      EventOps.decodeEnvelope(col("record")).as("e")).select("e.*")
    // q06 semantics: duplicate keys visible pre-dedup
    assert(EventOps.duplicateKeys(events, "event_uuid").count() > 0)
    // q05 semantics: first-wins dedup recovers the original n exactly
    assert(EventOps.dedupFirstWins(events, Seq("event_uuid"),
      Seq(col("created_at"))).count() === n)
  }

  test("metrics report: zero-guarded ratios, markdown shape") {
    val m = new Metrics
    assert(m.duplicateRatio === 0.0) // reference raises ZeroDivisionError here
    m.ingestedEvents.set(200); m.duplicatesPrevented.set(10)
    assert(m.duplicateRatio === 0.05)
    val md = m.report()
    assert(md.contains("|ingested_events|200|"))
    assert(md.contains("|duplicate_ratio|5.00%|"))
  }
}
