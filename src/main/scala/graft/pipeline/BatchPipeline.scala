package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.EventModel
import graft.ops.EventOps

/** Batch side of the reference pipeline (the Glue job,
  * toy_example/toy_glue.py:19-75), recomposed from graft.ops operators with
  * the reference's bugs fixed and its manual physical choices delegated to
  * Catalyst (SURVEY.md §4):
  *
  *  - hour selection reads the hour's Hive-style partition directory with
  *    `basePath` (replaces the zero-padding-buggy glob, toy_glue.py:31);
  *  - dedup is always on and deterministic (replaces the crashing guarded
  *    `dropDuplicates("event_uuid")`-with-a-bare-string, toy_glue.py:52-53);
  *  - the nested language_id copy is REALLY dropped (toy_glue.py:45's
  *    `.drop` is a silent no-op);
  *  - partitioned overwrite uses dynamic partitionOverwriteMode, set on
  *    the write itself, so re-compacting one hour never truncates sibling
  *    partitions and the session's own setting is never touched.
  */
object BatchPipeline {

  /** Lambda-side staging write (toy_lambda_function.py:22-29,57-67):
    * enrich, derive zero-padded time partitions, append NDJSON. Event-time
    * partitioning by default (the reference uses processing-time `now()`,
    * toy_lambda_function.py:9-19 — pass `current_timestamp()` for strict
    * parity). */
  def stageEvents(events: DataFrame, stagingDir: String,
      ts: org.apache.spark.sql.Column): Unit = {
    val enriched = EventOps.withEventTypeSubtype(events)
      .withColumn("created_datetime", EventOps.createdDatetime(col("created_at")))
    EventOps.withTimePartitions(enriched, ts)
      .write.mode("append")
      .partitionBy("year", "month", "day", "hour", "minute")
      .json(stagingDir)
  }

  /** Glue-side hourly compaction (toy_glue.py:19-75): schema-bound read of
    * one hour's staging minutes → dedup (first-wins by created_at) →
    * language_id lift → language-partitioned parquet overwrite.
    * Returns (batchDuplicates, rowsWritten): the hour's staged keys that
    * occur more than once, and the rows the hour now holds in parquet.
    *
    * One Spark job: both counts come from an `Observation` on the write
    * (first-wins rank 2 = one duplicate key, rank 1 = one written row)
    * instead of a second pass over the staging NDJSON and a read-back of
    * the parquet. An hour with no staged rows writes nothing and returns
    * (0, 0). */
  def compactHour(spark: SparkSession, stagingDir: String, processedDir: String,
      year: String, month: String, day: String, hour: String,
      metrics: Metrics = new Metrics, numPartitions: Int = 2): (Long, Long) = {
    val stagedHour = new Path(s"$stagingDir/${hourDir(year, month, day, hour)}")
    val fs = stagedHour.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (dupKeys, written) =
      if (!fs.exists(stagedHour)) (0L, 0L)
      else writeHour(readStagedHour(spark, stagingDir, year, month, day, hour),
        s"$processedDir/${hourDir(year, month, day, hour)}", numPartitions)
    metrics.batchDuplicates.addAndGet(dupKeys)
    metrics.ingestedEvents.addAndGet(written)
    metrics.updateStorageGauge(spark, stagingDir, staging = true)
    metrics.updateStorageGauge(spark, processedDir, staging = false)
    (dupKeys, written)
  }

  /** One hour of staging, read from the hour's own directory (`basePath`
    * keeps the time partition columns), so the listing covers that hour
    * only, not the pipeline's whole history.
    *
    * Schema-bound read (the reference binds a schema inferred from a raw
    * 500-event sample, toy_glue.py:34-38, which silently drops the Lambda
    * enrichment columns — SURVEY.md §1.3. We bind the STAGED schema and
    * keep them; set parity=true semantics by selecting eventSchema fields.) */
  def readStagedHour(spark: SparkSession, stagingDir: String,
      year: String, month: String, day: String, hour: String): DataFrame =
    spark.read
      .schema(EventModel.stagedEventSchema)
      .option("basePath", stagingDir)
      .json(s"$stagingDir/${hourDir(year, month, day, hour)}")

  private def hourDir(year: String, month: String, day: String, hour: String) =
    s"year=$year/month=$month/day=$day/hour=$hour"

  private def writeHour(staged: DataFrame, hourPath: String,
      numPartitions: Int): (Long, Long) = {
    val rank = col(EventOps.FirstWinsRank)
    val counts = Observation()
    val deduped = EventOps.withFirstWinsRank(
        staged, Seq("event_uuid"), Seq(col("created_at")))
      .observe(counts,
        count_if(rank === 2).as("dup_keys"), count_if(rank === 1).as("written"))
      .where(rank === 1)
      .drop(EventOps.FirstWinsRank)
    EventOps.liftLanguageId(deduped)
      .drop("year", "month", "day", "hour", "minute")
      .repartition(numPartitions, col("language_id"))
      .write
      .option("partitionOverwriteMode", "dynamic") // this write only
      .partitionBy("language_id")
      .mode("overwrite")
      .parquet(hourPath)
    // an input that holds no rows (files of zero bytes) can leave the
    // observed node unexecuted, so no metrics at all means no rows seen
    val seen = counts.get.withDefaultValue(0L)
    (seen("dup_keys").asInstanceOf[Long], seen("written").asInstanceOf[Long])
  }
}
