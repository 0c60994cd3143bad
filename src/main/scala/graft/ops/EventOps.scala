package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}
import graft.model.EventModel

/** The reference's pipeline operators (SURVEY.md §2 Part A) as pure,
  * composable `DataFrame => DataFrame` / `Column` functions. Everything is
  * built-in Catalyst expressions — no UDFs — so all of it stays inside
  * whole-stage codegen and survives predicate pushdown / column pruning.
  */
object EventOps {

  // ---------------------------------------------------------------- envelope

  /** Kinesis-mock envelope ENCODE (reference: data_creation/
    * producer.py:114-131,142-161): event struct → JSON → base64 → spliced
    * into the AWS Kinesis record template. `eventStruct` must be a struct
    * column. Produces one JSON record string per row in `record`.
    */
  def encodeEnvelope(eventStruct: Column, partitionKey: Column): Column = {
    val b64 = base64(to_json(eventStruct).cast("binary"))
    to_json(struct(
      struct(
        lit("1.0").as("kinesisSchemaVersion"),
        partitionKey.as("partitionKey"),
        lit("49590338271490256608559692538361571095921575989136588898").as("sequenceNumber"),
        b64.as("data"),
        lit(1545084650.987).as("approximateArrivalTimestamp")).as("kinesis"),
      lit("aws:kinesis").as("eventSource"),
      lit("1.0").as("eventVersion"),
      concat(lit("shardId-000000000006:"), partitionKey).as("eventID"),
      lit("aws:kinesis:record").as("eventName"),
      lit("arn:aws:iam::123456789012:role/lambda-role").as("invokeIdentityArn"),
      lit("us-east-2").as("awsRegion"),
      lit("arn:aws:kinesis:us-east-2:123456789012:stream/lambda-stream").as("eventSourceARN")))
  }

  /** Kinesis-mock envelope DECODE (reference: toy_example/
    * toy_lambda_function.py:44-46): record JSON string → `.kinesis.data`
    * → base64-decode → parse event JSON against `schema`. Returns a struct
    * column. Pure expression: `get_json_object` + `try_to_binary` +
    * `from_json`.
    *
    * Robustness: every stage degrades to NULL on malformed input
    * (`get_json_object` on non-JSON, `try_to_binary` on invalid base64 —
    * the strict `unbase64` would THROW and kill the whole job on one bad
    * record — and `from_json` in PERMISSIVE mode on bad inner JSON), so a
    * 100 TB ingest quarantines corrupt records with a `.isNull` filter
    * instead of dying like the reference's per-record lambda. */
  def decodeEnvelope(record: Column, schema: StructType = EventModel.eventSchema): Column =
    from_json(try_to_binary(
      get_json_object(record, "$.kinesis.data"), lit("base64")).cast("string"), schema)

  /** Unwrap the producer's `{"Records": [...]}` batch JSON (reference:
    * producer.py:152-167 — the wire unit is a BATCH dict whose Records
    * array holds the per-record envelope strings) into one `record` row
    * per element. Pure from_json + explode; a 100 TB ingest runs this as a
    * narrow map + generate, no shuffle. */
  def explodeRecordsBatch(batches: DataFrame, batchCol: String = "batch"): DataFrame =
    batches.select(explode(from_json(col(batchCol),
      StructType(Seq(StructField("Records", ArrayType(StringType)))))
      .getField("Records")).as("record"))

  // ------------------------------------------------------------- enrichment

  /** Split `event_name` into (event_type, event_subtype) (reference:
    * toy_lambda_function.py:58-59). Faithful to the reference's indexing:
    * for the 3-part `payment:order:completed` the subtype is `order` and
    * the tail is DISCARDED (split + index, not limit-2 split).
    */
  def withEventTypeSubtype(df: DataFrame, eventName: String = "event_name"): DataFrame = {
    val parts = split(col(eventName), ":")
    df.withColumn("event_type", parts.getItem(0))
      .withColumn("event_subtype", parts.getItem(1))
  }

  /** Epoch-seconds double → ISO-8601 string `created_datetime` (reference:
    * toy_lambda_function.py:60-62). Deviation (documented in SURVEY.md §7):
    * the reference uses the machine-local timezone; this renders in the
    * session timezone, so callers MUST set
    * `spark.sql.session.timeZone=UTC` for reproducible output (every main
    * and test session in this repo does). Python `isoformat()` emits
    * microseconds only when non-zero; we always emit 6 digits for a
    * fixed-width, sortable value.
    */
  def createdDatetime(createdAt: Column): Column =
    date_format(timestamp_seconds(createdAt), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")

  // ---------------------------------------------------- time partitioning

  /** Zero-padded year/month/day/hour/minute partition columns from a
    * timestamp (reference: toy_example/toy_lambda_function.py:9-19 builds
    * the same from `strftime('%Y %m %d %H %M')`). The reference derives
    * them from processing-time `now()`; pass `current_timestamp()` for
    * that behavior or an event-time column for the sane variant.
    * Zero-padding matters: the reference's hour glob bug (toy_glue.py:31,
    * unpadded, vs `%H` padded) is exactly a padding mismatch — partition
    * values here are always padded, and pruning happens via Catalyst
    * `.where` on the partition columns, not via path globs.
    */
  def withTimePartitions(df: DataFrame, ts: Column): DataFrame =
    df.withColumn("year", date_format(ts, "yyyy"))
      .withColumn("month", date_format(ts, "MM"))
      .withColumn("day", date_format(ts, "dd"))
      .withColumn("hour", date_format(ts, "HH"))
      .withColumn("minute", date_format(ts, "mm"))

  // ----------------------------------------------------------------- dedup

  /** Deterministic first-wins dedup (reference semantics: the Redis set in
    * toy_lambda_function.py:48-52 keeps the FIRST occurrence of each
    * `event_uuid`; the Glue-side `dropDuplicates` keeps an arbitrary one,
    * toy_glue.py:52-53). We make "first" explicit: minimum of `orderCols`
    * per key via a row_number window — deterministic, hence oracle-safe.
    *
    * Scale: one shuffle on the key (same as any keyed dedup); at 100 TB
    * prefer the streaming form `dropDuplicatesWithinWatermark` (bounded
    * RocksDB state) — see graft.streaming.
    */
  def dedupFirstWins(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame =
    withFirstWinsRank(df, keys, order)
      .where(col(FirstWinsRank) === 1)
      .drop(FirstWinsRank)

  /** Rank column of [[withFirstWinsRank]]. */
  val FirstWinsRank = "__rn"

  /** `df` plus its first-wins rank per key ([[FirstWinsRank]], 1 = the
    * row [[dedupFirstWins]] keeps). Rank 2 occurs once per key that occurs
    * more than once, so one pass can both dedup and count duplicate keys. */
  def withFirstWinsRank(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame =
    df.withColumn(FirstWinsRank,
      row_number().over(Window.partitionBy(keys.map(col): _*).orderBy(order: _*)))

  /** Count of keys that occur more than once (reference:
    * toy_glue.py:47-50 — `groupBy(uuid).count().where(count>1).count()`).
    * Kept as a DataFrame so it composes; cheaper single-pass alternative
    * for metrics: `observe(count(*) - count_distinct(key))`.
    */
  def duplicateKeys(df: DataFrame, key: String): DataFrame =
    df.groupBy(col(key)).count().where(col("count") > 1)

  // ------------------------------------------------------- nested lifting

  /** Lift `event_specifics.language_id` to a top-level string column and
    * REALLY drop the nested copy (reference: toy_glue.py:43-45 attempts
    * `.drop("event_specifics.language_id")`, which is a silent no-op —
    * `drop` does not resolve nested fields; the real spelling is
    * `withColumn(..., col.dropFields(...))`).
    */
  def liftLanguageId(df: DataFrame): DataFrame =
    df.withColumn("language_id", col("event_specifics.language_id").cast("string"))
      .withColumn("event_specifics", col("event_specifics").dropFields("language_id"))
}
