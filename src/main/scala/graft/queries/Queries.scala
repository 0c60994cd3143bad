package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.EventModel
import graft.ops.EventOps
import graft.sources.Tables
import graft.functions.{CosineSimilarity, VectorOps}

/** One declared query per operator row of SURVEY.md §2, each paired with
  * ANSI SQL that DuckDB runs on the same parquet tables (the driver's
  * correctness oracle). Determinism rules (SURVEY.md §5): every query ends
  * in a total ORDER BY; money sums go through DECIMAL (exact, then cast to
  * double) so Spark's partition-order-dependent double summation can never
  * flip a rounded digit; float outputs are rounded.
  */
case class Decl(name: String, fn: (SparkSession, String) => DataFrame, sql: Option[String])

object Queries {

  /** Exact money sum: cast to decimal before aggregation so the sum is
    * exact and partition-order-independent, then surface as double. */
  private def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(s"decimal(18,$scale)"))

  private def asDouble(c: Column): Column = c.cast("double")

  // ------------------------------------------------------------------ q01
  /** Schema-bound scan + filter + projection (reference: toy_glue.py:34-38
    * binds a pre-inferred schema; filter/projection push down to parquet). */
  private def q01(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .where(col("value") > 100 && col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("event_type"),
        round(col("value"), 2).as("value_r"))
      .orderBy(col("event_id"))
  }
  private val q01Sql =
    """SELECT event_id, event_type, round(value, 2) AS value_r
      |FROM events
      |WHERE value > 100 AND event_type IN ('click','purchase')
      |ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------------ q02
  /** event_name split + ISO created_datetime enrichment (reference:
    * toy_lambda_function.py:57-62). Fabricates reference-shaped names,
    * including 3-part ones whose tail the split faithfully DISCARDS. */
  private def q02(spark: SparkSession, dir: String): DataFrame = {
    val named = Tables.events(spark, dir)
      .withColumn("event_name",
        concat(col("event_type"), lit(":s"), pmod(col("event_id"), lit(3)),
          when(pmod(col("event_id"), lit(10)) === 0, ":extra").otherwise("")))
      .drop("event_type")
    EventOps.withEventTypeSubtype(named)
      .withColumn("created_datetime",
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"))
      .select(col("event_id"), col("event_name"), col("event_type"),
        col("event_subtype"), col("created_datetime"))
      .orderBy(col("event_id"))
  }
  private val q02Sql =
    """WITH named AS (
      |  SELECT event_id, ts,
      |         event_type || ':s' || CAST(event_id % 3 AS VARCHAR) ||
      |         CASE WHEN event_id % 10 = 0 THEN ':extra' ELSE '' END AS event_name
      |  FROM events)
      |SELECT event_id, event_name,
      |       string_split(event_name, ':')[1] AS event_type,
      |       string_split(event_name, ':')[2] AS event_subtype,
      |       strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%dT%H:%M:%S.%f') AS created_datetime
      |FROM named
      |ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------------ q03
  /** Zero-padded time-partition derivation + per-partition counts
    * (reference: toy_lambda_function.py:9-19). */
  private def q03(spark: SparkSession, dir: String): DataFrame = {
    EventOps.withTimePartitions(Tables.events(spark, dir), col("ts"))
      .groupBy(col("year"), col("month"), col("day"), col("hour"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("year"), col("month"), col("day"), col("hour"))
  }
  private val q03Sql =
    """SELECT strftime(ts, '%Y') AS year, strftime(ts, '%m') AS month,
      |       strftime(ts, '%d') AS day, strftime(ts, '%H') AS hour,
      |       count(*) AS n
      |FROM events
      |GROUP BY 1, 2, 3, 4
      |ORDER BY 1, 2, 3, 4""".stripMargin

  // ------------------------------------------------------------------ q04
  /** Hour-partition filter (reference: toy_glue.py:28-32's manual glob —
    * here a `.where` on the derived partition column, which Catalyst turns
    * into partition pruning on a partitioned layout). */
  private def q04(spark: SparkSession, dir: String): DataFrame = {
    EventOps.withTimePartitions(Tables.events(spark, dir), col("ts"))
      .where(col("hour") === "05")
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("day"), col("event_type"))
  }
  private val q04Sql =
    """SELECT strftime(ts, '%d') AS day, event_type, count(*) AS n
      |FROM events
      |WHERE strftime(ts, '%H') = '05'
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------------ q05
  /** Deterministic first-wins dedup (reference: Redis set keeps the FIRST
    * occurrence per key, toy_lambda_function.py:48-52). Key here is
    * user_id (event_id is unique in the test table); first = min (ts,
    * event_id). */
  private def q05(spark: SparkSession, dir: String): DataFrame = {
    EventOps.dedupFirstWins(Tables.events(spark, dir),
        Seq("user_id"), Seq(col("ts"), col("event_id")))
      .select(col("user_id"), col("event_id"), col("event_type"),
        round(col("value"), 2).as("value_r"))
      .orderBy(col("user_id"))
  }
  private val q05Sql =
    """SELECT user_id, event_id, event_type, round(value, 2) AS value_r
      |FROM events
      |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) = 1
      |ORDER BY user_id""".stripMargin

  // ------------------------------------------------------------------ q06
  /** Duplicate-key count (reference: toy_glue.py:47-50). */
  private def q06(spark: SparkSession, dir: String): DataFrame = {
    EventOps.duplicateKeys(Tables.events(spark, dir), "user_id")
      .agg(count(lit(1)).as("dup_keys"))
  }
  private val q06Sql =
    """SELECT count(*) AS dup_keys FROM (
      |  SELECT user_id FROM events GROUP BY user_id HAVING count(*) > 1)""".stripMargin

  // ------------------------------------------------------------------ q07
  /** Per-language counts (reference: the language_id-partitioned write,
    * toy_glue.py:43-65 — the group-by that sizes those partitions). */
  private def q07(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), dsum(col("n_chars"), 0).cast("long").as("total_chars"))
      .orderBy(col("lang"))
  }
  private val q07Sql =
    """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  // ------------------------------------------------------------------ q08
  /** Pipeline-metrics aggregate — the MockCloudWatch counters (reference:
    * mock_cloudwatch.py:10-19) as one single-pass aggregation. In the
    * live pipeline these ride on `Dataset.observe` (see
    * graft.pipeline.Metrics); here surfaced as a one-row DataFrame. */
  private def q08(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir).agg(
      count(lit(1)).as("ingested_events"),
      countDistinct(col("event_id")).as("distinct_events"),
      (count(lit(1)) - countDistinct(col("event_id"))).as("duplicates_prevented"),
      countDistinct(col("user_id")).as("distinct_users"),
      asDouble(round(dsum(col("value")), 2)).as("total_value"))
  }
  private val q08Sql =
    """SELECT count(*) AS ingested_events,
      |       count(DISTINCT event_id) AS distinct_events,
      |       count(*) - count(DISTINCT event_id) AS duplicates_prevented,
      |       count(DISTINCT user_id) AS distinct_users,
      |       CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
      |FROM events""".stripMargin

  // ------------------------------------------------------------------ q09
  /** Equi inner join + aggregate. customer is the small side → explicit
    * broadcast (at 100 TB, orders streams through while the dim ships to
    * every executor — no shuffle of the fact table). */
  private def q09(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"), "inner")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        asDouble(round(dsum(col("o_totalprice")), 2)).as("revenue"))
      .orderBy(col("c_mktsegment"))
  }
  private val q09Sql =
    """SELECT c_mktsegment, count(*) AS n_orders,
      |       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  // ------------------------------------------------------------------ q10
  /** Semi/anti join (EXISTS / NOT EXISTS) — one row with both counts. */
  private def q10(spark: SparkSession, dir: String): DataFrame = {
    // one-pass spelling of EXISTS + NOT EXISTS: a single left join against
    // the distinct key set answers both counts (separate semi+anti
    // branches would scan both tables twice)
    val c = Tables.customer(spark, dir)
    val oKeys = Tables.orders(spark, dir).select(col("o_custkey")).distinct()
    c.join(broadcast(oKeys), c("c_custkey") === oKeys("o_custkey"), "left")
      .agg(
        count(when(col("o_custkey").isNotNull, 1)).as("customers_with_orders"),
        count(when(col("o_custkey").isNull, 1)).as("customers_without_orders"))
  }
  private val q10Sql =
    """SELECT
      |  (SELECT count(*) FROM customer WHERE EXISTS
      |     (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS customers_with_orders,
      |  (SELECT count(*) FROM customer WHERE NOT EXISTS
      |     (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS customers_without_orders""".stripMargin

  // ------------------------------------------------------------------ q11
  /** ROLLUP aggregation, TPC-H Q1-flavored. Revenue in exact DECIMAL
    * (extendedprice × (1−discount) is 4-dp exact), grouping nulls
    * COALESCEd so Spark/DuckDB null-ordering differences can't bite. */
  private def q11(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val revenue = col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))
    // Re-aggregation: one normal 2-key pass over the fact table (map-side
    // partial combine), then ROLLUP over the handful of result cells —
    // instead of letting Expand triple the fact table through the
    // aggregate. Decimal sums of sums are exact, so results are identical.
    val cells = li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(dsum(col("l_quantity"), 0).as("q"),
        count(lit(1)).as("n"),
        sum(revenue).as("r"))
    cells.rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("q")).cast("long").as("sum_qty"),
        sum(col("n")).as("n_rows"),
        asDouble(round(sum(col("r")), 2)).as("revenue"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("n_rows"), col("revenue"))
      .orderBy(col("returnflag"), col("linestatus"))
  }
  private val q11Sql =
    """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
      |       COALESCE(l_linestatus, 'ALL') AS linestatus,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,0))) AS BIGINT) AS sum_qty,
      |       count(*) AS n_rows,
      |       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |             (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS revenue
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin

  // ------------------------------------------------------------------ q12
  /** Top-k per group via ranking window (k = 3 events by value per user). */
  private def q12(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("value").desc, col("event_id"))
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .select(col("user_id"), col("rn"), col("event_id"),
        round(col("value"), 2).as("value_r"))
      .orderBy(col("user_id"), col("rn"))
  }
  private val q12Sql =
    """SELECT user_id, row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn,
      |       event_id, round(value, 2) AS value_r
      |FROM events
      |QUALIFY rn <= 3
      |ORDER BY user_id, rn""".stripMargin

  // ------------------------------------------------------------------ q13
  /** Kinesis envelope encode → decode roundtrip (reference:
    * producer.py:142-161 encode, toy_lambda_function.py:44-46 decode).
    * Builds a reference-shaped event per row, wraps it in the full AWS
    * record template, then decodes it back; the oracle computes the
    * original fields directly (roundtrip ≡ identity). */
  private def q13(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.spread(Tables.events(spark, dir)).select(
      col("event_id"),
      md5(col("event_id").cast("string")).as("event_uuid"),
      concat(col("event_type"), lit(":done")).as("event_name"),
      struct(
        concat(lit("lang_"), pmod(col("user_id"), lit(5))).as("language_id"),
        pmod(col("event_id"), lit(100)).as("amount")).as("event_specifics"))
    val enveloped = ev.select(col("event_id"),
      EventOps.encodeEnvelope(struct(col("event_uuid"), col("event_name"),
        col("event_specifics")), col("event_uuid")).as("record"))
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("event_uuid", StringType),
      StructField("event_name", StringType),
      StructField("event_specifics", StructType(Seq(
        StructField("language_id", StringType),
        StructField("amount", LongType))))))
    enveloped
      .withColumn("event", EventOps.decodeEnvelope(col("record"), schema))
      .select(col("event_id"),
        col("event.event_uuid").as("event_uuid"),
        col("event.event_name").as("event_name"),
        col("event.event_specifics.language_id").as("language_id"),
        col("event.event_specifics.amount").as("amount"))
      .orderBy(col("event_id"))
  }
  private val q13Sql =
    """SELECT event_id, md5(CAST(event_id AS VARCHAR)) AS event_uuid,
      |       event_type || ':done' AS event_name,
      |       'lang_' || CAST(user_id % 5 AS VARCHAR) AS language_id,
      |       event_id % 100 AS amount
      |FROM events
      |ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------------ q14
  /** Set operations (reference's duplicate-append is UNION ALL,
    * producer.py:162-166; here the full built-in set-op family):
    * users who clicked AND purchased but never errored. */
  private def q14(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    def pairs(t: String) = ev.where(col("event_type") === t)
      .select(col("user_id"), col("day")).distinct()
    pairs("click").intersect(pairs("purchase")).except(pairs("error"))
      .orderBy(col("user_id"), col("day"))
  }
  private val q14Sql =
    """SELECT user_id, day FROM (
      |  SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS day FROM events WHERE event_type = 'click'
      |  INTERSECT
      |  SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS day FROM events WHERE event_type = 'purchase'
      |  EXCEPT
      |  SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS day FROM events WHERE event_type = 'error')
      |ORDER BY user_id, day""".stripMargin

  // ------------------------------------------------------------------ q15
  /** Similarity search: brute-force cosine top-k against a fixed probe
    * (the vec_id=0 embedding), double-precision higher-order-function
    * arithmetic, rounded to 4dp. The probe is a 1-row broadcast — at
    * scale this is a map-only pass over the embedding table. */
  private def q15(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.spread(Tables.embeddings(spark, dir))
    val probe = Tables.embeddings(spark, dir).where(col("vec_id") === 0)
      .select(col("embedding").as("probe"))
    emb.crossJoin(broadcast(probe))
      .select(col("vec_id"),
        round(CosineSimilarity.cosineSim(col("embedding"), col("probe")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(20)
  }
  private val q15Sql =
    """WITH probe AS (SELECT CAST(embedding AS DOUBLE[]) AS p FROM embeddings WHERE vec_id = 0)
      |SELECT vec_id,
      |       round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), p), 4) AS cos_sim
      |FROM embeddings, probe
      |ORDER BY cos_sim DESC, vec_id
      |LIMIT 20""".stripMargin

  // ------------------------------------------------------------------ q16
  /** JSON payload extraction (reference: the 3-layer json.loads chain,
    * toy_lambda_function.py:44-46) — `props` JSON → typed field → agg. */
  private def q16(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        dsum(col("k"), 0).cast("long").as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy(col("event_type"))
  }
  private val q16Sql =
    """SELECT event_type, count(*) AS n,
      |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |       min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
      |       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------------ q17
  /** Tumbling event-time window (the streaming `window()` operator in its
    * batch form; reference has only a processing-time 60 s cadence,
    * run_toy_example.py:25-38). Oracle = date_trunc. */
  private def q17(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        asDouble(round(dsum(col("value")), 2)).as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("hour_start"), col("event_type"))
  }
  private val q17Sql =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
      |       event_type, count(*) AS n,
      |       CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------- registry

  val core: Seq[Decl] = Seq(
    Decl("q01_schema_bound_scan", q01, Some(q01Sql)),
    Decl("q02_split_enrich", q02, Some(q02Sql)),
    Decl("q03_time_partitions", q03, Some(q03Sql)),
    Decl("q04_hour_filter", q04, Some(q04Sql)),
    Decl("q05_dedup_first_wins", q05, Some(q05Sql)),
    Decl("q06_dup_count", q06, Some(q06Sql)),
    Decl("q07_language_counts", q07, Some(q07Sql)),
    Decl("q08_metrics_observe", q08, Some(q08Sql)),
    Decl("q09_join_enrich", q09, Some(q09Sql)),
    Decl("q10_semi_anti", q10, Some(q10Sql)),
    Decl("q11_rollup", q11, Some(q11Sql)),
    Decl("q12_topk_per_user", q12, Some(q12Sql)),
    Decl("q13_envelope_roundtrip", q13, Some(q13Sql)),
    Decl("q14_setops", q14, Some(q14Sql)),
    Decl("q15_cosine_topk", q15, Some(q15Sql)),
    Decl("q16_props_json", q16, Some(q16Sql)),
    Decl("q17_hourly_counts", q17, Some(q17Sql)))

  def all: Seq[Decl] = core ++ ExtQueries.all ++ WindowQueries.all ++ AggQueries.all ++ TextRankQueries.all ++ FunnelQueries.all ++ StreamQueries.all ++ RelationalQueries.all
}
