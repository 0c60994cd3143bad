package graft.ops

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Cache-lifetime helpers. Spark's `Dataset.persist` goes through the
  * CacheManager, which holds the entry until an explicit `unpersist` —
  * a lazily-returned DataFrame therefore can't both (a) reuse a cached
  * upstream and (b) release that cache before the caller evaluates it.
  * The single-job escape hatch is to *materialize the small end product*
  * (pair list, drop-id set, report row) into a driver-local relation,
  * release the big upstream cache, and hand the caller the local copy.
  * The multi-job / 100 TB form writes the intermediate to storage
  * instead (see TextOps scaladoc) — localization is bounded by
  * `maxRows` so it can never silently swallow an at-scale result.
  *
  * SCALE NOTE (the deployment contract for the call-site caps —
  * IvfIndex / LshIndex / PqIndex probe results, NN-Descent round edges):
  * a result that must outlive the caches it reads goes through
  * [[settle]], whose over-cap fallback is an eager `localCheckpoint()`
  * — outside the CacheManager, reclaimed with the returned frame by the
  * ContextCleaner — so correctness NEVER depends on localization
  * succeeding and the fallback pins nothing for the session's lifetime;
  * the cap only trades driver heap for avoiding a cluster-side
  * materialization. An aggregate bounded by construction does not go
  * through the cap at all ([[collectExact]]). On a real cluster the
  * default caps (typically `1 << 22` rows ≈ 4 M) assume driver heap in
  * the tens of GiB for wide rows; a deployment sizes the cap to its
  * driver via [[MaxRowsConf]] (one setting governs every call site)
  * rather than editing call sites. A workload whose probe batches
  * overflow the cap on EVERY batch should set the cap to 0 — taking the
  * cluster-side fallback deliberately instead of paying a doomed
  * `limit(cap+1).collect()` probe per batch. */
object Caches {

  /** Session conf that overrides every call site's `maxRows` default:
    * `spark.conf.set(MaxRowsConf, n)`. `0` disables localization
    * (always the cluster-side fallback); unset keeps call-site
    * defaults. */
  val MaxRowsConf = "spark.graft.localize.maxRows"

  /** Session conf `key` read as a non-negative integer, None when
    * unset. Rejects malformed/negative values with an error NAMING the
    * key (a bare toLong deep inside a query's plan was undiagnosable —
    * r14 advice); `meaning` says what the value is. Every graft session
    * knob reads through here. */
  def nonNegativeConf(spark: SparkSession, key: String, meaning: String): Option[Long] =
    spark.conf.getOption(key).map { s =>
      val v =
        try s.trim.toLong
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"$key must be a non-negative integer ($meaning), got '$s'")
        }
      require(v >= 0, s"$key must be >= 0 ($meaning), got $s")
      v
    }

  /** The effective cap: the [[MaxRowsConf]] session override when set,
    * else the call site's `default`. Values above Int.MaxValue clamp (a
    * cap that large never localizes in practice anyway). */
  def effectiveMaxRows(df: DataFrame, default: Int): Int =
    nonNegativeConf(df.sparkSession, MaxRowsConf,
      "a row cap; 0 disables localization")
      .fold(default)(v => math.min(v, Int.MaxValue.toLong).toInt)

  /** ONE bounded probe: `df`'s rows and a LocalRelation-backed frame
    * over them iff it has at most `maxRows` rows (as overridden by
    * [[MaxRowsConf]]), None when it is too large to localize. Row order
    * is preserved (single local partition). */
  def localizeWithRows(df: DataFrame,
      maxRows: Int): Option[(DataFrame, Array[Row])] = {
    val cap = effectiveMaxRows(df, maxRows)
    if (cap <= 0) return None
    val rows = df.limit(cap + 1).collect()
    if (rows.length > cap) None else Some((local(df, rows), rows))
  }

  /** [[localizeWithRows]]'s frame alone. */
  def localize(df: DataFrame, maxRows: Int): Option[DataFrame] =
    localizeWithRows(df, maxRows).map(_._1)

  /** `df` materialized so that it outlives every cache and scratch file
    * its plan reads: [[localize]]d under the cap, else an eager
    * `localCheckpoint()` — lineage cut, kept outside the CacheManager,
    * its blocks reclaimed with the returned frame. */
  def settle(df: DataFrame, maxRows: Int): DataFrame =
    localize(df, maxRows).getOrElse(df.localCheckpoint())

  /** A result bounded by construction (a global aggregate, a fixed
    * grid) collected into a local frame regardless of the cap, with its
    * known row count checked. */
  def collectExact(df: DataFrame, rows: Int): DataFrame = {
    val got = df.collect()
    require(got.length == rows, s"expected exactly $rows rows, got ${got.length}")
    local(df, got)
  }

  private def local(df: DataFrame, rows: Array[Row]): DataFrame =
    df.sparkSession.createDataFrame(rows.toSeq.asJava, df.schema)
}
