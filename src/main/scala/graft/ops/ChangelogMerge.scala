package graft.ops

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Last-writer-wins changelog merge — the CDC/upsert primitive every
  * lakehouse table format runs (Delta/Iceberg/Hudi `MERGE`; Debezium →
  * table materialization). A changelog row is (key, seq, op, payload…)
  * with `op` ∈ {`u` upsert, `d` delete}; applying a changelog to a base
  * snapshot keeps, per key, the row with the highest sequence number,
  * and drops the key entirely when that winner is a delete (the
  * tombstone). A key never touched by the changelog keeps its base row.
  *
  * Spark-first shape: the merge is ONE hash shuffle. Base rows enter
  * the union at `seq = 0` (every real changelog seq is > 0), so
  * "untouched", "updated", "deleted" and "inserted" all fall out of a
  * single `row_number` window per key — no join, no second pass over
  * the snapshot. At 100 TB this beats the join spelling (base ⟕
  * winners) because the snapshot crosses the wire exactly once and the
  * window's per-key state is one row; with the base table bucketed on
  * the key, AQE keeps the changelog side's exchange and the base scan
  * stays shuffle-free. Compaction semantics follow for free: merging a
  * merged snapshot with the NEXT changelog window is the same call, so
  * the operator is its own incremental-maintenance step (idempotent
  * for retried changelog batches — max-seq is a lattice join, the same
  * convergence argument as the index generations, GenTable.scala).
  *
  * Ties on (key, seq) would make the winner order-dependent, so the
  * window tiebreaks on `op` descending ('u' > 'd': a same-seq
  * upsert+delete pair deterministically resolves to the upsert — and
  * the spec pins that callers should give ops distinct seqs). */
object ChangelogMerge {

  val SeqCol = "cl_seq"
  val OpCol = "cl_op"

  /** Apply `changelog` (same schema as `base` plus [[SeqCol]] ≥ 1 and
    * [[OpCol]]) to `base`, returning the merged snapshot (base schema
    * plus the winner's [[SeqCol]] — 0 for untouched rows — which
    * callers use for audit columns and drop for storage). A base that
    * already CARRIES a [[SeqCol]] (a compacted merge-on-read snapshot,
    * [[compact]]) keeps its per-row seqs, so a replayed delta whose seq
    * the fold already absorbed loses to the folded row instead of
    * reverting it. */
  def merge(base: DataFrame, changelog: DataFrame,
      key: Seq[String]): DataFrame = {
    val withSeq = if (base.columns.contains(SeqCol)) base
      else base.withColumn(SeqCol, lit(0L))
    val baseAsLog = if (withSeq.columns.contains(OpCol)) withSeq
      else withSeq.withColumn(OpCol, lit("u"))
    val w = Window.partitionBy(key.map(col): _*)
      .orderBy(col(SeqCol).desc, col(OpCol).desc)
    baseAsLog.unionByName(changelog)
      .withColumn("cl_rk", row_number().over(w))
      .where(col("cl_rk") === 1 && col(OpCol) === "u")
      .drop("cl_rk", OpCol)
  }

  // ------------------------------------------------- merge-on-read table
  //
  // The streaming/storage form (Hudi's MOR / Iceberg's merge-on-read
  // shape): a `base/` snapshot plus `delta/gen=N/` changelog appends —
  // one generation per micro-batch, written by the index families' one
  // generation writer (GenTable.replace) so a RETRIED batch replaces
  // exactly its own generation (their exactly-once-on-storage
  // contract). Reads merge base + deltas; compaction folds completed
  // generations into a new base that KEEPS the winner
  // seq per row, so replayed or straggling deltas at-or-below the
  // folded seq lose to the fold instead of reverting it. Contract the
  // stream must provide (the CDC reader's usual delivery guarantee):
  // generation order respects seq order — a delta gen is only folded
  // once no LATER gen can carry a SMALLER seq for a tombstoned key
  // (a tombstone's key vanishes from the folded base, so an
  // older-than-tombstone upsert arriving after the fold would
  // resurrect it; with monotone seqs that delta cannot exist).

  private def basePath(tablePath: String) = s"$tablePath/base"
  private def deltaPath(tablePath: String) = s"$tablePath/delta"

  /** Write the initial snapshot. `df` may carry [[SeqCol]] or not. */
  def writeBase(df: DataFrame, tablePath: String): Unit =
    df.write.mode("overwrite").parquet(basePath(tablePath))

  /** Append one changelog generation (idempotent in `gen`: the one
    * generation writer's replace mode, GenTable.replace, overwrites
    * exactly this generation on retry). */
  def appendDelta(df: DataFrame, tablePath: String, gen: Long): Unit =
    GenTable.replace(df, deltaPath(tablePath), GenTable.Spread.AsIs, gen.toString)

  /** A delta row's schema: `base`'s payload plus [[SeqCol]] and [[OpCol]]. */
  private def deltaSchema(base: DataFrame): StructType =
    StructType(base.schema.filterNot(f => f.name == SeqCol || f.name == OpCol))
      .add(SeqCol, "long").add(OpCol, "string")

  /** Every delta generation with its `gen`, or None when no delta was
    * ever written. Schema-bound: an all-empty generation (or a delta dir
    * whose only gens were folded away) reads as the empty relation
    * instead of throwing. */
  private def deltas(spark: SparkSession, tablePath: String,
      base: DataFrame): Option[DataFrame] = {
    val p = new HPath(deltaPath(tablePath))
    if (!p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)) None
    else Some(spark.read.schema(deltaSchema(base).add("gen", "long")).parquet(p.toString))
  }

  /** The merged view of the table: base + every live delta generation.
    * This IS the read path — O(base + deltas), one shuffle. */
  def readMerged(spark: SparkSession, tablePath: String,
      key: Seq[String]): DataFrame = {
    // self-heal a crash-interrupted compact (base/ renamed aside but its
    // staged replacement not yet in place) so reads never see a missing
    // base. RESTORE-only (healRestore, not the staged commit's healSwap):
    // the read path must not delete a racing writer's freshly staged
    // base (r14 advice).
    Layout.healRestore(spark, basePath(tablePath))
    val base = spark.read.parquet(basePath(tablePath))
    val live = deltas(spark, tablePath, base).map(_.drop("gen")).getOrElse(
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], deltaSchema(base)))
    merge(base, live, key)
  }

  /** Fold every delta generation ≤ `uptoGen` into the base (keeping
    * the winner seq per row), then drop the folded generations. Fold
    * first, delete after: a crash between the two re-applies already-
    * folded deltas onto the folded base — same winners, so the retry
    * converges (max-seq is a lattice join). The base commits through
    * the one staged commit (Layout.stagedCommit: staged beside base/,
    * swapped in rename-aside), so every crash point leaves base/ or
    * base.old/ present and re-running compact heals and retries. The
    * swap window is still not atomic for concurrent readers —
    * single-writer tables (foreachBatch is the only writer here) are
    * safe; a multi-writer deployment puts the same IndexLock writer
    * fence around this that the index families use for their folds. */
  def compact(spark: SparkSession, tablePath: String, key: Seq[String],
      uptoGen: Long): Unit = {
    val target = basePath(tablePath)
    Layout.healRestore(spark, target)
    val base = spark.read.parquet(target)
    deltas(spark, tablePath, base).foreach { live =>
      Layout.stagedCommit(spark, Seq(target))(
        merge(base, live.where(col("gen") <= uptoGen).drop("gen"), key)
          .write.mode("overwrite").parquet(Layout.staged(target)))
      val p = new HPath(deltaPath(tablePath))
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      fs.listStatus(p).filter { s =>
        val n = s.getPath.getName
        n.startsWith("gen=") &&
          scala.util.Try(n.stripPrefix("gen=").toLong).toOption.exists(_ <= uptoGen)
      }.foreach(s => fs.delete(s.getPath, true))
    }
  }
}
