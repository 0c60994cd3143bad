package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Write-side data layout for scan pruning — the storage half of the
  * 100 TB read story. Parquet keeps min/max statistics per row group and
  * per file; a filtered scan can skip a unit entirely iff the data is
  * CLUSTERED so each unit covers a narrow slice of the filter column.
  * A hash-partitioned write (the shuffle default) scatters every key
  * range across every file and makes those stats useless — a range-based
  * filter then reads the whole table no matter what the planner pushes
  * down.
  *
  * `clusteredWrite` = `repartitionByRange` (range-partitioned shuffle
  * with a sampled range boundary estimation — one pass, no global sort)
  * + `sortWithinPartitions` (so row groups WITHIN a file are also
  * disjoint) + parquet write. The result: file- and row-group-level
  * min/max on the clustering columns are pairwise disjoint, so a pushed
  * range predicate prunes proportionally to its selectivity. This is the
  * single-column form of the layout families (Z-order etc.) used for
  * multi-column pruning.
  */
object Layout {

  /** Write `df` to `path` as parquet clustered on `cols`: `files` range
    * partitions, rows sorted by `cols` within each. Returns nothing; the
    * layout contract (disjoint per-file key ranges) is pinned by
    * LayoutSpec reading the written footers.
    *
    * `mode = "append"` is the incremental-ingest form: each append adds
    * `files` NEW files whose key ranges are disjoint among themselves
    * (they range-partition the batch, not the table), so per-file min/max
    * pruning keeps working as the table grows — a range predicate reads
    * ≤ its selectivity's worth of every generation's files. Periodic
    * compaction (rewrite with "overwrite") restores one-generation
    * tightness when file counts accumulate. */
  def clusteredWrite(df: DataFrame, path: String, files: Int, cols: Column*): Unit =
    clusteredWrite(df, path, files, "overwrite", cols: _*)

  def clusteredWrite(df: DataFrame, path: String, files: Int, mode: String,
      cols: Column*): Unit =
    df.repartitionByRange(files, cols: _*)
      .sortWithinPartitions(cols: _*)
      .write.mode(mode).parquet(path)

  /** The shared compaction commit, used by [[compact]] and by every
    * index family's fold body (GenTable.fold): rename-ASIDE, not
    * delete-first — `target` → `target.old`, `staged` → `target`, then
    * drop `.old`. At no point is the data deleted before its
    * replacement is in place, so every crash point leaves a recoverable
    * state, and [[healSwap]] (run at the START of each compaction)
    * repairs it mechanically — which makes "re-run compact" a TRUE
    * recovery instruction. A production deployment commits via a
    * manifest instead; this is the strongest filesystem-only form.
    *
    * CONCURRENT READERS, however, are outside this contract: between
    * the two renames the target path transiently does not exist (and on
    * object stores with copy-based rename the window widens to a full
    * copy), so an out-of-band probe or markDeleted existence check
    * racing a compaction of the SAME index can fail spuriously —
    * healSwap repairs crashes, not races. Callers must serialize
    * probes/takedowns against compaction of one index (the in-stream
    * auto-compaction satisfies this for free: foreachBatch runs ingest
    * and compaction on one serialized thread). Lifting that restriction
    * is the manifest-commit upgrade path: readers resolve a manifest
    * pointer and never dereference a renamed directory. */
  def swapInto(spark: org.apache.spark.sql.SparkSession, staged: String,
      target: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val (cur, stg, old) = (new org.apache.hadoop.fs.Path(target),
      new org.apache.hadoop.fs.Path(staged),
      new org.apache.hadoop.fs.Path(s"$target.old"))
    val fs = cur.getFileSystem(conf)
    if (fs.exists(old)) fs.delete(old, true) // stale .old from a crash
    if (!fs.rename(cur, old))
      throw new IllegalStateException(
        s"swapInto: cannot move $target aside - target untouched; re-run compact")
    if (!fs.rename(stg, cur)) {
      fs.rename(old, cur) // roll back; target restored
      throw new IllegalStateException(
        s"swapInto: cannot move $staged into place - original restored; re-run compact")
    }
    fs.delete(old, true); ()
  }

  /** READ-side repair of a half-committed [[swapInto]]: restore the
    * target from `target.old` when the crash happened between the two
    * renames — and do NOTHING else. Unlike [[healSwap]] this never
    * deletes staged or stale directories, so it is safe on a READ path
    * that may race an in-flight writer-side compaction (outside the
    * documented single-writer serialization): a reader running the full
    * healSwap could delete the writer's freshly staged directory and
    * fail its swapInto spuriously (r14 advice). Writers keep calling
    * [[healSwap]] at compaction entry, where the single-writer fence
    * makes the stale-dir cleanup safe. */
  def healRestore(spark: org.apache.spark.sql.SparkSession,
      target: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val cur = new org.apache.hadoop.fs.Path(target)
    val old = new org.apache.hadoop.fs.Path(s"$target.old")
    val fs = cur.getFileSystem(conf)
    if (!fs.exists(cur) && fs.exists(old)) {
      if (!fs.rename(old, cur))
        throw new IllegalStateException(
          s"healRestore: cannot restore $target from $target.old")
    }
  }

  /** Repair a half-committed [[swapInto]] before compacting again:
    *  - `target` missing but `target.old` present (crash between the two
    *    renames): restore the original — the compaction simply re-runs;
    *  - stale `staged`/`target.old` next to an intact `target`: drop
    *    them (dead staging from an interrupted run).
    * Idempotent; call with the staged path a new compaction will use. */
  def healSwap(spark: org.apache.spark.sql.SparkSession, staged: String,
      target: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val (cur, stg, old) = (new org.apache.hadoop.fs.Path(target),
      new org.apache.hadoop.fs.Path(staged),
      new org.apache.hadoop.fs.Path(s"$target.old"))
    val fs = cur.getFileSystem(conf)
    if (!fs.exists(cur) && fs.exists(old)) {
      if (!fs.rename(old, cur))
        throw new IllegalStateException(
          s"healSwap: cannot restore $target from $target.old")
    }
    if (fs.exists(cur)) {
      if (fs.exists(stg)) { fs.delete(stg, true); () }
      if (fs.exists(old)) { fs.delete(old, true); () }
    }
  }

  /** Fold an append-grown clustered layout back to ONE tight generation:
    * each append range-partitioned only its own batch, so after N ingest
    * batches a range predicate still prunes correctly but pays ~N files
    * per key range. One full rewrite (the same one-pass range shuffle as
    * [[clusteredWrite]]) restores `files` globally-disjoint files — run
    * off the ingest path at whatever cadence keeps per-range file counts
    * bounded. Commits via [[swapInto]] after a [[healSwap]], so a crash
    * at any point is recovered by re-running compact. */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
      files: Int, cols: Column*): Unit = {
    val staged = s"$path.compacting"
    healSwap(spark, staged, path)
    clusteredWrite(spark.read.parquet(path), staged, files, "overwrite", cols: _*)
    swapInto(spark, staged, path)
  }

  /** Multi-column Z-ORDER write: single-column clustering serves one
    * predicate column and scatters every other — `clusteredWrite` on
    * user_id makes an event_id range read the whole table. Z-ordering
    * interleaves the bits of each column's RANK so a row group covers a
    * small hyper-rectangle of the key space: a range predicate on ANY of
    * the clustering columns overlaps ~n^((d-1)/d) of n row groups instead
    * of all of them.
    *
    * Ranks, not raw values: bit-interleaving raw values degenerates under
    * skew or mismatched ranges (a column spanning 0..10^15 hogs every
    * high bit). Per-column rank buckets come from ONE multi-column
    * `approxQuantile` pass over a `sampleFraction` sample (the same
    * sampling `repartitionByRange` does internally) whose boundaries
    * embed into the plan as literals — bucket assignment is then a pure
    * in-row expression, no join, no shuffle beyond the final range
    * partition. One sampled pass, not d full-table passes: quantile
    * boundaries only steer layout, so sampling error costs a little
    * pruning selectivity, never correctness. A degenerate sample (empty —
    * toy-sized input) falls back to the full table, still one pass.
    *
    * `bits` rank bits per column (default 8 = 256 buckets/column; with
    * d columns the z-value is d·bits wide). Boundary lookup is a
    * BINARY-SEARCH `when` tree over the 2^bits-1 literal boundaries —
    * `bits` comparisons per row, fully inside whole-stage codegen. The
    * first version used an `aggregate` fold instead; ArrayAggregate is
    * a CodegenFallback higher-order function, and with the fold
    * replicated into every interleave term the write was evaluating
    * thousands of INTERPRETED expression steps per row — measured 173 s
    * for a 1M-row rewrite at sf1 vs ~12 s with the search tree. */
  def zorderWrite(df: DataFrame, path: String, files: Int,
      cols: Seq[String], bits: Int = 8, sampleFraction: Double = 0.1): Unit = {
    val buckets = (1 << bits) - 1 // boundary count; bucket ids 0..2^bits-1
    val probs = (1 to buckets).map(_.toDouble / (buckets + 1)).toArray
    val slim = df.select(cols.map(col): _*)
    def quantiles(src: DataFrame): Array[Array[Double]] =
      src.stat.approxQuantile(cols.toArray, probs, 0.001)
    val sampled = quantiles(slim.sample(sampleFraction, 42L))
    val perCol = if (sampled.exists(_.isEmpty)) quantiles(slim) else sampled
    val zcols = cols.zip(perCol).map { case (c, raw) =>
      val bounds = raw.distinct.sorted
      // rank bucket = #boundaries <= value: binary search, answer in
      // [lo, hi]; v >= bounds(mid) ⇒ at least mid+1 boundaries ≤ v.
      // A null value fails every comparison and lands in bucket 0 —
      // the same bucket the old fold assigned it.
      def search(v: Column, lo: Int, hi: Int): Column =
        if (lo == hi) lit(lo)
        else {
          val mid = (lo + hi) / 2
          when(v >= bounds(mid), search(v, mid + 1, hi))
            .otherwise(search(v, lo, mid))
        }
      search(col(c).cast("double"), 0, bounds.length)
    }
    // interleave: bit j of column i lands at position j*d + i
    val d = cols.size
    val z = (0 until bits).flatMap { j =>
      zcols.zipWithIndex.map { case (bc, i) =>
        shiftleft(shiftright(bc, j).bitwiseAND(lit(1)).cast("long"), j * d + i)
      }
    }.reduce(_ + _)
    df.withColumn("__z", z)
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }
}
