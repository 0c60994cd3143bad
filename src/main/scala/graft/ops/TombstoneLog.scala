package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** File-listing discipline for the index tombstone logs of the five
  * families that take takedowns (LshIndex, SimHashIndex, IvfIndex,
  * GraphIndex, InvertedIndex; PqIndex keeps none). GenTable.fold is the
  * one compactor that applies it. Two compaction races motivate it:
  *
  *  1. A `markDeleted` landing DURING a compaction — after the
  *     compaction's tombstone read but before its end-of-run cleanup —
  *     must not be discarded: the old "delete the whole log directory"
  *     cleanup silently dropped it without ever applying it. The
  *     compactor instead SNAPSHOTS the log's file listing at start,
  *     applies exactly that snapshot, and deletes exactly those files at
  *     the end; a file appended mid-compaction survives untouched and is
  *     applied by the next probe/compaction.
  *
  *  2. The lag-1 `keepBatch` contract: the kept (in-flight) generation
  *     is rewritten rather than folded so its replace-gen retry stays
  *     idempotent — but a retry re-derives the generation's rows from
  *     RAW batch data, so any tombstoned doc in that batch would be
  *     re-appended. Clearing the log would then RESURRECT the doc both
  *     physically and at probe time. The compactor therefore RETAINS
  *     (re-appends post-snapshot) every tombstone whose id occurs in the
  *     kept generation; probes keep masking the doc, and a later
  *     compaction with no keepBatch removes rows and log entry for good.
  *
  * Probes and folds mask takedowns the same way ([[mask]]): an anti join
  * of the log's ids, size-hinted ([[hinted]]), out of each id column.
  *
  * Only non-hidden files count as log content (`_SUCCESS` markers and
  * dot-files are ignored for reads but swept with their snapshot).
  */
object TombstoneLog {

  private def fsOf(spark: SparkSession, dir: String): (FileSystem, HPath) = {
    val p = new HPath(dir)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** On-disk bytes of the log files backing a tombstone frame — the
    * broadcast/shuffle decision input. Driver-side metadata, no job. */
  private def filesBytes(spark: SparkSession, files: Seq[String]): Long =
    files.headOption.fold(0L) { h =>
      val fs = new HPath(h).getFileSystem(spark.sessionState.newHadoopConf())
      files.map(f => fs.getFileStatus(new HPath(f)).getLen).sum
    }

  private def dirBytes(spark: SparkSession, dir: String): Long = {
    val (fs, p) = fsOf(spark, dir)
    if (!fs.exists(p)) 0L
    else fs.listStatus(p).filter(_.isFile).map(_.getLen).sum
  }

  /** Attach the join-strategy hint the log's SIZE justifies: broadcast
    * while the on-disk log fits Spark's `autoBroadcastJoinThreshold`
    * (10 MB by default; `-1` never broadcasts), shuffle-hash once it
    * doesn't. The family contract assumes takedown volume ≪ compaction
    * cadence; nothing enforces it, so above the budget the joins DEGRADE
    * to a shuffle hash join instead of shipping an unbounded hash
    * relation to every executor. The hint rides the frame, so every
    * downstream anti/semi join — single-key or renamed pair-key —
    * inherits the bounded posture without each call site re-deciding. */
  private def hinted(spark: SparkSession, df: DataFrame, bytes: Long): DataFrame =
    if (bytes <= spark.sessionState.conf.autoBroadcastJoinThreshold)
      org.apache.spark.sql.functions.broadcast(df)
    else df.hint("shuffle_hash")

  /** The whole log directory's ids as a size-hinted one-column frame
    * ([[hinted]]), or None when no log exists — the PROBE-side read
    * every family's [[mask]] takes. */
  def readDir(spark: SparkSession, dir: String, idCol: String): Option[DataFrame] = {
    val (fs, p) = fsOf(spark, dir)
    if (!fs.exists(p)) None
    else Some(hinted(spark,
      spark.read.parquet(dir).select(idCol).distinct(), dirBytes(spark, dir)))
  }

  /** `df` without rows whose `cols` (default: the log's id column) name
    * a tombstoned id — one anti join per column against `tombs` (a
    * [[readDir]] / [[read]] frame, whose join hint each join keeps), in
    * `df`'s column order (a USING join moves its key first). No log
    * (`None`) leaves `df` as it is. */
  def mask(df: DataFrame, tombs: Option[DataFrame], cols: String*): DataFrame =
    tombs.fold(df) { t =>
      val id = t.columns.head
      (if (cols.isEmpty) Seq(id) else cols).foldLeft(df) { (d, c) =>
        d.join(if (c == id) t else t.withColumnRenamed(id, c), Seq(c), "left_anti")
      }.select(df.columns.map(org.apache.spark.sql.functions.col): _*)
    }

  /** Append `ids` to the log as one new file (a takedown, or a fold
    * re-appending the ids it retains). */
  def append(spark: SparkSession, dir: String, idCol: String, ids: Seq[Long]): Unit = {
    import spark.implicits._
    ids.toDF(idCol).coalesce(1).write.mode("append").parquet(dir)
  }

  /** The log's current file listing — the unit a compaction applies and
    * later deletes. Empty when the log directory doesn't exist. */
  def snapshot(spark: SparkSession, dir: String): Seq[String] = {
    val (fs, p) = fsOf(spark, dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.filter(_.isFile).map(_.getPath.toString)
  }

  /** The snapshot's ids as a size-hinted one-column frame ([[hinted]] —
    * broadcast while small, shuffle-hash above the budget), or None when
    * the snapshot holds no data files. */
  def read(spark: SparkSession, snap: Seq[String], idCol: String): Option[DataFrame] = {
    val data = snap.filter { f =>
      val n = new HPath(f).getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    if (data.isEmpty) None
    else Some(hinted(spark,
      spark.read.parquet(data: _*).select(idCol).distinct(),
      filesBytes(spark, data)))
  }

  /** Delete exactly the snapshot's files (and the directory, if the
    * snapshot emptied it) — files appended after the snapshot survive. */
  def deleteSnapshot(spark: SparkSession, dir: String, snap: Seq[String]): Unit = {
    if (snap.nonEmpty) {
      val (fs, p) = fsOf(spark, dir)
      snap.foreach(f => fs.delete(new HPath(f), false))
      // Drop the directory only when nothing (no concurrent append)
      // remains: probes treat "directory absent" as "no tombstones".
      if (fs.exists(p) && fs.listStatus(p).isEmpty) { fs.delete(p, true); () }
    }
  }
}
