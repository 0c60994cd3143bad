package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The generation-index lifecycle, owned in one place for all six
  * persisted index families (LshIndex, SimHashIndex, IvfIndex, PqIndex,
  * GraphIndex, InvertedIndex). The families keep their math —
  * signatures, band and cell keys, scoring, per-table fold bodies — and
  * route every lifecycle decision through here.
  *
  * Generations. Every index table carries a `gen` hive partition level:
  * the build writes `gen=base` ([[build]]); an append with a micro-batch
  * id writes `gen=b<id>` ([[batchGen]]) via DYNAMIC partition overwrite
  * ([[append]]), so a foreachBatch retry of the same batch REPLACES its
  * own generation instead of duplicating rows; an append without one
  * accumulates into the shared `gen=adhoc` (at-least-once, for one-shot
  * jobs that never retry a write). A batch's probe HIDES its own
  * generation ([[hide]] — a partition filter, pruned at listing), so a
  * retried batch probes the identical pre-batch state and emits the
  * identical result. Together with the batch-keyed result log
  * ([[writeBatchLog]]) that is exactly-once on storage for the streaming
  * ingests (StreamingPipeline's `start*Ingest`).
  *
  * Probe, then append ([[probeThenAppend]]). The probe's result is
  * materialized by one action BEFORE any append it must not observe:
  * [[localized]] for the returning APIs, [[toBatchLog]] for the
  * streaming ones. A batch that owns a generation runs that action and
  * its appends in ONE concurrent `Par.all` round: the probe plan's
  * listing froze at construction and it hides `gen=b<id>`, the only
  * directories the appends touch. An ad-hoc append shares `gen=adhoc`
  * with the probe's scans, so it materializes first, then appends.
  * (GraphIndex keeps a serial order of its own: its reverse edges are
  * derived from the probe result.) Convergence caveat: tombstones apply at probe time, so
  * a takedown landing between a batch's first delivery and its retry
  * makes the retry emit the post-takedown result — last-writer-wins
  * between two admissible states; quiesce takedowns for bit-stable
  * replay.
  *
  * Takedowns ([[TombstoneLog]]). `markDeleted` appends ids to the
  * family's tombstone log; probes anti-join them out at once, and the
  * next fold drops their rows physically.
  *
  * Fold ([[fold]]). Folds every generation back into one tight
  * `gen=base` under the [[IndexLock]] writer fence: snapshot the
  * tombstone log, heal a half-committed swap, skip a fold that would
  * rewrite nothing, collect the tombstoned ids of the kept generation,
  * run the family's fold body inside the one staged commit
  * (`Layout.stagedCommit`: each table is rewritten to its staged path
  * and swapped in), re-append the retained ids and delete exactly the
  * snapshot. `keepBatch = Some(b)` is the in-stream lag-1 form:
  * generation `b<b>` is rewritten as itself instead of folded, so batch
  * `b`'s retry still replaces exactly its own partitions and its probe
  * (which hides `b<b>`) sees the same rows it saw before the fold.
  *
  * Storage plumbing shared by all six families: the one generation
  * writer ([[build]], [[append]], [[Fold.write]]) and the persisted
  * layout contract ([[writeMeta]] / [[readMeta]]). A family says only
  * how its rows spread over a generation's files ([[Spread]]); the
  * writer owns the `gen` partition level, the write mode and the sort.
  * Every fold commits through `Layout.stagedCommit`, so the
  * exactly-once-on-storage argument (idempotent, batch-keyed writes over
  * a replayable source, as in Structured Streaming) lives here and in
  * Layout only.
  */
private[graft] object GenTable {

  import java.nio.charset.StandardCharsets.UTF_8
  import org.apache.hadoop.fs.{Path => HPath}

  /** The generation micro-batch `batchId` owns. */
  def batchGen(batchId: Long): String = s"b$batchId"

  /** `df` with generation `gen` hidden — a retried batch's probe must
    * not see its own earlier append. */
  def hide(df: DataFrame, gen: Option[String]): DataFrame =
    gen.fold(df)(g => df.where(col("gen") =!= g))

  /** How a family's rows spread over one write's files — the only
    * storage choice a family makes; [[write]] adds the `gen` level, the
    * mode and the sort. */
  sealed trait Spread
  object Spread {
    /** Hash-shuffle on the `part` bucket alone (a range shuffle would pay
      * an extra sampling pass per write), written as the `pk` partition
      * level above `gen`; each task sorts on (pk, gen, cluster…), so a
      * write lands one cluster-sorted file per (pk, gen) directory. */
    case class Hash(files: Int, part: Column, cluster: Column*) extends Spread
    /** Range-shuffle on the cluster key; each task sorts on (gen,
      * cluster…), so every file is cluster-sorted within its generation
      * and per-file min/max keeps pruned scans proportional to their
      * touched keys. */
    case class Range(files: Int, cluster: Column*) extends Spread
    /** Round-robin over `files` tasks, unsorted. */
    case class RoundRobin(files: Int) extends Spread
    /** One file per generation (a table of one row per generation). */
    case object Single extends Spread
    /** The input's own partitioning, unshuffled. */
    case object AsIs extends Spread
  }

  /** The one generation writer; "replace-gen" is dynamic partition
    * overwrite — exactly this write's own generations. A build or append
    * writes one literal generation, set after the shuffle so it does not
    * ride it. A `fold` maps each row's source `gen` to its target: the
    * sorted spreads key on it, so there it is set before the shuffle;
    * the unsorted ones set it after (a round-robin shuffle places rows
    * by their hash, so an offline fold spreads them as a build would). */
  private def write(df: DataFrame, path: String, spread: Spread, gen: Column,
      fold: Boolean, mode: String): Unit = {
    val keyed = fold && (spread match {
      case _: Spread.Hash | _: Spread.Range => true
      case _ => false
    })
    val rows = if (keyed) df.withColumn("gen", gen) else df
    val byGen = if (keyed) Seq(col("gen")) else Nil
    val (laid, levels) = spread match {
      case Spread.Hash(files, part, cluster @ _*) =>
        (rows.withColumn("pk", part).repartition(files, col("pk"))
          .sortWithinPartitions((col("pk") +: byGen) ++ cluster: _*), Seq("pk", "gen"))
      case Spread.Range(files, cluster @ _*) =>
        (rows.repartitionByRange(files, cluster: _*)
          .sortWithinPartitions(byGen ++ cluster: _*), Seq("gen"))
      case Spread.RoundRobin(files) => (rows.repartition(files), Seq("gen"))
      case Spread.Single => (rows.coalesce(1), Seq("gen"))
      case Spread.AsIs => (rows, Seq("gen"))
    }
    val w = (if (keyed) laid else laid.withColumn("gen", gen)).write.partitionBy(levels: _*)
    (mode match {
      case "replace-gen" =>
        w.option("partitionOverwriteMode", "dynamic").mode("overwrite")
      case m => w.mode(m)
    }).parquet(path)
  }

  /** A build: the whole table becomes one `gen=base`. */
  def build(df: DataFrame, path: String, spread: Spread): Unit =
    write(df, path, spread, lit("base"), fold = false, "overwrite")

  /** Write `df` as generation `gen`, replacing exactly that generation —
    * a retry of the same write converges. */
  def replace(df: DataFrame, path: String, spread: Spread, gen: String): Unit =
    write(df, path, spread, lit(gen), fold = false, "replace-gen")

  /** An append: micro-batch `b` replaces its own `gen=b<b>`, an ad-hoc
    * append accumulates into `gen=adhoc`. */
  def append(df: DataFrame, path: String, spread: Spread,
      batchId: Option[Long]): Unit = batchId match {
    case Some(b) => replace(df, path, spread, batchGen(b))
    case None => write(df, path, spread, lit("adhoc"), fold = false, "append")
  }

  /** Run a probe's one materializing action and its generation appends
    * (rows, table, spread) in the order the retry contract allows (see
    * the object scaladoc): one concurrent round for a batch that owns a
    * generation, strict materialize-then-append otherwise. */
  def probeThenAppend(batchId: Option[Long], materialize: () => DataFrame,
      appends: (DataFrame, String, Spread)*): DataFrame = {
    val jobs = appends.map { case (df, p, s) => () => append(df, p, s, batchId) }
    var result: DataFrame = null
    if (batchId.isDefined) Par.all((() => { result = materialize(); () }) +: jobs: _*)
    else { result = materialize(); Par.all(jobs: _*) }
    result
  }

  /** Materializer of the returning probe APIs: the result localized to
    * the driver under `maxRows`, else eagerly localCheckpoint-ed —
    * frozen pre-append, outside the CacheManager, reclaimed with the RDD
    * by the context cleaner. */
  def localized(maxRows: Int): DataFrame => DataFrame =
    df => Caches.localize(df, maxRows).getOrElse(df.localCheckpoint())

  /** Materializer of the streaming probe APIs: the result written
    * straight into the batch log ([[writeBatchLog]]) — the log write IS
    * the pre-append action, one job instead of a localize and a write.
    * Returns the empty frame. */
  def toBatchLog(batchId: Long, dir: String): DataFrame => DataFrame = { df =>
    writeBatchLog(df, batchId, dir); df.sparkSession.emptyDataFrame
  }

  /** Write a probe result into a `batch_id`-partitioned log with dynamic
    * partition overwrite — a retried batch replaces its own partition. */
  def writeBatchLog(df: DataFrame, batchId: Long, dir: String): Unit =
    df.withColumn("batch_id", lit(batchId))
      .write.partitionBy("batch_id")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(dir)

  /** A family's takedown log as the fold sees it: the log directory, the
    * id column, and the table whose kept generation the retained ids are
    * read from. */
  case class Tombs(dir: String, idCol: String, idTable: String)

  /** What a fold body works with: the kept generation (None offline) and
    * the snapshotted tombstones (one id column). */
  case class Fold(keepGen: Option[String], tombs: Option[DataFrame]) {
    /** Each row's target generation: the kept batch stays itself,
      * everything else folds to `base`. */
    def target: Column = keepGen.fold(lit("base"))(g =>
      when(col("gen") === g, col("gen")).otherwise("base"))

    /** Where the rewrite of swap target `t` is written. */
    def staged(t: String): String = Layout.staged(t)

    /** The fold's one write per table: every row of `df` (which carries
      * its source `gen`) lands in its [[target]] generation, base and
      * kept together, in one static overwrite of `path` (a staged
      * path). */
    def write(df: DataFrame, path: String, spread: Spread): Unit =
      GenTable.write(df, path, spread, target, fold = true, "overwrite")

    /** `df` without rows whose `cols` (default: the id column) name a
      * tombstoned id, in `df`'s column order (a USING join moves its key
      * first, and a fold must write the columns as the build did). */
    def dropTombstoned(df: DataFrame, cols: String*): DataFrame =
      tombs.fold(df) { t =>
        val id = t.columns.head
        (if (cols.isEmpty) Seq(id) else cols).foldLeft(df) { (d, c) =>
          d.join(if (c == id) t else t.withColumnRenamed(id, c), Seq(c), "left_anti")
        }.select(df.columns.map(col): _*)
      }
  }

  /** The fold kernel (see the object scaladoc for the lifecycle).
    * `tables` are the generation tables (path, `gen` nested under `pk`)
    * the skip check globs; `swap` the staged-commit targets, in commit
    * order: the body writes each target's replacement to
    * [[Fold.staged]]`(target)` and the fold swaps them in. A crash may
    * have left a target in `<target>.old`; it is restored BEFORE the
    * skip, which would otherwise read the missing table as an empty
    * generation set and silently no-op. The skip applies only to the
    * in-stream form, and only when `skippable` (the offline form always
    * folds: it owes the tombstone clear and the file-count
    * re-tightening). */
  def fold(spark: SparkSession, path: String, keepBatch: Option[Long],
      tables: Seq[(String, Boolean)], swap: Seq[String], tombs: Option[Tombs],
      skippable: Boolean = true)(body: Fold => Unit): Unit = IndexLock.withWriter(path) {
    val snap = tombs.fold(Seq.empty[String])(t => TombstoneLog.snapshot(spark, t.dir))
    val dead = tombs.flatMap(t => TombstoneLog.read(spark, snap, t.idCol))
    val keepGen = keepBatch.map(batchGen)
    swap.foreach(Layout.healRestore(spark, _))
    val verbatim = keepGen.isDefined && dead.isEmpty && tables
      .flatMap { case (t, nested) => genNames(spark, t, nested) }.toSet
      .subsetOf(Set("base") ++ keepGen)
    if (!(skippable && verbatim)) {
      // tombstoned ids of the kept generation — bounded by
      // min(|takedowns|, |batch|), collected before the body drops them:
      // a kept-batch retry re-derives its rows from raw batch data, so
      // the log must keep masking them
      val retained: Seq[Long] = (keepGen, dead, tombs) match {
        case (Some(g), Some(d), Some(t)) =>
          spark.read.parquet(t.idTable).where(col("gen") === g)
            .select(col(t.idCol)).join(d, Seq(t.idCol), "left_semi")
            .distinct().collect().map(_.getLong(0)).toSeq
        case _ => Seq.empty
      }
      Layout.stagedCommit(spark, swap)(body(Fold(keepGen, dead)))
      tombs.foreach { t =>
        // re-append first (not in the snapshot, so the delete can't touch
        // it), then clear exactly the files this fold applied
        if (retained.nonEmpty) TombstoneLog.append(spark, t.dir, t.idCol, retained)
        TombstoneLog.deleteSnapshot(spark, t.dir, snap)
      }
    }
  }

  /** The generation partition values present on disk — ONE driver-side
    * glob over the hive layout (no Spark job): `gen` is the leaf
    * partition level, nested under `pk=*` for the bucketed tables
    * (`nested = true`) or top-level otherwise. */
  def genNames(spark: SparkSession, table: String, nested: Boolean): Set[String] = {
    val p = new HPath(table)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Set.empty
    else {
      val pat = if (nested) new HPath(table, "*/gen=*") else new HPath(table, "gen=*")
      fs.globStatus(pat).map(_.getPath.getName.stripPrefix("gen=")).toSet
    }
  }

  /** Persist the layout contract next to the tables — probes ADOPT the
    * persisted values, so a drifted caller default cannot mis-prune. */
  def writeMeta(spark: SparkSession, metaFile: HPath,
      kv: Seq[(String, Int)]): Unit = {
    val fs = metaFile.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(metaFile, true)
    try out.write(kv.map { case (k, v) => s"$k=$v\n" }.mkString.getBytes(UTF_8))
    finally out.close()
  }

  /** Read the persisted layout. A missing meta file fails loudly (the
    * path predates its build, or is not an index of this family), and
    * so does a non-blank line that is not `key=int`: dropping it would
    * let the family fall back to a caller default and mis-prune. */
  def readMeta(spark: SparkSession, metaFile: HPath): Map[String, Int] = {
    val fs = metaFile.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(metaFile))
      throw new IllegalStateException(
        s"$metaFile missing — the index predates its build, or the path " +
          "is not an index of this family; rebuild first")
    val in = fs.open(metaFile)
    try scala.io.Source.fromInputStream(in, UTF_8.name()).getLines()
      .filter(_.trim.nonEmpty).map { l =>
        l.split("=", 2) match {
          case Array(k, v) if k.trim.nonEmpty && v.trim.toIntOption.isDefined =>
            k.trim -> v.trim.toInt
          case _ => throw new IllegalStateException(
            s"$metaFile: malformed line '$l' (want key=int) — the layout " +
              "contract is damaged; rebuild the index")
        }
      }.toMap
    finally in.close()
  }
}
