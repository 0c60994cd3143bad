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
  * the build writes `gen=base`; an append with a micro-batch id writes
  * `gen=b<id>` ([[batchGen]]) via DYNAMIC partition overwrite, so a
  * foreachBatch retry of the same batch REPLACES its own generation
  * instead of duplicating rows; an append without one accumulates into
  * the shared `gen=adhoc` ([[appendGen]]; at-least-once, for one-shot
  * jobs that never retry a write). A batch's probe HIDES its own
  * generation ([[hide]] — a partition filter, pruned at listing), so a
  * retried batch probes the identical pre-batch state and emits the
  * identical result. Together with the batch-keyed result log
  * ([[writeBatchLog]]) that is exactly-once on storage for the streaming
  * ingests (StreamingPipeline's `start*Ingest`).
  *
  * Probe, then append ([[probeThenAppend]]). The probe's result is
  * materialized by one action BEFORE any append it must not observe. A
  * batch that owns a generation runs that action and its appends in ONE
  * concurrent `Par.all` round: the probe plan's listing froze at
  * construction and it hides `gen=b<id>`, the only directories the
  * appends touch. An ad-hoc append shares `gen=adhoc` with the probe's
  * scans, so it materializes first, then appends. (GraphIndex keeps a
  * serial order of its own: its reverse edges are derived from the
  * probe result.) Convergence caveat: tombstones apply at probe time, so
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
  * run the family's fold body (stage, then `Layout.swapInto`), re-append
  * the retained ids and delete exactly the snapshot. `keepBatch =
  * Some(b)` is the in-stream lag-1 form: generation `b<b>` is rewritten
  * as itself instead of folded, so batch `b`'s retry still replaces
  * exactly its own partitions and its probe (which hides `b<b>`) sees the
  * same rows it saw before the fold.
  *
  * Storage plumbing shared by the hash-bucketed families (LshIndex,
  * SimHashIndex, InvertedIndex): the `pk` + `gen` hive layout
  * ([[writePartitioned]], [[writeGens]]) and the persisted layout
  * contract ([[writeMeta]] / [[readMeta]]).
  */
private[graft] object GenTable {

  import java.nio.charset.StandardCharsets.UTF_8
  import org.apache.hadoop.fs.{Path => HPath}

  /** The generation micro-batch `batchId` owns. */
  def batchGen(batchId: Long): String = s"b$batchId"

  /** Where an append lands: its batch's own generation, or the shared
    * ad-hoc one. */
  def appendGen(batchId: Option[Long]): String = batchId.fold("adhoc")(batchGen)

  /** How an append writes: a batch replaces its own generation (dynamic
    * partition overwrite, so a retry converges), an ad-hoc append
    * accumulates. */
  def appendMode(batchId: Option[Long]): String =
    if (batchId.isDefined) "replace-gen" else "append"

  /** `df` with generation `gen` hidden — a retried batch's probe must
    * not see its own earlier append. */
  def hide(df: DataFrame, gen: Option[String]): DataFrame =
    gen.fold(df)(g => df.where(col("gen") =!= g))

  /** Run a probe's one materializing action and its generation appends
    * in the order the retry contract allows (see the object scaladoc):
    * one concurrent round for a batch that owns a generation, strict
    * materialize-then-append otherwise. Each append gets its write mode
    * ([[appendMode]]) and its generation ([[appendGen]]). */
  def probeThenAppend(batchId: Option[Long], materialize: () => DataFrame,
      appends: Seq[(String, String) => Unit]): DataFrame = {
    val jobs = appends.map(a => () => a(appendMode(batchId), appendGen(batchId)))
    var result: DataFrame = null
    if (batchId.isDefined) Par.all((() => { result = materialize(); () }) +: jobs: _*)
    else { result = materialize(); Par.all(jobs: _*) }
    result
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

    /** `df` without rows whose `cols` (default: the id column) name a
      * tombstoned id. */
    def dropTombstoned(df: DataFrame, cols: String*): DataFrame =
      tombs.fold(df) { t =>
        val id = t.columns.head
        (if (cols.isEmpty) Seq(id) else cols).foldLeft(df) { (d, c) =>
          d.join(if (c == id) t else t.withColumnRenamed(id, c), Seq(c), "left_anti")
        }
      }
  }

  /** The fold kernel (see the object scaladoc for the lifecycle).
    * `tables` are the generation tables (path, `gen` nested under `pk`)
    * the skip check globs; `heal` the `Layout.swapInto` targets a crash
    * may have left in `<target>.old` — restored BEFORE the skip, which
    * would otherwise read the missing table as an empty generation set
    * and silently no-op. The skip applies only to the in-stream form,
    * and only when `skippable` (the offline form always folds: it owes
    * the tombstone clear and the file-count re-tightening). */
  def fold(spark: SparkSession, path: String, keepBatch: Option[Long],
      tables: Seq[(String, Boolean)], heal: Seq[String], tombs: Option[Tombs],
      skippable: Boolean = true)(body: Fold => Unit): Unit = IndexLock.withWriter(path) {
    val snap = tombs.fold(Seq.empty[String])(t => TombstoneLog.snapshot(spark, t.dir))
    val dead = tombs.flatMap(t => TombstoneLog.read(spark, snap, t.idCol))
    val keepGen = keepBatch.map(batchGen)
    heal.foreach(Layout.healRestore(spark, _))
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
      body(Fold(keepGen, dead))
      tombs.foreach { t =>
        // re-append first (not in the snapshot, so the delete can't touch
        // it), then clear exactly the files this fold applied
        if (retained.nonEmpty) TombstoneLog.append(spark, t.dir, t.idCol, retained)
        TombstoneLog.deleteSnapshot(spark, t.dir, snap)
      }
    }
  }

  /** Hive-partitioned clustered write: hash-shuffle on the caller-computed
    * `__part` bucket alone (a range shuffle would pay an extra sampling
    * pass per write), then sort each task on (bucket, cluster key) — one
    * fully-sorted file per bucket directory per write, file counts
    * growing by ≤ #buckets per append. `gen` is the second partition
    * level. Modes: "overwrite" (build) wipes the table; "append"
    * accumulates into `gen`; "replace-gen" is dynamic partition
    * overwrite — exactly this write's own (pk, gen) partitions. */
  def writePartitioned(df: DataFrame, path: String, files: Int,
      mode: String, gen: String, cluster: Column*): Unit = {
    val out = df.repartition(files, col("__part"))
      .sortWithinPartitions(col("__part") +: cluster: _*)
      .withColumnRenamed("__part", "pk")
      .withColumn("gen", lit(gen))
      .write.partitionBy("pk", "gen")
    (mode match {
      case "replace-gen" =>
        out.option("partitionOverwriteMode", "dynamic").mode("overwrite")
      case m => out.mode(m)
    }).parquet(path)
  }

  /** Multi-generation STATIC-overwrite write for the fold bodies: `gen`
    * comes from the per-row `__gen` column, so a keepBatch fold lands its
    * folded `base` AND the kept generation in ONE shuffle + write job
    * instead of two serial table writes. Output shape is identical: a
    * task holds every row of its pk bucket, rows sort (pk, gen,
    * cluster…) so the writer emits one cluster-sorted file per (pk, gen)
    * directory. */
  def writeGens(df: DataFrame, path: String, files: Int,
      cluster: Column*): Unit =
    df.repartition(files, col("__part"))
      .sortWithinPartitions(col("__part") +: col("__gen") +: cluster: _*)
      .withColumnRenamed("__part", "pk")
      .withColumnRenamed("__gen", "gen")
      .write.partitionBy("pk", "gen")
      .mode("overwrite").parquet(path)

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
