package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{GraphIndex, InvertedIndex, IvfIndex, LshIndex, PqIndex, SimHashIndex}

/** The generation-index fold contracts, table-driven over the six index
  * families: every family runs the same scenario through its own public
  * probe, ingest, takedown and compact entry points.
  *
  *  - Heal before skip: a crash between `Layout.swapInto`'s two renames
  *    leaves a table in `<table>.old`. The in-stream fold must restore
  *    it before deciding that nothing needs folding, and probes must
  *    then match the pre-crash results.
  *  - Kept-generation takedowns: a tombstone naming a doc of the kept
  *    (in-flight) generation survives the lag-1 fold and the kept
  *    batch's crash-retry, and the next full fold removes rows and log.
  *    LshIndexLifecycleSpec, SimHashIndexSpec and IvfIndexSpec pin this
  *    for their families; it runs here for the graph and BM25 families,
  *    and PqIndex takes no takedowns.
  *  - Fold layout: after two appended batches and a takedown, the
  *    in-stream fold (one kept batch) and the offline fold leave every
  *    generation directory with the pre-fold rows minus the tombstoned
  *    ones, in the table's column order, each file sorted on the table's
  *    cluster key, and no more files than the fold writes per generation.
  *  - Probe front end: after an append and a takedown, each probe that
  *    goes through `GenTable.touched` returns the same rows on the
  *    over-cap fallback (`spark.graft.localize.maxRows = 0`) as on the
  *    driver-local path.
  */
class GenIndexLifecycleSpec extends SparkSpecBase {
  import spark.implicits._

  /** One family under test. Index paths are `<root>/idx`; `probe`
    * probes-and-appends a batch as the given batch id and returns the
    * result; `swapTargets` are the paths a fold commits with
    * `Layout.swapInto`. */
  private case class Family(
      name: String,
      build: String => Unit,
      batch0: DataFrame,
      probe: (String, DataFrame, Long) => DataFrame,
      compact: (String, Option[Long]) => Unit,
      swapTargets: String => Seq[String],
      tables: Seq[Table],
      markDeleted: Option[((String, Seq[Long]) => Unit, Long)],
      takedown: Option[Takedown] = None)

  /** A generation table as a fold must lay it out: its path under the
    * index, the cluster key each file sorts on, the most files one
    * generation directory (`pk=*` / `gen=*` for bucketed tables) may
    * hold after the fold, the columns compared against the pre-fold rows
    * (empty for a table the fold derives, e.g. BM25's termdf and
    * docstats), and the id columns a tombstone removes rows by. */
  private case class Table(path: String => String, cluster: Seq[String],
      maxFiles: Int, rowCols: Seq[String] = Nil, ids: Seq[String] = Nil)

  /** The takedown scenario's inputs: `ingest` is the streaming per-batch
    * body (result log at `<root>/log`); `keptId` is a doc of `batch1` and
    * `twinId` its identical twin in the same batch, so the twin proves
    * the probe of `probeBatch` would find the kept doc if it were alive;
    * `matchCol` names the index-side id in a probe result, and
    * `idTable`/`idCol` hold the doc's rows. */
  private case class Takedown(
      batch1: DataFrame, probeBatch: DataFrame, matchCol: String,
      ingest: (String, DataFrame, String, Long) => Unit,
      markDeleted: (String, Seq[Long]) => Unit,
      keptId: Long, twinId: Long,
      tombsDir: String => String,
      idTable: String => String, idCol: String)

  private def texts(rows: (Long, String)*) = rows.toDF("doc_id", "text")
  private val textBase = texts(
    1L -> "the quick brown fox jumps over the lazy dog",
    2L -> "the quick brown fox jumps over the lazy cat",
    3L -> "completely different text about spark engines here")
  private val textBatch0 =
    texts(10L -> "the quick brown fox jumps over the lazy dog today")

  private def vecs(rows: (Long, Seq[Float])*) = rows.toDF("vec_id", "embedding")
  private val cents = Seq(Seq(1.0f, 0.0f), Seq(0.0f, 1.0f))

  /** The GraphIndexSpec fixture: 4-dim vectors in three loose clusters. */
  private def graphVec(i: Int): Seq[Float] =
    Seq(1.0f + (i % 3) * 0.3f, 0.5f + (i % 4) * 0.2f, 0.2f + (i % 5) * 0.1f,
      1.0f - 0.05f * i)

  /** Deterministic 64-dim vectors; the first 16 are the PQ codebook. */
  private def pqVec(i: Int): Seq[Float] =
    Seq.tabulate(PqIndex.M * PqIndex.DSUB)(j => ((i * 31 + j * 7) % 17) / 17.0f)
  private val pqBook = (0 until PqIndex.K).map(pqVec)

  private val families = Seq(
    Family("LshIndex",
      build = LshIndex.build(textBase, _),
      batch0 = textBatch0,
      probe = (p, b, id) => LshIndex.probeAndAppend(spark, p, b, batchId = Some(id)),
      compact = (p, k) => LshIndex.compact(spark, p, keepBatch = k),
      swapTargets = p => Seq(s"$p/bands", s"$p/sigs"),
      tables = Seq(
        Table(p => s"$p/bands", Seq("band", "key"), 1, Seq("band", "key", "doc_id"),
          Seq("doc_id")),
        Table(p => s"$p/sigs", Seq("doc_id"), 1, Seq("doc_id", "sh"), Seq("doc_id"))),
      markDeleted = Some((LshIndex.markDeleted(spark, _, _), 1L))),
    Family("SimHashIndex",
      build = SimHashIndex.build(textBase, _),
      batch0 = textBatch0,
      probe = (p, b, id) => SimHashIndex.probeAndAppend(spark, p, b, batchId = Some(id)),
      compact = (p, k) => SimHashIndex.compact(spark, p, keepBatch = k),
      swapTargets = p => Seq(s"$p/bands"),
      tables = Seq(Table(p => s"$p/bands", Seq("band", "key"), 1,
        Seq("doc_id", "sh", "band", "key"), Seq("doc_id"))),
      markDeleted = Some((SimHashIndex.markDeleted(spark, _, _), 1L))),
    Family("InvertedIndex",
      build = InvertedIndex.build(textBase, _),
      batch0 = textBatch0,
      probe = (p, b, id) => InvertedIndex.probeAndAppend(spark, p, b, Some(id)),
      compact = (p, k) => InvertedIndex.compact(spark, p, keepBatch = k),
      swapTargets = p => Seq(InvertedIndex.postingsPath(p),
        InvertedIndex.termdfPath(p), InvertedIndex.statsPath(p)),
      // irn is re-ranked per generation by the fold, so rows compare
      // without it
      tables = Seq(
        Table(InvertedIndex.postingsPath, Seq("term", "irn"), 1,
          Seq("term", "doc_id", "tf", "dl"), Seq("doc_id")),
        Table(InvertedIndex.termdfPath, Seq("term"), 1),
        Table(InvertedIndex.statsPath, Nil, 1)),
      markDeleted = Some((InvertedIndex.markDeleted(spark, _, _), 1L)),
      takedown = Some(Takedown(
        batch1 = texts(11L -> "totally unrelated fresh content never seen before",
          12L -> "totally unrelated fresh content never seen before"),
        probeBatch = texts(20L -> "totally unrelated fresh content never seen before"),
        matchCol = "match_id",
        ingest = (p, b, log, id) => InvertedIndex.probeAndAppendToLog(spark, p, b, log, id),
        markDeleted = InvertedIndex.markDeleted(spark, _, _), keptId = 11L, twinId = 12L,
        tombsDir = p => s"$p/tombstones", idTable = InvertedIndex.postingsPath,
        idCol = "doc_id"))),
    Family("IvfIndex",
      build = IvfIndex.buildCorpus(vecs(0L -> Seq(1.0f, 0.0f), 1L -> Seq(0.0f, 1.0f)),
        _, cents, files = 1),
      batch0 = vecs(10L -> Seq(0.9f, 0.1f)),
      probe = (p, b, id) => IvfIndex.probeAndAppend(spark, p, b, cents, Some(id)),
      compact = (p, k) => IvfIndex.compactCorpus(spark, p, files = 1, keepBatch = k),
      swapTargets = p => Seq(p),
      tables = Seq(Table(p => p, Seq("cell"), 1, Seq("vec_id", "embedding", "cell"),
        Seq("vec_id"))),
      markDeleted = Some((IvfIndex.markDeleted(spark, _, _), 0L))),
    Family("GraphIndex",
      build = p => GraphIndex.build(vecs((0L until 8L).map(i => i -> graphVec(i.toInt)): _*),
        p, k = 3, maxDeg = 6),
      batch0 = vecs(8L -> graphVec(8), 9L -> graphVec(9)),
      probe = (p, b, id) => GraphIndex.probeAndAppend(spark, p, b, Some(id),
        k = 3, beamW = 16, hops = 4),
      // maxDeg above any node's degree here, so the offline fold's
      // re-prune keeps every edge and the fold-layout rows compare exactly
      compact = (p, k) => GraphIndex.compact(spark, p, maxDeg = 64, keepBatch = k),
      // nodes and edges stage under one root and swap together
      swapTargets = p => Seq(p),
      tables = Seq(
        Table(GraphIndex.nodesPath, Seq("vec_id"), 4, Seq("vec_id", "embedding"),
          Seq("vec_id")),
        Table(GraphIndex.edgesPath, Seq("src"), 4, Seq("src", "dst", "cos"),
          Seq("src", "dst"))),
      markDeleted = Some((GraphIndex.markDeleted(spark, _, _), 0L)),
      takedown = Some(Takedown(
        batch1 = vecs(11L -> graphVec(10), 12L -> graphVec(10)),
        probeBatch = vecs(20L -> graphVec(10)),
        matchCol = "neighbor_id",
        ingest = (p, b, log, id) => GraphIndex.probeAndAppendToLog(spark, p, b, log, id,
          k = 3, beamW = 16, hops = 4),
        markDeleted = GraphIndex.markDeleted(spark, _, _), keptId = 11L, twinId = 12L,
        tombsDir = p => s"$p.tombstones", idTable = GraphIndex.nodesPath,
        idCol = "vec_id"))),
    // the IVFPQ composition: cells ride next to the codes, so folds
    // cell-cluster every generation they write
    Family("PqIndex",
      build = PqIndex.buildCodes(vecs((0L until 32L).map(i => i -> pqVec(i.toInt)): _*),
        _, pqBook, files = 2, cellCents = Some(pqBook)),
      batch0 = vecs((40L until 56L).map(i => i -> pqVec(i.toInt)): _*),
      probe = (p, b, id) => PqIndex.probeAndAppend(spark, p, b, pqBook, Some(id),
        prune = Some((pqBook, 2))),
      compact = (p, k) => PqIndex.compact(spark, p, keepBatch = k),
      swapTargets = p => Seq(p),
      tables = Seq(Table(p => p, Seq("cell"), 4,
        Seq("vec_id", "c0", "c1", "c2", "c3", "cell"))),
      markDeleted = None))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def exists(p: String): Boolean = new java.io.File(p).exists

  /** (generation, row) pairs of a table's `cols`. */
  private def genRows(table: String, cols: Seq[String]): Seq[(String, String)] =
    spark.read.parquet(table).select((cols :+ "gen").map(col): _*).collect()
      .map(r => r.getString(cols.size) -> r.toSeq.init.mkString("|")).toSeq.sorted

  /** The data files of a table, grouped by their leaf directory. */
  private def filesByDir(table: String): Map[String, Seq[java.io.File]] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new java.io.File(table)).groupBy(_.getParent)
  }

  private def cmpKey(a: Seq[Any], b: Seq[Any]): Int =
    a.zip(b).iterator.map {
      case (x: Int, y: Int) => x compare y
      case (x: Long, y: Long) => x compare y
      case (x: String, y: String) => x compare y
      case (x, y) => fail(s"unexpected cluster key types: $x, $y")
    }.find(_ != 0).getOrElse(0)

  families.foreach { f =>
    test(s"${f.name}: the in-stream fold heals a half-committed swap " +
      "before its skip check, and probes match the pre-crash results") {
      val idx = tmpDir(s"heal_${f.name}") + "/idx"
      f.build(idx)
      // first delivery of batch 0: only `base` and the kept generation
      // b0 exist, so compact(keepBatch = 0) has nothing to fold
      val first = rows(f.probe(idx, f.batch0, 0L))
      // the crash between swapInto's renames: each table sits in `.old`
      f.swapTargets(idx).foreach { t =>
        assert(new java.io.File(t).renameTo(new java.io.File(s"$t.old")), t)
      }
      f.compact(idx, Some(0L))
      f.swapTargets(idx).foreach { t =>
        assert(exists(t), s"$t not restored")
        assert(!exists(s"$t.old"), s"$t.old left behind")
      }
      // batch 0's retry probes the same pre-batch index as its first
      // delivery did
      assert(rows(f.probe(idx, f.batch0, 0L)) === first)
    }
  }

  families.filter(_.takedown.isDefined).foreach { f =>
    val t = f.takedown.get
    test(s"${f.name}: a takedown naming a doc of the kept generation " +
      "survives the lag-1 fold and the kept batch's retry") {
      val root = tmpDir(s"kept_takedown_${f.name}")
      val (idx, log) = (s"$root/idx", s"$root/log")
      f.build(idx)
      t.ingest(idx, f.batch0, log, 0L)
      t.ingest(idx, t.batch1, log, 1L)
      // the takedown lands just before the fold after batch 1
      t.markDeleted(idx, Seq(t.keptId))
      f.compact(idx, Some(1L))
      assert(exists(t.tombsDir(idx)),
        "the lag-1 fold cleared a tombstone naming a kept-generation doc")
      // the kept batch's retry re-appends the doc's rows from raw data;
      // the retained tombstone must keep masking them
      t.ingest(idx, t.batch1, log, 1L)
      def matched(batchId: Long): Set[Long] =
        f.probe(idx, t.probeBatch, batchId).select(col(t.matchCol))
          .as[Long].collect().toSet
      val afterRetry = matched(2L)
      assert(afterRetry.contains(t.twinId), s"fixture is vacuous: $afterRetry")
      assert(!afterRetry.contains(t.keptId),
        s"taken-down doc ${t.keptId} resurrected: $afterRetry")
      // the next full fold removes rows and log for good
      f.compact(idx, None)
      assert(spark.read.parquet(t.idTable(idx))
        .where(col(t.idCol) === t.keptId).count() === 0,
        "the full fold left the taken-down rows behind")
      assert(!exists(t.tombsDir(idx)), "the full fold left the tombstone behind")
      assert(!matched(3L).contains(t.keptId))
    }
  }

  for (f <- families; keep <- Seq(Some(1L), None)) {
    test(s"${f.name}: the ${keep.fold("offline")(_ => "in-stream")} fold writes each " +
      "generation once: pre-fold rows minus tombstones, files sorted on the " +
      "cluster key, within the fold's file count") {
      val idx = tmpDir(s"fold_layout_${f.name}") + "/idx"
      f.build(idx)
      val id = f.batch0.columns.head
      f.probe(idx, f.batch0, 0L)
      f.probe(idx, f.batch0.withColumn(id, col(id) + 100L), 1L)
      val dead = f.markDeleted.map { case (mark, doc) => mark(idx, Seq(doc)); doc }.toSet
      val target = (g: String) => if (keep.map(b => s"b$b").contains(g)) g else "base"
      val fileCols = f.tables.map(t =>
        spark.read.parquet(t.path(idx)).columns.filterNot(Set("pk", "gen")).toSeq)
      val before = f.tables.map { t =>
        if (t.rowCols.isEmpty) Nil
        else {
          val idIdx = t.ids.map(t.rowCols.indexOf(_))
          spark.read.parquet(t.path(idx)).select((t.rowCols :+ "gen").map(col): _*)
            .collect().filterNot(r => idIdx.exists(i => dead.contains(r.getLong(i))))
            .map(r => target(r.getString(t.rowCols.size)) -> r.toSeq.init.mkString("|"))
            .toSeq.sorted
        }
      }
      f.compact(idx, keep)
      f.tables.zip(before).zip(fileCols).foreach { case ((t, expected), cols) =>
        val table = t.path(idx)
        assert(spark.read.parquet(table).select("gen").distinct().collect()
          .map(_.getString(0)).toSet === Set("base") ++ keep.map(b => s"b$b"), table)
        if (t.rowCols.nonEmpty) assert(genRows(table, t.rowCols) === expected, table)
        filesByDir(table).foreach { case (dir, files) =>
          assert(files.size <= t.maxFiles, s"$dir holds ${files.size} files")
          files.foreach(file => assert(spark.read.parquet(file.getPath).columns.toSeq === cols,
            s"$file changed the table's column order"))
          if (t.cluster.nonEmpty) files.foreach { file =>
            val keys = spark.read.parquet(file.getPath).select(t.cluster.map(col): _*)
              .collect().map(_.toSeq)
            assert(keys.sliding(2).forall {
              case Array(a, b) => cmpKey(a, b) <= 0
              case _ => true
            }, s"$file is not sorted on ${t.cluster.mkString(", ")}")
          }
        }
      }
    }
  }

  /** A probe through the touched-bucket front end, run on an index of
    * `family` (built by `build` when given, else by the family's own
    * build) after the family's batch 0 and a takedown of doc 2;
    * `docCols` name the result's doc ids. LSH and SimHash probe-and-append
    * as batch 1, so a second run is the batch's retry and sees the same
    * index. */
  private case class FrontEnd(name: String, family: String,
      probe: String => DataFrame, docCols: Seq[String],
      build: Option[String => Unit] = None)

  private val dupBatch = texts(20L -> "the quick brown fox jumps over the lazy dog today")
  private val frontEnds = Seq(
    FrontEnd("LshIndex probe", "LshIndex",
      LshIndex.probeAndAppend(spark, _, dupBatch, batchId = Some(1L)), Seq("doc_a", "doc_b")),
    FrontEnd("SimHashIndex probe", "SimHashIndex",
      SimHashIndex.probeAndAppend(spark, _, dupBatch, batchId = Some(1L)),
      Seq("doc_a", "doc_b")),
    FrontEnd("InvertedIndex term probe", "InvertedIndex",
      InvertedIndex.probe(spark, _,
        Seq(1L -> "quick", 1L -> "fox", 2L -> "spark", 2L -> "lazy")
          .toDF("query_id", "term"), k = 3),
      Seq("doc_id")),
    FrontEnd("InvertedIndex phrase probe", "InvertedIndex",
      InvertedIndex.phraseProbe(spark, _,
        Seq(1L -> "quick brown fox", 2L -> "lazy dog").toDF("query_id", "phrase"), k = 3),
      Seq("doc_id"),
      build = Some(InvertedIndex.build(textBase, _, InvertedIndex.Config(positions = true)))))

  frontEnds.foreach { f =>
    test(s"${f.name}: the over-cap fallback of the probe front end returns " +
      "the driver-local path's rows after an append and a takedown") {
      val fam = families.find(_.name == f.family).get
      val idx = tmpDir("front_end") + "/idx"
      f.build.getOrElse(fam.build)(idx)
      fam.probe(idx, fam.batch0, 0L)
      fam.markDeleted.get._1(idx, Seq(2L))
      val key = graft.ops.Caches.MaxRowsConf
      val fallback =
        try { spark.conf.set(key, "0"); f.probe(idx).collect() }
        finally spark.conf.unset(key)
      val local = f.probe(idx).collect()
      val docs = local.flatMap(r => f.docCols.map(c => r.getAs[Long](c))).toSet
      assert(docs.contains(10L), s"fixture is vacuous: $docs")
      assert(!docs.contains(2L), s"the taken-down doc 2 was returned: $docs")
      assert(fallback.map(_.toString).sorted.toSeq === local.map(_.toString).sorted.toSeq)
    }
  }
}
