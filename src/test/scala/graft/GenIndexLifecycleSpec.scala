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
      takedown: Option[Takedown] = None)

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
      swapTargets = p => Seq(s"$p/bands", s"$p/sigs")),
    Family("SimHashIndex",
      build = SimHashIndex.build(textBase, _),
      batch0 = textBatch0,
      probe = (p, b, id) => SimHashIndex.probeAndAppend(spark, p, b, batchId = Some(id)),
      compact = (p, k) => SimHashIndex.compact(spark, p, keepBatch = k),
      swapTargets = p => Seq(s"$p/bands")),
    Family("InvertedIndex",
      build = InvertedIndex.build(textBase, _),
      batch0 = textBatch0,
      probe = (p, b, id) => InvertedIndex.probeAndAppend(spark, p, b, Some(id)),
      compact = (p, k) => InvertedIndex.compact(spark, p, keepBatch = k),
      swapTargets = p => Seq(InvertedIndex.postingsPath(p),
        InvertedIndex.termdfPath(p), InvertedIndex.statsPath(p)),
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
      swapTargets = p => Seq(p)),
    Family("GraphIndex",
      build = p => GraphIndex.build(vecs((0L until 8L).map(i => i -> graphVec(i.toInt)): _*),
        p, k = 3, maxDeg = 6),
      batch0 = vecs(8L -> graphVec(8), 9L -> graphVec(9)),
      probe = (p, b, id) => GraphIndex.probeAndAppend(spark, p, b, Some(id),
        k = 3, beamW = 16, hops = 4),
      compact = (p, k) => GraphIndex.compact(spark, p, keepBatch = k),
      // nodes and edges stage under one root and swap together
      swapTargets = p => Seq(p),
      takedown = Some(Takedown(
        batch1 = vecs(11L -> graphVec(10), 12L -> graphVec(10)),
        probeBatch = vecs(20L -> graphVec(10)),
        matchCol = "neighbor_id",
        ingest = (p, b, log, id) => GraphIndex.probeAndAppendToLog(spark, p, b, log, id,
          k = 3, beamW = 16, hops = 4),
        markDeleted = GraphIndex.markDeleted(spark, _, _), keptId = 11L, twinId = 12L,
        tombsDir = p => s"$p.tombstones", idTable = GraphIndex.nodesPath,
        idCol = "vec_id"))),
    Family("PqIndex",
      build = PqIndex.buildCodes(vecs((0L until 32L).map(i => i -> pqVec(i.toInt)): _*),
        _, pqBook, files = 2),
      batch0 = vecs((40L until 44L).map(i => i -> pqVec(i.toInt)): _*),
      probe = (p, b, id) => PqIndex.probeAndAppend(spark, p, b, pqBook, Some(id)),
      compact = (p, k) => PqIndex.compact(spark, p, keepBatch = k),
      swapTargets = p => Seq(p)))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def exists(p: String): Boolean = new java.io.File(p).exists

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
}
