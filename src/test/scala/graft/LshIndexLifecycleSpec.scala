package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import graft.ops.LshIndex

/** Lifecycle contracts of the persisted LSH index beyond a single
  * build+probe: idempotent batch replay (the foreachBatch at-least-once →
  * exactly-once-on-storage story), generation compaction, and tombstone
  * deletions. These are the failure/maintenance paths a 100 TB streaming
  * corpus actually hits; each test pins the end state, not the happy path.
  */
class LshIndexLifecycleSpec extends SparkSpecBase {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  private val base = docs(
    1L -> "the quick brown fox jumps over the lazy dog",
    2L -> "the quick brown fox jumps over the lazy cat", // near-dup of 1
    3L -> "completely different text about spark engines here")

  private val batch = docs(
    10L -> "the quick brown fox jumps over the lazy dog today", // ~ 1 and 2
    11L -> "totally unrelated fresh content never seen before",
    12L -> "totally unrelated fresh content never seen before!") // ~ 11

  private def pairsOf(df: DataFrame): Set[(Long, Long, Double)] =
    df.select($"doc_a", $"doc_b", $"jaccard").as[(Long, Long, Double)]
      .collect().toSet

  private def rowCounts(idx: String): (Long, Long) =
    (spark.read.parquet(s"$idx/bands").count(),
      spark.read.parquet(s"$idx/sigs").count())

  private def parquetFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet") && f.length > 0) Seq(f)
      else Seq.empty
    walk(new java.io.File(dir))
  }

  private def fileScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
    case q: QueryStageExec        => fileScans(q.plan)
    case s: FileSourceScanExec    => Seq(s)
    case other => other.children.flatMap(fileScans)
  }

  private def scannedFiles(df: DataFrame): Long = {
    df.collect()
    fileScans(df.queryExecution.executedPlan)
      .map(_.metrics("numFiles").value).sum
  }

  // ---- replay idempotence --------------------------------------------

  test("replaying a batchId append converges: identical pairs, stable " +
    "index row counts, later batches unaffected") {
    val idx = tmpDir("lsh_replay")
    LshIndex.build(base, idx)
    val p1 = pairsOf(LshIndex.probeAndAppend(spark, idx, batch, batchId = Some(7L)))
    assert(p1.nonEmpty, "fixture produced no pairs - test is vacuous")
    val counts1 = rowCounts(idx)
    // the crash-retry: same batch, same id, index already carries gen=b7
    val p2 = pairsOf(LshIndex.probeAndAppend(spark, idx, batch, batchId = Some(7L)))
    assert(p2 === p1, "retry emitted different pairs than the first delivery")
    assert(rowCounts(idx) === counts1, "retry changed index row counts")
    // a LATER batch sees the replayed docs exactly once: a near-dup of
    // doc 11 pairs with 11 and 12, with no duplicate pair rows
    val p3 = pairsOf(LshIndex.probeAndAppend(spark, idx,
      docs(20L -> "totally unrelated fresh content never seen before today"),
      batchId = Some(8L)))
    assert(p3.map(p => (p._1, p._2)) === Set((11L, 20L), (12L, 20L)), s"got $p3")
  }

  test("ad-hoc (no batchId) appends stay at-least-once by contract: " +
    "re-running one duplicates its rows") {
    val idx = tmpDir("lsh_adhoc")
    LshIndex.build(base, idx)
    LshIndex.probeAndAppend(spark, idx, batch)
    val counts1 = rowCounts(idx)
    // documented non-idempotence — this test exists so a future change to
    // the default path is a conscious one
    LshIndex.probeAndAppend(spark, idx, batch)
    val counts2 = rowCounts(idx)
    assert(counts2._1 > counts1._1 && counts2._2 > counts1._2,
      s"ad-hoc re-append did not accumulate: $counts1 -> $counts2")
  }

  // ---- streaming-level replay ----------------------------------------

  test("nearDupIngestBatch replay leaves the pair log and index unchanged " +
    "(exactly-once on storage)") {
    val root = tmpDir("lsh_stream_replay")
    val idx = s"$root/idx"; val pairs = s"$root/pairs"
    LshIndex.build(base, idx)
    val b0 = docs(10L -> "the quick brown fox jumps over the lazy dog today")
    val b1 = docs(
      11L -> "totally unrelated fresh content never seen before",
      12L -> "totally unrelated fresh content never seen before!")
    LshIndex.probeAndAppendToLog(spark, idx, b0, pairs, batchId = 0L)
    LshIndex.probeAndAppendToLog(spark, idx, b1, pairs, batchId = 1L)
    def log() = spark.read.parquet(pairs)
      .select($"batch_id".cast("long"), $"doc_a", $"doc_b", $"jaccard")
      .as[(Long, Long, Long, Double)].collect().toSet
    val log1 = log()
    val counts1 = rowCounts(idx)
    assert(log1.exists(_._1 == 1L), "batch 1 logged no pairs - test is vacuous")
    // crash between index append and checkpoint commit → batch 1 re-delivered
    LshIndex.probeAndAppendToLog(spark, idx, b1, pairs, batchId = 1L)
    assert(log() === log1, "replay duplicated or changed pair-log rows")
    assert(rowCounts(idx) === counts1, "replay changed index row counts")
  }

  // ---- compaction -----------------------------------------------------

  test("compact folds generations back to fresh-build file counts and " +
    "probe cost, preserving probe results") {
    val idx = tmpDir("lsh_compact")
    val fresh = tmpDir("lsh_compact_fresh")
    val corpus = (1L to 200L).map(i =>
      (i, s"document $i about topic ${i % 7} alpha beta gamma delta ${i * 31}"))
      .toDF("doc_id", "text")
    LshIndex.build(corpus, idx)
    val filesAfterBuild = parquetFiles(idx).size
    // three ingest batches → up to 3 extra generations of files per table
    val batches = Seq(
      docs(1000L -> "document 3 about topic 3 alpha beta gamma delta 93"),
      docs(1001L -> "document 5 about topic 5 alpha beta gamma delta 155"),
      docs(1002L -> "document 8 about topic 1 alpha beta gamma delta 248"))
    batches.zipWithIndex.foreach { case (b, i) =>
      LshIndex.probeAndAppend(spark, idx, b, batchId = Some(i.toLong))
    }
    val filesBeforeCompact = parquetFiles(idx).size
    assert(filesBeforeCompact > filesAfterBuild,
      s"appends added no files ($filesBeforeCompact) - fixture broken")
    val probeDoc = docs(2000L -> "document 7 about topic 0 alpha beta gamma delta 217")
    val before = {
      val p = LshIndex.probePlan(spark, idx, probeDoc)
      val r = pairsOf(p.pairs); p.release(); r
    }
    LshIndex.compact(spark, idx)
    // the fresh-build reference: same corpus, same (default) layout as the
    // index under test, one generation
    LshIndex.build(corpus.unionByName(batches.reduce(_ unionByName _)), fresh)
    assert(parquetFiles(idx).size === parquetFiles(fresh).size,
      "compacted index has more files than a fresh build")
    val (after, afterScanned) = {
      val p = LshIndex.probePlan(spark, idx, probeDoc)
      val r = (pairsOf(p.pairs), scannedFiles(p.bandScan) + scannedFiles(p.sigScan))
      p.release(); r
    }
    val freshScanned = {
      val p = LshIndex.probePlan(spark, fresh, probeDoc)
      val r = scannedFiles(p.bandScan) + scannedFiles(p.sigScan)
      p.release(); r
    }
    assert(after === before, "compact changed probe results")
    assert(afterScanned === freshScanned,
      s"compacted probe scans $afterScanned files vs fresh $freshScanned")
  }

  test("in-stream compact (keepBatch lag-1) folds older generations only: " +
    "the kept batch's retry still converges and later probes see the " +
    "same world as an uncompacted twin") {
    val root = tmpDir("lsh_autocompact")
    val idx = s"$root/idx"; val pairs = s"$root/pairs"
    val idx2 = s"$root/idx2"; val pairs2 = s"$root/pairs2" // uncompacted twin
    LshIndex.build(base, idx); LshIndex.build(base, idx2)
    val b0 = docs(10L -> "the quick brown fox jumps over the lazy dog today")
    val b1 = docs(
      11L -> "totally unrelated fresh content never seen before",
      12L -> "totally unrelated fresh content never seen before!")
    // near-dups of one FOLDED doc (10, from b0) and one KEPT doc (11, b1):
    // the post-compact probe must find both through their new homes
    val b2 = docs(
      13L -> "the quick brown fox jumps over the lazy dog today!",
      14L -> "totally unrelated fresh content never seen right before")
    def ingest(i: String, p: String)(b: DataFrame, id: Long): Unit =
      LshIndex.probeAndAppendToLog(spark, i, b, p, batchId = id)
    ingest(idx, pairs)(b0, 0L); ingest(idx, pairs)(b1, 1L)
    // what the auto-compacting ingest runs after batch 1 (compactEvery=2)
    LshIndex.compact(spark, idx, keepBatch = Some(1L))
    val gens = spark.read.parquet(s"$idx/bands")
      .select($"gen".cast("string")).distinct().as[String].collect().toSet
    assert(gens === Set("base", "b1"),
      s"lag-1 compact must fold all generations but the kept one: $gens")
    // the kept batch's crash-retry, landing AFTER the compaction
    def log(p: String) = spark.read.parquet(p)
      .select($"batch_id".cast("long"), $"doc_a", $"doc_b", $"jaccard")
      .as[(Long, Long, Long, Double)].collect().toSet
    val (counts1, log1) = (rowCounts(idx), log(pairs))
    LshIndex.probeAndAppendToLog(spark, idx, b1, pairs, batchId = 1L)
    assert(rowCounts(idx) === counts1,
      "retry after compact changed index row counts - keepBatch broken")
    assert(log(pairs) === log1, "retry after compact changed the pair log")
    // batch 2 probes the compacted index and the uncompacted twin equally
    ingest(idx2, pairs2)(b0, 0L); ingest(idx2, pairs2)(b1, 1L)
    ingest(idx, pairs)(b2, 2L); ingest(idx2, pairs2)(b2, 2L)
    val batch2 = log(pairs).filter(_._1 == 2L)
    assert(batch2.nonEmpty, "batch 2 found no pairs - fixture is vacuous")
    assert(batch2.map(t => (t._2, t._3)).exists(p => p._1 == 10L || p._2 == 13L),
      s"batch 2 must rediscover the FOLDED doc 10 through gen=base: $batch2")
    assert(batch2 === log(pairs2).filter(_._1 == 2L),
      "compacted and uncompacted ingests diverged")
  }

  // ---- tombstones -----------------------------------------------------

  test("markDeleted suppresses a doc from probe pairs without rebuild; " +
    "compact drops its rows physically and clears the log") {
    val idx = tmpDir("lsh_tombstone")
    LshIndex.build(base, idx)
    // sanity: doc 1 pairs with the probe batch before deletion
    val before = {
      val p = LshIndex.probePlan(spark, idx, batch)
      val r = pairsOf(p.pairs); p.release(); r
    }
    assert(before.exists(p => p._1 == 1L || p._2 == 1L),
      s"fixture broken - no pair names doc 1: $before")
    LshIndex.markDeleted(spark, idx, Seq(1L))
    val after = {
      val p = LshIndex.probePlan(spark, idx, batch)
      val r = pairsOf(p.pairs); p.release(); r
    }
    assert(!after.exists(p => p._1 == 1L || p._2 == 1L),
      s"tombstoned doc 1 still appears in $after")
    // other pairs are untouched
    assert(after === before.filterNot(p => p._1 == 1L || p._2 == 1L))
    LshIndex.compact(spark, idx)
    assert(spark.read.parquet(s"$idx/bands").where($"doc_id" === 1L).count() === 0)
    assert(spark.read.parquet(s"$idx/sigs").where($"doc_id" === 1L).count() === 0)
    assert(!new java.io.File(s"$idx/tombstones").exists(),
      "compact left the tombstone log behind")
    // post-compact probes stay clean without consulting any tombstone
    val postCompact = {
      val p = LshIndex.probePlan(spark, idx, batch)
      val r = pairsOf(p.pairs); p.release(); r
    }
    assert(postCompact === after)
  }

  test("a takedown naming a doc in the KEPT generation survives " +
    "compact(keepBatch) and the kept batch's crash-retry: no resurrection") {
    val root = tmpDir("lsh_resurrect")
    val idx = s"$root/idx"; val pairs = s"$root/pairs"
    LshIndex.build(base, idx)
    val b0 = docs(10L -> "the quick brown fox jumps over the lazy dog today")
    val b1 = docs(
      11L -> "totally unrelated fresh content never seen before",
      12L -> "totally unrelated fresh content never seen before!")
    LshIndex.probeAndAppendToLog(spark, idx, b0, pairs, batchId = 0L)
    LshIndex.probeAndAppendToLog(spark, idx, b1, pairs, batchId = 1L)
    // takedown of doc 11 — a member of the IN-FLIGHT batch — lands just
    // before the in-stream compaction fires (compactEvery=2 after batch 1)
    LshIndex.markDeleted(spark, idx, Seq(11L))
    LshIndex.compact(spark, idx, keepBatch = Some(1L))
    // the log must RETAIN doc 11 (kept-generation member): a cleared log
    // is what allowed the resurrection
    assert(new java.io.File(s"$idx/tombstones").exists,
      "compact(keepBatch) cleared a tombstone naming a kept-gen doc")
    // the kept batch's crash-retry re-derives gen=b1 from RAW batch data,
    // physically re-appending doc 11's rows — the retained tombstone must
    // keep masking them
    LshIndex.probeAndAppendToLog(spark, idx, b1, pairs, batchId = 1L)
    val probeDoc = docs(
      20L -> "totally unrelated fresh content never seen before today")
    val afterRetry = {
      val p = LshIndex.probePlan(spark, idx, probeDoc)
      val r = pairsOf(p.pairs); p.release(); r
    }
    assert(!afterRetry.exists(p => p._1 == 11L || p._2 == 11L),
      s"taken-down doc 11 resurrected by the kept-batch retry: $afterRetry")
    assert(afterRetry.map(p => (p._1, p._2)) === Set((12L, 20L)),
      s"unrelated pairs changed: $afterRetry")
    // the next keepBatch-free compaction removes rows and log for good
    LshIndex.compact(spark, idx)
    assert(spark.read.parquet(s"$idx/sigs").where($"doc_id" === 11L).count() === 0,
      "full compact left resurrected rows behind")
    assert(!new java.io.File(s"$idx/tombstones").exists,
      "full compact left the retained tombstone behind")
    val afterFull = {
      val p = LshIndex.probePlan(spark, idx, probeDoc)
      val r = pairsOf(p.pairs); p.release(); r
    }
    assert(afterFull === afterRetry, "full compact changed probe results")
  }

  test("a markDeleted landing mid-compaction survives: deleteSnapshot " +
    "removes only the snapshotted files") {
    val idx = tmpDir("lsh_tomb_race")
    LshIndex.build(base, idx)
    val log = s"$idx/tombstones"
    LshIndex.markDeleted(spark, idx, Seq(1L))
    // the compaction's view of the log, taken at its start
    val snap = graft.ops.TombstoneLog.snapshot(spark, log)
    assert(graft.ops.TombstoneLog.read(spark, snap, "doc_id")
      .get.as[Long].collect().toSet === Set(1L))
    // a concurrent takedown appends AFTER the snapshot…
    LshIndex.markDeleted(spark, idx, Seq(2L))
    // …and the compaction's end-of-run cleanup must not discard it
    graft.ops.TombstoneLog.deleteSnapshot(spark, log, snap)
    val remaining = graft.ops.TombstoneLog.read(spark,
      graft.ops.TombstoneLog.snapshot(spark, log), "doc_id")
    assert(remaining.map(_.as[Long].collect().toSet) === Some(Set(2L)),
      "the mid-compaction takedown was lost by the cleanup")
    // second cleanup of an already-deleted snapshot: harmless no-op
    graft.ops.TombstoneLog.deleteSnapshot(spark, log, snap)
    assert(remaining.map(_.as[Long].collect().toSet) === Some(Set(2L)))
  }

  test("markDeleted on a non-index path fails loudly") {
    intercept[IllegalStateException] {
      LshIndex.markDeleted(spark, tmpDir("lsh_not_an_index"), Seq(1L))
    }
  }
}
