package graft

import graft.ops.ChangelogMerge
import org.apache.spark.sql.functions._

class ChangelogMergeSpec extends SparkSpecBase {
  import ChangelogMerge.{OpCol, SeqCol}

  private def base = {
    import spark.implicits._
    Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L), (4L, "d", 40L))
      .toDF("k", "v", "n")
  }

  private def log(rows: (Long, String, Long, Long, String)*) = {
    import spark.implicits._
    rows.toSeq.toDF("k", "v", "n", SeqCol, OpCol)
  }

  test("untouched keys keep their base row, updates win by seq") {
    val out = ChangelogMerge.merge(base,
      log((1L, "a1", 11L, 1L, "u"), (1L, "a2", 12L, 2L, "u"),
        (2L, "b1", 21L, 1L, "u")),
      Seq("k")).orderBy("k")
      .select("k", "v", "n", SeqCol).collect()
    assert(out.map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq ==
      Seq((1L, "a2", 12L, 2L), (2L, "b1", 21L, 1L),
        (3L, "c", 30L, 0L), (4L, "d", 40L, 0L)))
  }

  test("a winning tombstone drops the key; a later upsert revives it") {
    val out = ChangelogMerge.merge(base,
      log((2L, "b", 20L, 1L, "d"), // deleted, stays dead
        (3L, "c", 30L, 1L, "d"), (3L, "c3", 33L, 2L, "u")), // revived
      Seq("k")).orderBy("k").select("k", "v").collect()
    assert(out.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (3L, "c3"), (4L, "d")))
  }

  test("inserts of brand-new keys survive; merge is self-compacting") {
    val m1 = ChangelogMerge.merge(base,
      log((9L, "i", 90L, 1L, "u"), (1L, "a1", 11L, 1L, "u")), Seq("k"))
    // re-merge the merged snapshot with the NEXT window: same operator.
    // A merged snapshot carries winner seqs > 0, so rebase them to 0
    // (storage drops the audit column; rebasing is what a writer does).
    val m2 = ChangelogMerge.merge(
      m1.drop(SeqCol),
      log((9L, "i2", 91L, 2L, "u"), (4L, "d", 40L, 2L, "d")), Seq("k"))
      .orderBy("k").select("k", "v", "n").collect()
    assert(m2.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq((1L, "a1", 11L), (2L, "b", 20L), (3L, "c", 30L), (9L, "i2", 91L)))
  }

  test("same-seq upsert+delete pair deterministically resolves to the upsert") {
    val out = ChangelogMerge.merge(base,
      log((1L, "a1", 11L, 1L, "u"), (1L, "a", 10L, 1L, "d")), Seq("k"))
      .where(col("k") === 1L).select("v").collect()
    assert(out.map(_.getString(0)).toSeq == Seq("a1"))
  }

  test("the merge plan is one shuffle: a single Exchange over the union") {
    val plan = ChangelogMerge.merge(base,
      log((1L, "a1", 11L, 1L, "u")), Seq("k"))
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).length == 1, plan)
    assert(!plan.contains("Join"), plan)
  }

  private def snapshot(tmp: String): Seq[(Long, String, Long)] =
    ChangelogMerge.readMerged(spark, tmp, Seq("k"))
      .orderBy("k").select("k", "v", "n").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq

  test("merge-on-read table: gen appends are idempotent, folds keep " +
    "winner seqs, straggler replays cannot revert a fold") {
    val tmp = graft.ops.Scratch.tempDir("graft_clm_spec_")
    try {
      ChangelogMerge.writeBase(base, tmp)
      ChangelogMerge.appendDelta(
        log((1L, "a1", 11L, 1L, "u"), (2L, "b", 20L, 1L, "d")), tmp, gen = 0L)
      // exactly-once: re-delivering gen 0 replaces it, never doubles it
      ChangelogMerge.appendDelta(
        log((1L, "a1", 11L, 1L, "u"), (2L, "b", 20L, 1L, "d")), tmp, gen = 0L)
      ChangelogMerge.appendDelta(log((3L, "c2", 32L, 2L, "u")), tmp, gen = 1L)
      val before = snapshot(tmp)
      assert(before == Seq((1L, "a1", 11L), (3L, "c2", 32L), (4L, "d", 40L)))
      // fold gen 0; the merged view must not change
      ChangelogMerge.compact(spark, tmp, Seq("k"), uptoGen = 0L)
      assert(snapshot(tmp) == before)
      // the folded base keeps winner seqs: a REPLAYED gen-0 delta
      // (seq 1) must lose to the folded seq-1/seq-0 rows, not revert
      // anything — and a seq-0-beating update must still win
      ChangelogMerge.appendDelta(
        log((1L, "a1", 11L, 1L, "u"), (1L, "aX", 99L, 2L, "u")), tmp, gen = 2L)
      assert(snapshot(tmp) ==
        Seq((1L, "aX", 99L), (3L, "c2", 32L), (4L, "d", 40L)))
      // fold everything: the delta dir empties, the view is unchanged
      ChangelogMerge.compact(spark, tmp, Seq("k"), uptoGen = 2L)
      assert(snapshot(tmp) ==
        Seq((1L, "aX", 99L), (3L, "c2", 32L), (4L, "d", 40L)))
      // a tombstoned key stays dead across the fold
      assert(!snapshot(tmp).exists(_._1 == 2L))
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(); ()
      }
      rm(new java.io.File(tmp))
    }
  }

  test("compact commit is crash-recoverable: a swap interrupted between " +
    "renames self-heals on the next read and the next compact") {
    // regression (round-14 ADVICE medium): compact used to commit via
    // delete(base) + rename(base_next, base) — a crash between the two
    // left the table with NO base and nothing self-healed. Now it
    // commits via Layout.stagedCommit (rename-aside).
    val tmp = graft.ops.Scratch.tempDir("graft_clm_crash_")
    try {
      ChangelogMerge.writeBase(base, tmp)
      ChangelogMerge.appendDelta(log((1L, "a1", 11L, 1L, "u")), tmp, gen = 0L)
      val expect = Seq((1L, "a1", 11L), (2L, "b", 20L),
        (3L, "c", 30L), (4L, "d", 40L))
      assert(snapshot(tmp) == expect)
      // simulate the crash point INSIDE swapInto: base moved aside to
      // base.old, replacement not yet renamed in — base/ is missing
      val fs = new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(spark.sessionState.newHadoopConf())
      assert(fs.rename(new org.apache.hadoop.fs.Path(s"$tmp/base"),
        new org.apache.hadoop.fs.Path(s"$tmp/base.old")))
      // reads self-heal (restore base from base.old) instead of failing
      assert(snapshot(tmp) == expect)
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$tmp/base")))
      // crash again, this time recover via the compaction path itself
      assert(fs.rename(new org.apache.hadoop.fs.Path(s"$tmp/base"),
        new org.apache.hadoop.fs.Path(s"$tmp/base.old")))
      ChangelogMerge.compact(spark, tmp, Seq("k"), uptoGen = 0L)
      assert(snapshot(tmp) == expect)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$tmp/base.old")))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$tmp/base.compacting")))
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(); ()
      }
      rm(new java.io.File(tmp))
    }
  }

  test("streaming ingest through startChangelogIngest converges to the " +
    "batch merge with mid-stream compaction") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = graft.ops.Scratch.tempDir("graft_clm_stream_")
    try {
      ChangelogMerge.writeBase(base, tmp)
      val mem = MemoryStream[(Long, String, Long, Long, String)]
      val q = graft.streaming.StreamingPipeline.startChangelogIngest(
        mem.toDF().toDF("k", "v", "n", ChangelogMerge.SeqCol,
          ChangelogMerge.OpCol),
        tablePath = tmp, checkpointDir = s"$tmp/ckpt", key = Seq("k"),
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0),
        compactEvery = Some(2))
      try {
        mem.addData(Seq((1L, "a1", 11L, 1L, "u"), (2L, "b", 20L, 1L, "d")))
        q.processAllAvailable()
        mem.addData(Seq((3L, "c2", 32L, 2L, "u"), (9L, "i", 90L, 2L, "u")))
        q.processAllAvailable() // batchId 1: lag-1 fold of gen 0 fires
        mem.addData(Seq((2L, "b3", 23L, 3L, "u"))) // revive after fold
        q.processAllAvailable()
      } finally q.stop()
      assert(snapshot(tmp) == Seq((1L, "a1", 11L), (2L, "b3", 23L),
        (3L, "c2", 32L), (4L, "d", 40L), (9L, "i", 90L)))
      // the fold really happened: gen 0 is gone from the delta dir
      val gens = Option(new java.io.File(s"$tmp/delta").listFiles())
        .getOrElse(Array.empty).map(_.getName).filter(_.startsWith("gen="))
      assert(!gens.contains("gen=0") && gens.nonEmpty)
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(); ()
      }
      rm(new java.io.File(tmp))
    }
  }
}
