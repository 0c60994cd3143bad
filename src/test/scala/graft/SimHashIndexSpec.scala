package graft

import org.apache.spark.sql.functions._
import graft.ops.SimHashIndex

/** Lifecycle contracts of the persisted SimHash index (LshIndex's
  * Hamming twin): probe-before-append visibility, batchId replay
  * idempotence, and the lag-1 in-stream compaction — the same failure
  * paths LshIndexLifecycleSpec pins for the Jaccard family. */
class SimHashIndexSpec extends SparkSpecBase {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  // NOTE the fixture uses EXACT duplicate texts (Hamming 0): on short
  // docs a one-word edit flips many SimHash bits (few voting features —
  // the exact miscalibration q108's audit measures on this corpus), so
  // mechanics are pinned with distance-0 pairs and the detection
  // threshold curve stays q108's territory.
  private val base = docs(
    1L -> "the quick brown fox jumps over the lazy dog",
    2L -> "the quick brown fox jumps over the lazy cat",
    3L -> "completely different text about spark engines here")

  private val batch = docs(
    10L -> "the quick brown fox jumps over the lazy dog", // = doc 1
    11L -> "totally unrelated fresh content never seen before")

  private def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] =
    df.select($"doc_a", $"doc_b", $"hamming").as[(Long, Long, Int)]
      .collect().toSet

  test("probe sees the pre-batch index only; replaying a batchId append " +
    "converges; later batches see earlier ones") {
    val idx = tmpDir("simhash_replay")
    SimHashIndex.build(base, idx)
    val p1 = pairsOf(SimHashIndex.probeAndAppend(spark, idx, batch,
      batchId = Some(7L)))
    assert(p1.exists(p => p._1 == 1L && p._2 == 10L),
      s"fixture broken - doc 10 must pair with its near-dup 1: $p1")
    assert(p1.forall(p => p._2 >= 10L || p._1 >= 10L),
      s"a pair with no batch member leaked: $p1")
    def rows() = spark.read.parquet(s"$idx/bands").count()
    val n1 = rows()
    // the crash-retry: identical pairs, unchanged row counts
    val p2 = pairsOf(SimHashIndex.probeAndAppend(spark, idx, batch,
      batchId = Some(7L)))
    assert(p2 === p1, "retry emitted different pairs")
    assert(rows() === n1, "retry changed index row counts")
    // a later batch pairs with the INDEXED batch docs
    val p3 = pairsOf(SimHashIndex.probeAndAppend(spark, idx,
      docs(20L -> "totally unrelated fresh content never seen before"),
      batchId = Some(8L)))
    assert(p3.exists(p => p._1 == 11L && p._2 == 20L), s"got $p3")
  }

  test("in-stream lag-1 compaction folds older generations only and " +
    "changes no later probe (the q112 invariant)") {
    val root = tmpDir("simhash_compact")
    val idx = s"$root/idx"; val pairs = s"$root/pairs"
    val idx2 = s"$root/idx2"; val pairs2 = s"$root/pairs2" // uncompacted twin
    SimHashIndex.build(base, idx); SimHashIndex.build(base, idx2)
    val b0 = docs(10L -> "the quick brown fox jumps over the lazy dog") // = 1
    val b1 = docs(11L -> "totally unrelated fresh content never seen before")
    val b2 = docs(
      12L -> "the quick brown fox jumps over the lazy dog", // = 1, 10
      13L -> "totally unrelated fresh content never seen before") // = 11
    SimHashIndex.probeAndAppendToLog(spark, idx, b0, pairs, batchId = 0L)
    SimHashIndex.probeAndAppendToLog(spark, idx, b1, pairs, batchId = 1L)
    SimHashIndex.compact(spark, idx, keepBatch = Some(1L)) // compactEvery=2 firing
    val gens = spark.read.parquet(s"$idx/bands")
      .select($"gen".cast("string")).distinct().as[String].collect().toSet
    assert(gens === Set("base", "b1"), s"lag-1 fold broken: $gens")
    // twin without compaction; batch 2 must diverge in NOTHING
    SimHashIndex.probeAndAppendToLog(spark, idx2, b0, pairs2, batchId = 0L)
    SimHashIndex.probeAndAppendToLog(spark, idx2, b1, pairs2, batchId = 1L)
    SimHashIndex.probeAndAppendToLog(spark, idx, b2, pairs, batchId = 2L)
    SimHashIndex.probeAndAppendToLog(spark, idx2, b2, pairs2, batchId = 2L)
    def log(p: String) = spark.read.parquet(p)
      .select($"batch_id".cast("long"), $"doc_a", $"doc_b", $"hamming")
      .as[(Long, Long, Long, Int)].collect().toSet
    val batch2 = log(pairs).filter(_._1 == 2L)
    assert(batch2.exists(t => t._2 == 10L || t._3 == 10L),
      s"batch 2 must rediscover the FOLDED doc 10 through gen=base: $batch2")
    assert(batch2 === log(pairs2).filter(_._1 == 2L),
      "compacted and uncompacted ingests diverged")
  }

  test("markDeleted suppresses a doc from probe pairs; the retained " +
    "tombstone survives compact(keepBatch) + kept-batch retry; a full " +
    "compact removes rows and log") {
    val root = tmpDir("simhash_takedown")
    val idx = s"$root/idx"; val pairs = s"$root/pairs"
    SimHashIndex.build(base, idx)
    val b1 = docs(
      11L -> "the quick brown fox jumps over the lazy dog", // = doc 1
      12L -> "totally unrelated fresh content never seen before")
    SimHashIndex.probeAndAppendToLog(spark, idx, b1, pairs, batchId = 1L)
    // takedown of doc 11 (the in-flight batch's member), then the
    // in-stream lag-1 compaction fires
    SimHashIndex.markDeleted(spark, idx, Seq(11L))
    SimHashIndex.compact(spark, idx, keepBatch = Some(1L))
    assert(new java.io.File(s"$idx/tombstones").exists,
      "compact(keepBatch) cleared a tombstone naming a kept-gen doc")
    // the kept batch's crash-retry re-appends doc 11's band rows from
    // raw data — the retained tombstone must keep masking them
    SimHashIndex.probeAndAppendToLog(spark, idx, b1, pairs, batchId = 1L)
    val probe = docs(20L -> "the quick brown fox jumps over the lazy dog")
    val after = pairsOf(SimHashIndex.probeAndAppend(spark, idx, probe,
      batchId = Some(2L)))
    assert(!after.exists(p => p._1 == 11L || p._2 == 11L),
      s"taken-down doc 11 resurrected by the kept-batch retry: $after")
    assert(after.exists(p => p._1 == 1L && p._2 == 20L),
      s"unrelated near-dup pair lost: $after")
    SimHashIndex.compact(spark, idx)
    assert(spark.read.parquet(s"$idx/bands").where($"doc_id" === 11L).count() === 0,
      "full compact left the resurrected rows behind")
    assert(!new java.io.File(s"$idx/tombstones").exists,
      "full compact left the retained tombstone behind")
  }

  test("a damaged layout line in the persisted meta fails the probe " +
    "loudly instead of re-deriving pk under a default modulus") {
    val idx = tmpDir("simhash_badmeta")
    SimHashIndex.build(base, idx, SimHashIndex.Config(indexPartitions = 8))
    val meta = new org.apache.hadoop.fs.Path(idx, "_simhash_meta")
    val fs = meta.getFileSystem(spark.sessionState.newHadoopConf())
    def rewrite(f: String => String): Unit = {
      val in = fs.open(meta)
      val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      // through the Hadoop FS, so the local checksum stays valid and only
      // the content is damaged
      val out = fs.create(meta, true)
      try out.write(f(text).getBytes("UTF-8")) finally out.close()
    }
    rewrite(_.replace("indexPartitions=8", "indexPartitions=8x"))
    val e = intercept[IllegalStateException] {
      SimHashIndex.probeAndAppend(spark, idx, batch)
    }
    assert(e.getMessage.contains("_simhash_meta") &&
      e.getMessage.contains("indexPartitions=8x"), e.getMessage)
    // a meta file that lost the line altogether fails as loudly
    rewrite(_.linesIterator.filterNot(_.startsWith("indexPartitions"))
      .map(_ + "\n").mkString)
    val e2 = intercept[IllegalStateException] {
      SimHashIndex.probeAndAppend(spark, idx, batch)
    }
    assert(e2.getMessage.contains("indexPartitions"), e2.getMessage)
  }

  test("probeAndAppend on an unbuilt path fails loudly") {
    intercept[IllegalStateException] {
      SimHashIndex.probeAndAppend(spark, tmpDir("simhash_nothere"), batch)
    }
  }
}
