package graft

import graft.ops.IvfIndex
import graft.queries.{ExtQueries, Queries}
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Persisted-centroid IVF: training writes the coarse quantizer once,
  * queries read it back — and the persisted spelling must return exactly
  * what the declared q54 (which re-derives centroids in-query) returns. */
class IvfIndexSpec extends SparkSpecBase {

  test("annIvfPersisted over written centroids ≡ declared q54") {
    val path = tmpDir("ivf_centroids")
    IvfIndex.writeCentroids(
      Tables.embeddings(spark, sf0001).where(col("vec_id") < 16)
        .select(col("vec_id").as("centroid_id"), col("embedding")),
      path)
    val persisted = ExtQueries.annIvfPersisted(spark, sf0001, path).collect()
    val declared = Queries.all.find(_.name == "q54_ann_ivf").get
      .fn(spark, sf0001).collect()
    assert(persisted.toSeq == declared.toSeq)
  }

  test("loadCentroids preserves order and refuses unbounded tables") {
    val path = tmpDir("ivf_centroids_order")
    IvfIndex.writeCentroids(
      Tables.embeddings(spark, sf0001).where(col("vec_id") < 16)
        .select(col("vec_id").as("centroid_id"), col("embedding")),
      path)
    val cents = IvfIndex.loadCentroids(spark, path)
    assert(cents.size == 16)
    // order matches centroid_id order (cell ids depend on it)
    val direct = Tables.embeddings(spark, sf0001).where(col("vec_id") < 16)
      .orderBy(col("vec_id")).select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toSeq).toSeq
    assert(cents == direct)
    intercept[IllegalArgumentException] {
      IvfIndex.loadCentroids(spark, path, maxK = 8)
    }
  }

  test("kmeansTrain converges to the obvious cluster means on separable " +
    "data and empty cells keep their previous centroid") {
    import spark.implicits._
    // two tight clusters around +x and +y; seed = first 2 vectors, one
    // drawn from each cluster
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)), (1L, Seq(0.0f, 1.0f, 0.1f)),
      (2L, Seq(0.9f, 0.1f, 0.0f)), (3L, Seq(0.1f, 0.9f, 0.0f)),
      (4L, Seq(0.95f, 0.0f, 0.05f)), (5L, Seq(0.0f, 0.95f, 0.05f)))
      .toDF("vec_id", "embedding")
    val cents = IvfIndex.kmeansTrain(vecs, k = 2, iters = 2)
    assert(cents.size == 2)
    // cluster 0 (x-dominant) mean of vecs 0,2,4; cluster 1 of 1,3,5
    def approx(a: Seq[Float], b: Seq[Float]) =
      a.zip(b).forall { case (x, y) => math.abs(x - y) < 1e-5 }
    assert(approx(cents(0), Seq(0.95f, 0.1f / 3, 0.05f / 3)), s"got ${cents(0)}")
    assert(approx(cents(1), Seq(0.1f / 3, 0.95f, 0.05f)), s"got ${cents(1)}")
    // trained quantizer drops into the assignment expression unchanged
    val cells = vecs.withColumn("cell",
      IvfIndex.cellOf(spark, col("embedding"), cents))
      .select($"vec_id", $"cell").as[(Long, Int)].collect().toMap
    assert(cells == Map(0L -> 0, 2L -> 0, 4L -> 0, 1L -> 1, 3L -> 1, 5L -> 1))

    // identical vectors: every row ties to the HIGHER cell (the ANN tie
    // rule), so cell 0 empties and must keep its previous centroid
    val same = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(1.0f, 0.0f)),
      (2L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val c2 = IvfIndex.kmeansTrain(same, k = 2, iters = 1)
    assert(c2(0) == Seq(1.0f, 0.0f), "empty cell 0 keeps its seed centroid")
    assert(c2(1) == Seq(1.0f, 0.0f))
  }

  test("trainAndWrite roundtrips: loadCentroids returns the trained " +
    "quantizer exactly") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)),
      (2L, Seq(0.8f, 0.2f)), (3L, Seq(0.2f, 0.8f)))
      .toDF("vec_id", "embedding")
    val path = tmpDir("ivf_trained")
    val trained = IvfIndex.trainAndWrite(vecs, path, k = 2, iters = 2)
    assert(IvfIndex.loadCentroids(spark, path) == trained)
  }

  test("probeAndAppend: probes see the PRE-batch corpus only, appends " +
    "land in their own generation, later batches see earlier ones") {
    import spark.implicits._
    val path = tmpDir("ivf_ingest")
    val cents = Seq(Seq(1.0f, 0.0f), Seq(0.0f, 1.0f))
    val base = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    IvfIndex.buildCorpus(base, path, cents, files = 1)
    // batch 0 probes before its own append: neighbors are base only
    val b0 = Seq((10L, Seq(0.9f, 0.1f))).toDF("vec_id", "embedding")
    val ann0 = IvfIndex.probeAndAppend(spark, path, b0, cents, Some(0L), k = 3)
      .collect()
    assert(ann0.map(_.getLong(2)).toSet == Set(0L, 1L),
      s"batch 0 must not see itself: ${ann0.toSeq}")
    // batch 1 sees base + batch 0 through the persisted corpus
    val b1 = Seq((20L, Seq(0.95f, 0.05f))).toDF("vec_id", "embedding")
    val ann1 = IvfIndex.probeAndAppend(spark, path, b1, cents, Some(1L), k = 3)
      .collect()
    assert(ann1.map(_.getLong(2)).toSet == Set(0L, 1L, 10L))
    // cosine order for (0.95, 0.05): base (1,0) ≈ .9986 > batch-0
    // (0.9, 0.1) ≈ .9984 > base (0,1) ≈ .053
    assert(ann1.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq == Seq(0L, 10L, 1L))
    val gens = spark.read.parquet(path).groupBy("gen").count()
      .as[(String, Long)].collect().toMap
    assert(gens == Map("base" -> 2L, "b0" -> 1L, "b1" -> 1L))
  }

  test("vectorIngestBatch replay converges: corpus generations and the " +
    "batch's ANN log partition are unchanged after a re-delivery") {
    import spark.implicits._
    val path = tmpDir("ivf_replay")
    val annDir = tmpDir("ivf_replay_ann")
    val cents = Seq(Seq(1.0f, 0.0f), Seq(0.0f, 1.0f))
    val base = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    IvfIndex.buildCorpus(base, path, cents, files = 1)
    val b0 = Seq((10L, Seq(0.9f, 0.1f)), (11L, Seq(0.1f, 0.9f)))
      .toDF("vec_id", "embedding")
    def snap(p: String): Seq[String] =
      spark.read.parquet(p).collect().map(_.toString).sorted.toSeq
    IvfIndex.probeAndAppendToLog(spark, path, b0, annDir, cents, batchId = 0L)
    val (corpus1, log1) = (snap(path), snap(annDir))
    // the crash-retry: same batch id, same data, re-delivered
    IvfIndex.probeAndAppendToLog(spark, path, b0, annDir, cents, batchId = 0L)
    assert(snap(path) == corpus1, "retry must replace its generation, not append")
    assert(snap(annDir) == log1, "retry must replace its log partition")
    // and the retry's probe saw the pre-batch corpus: no self-pairs ever
    val neighbors = spark.read.parquet(annDir)
      .select($"neighbor_id").as[Long].collect().toSet
    assert(neighbors == Set(0L, 1L), s"probe leaked its own batch: $neighbors")
  }

  test("compactCorpus (keepBatch lag-1) folds older generations only; " +
    "the kept batch's retry converges and later probes are unchanged") {
    import spark.implicits._
    val path = tmpDir("ivf_compact")
    val annDir = tmpDir("ivf_compact_ann")
    val cents = Seq(Seq(1.0f, 0.0f), Seq(0.0f, 1.0f))
    val base = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    IvfIndex.buildCorpus(base, path, cents, files = 1)
    val b0 = Seq((10L, Seq(0.9f, 0.1f))).toDF("vec_id", "embedding")
    val b1 = Seq((11L, Seq(0.1f, 0.9f))).toDF("vec_id", "embedding")
    IvfIndex.probeAndAppendToLog(spark, path, b0, annDir, cents, batchId = 0L)
    IvfIndex.probeAndAppendToLog(spark, path, b1, annDir, cents, batchId = 1L)
    // what startVectorIngest(compactEvery=2) runs after batch 1
    IvfIndex.compactCorpus(spark, path, files = 1, keepBatch = Some(1L))
    val gens = spark.read.parquet(path)
      .select($"gen".cast("string")).distinct().as[String].collect().toSet
    assert(gens == Set("base", "b1"), s"lag-1 fold broken: $gens")
    def snap(p: String): Seq[String] =
      spark.read.parquet(p).collect().map(_.toString).sorted.toSeq
    val (corpus1, log1) = (snap(path), snap(annDir))
    // the kept batch's crash-retry, landing AFTER the compaction
    IvfIndex.probeAndAppendToLog(spark, path, b1, annDir, cents, batchId = 1L)
    assert(snap(path) == corpus1, "retry after compact changed the corpus")
    assert(snap(annDir) == log1, "retry after compact changed the ANN log")
    // a later batch must see base + folded b0 + kept b1
    val b2 = Seq((20L, Seq(0.7f, 0.7f))).toDF("vec_id", "embedding")
    val ann2 = IvfIndex.probeAndAppend(spark, path, b2, cents, Some(2L), k = 4)
      .collect()
    assert(ann2.map(_.getLong(2)).toSet == Set(0L, 1L, 10L, 11L),
      s"post-compact probe lost rows: ${ann2.toSeq}")
  }

  test("a takedown naming a vector in the KEPT generation survives " +
    "compactCorpus(keepBatch) and the kept batch's crash-retry") {
    import spark.implicits._
    val path = tmpDir("ivf_resurrect") + "/corpus"
    val annDir = tmpDir("ivf_resurrect_ann")
    val cents = Seq(Seq(1.0f, 0.0f), Seq(0.0f, 1.0f))
    val base = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    IvfIndex.buildCorpus(base, path, cents, files = 1)
    val b0 = Seq((10L, Seq(0.9f, 0.1f))).toDF("vec_id", "embedding")
    val b1 = Seq((11L, Seq(0.95f, 0.05f))).toDF("vec_id", "embedding")
    IvfIndex.probeAndAppendToLog(spark, path, b0, annDir, cents, batchId = 0L)
    IvfIndex.probeAndAppendToLog(spark, path, b1, annDir, cents, batchId = 1L)
    // takedown of vector 11 — the IN-FLIGHT batch's member — lands just
    // before the in-stream compaction (compactEvery=2 after batch 1)
    IvfIndex.markDeleted(spark, path, Seq(11L))
    IvfIndex.compactCorpus(spark, path, files = 1, keepBatch = Some(1L))
    assert(new java.io.File(path + ".tombstones").exists,
      "compactCorpus(keepBatch) cleared a tombstone naming a kept-gen vector")
    // the kept batch's crash-retry re-appends vector 11 from raw data —
    // the retained tombstone must keep masking it
    IvfIndex.probeAndAppendToLog(spark, path, b1, annDir, cents, batchId = 1L)
    val ann = IvfIndex.probeAndAppend(spark, path,
      Seq((20L, Seq(0.97f, 0.03f))).toDF("vec_id", "embedding"),
      cents, Some(2L), k = 4).collect()
    assert(!ann.map(_.getLong(2)).contains(11L),
      s"taken-down vector 11 resurrected by the kept-batch retry: ${ann.toSeq}")
    assert(ann.map(_.getLong(2)).toSet == Set(0L, 1L, 10L))
    // the next keepBatch-free compaction removes row and log for good
    IvfIndex.compactCorpus(spark, path, files = 1)
    assert(spark.read.parquet(path).where($"vec_id" === 11L).count() == 0,
      "full compact left the resurrected row behind")
    assert(!new java.io.File(path + ".tombstones").exists,
      "full compact left the retained tombstone behind")
  }

  test("markDeleted suppresses a vector from ANN probes without rebuild; " +
    "compactCorpus drops it physically and clears the tombstones") {
    import spark.implicits._
    val path = tmpDir("ivf_takedown")
    val cents = Seq(Seq(1.0f, 0.0f), Seq(0.0f, 1.0f))
    val base = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)), (2L, Seq(0.9f, 0.1f)))
      .toDF("vec_id", "embedding")
    IvfIndex.buildCorpus(base, path, cents, files = 1)
    def probe(): Set[Long] = {
      val b = Seq((100L, Seq(0.95f, 0.05f))).toDF("vec_id", "embedding")
      // adhoc probe: batchId=None appends gen=adhoc each call; ids differ
      // per call would pollute — use a throwaway copy instead
      val tmp2 = tmpDir("ivf_takedown_probe")
      org.apache.hadoop.fs.FileUtil.copy(
        new org.apache.hadoop.fs.Path(path)
          .getFileSystem(spark.sessionState.newHadoopConf()),
        new org.apache.hadoop.fs.Path(path),
        new org.apache.hadoop.fs.Path(path)
          .getFileSystem(spark.sessionState.newHadoopConf()),
        new org.apache.hadoop.fs.Path(tmp2 + "/c"), false, true,
        spark.sessionState.newHadoopConf())
      // tombstones ride the sibling path; copy it too if present
      val tp = new java.io.File(path + ".tombstones")
      if (tp.exists)
        org.apache.hadoop.fs.FileUtil.copy(
          new org.apache.hadoop.fs.Path(path)
            .getFileSystem(spark.sessionState.newHadoopConf()),
          new org.apache.hadoop.fs.Path(path + ".tombstones"),
          new org.apache.hadoop.fs.Path(path)
            .getFileSystem(spark.sessionState.newHadoopConf()),
          new org.apache.hadoop.fs.Path(tmp2 + "/c.tombstones"), false, true,
          spark.sessionState.newHadoopConf())
      IvfIndex.probeAndAppend(spark, tmp2 + "/c", b, cents, None, k = 3)
        .collect().map(_.getLong(2)).toSet
    }
    assert(probe() == Set(0L, 1L, 2L))
    IvfIndex.markDeleted(spark, path, Seq(2L))
    assert(probe() == Set(0L, 1L), "tombstoned vector still probed")
    assert(spark.read.parquet(path).where($"vec_id" === 2L).count() == 1,
      "tombstone must not rewrite the corpus")
    IvfIndex.compactCorpus(spark, path, files = 1)
    assert(spark.read.parquet(path).where($"vec_id" === 2L).count() == 0,
      "compact must drop tombstoned vectors physically")
    assert(!new java.io.File(path + ".tombstones").exists,
      "compact must clear the tombstone log")
    assert(probe() == Set(0L, 1L))
    IvfIndex.markDeleted(spark, path, Seq(99L)) // unknown id: harmless
    assert(probe() == Set(0L, 1L))
    intercept[IllegalArgumentException] {
      IvfIndex.markDeleted(spark, tmpDir("ivf_nothere") + "/x", Seq(1L))
    }
  }
}
