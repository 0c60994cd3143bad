package graft

import graft.ops.PqIndex
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Persisted PQ code table: frozen-codebook encoding, generation-keyed
  * append/replay convergence, pre-batch probe exclusion, and compaction
  * invariance — the IvfIndexSpec contract for the compressed family. */
class PqIndexSpec extends SparkSpecBase {

  private lazy val emb = Tables.embeddings(spark, sf0001)
    .select(col("vec_id"), col("embedding"))
  private lazy val base16: Seq[Seq[Float]] = emb.where(col("vec_id") < 16)
    .orderBy(col("vec_id")).select(col("embedding")).collect()
    .map(_.getSeq[Float](0).toSeq).toSeq

  private def annOf(df: org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    df.select(col("probe_id"), col("rn"), col("neighbor_id"), col("adc_dist"))
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
  }

  test("codebook vectors encode to their own code id (exact zero distance)") {
    import spark.implicits._
    val codes = PqIndex.encode(emb.where(col("vec_id") < 16), base16)
      .as[(Long, Int, Int, Int, Int)].collect()
    assert(codes.length == 16)
    codes.foreach { case (id, c0, c1, c2, c3) =>
      assert(Seq(c0, c1, c2, c3).forall(_ == id.toInt),
        s"codebook vector $id should self-encode, got ($c0,$c1,$c2,$c3)")
    }
  }

  test("probeAndAppend: replay converges, pre-batch exclusion and " +
    "compaction invariance hold") {
    val path = tmpDir("pq_codes") + "/codes"
    val baseCorpus = emb.where(col("vec_id") % 4 =!= 0)
    PqIndex.buildCodes(baseCorpus, path, base16)
    val nBase = spark.read.parquet(path).count()
    assert(nBase == baseCorpus.count())

    val b0 = emb.where(col("vec_id") % 4 === 0 && col("vec_id") < 200)
    val b1 = emb.where(col("vec_id") % 4 === 0 &&
      col("vec_id") >= 200 && col("vec_id") < 400)

    val r0 = annOf(PqIndex.probeAndAppend(spark, path, b0, base16, Some(0L)))
    val n0 = spark.read.parquet(path).count()
    // crash-retry of batch 0: same rows out (probe excluded its own
    // generation), same rows on storage (replace-gen, not append)
    val r0b = annOf(PqIndex.probeAndAppend(spark, path, b0, base16, Some(0L)))
    assert(r0 == r0b)
    assert(spark.read.parquet(path).count() == n0)
    // batch-0 probes saw ONLY the base corpus
    val baseIds = baseCorpus.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(r0.map(_._3).toSet.subsetOf(baseIds))

    // batch 1 probes base + batch 0 and nothing else
    val r1 = annOf(PqIndex.probeAndAppend(spark, path, b1, base16, Some(1L)))
    val b0Ids = b0.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(r1.map(_._3).toSet.subsetOf(baseIds ++ b0Ids))

    // lag-1 compaction folds b0 into base, keeps b1 verbatim, and a
    // replayed batch-1 probe still sees the identical pre-batch rows
    PqIndex.compact(spark, path, keepBatch = Some(1L))
    val gens = spark.read.parquet(path).select("gen").distinct()
      .collect().map(_.getString(0)).toSet
    assert(gens == Set("base", "b1"))
    val r1b = annOf(PqIndex.probeAndAppend(spark, path, b1, base16, Some(1L)))
    assert(r1 == r1b)
  }

  test("pruned (IVFPQ) probe equals the flat scan restricted to the " +
    "probe's cells, and refuses a cell-less table") {
    import graft.ops.IvfIndex
    val prune = Some((base16, 2))
    val pathP = tmpDir("pq_cells") + "/codes"
    val baseCorpus = emb.where(col("vec_id") % 4 =!= 0)
    PqIndex.buildCodes(baseCorpus, pathP, base16, cellCents = Some(base16))
    assert(spark.read.parquet(pathP).columns.contains("cell"))
    val b0 = emb.where(col("vec_id") % 4 === 0 && col("vec_id") < 200)
    val pruned = annOf(PqIndex.probeAndAppend(spark, pathP, b0, base16,
      Some(0L), prune = prune))
    // reference: flat ADC over ONLY the candidates in each probe's
    // top-2 cells, recomputed independently from raw vectors
    val cells = baseCorpus.select(col("vec_id"),
      IvfIndex.cellOf(col("embedding"), base16).as("cell"))
    val probes = b0.select(col("vec_id").as("probe_id"),
      col("embedding").as("probe"),
      IvfIndex.topCellsOf(col("embedding"), base16, 2).as("pcells"))
    val expected = annOf(
      PqIndex.encode(baseCorpus, base16)
        .withColumn("recon", PqIndex.reconOf(m => col(s"c$m"), base16))
        .join(cells, "vec_id")
        .crossJoin(broadcast(probes))
        .where(array_contains(col("pcells"), col("cell")) &&
          col("vec_id") =!= col("probe_id"))
        .withColumn("adc", graft.functions.VectorOps.l2Sq(col("probe"), col("recon")))
        .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("probe_id"))
            .orderBy(col("adc"), col("vec_id"))))
        .where(col("rn") <= 3)
        .select(col("probe_id"), col("rn"), col("vec_id").as("neighbor_id"),
          round(col("adc"), 4).as("adc_dist")))
    assert(pruned == expected && pruned.nonEmpty)
    // a table built WITHOUT cells rejects the pruned probe loudly
    val pathF = tmpDir("pq_nocell") + "/codes"
    PqIndex.buildCodes(baseCorpus, pathF, base16)
    val e = intercept[IllegalArgumentException](
      PqIndex.probeAndAppend(spark, pathF, b0, base16, Some(0L), prune = prune))
    assert(e.getMessage.contains("cell"))
    // a generation appended BEFORE pruning was enabled (cell column
    // present in the merged schema but null on those rows) must also be
    // rejected, not silently dropped from every probe's candidate set
    PqIndex.encode(emb.where(col("vec_id") % 4 === 0 && col("vec_id") < 40),
        base16)
      .withColumn("cell", lit(null).cast("int"))
      .withColumn("gen", lit("pre"))
      .write.partitionBy("gen").mode("append").parquet(pathP)
    val eNull = intercept[IllegalArgumentException](
      PqIndex.probeAndAppend(spark, pathP, b0, base16, Some(1L), prune = prune))
    assert(eNull.getMessage.contains("null cell"))
  }
}
