package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted, incrementally-maintained SimHash near-duplicate index —
  * the Hamming-distance twin of [[LshIndex]], completing the streaming
  * story for the q107 dedup family (q92's contract): documents arrive
  * in batches, each batch fingerprints IN-ROW
  * ([[TextOps.simhash63InRow]]), probes only the band buckets it
  * touches, emits verified new near-dup pairs (popcount-of-XOR ≤
  * maxHamming, ≥ 1 batch-side member), and appends its own band rows
  * for the next batch.
  *
  * The structural difference from LshIndex is what makes SimHash the
  * cheap half of a production dedup stack: the fingerprint IS the
  * verification payload. One 8-byte hash per doc rides every band row,
  * so there is NO sigs table, no candidate set fetch, no second
  * partition-pruned scan — the verify is two BIGINTs already present on
  * the joined rows. Storage is a single `<path>/bands` table
  * (band, key, doc_id, sh), hive-partitioned on
  * `pk = hash(band, key) mod indexPartitions` + `gen`, written through
  * the same [[GenTable]] layout and lifecycle as LshIndex — so the
  * probe's file-level pruning, the exactly-once batch contract, the
  * lag-1 fold and the writer fence all carry over unchanged.
  *
  * Banding is q107's: `bands` disjoint `bandBits`-bit slices of the
  * 63-bit fingerprint — the pigeonhole guarantee (any pair within
  * Hamming ≤ bands−1 shares ≥ 1 band, PropertySpec proves it for 4×16)
  * makes maxHamming ≤ bands−1 candidate-complete. Hot buckets are
  * capped on the FULL combined bucket (index + batch), mirroring the
  * one-shot operator exactly.
  */
object SimHashIndex {

  import org.apache.hadoop.fs.{Path => HPath}

  case class Config(
      bands: Int = 4, bandBits: Int = 16, maxHamming: Int = 3,
      maxBucket: Option[Int] = Some(TextOps.DefaultMaxBucket),
      bandFiles: Int = 8,
      /** Layout contract — persisted by build, adopted by probes (see
        * LshIndex.Config for the 100 TB sizing note). */
      indexPartitions: Int = 32) {
    require(maxHamming <= bands - 1,
      s"maxHamming=$maxHamming needs > ${bands - 1} bands to stay " +
        "candidate-complete (pigeonhole)")
  }

  private def bandsPath(path: String) = s"$path/bands"
  private def tombsPath(path: String) = s"$path/tombstones"
  private def metaPath(path: String) = new HPath(path, "_simhash_meta")

  private def writeMeta(spark: SparkSession, path: String, cfg: Config): Unit =
    GenTable.writeMeta(spark, metaPath(path), Seq(
      "indexPartitions" -> cfg.indexPartitions,
      "bandFiles" -> cfg.bandFiles,
      "bands" -> cfg.bands, "bandBits" -> cfg.bandBits))

  /** cfg with the persisted on-disk layout folded in; a meta file
    * without the pk modulus fails loudly, as in LshIndex. */
  private def adoptMeta(spark: SparkSession, path: String, cfg: Config): Config = {
    val kv = GenTable.readMeta(spark, metaPath(path))
    cfg.copy(
      indexPartitions = kv.getOrElse("indexPartitions",
        throw new IllegalStateException(
          s"${metaPath(path)} has no indexPartitions entry — rebuild with SimHashIndex.build")),
      bandFiles = kv.getOrElse("bandFiles", cfg.bandFiles),
      bands = kv.getOrElse("bands", cfg.bands),
      bandBits = kv.getOrElse("bandBits", cfg.bandBits))
  }

  private def bandPk(cfg: Config): Column =
    pmod(xxhash64(col("band"), col("key")), lit(cfg.indexPartitions)).cast("int")

  /** (doc_id, sh, band, key) — `bands` rows per doc, all map-side: the
    * fingerprint is in-row, the band keys are shifts of it. The index
    * machinery is FINGERPRINT-AGNOSTIC: any 63-bit comparative hash
    * rides the same band layout — `hashCol = Some(c)` takes the
    * precomputed fingerprint from column `c` (e.g. an image dHash from
    * MediaFingerprint.dhash63 after a media decode stage) instead of
    * fingerprinting `text` in-row. */
  private def bandRows(docs: DataFrame, cfg: Config,
      id: String, text: String, hashCol: Option[String] = None): DataFrame = {
    val bandArr = array((0 until cfg.bands).map(b =>
      struct(lit(b).as("band"),
        shiftright(col("sh"), cfg.bandBits * b)
          .bitwiseAND(lit((1L << cfg.bandBits) - 1)).as("key"))): _*)
    // the distinct-word array is projected in its own select so the 63
    // aggregate() leaves of the fingerprint read an attribute — the
    // simhash63InRow caller contract (a computed argument re-splits the
    // text 63× per row; CollapseProject keeps the two selects separate
    // because the alias is non-cheap and referenced 63×)
    val fingerprinted = hashCol match {
      case Some(c) => graft.sources.Tables.spread(docs)
        .select(col(id).as("doc_id"), col(c).cast("bigint").as("sh"))
      case None => graft.sources.Tables.spread(docs)
        .select(col(id).as("doc_id"),
          array_distinct(TextOps.words(col(text))).as("dw"))
        .select(col("doc_id"), TextOps.simhash63InRow(col("dw")).as("sh"))
    }
    fingerprinted
      .select(col("doc_id"), col("sh"), explode(bandArr).as("bk"))
      .select(col("doc_id"), col("sh"),
        col("bk.band").as("band"), col("bk.key").as("key"))
  }

  private def writeBands(bands: DataFrame, path: String, cfg: Config,
      mode: String, gen: String): Unit =
    GenTable.writePartitioned(bands.withColumn("__part", bandPk(cfg)),
      bandsPath(path), cfg.bandFiles, mode, gen, col("band"), col("key"))

  /** Build the index at `path` from a base corpus. */
  def build(docs: DataFrame, path: String, cfg: Config = Config(),
      id: String = "doc_id", text: String = "text",
      hashCol: Option[String] = None): Unit = {
    writeBands(bandRows(docs, cfg, id, text, hashCol), path, cfg, "overwrite", "base")
    writeMeta(docs.sparkSession, path, cfg)
  }

  /** Probe with an ingest batch and append it — LshIndex.probeAndAppend's
    * contract (the GenTable `batchId` delivery rule) with the in-row
    * Hamming verify instead of a sigs fetch. Returns the verified new
    * pairs (doc_a, doc_b, hamming), localized. */
  def probeAndAppend(spark: SparkSession, path: String, newDocs: DataFrame,
      cfg: Config = Config(), id: String = "doc_id", text: String = "text",
      batchId: Option[Long] = None,
      hashCol: Option[String] = None): DataFrame =
    probeAppendCore(spark, path, newDocs, cfg, id, text, batchId, hashCol,
      pairs => Caches.localize(pairs, maxRows = 1 << 20)
        .getOrElse(pairs.localCheckpoint()))

  /** [[probeAndAppend]] with the verified pairs written DIRECTLY into
    * the `batch_id`-partitioned pair log (GenTable.writeBatchLog) — the
    * LshIndex.probeAndAppendToLog form, one job per micro-batch instead
    * of two. */
  def probeAndAppendToLog(spark: SparkSession, path: String,
      newDocs: DataFrame, pairsDir: String, cfg: Config = Config(),
      id: String = "doc_id", text: String = "text", batchId: Long = 0L,
      hashCol: Option[String] = None): Unit = {
    probeAppendCore(spark, path, newDocs, cfg, id, text, Some(batchId),
      hashCol, { pairs =>
        GenTable.writeBatchLog(pairs, batchId, pairsDir); spark.emptyDataFrame
      }, needOrdered = false)
    ()
  }

  /** Shared probe/append body (`materialize` = the one action freezing
    * the pairs, ordered by GenTable.probeThenAppend). */
  private def probeAppendCore(spark: SparkSession, path: String,
      newDocs: DataFrame, cfg: Config, id: String, text: String,
      batchId: Option[Long], hashCol: Option[String],
      materialize: DataFrame => DataFrame,
      needOrdered: Boolean = true): DataFrame = IndexLock.withWriter(path) {
    val layout = adoptMeta(spark, path, cfg)
    val bandsPlan = bandRows(newDocs, layout, id, text, hashCol)
    // One bounded job instead of two (LshIndex.probePairs' r15 rule):
    // the batch's band rows localize WITH their pk, so the touched-key
    // broadcast, the pk partition predicate and the union/append side
    // all come from the same driver-local rows; over the cap, the
    // original persist + collect spelling.
    val (newBands, touchedKeys, touchedPk, cache) =
      Caches.localize(bandsPlan.withColumn("pk", bandPk(layout)),
        maxRows = 1 << 20) match {
        case Some(local) =>
          val rows = local.collect() // LocalRelation: driver-side, no job
          val schema = local.schema
          val (bi, ki, pi) = (schema.fieldIndex("band"),
            schema.fieldIndex("key"), schema.fieldIndex("pk"))
          val keyRows = rows.map(r =>
            org.apache.spark.sql.Row(r.get(bi), r.get(ki))).distinct.toSeq
          val tk = spark.createDataFrame(
            new java.util.ArrayList(scala.jdk.CollectionConverters
              .SeqHasAsJava(keyRows).asJava),
            org.apache.spark.sql.types.StructType(
              Seq(schema("band"), schema("key"))))
          val pk = rows.map(_.getInt(pi)).distinct.map(Int.box).toSeq
          (local.drop("pk"), tk, pk, None)
        case None =>
          val nb = bandsPlan.persist()
          val tk = nb.select(col("band"), col("key")).distinct()
          val pk = tk.select(bandPk(layout).as("pk")).distinct()
            .collect().map(r => Int.box(r.getInt(0))).toSeq
          (nb, tk, pk, Some(nb))
      }
    try {
      val indexBands = GenTable.hide(spark.read.parquet(bandsPath(path)),
          batchId.map(GenTable.batchGen))
        .where(col("pk").isin(touchedPk: _*))
        .select(col("doc_id"), col("sh"), col("band"), col("key"))
        .join(broadcast(touchedKeys), Seq("band", "key"), "left_semi")
      val combined = indexBands.withColumn("is_new", lit(false))
        .unionByName(newBands.withColumn("is_new", lit(true)))
      val pruned = layout.maxBucket match {
        case Some(m) => TextOps.capHotBuckets(
          combined, Seq("band", "key"), m, "simhash_index_hot_buckets")
        case None => combined
      }
      val a = pruned.select(col("band"), col("key"),
        col("doc_id").as("doc_a"), col("sh").as("ha"), col("is_new").as("na"))
      val b = pruned.select(col("band"), col("key"),
        col("doc_id").as("doc_b"), col("sh").as("hb"), col("is_new").as("nb"))
      // tombstoned docs are dead on arrival: their band rows survive
      // until compact, but no pair names them
      val tombs = TombstoneLog.readDir(spark, tombsPath(path), "doc_id")
      def dropTombstoned(df: DataFrame): DataFrame = tombs.fold(df) { t =>
        df.join(t, df("doc_a") === t("doc_id"), "left_anti")
          .join(t, df("doc_b") === t("doc_id"), "left_anti")
      }
      // unordered here; the global sort — a sampling job + range exchange
      // per probe — applies only on the returning API below (the
      // streaming log sink's consumers sort on read)
      val pairsUnordered = dropTombstoned(a.join(b, Seq("band", "key"))
        .where(col("doc_a") < col("doc_b") && (col("na") || col("nb")))
        .select(col("doc_a"), col("doc_b"), col("ha"), col("hb")).distinct()
        .withColumn("hamming",
          bit_count(col("ha").bitwiseXOR(col("hb"))).cast("int"))
        .where(col("hamming") <= layout.maxHamming)
        .select(col("doc_a"), col("doc_b"), col("hamming")))
      val pairs = if (needOrdered)
        pairsUnordered.orderBy(col("doc_a"), col("doc_b"))
      else pairsUnordered
      GenTable.probeThenAppend(batchId, () => materialize(pairs), Seq(
        (mode, gen) => writeBands(newBands, path, layout, mode, gen)))
    } finally cache.foreach(_.unpersist())
  }

  /** Tombstone `docIds`: rows stay physically present until [[compact]],
    * but no probe emits a pair naming them. O(deletions) writes. */
  def markDeleted(spark: SparkSession, path: String, docIds: Seq[Long]): Unit =
    IndexLock.withWriter(path) {
      adoptMeta(spark, path, Config()) // loud failure on a non-index path
      TombstoneLog.append(spark, tombsPath(path), "doc_id", docIds)
    }

  /** Fold accumulated generations back to one tight `gen=base` layout
    * (GenTable.fold; one stage-then-swap table). */
  def compact(spark: SparkSession, path: String,
      keepBatch: Option[Long] = None): Unit = {
    val cfg = adoptMeta(spark, path, Config())
    val tablePath = bandsPath(path)
    GenTable.fold(spark, path, keepBatch, tables = Seq(tablePath -> true),
      heal = Seq(tablePath),
      tombs = Some(GenTable.Tombs(tombsPath(path), "doc_id", tablePath))) { f =>
      val staged = s"$tablePath.compacting"
      Layout.healSwap(spark, staged, tablePath)
      // one pass, one write: the target generation derives in-row,
      // GenTable.writeGens lands base + kept in a single job
      GenTable.writeGens(
        f.dropTombstoned(spark.read.parquet(tablePath))
          .select(col("doc_id"), col("sh"), col("band"), col("key"),
            f.target.as("__gen"))
          .withColumn("__part", bandPk(cfg)),
        staged, cfg.bandFiles, col("band"), col("key"))
      Layout.swapInto(spark, staged, tablePath)
    }
  }
}
