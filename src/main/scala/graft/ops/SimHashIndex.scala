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
  * probe front end (GenTable.touched, GenTable.visible, the new-vs-index
  * self-join TextOps.newVsIndexPairs), the exactly-once batch contract,
  * the lag-1 fold and the writer fence all carry over unchanged.
  *
  * Banding is q107's ([[TextOps.hashBands]]): `bands` disjoint
  * `bandBits`-bit slices of the 63-bit fingerprint — the pigeonhole
  * guarantee (any pair within Hamming ≤ bands−1 shares ≥ 1 band,
  * PropertySpec proves it for 4×16) makes maxHamming ≤ bands−1
  * candidate-complete. Hot buckets are
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
    TextOps.hashBands(fingerprinted, cfg.bands, cfg.bandBits)
  }

  private def bandsSpread(cfg: Config) =
    GenTable.Spread.Hash(cfg.bandFiles, bandPk(cfg), col("band"), col("key"))

  /** Build the index at `path` from a base corpus. */
  def build(docs: DataFrame, path: String, cfg: Config = Config(),
      id: String = "doc_id", text: String = "text",
      hashCol: Option[String] = None): Unit = {
    GenTable.build(bandRows(docs, cfg, id, text, hashCol), bandsPath(path),
      bandsSpread(cfg))
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
      Caches.settle(_, 1 << 20))

  /** [[probeAndAppend]] with the verified pairs written DIRECTLY into
    * the `batch_id`-partitioned pair log (GenTable.toBatchLog) — the
    * LshIndex.probeAndAppendToLog form, one job per micro-batch instead
    * of two. */
  def probeAndAppendToLog(spark: SparkSession, path: String,
      newDocs: DataFrame, pairsDir: String, cfg: Config = Config(),
      id: String = "doc_id", text: String = "text", batchId: Long = 0L,
      hashCol: Option[String] = None): Unit = {
    probeAppendCore(spark, path, newDocs, cfg, id, text, Some(batchId),
      hashCol, GenTable.toBatchLog(batchId, pairsDir), needOrdered = false)
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
    // the probe front end (GenTable.touched, GenTable.visible): the
    // touched buckets' index rows, every member of each
    val t = GenTable.touched(bandRows(newDocs, layout, id, text, hashCol),
      bandPk(layout), "band", "key")
    try {
      val indexBands = GenTable.visible(spark, bandsPath(path),
          batchId.map(GenTable.batchGen), Some(t.pk))
        .select(col("doc_id"), col("sh"), col("band"), col("key"))
        .join(broadcast(t.keys), Seq("band", "key"), "left_semi")
      // tombstoned docs are dead on arrival: their band rows survive
      // until compact, but no pair names them. Unordered here; the global
      // sort — a sampling job + range exchange per probe — applies only
      // on the returning API below (the streaming log sink's consumers
      // sort on read)
      val pairsUnordered = TombstoneLog.mask(
        TextOps.hammingPairs(TextOps.newVsIndexPairs(indexBands, t.rows,
            layout.maxBucket, "simhash_index_hot_buckets", "sh"))
          .where(col("hamming") <= layout.maxHamming),
        TombstoneLog.readDir(spark, tombsPath(path), "doc_id"), "doc_a", "doc_b")
      val pairs = if (needOrdered)
        pairsUnordered.orderBy(col("doc_a"), col("doc_b"))
      else pairsUnordered
      GenTable.probeThenAppend(batchId, () => materialize(pairs),
        (t.rows, bandsPath(path), bandsSpread(layout)))
    } finally t.release()
  }

  /** Tombstone `docIds`: rows stay physically present until [[compact]],
    * but no probe emits a pair naming them. O(deletions) writes. */
  def markDeleted(spark: SparkSession, path: String, docIds: Seq[Long]): Unit =
    IndexLock.withWriter(path) {
      adoptMeta(spark, path, Config()) // loud failure on a non-index path
      TombstoneLog.append(spark, tombsPath(path), "doc_id", docIds)
    }

  /** Fold accumulated generations back to one tight `gen=base` layout
    * (GenTable.fold; one table, one write). */
  def compact(spark: SparkSession, path: String,
      keepBatch: Option[Long] = None): Unit = {
    val cfg = adoptMeta(spark, path, Config())
    val tablePath = bandsPath(path)
    GenTable.fold(spark, path, keepBatch, tables = Seq(tablePath -> true),
      swap = Seq(tablePath),
      tombs = Some(GenTable.Tombs(tombsPath(path), "doc_id", tablePath))) { f =>
      f.write(f.dropTombstoned(spark.read.parquet(tablePath)), f.staged(tablePath),
        bandsSpread(cfg))
    }
  }
}
