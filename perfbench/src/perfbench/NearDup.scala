package perfbench

import scala.collection.mutable
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.ops.LshIndex
import graft.streaming.StreamingPipeline

/** neardup_ingest: a seeded LSH base index, then closed-loop 1,000-doc
  * micro-batches through `StreamingPipeline.startNearDupIngest` with the
  * lag-1 fold every 4 batches, and a takedown (`LshIndex.markDeleted`) of a
  * fixed handful of docs before every 4th batch. */
object NearDup {
  // The doc shape below (base size, vocabulary, doc length, word skew, edit
  // size, takedown size) is assumed, not taken from a reference corpus; see
  // perfbench/README.md.
  val BaseDocs = 5000
  val BatchDocs = 1000
  val PlantShare = 0.10
  val CompactEvery = 4
  val TakedownDocs = 10
  /** Untimed micro-batches before the window (JIT and codegen warm-up). */
  val WarmBatches = 2
  /** Every run times exactly one fold cycle, batches 2–5: one takedown, one
    * fold. The count is fixed, not timed, so the index each batch probes is
    * the same size whatever the program's speed. */
  val Batches = WarmBatches + CompactEvery
  val Vocab = 5000
  val Cfg = LshIndex.Config()

  /** The benchmark's corpus: doc id = position. `sourceOf` maps each
    * planted near-copy to the earlier doc it copies. */
  final class Corpus(seed: Long) {
    private val rnd = new java.util.Random(seed * 104729L + 3L)
    val vocab: Array[String] = Array.tabulate(Vocab) { _ =>
      val n = 3 + rnd.nextInt(7)
      new String(Array.fill(n)(('a' + rnd.nextInt(26)).toChar))
    }
    val texts = mutable.ArrayBuffer[String]()
    val sourceOf = mutable.LinkedHashMap[Long, Long]()

    // word ranks skewed toward the head of the vocabulary, like text
    private def word(): String = {
      val u = rnd.nextDouble(); vocab((Vocab * u * u).toInt)
    }

    /** Append one doc: a near-copy of an earlier doc (2–3 of its 30–60
      * words replaced) with probability `PlantShare`, else fresh text. */
    def add(): Long = {
      val id = texts.size.toLong
      if (id > 0 && rnd.nextDouble() < PlantShare) {
        val src = rnd.nextInt(texts.size)
        val w = texts(src).split(" ")
        (0 until 2 + rnd.nextInt(2)).foreach(_ => w(rnd.nextInt(w.length)) = word())
        texts += w.mkString(" ")
        sourceOf(id) = src.toLong
      } else texts += Seq.fill(30 + rnd.nextInt(31))(word()).mkString(" ")
      id
    }

    def docs(from: Int, until: Int): Seq[(Long, String)] =
      (from until until).map(i => (i.toLong, texts(i)))

    def pick(n: Int, below: Int): Seq[Long] = Seq.fill(n)(rnd.nextInt(below).toLong)
  }

  /** Word-bigram shingle set, as `TextOps.shingleSet(text, 2)` defines it. */
  def shingles(t: String): Set[String] =
    t.split(" ").sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSet

  def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    val i = (x intersect y).size
    i.toDouble / (x.size + y.size - i)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = new Corpus(ctx.seed)
    ctx.setupSpan("inputs") {
      (0 until BaseDocs + Batches * BatchDocs).foreach(_ => corpus.add())
    }
    val indexDir = ctx.dir("lsh-index")
    val pairsDir = ctx.dir("lsh-pairs")
    ctx.setupSpan("build") {
      LshIndex.buildSized(corpus.docs(0, BaseDocs).toDF("doc_id", "text"),
        indexDir, Cfg)
    }
    // takedowns before batch b (b % 4 == 2): half the sources of planted
    // copies still to come, half docs already indexed
    val takenDownAt = mutable.LinkedHashMap[Long, Long]()
    def takedown(b: Long): Seq[Long] = {
      val indexed = BaseDocs + b.toInt * BatchDocs
      val upcoming = corpus.sourceOf.iterator
        .filter { case (c, s) => c >= indexed && s < indexed }
        .map(_._2).take(TakedownDocs / 2).toSeq
      (upcoming ++ corpus.pick(TakedownDocs - upcoming.size, indexed)).distinct
        .filterNot(takenDownAt.contains)
    }
    val mem = MemoryStream[(Long, String)]
    val (query, warmLat) = ctx.setupSpan("start") {
      val q = StreamingPipeline.startNearDupIngest(
        mem.toDS().toDF("doc_id", "text"), indexDir, pairsDir,
        ctx.dir("lsh-checkpoint"), Cfg, Trigger.ProcessingTime(0L),
        compactEvery = Some(CompactEvery))
      val t = System.nanoTime()
      (0 until WarmBatches).foreach { b =>
        val from = BaseDocs + b * BatchDocs
        mem.addData(corpus.docs(from, from + BatchDocs))
        q.processAllAvailable()
      }
      (q, (System.nanoTime() - t) / 1e9)
    }
    val o = new Outcome
    val lat = mutable.ArrayBuffer[(Long, Double)]()
    var fed = WarmBatches
    try {
      ctx.timed {
        while (fed < Batches) {
          val b = fed.toLong
          if (b % CompactEvery == 2) {
            val ids = takedown(b)
            ctx.span("markDeleted") { LshIndex.markDeleted(spark, indexDir, ids) }
            ids.foreach(takenDownAt(_) = b)
          }
          val from = BaseDocs + fed * BatchDocs
          val t = System.nanoTime()
          mem.addData(corpus.docs(from, from + BatchDocs))
          query.processAllAvailable()
          lat += query.lastProgress.batchId -> (System.nanoTime() - t) / 1e9
          fed += 1
        }
      }
      o.attempted += lat.size
    } finally query.stop()

    // checks
    val docsFedUntil = BaseDocs + fed * BatchDocs
    val log = spark.read.parquet(pairsDir)
      .select(col("doc_a"), col("doc_b"), col("batch_id")).as[(Long, Long, Long)]
      .collect()
    val lowJ = log.filter { case (a, b, _) =>
      jaccard(corpus.texts(a.toInt), corpus.texts(b.toInt)) < Cfg.jaccardThreshold - 1e-9 }
    val deadNamed = log.filter { case (a, b, bid) =>
      Seq(a, b).exists(d => takenDownAt.get(d).exists(_ <= bid)) }
    o.check(3, Seq(
      if (log.isEmpty) Some("no near-dup pair was logged") else None,
      if (lowJ.nonEmpty) Some(s"${lowJ.length} logged pairs below the jaccard " +
        s"threshold, e.g. ${lowJ.head}") else None,
      if (deadNamed.nonEmpty) Some(s"${deadNamed.length} logged pairs name a " +
        s"doc taken down before their batch, e.g. ${deadNamed.head}") else None
    ).flatten)
    val found = log.map { case (a, b, _) => (a, b) }.toSet
    // planted pairs the stream saw, minus those a takedown removed first
    val planted = corpus.sourceOf.iterator.filter { case (c, s) =>
      val b = (c - BaseDocs) / BatchDocs
      c >= BaseDocs && c < docsFedUntil &&
        !takenDownAt.get(s).exists(_ <= b) && !takenDownAt.get(c).exists(_ <= b)
    }.map { case (c, s) => (math.min(c, s), math.max(c, s)) }.toSeq
    val recall = planted.count(found).toDouble / planted.size

    val times = lat.map(_._2).toSeq
    val timedDocs = lat.size * BatchDocs
    val (bytes, _) = Ep1.treeSize(indexDir, pairsDir)
    val folds = lat.collect { case (b, t) if b % CompactEvery == CompactEvery - 1 => t }
    val plain = lat.collect { case (b, t) if b % CompactEvery != CompactEvery - 1 => t }
    o.detail("docs_per_s") = timedDocs / times.sum
    o.detail("batch_latency_s") = Stats.timing(times)
    o.detail("batch_latencies_s") = times
    o.detail("fold_batch_latency_s") = if (folds.isEmpty) Map() else Stats.timing(folds.toSeq)
    o.detail("plain_batch_latency_s") = Stats.timing(plain.toSeq)
    o.detail("warmup_s") = warmLat
    o.detail("index_bytes_per_doc") = bytes.toDouble / docsFedUntil
    o.detail("neardup_recall") = recall
    o.detail("planted_pairs") = planted.size
    o.detail("pairs_logged") = log.length
    o.detail("pairs_logged_timed") = log.count(p => lat.exists(_._1 == p._3))
    o.detail("takedowns") = takenDownAt.size
    o.e2e("throughput_per_s") = timedDocs / times.sum
    o.e2e("latency_p50_s") = Stats.median(times)
    o.e2e("latency_tail_s") = Stats.tail(times)._2
    o.e2e("storage_bytes_per_item") = bytes.toDouble / docsFedUntil
    o.e2e("recall") = recall
    o.query = Some(query.id)
    o.indexDir = Some(indexDir)
    o.foldSlots = lat.map(_._1).filter(_ % CompactEvery == CompactEvery - 1).toSet
    o
  }
}
