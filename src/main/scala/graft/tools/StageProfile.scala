package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Throwaway-style phase profiler for one registry query's building
  * blocks — times each named stage with `count()` actions so a slow
  * declared query can be attributed to a phase instead of guessed at.
  * Usage: `runMain graft.tools.StageProfile <sfDir> <what>`. Kept in
  * tools/ (not wired into any gate) because per-phase attribution at
  * the sf1 decade point recurs every round. */
object StageProfile {

  private def time[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[profile] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val what = if (args.length > 1) args(1) else "q158"
    val builder = SparkSession.builder()
      .appName("graft-profile").master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", false)
    // hypothesis knobs: GRAFT_PROFILE_CONF="k=v,k=v" folds extra confs
    // into the session so AQE/codegen/partition sizing can be A/B-ed
    // without editing the tool per experiment
    sys.env.get("GRAFT_PROFILE_CONF").foreach(_.split(',').foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      builder.config(k, v)
    })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try what match {
      case "q158" => profileQ158(spark, dir)
      case "pairs" => profilePairs(spark, dir)
      case "q92" => profileQ92(spark, dir)
      case "q164" => profileQ164(spark, dir)
      case other => sys.error(s"unknown profile target $other")
    } finally spark.stop()
  }

  /** q92's phases — the streaming-LSH lifecycle floor (r14 verdict #1):
    * index build, then each micro-batch delivered BOTH through the bare
    * batch body (`LshIndex.probeAndAppendToLog`, no streaming machinery) in one
    * scratch index and through the full `startNearDupIngest` stream in
    * another, so the per-batch probe/append cost and the Structured-
    * Streaming fixed overhead (trigger, checkpoint commit, isEmpty
    * probe) attribute separately. A per-job listener prints the job
    * count per phase — the floor hypothesis is "many tiny jobs". */
  private def profileQ92(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val verbose = sys.env.contains("GRAFT_PROFILE_JOBS")
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            s: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet()
          starts.put(s.jobId, System.nanoTime())
          if (verbose) {
            val site = Option(s.properties)
              .flatMap(p => Option(p.getProperty("spark.job.description")))
              .orElse(s.stageInfos.lastOption.flatMap(
                _.details.linesIterator.find(l =>
                  l.contains("graft.") && !l.contains("StageProfile"))))
              .orElse(Option(s.properties)
                .flatMap(p => Option(p.getProperty("callSite.short"))))
              .getOrElse("?")
            println(s"[profile]     job ${s.jobId} start: $site (${s.stageInfos.size} stages)")
          }
          ()
        }
        override def onJobEnd(
            e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          if (verbose) Option(starts.remove(e.jobId)).foreach { t0 =>
            println(f"[profile]     job ${e.jobId} end ${(System.nanoTime() - t0) / 1e9}%6.3f s")
          }
          ()
        }
      })
    def phase[A](label: String)(f: => A): A = {
      val j0 = jobs.get()
      val r = time(label)(f)
      println(s"[profile]   jobs = ${jobs.get() - j0}")
      r
    }
    val tmp = graft.ops.Scratch.tempDir("graft_prof92_")
    try {
      val docs = graft.sources.Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"))
      val isStream = pmod(col("doc_id"), lit(4)) === 0
      phase("buildSized (bare)")(
        graft.ops.LshIndex.buildSized(docs.where(!isStream), s"$tmp/idx"))
      phase("buildSized (stream copy)")(
        graft.ops.LshIndex.buildSized(docs.where(!isStream), s"$tmp/idx2"))
      val rows = docs.where(isStream).as[(Long, String)].collect().sortBy(_._1)
      val per = math.max(1, math.ceil(rows.length / 3.0).toInt)
      val chunks = rows.grouped(per).toArray
      chunks.zipWithIndex.foreach { case (c, i) =>
        phase(s"bare batch $i (probe+append+log)")(
          graft.ops.LshIndex.probeAndAppendToLog(spark, s"$tmp/idx",
            c.toSeq.toDF("doc_id", "text"), s"$tmp/pairs", batchId = i.toLong))
      }
      val mem = MemoryStream[(Long, String)]
      val q = graft.streaming.StreamingPipeline.startNearDupIngest(
        mem.toDF().toDF("doc_id", "text"),
        indexPath = s"$tmp/idx2", pairsDir = s"$tmp/pairs2",
        checkpointDir = s"$tmp/ckpt",
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      try chunks.zipWithIndex.foreach { case (c, i) =>
        phase(s"stream batch $i (full machinery)") {
          mem.addData(c.toSeq); q.processAllAvailable()
        }
      } finally q.stop()
      phase("read pair log + localize")(
        println("[profile]   pairs = " + spark.read
          .schema("doc_a BIGINT, doc_b BIGINT, jaccard DOUBLE, batch_id BIGINT")
          .parquet(s"$tmp/pairs").count()))
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(); ()
      }
      rm(new java.io.File(tmp))
    }
  }

  /** q164's phases: gram hashing, the dup window, islands, rebuild. */
  private def profileQ164(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    import graft.ops.TextOps
    val docs = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    val w0 = TextOps.words(col("text"))
    val excerpts = docs
      .where(pmod(col("doc_id"), lit(7)) === 0 && size(w0) >= 27)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat_ws(" ", slice(w0, 3, 25)).as("text"))
    val corpus = graft.sources.Tables.spread(docs.unionByName(excerpts))
    val w = TextOps.words(col("text"))
    val grams = corpus.where(size(w) >= 8)
      .select(col("doc_id"), explode(transform(sequence(lit(1), size(w) - 7),
        i => struct(i.as("pos"),
          md5(concat_ws(" ", slice(w, i, lit(8))).cast("binary")).as("h"))))
        .as("g"))
      .select(col("doc_id"), col("g.pos").as("pos"), col("g.h").as("h"))
      .persist()
    time("gram hashing (persist+count)")(
      println(s"[profile]   grams = ${grams.count()}"))
    val wDup = Window.partitionBy(col("h"))
    val starts = grams
      .withColumn("xdoc",
        min(col("doc_id")).over(wDup) =!= max(col("doc_id")).over(wDup))
      .where(col("xdoc"))
      .select(col("doc_id"), col("pos").as("s"), (col("pos") + 7).as("e"))
      .persist()
    time("dup window (shuffle on h)")(
      println(s"[profile]   dup starts = ${starts.count()}"))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("s"))
    val islands = starts
      .withColumn("pmax", max(col("e")).over(
        wDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("ni",
        when(col("pmax").isNull || col("s") > col("pmax") + 1, 1).otherwise(0))
      .withColumn("iid", sum(col("ni")).over(wDoc))
      .groupBy(col("doc_id"), col("iid"))
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("s"), col("e"))).as("isl"))
      .persist()
    time("islands (2 windows + 2 aggs)")(
      println(s"[profile]   island docs = ${islands.count()}"))
    val isl = coalesce(col("isl"), array().cast("array<struct<s:int,e:int>>"))
    val keptWords = filter(
      transform(sequence(lit(1), size(w)),
        p => struct(p.as("p"), element_at(w, p).as("t"))),
      x => !exists(isl, i => x("p") >= i("s") && x("p") <= i("e")))
    val out = corpus.join(islands, Seq("doc_id"), "left")
      .select(col("doc_id"), size(w).as("n_tok"),
        (size(w) - size(keptWords)).as("n_removed"),
        concat_ws(" ", transform(keptWords, x => x("t"))).as("cleaned_text"))
    time("rebuild join + in-row filter")(
      println(s"[profile]   out rows = ${out.count()}"))
    time("rebuild again (noop write)")(
      out.write.format("noop").mode("overwrite").save())
    grams.unpersist(); starts.unpersist(); islands.unpersist(); ()
  }

  /** nearDupPairs' phases (the shared floor under q20/q59/q133/q158):
    * signature build, banding, candidate generation, jaccard verify. */
  private def profilePairs(spark: SparkSession, dir: String): Unit = {
    import graft.ops.TextOps
    import graft.functions.MinHashSignature
    val K = 8; val R = 2
    val sigArr = MinHashSignature.minhashSig(spark, col("sh"), K)
    val sig = graft.sources.Tables.spread(
        graft.sources.Tables.documents(spark, dir)
          .select(col("doc_id"), TextOps.shingleSet(col("text"), 2).as("sh")))
      .select(col("doc_id") +: col("sh") +:
        (0 until K).map(i => element_at(sigArr, i + 1).as(s"m$i")): _*)
      .persist()
    time("sig build (shingles + 8 minhash)")(sig.count())
    val bands = TextOps.lshBands(sig, "doc_id", K, R)
    time("bands")(bands.count())
    val cand = TextOps.lshCandidatePairs(bands, "doc_id",
      maxBucket = Some(TextOps.DefaultMaxBucket)).persist()
    time("candidate pairs")(println(s"[profile]   cand = ${cand.count()}"))
    val withSets = sig.select(col("doc_id").as("doc_a"), col("sh").as("sa"))
      .join(broadcast(cand), "doc_a")
      .join(sig.select(col("doc_id").as("doc_b"), col("sh").as("sb")), "doc_b")
    val j = TextOps.jaccardFromSets(col("sa"), col("sb"))
    val pairs = withSets.where(j >= 0.5)
      .select(col("doc_a"), col("doc_b"), round(j, 4).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
    time("jaccard verify + sort")(println(s"[profile]   pairs = ${pairs.count()}"))
    time("localize")(graft.ops.Caches.localize(pairs, 1 << 20).map(_ => ()))
    sig.unpersist(); cand.unpersist(); ()
  }

  /** q158's phases, run stepwise with materialization between. */
  private def profileQ158(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    val pairs = time("nearDupPairs") {
      val p = graft.queries.ExtQueries.profileNearDupPairs(spark, dir)
      println(s"[profile]   pairs rows = ${p.count()}")
      p
    }
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .repartition(col("src"))
      .persist()
    time("edges repartition+persist")(edges.count())
    time("edges recount (cached)")(edges.count())
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg")).persist()
    val n = time("deg + count")(deg.count())
    println(s"[profile]   vertices = $n, edges = ${2 * pairs.count()}")
    val mk = md5(concat(col("src").cast("string"), lit("|"),
      col("dst").cast("string")))
    val wLocal = Window.partitionBy(col("src"), col("salt"))
      .orderBy(col("mk"), col("dst"))
    val wGlobal = Window.partitionBy(col("src")).orderBy(col("mk"), col("dst"))
    val capped = edges.withColumn("mk", mk)
      .withColumn("salt", pmod(xxhash64(col("dst")), lit(64L)))
      .withColumn("lrn", row_number().over(wLocal))
      .where(col("lrn") <= 8)
      .withColumn("rn", row_number().over(wGlobal))
      .where(col("rn") <= 8)
      .select(col("src"), col("dst"))
      .persist()
    time("cap (two-phase windows)")(capped.count())
    val cdeg = capped.groupBy(col("src")).agg(count(lit(1)).as("cdeg")).persist()
    time("cdeg")(cdeg.count())
    val edgesDeg = capped.join(cdeg, "src")
    val verts = deg.select(col("src").as("doc_id"))
    var ranks = verts.withColumn("pr", lit(1.0 / n))
    for (i <- 1 to 3) {
      val contrib = edgesDeg.join(ranks, edgesDeg("src") === ranks("doc_id"))
        .select(col("dst"), (col("pr") / col("cdeg")).as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      val next = verts.join(contrib, verts("doc_id") === contrib("dst"), "left")
        .select(verts("doc_id"),
          (lit(0.15 / n) + lit(0.85) * coalesce(col("s"), lit(0.0))).as("pr"))
        .persist()
      time(s"iteration $i (settled)")(next.count())
      ranks.unpersist()
      ranks = next
    }
    val out = ranks.join(deg, ranks("doc_id") === deg("src"))
      .join(cdeg, ranks("doc_id") === cdeg("src"))
      .select(col("doc_id"), col("deg").as("degree"),
        col("cdeg").as("capped_degree"), round(col("pr"), 6).as("pagerank"))
      .orderBy(col("doc_id"))
    time("final joins + sort")(out.count())
  }
}
