package perfbench

import org.apache.spark.sql.streaming.StreamingQueryProgress
import graft.streaming.StreamingPipeline

/** Per-layer metrics of a traced run, from the micro-batch spans (query
  * progress), the job spans (SparkListener) and the benchmark's call spans.
  * Every workload reports every metric; a layer the workload never reaches
  * reads 0. */
object Layers {
  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  def compute(ctx: Ctx, res: Outcome, t: Tracer, nproc: Int): Map[String, Double] = {
    // the micro-batches that started in the measured window and carried
    // data (a stateful query also runs no-data batches to move its watermark)
    val qid = res.query.map(_.toString)
    val ps: Seq[StreamingQueryProgress] = ctx.progress.of(res.query).filter { p =>
      val t0 = Tracer.startMs(p)
      t0 >= ctx.timedStart && t0 <= ctx.timedEnd && p.numInputRows > 0
    }
    val timed = ps.map(_.batchId).toSet
    val jobs = t.jobs.filter(j => j.query == qid && j.batch.exists(timed))
    val byBatch: Map[Long, Seq[JobSpan]] = jobs.groupBy(_.batch.get)
    def perBatch(f: Seq[JobSpan] => Double, only: Long => Boolean = _ => true) =
      med(ps.map(_.batchId).filter(only).map(b => f(byBatch.getOrElse(b, Nil))))
    def sec(ms: Long) = ms / 1000.0
    def span(js: Seq[JobSpan]) =
      if (js.isEmpty) 0.0 else sec(js.map(_.end).max - js.map(_.start).min)
    val m = scala.collection.mutable.LinkedHashMap[String, Double]()

    // streaming: the micro-batch loop around the program's queries
    m("streaming.trigger_s") = med(ps.map(p => sec(Tracer.dur(p, "triggerExecution"))))
    m("streaming.overhead_s") = med(ps.map(p =>
      sec(Tracer.dur(p, "triggerExecution") - Tracer.dur(p, "addBatch"))))
    m("streaming.planning_s") = med(ps.map(p => sec(Tracer.dur(p, "queryPlanning"))))
    m("streaming.driver_residual_s") = med(ps.map { p =>
      val js = byBatch.getOrElse(p.batchId, Nil)
      sec(Tracer.dur(p, "addBatch") - Tracer.covered(js.map(j => (j.start, j.end))))
    })
    val ops = ps.flatMap(_.stateOperators)
    m("streaming.state_rows") = ps.lastOption.flatMap(_.stateOperators.headOption)
      .map(_.numRowsTotal.toDouble).getOrElse(0.0)
    m("streaming.state_commit_s") = med(ps.filter(_.stateOperators.nonEmpty)
      .map(p => sec(p.stateOperators.map(_.commitTimeMs).sum)))
    m("streaming.dedup_dropped") = ops.map(o =>
      Option(o.customMetrics.get("numDroppedDuplicateRows")).map(_.doubleValue)
        .getOrElse(0.0)).sum
    m("streaming.stage_s") = perBatch(js => js.filter(j =>
      j.layer == "streaming" && j.writes.isDefined).map(j => sec(j.durMs)).sum)

    // ops.EventOps: decode in isolation (it runs fused into the stage job)
    val (decodeS, quarantined) =
      if (res.records.isEmpty) (0.0, 0.0) else isolatedDecode(ctx, res.records)
    m("ops.EventOps.decode_s_per_1k") = decodeS
    m("ops.EventOps.quarantined") = quarantined

    // pipeline.BatchPipeline: compactHour's jobs, per micro-batch
    def compact(js: Seq[JobSpan]) = js.filter(_.layer == "pipeline.BatchPipeline")
    m("pipeline.compactHour_s") = perBatch(js => span(compact(js)))
    m("pipeline.compactHour.jobs") = perBatch(js => compact(js).size.toDouble)
    m("pipeline.compactHour.rows_read") = perBatch(js => compact(js).map(_.recordsRead).sum.toDouble)
    val added = ps.map(p => p.numInputRows - p.stateOperators.map(o =>
      Option(o.customMetrics.get("numDroppedDuplicateRows")).map(_.longValue)
        .getOrElse(0L) + o.numRowsDroppedByWatermark).sum).sum
    val read = compact(jobs).map(_.recordsRead).sum
    m("pipeline.compactHour.reread_ratio") = if (read == 0) 0.0 else read.toDouble / added
    m("pipeline.compactHour.bytes_written") =
      perBatch(js => compact(js).map(_.bytesWritten).sum.toDouble)

    // pipeline.Metrics: the tree its storage gauge walks
    m("pipeline.storage.files") = res.storageFiles

    // ops.LshIndex / GenTable / TombstoneLog: the generation-index lifecycle
    val fold = res.foldSlots
    val add = (p: StreamingQueryProgress) => sec(Tracer.dur(p, "addBatch"))
    val plainAdd = med(ps.filterNot(p => fold(p.batchId)).map(add))
    val foldAdd = med(ps.filter(p => fold(p.batchId)).map(add))
    val lsh = res.indexDir.isDefined
    m("ops.LshIndex.probe_append_s") = if (lsh) plainAdd else 0.0
    m("ops.LshIndex.jobs_per_batch") =
      if (lsh) perBatch(_.size.toDouble, b => !fold(b)) else 0.0
    m("ops.LshIndex.pairs_logged") = res.detail.get("pairs_logged_timed")
      .map(_.toString.toDouble).getOrElse(0.0)
    m("ops.LshIndex.fold_extra_s") = if (fold.isEmpty) 0.0 else foldAdd - plainAdd
    def callMed(name: String) = med(t.calls.filter(_.name == name)
      .map(c => sec(c.end - c.start)))
    m("ops.LshIndex.build_s") = callMed("setup.build")
    m("ops.LshIndex.markDeleted_s") = callMed("markDeleted")
    val idx = res.indexDir.map(new java.io.File(_))
    def files(sub: String, ext: String) = idx.map { d =>
      walk(new java.io.File(d, sub)).filter(_.getName.endsWith(ext))
    }.getOrElse(Nil)
    val gtFiles = files("bands", ".parquet") ++ files("sigs", ".parquet")
    m("ops.GenTable.files_live") = gtFiles.size.toDouble
    m("ops.GenTable.generations_live") = gtFiles.map(_.getParentFile.getName)
      .filter(_.startsWith("gen=")).distinct.size.toDouble
    m("ops.GenTable.bytes_rewritten") =
      jobs.filter(_.fold).map(_.bytesWritten).sum.toDouble
    m("ops.TombstoneLog.files_live") = files("tombstones", ".parquet").size.toDouble

    // busy time per micro-batch of each layer's jobs (union of intervals)
    (Tracer.namedLayers.toSeq.sorted :+ "spark").foreach { l =>
      m(s"$l.busy_s_per_batch") = perBatch(js =>
        sec(Tracer.covered(js.filter(_.layer == l).map(j => (j.start, j.end)))))
    }

    // spark: the scheduler beneath every layer
    m("spark.jobs_per_batch") = perBatch(_.size.toDouble)
    m("spark.tasks_per_batch") = perBatch(_.map(_.tasks).sum.toDouble)
    m("spark.shuffle_bytes_per_batch") = perBatch(_.map(_.shuffleBytes).sum.toDouble)
    m("spark.executor_cpu_s_per_batch") = perBatch(_.map(_.cpuNs).sum / 1e9)
    val wall = sec(ctx.timedEnd - ctx.timedStart)
    m("spark.cpu_utilization") = jobs.map(_.cpuNs).sum / 1e9 / (wall * nproc)
    m("spark.gc_s") = ctx.timedGcMs / 1000.0
    m("spark.scaling_1_vs_n") = 0.0
    m.toMap
  }

  private def walk(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
    else if (f.isFile) Seq(f) else Nil

  /** `decodeRecords` over the run's records into a noop sink: seconds per
    * 1,000 records (median of three after a warm-up), and rows quarantined. */
  private def isolatedDecode(ctx: Ctx, records: Seq[String]): (Double, Double) = {
    val spark = ctx.spark
    import spark.implicits._
    val df = records.toDF("record").persist()
    try {
      df.count()
      def once(): Double = ctx.span("decodeRecords") {
        val t = System.nanoTime()
        StreamingPipeline.decodeRecords(df).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t) / 1e9
      }
      once()
      val s = Stats.median(Seq.fill(3)(once()))
      val kept = ctx.span("decodeRecords") { StreamingPipeline.decodeRecords(df).count() }
      (s / records.size * 1000.0, (records.size - kept).toDouble)
    } finally df.unpersist()
  }
}
