package perfbench

/** Writes a traced run's spans as JSON lines: micro-batches (from query
  * progress), Spark jobs (parent: their micro-batch or benchmark call) and
  * the benchmark's call spans, each with its self time (duration minus the
  * part of it that child spans cover). */
object Spans {
  def write(path: String, t: Tracer, progress: Progress): Unit = {
    val jobs = t.jobs
    val w = new java.io.PrintWriter(path)
    def line(m: Map[String, Any]): Unit = w.println(Stats.json(m))
    try {
      progress.of(None).foreach { p =>
        val id = s"batch:${p.id.toString.take(8)}:${p.batchId}"
        val start = Tracer.startMs(p)
        val end = start + Tracer.dur(p, "triggerExecution")
        val kids = jobs.filter(j => j.query.contains(p.id.toString) &&
          j.batch.contains(p.batchId))
        line(Map("kind" -> "batch", "id" -> id, "layer" -> "streaming",
          "start_ms" -> start, "end_ms" -> end, "dur_ms" -> (end - start),
          "self_ms" -> (end - start - Tracer.covered(kids.map(j => (j.start, j.end)))),
          "input_rows" -> p.numInputRows,
          "phases_ms" -> p.durationMs.keySet.toArray.map(k =>
            k.toString -> Tracer.dur(p, k.toString)).toMap))
        kids.foreach(j => line(job(j, id)))
      }
      t.calls.foreach { c =>
        val kids = jobs.filter(_.call.contains(c.id))
        line(Map("kind" -> "call", "id" -> c.id, "name" -> c.name,
          "layer" -> "bench", "start_ms" -> c.start, "end_ms" -> c.end,
          "dur_ms" -> (c.end - c.start),
          "self_ms" -> (c.end - c.start - Tracer.covered(kids.map(j => (j.start, j.end))))))
        kids.foreach(j => line(job(j, c.id)))
      }
      jobs.filter(j => j.batch.isEmpty && j.call.isEmpty)
        .foreach(j => line(job(j, "")))
    } finally w.close()
  }

  private def job(j: JobSpan, parent: String): Map[String, Any] =
    Map("kind" -> "job", "id" -> s"job:${j.id}", "parent" -> parent,
      "layer" -> j.layer, "site" -> j.site, "writes" -> j.writes,
      "reads" -> j.reads, "start_ms" -> j.start,
      "end_ms" -> j.end, "dur_ms" -> j.durMs, "self_ms" -> j.durMs,
      "tasks" -> j.tasks, "cpu_s" -> j.cpuNs / 1e9,
      "shuffle_bytes" -> j.shuffleBytes, "records_read" -> j.recordsRead,
      "bytes_written" -> j.bytesWritten)
}
