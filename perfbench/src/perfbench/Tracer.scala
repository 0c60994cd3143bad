package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One Spark job as the listener saw it. `batch` is the micro-batch that
  * ran it (the `streaming.sql.batchId` local property Spark stamps on every
  * job of a micro-batch); `call` the benchmark call span that ran it;
  * `writes` and `reads` the storage paths of its SQL execution's plan. */
final class JobSpan(val id: Int, val start: Long, val query: Option[String],
    val batch: Option[Long], val call: Option[String], val site: String,
    val details: String, val writes: Option[String], val reads: Seq[String]) {
  @volatile var end: Long = start
  var tasks = 0
  var cpuNs = 0L
  var shuffleBytes = 0L
  var recordsRead = 0L
  var bytesWritten = 0L

  /** The layer. Outside micro-batches: the innermost repo module on the
    * job's call site that is a named layer (else the innermost repo module).
    * Inside a micro-batch Spark pins every job's call site to the query's
    * `start` call, so the layer there is the owner of the storage the job's
    * plan writes or reads (see [[Tracer.storageLayer]]). */
  lazy val layer: String = {
    val mods = Tracer.repoModules(details)
    val bySite = mods.find(Tracer.namedLayers).orElse(mods.headOption)
    if (batch.isDefined) Tracer.storageLayer(writes, reads)
    else bySite.getOrElse(
      if (details.contains("perfbench.")) "bench" else Tracer.storageLayer(writes, reads))
  }

  /** A lag-1 fold write (the index compaction stages its tables in
    * `<table>.compacting`). */
  def fold: Boolean = writes.exists(_.contains(".compacting"))

  def durMs: Long = end - start
}

/** A span the benchmark records around its own calls into the program. */
final case class CallSpan(id: String, name: String, start: Long, end: Long)

/** In-memory job span recorder (a SparkListener for jobs and stages) plus
  * the benchmark's own call spans. Micro-batch spans come from [[Progress]].
  * Nothing is written until the run ends. */
final class Tracer(spark: SparkSession) {
  private val jobMap = new ConcurrentHashMap[Int, JobSpan]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val execIo = new ConcurrentHashMap[Long, (Option[String], Seq[String])]()
  private val callQ = new ConcurrentLinkedQueue[CallSpan]()
  private val seq = new java.util.concurrent.atomic.AtomicInteger()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val st = e.stageInfos.sortBy(_.stageId).lastOption
      val (writes, reads) = prop("spark.sql.execution.id")
        .flatMap(x => Option(execIo.get(x.toLong))).getOrElse((None, Nil))
      jobMap.put(e.jobId, new JobSpan(e.jobId, e.time,
        prop("sql.streaming.queryId"), prop("streaming.sql.batchId").map(_.toLong),
        prop(Tracer.CallKey),
        st.map(_.name).getOrElse(""), st.map(_.details).getOrElse(""), writes, reads))
      e.stageInfos.foreach(s => stageJob.putIfAbsent(s.stageId, e.jobId))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        execIo.put(x.executionId, Tracer.io(x.physicalPlanDescription))
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobMap.get(e.jobId)).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      Option(stageJob.get(si.stageId)).flatMap(j => Option(jobMap.get(j)))
        .foreach { j =>
          val tm = si.taskMetrics
          j.synchronized {
            j.tasks += si.numTasks
            if (tm != null) {
              j.cpuNs += tm.executorCpuTime
              j.shuffleBytes += tm.shuffleWriteMetrics.bytesWritten
              j.recordsRead += tm.inputMetrics.recordsRead
              j.bytesWritten += tm.outputMetrics.bytesWritten
            }
          }
        }
    }
  }

  spark.sparkContext.addSparkListener(jobListener)

  /** Run `body` as a benchmark call span named `name`; jobs it submits
    * (from this thread or threads it starts) carry the span id. */
  def call[T](name: String)(body: => T): T = {
    val id = s"$name#${seq.incrementAndGet()}"
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Tracer.CallKey)
    sc.setLocalProperty(Tracer.CallKey, id)
    val t0 = System.currentTimeMillis()
    try body finally {
      callQ.add(CallSpan(id, name, t0, System.currentTimeMillis()))
      sc.setLocalProperty(Tracer.CallKey, prev)
    }
  }

  /** Drain the asynchronous listener bus, then detach. */
  def close(): Unit = {
    Tracer.drain(spark)
    spark.sparkContext.removeSparkListener(jobListener)
  }

  def jobs: Seq[JobSpan] = jobMap.values.asScala.toSeq.sortBy(_.id)
  def calls: Seq[CallSpan] = callQ.asScala.toSeq.sortBy(_.start)
}

object Tracer {
  val CallKey = "perfbench.call"

  /** The program's modules the benchmark reports as layers. */
  val namedLayers: Set[String] = Set("streaming", "ops.EventOps",
    "pipeline.BatchPipeline", "pipeline.Metrics", "ops.LshIndex",
    "ops.GenTable", "ops.TombstoneLog")

  private val Frame = """graft\.([A-Za-z0-9_.]+?)\$?\.[A-Za-z0-9_$]+\(""".r

  /** Repo modules on a long-form call site, innermost first, with the
    * `streaming` package collapsed to one layer. */
  def repoModules(details: String): Seq[String] =
    details.linesIterator.flatMap(l => Frame.findFirstMatchIn(l.trim))
      .map(_.group(1).takeWhile(_ != '$'))
      .map(m => if (m.startsWith("streaming.")) "streaming" else m)
      .toSeq

  private val Write =
    """(?s)\(\d+\) Execute InsertIntoHadoopFsRelationCommand.*?Arguments: ([^,\s]+)""".r
  private val Read = """Location: \w+(?:\([^)]*\))?\s*\[([^\]]*)\]""".r

  /** (written path, read paths) of a physical plan description; a plan over
    * the micro-batch itself reads `stream:`. */
  def io(plan: String): (Option[String], Seq[String]) = {
    val reads = Read.findAllMatchIn(plan).flatMap(_.group(1).split(",\\s*")).toSeq
    val stream =
      if (plan.contains("MicroBatchScan") || plan.contains("SQLExecutionRDD")) Seq("stream:")
      else Nil
    (Write.findFirstMatchIn(plan).map(_.group(1)), (reads ++ stream).distinct)
  }

  /** The module that owns the storage a micro-batch job writes or reads:
    * fold writes and index-table appends are `ops.GenTable`, the pair log
    * (whose write runs the probe) and index reads `ops.LshIndex`, tombstone
    * reads and writes `ops.TombstoneLog`, the staging write (decode + dedup
    * run fused into it) `streaming`, staging reads and processed-hour reads
    * and writes `pipeline.BatchPipeline`, other reads of the micro-batch
    * `streaming`, anything else `spark`. */
  def storageLayer(writes: Option[String], reads: Seq[String]): String = {
    def seg(p: String, s: String) = p.contains(s"/$s/") || p.endsWith(s"/$s")
    val w = writes.getOrElse("")
    if (w.contains(".compacting") || seg(w, "bands") || seg(w, "sigs")) "ops.GenTable"
    else if (w.contains("lsh-pairs")) "ops.LshIndex"
    else if (seg(w, "tombstones")) "ops.TombstoneLog"
    else if (seg(w, "staging")) "streaming"
    else if (seg(w, "processed")) "pipeline.BatchPipeline"
    else if (reads.exists(r => seg(r, "bands") || seg(r, "sigs"))) "ops.LshIndex"
    else if (reads.exists(seg(_, "tombstones"))) "ops.TombstoneLog"
    else if (reads.exists(r => seg(r, "staging") || seg(r, "processed")))
      "pipeline.BatchPipeline"
    else if (reads.contains("stream:")) "streaming"
    else "spark"
  }

  /** Wait until every event posted so far reached the listeners. */
  def drain(spark: SparkSession): Unit = {
    val m = spark.sparkContext.getClass.getMethod("listenerBus")
    val bus = m.invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** Union length of [start, end) intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }

  /** Epoch ms of a progress event's batch start. */
  def startMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli

  def dur(p: StreamingQueryProgress, k: String): Long =
    Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
}

/** Every micro-batch's StreamingQueryProgress, kept in memory. Always on,
  * so traced and untraced runs carry the same streaming listener. */
final class Progress(spark: SparkSession) {
  private val q = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val listener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = q.add(e.progress)
  }
  spark.streams.addListener(listener)

  /** Progress of `query` (all queries when None), in batch order. */
  def of(query: Option[java.util.UUID]): Seq[StreamingQueryProgress] = {
    Tracer.drain(spark)
    q.asScala.toSeq.filter(p => query.forall(_ == p.id)).sortBy(_.batchId)
  }
}
