package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** What one workload run measured and checked. */
final class Outcome {
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer[String]()
  /** End-to-end metrics by name (units are fixed in [[Main.E2eUnits]]). */
  val e2e = mutable.LinkedHashMap[String, Double]()
  /** The workload's own metric names, with sample counts. */
  val detail = mutable.LinkedHashMap[String, Any]()
  /** The query the measured window ran. */
  var query: Option[java.util.UUID] = None
  /** Files under the EP1 staging + processed trees at the end. */
  var storageFiles = 0.0
  /** The records the run fed (for the isolated decode in traced runs). */
  var records: Seq[String] = Nil
  /** The near-dup index directory. */
  var indexDir: Option[String] = None
  var foldSlots: Set[Long] = Set.empty

  def fail(msg: String): Unit = { failed += 1; failures += msg }

  /** Count `total` output checks as attempted, `fails` of them failed. */
  def check(total: Int, fails: Seq[String]): Unit = {
    attempted += total
    fails.foreach(fail)
  }
}

/** Run context: the session, the seed, the measured window and the span
  * recorders. */
final class Ctx(val spark: SparkSession, val seed: Long, work: String,
    val progress: Progress, val tracer: Option[Tracer]) {
  private var dirs = 0
  /** Epoch ms when the measured window opened and closed. */
  var timedStart = 0L
  var timedEnd = 0L
  /** Length of the measured window in seconds. */
  var windowS = 0.0
  /** Durations of the setup steps, in order. */
  val setupSteps = mutable.ArrayBuffer[(String, Double)]()

  /** JVM garbage-collection time inside the measured window. */
  var timedGcMs = 0L

  def timed(body: => Unit): Unit = {
    val gc = Session.gcMs()
    timedStart = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body finally {
      timedEnd = System.currentTimeMillis()
      windowS = (System.nanoTime() - t0) / 1e9
      timedGcMs = Session.gcMs() - gc
    }
  }

  /** A benchmark call span (traced runs) around a call into the program. */
  def span[T](name: String)(body: => T): T =
    tracer.fold(body)(_.call(name)(body))

  def setupSpan[T](name: String)(body: => T): T = {
    val t = System.nanoTime()
    try span(s"setup.$name")(body)
    finally setupSteps += name -> (System.nanoTime() - t) / 1e9
  }

  def dir(name: String): String = { dirs += 1; s"$work/$name-$dirs" }
}

object Main {
  val Workloads: Map[String, Ctx => Outcome] = Map(
    "ep1_backfill" -> Ep1.backfill,
    "neardup_ingest" -> NearDup.run)

  val E2eUnits: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "throughput_per_s" -> "1/s", "latency_p50_s" -> "s",
    "latency_tail_s" -> "s", "storage_bytes_per_item" -> "B",
    "recall" -> "ratio")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val run = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt("trace") == "1"
    val work = opt("work")
    val launched = opt("launched").toLong
    val out = opt("out")
    val nproc = Runtime.getRuntime.availableProcessors

    val spark = Session.create(s"local[$nproc]", nproc, work)
    val sessionReady = System.currentTimeMillis()
    val probeBefore = Session.cpuProbe(spark, nproc)
    val progress = new Progress(spark)
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val ctx = new Ctx(spark, seed, work, progress, tracer)
    val res: Outcome =
      try run(ctx)
      catch { case e: Throwable =>
        e.printStackTrace()
        val o = new Outcome
        o.attempted = 1
        o.fail(s"run failed: $e")
        o
      }
    // the measured work is fixed; --seconds only caps how long it may take
    if (ctx.windowS > seconds)
      res.fail(f"measured window took ${ctx.windowS}%.1f s, over the $seconds s cap")
    // the program's set-up: JVM and session start plus the workload's set-up
    // steps (inputs, index build, query start and warm-up batch)
    res.e2e("setup_s") = (sessionReady - launched) / 1000.0 + ctx.setupSteps.map(_._2).sum
    res.detail("peak_rss_mb") = Session.peakRssMb()
    val layers: Map[String, Double] = tracer.map { t =>
      val m = Layers.compute(ctx, res, t, nproc)
      t.close()
      Spans.write(s"$out.spans.jsonl", t, progress)
      m
    }.getOrElse(Map.empty)
    val probeAfter = Session.cpuProbe(spark, nproc)
    val scaling = if (trace && workload == "ep1_backfill" && res.failed == 0) {
      // single-threaded baseline of the same job: same minutes, also traced;
      // reported, never gated
      spark.stop()
      val one = Session.create("local[1]", nproc, work)
      val t1 = new Tracer(one)
      try {
        val c1 = new Ctx(one, seed, s"$work/local1", new Progress(one), Some(t1))
        val o1 = Ep1.backfill(c1)
        o1.failures.foreach(f => res.fail(s"local[1] baseline: $f"))
        res.detail("local1_events_per_s") = o1.e2e("throughput_per_s")
        Some(res.e2e("throughput_per_s") / o1.e2e("throughput_per_s"))
      } catch { case e: Exception =>
        res.fail(s"local[1] baseline failed: $e")
        None
      } finally { t1.close(); one.stop() }
    } else {
      spark.stop()
      None
    }
    val result = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "seconds" -> seconds, "nproc" -> nproc,
      "correct" -> (res.failed == 0 && res.attempted > 0),
      "attempted" -> res.attempted, "failed" -> res.failed,
      "failures" -> res.failures.toSeq,
      "e2e" -> E2eUnits.map { case (n, u) =>
        n -> Map("value" -> res.e2e.getOrElse(n, Double.NaN), "unit" -> u) }.toMap,
      "layer" -> (layers ++ scaling.map("spark.scaling_1_vs_n" -> _)),
      "detail" -> res.detail.toMap,
      "setup" -> Map("session_s" -> (sessionReady - launched) / 1000.0,
        "steps_s" -> ctx.setupSteps.toSeq.map { case (n, s) => Map(n -> s) }),
      "noise" -> Map("cpu_probe_before_s" -> probeBefore,
        "cpu_probe_after_s" -> probeAfter),
      "window_s" -> ctx.windowS)
    val w = new java.io.PrintWriter(out)
    try w.write(Stats.json(result)) finally w.close()
  }
}

object Session {
  def create(master: String, cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Fixed CPU-bound job (xxhash64 over a range, 1 M rows per core, no IO
    * and no shuffle), best of three: a load-inflated run shows here. */
  def cpuProbe(spark: SparkSession, cores: Int): Double = {
    import org.apache.spark.sql.functions.{col, sum, xxhash64}
    (1 to 3).map { _ =>
      val t = System.nanoTime()
      spark.range(0L, cores * 1000000L, 1L, cores)
        .select(sum(xxhash64(col("id")).cast("decimal(38,0)"))).collect()
      (System.nanoTime() - t) / 1e9
    }.min
  }

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
  }

  /** VmHWM of this JVM in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }
}
