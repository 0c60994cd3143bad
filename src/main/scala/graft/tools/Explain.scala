package graft.tools
import org.apache.spark.sql.SparkSession
object Explain {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse("q20_minhash_lsh_neardup").split(",")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val builder = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // extra confs for plan experiments — e.g. GRAFT_PROFILE_CONF=spark.graft.localize.maxRows=0 exposes the
    // pre-localization plan of queries that collect driver-side
    sys.env.get("GRAFT_PROFILE_CONF").foreach(_.split(',').foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      builder.config(k, v)
    })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.SparkEntry.entry(spark).count() // warmup
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, dir)
      if (sys.env.get("EXPLAIN").contains("1")) df.explain("formatted")
      (1 to 3).foreach { i =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        println(f"[explain] $name run$i t=${(System.nanoTime()-t0)/1e9}%.2fs")
      }
    }
    spark.stop()
  }
}
