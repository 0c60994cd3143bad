package graft

import org.apache.spark.sql.SparkSession
import graft.functions.GraftExtensions

/** The SparkSessionExtensions hook: a session built
  * `withExtensions(new GraftExtensions)` resolves the graft functions from
  * plain SQL, with no runtime registration call. */
class GraftExtensionsSpec extends SparkSpecBase {

  /** A second session on the shared SparkContext, built with the
    * extensions (a builder returns the default session as it is while one
    * is set, so it is cleared around the build and restored). */
  private def extendedSession(): SparkSession = {
    val shared = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
    finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  test("a session built withExtensions(new GraftExtensions) resolves " +
    "cosine_sim, minhash_sig and kmv_distinct from SQL") {
    val ext = extendedSession()
    assert(ext ne spark, "the builder returned the shared session")
    import ext.implicits._
    Seq((Array(1f, 0f), Array(1f, 0f), Seq("a b", "b c"), "v1"),
        (Array(0f, 1f), Array(1f, 0f), Seq("a b"), "v2"))
      .toDF("a", "b", "sh", "v").createOrReplaceTempView("graft_ext_t")
    val rows = ext.sql("""SELECT v, round(cosine_sim(a, b), 2) AS cos,
                              minhash_sig(sh, 2)[0] AS m0
                          FROM graft_ext_t ORDER BY v""").collect()
    assert(rows.map(r => r.getString(0) -> r.getDouble(1)).toSeq ===
      Seq("v1" -> 1.0, "v2" -> 0.0))
    assert(rows.forall(!_.isNullAt(2)), rows.mkString(", "))
    // fewer distinct values than k: the sketch counts them exactly
    assert(ext.sql("SELECT kmv_distinct(v, 16) FROM graft_ext_t").head().getDouble(0) === 2.0)
  }
}
