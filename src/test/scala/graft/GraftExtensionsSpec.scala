package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.util.sketch.BloomFilter
import graft.functions._
import graft.ops.IvfIndex

/** The SparkSessionExtensions hook: a session built
  * `withExtensions(new GraftExtensions)` resolves the graft functions from
  * plain SQL, with no runtime registration call. The Column entry points
  * need no SQL name at all. */
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

  private val names = Seq("cosine_sim", "minhash_sig", "nfc_normalize",
    "bloom_might_contain", "kmv_distinct", "kll_quantiles", "space_saving_topk")

  private def bloomOf(keys: String*): BloomFilter = {
    val bloom = BloomFilter.create(100)
    keys.foreach(bloom.putString)
    bloom
  }

  test("the extension alone also resolves nfc_normalize, bloom_might_contain, " +
    "kll_quantiles and space_saving_topk from SQL") {
    val ext = extendedSession()
    import ext.implicits._
    assert(names.forall(ext.catalog.functionExists), names.filterNot(ext.catalog.functionExists))
    Seq(("v1", 1.0, "e\u0301"), ("v2", 2.0, "x")).toDF("v", "x", "s")
      .createOrReplaceTempView("graft_ext_more_t")
    val bos = new java.io.ByteArrayOutputStream()
    bloomOf("v1").writeTo(bos)
    val hex = bos.toByteArray.map(b => f"$b%02X").mkString
    val rows = ext.sql(s"""SELECT v, nfc_normalize(s), bloom_might_contain(X'$hex', v)
                           FROM graft_ext_more_t ORDER BY v""").collect()
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq("v1" -> "\u00e9", "v2" -> "x"))
    assert(rows(0).getBoolean(2), "an inserted key must probe true")
    val agg = ext.sql("""SELECT kll_quantiles(x, 8, array(0.5)),
                                space_saving_topk(v, 4, 1)[0].key
                         FROM graft_ext_more_t""").head()
    assert(agg.getSeq[Double](0) === Seq(1.0))
    assert(agg.getString(1) === "v1")
  }

  test("every Column entry point leaves a fresh session's function registry " +
    "as it was; GraftFunctions.register installs all seven SQL names") {
    val fresh = spark.newSession()
    import fresh.implicits._
    val registry = fresh.sessionState.functionRegistry
    val before = registry.listFunction().toSet
    val df = Seq((Array(1f, 0f), Seq("a b"), "v1", 1.0)).toDF("a", "sh", "v", "x")
    val row = df.select(
      CosineSimilarity.cosineSim($"a", $"a"),
      MinHashSignature.minhashSig($"sh", 2),
      NfcNormalize.nfc($"v"),
      BloomMightContain.mightContain(bloomOf("v1"), $"v"),
      // built inside a transform lambda
      IvfIndex.cellOf($"a", Seq(Seq(0f, 1f), Seq(1f, 0f)))).head()
    assert(row.getDouble(0) === 1.0)
    assert(row.getSeq[String](1).length === 2)
    assert(row.getString(2) === "v1" && row.getBoolean(3))
    assert(row.getInt(4) === 1)
    val agg = df.groupBy($"v").agg(
      KMVSketch.kmvDistinct($"v", 4),
      KllQuantiles.quantiles($"x", 8, Seq(0.5)),
      SpaceSavingTopK.topK($"v", 4, 1)).head()
    assert(agg.getDouble(1) === 1.0)
    assert(agg.getSeq[Double](2) === Seq(1.0))
    assert(agg.getSeq[org.apache.spark.sql.Row](3).map(_.getString(0)) === Seq("v1"))
    assert(registry.listFunction().toSet === before)
    GraftFunctions.register(fresh)
    assert(names.forall(fresh.catalog.functionExists))
  }
}
