package graft

import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import graft.ops.Caches
import graft.pipeline.CurationPipeline
import graft.sources.Tables

class CurationPipelineSpec extends SparkSpecBase {
  import spark.implicits._

  test("full curation funnel: exact dups, low-quality, and near-dups " +
    "drop in their own stages; tokens accounted") {
    val docs = Tables.documents(spark, sf0001).select($"doc_id", $"text")
    // inject: an exact dup (different id), a trivial low-quality doc, and
    // a near-dup (one word changed in a long doc)
    val base = docs.where($"doc_id" === 1).select($"text").as[String].head()
    val nearDup = base.split(" ").toSeq.updated(0, "zzz").mkString(" ")
    val injected = docs.unionByName(Seq(
      (900001L, base),          // exact dup of doc 1
      (900002L, "tiny doc"),    // fails minWords
      (900003L, nearDup)        // near-dup of doc 1
    ).toDF("doc_id", "text"))

    val (curated, report) = CurationPipeline.curate(injected)
    val r = report.head()
    val input = r.getAs[Long]("input_docs")
    assert(input === docs.count() + 3)
    assert(r.getAs[Long]("after_exact_dedup") === input - 1) // exact dup gone
    assert(r.getAs[Long]("after_quality") <= input - 2)      // tiny doc gone
    val survivors = curated.select("doc_id").as[Long].collect().toSet
    assert(!survivors.contains(900001L), "exact dup must drop")
    assert(!survivors.contains(900002L), "low-quality must drop")
    assert(!survivors.contains(900003L), "near-dup must drop (higher id)")
    assert(survivors.contains(1L), "original survives every stage")
    assert(r.getAs[Long]("total_ws_tokens") > 0)
  }

  test("langIdAudit flag: the content-derived language audit drops " +
    "declaration-disagreeing docs and nothing else") {
    // two separable populations: 'en' docs over one vocabulary, 'xx'
    // docs over a disjoint one — plus one doc DECLARED en whose bytes
    // are pure xx (a mislabel the audit must catch) and one declared xx
    // with en bytes. 2-iteration trigram LogReg separates these easily.
    // per-doc unique filler tokens keep every doc OUTSIDE near-dup range
    // of its population (the audit must be the only stage that drops)
    def enText(tag: String) =
      (0 until 30).map(j => s"the quick brown fox $tag$j").mkString(" ")
    def xxText(tag: String) =
      (0 until 30).map(j => s"zorp blix vemk gluf $tag$j").mkString(" ")
    val docs = ((0 until 12).map(i => (i.toLong, "en", enText(s"a${i}b"))) ++
      (12 until 24).map(i => (i.toLong, "xx", xxText(s"c${i}d"))) ++
      Seq((100L, "en", xxText("e9f")), (101L, "xx", enText("g9h"))))
      .toDF("doc_id", "lang", "text")
    val annotated = CurationPipeline.langIdAnnotate(docs)
    val disagree = annotated.where(!col("lang_agree"))
      .select("doc_id").as[Long].collect().toSet
    assert(disagree == Set(100L, 101L),
      s"exactly the two mislabeled docs must disagree, got $disagree")
    // the MULTICLASS argmax form (what the curate() stage now runs)
    // catches the same two plants AND names the language it read
    val multi = CurationPipeline.langIdAnnotateMulti(docs)
    val mDisagree = multi.where(!col("lang_agree"))
      .select(col("doc_id"), col("lang_pred")).as[(Long, String)]
      .collect().toMap
    assert(mDisagree == Map(100L -> "xx", 101L -> "en"),
      s"argmax must read the plants' true languages, got $mDisagree")
    // trainMulti's fused per-iteration job learns BIT-IDENTICAL weights
    // to a per-class binary train loop (the equality its scaladoc
    // promises — one job per iteration is an optimization, not a model)
    locally {
      import graft.ops.LogReg
      val grams = docs.select(col("doc_id"),
        explode(graft.ops.TextOps.charTrigrams(col("text"))).as("term"))
      val nt = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val feat = grams
        .select(col("doc_id"), LogReg.bucketOf(col("term"), 32).as("j"))
        .groupBy(col("doc_id"), col("j")).agg(count(lit(1)).as("c"))
        .join(nt, "doc_id")
        .select(col("doc_id"), col("j"),
          (col("c").cast("double") / col("n")).as("x"))
        .persist()
      try {
        val classes = Seq("en", "xx")
        val fused = LogReg.trainMulti(feat,
          docs.select(col("doc_id"), col("lang").as("label")), classes, 32, 2)
        classes.zip(fused).foreach { case (c, wm) =>
          val wb = LogReg.train(feat, docs.select(col("doc_id"),
            when(col("lang") === c, 1.0).otherwise(0.0).as("y")), 32, 2)
          assert(wm.toSeq == wb.toSeq, s"class $c: fused != per-class weights")
        }
      } finally { feat.unpersist(); () }
    }
    // and through the curate() flag: both mislabels drop, the clean
    // population is untouched by this stage
    val cfg = CurationPipeline.Config(minWords = 3, langIdAudit = true)
    val (curated, _) = CurationPipeline.curate(docs, cfg)
    val survivors = curated.select("doc_id").as[Long].collect().toSet
    assert(!survivors.contains(100L) && !survivors.contains(101L),
      "flagged mislabels must drop in the audit stage")
    assert(survivors.contains(0L) && survivors.contains(12L))
    curated.unpersist()
    // flag off: the same config keeps the mislabels (stage not wired)
    val (kept, _) = CurationPipeline.curate(docs,
      cfg.copy(langIdAudit = false))
    val keptIds = kept.select("doc_id").as[Long].collect().toSet
    assert(keptIds.contains(100L) && keptIds.contains(101L))
    kept.unpersist()
  }

  test("maxBucket knob: the default cap keeps a mass-templated near-dup " +
    "cluster (documented trade); maxBucket=None dedups it") {
    // 80 near-identical long docs (> DefaultMaxBucket=64 per LSH bucket)
    // plus distinct filler: with the cap their bucket is dropped from
    // candidate generation, so ALL survive; uncapped, they dedup to one.
    val words = (0 until 40).map(i => s"word$i").mkString(" ")
    val cluster = (0 until 80).map(i => (1000L + i, s"$words tail$i"))
    val filler = (0 until 20).map(i =>
      (2000L + i, (0 until 40).map(j => s"doc$i-w$j").mkString(" ")))
    val docs = (cluster ++ filler).toDF("doc_id", "text")
    val cfg = CurationPipeline.Config(jaccardThreshold = 0.5)

    val capped = CurationPipeline.nearDedup(docs, cfg)
    assert(capped.count() === 100,
      "capped: the hot cluster's bucket is pruned, every doc survives")

    val uncapped = CurationPipeline.nearDedup(docs, cfg.copy(maxBucket = None))
    val survivors = uncapped.select("doc_id").as[Long].collect().toSet
    assert(survivors.count(_ >= 2000L) === 20, "filler untouched")
    assert(survivors.count(_ < 2000L) === 1,
      s"uncapped: cluster must collapse to its first doc, got ${survivors.count(_ < 2000L)}")
  }

  test("curation is idempotent: curating curated output drops nothing") {
    val docs = Tables.documents(spark, sf0001).select($"doc_id", $"text")
    val (curated, _) = CurationPipeline.curate(docs)
    val n1 = curated.count()
    val (again, _) = CurationPipeline.curate(curated.select($"doc_id", $"text"))
    assert(again.count() === n1)
  }

  test("canonicalSelect keeps exactly the best member per transitive " +
    "cluster — including across a chain pairwise removal would break") {
    // chain 1–2, 2–3 (no 1–3 edge), singleton 9
    val docs = Seq(
      (1L, "aaaa"), (2L, "aaaaaa"), (3L, "aa"), (9L, "zz"))
      .toDF("doc_id", "text")
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val out = CurationPipeline
      .canonicalSelect(docs, edges, length($"text"))
      .select($"doc_id", $"cluster_id", $"kept")
      .as[(Long, Long, Int)].collect().toSet
    // one cluster {1,2,3} keyed by its min member; survivor = longest (2)
    assert(out == Set((1L, 1L, 0), (2L, 1L, 1), (3L, 1L, 0), (9L, 9L, 1)))
  }

  test("canonicalSelect ties go to the lowest doc_id") {
    val docs = Seq((5L, "same"), (6L, "same")).toDF("doc_id", "text")
    val edges = Seq((5L, 6L)).toDF("src", "dst")
    val kept = CurationPipeline.canonicalSelect(docs, edges, length($"text"))
      .where($"kept" === 1).select($"doc_id").as[Long].collect().toSeq
    assert(kept == Seq(5L))
  }

  test("boilerplateStrip removes globally-frequent blocks and " +
    "reassembles the rest in order") {
    // 10 docs share a 5-token banner + a unique 5-token tail; one doc is
    // banner-only; one doc shares nothing
    val banner = "ad click banner buy now"
    val docs = ((1L to 10L).map(i =>
      (i, s"$banner unique$i word$i tail$i x$i y$i")) ++
      Seq((50L, banner), (60L, "alpha beta gamma delta epsilon zeta")))
      .toDF("doc_id", "text")
    val out = CurationPipeline.boilerplateStrip(docs, blockTokens = 5,
      minDocs = 8)
    val m = out.select($"doc_id", $"text", $"n_blocks", $"n_dropped")
      .as[(Long, String, Int, Long)].collect().map(r => r._1 -> r).toMap
    assert(m(1L)._2 == "unique1 word1 tail1 x1 y1", "banner stripped")
    assert(m(1L)._3 == 2 && m(1L)._4 == 1L)
    assert(m(50L)._2 == "" && m(50L)._4 == 1L,
      "all-boilerplate doc comes back empty, not silently filtered")
    assert(m(60L)._2 == "alpha beta gamma delta epsilon zeta" &&
      m(60L)._4 == 0L, "distinct doc untouched")
  }

  test("boilerplateStrip threshold: a block in fewer than minDocs docs " +
    "survives, and partial tail blocks are preserved") {
    val docs = (1L to 5L).map(i =>
      (i, s"shared shared shared shared shared tail$i a b")) // 8 tokens
      .toDF("doc_id", "text")
    val out = CurationPipeline.boilerplateStrip(docs, blockTokens = 5,
      minDocs = 8)
    assert(out.where($"n_dropped" > 0).count() === 0)
    val t1 = out.where($"doc_id" === 1).select($"text").as[String].head()
    assert(t1 == "shared shared shared shared shared tail1 a b",
      "3-token tail block reassembles in place")
  }

  test("nearDupEdges emits the verified pair edges nearDedup acts on, " +
    "in both the localized and checkpointed branches") {
    // one near-dup chain (1–2 share a long prefix) plus a distinct doc
    val words = (0 until 40).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, s"$words tailone"), (2L, s"$words tailtwo"),
      (9L, (0 until 40).map(i => s"other$i").mkString(" ")))
      .toDF("doc_id", "text")
    val cfg = CurationPipeline.Config(jaccardThreshold = 0.5)

    val got = CurationPipeline.nearDupEdges(docs, cfg)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)), s"expected the one verified pair, got $got")

    // a cap-0 session forces the over-cap (checkpointed) branch: same
    // edges, and no CacheManager entry outlives the call
    val capped = spark.newSession()
    capped.conf.set(Caches.MaxRowsConf, "0")
    spark.catalog.clearCache()
    val big = CurationPipeline.nearDupEdges(
      capped.createDataFrame(docs.collect().toSeq.asJava, docs.schema), cfg)
    assert(!big.queryExecution.logical.isInstanceOf[LocalRelation],
      "cap 0 must take the checkpointed branch")
    assert(spark.sharedState.cacheManager.isEmpty,
      "the checkpointed branch must leave no cache entry")
    assert(big.select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet == got)
  }

  test("sourceCap keeps at most cap docs per source, highest priority " +
    "first, and leaves under-cap sources whole") {
    val docs = (1L to 10L).map(i => (i, "s1", "x" * i.toInt)) ++
      Seq((100L, "s2", "yy"), (101L, "s2", "y"))
    val df = docs.toDF("doc_id", "source", "text")
    val kept = CurationPipeline.sourceCap(df, cap = 3, length($"text"))
      .select($"doc_id").as[Long].collect().toSet
    // s1: the 3 longest are ids 8,9,10; s2 (2 docs) survives whole
    assert(kept == Set(8L, 9L, 10L, 100L, 101L))
  }
}
