package graft

import org.apache.spark.sql.functions._
import graft.queries.Queries

/** Pins for the round-9 quality/similarity operators: q76 unigram-LM
  * scoring, q77 SemDeDup, q78 vocab/OOV audit, q79 signed random
  * projection. Each is oracle-checked end-to-end by the driver; these
  * tests pin the SEMANTIC invariants the hash compare alone would not
  * explain if it ever went red.
  */
class CorpusQualitySpec extends SparkSpecBase {

  private def run(name: String) =
    Queries.all.find(_.name == name).get.fn(spark, sf0001)

  test("q96 manifest invariants: per-source cap respected, bins fill " +
    "contiguously within langs, shards are md5 prefixes") {
    val rows = run("q96_dataset_build").collect()
    assert(rows.nonEmpty)
    // source cap: at most 10 survivors per source
    rows.groupBy(_.getString(2)).foreach { case (src, docs) =>
      assert(docs.length <= 10, s"source $src has ${docs.length} > 10 docs")
    }
    // contiguous packing: within a lang (doc_id order), bin ids are
    // non-decreasing and start at 0
    rows.groupBy(_.getString(1)).foreach { case (lang, docs) =>
      val bins = docs.sortBy(_.getLong(0)).map(_.getLong(4))
      assert(bins.head === 0L, s"$lang first bin ${bins.head}")
      bins.sliding(2).foreach {
        case Array(a, b) => assert(b >= a, s"$lang bins decrease: $a -> $b")
        case _ =>
      }
    }
    // shard = 2-hex md5 prefix of doc_id (independent recompute)
    rows.take(20).foreach { r =>
      val want = java.security.MessageDigest.getInstance("MD5")
        .digest(r.getLong(0).toString.getBytes)
        .take(1).map("%02x".format(_)).mkString
      assert(r.getString(5) === want)
    }
  }

  test("LogReg.train learns the separating signs on a linearly separable " +
    "toy problem, and the loss direction is monotone in the iterations") {
    import spark.implicits._
    import graft.ops.LogReg
    // dim 0 fires only on positives, dim 1 only on negatives
    val feat = ((1L to 20L).map(d => (d, 0, 1.0)) ++
      (21L to 40L).map(d => (d, 1, 1.0))).toDF("doc_id", "j", "x")
    val labels = (1L to 40L).map(d => (d, if (d <= 20) 1.0 else 0.0))
      .toDF("doc_id", "y")
    val w2 = LogReg.train(feat, labels, dims = 2, iters = 2)
    assert(w2(0) > 0 && w2(1) < 0,
      s"separating signs not learned: ${w2.toSeq}")
    // more iterations push the margin further in the same direction
    val w5 = LogReg.train(feat, labels, dims = 2, iters = 5)
    assert(w5(0) > w2(0) && w5(1) < w2(1),
      s"no monotone progress: ${w2.toSeq} -> ${w5.toSeq}")
    // dims never touched by any feature row stay exactly zero
    val w3 = LogReg.train(feat, labels, dims = 3, iters = 3)
    assert(w3(2) === 0.0)
  }

  test("q76: buckets are per-lang surprisal gates — every head doc scores " +
    "below every tail doc of the same language") {
    val rows = run("q76_unigram_lm_quality").collect()
    assert(rows.length == 500)
    val buckets = rows.groupBy(_.getString(4)).view.mapValues(_.length).toMap
    assert(Set("head", "middle", "tail").subsetOf(buckets.keySet),
      s"some bucket is empty: $buckets")
    rows.groupBy(_.getString(1)).foreach { case (lang, docs) =>
      val s = (b: String) => docs.filter(_.getString(4) == b).map(_.getDouble(3))
      for (h <- s("head"); t <- s("tail"))
        assert(h < t, s"$lang: head surprisal $h not below tail $t")
      // the gate is an open interval around the lang mean, so middle docs
      // sit strictly between the head max and the tail min
      for (m <- s("middle")) {
        assert(s("head").forall(_ <= m) || s("head").isEmpty)
        assert(s("tail").forall(_ >= m) || s("tail").isEmpty)
      }
    }
  }

  test("q77: every dropped doc names a lower-id keeper in its own IVF cell " +
    "with cosine at or above the 0.35 gate") {
    val dups = run("q77_semdedup").collect()
    assert(dups.nonEmpty)
    dups.foreach { r =>
      assert(r.getLong(1) < r.getLong(0), "keeper must be the lower id")
      assert(r.getDouble(3) >= 0.35, s"pair below gate: $r")
    }
    // recompute each reported pair's cosine independently of the query
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    dups.foreach { r =>
      val c = cos(emb(r.getLong(0)), emb(r.getLong(1)))
      assert(math.abs(c - r.getDouble(3)) < 1e-3 && c >= 0.35,
        s"reported cos ${r.getDouble(3)} disagrees with recompute $c")
    }
    // dropped set must never contain a doc that is ONLY ever a keeper
    val dropped = dups.map(_.getLong(0)).toSet
    assert(dups.forall(r => r.getLong(1) != r.getLong(0)))
    assert(dropped.size == dups.length, "one row per dropped doc")
  }

  test("q78: OOV counts conserve tokens and the 16-term vocab actually " +
    "splits the corpus") {
    val rows = run("q78_vocab_oov").collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val (n, oov, rate) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(oov <= n)
      assert(math.abs(rate - oov.toDouble / n) < 1e-3)
    }
    val totalOov = rows.map(_.getLong(2)).sum
    val totalTok = rows.map(_.getLong(1)).sum
    assert(totalOov > 0, "a 16-of-31-term vocab must leave some tokens OOV")
    assert(totalOov < totalTok, "head terms must be in-vocab")
    // conservation: per-doc token counts sum to the corpus token count
    val corpusTokens = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(explode(split(col("text"), " "))).count()
    assert(totalTok == corpusTokens)
  }

  test("q79: the signed projection preserves expected squared norm " +
    "(E[|p|^2] = D * |v|^2) within JL tolerance") {
    val proj = run("q79_random_projection").collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getInt(1)).map(_.getDouble(2)).toVector).toMap
    assert(proj.size == 500 && proj.values.forall(_.length == 8))
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    val ratios = proj.map { case (id, p) =>
      val pn = p.map(x => x * x).sum
      val vn = emb(id).map(x => x * x).sum
      pn / (8.0 * vn)
    }.toSeq
    val mean = ratios.sum / ratios.size
    assert(mean > 0.7 && mean < 1.3,
      s"mean norm ratio $mean outside JL expectation band")
    // determinism: the hash-derived matrix must reproduce bit-identically
    val again = run("q79_random_projection").collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getInt(1)).map(_.getDouble(2)).toVector).toMap
    assert(again == proj)
  }

  test("q80: score is the sigmoid of the margin and the keep gate is " +
    "margin >= 0; both classes are populated") {
    val rows = run("q80_hashed_classifier").collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val (m, s, kept) = (r.getDouble(2), r.getDouble(3), r.getBoolean(4))
      assert(math.abs(s - 1.0 / (1.0 + math.exp(-4.0 * m))) < 1e-3,
        s"score $s is not sigmoid(4*margin $m)")
      assert(kept == (m >= 0))
    }
    val nKept = rows.count(_.getBoolean(4))
    assert(nKept > 0 && nKept < rows.length,
      s"degenerate classifier split: $nKept/${rows.length}")
  }

  test("q81: every fabricated mirror's source pair shows overlap, and " +
    "overlap is symmetric-free (src_a < src_b)") {
    val rows = run("q81_source_overlap").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getString(0) < r.getString(1))
      assert(r.getLong(2) > 0)
    }
    // a doc_id%5==0 doc from source s is mirrored under src((id+7)%20):
    // that unordered source pair must appear whenever the two differ and
    // the doc carries >= 2 selected fingerprints (q73's pair threshold is
    // not applied here — any shared fp counts, so presence is enough)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .where(pmod(col("doc_id"), lit(5)) === 0)
      .select(col("doc_id"), col("source")).collect()
    val seen = rows.map(r => (r.getString(0), r.getString(1))).toSet
    val expected = docs.map { d =>
      val a = d.getString(1); val b = s"src${(d.getLong(0) + 7) % 20}"
      if (a < b) (a, b) else (b, a)
    }.filter(p => p._1 != p._2).toSet
    val missing = expected -- seen
    assert(missing.size * 5 < expected.size,
      s"most mirror pairs must surface; missing $missing")
  }

  test("q82: pair counts match an independent bigram recount and the " +
    "ranking is (count desc, pair asc)") {
    val rows = run("q82_bpe_merge_round").collect()
    assert(rows.length == 10)
    val counts = scala.collection.mutable.Map.empty[(String, String), Long]
    spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("text")).collect().foreach { r =>
        r.getString(0).split(" ").sliding(2).foreach {
          case Array(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + 1
          case _           =>
        }
      }
    val expectedTop = counts.toSeq
      .sortBy { case ((a, b), c) => (-c, a, b) }.take(10)
    val got = rows.map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toSeq
    assert(got == expectedTop,
      s"top-10 merge candidates disagree with driver recount:\n$got\n$expectedTop")
  }

  test("q84: the audit's internal identities hold — verified ≡ true " +
    "candidates, ratios match their numerators, recall is observable") {
    val r = run("q84_lsh_calibration_audit").collect() match {
      case Array(only) => only
      case other       => fail(s"audit must be one row, got ${other.length}")
    }
    val (nExact, nCand, nCandTrue, nVer) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(nExact > 0, "sample must retain ground-truth pairs")
    assert(nCand >= nCandTrue)
    // verification applies the exact jaccard gate to candidates, so the
    // verified set IS the true-candidate set — if these ever diverge the
    // two paths' jaccard definitions have drifted
    assert(nVer == nCandTrue)
    assert(math.abs(r.getDouble(4) - nVer.toDouble / nExact) < 1e-3)
    assert(math.abs(r.getDouble(5) - nCandTrue.toDouble / nCand) < 1e-3)
    assert(r.getDouble(4) > 0, "recall must be observable on the sample")
  }

  test("q87: the IVF audit's invariants hold — recall in [0,1], the cell " +
    "pruning actually pruned, and recall@3 matches an independent " +
    "top-3-overlap recount") {
    val r = run("q87_ivf_recall_audit").collect() match {
      case Array(only) => only
      case other       => fail(s"audit must be one row, got ${other.length}")
    }
    val (nProbes, recall, scanFrac) =
      (r.getInt(0), r.getDouble(1), r.getDouble(2))
    assert(nProbes == 5)
    assert(recall >= 0.0 && recall <= 1.0)
    assert(scanFrac > 0.0 && scanFrac < 1.0,
      s"IVF must scan a strict subset of the corpus, got $scanFrac")
    // independent recount: brute-force top-3 per probe vs IVF top-3 per
    // probe, recomputed from the declared q23-style primitives
    import org.apache.spark.sql.expressions.Window
    import graft.functions.CosineSimilarity
    import spark.implicits._
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val probes = emb.where($"vec_id" >= 16 && $"vec_id" < 21)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe"))
    val w = Window.partitionBy($"probe_id").orderBy($"cos".desc, $"vec_id")
    val bf = emb.crossJoin(broadcast(probes))
      .where($"vec_id" =!= $"probe_id")
      .withColumn("cos", CosineSimilarity.cosineSim($"embedding", $"probe"))
      .withColumn("rn", row_number().over(w)).where($"rn" <= 3)
      .select($"probe_id", $"vec_id").as[(Long, Long)].collect().toSet
    val ivf = run("q54_ann_ivf")
      .select($"probe_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val expected = (ivf & bf).size.toDouble / 15.0
    assert(math.abs(recall - expected) < 1e-3,
      s"declared recall $recall != recounted $expected")
  }
}
