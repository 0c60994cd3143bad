package graft

import org.apache.spark.sql.functions._
import graft.ops.TextOps

class TextOpsSpec extends SparkSpecBase {
  import spark.implicits._

  test("wordShingles: n-grams, short docs yield empty array") {
    val df = Seq("a b c d", "a").toDF("text")
    val got = df.select(TextOps.wordShingles($"text", 2).as("s"))
      .as[Seq[String]].collect().toSeq
    assert(got === Seq(Seq("a b", "b c", "c d"), Seq()))
  }

  test("charShingles: sliding k-grams over characters") {
    val got = Seq("abcdef").toDF("text")
      .select(TextOps.charShingles($"text", 4).as("s"))
      .as[Seq[String]].head()
    assert(got === Seq("abcd", "bcde", "cdef"))
  }

  /** (doc_id, m0..m(k-1)) over word-2-gram shingle sets. */
  private def signatures(df: org.apache.spark.sql.DataFrame, k: Int) =
    df.select($"doc_id" +: TextOps.minhashFromSet(TextOps.shingleSet($"text", 2), k): _*)

  test("minhash signature: identical docs get identical signatures; " +
    "disjoint docs differ") {
    val df = Seq((1L, "x y z w"), (2L, "x y z w"), (3L, "p q r s"))
      .toDF("doc_id", "text")
    val sig = signatures(df, 4).collect()
      .map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(sig(1L) === sig(2L))
    assert(sig(1L) !== sig(3L))
  }

  test("lsh candidate pairs surface the identical pair") {
    val df = Seq((1L, "x y z w v u t s"), (2L, "x y z w v u t s"),
      (3L, "p q r s t u v w")).toDF("doc_id", "text")
    val sh = TextOps.shingleRows(df, "doc_id", "text", 2)
    val sig = signatures(df, 8)
    val pairs = TextOps.lshCandidatePairs(
      TextOps.lshBands(sig, "doc_id", 8, 2), "doc_id")
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    val j = TextOps.jaccardOnCandidates(
      pairs.toSeq.toDF("doc_a", "doc_b"), sh, "doc_id")
      .where($"doc_a" === 1 && $"doc_b" === 2)
      .select("jaccard").as[Double].head()
    assert(j === 1.0)
  }

  test("exactNearDupPairs: df cap removes a planted hot shingle from " +
    "candidate discovery, true pairs keep their FULL-set jaccard") {
    // 12 docs all share the boilerplate bigram "hot shingle" (df=12 >
    // cap=8 → pruned from the index); docs 1/2 are true near-dups
    // through their own content; the rest are pairwise unrelated.
    val dup = "hot shingle alpha beta gamma delta"
    val df = Seq((1L, dup), (2L, dup)) ++
      (3L to 12L).map(i => (i, s"hot shingle u$i v$i w$i x$i"))
    val sh = TextOps.shingleRows(df.toDF("doc_id", "text"), "doc_id", "text", 2)
    val pairs = TextOps.exactNearDupPairs(sh, "doc_id", 0.5, dfCap = 8)
      .select($"doc_a", $"doc_b", $"jaccard").as[(Long, Long, Double)]
      .collect().toSeq
    // only (1,2) survives; its jaccard is computed on the FULL sets
    // (both 5 bigrams incl. the capped one, all shared) = 1.0, NOT the
    // 4/4 of the capped index — the cap gates discovery, not the value
    assert(pairs === Seq((1L, 2L, 1.0)))
    // without the cap the hot shingle alone would have manufactured
    // C(12,2)=66 co-occurring candidate pairs; the capped run's
    // candidate generation never touches them
    val uncapped = TextOps.exactNearDupPairs(sh, "doc_id", 0.0, dfCap = 1000)
    assert(uncapped.count() === 66)
  }

  test("bpeApplyMerge: greedy left-to-right non-overlapping fusion") {
    def apply1(text: String, t1: String, t2: String): Seq[String] =
      Seq(text).toDF("text")
        .select(graft.ops.TextOps.bpeApplyMerge(
          split($"text", " "), lit(t1), lit(t2)).as("m"))
        .as[Seq[String]].head()
    // overlap run: leftmost pair wins, second cannot reuse the consumed token
    assert(apply1("a a a", "a", "a") === Seq("a_a", "a"))
    assert(apply1("a a a a", "a", "a") === Seq("a_a", "a_a"))
    // non-adjacent and interleaved occurrences
    assert(apply1("x a b y a b", "a", "b") === Seq("x", "a_b", "y", "a_b"))
    // no match -> identity
    assert(apply1("p q r", "a", "b") === Seq("p", "q", "r"))
    // match at the very end: pending token fuses, nothing dangles
    assert(apply1("x a b", "a", "b") === Seq("x", "a_b"))
    // asymmetric pair does not fire on the reversed order
    assert(apply1("b a b a", "a", "b") === Seq("b", "a_b", "a"))
  }

  test("bpeApplyMergeSet: one pass applies token-disjoint merges like " +
    "any sequential order; empty set is identity") {
    def applyN(text: String, merges: (String, String)*): Seq[String] =
      Seq(text).toDF("text")
        .select(graft.ops.TextOps.bpeApplyMergeSet(
          split($"text", " "), merges).as("m"))
        .as[Seq[String]].head()
    // two disjoint merges fire independently in one pass
    assert(applyN("a b x c d", ("a", "b"), ("c", "d")) ===
      Seq("a_b", "x", "c_d"))
    // equals sequential application in either order
    def seq2(text: String, m1: (String, String), m2: (String, String)) =
      Seq(text).toDF("text")
        .select(graft.ops.TextOps.bpeApplyMerge(
          graft.ops.TextOps.bpeApplyMerge(split($"text", " "),
            lit(m1._1), lit(m1._2)), lit(m2._1), lit(m2._2)).as("m"))
        .as[Seq[String]].head()
    val t = "c d a b a b c d"
    assert(applyN(t, ("a", "b"), ("c", "d")) === seq2(t, ("a", "b"), ("c", "d")))
    assert(applyN(t, ("a", "b"), ("c", "d")) === seq2(t, ("c", "d"), ("a", "b")))
    // self-pair run keeps the greedy left-to-right contract
    assert(applyN("a a a x y", ("a", "a"), ("x", "y")) ===
      Seq("a_a", "a", "x_y"))
    // empty set is the identity
    assert(applyN("p q", Seq.empty[(String, String)]: _*) === Seq("p", "q"))
  }

  test("hot-bucket cap drops oversized buckets") {
    // 5 docs all sharing one band key via identical text
    val df = (1L to 5L).map(i => (i, "x y z")).toDF("doc_id", "text")
    val bands = TextOps.lshBands(signatures(df, 4), "doc_id", 4, 2)
    assert(TextOps.lshCandidatePairs(bands, "doc_id").count() === 10) // C(5,2)
    assert(TextOps.lshCandidatePairs(bands, "doc_id", maxBucket = Some(4)).count() === 0)
  }

  test("skewed corpus: default cap keeps candidates bounded, honest " +
    "near-dups survive, drops are observable") {
    // 1000 identical boilerplate docs (one hot band key per band) plus one
    // honest near-dup pair — uncapped this self-join is C(1000,2)·bands
    // candidates; capped it must surface ONLY the honest pair.
    val boiler = (1L to 1000L).map(i => (i, "x y z w v u t s r q"))
    val near = Seq((2001L, "alpha beta gamma delta epsilon zeta"),
      (2002L, "alpha beta gamma delta epsilon zeta"))
    val df = (boiler ++ near).toDF("doc_id", "text")
    val bands = TextOps.lshBands(signatures(df, 8), "doc_id", 8, 2)
    val capped = TextOps.lshCandidatePairs(bands, "doc_id") // default cap 64
    val got = capped.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSet === Set((2001L, 2002L)))
    // drop is counted via the observe() metric, no extra pass
    val m = capped.queryExecution.observedMetrics("lsh_hot_buckets")
    assert(m.getAs[Long]("dropped_buckets") === 4L) // one hot key per band
    assert(m.getAs[Long]("dropped_rows") === 4000L)
  }

  test("simhash16: equal word sets collide; word order irrelevant") {
    val df = Seq((1L, "alpha beta gamma"), (2L, "gamma alpha beta"),
      (3L, "delta epsilon zeta eta theta")).toDF("doc_id", "text")
    val sim = df.select($"doc_id", explode(TextOps.words($"text")).as("word"))
      .distinct().groupBy($"doc_id")
      .agg(TextOps.simhash16($"word").as("h"))
      .as[(Long, Int)].collect().toMap
    assert(sim(1L) === sim(2L))
    assert(sim.values.forall(h => h >= 0 && h < 65536))
  }

  test("simhash63InRow: single-word fingerprint IS the word's md5 bits; " +
    "equal word sets collide; near-equal sets land at small Hamming") {
    // one word: every bit's vote sum is ±1, so bit j of the fingerprint
    // equals bit (j%4) of md5 hex char (j/4) — recompute independently
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def expected(word: String): Long = {
      val hex = md5hex(word)
      (0 until 63).map { j =>
        val nib = Integer.parseInt(hex.substring(j / 4, j / 4 + 1), 16)
        if (((nib >> (j % 4)) & 1) == 1) 1L << j else 0L
      }.sum
    }
    val df = Seq(
      (1L, Seq("alpha")), (2L, Seq("alpha", "beta", "gamma")),
      (3L, Seq("gamma", "beta", "alpha")),
      (4L, Seq("alpha", "beta", "gamma", "delta")))
      .toDF("doc_id", "dw")
    val got = df.select($"doc_id", TextOps.simhash63InRow($"dw").as("h"))
      .as[(Long, Long)].collect().toMap
    assert(got(1L) === expected("alpha"))
    assert(got(2L) === got(3L), "order must not matter")
    assert(got.values.forall(_ >= 0L), "sign bit must stay clear")
    val ham = java.lang.Long.bitCount(got(2L) ^ got(4L))
    assert(ham < 32, s"one added word flipped $ham of 63 bits")
  }

  test("charFingerprint: permutation-sensitive, substring-stable") {
    val fp = Seq((1L, "the quick brown fox jumps"), (2L, "quick brown fox jumps the"))
      .toDF("doc_id", "text")
      .select($"doc_id", TextOps.charFingerprint($"text", 8).as("fp"))
      .as[(Long, String)].collect().toMap
    assert(fp(1L).length === 32 && fp(2L).length === 32)
  }

  test("stopwordRatio and langIdHeuristic") {
    val df = Seq("the cat sat on the mat", "lorem ipsum dolor sit amet").toDF("text")
    val got = df.select(
      round(TextOps.stopwordRatio($"text", Seq("the", "a")), 4).as("r"),
      TextOps.langIdHeuristic($"text").as("pred"))
      .as[(Double, String)].collect().toSeq
    assert(got === Seq((0.3333, "en"), (0.0, "other")))
  }

  test("bpeish token count: letter runs, digit runs, single symbols") {
    val got = Seq("ab12 cd!e").toDF("text")
      .select(TextOps.bpeishTokenCountOf("text").as("n")).as[Int].head()
    assert(got === 5) // ab|12|cd|!|e
  }

  test("containmentPairs flags quote-inclusion that jaccard misses, " +
    "directed sub → sup") {
    // doc 2 is doc 1 verbatim plus a long unique tail: containment of
    // doc 1 in doc 2 is 1.0, but jaccard is diluted by the tail
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta tail1 tail2 tail3 tail4 tail5 tail6 " +
        "tail7 tail8 tail9 tail10 tail11 tail12"),
      (3L, "unrelated words entirely here")).toDF("doc_id", "text")
    val sh = TextOps.shingleRows(docs, "doc_id", "text", 2)
    val cont = TextOps.containmentPairs(sh, "doc_id", 0.8)
      .as[(Long, Long, Double)].collect().toSeq
    assert(cont === Seq((1L, 2L, 1.0)), "doc 1 is fully contained in doc 2")
    val jac = TextOps.exactNearDupPairs(sh, "doc_id", 0.5)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSeq
    assert(jac.isEmpty, "the symmetric measure must miss the inclusion")
  }
}
