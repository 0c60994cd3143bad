package graft

import org.apache.spark.sql.functions._
import graft.multimodal.Multimodal
import graft.ops.MediaFingerprint

/** Perceptual-fingerprint invariants: the properties that make dHash /
  * contour hashes DEDUP KEYS rather than checksums — brightness- and
  * volume-shifted copies collide; genuinely different content does not. */
class MediaFingerprintSpec extends SparkSpecBase {
  import spark.implicits._

  private def grayPng(cells: Array[Int], gw: Int, gh: Int, cellPx: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      gw * cellPx, gh * cellPx, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var i = 0
    while (i < gh) {
      var j = 0
      while (j < gw) {
        val v = cells(i * gw + j)
        var dy = 0
        while (dy < cellPx) {
          var dx = 0
          while (dx < cellPx) {
            img.setRGB(j * cellPx + dx, i * cellPx + dy, (v << 16) | (v << 8) | v)
            dx += 1
          }
          dy += 1
        }
        j += 1
      }
      i += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  private def dhashOf(media: Seq[Multimodal.MediaRecord]): Map[Long, Long] =
    Multimodal.imageGridsBatched(spark, media.toDF(), gw = 9, gh = 8).toDF()
      .select(col("doc_id"), MediaFingerprint.dhash63(col("features"), 9, 8).as("h"))
      .as[(Long, Long)].collect().toMap

  test("dhash63 ignores a global brightness offset; flags content change") {
    val base = Array.tabulate(72)(m => 20 + (7 * (m + 3)) % 200)
    val bright = base.map(_ + 15)
    val edited = base.clone(); edited(10) = 250; edited(40) = 1
    val hs = dhashOf(Seq(
      Multimodal.MediaRecord(1L, grayPng(base, 9, 8, 2), "image/png"),
      Multimodal.MediaRecord(2L, grayPng(bright, 9, 8, 2), "image/png"),
      Multimodal.MediaRecord(3L, grayPng(edited, 9, 8, 2), "image/png")))
    assert(hs(1L) === hs(2L), "brightness-shifted copy must collide")
    assert(hs(1L) !== hs(3L), "edited cells must flip bits")
    assert(hs(1L) >= 0L, "63-bit hash stays a positive BIGINT")
  }

  test("dhash63 Hamming distance bounds the number of edited comparisons") {
    val base = Array.tabulate(72)(m => 20 + (7 * (m + 3)) % 200)
    val oneEdit = base.clone(); oneEdit(0) = 255 // touches comparisons k=0 only
    val hs = dhashOf(Seq(
      Multimodal.MediaRecord(1L, grayPng(base, 9, 8, 2), "image/png"),
      Multimodal.MediaRecord(2L, grayPng(oneEdit, 9, 8, 2), "image/png")))
    val d = java.lang.Long.bitCount(hs(1L) ^ hs(2L))
    assert(d <= 1, s"editing cell (0,0) touches one comparison, got hamming $d")
  }

  test("contourBits ignores positive gain; flags contour change") {
    def env(vals: Seq[Float]) = Seq((1L, vals.toArray)).toDF("doc_id", "envelope")
    def fp(vals: Seq[Float]): Int =
      env(vals).select(MediaFingerprint.contourBits(col("envelope"), 8))
        .as[Int].head()
    val shape = Seq(10f, 30f, 20f, 50f, 40f, 40f, 90f, 5f)
    assert(fp(shape) === fp(shape.map(_ * 3f)), "3x gain must not flip bits")
    assert(fp(shape) !== fp(shape.reverse), "reversed contour must differ")
    // bits: 30>10=1, 20>30=0, 50>20=1, 40>50=0, 40>40=0(strict), 90>40=1, 5>90=0
    assert(fp(shape) === (1 | (1 << 2) | (1 << 5)))
  }

  test("sceneCuts finds exactly the above-threshold jumps, per video") {
    val frames = Seq(
      // doc 1: jitter only, then one +80 cut at frame 3
      (1L, 0, 100.0), (1L, 1, 104.0), (1L, 2, 98.0), (1L, 3, 178.0), (1L, 4, 181.0),
      // doc 2: a downward cut at frame 1, nothing else
      (2L, 0, 200.0), (2L, 1, 90.0), (2L, 2, 95.0)
    ).toDF("doc_id", "frame_idx", "luma")
    val cuts = Multimodal.sceneCuts(frames, col("luma"), threshold = 40.0)
      .orderBy(col("doc_id"), col("frame_idx"))
      .as[(Long, Int, Double, Double)].collect().toSeq
    assert(cuts === Seq((1L, 3, 98.0, 178.0), (2L, 1, 200.0, 90.0)))
  }

  test("nfc_normalize composes decomposed sequences; identity on ASCII") {
    val df = Seq(
      (1L, "cafe\u0301 A\u030A"), // decomposed acute + ring
      (2L, "plain ascii"),
      (3L, "caf\u00e9 \u00c5")    // already composed
    ).toDF("id", "s")
    val out = df.select(col("id"),
      graft.functions.NfcNormalize.nfc(col("s")).as("n"),
      length(graft.functions.NfcNormalize.nfc(col("s"))).as("len"))
      .as[(Long, String, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L)._1 === out(3L)._1, "decomposed and precomposed must agree")
    assert(out(1L)._2 === 6, "composed length counts code points")
    assert(out(2L)._1 === "plain ascii")
    // null-safety through the expression
    val n = Seq[Option[String]](None).toDF("s")
      .select(graft.functions.NfcNormalize.nfc(col("s"))).collect()
    assert(n.head.isNullAt(0))
  }
}
