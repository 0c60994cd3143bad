package graft

import org.apache.spark.sql.functions._
import graft.multimodal.Multimodal
import graft.multimodal.Multimodal.{MediaRecord, PcmCodec}

/** The REAL PCM layer: sample decode (both endiannesses, channel
  * mixdown), envelope/zero-crossing features, and the exact-integer
  * linear-interpolation resampler — every expectation hand-computed. */
class PcmCodecSpec extends SparkSpecBase {
  import spark.implicits._

  private def wav(samples: Array[Int], rate: Int = 8000,
      channels: Int = 1, bigEndian: Boolean = false): Array[Byte] = {
    import javax.sound.sampled._
    val fmt = new AudioFormat(rate.toFloat, 16, channels, true, bigEndian)
    val pcm = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (s, i) =>
      if (bigEndian) {
        pcm(i * 2) = ((s >> 8) & 0xff).toByte
        pcm(i * 2 + 1) = (s & 0xff).toByte
      } else {
        pcm(i * 2) = (s & 0xff).toByte
        pcm(i * 2 + 1) = ((s >> 8) & 0xff).toByte
      }
    }
    val out = new java.io.ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt,
        (samples.length / channels).toLong),
      if (bigEndian) AudioFileFormat.Type.AIFF else AudioFileFormat.Type.WAVE,
      out)
    out.toByteArray
  }

  test("sample decode round-trips exact 16-bit values, both endiannesses") {
    val s = Array(0, 1, -1, 32767, -32768, 12345, -12345)
    val (rate, gotLe) = PcmCodec.samples(MediaRecord(1L, wav(s), "audio/wav"))
    assert(rate === 8000)
    assert(gotLe.toSeq === s.toSeq)
    // AIFF is the big-endian container javax.sound.sampled writes
    val (_, gotBe) = PcmCodec.samples(
      MediaRecord(2L, wav(s, bigEndian = true), "audio/aiff"))
    assert(gotBe.toSeq === s.toSeq)
  }

  test("stereo mixes down with floorDiv: exact for negative sums too") {
    // interleaved L,R frames: mono = floorDiv(L + R, 2)
    val inter = Array(10, 20, -5, -6, 7, -8, 0, -1)
    val (_, got) = PcmCodec.samples(
      MediaRecord(1L, wav(inter, channels = 2), "audio/wav"))
    assert(got.toSeq === Seq(15, -6, -1, -1)) // floorDiv(-11,2) = -6, floorDiv(-1,2) = -1
  }

  test("envelope grid pools mean-|amplitude| with lumaGrid's ragged cell bounds") {
    // 7 samples, 2 cells: cell0 = [0,3), cell1 = [3,7)
    val s = Array(3, -6, 9, 4, -4, 4, -4)
    assert(PcmCodec.envelopeGrid(s, 2).toSeq === Seq(6f, 4f))
    // every sample exactly once: g == n degenerates to |s| itself
    assert(PcmCodec.envelopeGrid(Array(5, -7), 2).toSeq === Seq(5f, 7f))
    intercept[IllegalArgumentException] {
      PcmCodec.envelopeGrid(Array(1), 2)
    }
  }

  test("zero crossings count sign changes; zero is non-negative") {
    assert(PcmCodec.zeroCrossings(Array(1, -1, 1, -1)) === 3L)
    assert(PcmCodec.zeroCrossings(Array(5, 3, 2, 8)) === 0L)
    // 0 sits on the non-negative side: -1→0 crosses, 0→1 does not
    assert(PcmCodec.zeroCrossings(Array(-1, 0, 1, -2)) === 2L)
    assert(PcmCodec.zeroCrossings(Array(7)) === 0L)
  }

  test("integer-ratio resample is exact decimation; fractional ratio " +
    "interpolates with floor division") {
    val s = Array(100, 200, 300, 400, 500, 600, 700)
    // 8000 → 4000: every 2nd sample, nOut = (6*4000/8000)+1 = 4
    val (rate2, dec) = PcmCodec.samples(
      PcmCodec.resampleOne(MediaRecord(1L, wav(s), "audio/wav"), 4000))
    assert(rate2 === 4000)
    assert(dec.toSeq === Seq(100, 300, 500, 700))
    // 12000 → 8000 (ratio 3/2): j even → s(3j/2); j odd → floor((s(i0)+s(i0+1))/2)
    // nOut = (6*8000/12000)+1 = 5; positions 0, 1.5, 3, 4.5, 6
    val odd = Array(100, 201, 300, 400, 501, 600, 700)
    val (rate3, mix) = PcmCodec.samples(
      PcmCodec.resampleOne(MediaRecord(1L, wav(odd, rate = 12000), "audio/wav"), 8000))
    assert(rate3 === 8000)
    assert(mix.toSeq === Seq(100, 250, 400, 550, 700)) // floor((201+300)/2)=250
    // floor division on negatives: position 1.5 mixes s(1)=-4 and
    // s(2)=-5 → floorDiv(-9, 2) = -5 (truncating division would say -4)
    val neg = Array(-3, -4, -5)
    val (_, mixNeg) = PcmCodec.samples(
      PcmCodec.resampleOne(MediaRecord(1L, wav(neg, rate = 12000), "audio/wav"), 8000))
    assert(mixNeg.toSeq === Seq(-3, -5))
  }

  test("corrupt bytes and non-16-bit payloads fail loudly in the batched ops") {
    val bad = Seq(MediaRecord(9L, "not audio".getBytes, "audio/wav")).toDF()
    intercept[org.apache.spark.SparkException] {
      Multimodal.extractAudioFeaturesBatched(bad, cells = 2).collect()
    }
    // genuine 8-bit WAV: decodable header, unsupported sample width
    import javax.sound.sampled._
    val fmt8 = new AudioFormat(8000f, 8, 1, true, false)
    val out = new java.io.ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(new java.io.ByteArrayInputStream(new Array[Byte](16)),
        fmt8, 16L),
      AudioFileFormat.Type.WAVE, out)
    val eightBit = Seq(MediaRecord(8L, out.toByteArray, "audio/wav")).toDF()
    val ex = intercept[org.apache.spark.SparkException] {
      Multimodal.resampleAudioBatched(eightBit, 4000).collect()
    }
    assert(ex.getMessage != null)
  }

  test("generic feature extraction routes audio mimes through the REAL " +
    "PCM envelope, in the same batch as image and stub payloads") {
    val s = Array.fill(32)(250) ++ Array.fill(32)(-750) // two flat halves
    val media = Seq(
      MediaRecord(1L, wav(s), "audio/wav"),
      MediaRecord(2L, "plain text".getBytes, "text/plain")).toDF()
    val feats = Multimodal.extractFeaturesBatched(media, dim = 2)
      .collect().map(f => f.doc_id -> f.features).toMap
    assert(feats(1L).toSeq === Seq(250f, 750f)) // real |amplitude| means
    assert(feats(2L).length === 2) // stub path still serves unknown mimes
    // features compose with the ANN ops: envelope is a plain float vector
    val afs = Multimodal.extractAudioFeaturesBatched(
      Seq(MediaRecord(1L, wav(s), "audio/wav")).toDF(), cells = 4).head()
    assert(afs.sample_rate === 8000)
    assert(afs.n_samples === 64)
    assert(afs.zero_crossings === 1L)
    assert(afs.envelope.toSeq === Seq(250f, 250f, 750f, 750f))
  }
}
