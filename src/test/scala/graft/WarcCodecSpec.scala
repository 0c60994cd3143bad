package graft

import graft.multimodal.{Multimodal, WarcCodec}

class WarcCodecSpec extends SparkSpecBase {

  private def http(body: String): Array[Byte] =
    (s"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n" +
      s"Content-Length: ${body.length}\r\n\r\n$body")
      .getBytes("US-ASCII")

  private val recs = Seq(
    WarcCodec.WarcRecord("response", "https://example.org/a", "2026-08-15T00:00:00Z",
      "application/http;msgtype=response", http("hello warc world")),
    WarcCodec.WarcRecord("metadata", "https://example.org/a", "2026-08-15T00:00:00Z",
      "application/warc-fields", "fetchDurationMs: 123\r\n".getBytes("US-ASCII")))

  test("plain roundtrip: framing, HTTP split, payload bytes") {
    val parsed = WarcCodec.parse(1L, WarcCodec.encode(recs))
    assert(parsed.length == 2)
    val r = parsed.head
    assert(r.warcType == "response" && r.httpStatus == 200)
    assert(new String(r.payload, "US-ASCII") == "hello warc world")
    assert(r.contentLength == r.httpHeaderBytes + r.payload.length)
    assert(r.memberBytes == 0) // plain input has no gzip members
    val m = parsed(1)
    assert(m.warcType == "metadata" && m.httpStatus == -1)
    assert(new String(m.payload, "US-ASCII") == "fetchDurationMs: 123\r\n")
  }

  test("gzip member roundtrip: one member per record, CRC verified") {
    val gz = WarcCodec.encodeGzip(recs)
    val members = WarcCodec.gzipMembers(7L, gz)
    assert(members.length == 2)
    assert(members.map(_._2).sum == gz.length) // members tile the file
    val parsed = WarcCodec.parse(7L, gz)
    assert(parsed.length == 2)
    assert(parsed.head.memberBytes == members.head._2)
    assert(new String(parsed.head.payload, "US-ASCII") == "hello warc world")
    // concatenating two archives still walks every member
    assert(WarcCodec.parse(7L, gz ++ gz).length == 4)
  }

  test("malformed bytes throw with the doc id, never hang") {
    val plain = WarcCodec.encode(recs)
    val gz = WarcCodec.encodeGzip(recs)
    def boom(b: Array[Byte]): String =
      intercept[IllegalArgumentException](WarcCodec.parse(42L, b)).getMessage
    assert(boom(plain.dropRight(3)).contains("42")) // lost terminator
    val badVer = plain.clone(); badVer(4) = 'X'.toByte
    assert(boom(badVer).contains("version"))
    // Content-Length pointing past the file throws, not overreads.
    val grown = new String(plain, "US-ASCII")
      .replaceFirst("Content-Length: (\\d+)", "Content-Length: 99999")
      .getBytes("US-ASCII")
    assert(boom(grown).contains("overruns"))
    // A flipped payload byte fails the gzip member CRC.
    val badCrc = gz.clone(); badCrc(gz.length / 2) = (badCrc(gz.length / 2) ^ 0x1).toByte
    val msg = boom(badCrc)
    assert(msg.contains("42"))
    // Truncated member: either header, deflate stream or trailer dies.
    assert(boom(gz.dropRight(6)).contains("42"))
  }

  test("warcRecordsBatched dispatches both plain and gzipped archives") {
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRecord(3L, WarcCodec.encode(recs), "application/warc"),
      Multimodal.MediaRecord(4L, WarcCodec.encodeGzip(recs),
        "application/warc+gzip")).toDF()
    val rows = Multimodal.warcRecordsBatched(media).collect()
      .sortBy(r => (r.doc_id, r.record_idx))
    assert(rows.length == 4)
    assert(rows.forall(_.target_uri == "https://example.org/a"))
    assert(rows.filter(_.warc_type == "response").forall(r =>
      r.http_status == 200 &&
        new String(r.payload, "US-ASCII") == "hello warc world"))
    assert(rows.filter(_.doc_id == 3L).forall(_.member_bytes == 0))
    assert(rows.filter(_.doc_id == 4L).forall(_.member_bytes > 0))
  }
}
