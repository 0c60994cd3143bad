package graft.multimodal

import ByteFields._

/** ZIP archive codec — self-written central-directory walker + writer
  * for the other container training shards actually ship in (next to
  * tar/WebDataset): many public image-text and document dumps
  * distribute as .zip. Public spec: PKWARE APPNOTE.TXT (the ZIP
  * format is an open spec; the compression inside is DEFLATE,
  * RFC 1951, decoded here with the JDK's raw `Inflater` exactly like
  * [[WarcCodec]]'s gzip members).
  *
  * What parses for REAL with zero non-JDK dependencies: the
  * end-of-central-directory record (located by a bounded tail scan —
  * the format's documented discovery rule, since a comment of up to
  * 65535 bytes may follow it), the central directory walk (the
  * archive's actual table of contents: entry signatures, method,
  * sizes, CRC-32, local-header offsets), local-header cross-checks
  * (signature + name agreement — a zip whose directory and local
  * records disagree is corrupt), STORED and DEFLATE member decode,
  * and a CRC-32 + size verification of every decoded payload. Readers
  * that stream local headers instead of the directory break on
  * data-descriptor entries and cannot see deletions — walking the
  * central directory is the correct contract, and it is also the
  * scale-friendly one (O(members) directory reads, one slice +
  * inflate per payload).
  *
  * Like every codec here, malformed bytes throw
  * `IllegalArgumentException` naming the doc id — a bad signature,
  * method this codec does not own, CRC mismatch or overrunning slice
  * can never hang the walk or return garbage. */
object ZipCodec {

  /** Mimes this codec owns ([[Multimodal]] dispatch). */
  val Mimes: Set[String] = Set("application/zip")

  val MethodStored = 0
  val MethodDeflate = 8

  case class Member(name: String, method: Int, size: Int,
      data: Array[Byte])

  // ------------------------------------------------------------- writer


  /** Write one archive: local header + data per member (method 0 =
    * stored, 8 = raw deflate), then the central directory and the
    * end record. Timestamps are pinned to zero — deterministic
    * output, the fixture rule every codec writer here follows. */
  def encode(members: Seq[(String, Array[Byte], Int)]): Array[Byte] = {
    require(members.nonEmpty, "zip needs at least one member")
    val out = new java.io.ByteArrayOutputStream()
    val central = new java.io.ByteArrayOutputStream()
    members.foreach { case (name, data, method) =>
      require(method == MethodStored || method == MethodDeflate,
        s"member '$name': unsupported method $method")
      val nameB = name.getBytes("US-ASCII")
      require(nameB.length <= 0xffff, s"member name '$name' too long")
      val crc = new java.util.zip.CRC32()
      crc.update(data)
      val comp =
        if (method == MethodStored) data
        else {
          val d = new java.util.zip.Deflater(
            java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
          d.setInput(data); d.finish()
          val buf = new java.io.ByteArrayOutputStream()
          val tmp = new Array[Byte](8192)
          while (!d.finished()) buf.write(tmp, 0, d.deflate(tmp))
          d.end()
          buf.toByteArray
        }
      val offset = out.size()
      out.write(le32(0x04034b50L) ++ le16(20) ++ le16(0) ++ // sig, need, flags
        le16(method) ++ le16(0) ++ le16(0x21) ++ // time 0, date epoch
        le32(crc.getValue) ++ le32(comp.length) ++ le32(data.length) ++
        le16(nameB.length) ++ le16(0))
      out.write(nameB); out.write(comp)
      central.write(le32(0x02014b50L) ++ le16(20) ++ le16(20) ++
        le16(0) ++ le16(method) ++ le16(0) ++ le16(0x21) ++
        le32(crc.getValue) ++ le32(comp.length) ++ le32(data.length) ++
        le16(nameB.length) ++ le16(0) ++ le16(0) ++ le16(0) ++ le16(0) ++
        le32(0L) ++ le32(offset))
      central.write(nameB)
    }
    val cdOffset = out.size()
    val cd = central.toByteArray
    out.write(cd)
    out.write(le32(0x06054b50L) ++ le16(0) ++ le16(0) ++
      le16(members.size) ++ le16(members.size) ++
      le32(cd.length) ++ le32(cdOffset) ++ le16(0))
    out.toByteArray
  }

  // ------------------------------------------------------------- walker

  /** Walk one archive in central-directory order, cross-checking each
    * local header and CRC-verifying every decoded payload. */
  def parse(docId: Long, bytes: Array[Byte]): IndexedSeq[Member] = {
    // end-of-central-directory: bounded tail scan (≤ 65535-byte comment)
    val minE = math.max(0, bytes.length - 22 - 0xffff)
    var e = bytes.length - 22
    while (e >= minE && !(getLeU32(bytes, e) == 0x06054b50L &&
        e + 22 + getLe16(bytes, e + 20) == bytes.length)) e -= 1
    require(e >= minE && e >= 0,
      s"doc $docId: no end-of-central-directory record")
    val n = getLe16(bytes, e + 10)
    val cdSize = getLeU32(bytes, e + 12)
    var o = getLeU32(bytes, e + 16).toInt
    require(o >= 0 && o + cdSize <= e,
      s"doc $docId: central directory overruns the end record")
    require(n == getLe16(bytes, e + 8),
      s"doc $docId: multi-disk archives are not supported")
    val out = scala.collection.mutable.ArrayBuffer[Member]()
    for (i <- 0 until n) {
      require(o + 46 <= e && getLeU32(bytes, o) == 0x02014b50L,
        s"doc $docId: central entry $i has a bad signature at $o")
      val flags = getLe16(bytes, o + 8)
      require((flags & 0x8) == 0,
        s"doc $docId: entry $i uses a data descriptor (streaming " +
          "writer) — not produced by this codec's writer")
      val method = getLe16(bytes, o + 10)
      val crc = getLeU32(bytes, o + 16)
      val csize = getLeU32(bytes, o + 20).toInt
      val usize = getLeU32(bytes, o + 24).toInt
      val nlen = getLe16(bytes, o + 28)
      val xlen = getLe16(bytes, o + 30)
      val clen = getLe16(bytes, o + 32)
      val lofs = getLeU32(bytes, o + 42).toInt
      // name/extra/comment must fit inside the central directory BEFORE
      // the name bytes are read — a corrupt nlen (≤ 65535) would
      // otherwise overrun the buffer with an IndexOutOfBoundsException
      // instead of the codec contract's IllegalArgumentException
      require(o + 46 + nlen + xlen + clen <= e,
        s"doc $docId: central entry $i name/extra overruns the directory")
      val name = new String(bytes, o + 46, nlen, "US-ASCII")
      require(method == MethodStored || method == MethodDeflate,
        s"doc $docId: member '$name' uses unsupported method $method")
      require(usize >= 0,
        s"doc $docId: member '$name' uncompressed size overflows")
      // cross-check the local header this entry points at
      require(lofs >= 0 && lofs + 30 <= bytes.length &&
          getLeU32(bytes, lofs) == 0x04034b50L,
        s"doc $docId: member '$name' has a bad local header at $lofs")
      val lnlen = getLe16(bytes, lofs + 26)
      val lxlen = getLe16(bytes, lofs + 28)
      require(lofs + 30 + lnlen <= bytes.length,
        s"doc $docId: member '$name' local name overruns the archive")
      require(lnlen == nlen &&
          new String(bytes, lofs + 30, lnlen, "US-ASCII") == name,
        s"doc $docId: member '$name' local/central name mismatch")
      val dataAt = lofs + 30 + lnlen + lxlen
      require(csize >= 0 && dataAt + csize.toLong <= bytes.length,
        s"doc $docId: member '$name' data overruns the archive")
      val data =
        if (method == MethodStored) {
          require(csize == usize,
            s"doc $docId: stored member '$name' size mismatch")
          java.util.Arrays.copyOfRange(bytes, dataAt, dataAt + csize)
        } else {
          val inf = new java.util.zip.Inflater(true) // raw deflate
          inf.setInput(bytes, dataAt, csize)
          val buf = new Array[Byte](usize)
          var got = 0
          while (got < usize && !inf.finished()) {
            val k = inf.inflate(buf, got, usize - got)
            require(k > 0 || inf.finished(),
              s"doc $docId: member '$name' deflate stream stalled")
            got += k
          }
          val done = inf.finished() || {
            // one more inflate attempt observes the stream end (a
            // zero-length target would return without processing)
            val extra = inf.inflate(new Array[Byte](1), 0, 1)
            require(extra == 0,
              s"doc $docId: member '$name' has output past $usize bytes")
            inf.finished()
          }
          require(got == usize && done,
            s"doc $docId: member '$name' inflated $got of $usize bytes")
          inf.end()
          buf
        }
      val check = new java.util.zip.CRC32()
      check.update(data)
      require(check.getValue == crc,
        s"doc $docId: member '$name' CRC mismatch")
      out += Member(name, method, usize, data)
      o += 46 + nlen + xlen + clen
    }
    require(out.nonEmpty, s"doc $docId: zip archive has no members")
    out.toIndexedSeq
  }
}
