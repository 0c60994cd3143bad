package graft.multimodal

/** The fixed-width byte fields the container walkers read and their
  * fixture writers emit: one set of endian helpers for RIFF/AVI, Ogg,
  * ZIP and gzip trailers (little-endian) and ISO-BMFF (big-endian).
  * Readers take `(bytes, offset)`; writers return the field's bytes.
  * [[getLe32]] is SIGNED on purpose — AVI's chunk walk relies on a
  * hostile size reading negative so its overrun check fails. */
private[multimodal] object ByteFields {

  // ------------------------------------------------------------ readers

  def getLe16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  def getLe32(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
      ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)
  def getLeU32(b: Array[Byte], o: Int): Long = getLe32(b, o) & 0xffffffffL

  def getBe16(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)
  def getBeU32(b: Array[Byte], o: Int): Long =
    (((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) |
      ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)) & 0xffffffffL
  def getBeU64(b: Array[Byte], o: Int): Long =
    (getBeU32(b, o) << 32) | getBeU32(b, o + 4)

  def fourcc(b: Array[Byte], o: Int): String =
    new String(b, o, 4, java.nio.charset.StandardCharsets.US_ASCII)

  // ------------------------------------------------------------ writers

  def le16(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
  def le32(v: Long): Array[Byte] = Array(
    (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
    ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
  def be16(v: Int): Array[Byte] =
    Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  def be32(v: Long): Array[Byte] = Array(
    ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
    ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  def cc(s: String): Array[Byte] = {
    require(s.length == 4, s"fourcc '$s'")
    s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
  }

  /** [[le32]] written in place at `off` of `b`. */
  def putLe32(b: Array[Byte], off: Int, v: Int): Unit =
    System.arraycopy(le32(v), 0, b, off, 4)
}
