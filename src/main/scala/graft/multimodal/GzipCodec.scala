package graft.multimodal

/** GZIP (RFC 1952) member framing over [[InflateCodec]] (JDK `Inflater`
  * decode, JDK `CRC32` checks) and the engine's deterministic
  * [[DeflateCodec]] encoder. The unit is the MEMBER — a gzip
  * file is one or more members back to back, and the big-crawl formats
  * lean on that: Common Crawl's `.warc.gz` compresses EVERY record as
  * its own member so a reader can seek to a record offset and inflate
  * just that record. `members` is the strict whole-stream walk (every
  * header field validated, CRC-32 and ISIZE trailers verified against
  * the inflated output, reserved flag bits rejected, trailing garbage
  * rejected); `buildMember` is the deterministic encoder the fixtures
  * use (and `java.util.zip.GZIPInputStream` reads — the differential
  * spec's independent decoder).
  *
  * Total on arbitrary bytes: any malformation → None.
  */
object GzipCodec {

  private final class Malformed extends RuntimeException
  private def fail(): Nothing = throw new Malformed

  /** One validated member: where it sits, what it carried, what it
    * declared.
    */
  final case class Member(
      offset: Int,
      compressedBytes: Int, // whole member incl. header + trailer
      name: Option[String], // FNAME, if present
      mtime: Long,          // MTIME field (seconds, unsigned)
      payload: Array[Byte])

  private def u32(b: Array[Byte], off: Int): Long =
    (b(off) & 0xFFL) | ((b(off + 1) & 0xFFL) << 8) |
      ((b(off + 2) & 0xFFL) << 16) | ((b(off + 3) & 0xFFL) << 24)

  /** Strict multi-member walk. `maxMemberOut` bounds each member's
    * inflated size (decompression-bomb guard — RFC 1952 carries no
    * in-band size before the data, so the caller states its bound).
    */
  def members(bytes: Array[Byte], maxMemberOut: Int): Option[Seq[Member]] =
    try {
      if (bytes.isEmpty) fail()
      val out = Seq.newBuilder[Member]
      var off = 0
      while (off < bytes.length) {
        val start = off
        if (off + 10 > bytes.length) fail()
        if ((bytes(off) & 0xFF) != 0x1F || (bytes(off + 1) & 0xFF) != 0x8B)
          fail()                                  // ID1 ID2
        if ((bytes(off + 2) & 0xFF) != 8) fail()  // CM: deflate only
        val flg = bytes(off + 3) & 0xFF
        if ((flg & 0xE0) != 0) fail()             // reserved bits (§2.3.1)
        val mtime = u32(bytes, off + 4)
        off += 10                                  // XFL + OS: informational
        if ((flg & 4) != 0) {                      // FEXTRA
          if (off + 2 > bytes.length) fail()
          val xlen = (bytes(off) & 0xFF) | ((bytes(off + 1) & 0xFF) << 8)
          off += 2 + xlen
          if (off > bytes.length) fail()
        }
        var name: Option[String] = None
        if ((flg & 8) != 0) {                      // FNAME, zero-terminated
          val end = bytes.indexOf(0.toByte, off)
          if (end < 0) fail()
          name = Some(new String(bytes, off, end - off,
            java.nio.charset.StandardCharsets.ISO_8859_1))
          off = end + 1
        }
        if ((flg & 16) != 0) {                     // FCOMMENT
          val end = bytes.indexOf(0.toByte, off)
          if (end < 0) fail()
          off = end + 1
        }
        if ((flg & 2) != 0) {                      // FHCRC: CRC-16 of header
          if (off + 2 > bytes.length) fail()
          val stored = (bytes(off) & 0xFF) | ((bytes(off + 1) & 0xFF) << 8)
          val calc = new java.util.zip.CRC32
          calc.update(bytes, start, off - start)
          if (stored != (calc.getValue & 0xFFFF)) fail()
          off += 2
        }
        val (payload, end) =
          InflateCodec.inflateUnknown(bytes, off, maxMemberOut).getOrElse(fail())
        if (end + 8 > bytes.length) fail()
        val crc = new java.util.zip.CRC32
        crc.update(payload)
        if (u32(bytes, end) != crc.getValue) fail() // CRC32 trailer
        if (u32(bytes, end + 4) != (payload.length & 0xFFFFFFFFL))
          fail()                                   // ISIZE trailer
        off = end + 8
        out += Member(start, off - start, name, mtime, payload)
      }
      Some(out.result())
    } catch {
      case _: Malformed | _: ArrayIndexOutOfBoundsException => None
    }

  /** Streamed-member metadata — what is knowable when the payload
    * stream is handed over (the member's compressed extent is only
    * known after it is consumed; a consumer that needs it diffs
    * consecutive offsets).
    */
  final case class MemberHeader(
      offset: Long, // member start in the stream
      name: Option[String],
      mtime: Long)

  /** CRC/byte-count tracking wrapper shared by the streaming walkers:
    * whatever passes through is checksummed, so trailer verification
    * covers consumed AND drained bytes alike.
    */
  private[multimodal] final class CrcCountStream(inner: java.io.InputStream)
      extends java.io.InputStream {
    private val crc32 = new java.util.zip.CRC32
    var count: Long = 0L
    def crc: Long = crc32.getValue
    private val one = new Array[Byte](1)
    override def read(): Int = {
      val n = read(one, 0, 1)
      if (n < 0) -1 else one(0) & 0xFF
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val n = inner.read(b, off, len)
      if (n > 0) {
        crc32.update(b, off, n)
        count += n
      }
      n
    }
  }

  private[multimodal] def drain(in: java.io.InputStream): Unit = {
    val scratch = new Array[Byte](8192)
    while (in.read(scratch, 0, scratch.length) >= 0) ()
  }

  /** Streaming multi-member walk — the bounded-memory twin of
    * [[members]] for files bigger than a JVM array (a crawl snapshot's
    * `.warc.gz` files run ~1 GiB; dataset `.tar.gz` tarballs 10–100 GiB,
    * past both `Array[Byte]` and the `binaryFile` content column). For
    * each member, `f` receives the validated header and an InputStream
    * over the inflating payload ([[InflateCodec.InflateInputStream]],
    * bounded memory regardless of member size; valid only during the
    * call). Unread payload is drained afterwards so the CRC-32 and
    * ISIZE trailers are ALWAYS verified over the whole member — same
    * strictness as [[members]]. No decompression-bomb bound is needed
    * here: nothing is materialized, so memory is O(window) however large
    * a member inflates (ISIZE compares mod 2^32 per RFC 1952 §2.3.1).
    * Any malformation (or an underlying I/O failure) → None.
    */
  def walkMembers[A](in0: java.io.InputStream)(
      f: (MemberHeader, java.io.InputStream) => A): Option[Seq[A]] =
    try {
      val in = new java.io.BufferedInputStream(in0, 65536)
      val out = Seq.newBuilder[A]
      var offset = 0L
      var first = true
      var eof = false
      while (!eof) {
        val b0 = in.read()
        if (b0 < 0) {
          if (first) fail() // an empty stream is not a gzip file
          eof = true
        } else {
          first = false
          // header: accumulate raw bytes for the optional FHCRC check
          val hdr = new java.io.ByteArrayOutputStream(64)
          hdr.write(b0)
          def next(): Int = {
            val b = in.read()
            if (b < 0) fail()
            hdr.write(b)
            b
          }
          if (b0 != 0x1F || next() != 0x8B) fail() // ID1 ID2
          if (next() != 8) fail()                  // CM: deflate only
          val flg = next()
          if ((flg & 0xE0) != 0) fail()            // reserved bits (§2.3.1)
          var mtime = 0L
          var k = 0
          while (k < 4) { mtime |= next().toLong << (8 * k); k += 1 }
          next(); next()                           // XFL + OS
          if ((flg & 4) != 0) {                    // FEXTRA
            val xlen = next() | (next() << 8)
            var j = 0
            while (j < xlen) { next(); j += 1 }
          }
          var name: Option[String] = None
          if ((flg & 8) != 0) {                    // FNAME, zero-terminated
            val sb = new java.io.ByteArrayOutputStream(32)
            var b = next()
            while (b != 0) { sb.write(b); b = next() }
            name = Some(new String(sb.toByteArray,
              java.nio.charset.StandardCharsets.ISO_8859_1))
          }
          if ((flg & 16) != 0) {                   // FCOMMENT
            while (next() != 0) ()
          }
          if ((flg & 2) != 0) {                    // FHCRC over the header
            val calc = new java.util.zip.CRC32
            calc.update(hdr.toByteArray)
            val stored = next() | (next() << 8)
            if (stored != (calc.getValue & 0xFFFF)) fail()
          }
          val headerLen = hdr.size().toLong
          val inf = new InflateCodec.InflateInputStream(in)
          val tracked = new CrcCountStream(inf)
          try {
            out += f(MemberHeader(offset, name, mtime), tracked)
            drain(tracked)
          } finally inf.close()
          // trailer: CRC32 + ISIZE, little-endian, byte-aligned
          var crcStored = 0L
          var isize = 0L
          k = 0
          while (k < 4) {
            val b = in.read(); if (b < 0) fail()
            crcStored |= b.toLong << (8 * k); k += 1
          }
          k = 0
          while (k < 4) {
            val b = in.read(); if (b < 0) fail()
            isize |= b.toLong << (8 * k); k += 1
          }
          if (crcStored != tracked.crc) fail()
          if (isize != (tracked.count & 0xFFFFFFFFL)) fail()
          offset += headerLen + inf.compressedBytesConsumed + 8
        }
      }
      Some(out.result())
    } catch {
      case _: Malformed | _: ArrayIndexOutOfBoundsException |
          _: java.io.IOException => None
    }

  /** One deterministic member: fixed header (no FEXTRA/FHCRC/FCOMMENT;
    * FNAME iff `name` is set), [[DeflateCodec.deflate]] body, CRC-32 +
    * ISIZE trailer. OS byte 255 = unknown (§2.3.1).
    */
  def buildMember(payload: Array[Byte], name: Option[String] = None,
      mtime: Long = 0L): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(payload.length / 2 + 32)
    out.write(0x1F); out.write(0x8B); out.write(8)
    out.write(if (name.isDefined) 8 else 0)
    var k = 0
    while (k < 4) { out.write(((mtime >> (8 * k)) & 0xFF).toInt); k += 1 }
    out.write(0); out.write(255)
    name.foreach { n =>
      out.write(n.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
      out.write(0)
    }
    out.write(DeflateCodec.deflate(payload))
    val crc32 = new java.util.zip.CRC32
    crc32.update(payload)
    val crc = crc32.getValue
    k = 0
    while (k < 4) { out.write(((crc >> (8 * k)) & 0xFF).toInt); k += 1 }
    k = 0
    while (k < 4) { out.write((payload.length >> (8 * k)) & 0xFF); k += 1 }
    out.toByteArray
  }
}
