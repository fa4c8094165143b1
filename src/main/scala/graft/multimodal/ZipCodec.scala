package graft.multimodal

/** ZIP archive walker implemented from the public PKWARE APPNOTE layout:
  * locate the end-of-central-directory record (sig 0x06054b50, scanned
  * back through the ≤64 KiB comment tail), walk the central directory
  * (sig 0x02014b50 — the authoritative catalog: name, method, CRC-32,
  * sizes, local-header offset), then validate each member against its
  * local file header (sig 0x04034b50) and inflate/slice its data.
  * Methods: 0 (stored) and 8 (DEFLATE via [[InflateCodec]], over the
  * JDK `Inflater`); every member's CRC-32 is recomputed over the
  * extracted payload and checked against the directory. Flag bit 3
  * (data descriptor — what `java.util.zip.ZipOutputStream` emits for
  * DEFLATED entries) is supported by trusting the central directory's
  * sizes and verifying the descriptor copy after the data, so the walker
  * reads real-world streamed zips, not just its own output.
  *
  * Strict and total: any malformation (bad signature, central/local
  * disagreement, CRC mismatch, method we cannot verify, multi-disk) →
  * None. (Members are read strictly through the directory's offsets;
  * bytes the directory never references are not themselves validated.)
  *
  * Two read paths share the validation rules: [[entries]] over a whole
  * `Array[Byte]` (fixture scale), and the round-11 bounded-memory pair
  * [[directoryAt]]/[[walkAt]] over a positional reader — the shape a
  * 10–100 GiB dataset zip needs (ZIP is directory-at-end, so the
  * scale-safe access pattern is seek, not stream), with ZIP64
  * (EOCD64 + locator + 0x0001 extra fields) supported there.
  */
object ZipCodec {

  private final class Malformed extends RuntimeException
  private def fail(): Nothing = throw new Malformed

  final case class Entry(
      name: String,
      method: Int,          // 0 stored, 8 deflate
      crc32: Long,
      compressedSize: Int,
      uncompressedSize: Int,
      payload: Array[Byte])

  private def u16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8)
  private def u32(b: Array[Byte], off: Int): Long =
    (b(off) & 0xFFL) | ((b(off + 1) & 0xFFL) << 8) |
      ((b(off + 2) & 0xFFL) << 16) | ((b(off + 3) & 0xFFL) << 24)

  /** Strict whole-archive walk via the central directory. */
  def entries(bytes: Array[Byte]): Option[Seq[Entry]] =
    try {
      // EOCD: fixed 22 bytes + comment; scan back for the signature
      var eocd = -1
      var i = bytes.length - 22
      val stop = math.max(0, bytes.length - 22 - 65535)
      while (eocd < 0 && i >= stop) {
        if (u32(bytes, i) == 0x06054b50L &&
            i + 22 + u16(bytes, i + 20) == bytes.length) eocd = i
        else i -= 1
      }
      if (eocd < 0) fail()
      if (u16(bytes, eocd + 4) != 0 || u16(bytes, eocd + 6) != 0) fail() // multi-disk
      val n = u16(bytes, eocd + 10)
      if (u16(bytes, eocd + 8) != n) fail()
      val cdSize = u32(bytes, eocd + 12)
      val cdOff = u32(bytes, eocd + 16)
      if (cdOff + cdSize != eocd) fail()
      val out = Seq.newBuilder[Entry]
      var off = cdOff.toInt
      var k = 0
      while (k < n) {
        if (u32(bytes, off) != 0x02014b50L) fail()
        val flags = u16(bytes, off + 8)
        val method = u16(bytes, off + 10)
        val crc = u32(bytes, off + 16)
        val csize = u32(bytes, off + 20)
        val usize = u32(bytes, off + 24)
        val nameLen = u16(bytes, off + 28)
        val extraLen = u16(bytes, off + 30)
        val commentLen = u16(bytes, off + 32)
        val localOff = u32(bytes, off + 42).toInt
        val name = new String(bytes, off + 46, nameLen,
          java.nio.charset.StandardCharsets.UTF_8)
        if (csize > Int.MaxValue - 64 || usize > Int.MaxValue - 64) fail()
        if ((flags & 1) != 0) fail() // encrypted
        // local header: sig + the fields that must agree with the
        // directory (name, method); sizes/CRC may be zero there when
        // flag bit 3 deferred them to the data descriptor
        if (u32(bytes, localOff) != 0x04034b50L) fail()
        if (u16(bytes, localOff + 8) != method) fail()
        val lNameLen = u16(bytes, localOff + 26)
        val lExtraLen = u16(bytes, localOff + 28)
        if (new String(bytes, localOff + 30, lNameLen,
          java.nio.charset.StandardCharsets.UTF_8) != name) fail()
        val dataOff = localOff + 30 + lNameLen + lExtraLen
        val hasDescriptor = (flags & 8) != 0
        if (!hasDescriptor) {
          if (u32(bytes, localOff + 14) != crc ||
            u32(bytes, localOff + 18) != csize ||
            u32(bytes, localOff + 22) != usize) fail()
        }
        if (dataOff + csize > bytes.length) fail()
        val payload = method match {
          case 0 =>
            if (csize != usize) fail()
            java.util.Arrays.copyOfRange(bytes, dataOff, dataOff + usize.toInt)
          case 8 =>
            val p = InflateCodec.inflate(bytes, dataOff, usize.toInt)
              .getOrElse(fail())
            p
          case _ => fail() // methods we cannot verify end-to-end
        }
        val calc = new java.util.zip.CRC32
        calc.update(payload)
        if (calc.getValue != crc) fail()
        if (hasDescriptor) {
          // optional-signature descriptor after the data. A descriptor
          // whose CRC field happens to equal the signature would shift
          // a sig-first parse by 4 — so accept whichever interpretation
          // matches the directory's (crc, csize, usize) exactly.
          val d = dataOff + csize.toInt
          def matchesAt(p: Int): Boolean =
            d + p + 12 <= bytes.length &&
              u32(bytes, d + p) == crc && u32(bytes, d + p + 4) == csize &&
              u32(bytes, d + p + 8) == usize
          if (!(matchesAt(0) ||
            (u32(bytes, d) == 0x08074b50L && matchesAt(4)))) fail()
        }
        out += Entry(name, method, crc, csize.toInt, usize.toInt, payload)
        off += 46 + nameLen + extraLen + commentLen
        k += 1
      }
      if (off != eocd) fail() // directory must tile exactly to the EOCD
      Some(out.result())
    } catch {
      case _: Malformed | _: ArrayIndexOutOfBoundsException => None
    }

  private def u64(b: Array[Byte], off: Int): Long = {
    var v = 0L
    var k = 0
    while (k < 8) { v |= (b(off + k) & 0xFFL) << (8 * k); k += 1 }
    v
  }

  /** One central-directory row as the bounded-memory walk sees it —
    * 64-bit sizes/offsets (ZIP64-resolved), no payload.
    */
  final case class DirEntry(
      name: String,
      method: Int, // 0 stored, 8 deflate
      crc32: Long,
      compressedSize: Long,
      uncompressedSize: Long,
      localHeaderOffset: Long,
      hasDescriptor: Boolean)

  /** Resolve the ZIP64 0x0001 extra field: 8-byte values appear, in
    * APPNOTE 4.5.3 order (usize, csize, local offset), ONLY for the
    * 32-bit fields that carried the 0xFFFFFFFF sentinel.
    */
  private def zip64Resolve(extra: Array[Byte], needU: Boolean,
      needC: Boolean, needO: Boolean, u0: Long, c0: Long,
      o0: Long): (Long, Long, Long) = {
    var p = 0
    while (p + 4 <= extra.length) {
      val id = u16(extra, p)
      val sz = u16(extra, p + 2)
      if (p + 4 + sz > extra.length) fail()
      if (id == 1) {
        var q = p + 4
        val lim = p + 4 + sz
        var u = u0; var c = c0; var o = o0
        if (needU) { if (q + 8 > lim) fail(); u = u64(extra, q); q += 8 }
        if (needC) { if (q + 8 > lim) fail(); c = u64(extra, q); q += 8 }
        if (needO) { if (q + 8 > lim) fail(); o = u64(extra, q); q += 8 }
        return (u, c, o)
      }
      p += 4 + sz
    }
    fail() // a sentinel with no ZIP64 extra field is malformed
  }

  /** Positional-reader payload view; `readAt` must return exactly the
    * requested bytes (a short read is malformation, surfaced as EOF).
    */
  private final class RangeStream(readAt: (Long, Int) => Array[Byte],
      start: Long, len: Long) extends java.io.InputStream {
    private var pos = 0L
    override def read(): Int = {
      val one = new Array[Byte](1)
      val n = read(one, 0, 1)
      if (n < 0) -1 else one(0) & 0xFF
    }
    override def read(b: Array[Byte], off: Int, n: Int): Int = {
      if (n == 0) return 0
      if (pos >= len) return -1
      val chunk = math.min(math.min(n.toLong, len - pos), 65536L).toInt
      val got = readAt(start + pos, chunk)
      if (got.length != chunk) throw new java.io.EOFException("short read")
      System.arraycopy(got, 0, b, off, chunk)
      pos += chunk
      chunk
    }
  }

  /** Bounded-memory central-directory walk over a positional reader —
    * the scale path for archives beyond a JVM array (`readAt(off, len)`
    * is the `FSDataInputStream.readFully` shape, so a 100 GiB zip on
    * HDFS/S3A and a local FileChannel plug in identically). Resolves
    * ZIP64: EOCD sentinel fields → EOCD64 locator → EOCD64 record, and
    * per-entry 0x0001 extra fields for 64-bit sizes/offsets. Memory is
    * the EOCD tail scan (≤ 64 KiB) + the central directory itself
    * (guarded at 256 MiB ≈ millions of entries — the directory is the
    * catalog a walk cannot avoid holding); payloads are NOT read here.
    */
  def directoryAt(readAt: (Long, Int) => Array[Byte],
      fileLen: Long): Option[Seq[DirEntry]] =
    try {
      if (fileLen < 22) fail()
      val tailLen = math.min(fileLen, 22L + 65535L).toInt
      val tailOff = fileLen - tailLen
      val tail = readAt(tailOff, tailLen)
      if (tail.length != tailLen) fail()
      var found = -1
      var i = tailLen - 22
      while (found < 0 && i >= 0) {
        if (u32(tail, i) == 0x06054b50L &&
          i + 22 + u16(tail, i + 20) == tailLen) found = i
        else i -= 1
      }
      if (found < 0) fail()
      val eocdAbs = tailOff + found
      val d1 = u16(tail, found + 4)
      val d2 = u16(tail, found + 6)
      var n: Long = u16(tail, found + 10)
      val nTotal: Long = u16(tail, found + 8)
      var cdSize: Long = u32(tail, found + 12)
      var cdOff: Long = u32(tail, found + 16)
      val needs64 = n == 0xFFFFL || cdSize == 0xFFFFFFFFL ||
        cdOff == 0xFFFFFFFFL || d1 == 0xFFFF || d2 == 0xFFFF
      val cdEnd: Long =
        if (needs64) {
          // ZIP64 EOCD locator: 20 bytes immediately before the EOCD
          if (eocdAbs < 20 + 56) fail()
          val loc = readAt(eocdAbs - 20, 20)
          if (loc.length != 20 || u32(loc, 0) != 0x07064b50L) fail()
          if (u32(loc, 4) != 0 || u32(loc, 16) != 1) fail() // single disk
          val e64Off = u64(loc, 8)
          if (e64Off < 0 || e64Off + 56 > eocdAbs - 20) fail()
          val e = readAt(e64Off, 56)
          if (e.length != 56 || u32(e, 0) != 0x06064b50L) fail()
          if (u32(e, 16) != 0 || u32(e, 20) != 0) fail()   // disk numbers
          val n64 = u64(e, 24)
          if (n64 != u64(e, 32)) fail()
          n = n64
          cdSize = u64(e, 40)
          cdOff = u64(e, 48)
          e64Off
        } else {
          if (d1 != 0 || d2 != 0) fail()
          if (nTotal != n) fail()
          eocdAbs
        }
      if (cdSize < 0 || cdSize > (1L << 28)) fail()
      if (cdOff < 0 || cdOff + cdSize != cdEnd) fail() // directory tiles to its end record
      if (n < 0 || n > cdSize / 46 + 1) fail()
      val cd = readAt(cdOff, cdSize.toInt)
      if (cd.length != cdSize) fail()
      val out = Seq.newBuilder[DirEntry]
      var off = 0
      var k = 0L
      while (k < n) {
        if (u32(cd, off) != 0x02014b50L) fail()
        val flags = u16(cd, off + 8)
        val method = u16(cd, off + 10)
        val crc = u32(cd, off + 16)
        var csize: Long = u32(cd, off + 20)
        var usize: Long = u32(cd, off + 24)
        val nameLen = u16(cd, off + 28)
        val extraLen = u16(cd, off + 30)
        val commentLen = u16(cd, off + 32)
        var localOff: Long = u32(cd, off + 42)
        val name = new String(cd, off + 46, nameLen,
          java.nio.charset.StandardCharsets.UTF_8)
        if ((flags & 1) != 0) fail() // encrypted
        val needU = usize == 0xFFFFFFFFL
        val needC = csize == 0xFFFFFFFFL
        val needO = localOff == 0xFFFFFFFFL
        if (needU || needC || needO) {
          val extra = java.util.Arrays.copyOfRange(cd, off + 46 + nameLen,
            off + 46 + nameLen + extraLen)
          val (u, c, o) = zip64Resolve(extra, needU, needC, needO,
            usize, csize, localOff)
          usize = u; csize = c; localOff = o
        }
        if (usize < 0 || csize < 0 || localOff < 0 ||
          localOff + csize > fileLen) fail()
        out += DirEntry(name, method, crc, csize, usize, localOff,
          (flags & 8) != 0)
        off += 46 + nameLen + extraLen + commentLen
        k += 1
      }
      if (off != cdSize) fail()
      Some(out.result())
    } catch {
      case _: Malformed | _: ArrayIndexOutOfBoundsException |
          _: java.io.IOException => None
    }

  /** Bounded-memory member walk: for each directory entry, validate the
    * local header, hand `f` a streaming payload (stored bytes straight
    * from `readAt` windows; DEFLATE through the pull-based
    * [[InflateCodec.InflateInputStream]] — bounded memory however big
    * the member), drain what `f` left unread, and verify the CRC-32 and
    * both sizes over the WHOLE payload — the same end-to-end guarantees
    * as [[entries]], without ever materializing a member. Data
    * descriptors are verified by matching all four legal shapes
    * (32/64-bit × optional signature) against the directory's values.
    */
  def walkAt[A](readAt: (Long, Int) => Array[Byte], fileLen: Long)(
      f: (DirEntry, java.io.InputStream) => A): Option[Seq[A]] =
    try {
      val dir = directoryAt(readAt, fileLen).getOrElse(fail())
      val out = Seq.newBuilder[A]
      dir.foreach { e =>
        val lh = readAt(e.localHeaderOffset, 30)
        if (lh.length != 30 || u32(lh, 0) != 0x04034b50L) fail()
        if (u16(lh, 8) != e.method) fail()
        val lNameLen = u16(lh, 26)
        val lExtraLen = u16(lh, 28)
        val lName = readAt(e.localHeaderOffset + 30, lNameLen)
        if (new String(lName, java.nio.charset.StandardCharsets.UTF_8)
          != e.name) fail()
        def sizeOk(l: Long, real: Long): Boolean =
          l == real || l == 0xFFFFFFFFL // ZIP64 local headers carry the sentinel
        if (!e.hasDescriptor) {
          if (u32(lh, 14) != e.crc32 ||
            !sizeOk(u32(lh, 18), e.compressedSize) ||
            !sizeOk(u32(lh, 22), e.uncompressedSize)) fail()
        }
        val dataOff = e.localHeaderOffset + 30 + lNameLen + lExtraLen
        if (dataOff + e.compressedSize > fileLen) fail()
        val raw = new RangeStream(readAt, dataOff, e.compressedSize)
        var inf: InflateCodec.InflateInputStream = null
        val payload: java.io.InputStream = e.method match {
          case 0 =>
            if (e.compressedSize != e.uncompressedSize) fail()
            raw
          case 8 =>
            inf = new InflateCodec.InflateInputStream(
              new java.io.BufferedInputStream(raw, 65536))
            inf
          case _ => fail() // methods we cannot verify end-to-end
        }
        val tracked = new GzipCodec.CrcCountStream(payload)
        try {
          out += f(e, tracked)
          GzipCodec.drain(tracked)
        } finally if (inf != null) inf.close()
        if (tracked.crc != e.crc32) fail()
        if (tracked.count != e.uncompressedSize) fail()
        if (inf != null && inf.compressedBytesConsumed != e.compressedSize)
          fail()
        if (e.hasDescriptor) {
          val dOff = dataOff + e.compressedSize
          val avail = math.min(24L, fileLen - dOff).toInt
          if (avail < 12) fail()
          val d = readAt(dOff, avail)
          if (d.length != avail) fail()
          val wide = e.compressedSize > 0xFFFFFFFFL ||
            e.uncompressedSize > 0xFFFFFFFFL
          def m32(p: Int): Boolean = !wide && avail >= p + 12 &&
            u32(d, p) == e.crc32 && u32(d, p + 4) == e.compressedSize &&
            u32(d, p + 8) == e.uncompressedSize
          def m64(p: Int): Boolean = avail >= p + 20 &&
            u32(d, p) == e.crc32 && u64(d, p + 4) == e.compressedSize &&
            u64(d, p + 12) == e.uncompressedSize
          val sig = avail >= 4 && u32(d, 0) == 0x08074b50L
          if (!(m32(0) || m64(0) || (sig && (m32(4) || m64(4))))) fail()
        }
      }
      Some(out.result())
    } catch {
      case _: Malformed | _: ArrayIndexOutOfBoundsException |
          _: java.io.IOException => None
    }

  /** Deterministic builder: full local headers (no data descriptors),
    * stored or DEFLATE per entry, one central directory, one EOCD.
    * `java.util.zip.ZipInputStream` reads the output — the differential
    * spec's independent decoder.
    */
  def build(files: Seq[(String, Array[Byte], Boolean)]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
    def w32(v: Long): Unit = {
      var k = 0
      while (k < 4) { out.write(((v >> (8 * k)) & 0xFF).toInt); k += 1 }
    }
    val central = files.map { case (name, data, deflated) =>
      val nb = name.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val body = if (deflated) DeflateCodec.deflate(data) else data
      val crc32 = new java.util.zip.CRC32
      crc32.update(data)
      val crc = crc32.getValue
      val localOff = out.size()
      w32(0x04034b50L); w16(20); w16(0); w16(if (deflated) 8 else 0)
      w16(0); w16(0) // mod time/date: fixed zero (deterministic fixtures)
      w32(crc); w32(body.length.toLong); w32(data.length.toLong)
      w16(nb.length); w16(0)
      out.write(nb); out.write(body)
      (nb, deflated, crc, body.length, data.length, localOff)
    }
    val cdOff = out.size()
    central.foreach { case (nb, deflated, crc, csize, usize, localOff) =>
      w32(0x02014b50L); w16(20); w16(20); w16(0); w16(if (deflated) 8 else 0)
      w16(0); w16(0)
      w32(crc); w32(csize.toLong); w32(usize.toLong)
      w16(nb.length); w16(0); w16(0); w16(0); w16(0); w32(0L)
      w32(localOff.toLong)
      out.write(nb)
    }
    val cdSize = out.size() - cdOff
    w32(0x06054b50L); w16(0); w16(0); w16(files.length); w16(files.length)
    w32(cdSize.toLong); w32(cdOff.toLong); w16(0)
    out.toByteArray
  }
}
