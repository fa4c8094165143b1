package graft.multimodal

/** Pure-JVM DEFLATE + zlib ENCODER from the public specifications —
  * RFC 1951 (fixed-Huffman blocks over a greedy hash-chain LZ77 with
  * the standard length/distance code tables, stored-block fallback for
  * incompressible data, the sync-flush empty-stored-block idiom) and
  * RFC 1950 (zlib header + Adler-32 trailer) — the write direction of
  * [[InflateCodec]]. Decoding and checksums (`java.util.zip.CRC32`,
  * `Adler32`) come from the JDK; this encoder stays the engine's own
  * because its output builds the media fixtures, whose bytes reach
  * query results.
  *
  * DEFLATE does not standardize encoder OUTPUT (any conforming
  * bitstream is legal), so this encoder cannot be differentially
  * pinned against a reference byte-for-byte. What CAN be pinned, and
  * is (DeflateCodecSpec):
  *
  *  - determinism: every output byte is a pure function of the input
  *    (no library state, no compression-level heuristics that may vary
  *    across JVM releases the way `Deflater`'s do);
  *  - conformance: every stream inflates bit-true through
  *    `java.util.zip.Inflater`.
  *
  * Greedy-only matching (no lazy evaluation) keeps the emitted symbol
  * sequence obvious enough to reason about; fixtures favor
  * reproducibility over ratio.
  */
object DeflateCodec {

  // ---------------------------------------------------------------------
  // RFC 1951 §3.2.5 code tables (encoder direction)
  // ---------------------------------------------------------------------

  // length codes 257..285: (base length, extra bits)
  private val LenBase = Array(3, 4, 5, 6, 7, 8, 9, 10, 11, 13, 15, 17, 19, 23, 27,
    31, 35, 43, 51, 59, 67, 83, 99, 115, 131, 163, 195, 227, 258)
  private val LenExtra = Array(0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 2,
    2, 3, 3, 3, 3, 4, 4, 4, 4, 5, 5, 5, 5, 0)
  // distance codes 0..29: (base distance, extra bits)
  private val DistBase = Array(1, 2, 3, 4, 5, 7, 9, 13, 17, 25, 33, 49, 65, 97,
    129, 193, 257, 385, 513, 769, 1025, 1537, 2049, 3073, 4097, 6145, 8193,
    12289, 16385, 24577)
  private val DistExtra = Array(0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5, 6, 6,
    7, 7, 8, 8, 9, 9, 10, 10, 11, 11, 12, 12, 13, 13)

  /** length → length code index (0-based from 257). */
  private val LenCode: Array[Int] = {
    val a = new Array[Int](259)
    var c = 0
    var l = 3
    while (l <= 258) {
      while (c < 28 && l >= LenBase(c + 1)) c += 1
      a(l) = c
      l += 1
    }
    a(258) = 28
    a
  }

  /** distance → distance code index. */
  private def distCode(d: Int): Int = {
    var c = 29
    while (DistBase(c) > d) c -= 1
    c
  }

  /** Reverse the low `n` bits of `v` (Huffman codes pack MSB-first into
    * an LSB-first bitstream).
    */
  private def rev(v: Int, n: Int): Int = {
    var out = 0
    var i = 0
    while (i < n) { out = (out << 1) | ((v >> i) & 1); i += 1 }
    out
  }

  private final class BitWriter(out: java.io.ByteArrayOutputStream) {
    private var acc = 0L
    private var n = 0
    /** LSB-first raw bits (extra-bit fields, block headers). */
    def bits(v: Int, len: Int): Unit = {
      acc |= (v.toLong & ((1L << len) - 1)) << n
      n += len
      while (n >= 8) { out.write((acc & 0xFF).toInt); acc >>>= 8; n -= 8 }
    }
    /** A Huffman code of `len` bits (MSB-first within the code). */
    def code(v: Int, len: Int): Unit = bits(rev(v, len), len)
    /** Pad to a byte boundary with zero bits. */
    def align(): Unit = if (n > 0) bits(0, 8 - n)
  }

  // fixed literal/length codes (RFC 1951 §3.2.6)
  @inline private def putLit(w: BitWriter, v: Int): Unit =
    if (v < 144) w.code(0x30 + v, 8)
    else if (v < 256) w.code(0x190 + (v - 144), 9)
    else if (v < 280) w.code(v - 256, 7)
    else w.code(0xC0 + (v - 280), 8)

  @inline private def putLen(w: BitWriter, len: Int): Unit = {
    val c = LenCode(len)
    putLit(w, 257 + c)
    if (LenExtra(c) > 0) w.bits(len - LenBase(c), LenExtra(c))
  }

  @inline private def putDist(w: BitWriter, d: Int): Unit = {
    val c = distCode(d)
    w.code(c, 5)
    if (DistExtra(c) > 0) w.bits(d - DistBase(c), DistExtra(c))
  }

  // ---------------------------------------------------------------------
  // Greedy hash-chain LZ77 over a window that may include `dictLen`
  // bytes of prior context (for the sync-flushed stream mode)
  // ---------------------------------------------------------------------

  private final val MinMatch = 3
  private final val MaxMatch = 258
  private final val WindowSize = 32768
  private final val MaxChain = 64
  private final val HashBits = 15

  @inline private def hash3(b: Array[Byte], i: Int): Int =
    (((b(i) & 0xFF) << 16) | ((b(i + 1) & 0xFF) << 8) | (b(i + 2) & 0xFF)) * 506832829 >>> (32 - HashBits)

  /** Emit one fixed-Huffman block (BFINAL as given) covering
    * `data[dictLen, data.length)`; bytes before `dictLen` serve only as
    * match context.
    */
  private def fixedBlock(w: BitWriter, data: Array[Byte], dictLen: Int,
      bfinal: Boolean): Unit = {
    w.bits(if (bfinal) 1 else 0, 1)
    w.bits(1, 2) // BTYPE=01 fixed Huffman
    val n = data.length
    val head = Array.fill(1 << HashBits)(-1)
    val prev = new Array[Int](n)
    // seed the chains with the dictionary context
    var i = 0
    while (i + MinMatch <= dictLen) {
      val h = hash3(data, i)
      prev(i) = head(h); head(h) = i
      i += 1
    }
    i = dictLen
    while (i < n) {
      var bestLen = 0
      var bestDist = 0
      if (i + MinMatch <= n) {
        val h = hash3(data, i)
        var cand = head(h)
        var chain = 0
        val limit = math.min(MaxMatch, n - i)
        while (cand >= 0 && chain < MaxChain && i - cand <= WindowSize) {
          var l = 0
          while (l < limit && data(cand + l) == data(i + l)) l += 1
          if (l > bestLen) { bestLen = l; bestDist = i - cand }
          cand = prev(cand)
          chain += 1
        }
      }
      if (bestLen >= MinMatch) {
        putLen(w, bestLen)
        putDist(w, bestDist)
        // index every position inside the match so later matches see it
        val end = math.min(i + bestLen, n - MinMatch + 1)
        var j = i
        while (j < end) {
          val h = hash3(data, j)
          prev(j) = head(h); head(h) = j
          j += 1
        }
        i += bestLen
      } else {
        if (i + MinMatch <= n) {
          val h = hash3(data, i)
          prev(i) = head(h); head(h) = i
        }
        putLit(w, data(i) & 0xFF)
        i += 1
      }
    }
    putLit(w, 256) // end of block
  }

  /** Raw DEFLATE of `data`, one final block: fixed-Huffman, or stored
    * blocks when those are not larger (incompressible input).
    */
  def deflate(data: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(data.length / 2 + 16)
    val w = new BitWriter(bos)
    fixedBlock(w, data, 0, bfinal = true)
    w.align()
    val fixed = bos.toByteArray
    val storedSize = 5 * math.max(1, (data.length + 65534) / 65535) + data.length
    if (fixed.length <= storedSize) fixed
    else {
      val sb = new java.io.ByteArrayOutputStream(storedSize)
      val sw = new BitWriter(sb)
      var off = 0
      do {
        val chunk = math.min(65535, data.length - off)
        val last = off + chunk == data.length
        sw.bits(if (last) 1 else 0, 1)
        sw.bits(0, 2) // BTYPE=00 stored
        sw.align()
        sb.write(chunk & 0xFF); sb.write((chunk >> 8) & 0xFF)
        sb.write(~chunk & 0xFF); sb.write((~chunk >> 8) & 0xFF)
        sb.write(data, off, chunk)
        off += chunk
      } while (off < data.length)
      sb.toByteArray
    }
  }

  /** zlib stream (RFC 1950): CMF 0x78 (deflate, 32 KiB window), FLG
    * 0x01 (check bits, no dictionary, fastest-level hint), DEFLATE
    * body, Adler-32 trailer.
    */
  def zlib(data: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(data.length / 2 + 16)
    bos.write(0x78); bos.write(0x01)
    bos.write(deflate(data))
    val adler = new java.util.zip.Adler32
    adler.update(data)
    val a = adler.getValue.toInt
    bos.write((a >>> 24) & 0xFF); bos.write((a >>> 16) & 0xFF)
    bos.write((a >>> 8) & 0xFF); bos.write(a & 0xFF)
    bos.toByteArray
  }

  /** Sync-flushed segment encoder — the write twin of
    * [[InflateCodec.Stream]] (ZMBV's shared-GOP zlib context): each
    * `segment` call emits one non-final fixed-Huffman block over the
    * new bytes (matching against up to 32 KiB of prior context) plus
    * the RFC 1951 sync marker (empty stored block), byte-aligned. The
    * first segment is prefixed with the zlib header; the stream is
    * never finalized, exactly like the decoder side.
    */
  final class Stream {
    private var hist: Array[Byte] = Array.emptyByteArray
    private var first = true

    /** Restart the stream: drop the match context and emit a fresh zlib
      * header on the next segment (the keyframe semantics of ZMBV's
      * shared-GOP context — the decode side mirrors with a fresh
      * [[InflateCodec.Stream]]).
      */
    def reset(): Unit = { hist = Array.emptyByteArray; first = true }

    def segment(data: Array[Byte]): Array[Byte] = {
      val keep = math.min(hist.length, WindowSize)
      val ctx = new Array[Byte](keep + data.length)
      System.arraycopy(hist, hist.length - keep, ctx, 0, keep)
      System.arraycopy(data, 0, ctx, keep, data.length)
      val bos = new java.io.ByteArrayOutputStream(data.length / 2 + 16)
      if (first) { bos.write(0x78); bos.write(0x01); first = false }
      val w = new BitWriter(bos)
      fixedBlock(w, ctx, keep, bfinal = false)
      // sync flush: the empty stored block's 3 header bits follow the
      // EOB IMMEDIATELY (a decoder reads them unaligned); the byte
      // alignment is part of the stored block itself, before LEN/NLEN
      w.bits(0, 1) // BFINAL=0
      w.bits(0, 2) // BTYPE=00 stored
      w.align()
      bos.write(0x00); bos.write(0x00) // LEN = 0
      bos.write(0xFF); bos.write(0xFF) // NLEN = ~LEN
      hist = if (ctx.length <= WindowSize) ctx
      else java.util.Arrays.copyOfRange(ctx, ctx.length - WindowSize, ctx.length)
      bos.toByteArray
    }
  }
}
