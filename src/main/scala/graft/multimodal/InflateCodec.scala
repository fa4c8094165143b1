package graft.multimodal

import java.util.zip.{DataFormatException, Inflater}

/** DEFLATE (RFC 1951) and zlib (RFC 1950) decoding over
  * `java.util.zip.Inflater`, behind the contracts the engine's callers
  * state: an exact output size where the framing declares one (PNG's
  * IHDR, a zip directory), a `maxOut` bound against decompression bombs
  * where it does not (gzip members, HTTP bodies, ZMBV segments), the
  * zlib header, FDICT rejection and Adler-32 check (all done by
  * `Inflater`'s zlib mode), and no bytes accepted after a zlib trailer.
  * The write direction is [[DeflateCodec]], whose encoder the engine
  * keeps so fixture bytes stay fixed.
  *
  * Every decode goes through `step`, one `inflate` call that turns
  * `Inflater`'s stalls (a dictionary request, a call that makes no
  * progress) into failures instead of spins. Every `Inflater` is `end()`ed in a
  * `finally`, or by the owning object's `close()`, so native memory
  * never waits for a GC. TOTAL on arbitrary bytes — same contract as
  * every codec here.
  */
object InflateCodec {

  private final class Malformed extends RuntimeException
  private def fail(): Nothing = throw new Malformed

  /** One `inflate` call into `b[off, off+len)`. Returns 0 only when the
    * stream has ended or the input is used up; throws when `Inflater`
    * wants a preset dictionary or makes no progress at all.
    */
  private def step(inf: Inflater, b: Array[Byte], off: Int, len: Int): Int = {
    val before = inf.getBytesRead
    val n = inf.inflate(b, off, len)
    if (n == 0 && !inf.finished() && (inf.needsDictionary() ||
        (!inf.needsInput() && inf.getBytesRead == before)))
      throw new DataFormatException("inflate stalled")
    n
  }

  /** Inflate the input `inf` holds into exactly `expected` bytes: the
    * stream must end there, with no output left over.
    */
  private def exact(inf: Inflater, expected: Int): Array[Byte] = {
    if (expected < 0) fail()
    val out = new Array[Byte](expected)
    var got = 0
    while (got < expected) {
      val n = step(inf, out, got, expected - got)
      if (n == 0) fail()
      got += n
    }
    if (step(inf, new Array[Byte](1), 0, 1) != 0 || !inf.finished()) fail()
    out
  }

  /** Inflate the input `inf` holds until the stream ends or the input
    * is used up, failing past `maxOut` output bytes.
    */
  private def bounded(inf: Inflater, maxOut: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(1024)
    val buf = new Array[Byte](8192)
    var n = step(inf, buf, 0, buf.length)
    while (n > 0) {
      if (n > maxOut - out.size()) fail()
      out.write(buf, 0, n)
      n = step(inf, buf, 0, buf.length)
    }
    out.toByteArray
  }

  /** Run `f` over a fresh `Inflater` fed `data[from, length)`; None on
    * any malformation.
    */
  private def decode[A](data: Array[Byte], from: Int, nowrap: Boolean)(
      f: Inflater => A): Option[A] = {
    if (from < 0 || from > data.length) return None
    val inf = new Inflater(nowrap)
    try {
      inf.setInput(data, from, data.length - from)
      Some(f(inf))
    } catch {
      case _: Malformed | _: DataFormatException => None
    } finally inf.end()
  }

  /** zlib stream (RFC 1950) → bytes; `expected` is the exact output
    * size the caller knows from its own framing (PNG's IHDR), enforced
    * strictly. None on any malformation: a bad header, FDICT, an
    * Adler-32 mismatch, or any byte after the trailer.
    */
  def zlib(data: Array[Byte], expected: Int): Option[Array[Byte]] =
    decode(data, 0, nowrap = false) { inf =>
      val out = exact(inf, expected)
      if (inf.getRemaining != 0) fail()
      out
    }

  /** zlib stream with UNKNOWN output size, bounded by `maxOut`; bytes
    * after the Adler-32 trailer are ignored (the HTTP `deflate` body
    * shape).
    */
  def zlibUnknown(data: Array[Byte], maxOut: Int): Option[Array[Byte]] =
    decode(data, 0, nowrap = false) { inf =>
      val out = bounded(inf, maxOut)
      if (!inf.finished()) fail()
      out
    }

  /** Raw DEFLATE (RFC 1951) from byte offset `from` → exactly
    * `expected` bytes; bytes after the stream are not examined.
    */
  def inflate(data: Array[Byte], from: Int, expected: Int): Option[Array[Byte]] =
    decode(data, from, nowrap = true)(exact(_, expected))

  /** Raw DEFLATE from byte offset `from` with UNKNOWN output size — the
    * gzip-member shape (RFC 1952 puts ISIZE AFTER the stream, so a
    * member walker cannot know the size up front). Output is bounded by
    * `maxOut` (the decompression-bomb guard every caller of this family
    * states) and grows with the member's actual size; returns the bytes
    * and the byte offset one past the stream's last byte (DEFLATE
    * streams inside gzip are followed by the byte-aligned trailer).
    */
  def inflateUnknown(data: Array[Byte], from: Int,
      maxOut: Int): Option[(Array[Byte], Int)] =
    decode(data, from, nowrap = true) { inf =>
      val out = bounded(inf, maxOut)
      if (!inf.finished()) fail()
      (out, data.length - inf.getRemaining)
    }

  /** Shared-context streaming decode — the ZMBV shape: one zlib stream
    * whose producer sync-flushes after every frame, so each payload is
    * a byte-aligned run of whole DEFLATE blocks and LZ77 distances reach
    * back into PREVIOUS segments' output. One `Inflater` carries the
    * context: the first segment (and the first after [[reset]]) starts
    * with the zlib header, and output size per segment is discovered,
    * not declared. No Adler check — the stream is never finalized. A
    * segment cut short yields the output its bytes carry; the caller's
    * framing (ZMBV's body sizes) rejects what is missing. The owner
    * calls [[close]] to free the native state.
    */
  final class Stream extends AutoCloseable {
    private val inf = new Inflater()

    /** `maxOut` bounds the segment's decompressed size: a crafted
      * sync-flushed segment can otherwise expand without limit (a
      * decompression bomb inside an untrusted .avi/.mkv). Callers know
      * the frame-derived bound (a ZMBV body is at most palette + pixels
      * + vector table).
      */
    def segment(data: Array[Byte], from: Int,
        maxOut: Int = Int.MaxValue): Option[Array[Byte]] =
      try {
        inf.setInput(data, from, data.length - from)
        Some(bounded(inf, maxOut))
      } catch {
        case _: Malformed | _: DataFormatException |
            _: ArrayIndexOutOfBoundsException => None
      }

    /** Restart the stream at a keyframe: drop the window and expect a
      * fresh zlib header on the next segment.
      */
    def reset(): Unit = inf.reset()

    override def close(): Unit = inf.end()
  }

  /** Pull-based raw DEFLATE decoder over a `java.io.InputStream` — the
    * bounded-memory read path for archive members bigger than a JVM
    * array (a 100 TB ingest's dataset tarballs run 10–100 GiB, far past
    * both `Array[Byte]` and the `binaryFile` content column). Memory is
    * `Inflater`'s window plus one input chunk regardless of stream size.
    *
    * `in` must support mark/reset (wrap it in a `BufferedInputStream`):
    * input is read in chunks, and when the stream ends the bytes the
    * decoder did not use are pushed back, so the caller's stream sits
    * at the byte-aligned end (where gzip's trailer or zip's data
    * descriptor follows) once `read` returns −1. Malformed or truncated
    * input throws `java.io.IOException` — the stream contract's failure
    * channel; walkers convert it to their total `None`. `close()` frees
    * the `Inflater` and leaves `in` open: the caller owns it and reads
    * on from it.
    */
  final class InflateInputStream(in: java.io.InputStream)
      extends java.io.InputStream {
    require(in.markSupported(), "InflateInputStream needs mark/reset on its source")
    private val inf = new Inflater(true)
    private val chunk = new Array[Byte](16384)
    private var chunkLen = 0
    private var consumed = 0L
    private var closed = false
    private var atEnd = false

    /** Input bytes the DEFLATE stream occupies, up to its byte-aligned
      * end (so far, until `read` has returned −1).
      */
    def compressedBytesConsumed: Long = if (closed) consumed else inf.getBytesRead

    private def bad(msg: String): Nothing = throw new java.io.IOException(msg)

    /** Stream end: push the unused tail of the last chunk back into
      * `in`, record the consumed count, and free the `Inflater`.
      */
    private def finish(): Unit = {
      var skip = (chunkLen - inf.getRemaining).toLong
      atEnd = true
      close()
      in.reset()
      while (skip > 0) {
        val s = in.skip(skip)
        if (s <= 0) bad("source lost its mark")
        skip -= s
      }
    }

    override def read(): Int = {
      val one = new Array[Byte](1)
      if (read(one, 0, 1) < 0) -1 else one(0) & 0xFF
    }

    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (len == 0) return 0
      if (atEnd) return -1
      if (closed) bad("stream closed")
      try {
        var n = step(inf, b, off, len)
        while (n == 0 && !inf.finished()) {
          in.mark(chunk.length)
          chunkLen = in.read(chunk, 0, chunk.length)
          if (chunkLen <= 0) bad("truncated DEFLATE stream")
          inf.setInput(chunk, 0, chunkLen)
          n = step(inf, b, off, len)
        }
        if (n == 0) { finish(); -1 } else n
      } catch {
        case e: DataFormatException =>
          throw new java.io.IOException("malformed DEFLATE stream", e)
      }
    }

    override def close(): Unit = if (!closed) {
      consumed = inf.getBytesRead
      closed = true
      inf.end()
    }
  }
}
