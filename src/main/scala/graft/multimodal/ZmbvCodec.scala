package graft.multimodal


/** Pure-JVM ZMBV codec (decode + a deterministic subset encoder) — Zip
  * Motion Block Video, the DOSBox capture codec, implemented from the
  * PUBLIC format description (the MultimediaWiki "Zip Motion Blocks
  * Video" page / the DOSBox and FFmpeg decoders' documented behavior) —
  * no external codec library, no code taken from either project.
  *
  * This is the repo's first REAL inter-frame video codec: inter frames
  * carry a per-block motion vector into the previous frame plus an
  * optional XOR residual, and the whole stream shares ONE zlib context
  * between keyframes (each frame is a sync-flushed segment; the inflater
  * is reset only on keyframes). ZMBV is LOSSLESS, so — like
  * [[FlacCodec]] for audio and the PNG chain for images — decode is
  * exact integer arithmetic end to end and the `q_zmbv_scan` oracle can
  * replay decoded pixels in closed form (encode(pixels) → binary scan →
  * decode == pixels, verified by hash). It replaces the hash-fake
  * feature path for AVI-contained inter-frame video in
  * [[Multimodal.DefaultDecoder]]; non-AVI containers (mp4/mkv/webm) and
  * their codecs (H.264…) remain the documented fake+strict seam.
  *
  * Frame layout (per the public description):
  *  - byte 0: flags — bit 0 = intra (keyframe), bit 1 = palette delta
  *    (inter, 8bpp only).
  *  - intra: 6 more header bytes — major version (0), minor version (1),
  *    compression (0 = none, 1 = zlib), format, block width, block
  *    height — then the (optionally deflated) image: 768-byte palette
  *    first when format is 8bpp, then pixels row-major.
  *  - inter: the (optionally deflated) body is: 768-byte palette XOR
  *    when flags bit 1; then 2 bytes per block — byte 0 = (dx << 1) |
  *    xorFlag, byte 1 = dy << 1, both signed — padded to a multiple of
  *    4; then, for each block whose xorFlag is set, in block order
  *    (left-to-right, top-to-bottom), the block's XOR residual bytes
  *    (row-major inside the block).
  *  - motion reads outside the frame yield 0 — DOSBox allocates a
  *    zeroed border around the frame and its encoder keeps vectors
  *    within it; this decoder models an unbounded zero border, which
  *    agrees for every vector a conforming encoder emits.
  *
  * Formats supported: 4 (8bpp palette — what DOSBox emits for VGA),
  * 5 (15bpp LE 555), 6 (16bpp LE 565), 8 (32bpp LE BGRx). Anything else
  * (reserved codes, bad versions, truncated zlib, short bodies) returns
  * None — the decoder is TOTAL on arbitrary bytes, the same contract as
  * [[FlacCodec.decode]] / [[WavCodec.decode]].
  *
  * Encoder subset (fixture/production-write tier): zlib compression,
  * 16×16 blocks, exhaustive deterministic motion search over a fixed
  * ±`search` square (cost = count of differing bytes; ties broken by
  * scan order, (0,0) first), XOR residual only when nonzero, palette
  * delta when the 8bpp palette changes mid-GOP. Every choice is
  * deterministic — identical input produces identical bytes on every
  * JVM (the zlib segments come from the engine's own [[DeflateCodec]],
  * not `Deflater`, so no library heuristic can drift) — so fixture
  * trees are pinnable by `read_blob` byte identity like the PNG and
  * FLAC trees.
  */
object ZmbvCodec {

  val FmtPal8: Int = 4
  val Fmt15: Int = 5
  val Fmt16: Int = 6
  val Fmt32: Int = 8

  private def bppOf(fmt: Int): Int = fmt match {
    case FmtPal8 => 1
    case Fmt15 | Fmt16 => 2
    case Fmt32 => 4
    case _ => fail()
  }

  /** One decoded frame: raw pixel bytes (w·h·bpp, row-major) plus the
    * 768-byte RGB palette when the stream is 8bpp (empty otherwise).
    */
  final case class Frame(format: Int, width: Int, height: Int,
      pixels: Array[Byte], palette: Array[Byte]) {
    private val bpp = bppOf(format)

    /** Exact integer (r, g, b) at (x, y) — palette lookup for 8bpp,
      * 555/565 bit expansion for the 15/16bpp formats (low bits zero,
      * the integer-exact convention DOSBox's own RGB path uses), LE BGRx
      * for 32bpp.
      */
    def rgb(x: Int, y: Int): (Int, Int, Int) = {
      val o = (y * width + x) * bpp
      format match {
        case FmtPal8 =>
          val i = (pixels(o) & 0xFF) * 3
          ((palette(i) & 0xFF), (palette(i + 1) & 0xFF), (palette(i + 2) & 0xFF))
        case Fmt15 =>
          val v = (pixels(o) & 0xFF) | ((pixels(o + 1) & 0xFF) << 8)
          (((v >> 10) & 31) << 3, ((v >> 5) & 31) << 3, (v & 31) << 3)
        case Fmt16 =>
          val v = (pixels(o) & 0xFF) | ((pixels(o + 1) & 0xFF) << 8)
          (((v >> 11) & 31) << 3, ((v >> 5) & 63) << 2, (v & 31) << 3)
        case Fmt32 =>
          ((pixels(o + 2) & 0xFF), (pixels(o + 1) & 0xFF), (pixels(o) & 0xFF))
        case _ => fail()
      }
    }
  }

  /** Decoded stream (dimensions come from the AVI container, not the
    * ZMBV payloads — same split as real players).
    */
  final case class Video(width: Int, height: Int, frames: Seq[Frame])

  private final class Malformed extends RuntimeException
  private def fail(): Nothing = throw new Malformed

  // ------------------------------------------------------------- decode

  /** Total decoder: None on anything that is not a conforming ZMBV
    * frame sequence for a width×height stream.
    */
  def decode(width: Int, height: Int, payloads: Seq[Array[Byte]]): Option[Video] =
    try Some(decodeOrThrow(width, height, payloads))
    catch {
      case _: Malformed | _: ArrayIndexOutOfBoundsException |
           _: NegativeArraySizeException | _: java.util.zip.DataFormatException => None
    }

  private def decodeOrThrow(width: Int, height: Int,
      payloads: Seq[Array[Byte]]): Video = {
    if (width <= 0 || height <= 0 || payloads.isEmpty) fail()
    val zs = new InflateCodec.Stream // shared context between keyframes
    var fmt = -1; var bpp = 0; var comp = -1; var bw = 0; var bh = 0
    var prev: Array[Byte] = null
    var palette: Array[Byte] = Array.emptyByteArray
    val out = Seq.newBuilder[Frame]

    try {
      payloads.foreach { p =>
        if (p.length < 1) fail()
        val flags = p(0) & 0xFF
        if ((flags & 1) != 0) {
          // ---- intra
          if (p.length < 7) fail()
          if ((p(1) & 0xFF) != 0 || (p(2) & 0xFF) != 1) fail() // version 0.1
          comp = p(3) & 0xFF
          if (comp != 0 && comp != 1) fail()
          fmt = p(4) & 0xFF
          bpp = bppOf(fmt)
          bw = p(5) & 0xFF
          bh = p(6) & 0xFF
          if (bw <= 0 || bh <= 0) fail()
          zs.reset() // keyframe: fresh zlib context
          val body = inflateBody(zs, comp, p, 7, bodyBound(width, height, bpp))
          var off = 0
          if (fmt == FmtPal8) {
            if (body.length < 768) fail()
            palette = java.util.Arrays.copyOfRange(body, 0, 768)
            off = 768
          } else palette = Array.emptyByteArray
          val need = width * height * bpp
          if (body.length - off < need) fail()
          prev = java.util.Arrays.copyOfRange(body, off, off + need)
        } else {
          // ---- inter
          if (prev == null) fail() // first frame must be a keyframe
          val body = inflateBody(zs, comp, p, 1, bodyBound(width, height, bpp))
          var off = 0
          if ((flags & 2) != 0) {
            if (fmt != FmtPal8 || body.length < 768) fail()
            val np = palette.clone()
            var i = 0
            while (i < 768) { np(i) = (np(i) ^ body(i)).toByte; i += 1 }
            palette = np
            off = 768
          }
          val bxCount = (width + bw - 1) / bw
          val byCount = (height + bh - 1) / bh
          val nb = bxCount * byCount
          if (body.length - off < nb * 2) fail()
          val mvOff = off
          var dataOff = off + ((nb * 2 + 3) & ~3)
          val cur = new Array[Byte](width * height * bpp)
          var blk = 0
          var by = 0
          while (by < byCount) {
            var bx = 0
            while (bx < bxCount) {
              val d0 = body(mvOff + blk * 2) // signed
              val d1 = body(mvOff + blk * 2 + 1)
              val tx = d0 >> 1 // arithmetic shift keeps the sign
              val ty = d1 >> 1
              val hasXor = (d0 & 1) != 0
              val x0 = bx * bw; val y0 = by * bh
              val bwi = math.min(bw, width - x0)
              val bhi = math.min(bh, height - y0)
              // motion-compensate from prev; outside the frame reads 0
              var r = 0
              while (r < bhi) {
                val sy = y0 + r + ty
                val dRow = ((y0 + r) * width + x0) * bpp
                if (sy >= 0 && sy < height) {
                  var c = 0
                  while (c < bwi) {
                    val sx = x0 + c + tx
                    if (sx >= 0 && sx < width)
                      System.arraycopy(prev, (sy * width + sx) * bpp,
                        cur, dRow + c * bpp, bpp)
                    c += 1
                  }
                } // else: row stays zero
                r += 1
              }
              if (hasXor) {
                val blockBytes = bwi * bhi * bpp
                if (body.length - dataOff < blockBytes) fail()
                r = 0
                while (r < bhi) {
                  val dRow = ((y0 + r) * width + x0) * bpp
                  var c = 0
                  while (c < bwi * bpp) {
                    cur(dRow + c) = (cur(dRow + c) ^ body(dataOff)).toByte
                    dataOff += 1
                    c += 1
                  }
                  r += 1
                }
              }
              blk += 1; bx += 1
            }
            by += 1
          }
          prev = cur
        }
        out += Frame(fmt, width, height, prev.clone(), palette.clone())
      }
    } finally zs.close()
    Video(width, height, out.result())
  }

  /** Inflate one frame's segment of the shared zlib stream (or copy, for
    * compression 0). Each ZMBV frame is a sync-flushed segment, decoded
    * by one [[InflateCodec.Stream]] — the 32 KiB history persists across
    * frames, so inter-frame segments may reference
    * bytes the PREVIOUS frames decompressed (the shared-context
    * property the spec proves by breaking a frame and watching the
    * next fail).
    */
  private def inflateBody(zs: InflateCodec.Stream, comp: Int,
      p: Array[Byte], from: Int, maxOut: Int): Array[Byte] = {
    if (comp == 0) return java.util.Arrays.copyOfRange(p, from, p.length)
    zs.segment(p, from, maxOut).getOrElse(fail())
  }

  /** Largest body any conforming frame can decompress to: optional
    * 768-byte palette (delta), the full pixel plane, and — inter frames,
    * worst case 1×1 blocks — 2 bytes of motion vector per block. Caps
    * the shared zlib stream so a crafted segment cannot decompression-
    * bomb the decoder (Long math: w·h·bpp can overflow Int on crafted
    * headers).
    */
  private def bodyBound(width: Int, height: Int, bpp: Int): Int = {
    // +64 slack: the MV table is padded past 2·nBlocks by up to a few
    // bytes, and a legal worst case (1×1 blocks) sits exactly at the
    // unpadded bound — the slack keeps conforming frames decodable while
    // still rejecting megabyte bombs on tiny frames
    val b = 768L + width.toLong * height * bpp + 2L * width * height + 64L
    if (b > Int.MaxValue) Int.MaxValue else b.toInt
  }

  // ------------------------------------------------------------- encode

  /** Deterministic subset encoder: frame 0 (and every `keyEvery`-th
    * frame) is intra; the rest are inter with an exhaustive ±`search`
    * motion search per 16×16 block (cost = differing bytes against the
    * motion-compensated prediction, ties broken by scan order with
    * (0, 0) first, so zero-motion wins on static blocks) and an XOR
    * residual only where the prediction misses. 8bpp palette changes
    * mid-GOP become palette-delta frames (flags bit 1). Returns one
    * payload per frame; wrap with [[AviCodec.synthesize]] to get a
    * playable .avi.
    */
  def encode(width: Int, height: Int, format: Int,
      frames: Seq[(Array[Byte], Array[Byte])], // (pixels, palette — empty unless 8bpp)
      keyEvery: Int = Int.MaxValue, search: Int = 8,
      compress: Boolean = true): Seq[Array[Byte]] = {
    val bpp = bppOf(format)
    require(width > 0 && height > 0, "bad dims")
    require(frames.nonEmpty, "no frames")
    frames.foreach { case (px, pal) =>
      require(px.length == width * height * bpp, "bad pixel buffer")
      require(if (format == FmtPal8) pal.length == 768 else pal.isEmpty, "bad palette")
    }
    val bw = 16; val bh = 16
    val bxCount = (width + bw - 1) / bw
    val byCount = (height + bh - 1) / bh
    // candidate vectors: (0,0) first, then the ±search square in scan order
    val candidates = (0, 0) +: (for {
      dy <- -search to search; dx <- -search to search
      if !(dx == 0 && dy == 0)
    } yield (dx, dy))
    // the engine's own sync-flushed zlib encoder — one shared context
    // across the whole clip, the stream InflateCodec.Stream decodes
    val deflater = new DeflateCodec.Stream
    var prev: Array[Byte] = null
    var prevPal: Array[Byte] = null
    val out = Seq.newBuilder[Array[Byte]]

    def deflateSeg(body: Array[Byte]): Array[Byte] = deflater.segment(body)

    // prediction of block (x0,y0,bwi,bhi) under vector (tx,ty), vs cur:
    // returns differing-byte count, or writes the XOR into resid
    def blockCost(cur: Array[Byte], x0: Int, y0: Int, bwi: Int, bhi: Int,
        tx: Int, ty: Int): Int = {
      var cost = 0
      var r = 0
      while (r < bhi) {
        val sy = y0 + r + ty
        var c = 0
        while (c < bwi) {
          val sx = x0 + c + tx
          var b = 0
          while (b < bpp) {
            val cv = cur(((y0 + r) * width + x0 + c) * bpp + b)
            val pv =
              if (sx >= 0 && sx < width && sy >= 0 && sy < height)
                prev((sy * width + sx) * bpp + b)
              else 0.toByte
            if (cv != pv) cost += 1
            b += 1
          }
          c += 1
        }
        r += 1
      }
      cost
    }

    frames.zipWithIndex.foreach { case ((px, pal), f) =>
      val intra = f == 0 || (keyEvery != Int.MaxValue && f % keyEvery == 0)
      if (intra) {
        deflater.reset()
        val body = new Array[Byte]((if (format == FmtPal8) 768 else 0) + px.length)
        if (format == FmtPal8) System.arraycopy(pal, 0, body, 0, 768)
        System.arraycopy(px, 0, body, if (format == FmtPal8) 768 else 0, px.length)
        val payload = new java.io.ByteArrayOutputStream()
        payload.write(1) // flags: intra
        payload.write(0); payload.write(1) // version 0.1
        payload.write(if (compress) 1 else 0)
        payload.write(format)
        payload.write(bw); payload.write(bh)
        payload.write(if (compress) deflateSeg(body) else body)
        out += payload.toByteArray
      } else {
        val palDelta = format == FmtPal8 && !java.util.Arrays.equals(pal, prevPal)
        val mv = new Array[Byte](((bxCount * byCount * 2) + 3) & ~3)
        val resid = new java.io.ByteArrayOutputStream()
        var blk = 0
        var by = 0
        while (by < byCount) {
          var bx = 0
          while (bx < bxCount) {
            val x0 = bx * bw; val y0 = by * bh
            val bwi = math.min(bw, width - x0)
            val bhi = math.min(bh, height - y0)
            var best = (0, 0); var bestCost = Int.MaxValue
            candidates.foreach { case (dx, dy) =>
              // the 7-bit signed field bounds vectors to [-64, 63]
              if (dx >= -64 && dx <= 63 && dy >= -64 && dy <= 63) {
                val c = blockCost(px, x0, y0, bwi, bhi, dx, dy)
                if (c < bestCost) { bestCost = c; best = (dx, dy) }
              }
            }
            val (tx, ty) = best
            val hasXor = bestCost > 0
            mv(blk * 2) = ((tx << 1) | (if (hasXor) 1 else 0)).toByte
            mv(blk * 2 + 1) = (ty << 1).toByte
            if (hasXor) {
              var r = 0
              while (r < bhi) {
                val sy = y0 + r + ty
                var c = 0
                while (c < bwi) {
                  val sx = x0 + c + tx
                  var b = 0
                  while (b < bpp) {
                    val cv = px(((y0 + r) * width + x0 + c) * bpp + b)
                    val pv =
                      if (sx >= 0 && sx < width && sy >= 0 && sy < height)
                        prev((sy * width + sx) * bpp + b)
                      else 0.toByte
                    resid.write(cv ^ pv)
                    b += 1
                  }
                  c += 1
                }
                r += 1
              }
            }
            blk += 1; bx += 1
          }
          by += 1
        }
        val body = new java.io.ByteArrayOutputStream()
        if (palDelta) {
          var i = 0
          while (i < 768) { body.write(pal(i) ^ prevPal(i)); i += 1 }
        }
        body.write(mv)
        body.write(resid.toByteArray)
        val payload = new java.io.ByteArrayOutputStream()
        payload.write(if (palDelta) 2 else 0) // flags: inter (+ palette delta)
        payload.write(if (compress) deflateSeg(body.toByteArray) else body.toByteArray)
        out += payload.toByteArray
      }
      prev = px
      prevPal = pal
    }

    out.result()
  }

  /** Convenience: encode frames and wrap them in a ZMBV-tagged AVI. */
  def encodeAvi(width: Int, height: Int, format: Int,
      frames: Seq[(Array[Byte], Array[Byte])],
      keyEvery: Int = Int.MaxValue, search: Int = 8): Array[Byte] =
    AviCodec.synthesize(encode(width, height, format, frames, keyEvery, search),
      "ZMBV", width, height)
}
