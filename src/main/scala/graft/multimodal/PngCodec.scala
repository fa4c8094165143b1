package graft.multimodal

import graft.images.ImageOps.Image

/** Pure-JVM PNG decoder implemented from the PUBLIC specification (W3C
  * PNG / RFC 2083): signature check, chunk walk with CRC-32 verified on
  * every chunk (`java.util.zip.CRC32`), IHDR validation, multi-IDAT
  * zlib stream decompressed by [[InflateCodec]] (`java.util.zip.Inflater`
  * behind the exact-size contract), per-scanline unfiltering
  * (None/Sub/Up/Average/Paeth with the spec's exact predictor), sub-byte
  * sample unpacking, and color-type mapping to packed RGB. This makes
  * the engine's PRIMARY image format engine-owned above the zlib layer,
  * the way QOI is ([[QoiCodec]]) — including Adam7 interlace, decoded
  * pass-by-pass per §8.2, and 16-bit sample depth. Every conforming PNG shape decodes here; nothing falls back.
  *
  * Coverage: color types 0 (gray), 2 (RGB), 3 (palette), 4 (gray+alpha),
  * 6 (RGBA); bit depths 1/2/4/8 for types 0 and 3, depth 8 or 16 for
  * 0/2/4/6 (16-bit samples reduce to their HIGH byte — floor(v/256),
  * the cv2-style reduction; a second documented divergence from
  * ImageIO's colorspace-converted getRGB, pinned by hand-assembled
  * streams the same way the gray gamma case is).
  * Alpha is decoded and DROPPED — [[graft.images.ImageOps.decode]]
  * returns pure packed RGB (it masks ImageIO's ARGB the same way), so
  * the two paths are differentially comparable pixel-for-pixel
  * (PngCodecSpec proves equality on random round-trips and
  * hand-assembled per-filter streams). One DOCUMENTED divergence:
  * grayscale samples map to neutral RGB directly (g, g, g — the
  * cv2.imdecode semantics the reference uses), whereas ImageIO loads
  * gray PNGs into a LINEAR-gray colorspace and gamma-converts on
  * getRGB; raw-sample identity is the contract here, pinned by the
  * spec's hand-assembled gray streams. Everything is bounds-checked;
  * the decoder is TOTAL on arbitrary bytes — same contract as every
  * codec here.
  */
object PngCodec {

  private final class Malformed extends RuntimeException
  private def fail(): Nothing = throw new Malformed

  private val Signature =
    Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)

  def decode(bytes: Array[Byte]): Option[Image] =
    try Some(decodeOrThrow(bytes))
    catch {
      case _: Malformed | _: ArrayIndexOutOfBoundsException |
          _: java.util.zip.DataFormatException | _: NegativeArraySizeException |
          _: OutOfMemoryError => None
    }

  /** Deterministic PNG writer (fixture/production tier): 8-bit RGB
    * (color type 2), filter None on every row, one IDAT holding the
    * engine's own zlib stream ([[DeflateCodec]]), chunk CRCs from
    * `java.util.zip.CRC32`. Every byte is a pure function of the
    * pixels, so fixture trees are pinnable by `read_blob` byte identity.
    */
  def encode(img: Image): Array[Byte] = {
    val w = img.width; val h = img.height
    require(w > 0 && h > 0, "empty image")
    val raw = new Array[Byte](h * (1 + 3 * w))
    var y = 0
    while (y < h) {
      val base = y * (1 + 3 * w) + 1 // filter byte 0 already zero
      var x = 0
      while (x < w) {
        val p = img.pixels(y * w + x)
        raw(base + 3 * x) = ((p >> 16) & 0xFF).toByte
        raw(base + 3 * x + 1) = ((p >> 8) & 0xFF).toByte
        raw(base + 3 * x + 2) = (p & 0xFF).toByte
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream(64 + raw.length / 2)
    def be32(v: Int): Unit = {
      out.write((v >>> 24) & 0xFF); out.write((v >>> 16) & 0xFF)
      out.write((v >>> 8) & 0xFF); out.write(v & 0xFF)
    }
    def chunk(typ: String, data: Array[Byte]): Unit = {
      be32(data.length)
      val t = typ.getBytes("US-ASCII")
      out.write(t)
      out.write(data)
      val crc = new java.util.zip.CRC32
      crc.update(t); crc.update(data)
      be32(crc.getValue.toInt)
    }
    out.write(Signature)
    chunk("IHDR", Array[Byte](
      (w >>> 24).toByte, (w >>> 16).toByte, (w >>> 8).toByte, w.toByte,
      (h >>> 24).toByte, (h >>> 16).toByte, (h >>> 8).toByte, h.toByte,
      8, 2, 0, 0, 0))
    chunk("IDAT", DeflateCodec.zlib(raw))
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  private def be32(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xFF) << 24) | ((b(i + 1) & 0xFF) << 16) |
      ((b(i + 2) & 0xFF) << 8) | (b(i + 3) & 0xFF)

  private def decodeOrThrow(b: Array[Byte]): Image = {
    if (b.length < 8) fail()
    var i = 0
    while (i < 8) { if (b(i) != Signature(i)) fail(); i += 1 }

    var w = 0; var h = 0; var depth = 0; var colorType = -1
    var interlaced = false
    var plte: Array[Byte] = null
    val idat = new java.io.ByteArrayOutputStream()
    var pos = 8
    var seenIhdr = false
    var seenIend = false
    val crc = new java.util.zip.CRC32

    while (!seenIend) {
      if (pos + 8 > b.length) fail()
      val len = be32(b, pos)
      if (len < 0 || pos + 12 + len.toLong > b.length) fail()
      val typ = new String(b, pos + 4, 4, "US-ASCII")
      crc.reset(); crc.update(b, pos + 4, 4 + len)
      if (crc.getValue.toInt != be32(b, pos + 8 + len)) fail()
      typ match {
        case "IHDR" =>
          if (seenIhdr || len != 13) fail()
          seenIhdr = true
          w = be32(b, pos + 8)
          h = be32(b, pos + 12)
          depth = b(pos + 16) & 0xFF
          colorType = b(pos + 17) & 0xFF
          val compression = b(pos + 18) & 0xFF
          val filterMethod = b(pos + 19) & 0xFF
          val interlace = b(pos + 20) & 0xFF
          if (w <= 0 || h <= 0 || compression != 0 || filterMethod != 0) fail()
          if (interlace > 1) fail()
          interlaced = interlace == 1 // Adam7: decoded pass-by-pass below
          val ok = colorType match {
            case 3 => Seq(1, 2, 4, 8).contains(depth)
            case 0 => Seq(1, 2, 4, 8, 16).contains(depth)
            case 2 | 4 | 6 => depth == 8 || depth == 16
            case _ => false
          }
          if (!ok) fail() // exotic combos: documented subset
          if (w.toLong * h > 100000000L) fail() // 100 MP bound, same spirit as decode-at-scale
        case "PLTE" =>
          if (!seenIhdr || len % 3 != 0 || len > 768) fail()
          plte = java.util.Arrays.copyOfRange(b, pos + 8, pos + 8 + len)
        case "IDAT" =>
          if (!seenIhdr) fail()
          idat.write(b, pos + 8, len)
        case "IEND" =>
          if (len != 0) fail()
          seenIend = true
        case _ => () // ancillary chunks (tRNS/gAMA/...) — alpha is dropped anyway
      }
      pos += 12 + len
    }
    if (!seenIhdr) fail()
    if (colorType == 3 && plte == null) fail()

    val channels = colorType match {
      case 0 | 3 => 1
      case 2 => 3
      case 4 => 2
      case 6 => 4
    }
    val bpp = math.max(1, channels * depth / 8)
    // Adam7 pass geometry (§8.2); non-interlaced = one full pass
    val passes =
      if (!interlaced) Seq((0, 0, 1, 1))
      else Seq((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
    def passDims(p: (Int, Int, Int, Int)): (Int, Int) = {
      val (x0, y0, dx, dy) = p
      (if (w > x0) (w - x0 + dx - 1) / dx else 0,
        if (h > y0) (h - y0 + dy - 1) / dy else 0)
    }
    def rowBytesFor(wp: Int): Int = ((wp.toLong * channels * depth + 7) / 8).toInt
    val rawLen = passes.map { p =>
      val (wp, hp) = passDims(p)
      if (wp == 0 || hp == 0) 0L else hp.toLong * (1 + rowBytesFor(wp))
    }.sum
    if (rawLen > Int.MaxValue - 8 || rawLen == 0) fail()
    val raw = InflateCodec.zlib(idat.toByteArray, rawLen.toInt).getOrElse(fail())

    // unfilter pass by pass (spec §6: filters operate on bytes; each
    // pass filters against its OWN previous scanline)
    val pixels = new Array[Int](w * h)
    var off = 0
    passes.foreach { case pass @ (x0, y0, dx, dy) =>
      val (wp, hp) = passDims(pass)
      if (wp > 0 && hp > 0) {
        val rowBytes = rowBytesFor(wp)
        val prev = new Array[Byte](rowBytes)
        val cur = new Array[Byte](rowBytes)
        java.util.Arrays.fill(prev, 0.toByte)
        var j = 0
        while (j < hp) {
          val filter = raw(off) & 0xFF
          System.arraycopy(raw, off + 1, cur, 0, rowBytes)
          off += 1 + rowBytes
          filter match {
            case 0 => ()
            case 1 => // Sub
              var x = bpp
              while (x < rowBytes) { cur(x) = (cur(x) + cur(x - bpp)).toByte; x += 1 }
            case 2 => // Up
              var x = 0
              while (x < rowBytes) { cur(x) = (cur(x) + prev(x)).toByte; x += 1 }
            case 3 => // Average
              var x = 0
              while (x < rowBytes) {
                val a = if (x >= bpp) cur(x - bpp) & 0xFF else 0
                cur(x) = (cur(x) + ((a + (prev(x) & 0xFF)) >> 1)).toByte
                x += 1
              }
            case 4 => // Paeth
              var x = 0
              while (x < rowBytes) {
                val a = if (x >= bpp) cur(x - bpp) & 0xFF else 0
                val up = prev(x) & 0xFF
                val c = if (x >= bpp) prevAt(prev, x - bpp) else 0
                cur(x) = (cur(x) + paeth(a, up, c)).toByte
                x += 1
              }
            case _ => fail()
          }
          emitRow(cur, y0 + j * dy, wp, x0, dx, w, depth, colorType, channels, plte, pixels)
          System.arraycopy(cur, 0, prev, 0, rowBytes)
          j += 1
        }
      }
    }
    Image(w, h, pixels)
  }

  private def prevAt(prev: Array[Byte], i: Int): Int = prev(i) & 0xFF

  /** The spec's exact Paeth predictor (§6.6). */
  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Unpack one unfiltered PASS scanline (`wp` samples) into packed-RGB
    * pixels, scattered to columns x0 + i·dx of destination row `y`
    * (dx = 1, x0 = 0 for the non-interlaced single pass).
    */
  private def emitRow(row: Array[Byte], y: Int, wp: Int, x0: Int, dx: Int,
      w: Int, depth: Int, colorType: Int, channels: Int, plte: Array[Byte],
      pixels: Array[Int]): Unit = {
    val base = y * w
    def dest(i: Int): Int = base + x0 + i * dx
    if (depth == 16) {
      // 16-bit samples are big-endian; the packed-RGB contract reduces
      // them by HIGH BYTE (floor(v/256) — the cv2-style reduction).
      // Filters already operated at the byte level with the doubled bpp.
      val step = 2 * channels
      var x = 0
      while (x < wp) {
        val px = colorType match {
          case 2 | 6 =>
            ((row(step * x) & 0xFF) << 16) |
              ((row(step * x + 2) & 0xFF) << 8) | (row(step * x + 4) & 0xFF)
          case 0 | 4 =>
            val g = row(step * x) & 0xFF
            (g << 16) | (g << 8) | g
          case _ => fail()
        }
        pixels(dest(x)) = px
        x += 1
      }
      return
    }
    colorType match {
      case 2 => // RGB8
        var x = 0
        while (x < wp) {
          pixels(dest(x)) = ((row(3 * x) & 0xFF) << 16) |
            ((row(3 * x + 1) & 0xFF) << 8) | (row(3 * x + 2) & 0xFF)
          x += 1
        }
      case 6 => // RGBA8 — alpha dropped
        var x = 0
        while (x < wp) {
          pixels(dest(x)) = ((row(4 * x) & 0xFF) << 16) |
            ((row(4 * x + 1) & 0xFF) << 8) | (row(4 * x + 2) & 0xFF)
          x += 1
        }
      case 4 => // gray+alpha 8 — alpha dropped
        var x = 0
        while (x < wp) {
          val g = row(2 * x) & 0xFF
          pixels(dest(x)) = (g << 16) | (g << 8) | g
          x += 1
        }
      case 0 => // gray, depth 1/2/4/8, scaled to 0..255 per spec sample depth
        val maxV = (1 << depth) - 1
        var x = 0
        while (x < wp) {
          val s = sampleAt(row, x, depth)
          val g = s * 255 / maxV
          pixels(dest(x)) = (g << 16) | (g << 8) | g
          x += 1
        }
      case 3 => // palette, depth 1/2/4/8
        var x = 0
        while (x < wp) {
          val idx = sampleAt(row, x, depth)
          if (3 * idx + 2 >= plte.length) fail()
          pixels(dest(x)) = ((plte(3 * idx) & 0xFF) << 16) |
            ((plte(3 * idx + 1) & 0xFF) << 8) | (plte(3 * idx + 2) & 0xFF)
          x += 1
        }
      case _ => fail()
    }
  }

  /** Sample x of a packed sub-byte row (big-endian bit order, §7.2). */
  private def sampleAt(row: Array[Byte], x: Int, depth: Int): Int = depth match {
    case 8 => row(x) & 0xFF
    case 4 => (row(x / 2) >> (if (x % 2 == 0) 4 else 0)) & 0x0F
    case 2 => (row(x / 4) >> (2 * (3 - x % 4))) & 0x03
    case 1 => (row(x / 8) >> (7 - x % 8)) & 0x01
    case _ => fail()
  }

}
