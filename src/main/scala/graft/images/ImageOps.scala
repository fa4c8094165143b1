package graft.images


import java.io.ByteArrayInputStream
import javax.imageio.ImageIO

/** Per-image pure functions: decode, average color, area resize, seeded
  * k-means dominant color (SURVEY §2.7 M1–M4).
  *
  * Pure JVM (`javax.imageio`) — no native deps — and deterministic: the
  * reference's k-means used `KMEANS_RANDOM_CENTERS` (`pyspark_dominant.py:46`)
  * making dominant colors run-dependent; we seed instead (SURVEY §7 risk
  * list). Pixels are RGB triples (the reference's "HSV" decode flag was a
  * misused constant and actually produced plain BGR — SURVEY §2.7 M1 note;
  * we implement the intended semantics and document the divergence).
  */
object ImageOps {

  /** Decoded image: packed RGB pixels, row-major. */
  final case class Image(width: Int, height: Int, pixels: Array[Int]) {
    def rgb(i: Int): (Int, Int, Int) =
      ((pixels(i) >> 16) & 0xFF, (pixels(i) >> 8) & 0xFF, pixels(i) & 0xFF)
  }

  /** M1 — decode image bytes (reference: `cv2.imdecode`,
    * `pyspark_dominant.py:35`). Returns None on undecodable bytes rather
    * than throwing — corrupt files are data, not crashes, at 100 TB.
    *
    * Every format decodes through the engine's own from-spec codecs,
    * tried in this order: PNG via [[graft.multimodal.PngCodec]] (its
    * zlib layer and CRCs are the JDK's `java.util.zip`), GIF (first
    * frame) via [[graft.multimodal.GifCodec]], BMP via
    * [[graft.multimodal.BmpCodec]], baseline JPEG via
    * [[graft.multimodal.JpegCodec]], TIFF via
    * [[graft.multimodal.TiffCodec]], lossless WebP via
    * [[graft.multimodal.WebpCodec]] and QOI via
    * [[graft.multimodal.QoiCodec]] (the first four differentially
    * proven against ImageIO pixel-for-pixel — PngCodecSpec / GifCodecSpec /
    * BmpCodecSpec / JpegCodecSpec, the JPEG one BIT-identical through
    * the shared islow/fancy-upsample fixed-point formulation, baseline
    * and progressive alike; 16-bit PNG and RLE8 BMP decode from spec
    * too). ImageIO remains only for the documented exotic residue:
    * 12-bit/arithmetic/lossless JPEG, BI_BITFIELDS/RLE4 and
    * 1/4/16-bit BMP.
    */
  def decode(bytes: Array[Byte]): Option[Image] =
    graft.multimodal.PngCodec.decode(bytes)
      .orElse(graft.multimodal.GifCodec.decodeFirst(bytes))
      .orElse(graft.multimodal.BmpCodec.decode(bytes))
      .orElse(graft.multimodal.JpegCodec.decode(bytes))
      .orElse(graft.multimodal.TiffCodec.decode(bytes))
      .orElse(graft.multimodal.WebpCodec.decode(bytes)
        .map(graft.multimodal.WebpCodec.toImage))
      .orElse(graft.multimodal.QoiCodec.decode(bytes)
        .map(graft.multimodal.QoiCodec.toImage))
      .orElse(decodeImageIO(bytes))

  /** The library path: ImageIO for JPEG/BMP/GIF and PNG shapes outside
    * the from-spec decoder's subset. Kept separate so the differential
    * spec can compare the two PNG paths directly.
    */
  def decodeImageIO(bytes: Array[Byte]): Option[Image] =
    try {
      Option(ImageIO.read(new ByteArrayInputStream(bytes))).map { img =>
        val w = img.getWidth
        val h = img.getHeight
        // getRGB returns ARGB — mask alpha so pixels are pure packed RGB
        Image(w, h, img.getRGB(0, 0, w, h, null, 0, w).map(_ & 0xFFFFFF))
      }
    } catch { case _: Exception => None }

  /** Header-only image dimensions: PNG IHDR, JPEG SOFn marker walk, GIF
    * logical screen descriptor, BMP info header — parsed from the first
    * bytes of the payload, NO pixel decode. The metadata pass of a corpus
    * scan reads tens of bytes per asset instead of decompressing every
    * image; at 100 TB that is the difference between a cheap stats job and
    * a full decode of the corpus. Returns (width, height, format); None
    * for unrecognized/truncated payloads (corrupt files are data).
    */
  def imageDims(bytes: Array[Byte]): Option[(Int, Int, String)] = {
    def u8(i: Int) = bytes(i) & 0xff
    def be16(i: Int) = (u8(i) << 8) | u8(i + 1)
    def be32(i: Int) = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int) = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    if (bytes.length >= 24 && be32(0) == 0x89504e47)
      Some((be32(16), be32(20), "png"))
    else if (bytes.length >= 4 && u8(0) == 0xff && u8(1) == 0xd8) {
      // walk JPEG segments to the first frame header (SOF0..15 minus the
      // non-frame DHT/JPG/DAC codes); dims sit at offsets +5 (h), +7 (w)
      var i = 2
      while (i + 9 < bytes.length) {
        if (u8(i) != 0xff) return None
        val m = u8(i + 1)
        if (m == 0xd8 || (m >= 0xd0 && m <= 0xd7) || m == 0x01) i += 2
        else {
          val len = be16(i + 2)
          if (len < 2) return None
          if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc)
            return Some((be16(i + 7), be16(i + 5), "jpeg"))
          i += 2 + len
        }
      }
      None
    } else if (bytes.length >= 10 && u8(0) == 'G' && u8(1) == 'I' && u8(2) == 'F')
      Some((le16(6), le16(8), "gif"))
    else if (bytes.length >= 26 && u8(0) == 'B' && u8(1) == 'M')
      Some((le32(18), math.abs(le32(22)), "bmp")) // negative height = top-down
    else if (bytes.length >= 30 && u8(0) == 'R' && u8(1) == 'I' &&
      u8(2) == 'F' && u8(3) == 'F' && u8(8) == 'W' && u8(9) == 'E' &&
      u8(10) == 'B' && u8(11) == 'P') {
      // WebP (RFC 9649): VP8L lossless 14-bit dims after the 0x2F
      // signature; VP8X extended 24-bit canvas dims; lossy VP8 keyframe
      // dims after the 0x9d012a start code
      val tag = new String(bytes.slice(12, 16), "ISO-8859-1")
      if (tag == "VP8L" && u8(20) == 0x2F) {
        val v = le32(21)
        Some(((v & 0x3FFF) + 1, ((v >> 14) & 0x3FFF) + 1, "webp"))
      } else if (tag == "VP8X") {
        val w = u8(24) | (u8(25) << 8) | (u8(26) << 16)
        val h = u8(27) | (u8(28) << 8) | (u8(29) << 16)
        Some((w + 1, h + 1, "webp"))
      } else if (tag == "VP8 " &&
        u8(23) == 0x9d && u8(24) == 0x01 && u8(25) == 0x2a)
        Some((le16(26) & 0x3FFF, le16(28) & 0x3FFF, "webp"))
      else None
    } else None
  }

  /** M2 — per-channel mean truncated to int (reference truncates too:
    * `[int(c) for c in avg]`, `pyspark_dominant.py:50`).
    */
  def averageColor(img: Image): (Int, Int, Int) = {
    val (r, g, b) = channelSums(img.pixels)
    val n = math.max(img.pixels.length, 1)
    ((r / n).toInt, (g / n).toInt, (b / n).toInt)
  }

  /** Exact per-channel sums (r, g, b) of packed 0xRRGGBB pixels; the top
    * byte (alpha) is ignored. The integer reduction the codec scans
    * report and [[averageColor]] divides.
    */
  def channelSums(pixels: Array[Int]): (Long, Long, Long) = {
    var sr = 0L; var sg = 0L; var sb = 0L
    var i = 0
    while (i < pixels.length) {
      val p = pixels(i)
      sr += (p >> 16) & 0xFF; sg += (p >> 8) & 0xFF; sb += p & 0xFF
      i += 1
    }
    (sr, sg, sb)
  }

  /** [[channelSums]] of a w×h frame read through an (x, y) → (r, g, b)
    * accessor with 8-bit channels (the decoded video frames).
    */
  def channelSums(w: Int, h: Int,
      rgb: (Int, Int) => (Int, Int, Int)): (Long, Long, Long) =
    channelSums(Array.tabulate(w * h) { o =>
      val (r, g, b) = rgb(o % w, o / w)
      (r << 16) | (g << 8) | b
    })

  /** 64-bit average-hash perceptual fingerprint (the classic aHash the
    * image-dedup literature builds on): partition the image into an 8×8
    * grid — pixel (x, y) belongs to cell (8y div h, 8x div w) — and set
    * bit k = 8·row + col iff the cell's mean luma exceeds the global
    * mean. Everything is INTEGER-EXACT: luma = 299·R + 587·G + 114·B
    * (unscaled — comparisons are scale-invariant) and the mean compare
    * is cross-multiplied (cellSum·totalN > totalSum·cellN), so no
    * division, no float, and a SQL oracle can replay every bit. Images
    * smaller than 8×8 collapse cells (empty cells contribute 0 bits);
    * near-duplicate images differ in few bits (Hamming distance), which
    * is what the banded near-dup join keys on.
    */
  def aHash64(img: Image): Long = {
    val w = img.width; val h = img.height
    val sums = new Array[Long](64)
    val counts = new Array[Long](64)
    var total = 0L
    var y = 0
    while (y < h) {
      val row = 8 * y / h
      var x = 0
      while (x < w) {
        val p = img.pixels(y * w + x)
        val luma = 299L * ((p >> 16) & 0xFF) + 587L * ((p >> 8) & 0xFF) + 114L * (p & 0xFF)
        val k = 8 * row + 8 * x / w
        sums(k) += luma
        counts(k) += 1
        total += luma
        x += 1
      }
      y += 1
    }
    val n = w.toLong * h
    var hash = 0L
    var k = 0
    while (k < 64) {
      if (counts(k) > 0 && sums(k) * n > total * counts(k)) hash |= 1L << k
      k += 1
    }
    hash
  }

  /** M3 — area (box-filter) resize, the semantics of `cv2.INTER_AREA`
    * (`pyspark_dominant.py:39`): each target pixel averages its source box.
    */
  def resizeArea(img: Image, tw: Int, th: Int): Image = {
    val out = new Array[Int](tw * th)
    var ty = 0
    while (ty < th) {
      val y0 = ty * img.height / th
      val y1 = math.max((ty + 1) * img.height / th, y0 + 1)
      var tx = 0
      while (tx < tw) {
        val x0 = tx * img.width / tw
        val x1 = math.max((tx + 1) * img.width / tw, x0 + 1)
        var r = 0L; var g = 0L; var b = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val p = img.pixels(y * img.width + x)
            r += (p >> 16) & 0xFF; g += (p >> 8) & 0xFF; b += p & 0xFF
            x += 1
          }
          y += 1
        }
        val n = (y1 - y0) * (x1 - x0)
        out(ty * tw + tx) =
          (((r / n).toInt & 0xFF) << 16) | (((g / n).toInt & 0xFF) << 8) | ((b / n).toInt & 0xFF)
        tx += 1
      }
      ty += 1
    }
    Image(tw, th, out)
  }

  /** Bilinear resize, the semantics of `cv2.INTER_LINEAR` — the
    * interpolation the reference's detector preproc uses
    * (`yolox.zip!yolox/data/data_augment.py:149-153`), distinct from the
    * area filter of [[resizeArea]] (M3, the color pipeline's
    * `INTER_AREA`). Source sampling uses the half-pixel-center mapping
    * `src = (dst + 0.5) * scale - 0.5` with edge clamp (border replicate),
    * per-channel weights rounded to nearest — matching OpenCV's fixed-point
    * bilinear to within its rounding.
    */
  def resizeBilinear(img: Image, tw: Int, th: Int): Image = {
    val out = new Array[Int](tw * th)
    val sx = img.width.toDouble / tw
    val sy = img.height.toDouble / th
    var ty = 0
    while (ty < th) {
      val yc = math.max(0.0, math.min(img.height - 1.0, (ty + 0.5) * sy - 0.5))
      val y0 = yc.toInt
      val y1 = math.min(y0 + 1, img.height - 1)
      val wy = yc - y0
      var tx = 0
      while (tx < tw) {
        val xc = math.max(0.0, math.min(img.width - 1.0, (tx + 0.5) * sx - 0.5))
        val x0 = xc.toInt
        val x1 = math.min(x0 + 1, img.width - 1)
        val wx = xc - x0
        val p00 = img.pixels(y0 * img.width + x0)
        val p01 = img.pixels(y0 * img.width + x1)
        val p10 = img.pixels(y1 * img.width + x0)
        val p11 = img.pixels(y1 * img.width + x1)
        def ch(shift: Int): Int = {
          val c00 = (p00 >> shift) & 0xFF; val c01 = (p01 >> shift) & 0xFF
          val c10 = (p10 >> shift) & 0xFF; val c11 = (p11 >> shift) & 0xFF
          val top = c00 + (c01 - c00) * wx
          val bot = c10 + (c11 - c10) * wx
          math.round(top + (bot - top) * wy).toInt
        }
        out(ty * tw + tx) = (ch(16) << 16) | (ch(8) << 8) | ch(0)
        tx += 1
      }
      ty += 1
    }
    Image(tw, th, out)
  }

  /** M4 — dominant color: k-means (k=4, deterministic Lloyd's) over the
    * 128×128 area-resized pixels, dominant = centroid of the biggest cluster
    * (reference: `cv2.kmeans` + `palette[argmax(counts)]`,
    * `pyspark_dominant.py:39-48`). The reference's `KMEANS_RANDOM_CENTERS`
    * made results run-dependent (SURVEY §7 risk list); here centers are
    * initialized at the k most frequent distinct colors (count desc, value
    * asc) — fully deterministic, and random-pixel init collapses clusters on
    * low-cardinality images anyway.
    */
  def dominantColor(img: Image, k: Int = 4, iters: Int = 20): (Int, Int, Int) = {
    val small = if (img.width * img.height > 128 * 128) resizeArea(img, 128, 128) else img
    val n = small.pixels.length
    val px = new Array[Float](n * 3)
    var i = 0
    while (i < n) {
      val p = small.pixels(i)
      px(i * 3) = ((p >> 16) & 0xFF).toFloat
      px(i * 3 + 1) = ((p >> 8) & 0xFF).toFloat
      px(i * 3 + 2) = (p & 0xFF).toFloat
      i += 1
    }
    val topColors = small.pixels.groupBy(identity).view
      .map { case (c, arr) => (c, arr.length) }.toSeq
      .sortBy { case (c, cnt) => (-cnt, c) }
      .take(math.min(k, n)).map(_._1)
    val kk = topColors.length
    val cent = topColors.map(c => Array(
      ((c >> 16) & 0xFF).toFloat, ((c >> 8) & 0xFF).toFloat, (c & 0xFF).toFloat)).toArray
    val assign = new Array[Int](n)
    var it = 0
    while (it < iters) {
      var changed = false
      i = 0
      while (i < n) {
        var best = 0; var bestD = Float.MaxValue
        var c = 0
        while (c < kk) {
          val dr = px(i * 3) - cent(c)(0)
          val dg = px(i * 3 + 1) - cent(c)(1)
          val db = px(i * 3 + 2) - cent(c)(2)
          val d = dr * dr + dg * dg + db * db
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        if (assign(i) != best) { assign(i) = best; changed = true }
        i += 1
      }
      val sums = Array.ofDim[Double](kk, 3)
      val cnt = new Array[Int](kk)
      i = 0
      while (i < n) {
        val a = assign(i)
        sums(a)(0) += px(i * 3); sums(a)(1) += px(i * 3 + 1); sums(a)(2) += px(i * 3 + 2)
        cnt(a) += 1
        i += 1
      }
      var c = 0
      while (c < kk) {
        if (cnt(c) > 0) {
          cent(c)(0) = (sums(c)(0) / cnt(c)).toFloat
          cent(c)(1) = (sums(c)(1) / cnt(c)).toFloat
          cent(c)(2) = (sums(c)(2) / cnt(c)).toFloat
        }
        c += 1
      }
      if (!changed) it = iters else it += 1
    }
    val cnt = new Array[Int](kk)
    i = 0
    while (i < n) { cnt(assign(i)) += 1; i += 1 }
    var best = 0
    var c = 1
    while (c < kk) { if (cnt(c) > cnt(best)) best = c; c += 1 }
    (cent(best)(0).round, cent(best)(1).round, cent(best)(2).round)
  }

  /** F8 — Euclidean distance in color space (`pyspark_dominant.py:107-108`). */
  def colorDistance(a: (Int, Int, Int), b: (Int, Int, Int)): Double =
    math.sqrt(
      (a._1 - b._1).toDouble * (a._1 - b._1) +
        (a._2 - b._2).toDouble * (a._2 - b._2) +
        (a._3 - b._3).toDouble * (a._3 - b._3))

  /** O1 — index of the nearest primary color (first minimum wins, matching
    * `dist.index(min(dist))`, `pyspark_dominant.py:114-117`).
    */
  def closestPrimary(c: (Int, Int, Int), primaries: IndexedSeq[(Int, Int, Int)]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var i = 0
    while (i < primaries.length) {
      val d = colorDistance(c, primaries(i))
      if (d < bestD) { bestD = d; best = i }
      i += 1
    }
    best
  }

  /** The reference's six primary colors (`pyspark_dominant.py:96-103`):
    * it lists them as HSV hues at full saturation/value (red, green, blue,
    * cyan, yellow, magenta) — here as their RGB equivalents, since our
    * decode is genuinely RGB (the reference's "HSV" was the misused-flag
    * bug, SURVEY §2.7 M1).
    */
  val Primaries: IndexedSeq[(Int, Int, Int)] = IndexedSeq(
    (255, 0, 0), (0, 255, 0), (0, 0, 255),
    (0, 255, 255), (255, 255, 0), (255, 0, 255))

  /** Encode packed-RGB pixels to PNG bytes — the engine's own
    * deterministic writer ([[graft.multimodal.PngCodec.encode]]: RGB8,
    * the engine's own zlib encoder, JDK CRC-32), so fixture trees are
    * byte-reproducible across JVMs.
    */
  def encodePng(img: Image): Array[Byte] = graft.multimodal.PngCodec.encode(img)
}
