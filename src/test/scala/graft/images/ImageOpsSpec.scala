package graft.images

import org.scalatest.funsuite.AnyFunSuite
import ImageOps._

class ImageOpsSpec extends AnyFunSuite {

  private def solid(w: Int, h: Int, r: Int, g: Int, b: Int): Image =
    Image(w, h, Array.fill(w * h)((r << 16) | (g << 8) | b))

  /** Left half one color, right half another. */
  private def twoTone(w: Int, h: Int, left: Int, right: Int): Image =
    Image(w, h, Array.tabulate(w * h)(i => if (i % w < w / 2) left else right))

  test("decode inverts encodePng (M1)") {
    val img = solid(8, 6, 10, 200, 30)
    val decoded = decode(encodePng(img))
    assert(decoded.isDefined)
    assert(decoded.get.width == 8 && decoded.get.height == 6)
    assert(decoded.get.pixels.sameElements(img.pixels))
  }

  test("decode opens QOI bytes like QoiCodec itself") {
    import graft.multimodal.QoiCodec
    // plateaus, runs and a wrapping delta: every QOI op kind appears
    val px = Array.tabulate(20 * 14) { o =>
      val tx = (o % 20) / 5; val ty = (o / 20) / 3
      ((5 + 3 * tx + 7 * ty) % 256 << 16) | ((250 + 2 * tx) % 256 << 8) | ty
    }
    val bytes = QoiCodec.encode(20, 14, px)
    val want = QoiCodec.toImage(QoiCodec.decode(bytes).get)
    val got = decode(bytes)
    assert(got.isDefined, "decode refused QOI bytes")
    assert(got.get.width == want.width && got.get.height == want.height)
    assert(got.get.pixels.sameElements(want.pixels))
    assert(want.pixels.sameElements(px))
  }

  test("decode returns None on garbage bytes, not an exception") {
    assert(decode(Array[Byte](1, 2, 3, 4)).isEmpty)
    assert(decode(Array.emptyByteArray).isEmpty)
  }

  test("imageDims reads PNG/JPEG/GIF/BMP headers without pixel decode") {
    val img = new java.awt.image.BufferedImage(
      37, 23, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val cases = Seq("png" -> "png", "jpg" -> "jpeg", "gif" -> "gif", "bmp" -> "bmp")
    cases.foreach { case (writerFmt, expect) =>
      val baos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, writerFmt, baos),
        s"no JVM writer for $writerFmt")
      val dims = imageDims(baos.toByteArray)
      assert(dims.contains((37, 23, expect)), s"$writerFmt → $dims")
    }
    assert(imageDims(Array[Byte](1, 2, 3, 4)).isEmpty)
    assert(imageDims(Array.emptyByteArray).isEmpty)
    // truncated PNG header: signature present, IHDR cut off
    val png = { val b = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", b); b.toByteArray }
    assert(imageDims(png.take(20)).isEmpty)
  }

  test("averageColor of a solid image is exact (M2)") {
    assert(averageColor(solid(16, 16, 40, 120, 250)) == ((40, 120, 250)))
  }

  test("averageColor truncates like the reference (int(), not round)") {
    // half 0, half 255 → mean 127.5 → truncated 127 (pyspark_dominant.py:50)
    val img = twoTone(4, 2, 0x000000, 0xFFFFFF)
    assert(averageColor(img) == ((127, 127, 127)))
  }

  test("resizeArea of a solid image stays solid (M3)") {
    val out = resizeArea(solid(64, 64, 9, 8, 7), 16, 16)
    assert(out.width == 16 && out.height == 16)
    assert(out.pixels.forall(_ == ((9 << 16) | (8 << 8) | 7)))
  }

  test("resizeArea averages the source box") {
    // 2x1 black|white → 1x1 = 127 gray
    val out = resizeArea(twoTone(2, 1, 0x000000, 0xFFFFFF), 1, 1)
    assert(out.pixels(0) == ((127 << 16) | (127 << 8) | 127))
  }

  test("dominantColor finds the bigger cluster of a two-tone image (M4)") {
    // 3/4 red, 1/4 blue
    val px = Array.tabulate(16 * 16)(i => if (i < 192) 0xFF0000 else 0x0000FF)
    val dom = dominantColor(Image(16, 16, px))
    assert(dom == ((255, 0, 0)))
  }

  test("resizeBilinear matches hand-computed INTER_LINEAR values") {
    // 2×1 gradient [0, 100] upscaled ×2: src = (dst+0.5)*0.5-0.5 gives
    // fx = -0.25, 0.25, 0.75, 1.25 → clamp + lerp → 0, 25, 75, 100
    val g = Image(2, 1, Array(0x000000, 100 << 16 | 100 << 8 | 100))
    val up = resizeBilinear(g, 4, 1)
    assert(up.pixels.map(_ & 0xFF).toSeq == Seq(0, 25, 75, 100))

    // 2×2 checker downsampled to 1×1: center sample (0.5, 0.5) averages
    // all four corners — (200+0+0+100)/4 = 75 per hit channel
    val c = Image(2, 2, Array(200 << 16, 0, 0, 100 << 16))
    assert(resizeBilinear(c, 1, 1).pixels(0) == (75 << 16))

    // vertical interpolation too: 1×2 column [10, 30] → ×2 → 10,15,25,30
    val v = Image(1, 2, Array(10, 30))
    assert(resizeBilinear(v, 1, 4).pixels.map(_ & 0xFF).toSeq == Seq(10, 15, 25, 30))

    // identity when dims unchanged (fx lands exactly on source centers)
    val id = Image(3, 1, Array(1, 2, 3))
    assert(resizeBilinear(id, 3, 1).pixels.toSeq == Seq(1, 2, 3))
  }

  test("dominantColor is deterministic across calls (seeded)") {
    val img = Image(32, 32, Array.tabulate(32 * 32)(i => (i * 2654435761L).toInt & 0xFFFFFF))
    assert(dominantColor(img) == dominantColor(img))
  }

  test("closestPrimary picks first minimum (O1)") {
    assert(closestPrimary((250, 5, 5), Primaries) == 0)     // red
    assert(closestPrimary((10, 240, 230), Primaries) == 3)  // cyan
    assert(closestPrimary((250, 10, 245), Primaries) == 5)  // magenta
    // black is equidistant from red/green/blue → first minimum (red) wins
    assert(closestPrimary((0, 0, 0), Primaries) == 0)
  }

  test("colorDistance is a metric on exemplars (F8)") {
    assert(colorDistance((0, 0, 0), (255, 0, 0)) == 255.0)
    assert(colorDistance((1, 2, 3), (1, 2, 3)) == 0.0)
  }
}
