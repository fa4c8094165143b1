package perfbench

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Path}
import javax.imageio.ImageIO

import graft.images.{Detection, ImageOps}
import org.apache.spark.sql.SparkSession

/** The landmark image tree: rendering from the seeded manifest, and the
  * driver-side recomputation that checks a pipeline run's outputs.
  */
object Landmarks {

  /** One manifest row (written by gen.py): id;landmark;format;w;h;seed. */
  final case class Entry(id: String, landmark: Int, format: String, w: Int, h: Int, seed: Long) {
    def relPath: String = s"${id(0)}/${id(1)}/${id(2)}/$id.$format"
  }

  def manifest(dir: Path): Seq[Entry] =
    Files.readAllLines(dir.resolve("manifest.csv")).toArray.toSeq.map(_.toString)
      .filter(_.nonEmpty).map { l =>
        val f = l.split(';')
        Entry(f(0), f(1).toInt, f(2), f(3).toInt, f(4).toInt, f(5).toLong)
      }

  /** Textured content: a few coloured regions under a sine texture and
    * noise, so k-means has several real clusters to separate.
    */
  def render(e: Entry): BufferedImage = {
    val rnd = new java.util.Random(e.seed)
    val nColors = 3 + rnd.nextInt(3)
    val palette = Array.fill(nColors)((rnd.nextInt(256), rnd.nextInt(256), rnd.nextInt(256)))
    val cx = Array.fill(nColors)(rnd.nextInt(e.w))
    val cy = Array.fill(nColors)(rnd.nextInt(e.h))
    val fx = 0.02 + rnd.nextDouble() * 0.1
    val fy = 0.02 + rnd.nextDouble() * 0.1
    val img = new BufferedImage(e.w, e.h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < e.h) {
      var x = 0
      while (x < e.w) {
        var best = 0
        var bd = Long.MaxValue
        var k = 0
        while (k < nColors) {
          val dx = (x - cx(k)).toLong
          val dy = (y - cy(k)).toLong
          val d = dx * dx + dy * dy
          if (d < bd) { bd = d; best = k }
          k += 1
        }
        val t = (24 * math.sin(x * fx) * math.cos(y * fy)).toInt + rnd.nextInt(17) - 8
        def c(v: Int) = math.min(255, math.max(0, v + t))
        val (r, g, b) = palette(best)
        img.setRGB(x, y, (c(r) << 16) | (c(g) << 8) | c(b))
        x += 1
      }
      y += 1
    }
    img
  }

  /** Render the tree under `root/images` unless a finished copy is there. */
  def ensureTree(inputs: Path, entries: Seq[Entry]): Path = {
    val root = inputs.resolve("images")
    val done = inputs.resolve("images.done")
    if (!Files.exists(done)) {
      entries.foreach { e =>
        val p = root.resolve(e.relPath)
        Files.createDirectories(p.getParent)
        val bos = new ByteArrayOutputStream()
        if (e.format == "png") ImageIO.write(render(e), "png", bos)
        else {
          val writer = ImageIO.getImageWritersByFormatName("jpeg").next()
          val param = writer.getDefaultWriteParam
          param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
          param.setCompressionQuality(0.85f)
          val ios = ImageIO.createImageOutputStream(bos)
          writer.setOutput(ios)
          writer.write(null, new javax.imageio.IIOImage(render(e), null, null), param)
          ios.close()
          writer.dispose()
        }
        Files.write(p, bos.toByteArray)
      }
      Files.writeString(done, "")
    }
    root
  }

  def treeBytes(root: Path, entries: Seq[Entry]): Long =
    entries.map(e => Files.size(root.resolve(e.relPath))).sum

  /** Recompute colours and class histograms of `sample` on the driver and
    * compare them with a pipeline run's `colors/` and `predictions/`.
    * ImageIO decodes every sampled image as the independent reference for
    * the engine's own decoder. Returns one message per mismatch.
    */
  def check(spark: SparkSession, root: Path, sample: Seq[Entry], outDir: String): Seq[String] = {
    val colors = spark.read.parquet(s"$outDir/colors").collect().map { r =>
      r.getString(0) -> (r.getSeq[Int](1), r.getSeq[Int](2), r.getInt(3))
    }.toMap
    val preds = spark.read.parquet(s"$outDir/predictions").collect().map { r =>
      r.getString(0) -> r.getMap[Int, Long](1).toMap
    }.toMap
    val stub = new Detection.StubDetector
    sample.flatMap { e =>
      val bytes = Files.readAllBytes(root.resolve(e.relPath))
      (ImageOps.decode(bytes), ImageOps.decodeImageIO(bytes)) match {
        case (Some(mine), Some(ref)) =>
          val diff = mine.pixels.indices.iterator.map { i =>
            val a = mine.pixels(i); val b = ref.pixels(i)
            math.abs(((a >> 16) & 255) - ((b >> 16) & 255)) +
              math.abs(((a >> 8) & 255) - ((b >> 8) & 255)) + math.abs((a & 255) - (b & 255))
          }.sum.toDouble / (3.0 * mine.pixels.length)
          val limit = if (e.format == "png") 0.0 else 2.0
          val avg = ImageOps.averageColor(mine)
          val dom = ImageOps.dominantColor(mine)
          val want = (Seq(avg._1, avg._2, avg._3), Seq(dom._1, dom._2, dom._3),
            ImageOps.closestPrimary(dom, ImageOps.Primaries))
          val hist = Detection.classHistogram(
            Detection.nms(stub.detect(Detection.letterboxImage(mine))))
          Seq(
            if (mine.width != ref.width || mine.height != ref.height) Some(s"${e.id}: size differs from ImageIO") else None,
            if (diff > limit) Some(f"${e.id}: mean pixel difference $diff%.2f from ImageIO") else None,
            if (!colors.get(e.id).contains(want)) Some(s"${e.id}: colors ${colors.get(e.id)} != $want") else None,
            if (!preds.get(e.id).contains(hist)) Some(s"${e.id}: predictions ${preds.get(e.id)} != $hist") else None
          ).flatten
        case _ => Seq(s"${e.id}: does not decode")
      }
    }
  }
}
