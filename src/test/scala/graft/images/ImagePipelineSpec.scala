package graft.images

import graft.SparkSpec
import graft.sources.Sources
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** End-to-end pipeline over a synthetic 4-level-sharded image tree (the
  * reference's layout, FIXTURES.md B1): scan → analyze(stub detector) →
  * rollup → alphabet stat, and scan → analyze → color histograms.
  */
class ImagePipelineSpec extends SparkSpec {

  private lazy val tree: String = {
    val root = Files.createTempDirectory("graft_images").toString
    // ids img00..img11, sharded /a/b/c/<id>.png like the reference tree
    for (i <- 0 until 12) {
      val id = f"img$i%02d"
      val dir = Paths.get(root, s"${i % 2}", s"${i % 3}", s"${i % 4}")
      Files.createDirectories(dir)
      val color = if (i < 8) (255, 0, 0) else (0, 0, 255)
      val img = ImageOps.Image(40, 40,
        Array.fill(1600)((color._1 << 16) | (color._2 << 8) | color._3))
      Files.write(dir.resolve(s"$id.png"), ImageOps.encodePng(img))
    }
    // corrupt file: scanned but undecodable — must be skipped, not crash
    Files.write(Paths.get(root, "0", "corrupt.png"), Array[Byte](9, 9, 9, 9))
    root
  }

  test("scanImages: recursive glob + id extraction (S1/F1)") {
    val ds = ImagePipeline.scanImages(spark, tree, "*.png")
    assert(ds.count() == 13) // incl. the corrupt file
    val ids = ds.select("id").collect().map(_.getString(0)).sorted
    assert(ids.head == "corrupt" && ids.last == "img11")
  }

  test("color stats: histogram + all-6-primaries golden format") {
    val colors = ImagePipeline.analyze(
      ImagePipeline.scanImages(spark, tree, "*.png"), () => new Detection.StubDetector).toDF()
    val (dominant, primaries) = StatsPipeline.colorHistograms(colors)
    assert(dominant == Seq("[0, 0, 255]" -> 4L, "[255, 0, 0]" -> 8L))
    val csv = StatsPipeline.goldenCsv(primaries, ("primary_color", "count"))
    assert(csv ==
      "primary_color;count\n[255, 0, 0];8\n[0, 255, 0];0\n[0, 0, 255];4\n" +
        "[0, 255, 255];0\n[255, 255, 0];0\n[255, 0, 255];0\n")
  }

  test("detect → perLandmarkRollup → alphabetStat (stages 1/3/4)") {
    import spark.implicits._
    val images = ImagePipeline.scanImages(spark, tree, "*.png")
    val preds = ImagePipeline.analyze(images, () => new Detection.StubDetector)
      .select("id", "predictions")
    assert(preds.count() == 12)
    // red images (cls 2 via r=255 → 255/86=2) vs blue (cls 0)
    val labels = (0 until 12).map(i => (f"img$i%02d", if (i < 8) "L1" else "L2"))
      .toDF("id", "landmark_id")
    val rollup = ImagePipeline.perLandmarkRollup(preds, labels)
    val byLm = rollup.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLm == Map("L1" -> 8L, "L2" -> 4L))
    val names = Seq(("L1", "Alpha"), ("L2", "Beta")).toDF("landmark_id", "name")
    val files = StatsPipeline.goldenFiles(
      StatsPipeline.statTable(rollup, names, Seq(2)).collect().toSeq, Seq(2))
    // every red image yields one cls-2 box (g=0 → n=1), L1 only
    assert(files.contains(("alphabet_count", "2", "letter;count\nA;8\nB;0\n")))
  }

  test("colors stage: avg/dominant/closest-primary per image (stage 2)") {
    val images = ImagePipeline.scanImages(spark, tree, "*.png")
    val c = ImagePipeline.analyze(images, () => new Detection.StubDetector).collect()
    assert(c.length == 12)
    val red = c.find(_.id == "img00").get
    assert(red.predictions == Map(2 -> 1L)) // one stub box per image (stage 1)
    assert(red.averageColor == Seq(255, 0, 0))
    assert(red.dominantColor == Seq(255, 0, 0))
    assert(red.closestPrimary == 0)
    val blue = c.find(_.id == "img11").get
    assert(blue.closestPrimary == 2)
  }

  test("semicolon CSV round-trip keeps the reference dialect (S2/S3)") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_csv").toString + "/t"
    val df = Seq(("a", 1), ("b", 2)).toDF("id", "n")
    Sources.writeSemicolonCsv(df, out)
    val back = Sources.readSemicolonCsv(spark, out)
    assert(back.columns.toSeq == Seq("id", "n"))
    assert(back.count() == 2)
    // dialect check: raw file really is ;-separated with header
    val part = Files.list(Paths.get(out)).toArray.map(_.toString)
      .find(p => p.endsWith(".csv")).get
    val text = new String(Files.readAllBytes(Paths.get(part)))
    assert(text.startsWith("id;n"))
  }

  test("parquet checkpoint round-trips (I4)") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_ckpt").toString + "/p"
    val df = Seq((1L, "x"), (2L, "y")).toDF("k", "v")
    val back = Sources.checkpoint(df, out)
    assert(back.orderBy("k").collect().map(_.getString(1)).toSeq == Seq("x", "y"))
  }
}
