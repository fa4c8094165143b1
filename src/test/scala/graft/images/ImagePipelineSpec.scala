package graft.images

import graft.SparkSpec
import graft.sources.Sources
import org.apache.spark.sql.DataFrame
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

  /** The rollup as an explode, a per-(landmark, class) sum, a distinct
    * image count and a join of the two: the reference's inverted join
    * re-expressed, and the formula [[ImagePipeline.perLandmarkRollup]]
    * must agree with row for row and type for type.
    */
  private def referenceRollup(preds: DataFrame, labels: DataFrame): DataFrame = {
    val joined = preds.join(labels, "id")
    val fileCounts = joined.groupBy("landmark_id")
      .agg(countDistinct(col("id")).as("image_count"))
    val sums = joined
      .select(col("landmark_id"), explode(col("predictions")).as(Seq("cls", "cnt")))
      .groupBy("landmark_id", "cls").agg(sum(col("cnt")).as("total"))
    sums.join(fileCounts, "landmark_id")
      .groupBy(col("landmark_id"), col("image_count"))
      .agg(
        map_from_entries(array_sort(
          collect_list(struct(col("cls"), col("total"))))).as("predictions_sum"),
        map_from_entries(array_sort(collect_list(struct(col("cls"),
          col("total").cast("double") / col("image_count").cast("double"))))).as("averages"))
  }

  test("perLandmarkRollup equals the explode-sum-join formula in rows and schema") {
    import spark.implicits._
    // checkpoint both sides so the inputs carry the schema a pipeline run
    // reads back: non-null map values, nullable columns
    val dir = Files.createTempDirectory("graft_rollup").toString
    val preds = Sources.checkpoint(Seq(
        "a" -> Map(16 -> 1L, 2 -> 3L, 0 -> 2L), // unsorted class keys
        "a" -> Map(2 -> 1L),                    // the same image twice: summed
        "b" -> Map.empty[Int, Long],            // counted, adds no class
        "c" -> Map(0 -> 5L),
        "d" -> Map.empty[Int, Long],            // L3's only images
        "e" -> Map.empty[Int, Long],
        "f" -> Map(1 -> 7L))
      .toDF("id", "predictions"), s"$dir/preds")
    val labels = Sources.checkpoint(Seq[(String, String)](
        "a" -> "L1", "b" -> "L1", "c" -> "L1",
        "c" -> "L2",                            // one image, two landmarks
        "d" -> "L3", "e" -> "L3",
        "f" -> null)                            // dropped, as by an inner join
      .toDF("id", "landmark_id"), s"$dir/labels")
    val got = ImagePipeline.perLandmarkRollup(preds, labels)
    val want = referenceRollup(preds, labels)
    assert(got.schema == want.schema, s"${got.schema.treeString} vs ${want.schema.treeString}")
    def rows(df: DataFrame) = df.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getMap[Int, Long](2).toSeq, r.getMap[Int, Double](3).toSeq))
      .sortBy(_._1).toSeq
    assert(rows(got) == rows(want))
    assert(rows(got) == Seq(
      ("L1", 3L, Seq(0 -> 7L, 2 -> 4L, 16 -> 1L), Seq(0 -> 7 / 3.0, 2 -> 4 / 3.0, 16 -> 1 / 3.0)),
      ("L2", 1L, Seq(0 -> 5L), Seq(0 -> 5.0))))
    // and as a plain Parquet read sees the written files
    got.write.parquet(s"$dir/got")
    want.write.parquet(s"$dir/want")
    assert(spark.read.parquet(s"$dir/got").schema == spark.read.parquet(s"$dir/want").schema)
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
