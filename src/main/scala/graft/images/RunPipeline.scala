package graft.images

import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's three spark-submit scripts as ONE composable driver
  * (SURVEY §3: `pyspark_yolox.py` → `pyspark_dominant.py` →
  * `pyspark_stats.py`), with Parquet checkpoints where the reference
  * round-tripped CSV through HDFS, and every stat a single declarative
  * plan. A reference user's migration is: point this at the same image
  * tree + label CSVs.
  *
  * Layout written under `outDir`:
  *   predictions/            per-image class histograms   (parquet)
  *   rollup/                 per-landmark sums + averages (parquet)
  *   colors/                 per-image color features     (parquet)
  *   results_predictions/    stage-1 compat CSV (`;`)     [reference S3]
  *   results_predictions_per_class/, results_dominant/,
  *   results_dominant_count/ remaining reference CSV interchange files
  *   stats/<name>/<cls>.csv  golden-format stat files     [reference S5]
  *   plots/<type>/<name>.html, dash.html  stage-4 chart + dashboard emission
  */
object RunPipeline {

  final case class Config(
      imageDir: String,
      labels: DataFrame,   // id → landmark_id       (train_labels)
      names: DataFrame,    // landmark_id → name     (train_label_to_name)
      outDir: String,
      classesOfInterest: Seq[Int] = Seq(0, 2, 16),
      mkDetector: () => Detection.Detector = () => new Detection.StubDetector)

  def run(spark: SparkSession, cfg: Config): Unit = {
    import java.nio.file.{Files, Paths}

    // golden-format stat writer (reference `write_results`,
    // `pyspark_stats.py:40-52`): headers MUST match what `plots.py` reads
    // back per stat type — letter/count, letter/avg_count, city/…
    def writeCsv(csv: String, out: String, dir: String, name: String): Unit = {
      val p = Paths.get(out, "stats", dir)
      Files.createDirectories(p)
      Files.writeString(p.resolve(s"$name.csv"), csv)
    }
    def writeStat(stat: DataFrame, headers: (String, String),
        out: String, dir: String, name: String): Unit =
      writeCsv(StatsPipeline.toGoldenCsv(stat, headers), out, dir, name)

    // ---- stage 1: detection (pyspark_yolox.py) --------------------------
    val images = ImagePipeline.scanImages(spark, cfg.imageDir, "*.{jpg,jpeg,png}")
    val preds = Sources.checkpoint(
      ImagePipeline.detect(images, cfg.mkDetector).toDF(),
      s"${cfg.outDir}/predictions")
    // compat CSV of the stage-1 output (map → JSON string at the boundary)
    Sources.writeSemicolonCsv(
      preds.select(col("id"), to_json(col("predictions")).as("predictions")),
      s"${cfg.outDir}/results_predictions")

    val rollup = Sources.checkpoint(
      ImagePipeline.perLandmarkRollup(preds, cfg.labels),
      s"${cfg.outDir}/rollup")
    // compat CSV of the per-landmark rollup (reference
    // `/results_predictions_per_class`, `pyspark_yolox.py:179-185`) — the
    // file `pyspark_stats.py:22-24` reads; maps serialize to JSON strings
    Sources.writeSemicolonCsv(
      rollup.select(col("landmark_id"), col("image_count"),
        to_json(col("predictions_sum")).as("predictions_sum"),
        to_json(col("averages")).as("averages")),
      s"${cfg.outDir}/results_predictions_per_class")

    // ---- stage 2: colors (pyspark_dominant.py) --------------------------
    val colors = Sources.checkpoint(
      ImagePipeline.colors(images).toDF(), s"${cfg.outDir}/colors")
    // compat CSVs (reference `/results_dominant` + `/results_dominant_count`,
    // `pyspark_dominant.py:66-71,87-92`): color triples as JSON arrays
    Sources.writeSemicolonCsv(
      colors.select(col("id"), to_json(col("averageColor")).as("average_color"),
        to_json(col("dominantColor")).as("dominant_color")),
      s"${cfg.outDir}/results_dominant")
    val colorHist = StatsPipeline.colorHistogram(colors)
      .select(col("dominant_color").cast("string").as("dominant_color"), col("n"))
    Sources.writeSemicolonCsv(
      colorHist.withColumnRenamed("n", "count"),
      s"${cfg.outDir}/results_dominant_count")
    writeStat(colorHist,
      ("dominant_color", "count"), cfg.outDir, "dominant_count", "results")
    writeStat(StatsPipeline.closestPrimaryHistogram(colors),
      ("primary_color", "count"), cfg.outDir, "closest_primary", "results")

    // ---- stage 3: stats (pyspark_stats.py), one plan per stat × class --
    // (the two alphabet files share one)
    cfg.classesOfInterest.foreach { cls =>
      val alphabet = StatsPipeline.alphabetStat(rollup, cfg.names, cls).collect().toSeq
      writeCsv(StatsPipeline.goldenCsv(alphabet.map(r => (r.get(0), r.get(1))),
        ("letter", "count")), cfg.outDir, "alphabet_count", cls.toString)
      // header `letter;avg_count` per `pyspark_stats.py:98` / `plots.py:55`
      // (the reference's local stats_bckp/stats copy says `letter;count`,
      // but that copy is stale — its own plots.py would KeyError on it)
      writeCsv(StatsPipeline.goldenCsv(alphabet.map(r => (r.get(0), r.get(2))),
        ("letter", "avg_count")), cfg.outDir, "alphabet_count_avg", cls.toString)
      writeStat(StatsPipeline.cityAvgStat(rollup, cfg.names, cls),
        ("city", "avg_detections"), cfg.outDir, "avg_obj_per_city", cls.toString)
      // dir name is the reference's literal `dogs_by_name_length`
      // (`pyspark_stats.py:198`, read back `plots.py:57`) even though the
      // stat is parameterized over any class here, not just 16=dog
      writeStat(StatsPipeline.nameLengthStat(rollup, cfg.names, cls),
        ("length_of_landmark_name", "avg_detections"),
        cfg.outDir, "dogs_by_name_length", cls.toString)
    }
    writeStat(StatsPipeline.keywordContrastStat(rollup, cfg.names,
        cfg.classesOfInterest.head),
      ("files considered", "avg_detections"),
      cfg.outDir, "people_in_places_with_people", cfg.classesOfInterest.head.toString)

    // ---- stage 4: plots (plots.py) — replays the reference's CSV read
    // path (column lookup BY HEADER NAME), so a header drift that would
    // KeyError the reference's plots.py fails here too
    Plots.writeAll(cfg.outDir, cfg.classesOfInterest)
  }

  /** CLI: RunPipeline <imageDir> <labelsCsv> <namesCsv> <outDir> */
  def main(args: Array[String]): Unit = {
    val Array(imageDir, labelsCsv, namesCsv, outDir) = args
    val spark = graft.Graft.session()
    RunPipeline.run(spark, Config(
      imageDir,
      Sources.readSemicolonCsv(spark, labelsCsv),
      Sources.readSemicolonCsv(spark, namesCsv),
      outDir))
    spark.stop()
  }
}
