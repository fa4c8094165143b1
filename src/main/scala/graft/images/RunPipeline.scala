package graft.images

import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's three spark-submit scripts as ONE composable driver
  * (SURVEY §3: `pyspark_yolox.py` → `pyspark_dominant.py` →
  * `pyspark_stats.py`), with Parquet checkpoints where the reference
  * round-tripped CSV through HDFS, one scan and one decode per image for
  * stages 1 and 2, and one declarative plan per stats stage. A reference
  * user's migration is: point this at the same image tree + label CSVs.
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
    // `pyspark_stats.py:40-52`): `stats/<dir>/<name>.csv`
    def writeCsv(csv: String, dir: String, name: String): Unit = Files.writeString(
      Files.createDirectories(Paths.get(cfg.outDir, "stats", dir)).resolve(s"$name.csv"), csv)

    // ---- stage 1: detection (pyspark_yolox.py), one scan and one decode
    // per image for stages 1 and 2; both checkpoints are projections
    val features = ImagePipeline.analyze(
      ImagePipeline.scanImages(spark, cfg.imageDir, "*.{jpg,jpeg,png}"), cfg.mkDetector).persist()
    val (preds, colors) = try (
      Sources.checkpoint(features.select("id", "predictions"), s"${cfg.outDir}/predictions"),
      Sources.checkpoint(features.drop("predictions"), s"${cfg.outDir}/colors"))
    finally features.unpersist()
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
    // compat CSVs (reference `/results_dominant` + `/results_dominant_count`,
    // `pyspark_dominant.py:66-71,87-92`): color triples as JSON arrays
    Sources.writeSemicolonCsv(
      colors.select(col("id"), to_json(col("averageColor")).as("average_color"),
        to_json(col("dominantColor")).as("dominant_color")),
      s"${cfg.outDir}/results_dominant")
    val (dominant, primaries) = StatsPipeline.colorHistograms(colors)
    Sources.writeSemicolonCsv(
      spark.createDataFrame(dominant).toDF("dominant_color", "count").coalesce(1),
      s"${cfg.outDir}/results_dominant_count")
    writeCsv(StatsPipeline.goldenCsv(dominant, ("dominant_color", "count")),
      "dominant_count", "results")
    writeCsv(StatsPipeline.goldenCsv(primaries, ("primary_color", "count")),
      "closest_primary", "results")

    // ---- stage 3: stats (pyspark_stats.py), one plan for every stat × class
    val table = StatsPipeline.statTable(rollup, cfg.names, cfg.classesOfInterest).collect().toSeq
    StatsPipeline.goldenFiles(table, cfg.classesOfInterest).foreach {
      case (dir, name, csv) => writeCsv(csv, dir, name)
    }

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
