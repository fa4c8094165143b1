package graft.images

import graft.sources.Sources
import java.util.concurrent.{CompletableFuture, CompletionException, ConcurrentLinkedQueue, Executors}
import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import scala.util.{Failure, Try}

/** The reference's three spark-submit scripts as ONE composable driver
  * (SURVEY §3: `pyspark_yolox.py` → `pyspark_dominant.py` →
  * `pyspark_stats.py`), with Parquet checkpoints where the reference
  * round-tripped CSV through HDFS, one scan and one decode per image for
  * stages 1 and 2, and one declarative plan per stats stage. A reference
  * user's migration is: point this at the same image tree + label CSVs.
  *
  * The outputs form a dependency graph, and each one is written as soon
  * as its inputs exist. Two branches leave the persisted per-image
  * features:
  *  - A: `predictions/`, then `results_predictions/` alongside `rollup/`,
  *    then `results_predictions_per_class/` alongside the stage-3 stats;
  *  - B: `colors/`, then `results_dominant/` alongside the colour
  *    histograms, which write the two colour stat files and
  *    `results_dominant_count/`.
  * The features are released once both branches have stopped, and the
  * plots are written last, from the stat files.
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

  /** Writes every output of one pass. The tasks run on a thread pool of
    * this call's own, gone by the time it returns. On a failure it waits
    * for every task to stop and rethrows the exception of the first
    * failed output as that output threw it.
    */
  def run(spark: SparkSession, cfg: Config): Unit = {
    import java.nio.file.{Files, Paths}

    // golden-format stat writer (reference `write_results`,
    // `pyspark_stats.py:40-52`): `stats/<dir>/<name>.csv`
    def writeCsv(csv: String, dir: String, name: String): Unit = Files.writeString(
      Files.createDirectories(Paths.get(cfg.outDir, "stats", dir)).resolve(s"$name.csv"), csv)

    // every output is a task that starts at once and waits on its inputs
    // with `join()`; the pool is unbounded, so a waiting task never holds
    // back the one it waits on
    val threads = new ConcurrentLinkedQueue[Thread]
    val pool = Executors.newCachedThreadPool { r =>
      val t = new Thread(r, s"graft-pipeline-${threads.size + 1}")
      t.setDaemon(true)
      threads.add(t)
      t
    }
    val tasks = Seq.newBuilder[CompletableFuture[_]]
    // the caller's local properties (job group, scheduler pool) and active
    // session travel with the task, as for Spark's own broadcast exchange
    def async[T](body: => T): CompletableFuture[T] = {
      val f = SQLExecution.withThreadLocalCaptured(
        spark.asInstanceOf[classic.SparkSession], pool)(body)
      tasks += f
      f
    }
    try {
      // ---- stage 1: detection (pyspark_yolox.py), one scan and one decode
      // per image for stages 1 and 2; both checkpoints are projections
      val features = ImagePipeline.analyze(
        ImagePipeline.scanImages(spark, cfg.imageDir, "*.{jpg,jpeg,png}"), cfg.mkDetector).persist()
      try {
        val preds = async(
          Sources.checkpoint(features.select("id", "predictions"), s"${cfg.outDir}/predictions"))
        // compat CSV of the stage-1 output (map → JSON string at the boundary)
        async(Sources.writeSemicolonCsv(
          preds.join().select(col("id"), to_json(col("predictions")).as("predictions")),
          s"${cfg.outDir}/results_predictions"))
        val rollup = async(Sources.checkpoint(
          ImagePipeline.perLandmarkRollup(preds.join(), cfg.labels),
          s"${cfg.outDir}/rollup"))
        // compat CSV of the per-landmark rollup (reference
        // `/results_predictions_per_class`, `pyspark_yolox.py:179-185`) — the
        // file `pyspark_stats.py:22-24` reads; maps serialize to JSON strings
        async(Sources.writeSemicolonCsv(
          rollup.join().select(col("landmark_id"), col("image_count"),
            to_json(col("predictions_sum")).as("predictions_sum"),
            to_json(col("averages")).as("averages")),
          s"${cfg.outDir}/results_predictions_per_class"))

        // ---- stage 2: colors (pyspark_dominant.py) ------------------------
        // compat CSVs (reference `/results_dominant` + `/results_dominant_count`,
        // `pyspark_dominant.py:66-71,87-92`): color triples as JSON arrays
        val colors = async(
          Sources.checkpoint(features.drop("predictions"), s"${cfg.outDir}/colors"))
        async(Sources.writeSemicolonCsv(
          colors.join().select(col("id"), to_json(col("averageColor")).as("average_color"),
            to_json(col("dominantColor")).as("dominant_color")),
          s"${cfg.outDir}/results_dominant"))
        async {
          val (dominant, primaries) = StatsPipeline.colorHistograms(colors.join())
          writeCsv(StatsPipeline.goldenCsv(dominant, ("dominant_color", "count")),
            "dominant_count", "results")
          writeCsv(StatsPipeline.goldenCsv(primaries, ("primary_color", "count")),
            "closest_primary", "results")
          Sources.writeSemicolonCsv(
            spark.createDataFrame(dominant).toDF("dominant_color", "count").coalesce(1),
            s"${cfg.outDir}/results_dominant_count")
        }

        // ---- stage 3: stats (pyspark_stats.py), one plan for every stat × class
        async {
          val table = StatsPipeline.statTable(rollup.join(), cfg.names, cfg.classesOfInterest)
            .collect().toSeq
          StatsPipeline.goldenFiles(table, cfg.classesOfInterest).foreach {
            case (dir, name, csv) => writeCsv(csv, dir, name)
          }
        }

        // wait for every task, then rethrow the first failure as its task
        // threw it (a task whose input failed rethrows that input's failure)
        tasks.result().map(f => Try(f.join())).collectFirst {
          case Failure(e: CompletionException) if e.getCause != null => throw e.getCause
          case Failure(e) => throw e
        }
      } finally features.unpersist()
    } finally {
      // a pool's termination is signalled before its threads have exited
      pool.shutdown()
      threads.forEach(_.join())
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
