package graft.images

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType, MapType}
import graft.sources.Sources

/** The Spark-side image pipeline (SURVEY §3.1–§3.2 re-expressed):
  * binaryFile scan → per-partition inference / color analytics → relational
  * rollups. The reference ran this as three scripts with CSV hand-offs and
  * driver-side joins; here each stage is one DataFrame plan, with Parquet
  * checkpoints between pipeline stages replacing `--cached-pred` (I4).
  *
  * Scale notes:
  *  - the scan uses the `binaryFile` source (splittable listing, columnar
  *    metadata, pushed path filters) instead of `sc.binaryFiles`;
  *  - model state is constructed once per partition inside `mapPartitions`
  *    (the intent of the reference's driver-side model broadcast,
  *    `pyspark_yolox.py:49-50`), so executor count scales freely;
  *  - `spark.sql.files.maxPartitionBytes` governs scan parallelism — no
  *    hand repartitioning (the reference forced ≥8 partitions,
  *    `pyspark_yolox.py:128-130`; AQE makes that obsolete).
  */
object ImagePipeline {

  /** One scanned image: S1. `id` is the basename sans extension (F1). */
  final case class ImageRow(path: String, id: String, content: Array[Byte])

  /** Per-image features: the class histogram of detection (A8) and the
    * color analytics (M2/M4/O1), from one decode of the image.
    */
  final case class Features(id: String, predictions: Map[Int, Long],
      averageColor: Seq[Int], dominantColor: Seq[Int], closestPrimary: Int)

  /** S1 — recursive binary scan of an image tree (the reference's 4-level
    * sharded jpg glob via `sc.binaryFiles`, `pyspark_yolox.py:123`).
    */
  def scanImages(spark: SparkSession, dir: String, glob: String = "*.{jpg,jpeg,png}"): Dataset[ImageRow] = {
    import spark.implicits._
    Sources.binaryTree(spark, dir, glob)
      .select(col("path"),
        regexp_extract(col("path"), "([^/]+)\\.[A-Za-z]+$", 1).as("id"),
        col("content"))
      .as[ImageRow]
  }

  /** Stages 1 and 2 over one decode per image: detection (letterbox →
    * detect → NMS → score gate → class histogram, `pyspark_yolox.py:62-111`)
    * and color analytics (`pyspark_dominant.py:30-51`). The reference scans
    * and decodes the tree once per stage; here one `mapPartitions` builds
    * the detector once per partition and decodes each image once.
    * Undecodable payloads drop out.
    */
  def analyze(images: Dataset[ImageRow], mkDetector: () => Detection.Detector): Dataset[Features] = {
    import images.sparkSession.implicits._
    images.mapPartitions { rows =>
      val det = mkDetector()
      rows.flatMap { r =>
        ImageOps.decode(r.content).map { img =>
          val boxes = Detection.nms(det.detect(Detection.letterboxImage(img)))
          val avg = ImageOps.averageColor(img)
          val dom = ImageOps.dominantColor(img)
          Features(r.id, Detection.classHistogram(boxes),
            Seq(avg._1, avg._2, avg._3), Seq(dom._1, dom._2, dom._3),
            ImageOps.closestPrimary(dom, ImageOps.Primaries))
        }
      }
    }
  }

  /** Stage 3 — per-landmark rollup (J2/A4/A5, `pyspark_yolox.py:151-176`):
    * one grouped aggregate over the images joined to their landmarks.
    * `image_count` counts distinct images, empty histograms included; the
    * histograms are summed key by key (a duplicated image row adds twice)
    * and re-assembled as sorted-entry maps. A landmark none of whose
    * images has a detection has no row, nor does a null landmark. Replaces
    * the reference's driver-enumerated inverted join.
    */
  def perLandmarkRollup(preds: DataFrame, labels: DataFrame): DataFrame = {
    def sorted(m: Column) = map_from_entries(array_sort(map_entries(m)))
    // the rollup's schema: non-null maps whose values may be null, as a
    // per-class `sum` over exploded histograms types them
    def nonNull(m: Column, values: DataType) = {
      val t = MapType(IntegerType, values)
      coalesce(m.cast(t), map().cast(t))
    }
    preds.join(labels.filter(col("landmark_id").isNotNull), "id")
      .groupBy("landmark_id")
      .agg(
        size(collect_set(col("id"))).cast("long").as("image_count"),
        sorted(aggregate(collect_list(col("predictions")), map().cast("map<int,bigint>"),
          (acc, m) => map_zip_with(acc, m, (_, a, b) => coalesce(a, lit(0L)) + coalesce(b, lit(0L)))
        )).as("predictions_sum"))
      .filter(size(col("predictions_sum")) > 0)
      .select(col("landmark_id"), col("image_count"),
        nonNull(col("predictions_sum"), LongType).as("predictions_sum"),
        nonNull(transform_values(col("predictions_sum"),
          (_, v) => v.cast("double") / col("image_count").cast("double")), DoubleType).as("averages"))
  }
}
