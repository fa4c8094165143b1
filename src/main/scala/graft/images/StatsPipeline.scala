package graft.images

import graft.functions.SafeMath._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's `pyspark_stats.py` as four composable DataFrame
  * functions over the per-landmark rollup (SURVEY §3.3). Each replaces a
  * driver loop of filter+sum actions (156 / 36 / 4 / 6 Spark jobs) with one
  * declarative plan — one shuffle each, group enumeration done by `groupBy`.
  *
  * Inputs: `rollup` = [[ImagePipeline.perLandmarkRollup]] output
  * (landmark_id, image_count, predictions_sum, averages); `names` =
  * landmark_id → name dim (`train_label_to_name.csv`, broadcastable).
  */
object StatsPipeline {

  private def classCount(cls: Int) =
    coalesce(element_at(col("predictions_sum"), cls), lit(0L))

  /** Stat 1 — per-first-letter count + average for one class
    * (`pyspark_stats.py:73-99`; golden shape `alphabet_count/<cls>.csv`).
    */
  def alphabetStat(rollup: DataFrame, names: DataFrame, cls: Int): DataFrame =
    rollup.join(broadcast(names), "landmark_id")
      .select(
        upper(substring(col("name"), 1, 1)).as("letter"),
        classCount(cls).as("cnt"),
        col("image_count"))
      .groupBy("letter")
      .agg(sum(col("cnt")).as("count"),
        safeDiv(sum(col("cnt")).cast("double"),
          sum(col("image_count")).cast("double")).as("avg_per_image"))
      .orderBy("letter")

  /** Stat 2 — average objects per "city" (name-contains bucket) for one
    * class (`pyspark_stats.py:101-123`; golden `avg_obj_per_city/<cls>.csv`,
    * 6 fixed cities). One containment theta-join against a broadcast city
    * dim instead of 36 filter+sum jobs.
    */
  /** The reference's fixed city list (`pyspark_stats.py:102`). */
  val Cities = Seq("New York", "Los Angeles", "Detroit", "Paris", "Berlin", "Warsaw")

  def cityAvgStat(rollup: DataFrame, names: DataFrame, cls: Int,
      cities: Seq[String] = Cities): DataFrame = {
    val spark = rollup.sparkSession
    import spark.implicits._
    val cityDim = cities.toDF("city")
    rollup.join(broadcast(names), "landmark_id")
      .join(broadcast(cityDim), col("name").contains(col("city")))
      .groupBy("city")
      .agg(safeDiv(sum(classCount(cls)).cast("double"),
        sum(col("image_count")).cast("double")).as("avg_per_image"))
      .orderBy("city")
  }

  /** Stat 3 — class average over all landmarks vs landmarks whose name
    * contains a keyword, case-insensitive (`pyspark_stats.py:125-153`;
    * golden `people_in_places_with_people/0.csv`: rows avg_all /
    * avg_people_places). Single scan, conditional aggregation.
    */
  def keywordContrastStat(rollup: DataFrame, names: DataFrame, cls: Int,
      keyword: String = "people"): DataFrame = {
    val hit = lower(col("name")).contains(keyword.toLowerCase)
    rollup.join(broadcast(names), "landmark_id")
      .agg(
        sum(classCount(cls)).as("c_all"), sum(col("image_count")).as("n_all"),
        sum(when(hit, classCount(cls))).as("c_sub"),
        sum(when(hit, col("image_count"))).as("n_sub"))
      .select(explode(array(
        struct(lit("avg_all").as("metric"),
          safeDiv(col("c_all").cast("double"), col("n_all").cast("double")).as("value")),
        struct(lit(s"avg_${keyword}_places").as("metric"),
          safeDiv(coalesce(col("c_sub"), lit(0L)).cast("double"),
            coalesce(col("n_sub"), lit(0L)).cast("double")).as("value")))).as("r"))
      .select(col("r.metric").as("metric"), col("r.value").as("value"))
  }

  /** Stat 4 — class average by landmark-name-length band
    * (`pyspark_stats.py:156-200`; golden `dogs_by_name_length/16.csv`:
    * under_10_chars / between_10_and_20_chars / over_20_chars). One pass
    * with a CASE band instead of 3 filtered passes.
    */
  def nameLengthStat(rollup: DataFrame, names: DataFrame, cls: Int): DataFrame = {
    val band = when(length(col("name")) < 10, "under_10_chars")
      .when(length(col("name")) <= 20, "between_10_and_20_chars")
      .otherwise("over_20_chars")
    rollup.join(broadcast(names), "landmark_id")
      .groupBy(band.as("band"))
      .agg(safeDiv(sum(classCount(cls)).cast("double"),
        sum(col("image_count")).cast("double")).as("avg_per_image"))
      .orderBy("band")
  }

  /** Stage-2 color stats (`pyspark_dominant.py:74-137`) over the
    * [[ImagePipeline.colors]] output: dominant-color histogram in one
    * shuffle (the reference rescanned the collected table once per
    * distinct color, O(k·N)) and the closest-primary histogram with all
    * 6 primaries present (zero rows included, as the reference prints).
    */
  def colorHistogram(colors: DataFrame): DataFrame =
    colors.groupBy(col("dominantColor").cast("array<int>").as("dominant_color"))
      .agg(count(lit(1)).as("n"))
      .orderBy("dominant_color")

  def closestPrimaryHistogram(colors: DataFrame): DataFrame = {
    val spark = colors.sparkSession
    import spark.implicits._
    val primaries = ImageOps.Primaries.zipWithIndex
      .map { case ((r, g, b), i) => (i, s"[$r, $g, $b]") }
      .toDF("closestPrimary", "primary_color")
    broadcast(primaries)
      .join(colors.groupBy("closestPrimary").agg(count(lit(1)).as("n")),
        Seq("closestPrimary"), "left")
      .select(col("primary_color"), coalesce(col("n"), lit(0L)).as("n"),
        col("closestPrimary"))
      .orderBy("closestPrimary")
      .drop("closestPrimary")
  }

  /** Stage 4's data path (`plots.py:30-40`): assemble the per-class city
    * stats into the heatmap matrix the dashboard renders — pandas
    * `merge`-per-class + `transpose` become one join chain producing
    * city × class columns (the transpose is just which axis becomes
    * columns; downstream plotting reads either orientation).
    */
  def heatmapMatrix(rollup: DataFrame, names: DataFrame,
      classes: Seq[Int]): DataFrame = {
    require(classes.nonEmpty, "heatmapMatrix needs at least one class column")
    val perClass = classes.map { cls =>
      cityAvgStat(rollup, names, cls)
        .withColumnRenamed("avg_per_image", s"class_$cls")
    }
    perClass.reduce(_.join(_, Seq("city"), "inner")).orderBy("city")
  }

  /** Render a 2-column stat frame to the reference's golden CSV format:
    * a `;`-joined header line then `key;value` rows, trailing newline
    * (`write_results`, `pyspark_stats.py:40-52`). Driver-side — these are
    * ≤26-row results, the one place collect() is legitimate.
    */
  def toGoldenCsv(stat: DataFrame, headers: (String, String)): String =
    goldenCsv(stat.collect().toSeq.map(r => (r.get(0), r.get(1))), headers)

  /** [[toGoldenCsv]] over rows already on the driver. Doubles are spelled
    * as the reference's Python `repr` spells them ([[pythonRepr]]).
    */
  def goldenCsv(rows: Seq[(Any, Any)], headers: (String, String)): String =
    (s"${headers._1};${headers._2}" +: rows.map {
      case (k, d: Double) => s"$k;${pythonRepr(d)}"
      case (k, v) => s"$k;$v"
    }).mkString("", "\n", "\n")

  /** A double as Python's `repr` writes it: the shortest round-trip
    * digits, positional for 1e-4 ≤ |v| < 1e16 (integral values keep
    * `N.0`), `<digits>e±XX` otherwise (`1e-05`, `1.5e+16`). The digits
    * are `Double.toString`'s; on JDK 17 those are not always the shortest
    * (2e23 prints as `1.9999999999999998E23`, where Python writes
    * `2e+23`), so such magnitudes keep JDK 17's longer digits.
    */
  def pythonRepr(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinite) if (d > 0) "inf" else "-inf"
    else if (d == 0.0) if (1.0 / d < 0) "-0.0" else "0.0"
    else {
      val bd = new java.math.BigDecimal(java.lang.Double.toString(d)).stripTrailingZeros()
      val digits = bd.unscaledValue().abs().toString
      // decimal exponent of the leading digit: |d| = 0.d1d2… × 10^(exp + 1)
      val exp = digits.length - 1 - bd.scale()
      val sign = if (d < 0) "-" else ""
      if (exp >= -4 && exp < 16) {
        val plain = bd.abs().toPlainString
        sign + (if (plain.contains('.')) plain else plain + ".0")
      } else {
        val mantissa =
          if (digits.length == 1) digits else s"${digits.head}.${digits.tail}"
        f"$sign${mantissa}e${if (exp < 0) "-" else "+"}${math.abs(exp)}%02d"
      }
    }
}
