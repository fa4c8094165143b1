package graft.images

import graft.functions.SafeMath._
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** The reference's `pyspark_stats.py` over the per-landmark rollup
  * (SURVEY §3.3) as ONE plan: [[statTable]] replaces the reference's driver
  * loops of filter+sum actions (156 / 36 / 4 / 6 Spark jobs) for every
  * stat and class with one broadcast join and one grouped aggregate, and
  * [[goldenFiles]] cuts the four stats from it once it is collected.
  *
  * Inputs: `rollup` = [[ImagePipeline.perLandmarkRollup]] output
  * (landmark_id, image_count, predictions_sum, averages); `names` =
  * landmark_id → name dim (`train_label_to_name.csv`, broadcastable).
  */
object StatsPipeline {

  private def classCount(cls: Int) =
    coalesce(element_at(col("predictions_sum"), cls), lit(0L))

  /** The reference's fixed city list (`pyspark_stats.py:102`). */
  val Cities = Seq("New York", "Los Angeles", "Detroit", "Paris", "Berlin", "Warsaw")

  /** Stat 3's rows (`pyspark_stats.py:125-153`): all landmarks, and those
    * whose name contains "people", case-insensitively.
    */
  private val KeywordMetrics = Seq("avg_all", "avg_people_places")

  /** Every stat of stage 3 for every class in one plan. Each landmark
    * (joined to its name) is one entry per (stat, key) it counts under:
    *  - `letter`: the upper-cased first letter of its name (stat 1,
    *    `pyspark_stats.py:73-99`);
    *  - `city`: each of [[Cities]] its name contains (stat 2,
    *    `pyspark_stats.py:101-123`), a containment theta-join unrolled;
    *  - `keyword`: `avg_all`, and `avg_people_places` when its name
    *    contains "people", case-insensitively (stat 3);
    *  - `band`: its name-length band (stat 4, `pyspark_stats.py:156-200`).
    * One `groupBy(stat, key)` then sums `image_count` as `images` and, per
    * class c, the class's detections as `count_c` and their per-image
    * average as `avg_c` (0.0 on an empty group, the reference's
    * ZeroDivisionError guard).
    */
  def statTable(rollup: DataFrame, names: DataFrame, classes: Seq[Int]): DataFrame = {
    val name = col("name")
    val band = when(length(name) < 10, "under_10_chars")
      .when(length(name) <= 20, "between_10_and_20_chars")
      .otherwise("over_20_chars")
    def entry(stat: String, key: Column, keep: Column = lit(true)) =
      struct(lit(stat).as("stat"), key.as("key"), keep.as("keep"))
    val entries = Seq(
        entry("letter", upper(substring(name, 1, 1))),
        entry("band", band),
        entry("keyword", lit(KeywordMetrics(0))),
        entry("keyword", lit(KeywordMetrics(1)), lower(name).contains("people"))) ++
      Cities.map(c => entry("city", lit(c), name.contains(c)))
    val images = sum(col("image_count"))
    rollup.join(broadcast(names), "landmark_id")
      .select(explode(array(entries: _*)).as("e"), col("image_count"), col("predictions_sum"))
      .filter(coalesce(col("e.keep"), lit(false)))
      .groupBy(col("e.stat").as("stat"), col("e.key").as("key"))
      .agg(images.as("images"), classes.flatMap { cls =>
        val n = sum(classCount(cls))
        Seq(n.as(s"count_$cls"),
          safeDiv(n.cast("double"), images.cast("double")).as(s"avg_$cls"))
      }: _*)
  }

  /** Spark's `orderBy` order of string keys: UTF-8 bytes compared
    * unsigned, nulls first.
    */
  private val KeyOrder: Ordering[Option[String]] = Ordering.Option(
    Ordering.fromLessThan[String]((a, b) => java.util.Arrays.compareUnsigned(
      a.getBytes(UTF_8), b.getBytes(UTF_8)) < 0))

  /** Stage 3's golden files from one collected [[statTable]] over
    * `classes`, as (stat dir, file name, CSV): per class the alphabet
    * count and average, the city average and the name-length band
    * average; for the first class the keyword contrast (both rows, 0.0
    * when no landmark matches). Rows come in the order a per-stat
    * `orderBy(key)` gives. Dir names and headers are the reference's
    * (`pyspark_stats.py:96-98,198`), which `plots.py` reads back.
    */
  def goldenFiles(table: Seq[Row], classes: Seq[Int]): Seq[(String, String, String)] = {
    def rows(stat: String, value: String): Seq[(Any, Any)] =
      table.filter(_.getAs[String]("stat") == stat)
        .sortBy(r => Option(r.getAs[String]("key")))(KeyOrder)
        .map(r => (r.getAs[Any]("key"), r.getAs[Any](value)))
    val perClass = classes.flatMap { cls =>
      Seq(
        ("alphabet_count", rows("letter", s"count_$cls"), ("letter", "count")),
        // header `letter;avg_count` per `pyspark_stats.py:98` / `plots.py:55`
        // (the reference's local stats_bckp/stats copy says `letter;count`,
        // but that copy is stale — its own plots.py would KeyError on it)
        ("alphabet_count_avg", rows("letter", s"avg_$cls"), ("letter", "avg_count")),
        ("avg_obj_per_city", rows("city", s"avg_$cls"), ("city", "avg_detections")),
        // dir name is the reference's literal `dogs_by_name_length`
        // (`pyspark_stats.py:198`, read back `plots.py:57`) even though the
        // stat is parameterized over any class here, not just 16=dog
        ("dogs_by_name_length", rows("band", s"avg_$cls"),
          ("length_of_landmark_name", "avg_detections"))
      ).map { case (dir, rs, headers) => (dir, cls.toString, goldenCsv(rs, headers)) }
    }
    val first = classes.head
    val keyword = rows("keyword", s"avg_$first").toMap
    perClass :+ (("people_in_places_with_people", first.toString,
      goldenCsv(KeywordMetrics.map(m => (m, keyword.getOrElse(m, 0.0))),
        ("files considered", "avg_detections"))))
  }

  /** Stage-2 color stats (`pyspark_dominant.py:74-137`) from one count per
    * (dominantColor, closestPrimary) — the primary is a function of the
    * color: the dominant-color histogram (key `[r, g, b]`, in Spark's array
    * order) and the closest-primary one with all 6 primaries, zero rows
    * included, as the reference prints.
    */
  def colorHistograms(colors: DataFrame): (Seq[(String, Long)], Seq[(String, Long)]) = {
    import scala.math.Ordering.Implicits.seqOrdering
    val counts = colors.groupBy("dominantColor", "closestPrimary").count().collect().toSeq
      .map(r => (r.getSeq[Int](0), r.getInt(1), r.getLong(2)))
    val byPrimary = counts.groupMapReduce(_._2)(_._3)(_ + _)
    (counts.sortBy(_._1).map { case (c, _, n) => (c.mkString("[", ", ", "]"), n) },
      ImageOps.Primaries.zipWithIndex.map { case ((r, g, b), i) =>
        (s"[$r, $g, $b]", byPrimary.getOrElse(i, 0L))
      })
  }

  /** Render collected (key, value) stat rows to the reference's golden CSV
    * format: a `;`-joined header line then `key;value` rows, trailing
    * newline (`write_results`, `pyspark_stats.py:40-52`). Driver-side —
    * these are ≤26-row results, the one place collect() is legitimate.
    * Doubles are spelled as the reference's Python `repr` spells them
    * ([[pythonRepr]]).
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
