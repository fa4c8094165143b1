package graft.images

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Golden-file tests: a hand-built fixture in the reference's data model
  * (landmark rollup + names dim), expected CSVs checked byte-for-byte in
  * the reference's `;`-format (SURVEY §5.3; formats from
  * `stats_bckp/stats/...`).
  */
class StatsPipelineSpec extends SparkSpec {

  // predictions_sum maps use class ids 0 (person) and 16 (dog)
  private lazy val rollup = {
    import spark.implicits._
    Seq(
      // landmark, images, {cls -> count}
      ("L1", 4L, Map(0 -> 8L, 16 -> 2L)),
      ("L2", 2L, Map(0 -> 1L)),
      ("L3", 10L, Map(16 -> 5L)),
      ("L4", 4L, Map(0 -> 2L, 16 -> 4L))
    ).toDF("landmark_id", "image_count", "predictions_sum")
  }

  private lazy val names = {
    import spark.implicits._
    Seq(
      ("L1", "Alcatraz"),                          // A, 8 chars
      ("L2", "Berlin People Square"),              // B, 20 chars, city+people
      ("L3", "Big Памятник of Berlin with a very long name"), // B, >20
      ("L4", "New York Aquarium")                  // N, 17 chars, city
    ).toDF("landmark_id", "name")
  }

  /** The fixture's golden files for `classes`, by (stat dir, class), as
    * `RunPipeline` renders them: one collected `statTable`.
    */
  private def golden(classes: Int*): Map[(String, String), String] =
    StatsPipeline.goldenFiles(
      StatsPipeline.statTable(rollup, names, classes).collect().toSeq, classes)
      .map { case (dir, cls, csv) => (dir, cls) -> csv }.toMap

  test("alphabetStat golden format: letter;count header + rows") {
    assert(golden(0)(("alphabet_count", "0")) == "letter;count\nA;8\nB;1\nN;2\n")
  }

  test("golden CSV spells doubles as the reference's Python repr does") {
    // expected strings are python3's repr() of the same values
    val cases = Seq(
      0.0005 -> "0.0005", 0.00015 -> "0.00015", 12345678.5 -> "12345678.5",
      1e-5 -> "1e-05", 0.0001 -> "0.0001", 2.0 -> "2.0", -0.25 -> "-0.25",
      1.0 / 12 -> "0.08333333333333333", 1e16 -> "1e+16", 1.5e16 -> "1.5e+16",
      9999999999999998.0 -> "9999999999999998.0", 1e22 -> "1e+22",
      1.2345e-7 -> "1.2345e-07", -3e-10 -> "-3e-10", 0.0 -> "0.0",
      123456789012.0 -> "123456789012.0")
    val csv = StatsPipeline.goldenCsv(
      cases.zipWithIndex.map { case ((v, _), i) => (s"k$i", v) }, ("key", "value"))
    assert(csv == cases.zipWithIndex
      .map { case ((_, r), i) => s"k$i;$r" }.mkString("key;value\n", "\n", "\n"))
  }

  test("cityAvgStat: containment theta-join, reference city list") {
    val csv = golden(0)(("avg_obj_per_city", "0"))
    // Berlin matches L2 (1/2) and L3 (0/10): 1/12; New York matches L4: 2/4
    assert(csv == "city;avg_detections\nBerlin;" + (1.0 / 12) + "\nNew York;0.5\n")
  }

  test("keywordContrastStat golden: avg_all vs avg_people_places") {
    val csv = golden(0)(("people_in_places_with_people", "0"))
    // all: (8+1+0+2)/(4+2+10+4) = 11/20; people: L2 only → 1/2
    assert(csv == "files considered;avg_detections\navg_all;0.55\navg_people_places;0.5\n")
  }

  test("nameLengthStat golden bands for the dog class") {
    val csv = golden(16)(("dogs_by_name_length", "16"))
    // under_10: L1 → 2/4; 10–20: L2+L4 → (0+4)/6; over_20: L3 → 5/10
    assert(csv ==
      "length_of_landmark_name;avg_detections\n" +
        "between_10_and_20_chars;" + (4.0 / 6) + "\n" +
        "over_20_chars;0.5\n" +
        "under_10_chars;0.5\n")
  }

  test("heatmapMatrix: per-class join chain = plots.py merge+transpose shape") {
    // the heatmap's city × class cells are the per-class city files
    val g = golden(0, 16)
    // New York: L4, cls0 2/4, cls16 4/4; Berlin: L2+L3, cls0 1/12, cls16 5/12
    assert(g(("avg_obj_per_city", "0")) ==
      "city;avg_detections\nBerlin;" + (1.0 / 12) + "\nNew York;0.5\n")
    assert(g(("avg_obj_per_city", "16")) ==
      "city;avg_detections\nBerlin;" + (5.0 / 12) + "\nNew York;1.0\n")
  }

  test("compat source reads the reference's own golden CSVs byte-compatibly") {
    // actual artifacts shipped by the reference (read-only)
    val df = graft.sources.Sources.readSemicolonCsv(spark,
      "/root/reference/stats_bckp/stats/alphabet_count/0.csv")
    assert(df.columns.toSeq == Seq("letter", "count"))
    assert(df.count() == 26)
    val a = df.filter(col("letter") === "A").head().getString(1)
    assert(a == "10588") // BASELINE.md's cited value
  }

  test("statTable golden files ≡ driver recomputation: classes 0/2/16 and an absent 7, " +
    "null and non-ASCII names, two cities in one name, no keyword match") {
    import spark.implicits._
    val classes = Seq(0, 2, 16, 7) // no image holds class 7
    // landmark, images, {cls -> count}, name
    val lms = Seq[(String, Long, Map[Int, Long], String)](
      ("M1", 3L, Map(0 -> 4L, 2 -> 1L), "Alcatraz"),
      ("M2", 5L, Map(16 -> 2L), null),
      ("M3", 2L, Map(0 -> 1L, 16 -> 3L), "éclair Tower of Paris"),
      ("M4", 7L, Map(2 -> 6L), "Paris to Berlin Express"),
      // U+FF5A sorts after U+1D538 in UTF-16 units, before it in UTF-8
      ("M5", 1L, Map(0 -> 2L), "ｚone of Detroit"),
      // 20 code points (the band's bound), 21 UTF-16 units
      ("M6", 4L, Map(), "\uD835\uDD38 Warsaw New York Ro"),
      ("M7", 6L, Map(0 -> 3L, 2 -> 2L), "Berlin"),
      ("M8", 2L, Map(16 -> 1L), "amber Hall"))
    val rollup = (lms.map(l => (l._1, l._2, l._3)) :+ (("M9", 9L, Map(0 -> 9L))))
      .toDF("landmark_id", "image_count", "predictions_sum") // M9 has no name row
    val names = (lms.map(l => (l._1, l._4)) :+ (("M10", "Paris Orphan")))
      .toDF("landmark_id", "name")                           // M10 has no rollup row
    assert(!lms.exists(l => l._4 != null && l._4.toLowerCase.contains("people")))

    // recomputation on the driver: the landmarks of the inner join, their
    // keys per stat, sums per key, keys in Spark's orderBy order
    def letter(n: String) =
      if (n == null) null else new String(Character.toChars(n.codePointAt(0))).toUpperCase
    def band(n: String) = Option(n).map(x => x.codePointCount(0, x.length)) match {
      case Some(l) if l < 10 => "under_10_chars"
      case Some(l) if l <= 20 => "between_10_and_20_chars"
      case _ => "over_20_chars"
    }
    def cities(n: String) = StatsPipeline.Cities.filter(c => n != null && n.contains(c))
    def avg(c: Long, n: Long) = if (n == 0) 0.0 else c.toDouble / n.toDouble
    def grouped(keys: String => Seq[String], cls: Int): Seq[(String, Long, Long)] =
      lms.flatMap(l => keys(l._4).map(k => (k, l._3.getOrElse(cls, 0L), l._2)))
        .groupBy(_._1).toSeq
        .map { case (k, rs) => (k, rs.map(_._2).sum, rs.map(_._3).sum) }
        .sortBy(r => Option(r._1).map(_.getBytes("UTF-8").toSeq.map(_ & 0xFF)))(
          Ordering.Option(scala.math.Ordering.Implicits.seqOrdering[Seq, Int]))
    def csv(rows: Seq[(Any, Any)], h: (String, String)) = StatsPipeline.goldenCsv(rows, h)
    val want = classes.flatMap { cls =>
      val letters = grouped(n => Seq(letter(n)), cls)
      Seq(
        ("alphabet_count", cls.toString) ->
          csv(letters.map(r => (r._1, r._2)), ("letter", "count")),
        ("alphabet_count_avg", cls.toString) ->
          csv(letters.map(r => (r._1, avg(r._2, r._3))), ("letter", "avg_count")),
        ("avg_obj_per_city", cls.toString) ->
          csv(grouped(cities, cls).map(r => (r._1, avg(r._2, r._3))), ("city", "avg_detections")),
        ("dogs_by_name_length", cls.toString) ->
          csv(grouped(n => Seq(band(n)), cls).map(r => (r._1, avg(r._2, r._3))),
            ("length_of_landmark_name", "avg_detections")))
    } :+ (("people_in_places_with_people", "0") -> csv(Seq(
      "avg_all" -> avg(lms.map(_._3.getOrElse(0, 0L)).sum, lms.map(_._2).sum),
      "avg_people_places" -> 0.0), ("files considered", "avg_detections")))

    val table = StatsPipeline.statTable(rollup, names, classes).collect().toSeq
    val got = StatsPipeline.goldenFiles(table, classes)
      .map { case (dir, name, text) => (dir, name) -> text }
    assert(got.size == 4 * classes.size + 1)
    assert(got.toMap == want.toMap)
    // the orders the recomputation pins: null first, then UTF-8 bytes
    assert(grouped(n => Seq(letter(n)), 0).map(_._1) ==
      Seq(null, "A", "B", "P", "É", "\uFF3A", "\uD835\uDD38"))
    assert(band("\uD835\uDD38 Warsaw New York Ro") == "between_10_and_20_chars")
    assert(grouped(cities, 0).map(_._1) ==
      Seq("Berlin", "Detroit", "New York", "Paris", "Warsaw"))
    assert(want.toMap.apply(("avg_obj_per_city", "7")) ==
      "city;avg_detections\nBerlin;0.0\nDetroit;0.0\nNew York;0.0\nParis;0.0\nWarsaw;0.0\n")
  }

  test("empty-group safe divide: class absent everywhere → 0.0 rows, not NaN") {
    val vals = golden(7)(("dogs_by_name_length", "7")).split("\n").toSeq.tail
      .map(_.split(";")(1))
    assert(vals.nonEmpty && vals.forall(_ == "0.0"))
  }
}
