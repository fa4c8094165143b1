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

  test("alphabetStat golden format: letter;count header + rows") {
    val stat = StatsPipeline.alphabetStat(rollup, names, cls = 0)
      .select(col("letter"), col("count"))
    val csv = StatsPipeline.toGoldenCsv(stat, ("letter", "count"))
    assert(csv == "letter;count\nA;8\nB;1\nN;2\n")
  }

  test("golden CSV spells doubles as the reference's Python repr does") {
    import spark.implicits._
    // expected strings are python3's repr() of the same values
    val cases = Seq(
      0.0005 -> "0.0005", 0.00015 -> "0.00015", 12345678.5 -> "12345678.5",
      1e-5 -> "1e-05", 0.0001 -> "0.0001", 2.0 -> "2.0", -0.25 -> "-0.25",
      1.0 / 12 -> "0.08333333333333333", 1e16 -> "1e+16", 1.5e16 -> "1.5e+16",
      9999999999999998.0 -> "9999999999999998.0", 1e22 -> "1e+22",
      1.2345e-7 -> "1.2345e-07", -3e-10 -> "-3e-10", 0.0 -> "0.0",
      123456789012.0 -> "123456789012.0")
    val stat = cases.zipWithIndex.map { case ((v, _), i) => (s"k$i", v) }.toDF("key", "value")
    val csv = StatsPipeline.toGoldenCsv(stat, ("key", "value"))
    assert(csv == cases.zipWithIndex
      .map { case ((_, r), i) => s"k$i;$r" }.mkString("key;value\n", "\n", "\n"))
  }

  test("cityAvgStat: containment theta-join, reference city list") {
    val stat = StatsPipeline.cityAvgStat(rollup, names, cls = 0)
    val csv = StatsPipeline.toGoldenCsv(stat, ("city", "avg_detections"))
    // Berlin matches L2 (1/2) and L3 (0/10): 1/12; New York matches L4: 2/4
    assert(csv == "city;avg_detections\nBerlin;" + (1.0 / 12) + "\nNew York;0.5\n")
  }

  test("keywordContrastStat golden: avg_all vs avg_people_places") {
    val stat = StatsPipeline.keywordContrastStat(rollup, names, cls = 0)
    val csv = StatsPipeline.toGoldenCsv(stat, ("files considered", "avg_detections"))
    // all: (8+1+0+2)/(4+2+10+4) = 11/20; people: L2 only → 1/2
    assert(csv == "files considered;avg_detections\navg_all;0.55\navg_people_places;0.5\n")
  }

  test("nameLengthStat golden bands for the dog class") {
    val stat = StatsPipeline.nameLengthStat(rollup, names, cls = 16)
    val csv = StatsPipeline.toGoldenCsv(stat, ("length_of_landmark_name", "avg_detections"))
    // under_10: L1 → 2/4; 10–20: L2+L4 → (0+4)/6; over_20: L3 → 5/10
    assert(csv ==
      "length_of_landmark_name;avg_detections\n" +
        "between_10_and_20_chars;" + (4.0 / 6) + "\n" +
        "over_20_chars;0.5\n" +
        "under_10_chars;0.5\n")
  }

  test("heatmapMatrix: per-class join chain = plots.py merge+transpose shape") {
    val m = StatsPipeline.heatmapMatrix(rollup, names, Seq(0, 16))
    assert(m.columns.toSeq == Seq("city", "class_0", "class_16"))
    val rows = m.collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(rows("New York") == ((0.5, 1.0)))   // L4: cls0 2/4, cls16 4/4
    assert(rows("Berlin")._1 == 1.0 / 12)      // L2+L3
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

  test("empty-group safe divide: class absent everywhere → 0.0 rows, not NaN") {
    val stat = StatsPipeline.nameLengthStat(rollup, names, cls = 7)
    val vals = stat.collect().map(_.getDouble(1))
    assert(vals.forall(_ == 0.0))
  }
}
