package graft

import org.apache.spark.sql.functions._

/** Registry-level invariants + targeted semantics checks that the DuckDB
  * oracle can't express (the oracle validates values; these validate the
  * contract and edge semantics).
  */
class QueriesSpec extends SparkSpec {

  test("registry: unique names, oracle keys ⊆ query keys") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.size == names.size)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("registerTables opens the spark.sql surface over the full catalog") {
    graft.Graft.registerTables(spark, sf)
    val joined = spark.sql(
      """SELECT p.p_brand, count(*) AS n
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)
    assert(joined.count() > 0)
    val docs = spark.sql(
      "SELECT lang, count(*) AS n FROM documents GROUP BY 1")
    assert(docs.count() > 0)
    // every catalog table resolves
    graft.Graft.TableNames.foreach { t =>
      assert(spark.sql(s"SELECT * FROM $t LIMIT 1").columns.nonEmpty, t)
    }
    // the native kernels compose with the SQL surface — including the
    // implicit input coercion (winnow_fps on a STRING column)
    graft.plans.GraftExtensions.register(spark)
    val sketch = spark.sql(
      """SELECT doc_id, simhash60(text, 60) AS sh,
        |       size(shingle_hashes(text, 3)) AS n_sh,
        |       size(winnow_fps(text, 8, 4)) AS n_fp
        |FROM documents WHERE doc_id < 5""".stripMargin).collect()
    assert(sketch.nonEmpty && sketch.forall(_.getLong(1) >= 0L))
    // malformed calls fail at analysis with the function name, not with a
    // per-row ClassCastException at execution
    val e = intercept[Exception](spark.sql("SELECT simhash60(text) FROM documents"))
    assert(e.getMessage.contains("simhash60"))
  }

  test("entry() returns rows (t1 smoke shape)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("KMV distinct estimate within ~3 rsd of exact (k=256 ⇒ rsd ≈ 6%)") {
    val rows = operators.AnalyticOps.ApproxDistinct.run(spark, sf).collect()
    rows.foreach { r =>
      val exact = r.getLong(1).toDouble
      val approx = r.getDouble(2)
      assert(math.abs(approx - exact) / exact <= 0.2,
        s"${r.getString(0)}: kmv $approx vs exact $exact")
    }
  }

  test("safeDiv: zero denominator → 0.0, not null/NaN (A3 semantics)") {
    import spark.implicits._
    val df = Seq((1.0, 0.0), (4.0, 2.0), (0.0, 0.0)).toDF("num", "den")
    val got = df.select(functions.SafeMath.safeDiv(col("num"), col("den")))
      .collect().map(_.getDouble(0)).toSeq
    assert(got == Seq(0.0, 2.0, 0.0))
  }

  test("exactSum is repartition-invariant (A4 associativity concern)") {
    import spark.implicits._
    val vals = (1 to 1000).map(i => i * 0.01 + 1e10)
    val a = vals.toDF("x").repartition(1)
      .agg(functions.SafeMath.exactSum(col("x"))).head().getDouble(0)
    val b = vals.toDF("x").repartition(13)
      .agg(functions.SafeMath.exactSum(col("x"))).head().getDouble(0)
    assert(a == b) // bit-identical, not approx
  }

  test("mapAverage divides every map value by the count column (A5)") {
    import spark.implicits._
    val df = Seq(("L1", Map("a" -> 6L, "b" -> 3L), 3L))
      .toDF("id", "sums", "n")
    val got = operators.MapOps.mapAverage(df, "sums", "n")
      .select("sums_avg").head().getMap[String, Double](0)
    assert(got("a") == 2.0 && got("b") == 1.0)
  }

  test("map columns cross the CSV boundary via to_json/from_json (F4/F5)") {
    import spark.implicits._
    import org.apache.spark.sql.types.{LongType, MapType, StringType}
    val dir = java.nio.file.Files.createTempDirectory("graft_json").toString + "/t"
    val df = Seq(("a", Map("x" -> 1L, "y" -> 2L))).toDF("id", "m")
      .select(col("id"), to_json(col("m")).as("m_json"))
    graft.sources.Sources.writeSemicolonCsv(df, dir)
    val back = graft.sources.Sources.readSemicolonCsv(spark, dir)
      .select(col("id"), from_json(col("m_json"), MapType(StringType, LongType)).as("m"))
    val m = back.head().getMap[String, Long](1)
    assert(m("x") == 1L && m("y") == 2L)
  }

  test("mapSum/mapAvg handle arbitrary multi-key maps (A4/A5 generality)") {
    import spark.implicits._
    // keys differ per row and per group — the shape the single-key testdata
    // never exercises (heterogeneous keys, missing keys, spaces in keys)
    val events = Seq(
      ("t1", """{"a": 1, "b": 2}"""),
      ("t1", """{"a": 3, "c d": 5}"""),
      ("t2", """{"b": 7}""")).toDF("event_type", "props")
    val sums = operators.MapOps.mapSum(events).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(sums == Map(
      ("t1", "a") -> 4L, ("t1", "b") -> 2L, ("t1", "c d") -> 5L,
      ("t2", "b") -> 7L))
    val avgs = operators.MapOps.mapAvg(events).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    // divisor = events in the group (2 for t1), not rows carrying the key
    assert(avgs == Map(
      ("t1", "a") -> 2.0, ("t1", "b") -> 1.0, ("t1", "c d") -> 2.5,
      ("t2", "b") -> 7.0))
  }

  test("map reassembly produces sorted-entry maps (A4 determinism)") {
    import spark.implicits._
    val grouped = Seq(("t1", "b", 2L), ("t1", "a", 1L), ("t2", "c", 3L))
      .toDF("event_type", "prop_key", "total")
    val m = operators.MapOps.reassembleMap(grouped, "event_type")
      .collect().map(r => r.getString(0) -> r.getMap[String, Long](1).toSeq).toMap
    assert(m("t1") == Seq("a" -> 1L, "b" -> 2L))
    assert(m("t2") == Seq("c" -> 3L))
  }
}
