package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The harness walk: [[SparkEntry.sweep]] isolates failures and releases
  * cached state between queries; [[SparkEntry.selected]] parses the
  * harness mains' name lists.
  */
class SweepSpec extends SparkSpec {

  private def query(n: String)(body: SparkSession => DataFrame): GraftQuery =
    new GraftQuery {
      val name = n
      val oracle = None
      def run(spark: SparkSession, sfDir: String): DataFrame = body(spark)
    }

  private val names = Seq("q_a", "q_b", "q_c")
  private val plain = names.map(n => query(n)(_.range(1).toDF()))

  test("a query that throws is recorded by name and the next query still runs") {
    val boom = new IllegalStateException("boom")
    val qs = Seq(query("q_a")(_ => throw boom), query("q_b")(_.range(3).toDF()))
    val swept = SparkEntry.sweep(spark, qs)(_.run(spark, sf).count())
    assert(swept.failed == Seq("q_a" -> boom))
    assert(swept.results == Seq("q_b" -> 3L))
  }

  test("frames a query persists are gone before the next query starts") {
    val qs = Seq(
      query("q_a") { s =>
        s.sparkContext.parallelize(1 to 3).persist().count()
        // a plan no other suite caches, so persist() makes a new entry
        s.range(17).selectExpr("id * 31 AS sweep_probe").persist()
      },
      query("q_b")(_.range(1).toDF()))
    // per query: the persistent RDDs at its start, and after its count
    val swept = SparkEntry.sweep(spark, qs) { q =>
      val before = spark.sparkContext.getPersistentRDDs.keySet
      q.run(spark, sf).count()
      (before, spark.sparkContext.getPersistentRDDs.keySet)
    }
    val Seq(("q_a", (aStart, aEnd)), ("q_b", (atStart, _))) = swept.results
    assert((aEnd -- aStart).size == 2, "q_a persists a Dataset and an RDD")
    assert(atStart.isEmpty, s"RDDs still persisted when q_b starts: $atStart")
  }

  test("selected trims every listed name") {
    def pick(env: (String, String)*) = SparkEntry.selected(plain, env.toMap).map(_.name)
    assert(pick("SPARK_GRAFT_ONLY" -> " q_a , q_b ") == Seq("q_a", "q_b"))
    assert(pick("SPARK_GRAFT_SKIP" -> " q_b ") == Seq("q_a", "q_c"))
    assert(pick("SPARK_GRAFT_ONLY" -> "q_a,q_c", "SPARK_GRAFT_SKIP" -> "q_c") == Seq("q_a"))
    assert(pick() == names)
  }
}
