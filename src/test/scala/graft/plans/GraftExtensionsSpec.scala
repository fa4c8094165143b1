package graft.plans

import graft.SparkSpec

/** SQL-surface registration. Uses the shared session + runtime `register`
  * (building a second SparkSession here would stop the JVM-wide context
  * under the other suites; the builder hook is the same injection code).
  */
class GraftExtensionsSpec extends SparkSpec {

  test("quantize_vec / dot_long usable from SQL after registration") {
    import spark.implicits._
    GraftExtensions.register(spark)
    Seq((Seq(0.1f, 0.2f), Seq(0.3f, 0.4f))).toDF("a", "b")
      .createOrReplaceTempView("vecs")
    val got = spark.sql(
      "SELECT dot_long(quantize_vec(a), quantize_vec(b)) AS d FROM vecs")
      .head().getLong(0)
    assert(got == 100000L * 300000L + 200000L * 400000L)
  }

  test("the as-of query installs its planner strategy and leaves the " +
    "registered SQL functions alone") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
    val reg = spark.sessionState.functionRegistry
    val sentinel: Seq[Expression] => Expression = _ => Literal(1)
    reg.createOrReplaceTempFunction("count_eq", sentinel, "built-in")
    spark.experimental.extraStrategies = spark.experimental.extraStrategies
      .filterNot(_ == AsOfJoinPlan.AsOfStrategy)
    try {
      val q = graft.operators.AsOfJoin.PurchaseAttribution.run(spark, sf)
      assert(q.queryExecution.executedPlan.toString.contains("AsOfJoin"))
      assert(spark.experimental.extraStrategies
        .count(_ == AsOfJoinPlan.AsOfStrategy) == 1)
      assert(reg.lookupFunctionBuilder(FunctionIdentifier("count_eq"))
        .exists(_ eq sentinel), "count_eq was re-registered")
    } finally GraftExtensions.register(spark)
  }
}
