package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL-surface registration for the engine's native expressions, via the
  * standard `SparkSessionExtensions` hook:
  *
  * {{{
  *   SparkSession.builder().withExtensions(new GraftExtensions)...
  *   // or: spark.sql.extensions=graft.plans.GraftExtensions
  *   spark.sql("SELECT dot_long(quantize_vec(a), quantize_vec(b)) FROM t")
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.builders.foreach { case (name, className, builder) =>
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(className, name),
        builder))
    }
    ext.injectPlannerStrategy(_ => AsOfJoinPlan.AsOfStrategy)
  }
}

object GraftExtensions {

  import org.apache.spark.sql.catalyst.expressions.Cast
  import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType,
    FloatType, LongType, StringType}

  /** Resolution-time validation: failures here surface during analysis
    * with the function name in the message, instead of a per-row
    * ClassCastException deep inside execution.
    */
  private def checkArity(fn: String, cs: Seq[Expression], n: Int): Seq[Expression] = {
    require(cs.length == n, s"$fn expects $n arguments, got ${cs.length}")
    cs
  }

  /** A scalar int parameter of a SQL-surface kernel call (gram length,
    * bit width …) — must be a non-null foldable INTEGRAL literal in int
    * range (a fractional or overflowing literal is rejected, never
    * silently truncated: `shingle_hashes(text, 2.9)` is a bug, not
    * 2-grams).
    */
  private def intArg(e: Expression, fn: String): Int = {
    require(e.foldable, s"$fn expects a literal integer argument")
    e.eval() match {
      case n @ (_: java.lang.Byte | _: java.lang.Short |
                _: java.lang.Integer | _: java.lang.Long) =>
        val l = n.asInstanceOf[Number].longValue()
        require(l == l.toInt, s"$fn: integer argument $l out of int range")
        l.toInt
      case null => throw new IllegalArgumentException(
        s"$fn: literal integer argument must not be NULL")
      case other => throw new IllegalArgumentException(
        s"$fn expects a literal integer argument, got $other")
    }
  }

  /** Implicit input coercion for the data child (the natural SQL call is
    * `winnow_fps(text, 8, 4)` on a string column — same-type casts are
    * simplified away by Catalyst, wrong-but-castable types coerce like
    * any built-in function).
    */
  private def coerced(e: Expression, to: DataType): Expression = Cast(e, to)

  /** Every native kernel with a plain child signature, as SQL functions:
    * (name, implementing class for DESCRIBE FUNCTION, builder).
    * (minhash_sig / lsh_keys embed build-time constant tables — they stay
    * Column-API-only by design.)
    */
  private[plans] val builders: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("quantize_vec", classOf[VectorExpressions.QuantizeVec].getName,
      (cs: Seq[Expression]) =>
        VectorExpressions.QuantizeVec(coerced(
          checkArity("quantize_vec", cs, 1).head, ArrayType(FloatType)))),
    ("dot_long", classOf[VectorExpressions.DotLong].getName,
      (cs: Seq[Expression]) => {
        // coerce elements to long: the kernels read 8-byte strides, so an
        // uncast array<int>/array<double> would be read as garbage under
        // codegen, not rejected
        checkArity("dot_long", cs, 2)
        VectorExpressions.DotLong(
          coerced(cs(0), ArrayType(LongType)), coerced(cs(1), ArrayType(LongType)))
      }),
    ("count_eq", classOf[VectorExpressions.CountEq].getName,
      (cs: Seq[Expression]) => {
        checkArity("count_eq", cs, 2)
        VectorExpressions.CountEq(
          coerced(cs(0), ArrayType(LongType)), coerced(cs(1), ArrayType(LongType)))
      }),
    ("shingle_hashes", classOf[ShingleExpression.ShingleHashes].getName,
      (cs: Seq[Expression]) => {
        checkArity("shingle_hashes", cs, 2)
        ShingleExpression.ShingleHashes(coerced(cs.head, StringType),
          intArg(cs(1), "shingle_hashes"))
      }),
    ("shingle_strings", classOf[ShingleExpression.ShingleStrings].getName,
      (cs: Seq[Expression]) => {
        checkArity("shingle_strings", cs, 2)
        ShingleExpression.ShingleStrings(coerced(cs.head, StringType),
          intArg(cs(1), "shingle_strings"))
      }),
    ("winnow_fps", classOf[WinnowExpression.WinnowFps].getName,
      (cs: Seq[Expression]) => {
        checkArity("winnow_fps", cs, 3)
        WinnowExpression.WinnowFps(coerced(cs.head, BinaryType),
          intArg(cs(1), "winnow_fps"), intArg(cs(2), "winnow_fps"))
      }),
    ("simhash60", classOf[SimHashExpression.SimHash60].getName,
      (cs: Seq[Expression]) => {
        checkArity("simhash60", cs, 2)
        SimHashExpression.SimHash60(coerced(cs.head, StringType),
          intArg(cs(1), "simhash60"))
      }))

  /** Same registrations on an already-built session (builder extensions
    * only bind at session construction).
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, _, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
    installAsOfStrategy(spark)
  }

  /** Add the as-of join planner strategy to an already-built session,
    * once: `experimental.extraStrategies` is the public runtime hook for
    * planner strategies, and a session that already holds it is left
    * unchanged.
    */
  def installAsOfStrategy(spark: org.apache.spark.sql.SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(AsOfJoinPlan.AsOfStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinPlan.AsOfStrategy
}
