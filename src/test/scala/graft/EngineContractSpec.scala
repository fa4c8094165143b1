package graft

import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
import org.apache.spark.sql.types.{ArrayType, MapType, StructType}

/** Engine-level contracts enforced across the ENTIRE query registry, not
  * per-operator: the rows smoke check, plan-shape invariants the 100 TB
  * design stance promises, the comparator's column contract, and the
  * determinism property the driver's hash-compare gate assumes.
  *
  * The registry is walked twice in all, through [[SparkEntry.sweep]]: one
  * sweep calls each query's `run()` once and reads every contract off that
  * one result; one rerun under other planner confs checks determinism.
  * Each test lists every offending query by name before it fails, and a
  * query that threw is an offender in every test.
  */
class EngineContractSpec extends SparkSpec {
  import EngineContractSpec.Seen

  private lazy val seen: SparkEntry.Swept[Seen] =
    SparkEntry.sweep(spark, SparkEntry.registry) { q =>
      val df = q.run(spark, sf)
      val qe = df.queryExecution
      // a non-broadcast CartesianProduct would be a scale bug anywhere;
      // broadcast nested-loop joins against literal/bounded sides are fine
      // (brute-force cosine, IVF centroid assignment, contains-theta dims).
      // Read before execution, as planned.
      val cartesian = qe.executedPlan.toString.contains("CartesianProduct")
      // A Window with an EMPTY partitionSpec funnels the whole frame into a
      // single task silently. Policy: data-sized frames use the distributed
      // two-phase decompositions ([[Dist]], bucket prefix sums); provably
      // bounded frames (bucket offsets, top-K heads, replica counts) mark
      // the audited single partition EXPLICITLY with Dist.boundedOne. The
      // check reads the OPTIMIZED plan — a foldable marker like lit(0) is
      // stripped by the optimizer and would fail here, which is the point:
      // only markers that survive to execution count.
      val partitionless = qe.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }.nonEmpty
      // the driver's comparator sorts columns BY NAME and hashes cell values
      // on the pandas side: duplicate names make the sort ambiguous, and
      // array/map/struct cells are unhashable there (this silently broke
      // q_binary_scan in round 1 until its arrays were flattened)
      val problems = if (q.oracle.isEmpty) Nil else {
        val names = df.schema.fields.map(_.name)
        val dup =
          if (names.distinct.length == names.length) Nil
          else Seq(s"duplicate column names: ${names.mkString(",")}")
        dup ++ df.schema.fields.collect {
          case f if f.dataType.isInstanceOf[ArrayType] ||
              f.dataType.isInstanceOf[MapType] ||
              f.dataType.isInstanceOf[StructType] =>
            s"${f.name} is nested-typed (${f.dataType}); flatten or serialize for the comparator"
        }
      }
      // one collect() forces every output column of every row (a count()
      // would let Catalyst prune a broken computed column)
      Seen(df.collect().map(_.toString).toSeq, cartesian, partitionless, problems)
    }

  private def threw(swept: SparkEntry.Swept[_]): Seq[String] =
    swept.failed.map { case (name, e) =>
      s"$name: ${e.getClass.getSimpleName} " +
        String.valueOf(e.getMessage).linesIterator.take(2).mkString(" ")
    }

  /** Fails listing `offenders` plus every query that threw in [[seen]] or
    * in `more`.
    */
  private def noOffenders(what: String, offenders: Seq[String],
      more: SparkEntry.Swept[_]*): Unit = {
    val all = (seen +: more).flatMap(threw) ++ offenders
    assert(all.isEmpty, s"\n${all.size} queries $what:\n${all.mkString("\n")}")
  }

  private def offenders(bad: Seen => Boolean): Seq[String] =
    seen.results.collect { case (name, s) if bad(s) => name }

  test("every registered query runs and returns rows at sf0.001") {
    // sweep the whole registry before failing so one regression doesn't
    // mask the others (round 4 broke 35 queries with a single testdata
    // type change)
    noOffenders("failed", offenders(_.rows.isEmpty).map(_ + ": 0 rows"))
  }

  test("no query plans an unbounded CartesianProduct") {
    noOffenders("plan a CartesianProduct", offenders(_.cartesian))
  }

  test("no partitionless Window in any registered query's plan") {
    noOffenders("plan a partitionless Window", offenders(_.partitionlessWindow))
  }

  test("oracle-backed queries emit flat, uniquely named columns") {
    noOffenders("break the flat-column contract",
      seen.results.flatMap { case (name, s) => s.problems.map(p => s"$name: $p") })
  }

  test("every query is bit-deterministic across shuffle-partition counts") {
    // the driver's correctness gate hash-compares result sets, so results
    // must not depend on partitioning or on the planner: total output
    // order, decimal-exact / integer-exact aggregation, total tie-breaks
    // in every window. The rerun changes the partition count (different
    // merge orders, partial-aggregation trees and sort merges) and turns
    // AQE off (static join strategies, no partition coalescing).
    val base = seen.results.toMap
    val again = Graft.withConfs(spark, "spark.sql.shuffle.partitions" -> "7",
        "spark.sql.adaptive.enabled" -> "false") {
      SparkEntry.sweep(spark, SparkEntry.registry.filter(q => base.contains(q.name))) { q =>
        q.run(spark, sf).collect().map(_.toString).toSeq
      }
    }
    noOffenders("are not deterministic", again.results.collect {
      case (name, rows) if rows != base(name).rows =>
        s"$name: output depends on shuffle partitioning or AQE"
    }, again)
  }
}

object EngineContractSpec {

  /** What one run of a query shows. `problems` are its flat-column
    * violations (oracle-backed queries only).
    */
  private final case class Seen(rows: Seq[String], cartesian: Boolean,
      partitionlessWindow: Boolean, problems: Seq[String])
}
