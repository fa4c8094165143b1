package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** Self-tests of the benchmark's own arithmetic and attribution. Prints
  * one line per check and exits non-zero if any fails.
  */
object SelfTest {
  private var failures = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val res = try ok catch { case e: Throwable => println(s"  threw $e"); false }
    println(s"${if (res) "ok  " else "FAIL"} $name")
    if (!res) failures += 1
  }

  def main(args: Array[String]): Unit = {
    // ---- percentiles
    check("nearest-rank p90 of 1..100 is 90")(Stats.percentile((1 to 100).map(_.toDouble), 90) == 90.0)
    check("median of even count")(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)

    check("a pass sums the per-operation minima")(
      Stats.passMs(Map("a" -> Seq(1.0, 9.0, 2.0), "b" -> Seq(10.0, 30.0, 20.0))) == 11.0)

    // ---- kernel rate: the select's fixed cost is left out
    check("16 MB in 1.5 s against 0.5 s bare is 16 MB/s")(Stats.kernelRate(16, 1.5, 0.5) == 16.0)
    check("a kernel below the noise reads 1 ms")(Stats.kernelRate(2, 0.4, 0.5) == 2000.0)

    // ---- trace overhead: traced median over untraced median, minus one
    check("trace overhead of 1.2 s over 1.0 s is 0.2")(
      math.abs(Stats.traceOverheadFrac(Seq(1.1, 1.2, 1.9), Seq(1.0, 0.9, 1.0)) - 0.2) < 1e-12)
    check("no overhead when equal")(Stats.traceOverheadFrac(Seq(2.0, 2.0), Seq(2.0, 2.0)) == 0.0)

    // ---- image stage attribution from call sites
    val stages = new ImageStages(Seq(10 -> "detect", 40 -> "colors", 60 -> "stats", 90 -> "write"))
    def site(line: Int, extra: String = "") =
      s"org.apache.spark.sql.Dataset.collect(Dataset.scala:1)\n$extra" +
        s"graft.images.RunPipeline$$.run(RunPipeline.scala:$line)\nperfbench.Harness$$.main(Harness.scala:1)"
    check("stage 1 line is detect")(stages.classify(site(20)) == "detect")
    check("stage 2 line is colors")(stages.classify(site(45)) == "colors")
    check("stage 3 line is stats")(stages.classify(site(70)) == "stats")
    check("helper frames above the sections are skipped")(stages.classify(
      site(70, "graft.images.RunPipeline$.writeStat$1(RunPipeline.scala:5)\n")) == "stats")
    check("CSV write is write")(stages.classify(
      site(20, "graft.sources.Sources$.writeSemicolonCsv(Sources.scala:23)\n")) == "write")
    check("jobs outside the pipeline have no stage")(stages.classify("graft.Foo$.bar(Foo.scala:3)") == "")

    val work = Files.createTempDirectory("perfbench-selftest")
    val runner = new Runner
    runner.spark = Harness.newSession(2, work)
    val spark = runner.spark
    try {
      // ---- an operation that throws is failed, not fast
      val ops = Seq(
        Op("good", "text", _ => spark.range(1000).write.format("noop").mode("overwrite").save()),
        Op("bad", "dedup", _ => throw new IllegalStateException("boom")))
      val (_, recs) = runner.runPass(0, ops, None)
      check("throwing op recorded as failed")(recs.find(_.name == "bad").exists(!_.ok))
      check("throwing op's error is kept")(runner.errors.get("bad").exists(_.contains("boom")))
      check("good op recorded as ok")(recs.find(_.name == "good").exists(_.ok))

      // ---- listener attribution to operations and families
      val tracer = new Tracer(new ImageStages(Nil))
      tracer.attach(spark)
      val traced = Seq(
        Op("shuffle", "text", _ => spark.range(100).repartition(2).write.format("noop").mode("overwrite").save()),
        Op("one_count", "dedup", _ => spark.range(10).count()),
        Op("two_counts", "dedup", _ => { spark.range(10).count(); spark.range(10).count() }),
        Op("also_text", "text", _ => spark.range(5).collect()))
      runner.runPass(1, traced, Some(tracer))
      tracer.detach(spark)
      val l = tracer.ledger
      def jobs(op: String) = l.counters(l.byOp, op).jobs
      check("an action is charged to its op")(jobs("one_count") >= 1)
      check("two actions are charged twice")(jobs("two_counts") == 2 * jobs("one_count"))
      check("a family sums its ops")(l.counters(l.byFamily, "text").jobs == jobs("shuffle") + jobs("also_text"))
      check("tasks charged to the shuffle op")(l.counters(l.byOp, "shuffle").tasks >= 2)
      check("shuffle records charged to the shuffle op")(l.counters(l.byOp, "shuffle").shuffleRecords == 100)
      check("no shuffle charged to the counts")(l.counters(l.byFamily, "dedup").shuffleRecords ==
        l.counters(l.byOp, "one_count").shuffleRecords + l.counters(l.byOp, "two_counts").shuffleRecords)
      check("totals equal the sum over ops")(l.total.tasks == l.byOp.values.map(_.tasks).sum)
      check("noop write planning recorded")(tracer.planMs.contains("shuffle"))
    } finally spark.stop()
    if (failures > 0) { println(s"$failures self-tests failed"); sys.exit(1) }
    println("all self-tests passed")
  }
}
