package graft.images

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.binaryfile.BinaryFileFormat
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** End-to-end: the full three-script-equivalent pipeline over a synthetic
  * sharded image tree, checked down to the golden stat files and compat
  * CSV (SURVEY §3 lifecycle as one run).
  */
class RunPipelineSpec extends SparkSpec {

  /** A 12-image tree sharded like the reference's (8 red images of L1, 4
    * blue of L2), with its labels and names; the config writes to `out`.
    */
  private def config(): RunPipeline.Config = {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_e2e").toString
    val imgDir = s"$root/images"
    for (i <- 0 until 12) {
      val dir = Paths.get(imgDir, s"${i % 2}", s"${i % 3}", s"${i % 4}")
      Files.createDirectories(dir)
      val color = if (i < 8) 0xFF0000 else 0x0000FF
      Files.write(dir.resolve(f"img$i%02d.png"),
        ImageOps.encodePng(ImageOps.Image(40, 40, Array.fill(1600)(color))))
    }
    val labels = (0 until 12).map(i => (f"img$i%02d", if (i < 8) "L1" else "L2"))
      .toDF("id", "landmark_id")
    val names = Seq(("L1", "Alcatraz"), ("L2", "Berlin Tower"))
      .toDF("landmark_id", "name")
    RunPipeline.Config(imgDir, labels, names, s"$root/out", classesOfInterest = Seq(0, 2))
  }

  test("RunPipeline produces checkpoints, compat CSV, and golden stats") {
    val cfg = config()
    val out = cfg.outDir
    RunPipeline.run(spark, cfg)

    // checkpoints exist and are re-readable parquet
    assert(spark.read.parquet(s"$out/predictions").count() == 12)
    assert(spark.read.parquet(s"$out/rollup").count() == 2)
    assert(spark.read.parquet(s"$out/colors").count() == 12)
    // compat CSV carries JSON-encoded maps
    val compat = graft.sources.Sources.readSemicolonCsv(spark, s"$out/results_predictions")
    assert(compat.columns.toSeq == Seq("id", "predictions"))
    assert(compat.count() == 12)
    // the remaining reference interchange files, exact column sets
    val perClass = graft.sources.Sources.readSemicolonCsv(
      spark, s"$out/results_predictions_per_class")
    assert(perClass.columns.toSeq ==
      Seq("landmark_id", "image_count", "predictions_sum", "averages"))
    assert(perClass.count() == 2)
    val dominant = graft.sources.Sources.readSemicolonCsv(spark, s"$out/results_dominant")
    assert(dominant.columns.toSeq == Seq("id", "average_color", "dominant_color"))
    assert(dominant.count() == 12)
    val domCount = graft.sources.Sources.readSemicolonCsv(
      spark, s"$out/results_dominant_count")
    assert(domCount.columns.toSeq == Seq("dominant_color", "count"))
    // golden stat files, reference byte format
    val alpha = Files.readString(Paths.get(out, "stats", "alphabet_count", "2.csv"))
    assert(alpha.startsWith("letter;count\n"))
    // red images → stub class 2 (r=255), one box each, under letter A (L1)
    assert(alpha.contains("A;8"))
    val primary = Files.readString(Paths.get(out, "stats", "closest_primary", "results.csv"))
    assert(primary.split("\n").length == 7) // header + 6 primaries

    // golden headers byte-for-byte, per the reference's write_results calls
    // (`pyspark_stats.py:96-98,198`) — these are what plots.py addresses
    val avg = Files.readString(Paths.get(out, "stats", "alphabet_count_avg", "2.csv"))
    assert(avg.startsWith("letter;avg_count\n"))
    val dogs = Files.readString(Paths.get(out, "stats", "dogs_by_name_length", "2.csv"))
    assert(dogs.startsWith("length_of_landmark_name;avg_detections\n"))
    assert(primary.startsWith("primary_color;count\n"))
    val ppl = Files.readString(
      Paths.get(out, "stats", "people_in_places_with_people", "0.csv"))
    assert(ppl.startsWith("files considered;avg_detections\n"))

    // stage 4: plots.py-parity emission ran against the same tree — every
    // chart exists under the reference's plots/<type>/ layout, and the CSV
    // columns resolved BY NAME (writeAll throws on any header drift)
    for (f <- Seq(
        "plots/closest_primary/results.html",
        "plots/alphabet_count/person.html",
        "plots/alphabet_count_avg/car.html",
        "plots/dogs_by_name_length/car.html",
        "plots/people_in_places_with_people/person.html",
        "plots/alphabet_count/heatmap.html",
        "plots/alphabet_count_avg/heatmap.html",
        "plots/avg_obj_per_city/heatmap.html"))
      assert(Files.exists(Paths.get(out, f)), s"missing $f")
    // the heatmap carries the merged letter axis from the golden CSVs
    val hm = Files.readString(Paths.get(out, "plots", "alphabet_count", "heatmap.html"))
    assert(hm.contains("<th>A</th>") && hm.contains("person"))
    // dashboard embeds only the panels this run's class set produced
    val dash = Files.readString(Paths.get(out, "dash.html"))
    assert(dash.contains("""src="./plots/alphabet_count_avg/person.html""""))
    assert(dash.contains("""src="./plots/closest_primary/results.html""""))
    assert(!dash.contains("dogs_by_name_length/dog.html")) // class 16 not in run
  }

  test("RunPipeline job budget: at most 15 Spark jobs, all in the caller's job group, " +
      "and one binaryFile scan per run") {
    val cfg = config()
    val group = "run-pipeline-budget"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    // groups of the jobs that start inside the run but outside its group
    val strays = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val drained = new java.util.concurrent.CountDownLatch(1)
    val jobListener = new SparkListener {
      // events arrive in order on one thread: only jobs between the
      // "started" and the "drained" marker jobs are the run's
      private var inRun = false
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some("started") => inRun = true
          case Some("drained") => inRun = false; drained.countDown()
          case Some(`group`) if inRun => jobs.incrementAndGet()
          case other if inRun => strays.add(other.getOrElse("<none>"))
          case _ =>
        }
    }
    // every binaryFile scan node of an executed plan, the ones inside a
    // cached relation included; a cached relation's plan is one object
    // however many plans read it, so a scan is counted as often as it runs
    val scans = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
    def collectScans(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => collectScans(a.executedPlan)
      case q: QueryStageExec => collectScans(q.plan)
      case m: InMemoryTableScanExec => collectScans(m.relation.cachedPlan)
      case s: FileSourceScanExec if s.relation.fileFormat.isInstanceOf[BinaryFileFormat] =>
        scans.add(s)
      case o => (o.children ++ o.subqueries).foreach(collectScans)
    }
    val planListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        scans.synchronized(collectScans(qe.executedPlan))
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val sc = spark.sparkContext
    def inGroup(g: String)(body: => Unit): Unit = {
      sc.setJobGroup(g, g)
      try body finally sc.clearJobGroup()
    }
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    try {
      inGroup("started")(sc.parallelize(Seq(1), 1).count())
      inGroup(group)(RunPipeline.run(spark, cfg))
      // once the drained marker's start is seen, every job of the run has
      // been counted
      inGroup("drained")(sc.parallelize(Seq(1), 1).count())
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(planListener)
    }
    // the run's tasks carry the caller's local properties: a job without
    // the group is one they lost, and would be missing from the count
    assert(strays.isEmpty, s"jobs outside the caller's group: $strays")
    assert(jobs.get() > 0 && jobs.get() <= 15, s"${jobs.get()} jobs")
    assert(scans.size == 1, s"${scans.size} binaryFile scans")
  }

  test("a failing output fails the run with its own exception and leaves nothing behind") {
    val healthy = config()
    RunPipeline.run(spark, healthy)
    // one green image more, on which the detector throws
    Files.write(Paths.get(healthy.imageDir, "0", "green.png"),
      ImageOps.encodePng(ImageOps.Image(40, 40, Array.fill(1600)(0x00FF00))))
    val failing = healthy.copy(outDir = s"${healthy.outDir}_failed",
      mkDetector = () => new RunPipelineSpec.FailingDetector)
    val e = intercept[Exception](RunPipeline.run(spark, failing))
    assert(!e.isInstanceOf[java.util.concurrent.CompletionException], e)
    assert(e.isInstanceOf[org.apache.spark.SparkException], e)
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[RunPipelineSpec.DetectorFailure]), e)
    val left = Thread.getAllStackTraces.keySet.asScala.map(_.getName)
      .filter(_.startsWith("graft-pipeline"))
    assert(left.isEmpty, left)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)

    // a healthy run in the same session writes the same stat files again
    Files.delete(Paths.get(healthy.imageDir, "0", "green.png"))
    val again = healthy.copy(outDir = s"${healthy.outDir}_again")
    RunPipeline.run(spark, again)
    def statFiles(out: String) = {
      val root = Paths.get(out, "stats")
      val walk = Files.walk(root)
      try walk.iterator.asScala.filter(Files.isRegularFile(_)).map(p =>
        root.relativize(p).toString -> Files.readString(p)).toMap
      finally walk.close()
    }
    val want = statFiles(healthy.outDir)
    assert(want.nonEmpty)
    assert(statFiles(again.outDir) == want)
  }

  test("Plots.readStat fails loudly on a header drift (plots.py KeyError parity)") {
    val dir = Files.createTempDirectory("graft_hdr")
    val f = dir.resolve("0.csv")
    Files.writeString(f, "letter;count\nA;1.0\n")
    assert(Plots.readStat(f, "letter", "count") == Seq(("A", 1.0)))
    intercept[IllegalArgumentException] {
      Plots.readStat(f, "letter", "avg_count") // the stale-golden-header bug
    }
  }
}

object RunPipelineSpec {
  final class DetectorFailure extends RuntimeException("detector failed on a green image")

  /** The stub detector, except that it throws on a green image. */
  final class FailingDetector extends Detection.Detector {
    private val stub = new Detection.StubDetector
    def detect(img: ImageOps.Image): Seq[Detection.Box] = {
      val (r, g, b) = ImageOps.averageColor(img)
      if (g > r && g > b) throw new DetectorFailure
      stub.detect(img)
    }
  }
}
