package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Random

import graft.{GraftQuery, SparkEntry, Verify}
import graft.images.RunPipeline
import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One operation of a pass: a query (run() then a noop write) or one
  * pipeline run.
  */
final case class Op(name: String, family: String, body: OpTimer => Unit)

/** Phase clock an operation body fills in. */
final class OpTimer { var runNs = 0L; var writeNs = 0L }

/** One timed pass: wall seconds, process CPU seconds less the JIT
  * compiler's, and the share of the machine's CPU time the hypervisor
  * took meanwhile (steal).
  */
final case class PassStat(traced: Boolean, wallS: Double, cpuS: Double, stealFrac: Double)

/** Host CPU accounting from /proc/stat. */
object Host {
  /** (steal ticks, all ticks) summed over the machine's CPUs. */
  def cpuTicks(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val t = f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (t.length > 7) t(7) else 0L, t.take(8).sum)
    } finally f.close()
  }

  def stealFrac(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) (b._1 - a._1).toDouble / (b._2 - a._2) else 0.0
}

final case class Record(pass: Int, name: String, family: String, traced: Boolean,
    ok: Boolean, ms: Double, runMs: Double, writeMs: Double)

/** The listeners of a traced run and what they collect between passes. */
final class Tracer(stages: ImageStages) {
  val ledger = new Ledger
  val plans = new PlanLedger
  /** Pipeline wall seconds by stage, summed over the traced passes. */
  val stageS = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var sampler: Option[StageSampler] = None
  val cachedMb = mutable.ArrayBuffer.empty[Double]
  val planMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val spans = mutable.ArrayBuffer.empty[String]

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(ledger)
    spark.listenerManager.register(plans)
    if (stages.nonEmpty) sampler = Some(new StageSampler(stages, Thread.currentThread))
  }

  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(ledger)
    spark.listenerManager.unregister(plans)
    sampler.foreach { s =>
      s.stop()
      Seq("detect", "colors", "stats", "write").foreach(k => stageS(k) += s.of(k))
    }
    sampler = None
  }

  /** After an operation: wait for its events, then read what they left. */
  def afterOp(spark: SparkSession, pass: Int, op: Op, startNs: Long, ms: Double, t: OpTimer): Unit = {
    val sc = spark.sparkContext
    org.apache.spark.PerfbenchBridge.drainListeners(sc)
    cachedMb += sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
    val p = Option(plans.lastSavePlanMs.remove(op.name)).map(_.doubleValue).getOrElse(0.0)
    planMs(op.name) += p
    spans += f"""{"span":"op","pass":$pass,"op":"${op.name}","family":"${op.family}",""" +
      f""""start_ns":$startNs,"ms":$ms%.3f,"run_ms":${t.runNs / 1e6}%.3f,"plan_ms":$p%.3f}"""
  }

  def jobSpans: Seq[String] = ledger.jobSpans.toSeq.map { case (id, t, s, e) =>
    s"""{"span":"job","job":$id,"op":"${t.op}","family":"${t.family}",""" +
      s""""start_ms":$s,"end_ms":$e}"""
  }
}

/** Runs passes of operations against the current session. A failing
  * operation is recorded as failed, never as a fast one.
  */
final class Runner {
  var spark: SparkSession = _
  val errors = mutable.LinkedHashMap.empty[String, String]

  def runPass(pass: Int, ops: Seq[Op], tracer: Option[Tracer],
      afterOp: () => Unit = () => ()): (Double, Seq[Record]) = {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    val recs = ops.map { op =>
      sc.setLocalProperty("perfbench.op", op.name)
      sc.setLocalProperty("perfbench.family", op.family)
      tracer.foreach(_.plans.currentOp = op.name)
      val timer = new OpTimer
      val s = System.nanoTime()
      val ok =
        try { op.body(timer); true }
        catch { case e: Throwable =>
          errors.getOrElseUpdate(op.name,
            s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
          false
        }
      val ms = (System.nanoTime() - s) / 1e6
      tracer.foreach(_.afterOp(spark, pass, op, s, ms, timer))
      afterOp()
      sc.setLocalProperty("perfbench.op", null)
      sc.setLocalProperty("perfbench.family", null)
      Harness.release(spark)
      Record(pass, op.name, op.family, tracer.isDefined, ok, ms, timer.runNs / 1e6,
        timer.writeNs / 1e6)
    }
    ((System.nanoTime() - t0) / 1e9, recs)
  }
}

/** The benchmark's JVM side: sets up a session, runs one
  * workload's passes for a fixed time, checks outputs, and writes every
  * figure to a JSON file that run.py turns into the result line.
  *
  *   Harness <workload> <seed> <seconds> <trace 0|1> <inputs> <workDir> <result.json> <repoRoot> <cores>
  */
object Harness {

  /** Registry sample, named by run.py in SPARK_GRAFT_ONLY: the variable
    * graft.Verify reads to dump only these queries.
    */
  lazy val RegistryQueries: Seq[String] =
    sys.env.getOrElse("SPARK_GRAFT_ONLY", "").split(",").filter(_.nonEmpty).toSeq

  /** Warm passes before timing: codegen, lazy fixtures and the bulk of
    * the JIT's work. The JIT keeps making passes faster for much longer
    * (about 15 registry passes), so what a run times is a point on that
    * curve; the pass counts below keep it the same point in every run.
    */
  val WarmPasses = Map("landmarks" -> 2, "registry" -> 2)
  /** Fewest timed passes. With a short `--seconds` these decide the timed
    * region on a slow or a fast host alike: five registry passes (2-5 s
    * each), three pipeline passes (4-8 s each; a run has to stay near 60 s).
    */
  val MinPasses = Map("landmarks" -> 3, "registry" -> 5)
  /** Cap on the timed region, so a run ends well inside its time limit. */
  val MaxTimedS = 90.0

  /** Detection classes the landmarks pipeline computes stats for (person). */
  val LandmarkClasses: Seq[Int] = Seq(0)

  def family(q: GraftQuery): String = q.getClass.getName.split('.') match {
    case Array("graft", f, _*) => f
    case _ => "other"
  }

  lazy val byName: Map[String, GraftQuery] = SparkEntry.registry.map(q => q.name -> q).toMap

  def newSession(cores: Int, dir: Path): SparkSession = {
    Files.createDirectories(dir.resolve("tmp"))
    // media fixtures land under java.io.tmpdir: a fresh one per session
    System.setProperty("java.io.tmpdir", dir.resolve("tmp").toString)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Bench's fixed probe: 20M xxhash64 calls summed, timed in seconds. */
  def probe(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions.{col, lit, pmod, sum, xxhash64}
    val t0 = System.nanoTime()
    spark.range(20L * 1000 * 1000).select(sum(pmod(xxhash64(col("id")), lit(1000003L))))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Bench's protocol between queries: drop cached frames, blocking. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** One run of the reference pipeline over the landmark tree. */
  def pipelineOp(spark: => SparkSession, inputs: Path, imageRoot: Path, out: String): Op =
    Op("pipeline", "images", _ =>
      RunPipeline.run(spark, RunPipeline.Config(imageRoot.toString,
        Sources.readSemicolonCsv(spark, inputs.resolve("landmarks/labels.csv").toString),
        Sources.readSemicolonCsv(spark, inputs.resolve("landmarks/names.csv").toString),
        out, classesOfInterest = LandmarkClasses)))

  /** Where a query's result goes: Bench's noop write in timed passes. */
  type Sink = (String, DataFrame) => Unit
  val noopSink: Sink = (_, df) => df.write.format("noop").mode("overwrite").save()

  def queryOp(q: GraftQuery, dir: String, spark: => SparkSession, sink: Sink = noopSink): Op =
    Op(q.name, family(q), t => {
      val t0 = System.nanoTime()
      val df = q.run(spark, dir)
      val t1 = System.nanoTime()
      sink(q.name, df)
      t.runNs = t1 - t0
      t.writeNs = System.nanoTime() - t1
    })

  /** The oracle of a query, unless it reads media fixtures: those oracles
    * name the fixture paths of the test data, not of these inputs.
    */
  def usableOracle(name: String): Option[String] =
    byName(name).oracle.filterNot(sql => Seq("read_blob", "/tmp/", "read_text").exists(sql.contains))

  def rowsHash(df: DataFrame): Int = df.collect().map(_.toString).toSeq.hashCode

  /** Result checks of the registry queries without a usable oracle: the
    * warm pass writes through [[sink]], which keeps their result hash, and
    * after the timed region [[verify]] runs each once more and requires the
    * same hash. The others are dumped by graft.Verify and compared with
    * their oracle by tools/compare.py.
    */
  final class QueryChecks {
    private val hashes = mutable.LinkedHashMap.empty[String, Int]

    val sink: Sink = (name, df) =>
      if (usableOracle(name).isDefined) noopSink(name, df) else hashes(name) = rowsHash(df)

    def verify(spark: SparkSession, dir: String): Map[String, String] =
      hashes.toSeq.flatMap { case (n, h) =>
        val again = try rowsHash(byName(n).run(spark, dir)) catch { case _: Throwable => h + 1 }
        release(spark)
        if (again == h) None else Some(n -> s"result hash differs between passes: $h, $again")
      }.toMap
  }

  /** Progress line on stderr, seconds since JVM start. */
  def progress(msg: String): Unit = System.err.println(
    f"[perfbench] ${(System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.1f s $msg")

  def main(args: Array[String]): Unit = {
    if (args(0) == "train") return train(Paths.get(args(1)), Paths.get(args(2)), args(3).toInt)
    val Array(workload, seedS, secondsS, traceS, inputsS, workS, resultS, repoS, coresS) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val inputs = Paths.get(inputsS)
    val work = Paths.get(workS)
    val cores = coresS.toInt
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    // ---- images only the JVM can render; cached per seed, not set-up time
    val tRender = System.nanoTime()
    val entries = Landmarks.manifest(inputs.resolve("landmarks"))
    val imageRoot =
      if (workload == "landmarks" || trace) Landmarks.ensureTree(inputs.resolve("landmarks"), entries)
      else null
    val renderNs = System.nanoTime() - tRender
    val tables = inputs.resolve("tables").toString
    val corpusTables = inputs.resolve("corpus").toString

    val runner = new Runner
    def spark = runner.spark
    var pipelineOut = ""
    val checks = new QueryChecks
    def ops(pass: Int, sink: Sink = noopSink): Seq[Op] = workload match {
      case "landmarks" =>
        pipelineOut = work.resolve(s"out/pass-$pass").toString
        Seq(pipelineOp(spark, inputs, imageRoot, pipelineOut))
      case "registry" =>
        new Random(seed * 7919 + pass).shuffle(RegistryQueries).map(n => queryOp(byName(n), tables, spark, sink))
    }

    // ---- set-up: JVM start to the end of the warm passes in a fresh
    // session (lazy fixtures, codegen, JIT), less the image rendering. The
    // first warm pass writes the query results the checks read. The last
    // one runs a full GC after each operation, before its cached frames
    // are released, and keeps the largest live heap.
    runner.spark = newSession(cores, work.resolve("session"))
    progress("session up")
    val mem = ManagementFactory.getMemoryMXBean
    var liveHeapMb = 0.0
    val nWarm = WarmPasses(workload)
    runner.runPass(-1, ops(-1, checks.sink), None)
    (2 until nWarm).foreach(k => runner.runPass(-k, ops(-k), None))
    runner.runPass(-nWarm, ops(-nWarm), None, () => {
      // the listeners' stores take their share of the heap once drained
      org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
      System.gc()
      liveHeapMb = math.max(liveHeapMb, mem.getHeapMemoryUsage.getUsed / 1e6)
    })
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - renderNs / 1e9
    progress("set-up done")

    // ---- timed region; a traced run alternates untraced and traced
    // passes, so the overhead of tracing is measured on the same inputs
    val tracer = if (!trace) None else Some(new Tracer(
      if (workload == "landmarks") ImageStages.fromSource(Paths.get(repoS, "src/main/scala/graft/images/RunPipeline.scala"))
      else new ImageStages(Nil)))
    val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    // the JIT compiles for many passes, on its own threads, at a pace the
    // host sets: its time (summed over compiler threads) is not the program's
    val jit = ManagementFactory.getCompilationMXBean
    val records = mutable.ArrayBuffer.empty[Record]
    val passes = mutable.ArrayBuffer.empty[PassStat]
    def short(traced: Boolean) = passes.count(_.traced == traced) < MinPasses(workload)
    val tStart = System.nanoTime()
    def elapsed = (System.nanoTime() - tStart) / 1e9
    var pass = 0
    while ((elapsed < seconds || short(false) || (trace && short(true))) && elapsed < MaxTimedS) {
      val t = tracer.filter(_ => pass % 2 == 1)
      t.foreach(_.attach(spark))
      val cpu0 = os.getProcessCpuTime / 1e9 - jit.getTotalCompilationTime / 1e3
      val host0 = Host.cpuTicks()
      val (dt, recs) = runner.runPass(pass, ops(pass), t)
      t.foreach(_.detach(spark))
      records ++= recs
      passes += PassStat(t.isDefined, dt, os.getProcessCpuTime / 1e9 - jit.getTotalCompilationTime / 1e3 - cpu0,
        Host.stealFrac(host0, Host.cpuTicks()))
      progress(f"pass $pass${if (t.isDefined) " (traced)" else ""}: $dt%.2f s, steal ${passes.last.stealFrac}%.3f")
      pass += 1
    }
    val untraced = passes.filterNot(_.traced).toSeq
    val passS = untraced.map(_.wallS)
    val tracedPassS = passes.filter(_.traced).map(_.wallS).toSeq

    // peak resident memory outside the heap over set-up and the timed
    // region: the heap is fixed and pre-touched, so VmHWM less the heap
    val offHeapMb = Layers.rssPeakMb() - mem.getHeapMemoryUsage.getCommitted / 1e6
    progress(f"memory: live heap $liveHeapMb%.1f MB, outside the heap $offHeapMb%.1f MB")

    // ---- output checks (outside the timed region)
    val checkFailures = workload match {
      case "landmarks" =>
        val sample = new Random(seed).shuffle(entries).take(8)
        Landmarks.check(spark, imageRoot, sample, pipelineOut).headOption.map("pipeline" -> _).toMap
      case "registry" => checks.verify(spark, tables)
    }
    progress("checks done")

    // ---- per-layer figures (traced runs only)
    val layer = mutable.LinkedHashMap.empty[String, Double]
    tracer.foreach { tr =>
      val nTraced = tracedPassS.size
      layer ++= Layers.sparkMetrics(tr.ledger, tr.plans, tr.cachedMb.toSeq, tracedPassS, cores)
      layer("trace_overhead_frac") = Stats.traceOverheadFrac(tracedPassS, passS)
      val lat = records.filter(r => !r.traced && r.ok).map(_.ms).toSeq
      layer("ops.samples") = lat.size
      layer("ops.ms_p50") = Stats.percentile(lat, 50)
      layer ++= Layers.imageStages(tr.stageS, tr.plans,
        if (workload == "landmarks") Landmarks.treeBytes(imageRoot, entries) else 0L, nTraced)
      // families: the registry sample's own traced passes, or one traced
      // pass of that sample on this seed's tables for the other workloads
      if (workload == "registry")
        layer ++= Layers.families(records.filter(_.traced).toSeq, tr.planMs.toMap, tr.ledger, nTraced)
      else {
        val fam = new Tracer(new ImageStages(Nil))
        fam.attach(spark)
        val (_, recs) = runner.runPass(0, RegistryQueries.map(n => queryOp(byName(n), tables, spark)), Some(fam))
        fam.detach(spark)
        layer ++= Layers.families(recs, fam.planMs.toMap, fam.ledger, 1)
      }
      progress("families done")
      layer ++= Layers.images(entries, imageRoot)
      progress("images done")
      layer ++= Layers.multimodal(entries, imageRoot)
      progress("multimodal done")
      layer ++= Layers.kernels(spark, corpusTables)
      progress("kernels done")
      Files.write(work.resolve("trace.jsonl"),
        (tr.spans ++ tr.jobSpans).mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    // Bench's host-drift probe, outside the timed region: a diagnostic
    // printed beside the metrics, not a metric
    probe(spark)
    val probeS = probe(spark)
    // graft.Verify dumps the sample (SPARK_GRAFT_ONLY) with oracle_sql.json
    // for tools/compare.py; it reuses this session and stops it
    val oracleQueries = if (workload == "registry") RegistryQueries.filter(usableOracle(_).isDefined) else Nil
    if (oracleQueries.nonEmpty) Verify.main(Array(tables, work.resolve("verify").toString))
    else spark.stop()

    // ---- end-to-end figures (untraced passes only)
    val timed = records.filterNot(_.traced).toSeq
    val okMs = timed.filter(_.ok).map(_.ms)
    val perOp = timed.filter(_.ok).groupBy(_.name).map { case (k, v) => k -> v.map(_.ms) }
    val e2e = Seq(
      "setup_s" -> setupS,
      "pass_s" -> Stats.passMs(perOp) / 1e3,
      "cpu_s" -> untraced.map(_.cpuS).min,
      "mem_peak_mb" -> (liveHeapMb + offHeapMb))
    val counts = timed.groupBy(_.name).map { case (k, v) => k -> v.size }
    def strMap(m: Iterable[(String, String)]) = Json.obj(m.toSeq.map { case (k, v) => k -> Json.str(v) })
    def numMap(m: Iterable[(String, Double)]) = Json.obj(m.toSeq.map { case (k, v) => k -> Json.num(v) })
    Files.writeString(Paths.get(resultS), Json.obj(Seq(
      "end_to_end" -> numMap(e2e),
      "per_layer" -> numMap(layer),
      "attempted" -> timed.size.toString,
      "threw" -> timed.count(!_.ok).toString,
      "op_counts" -> Json.obj(counts.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString }),
      "op_samples_ms" -> Json.obj(perOp.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.arr(v.map(Json.num)) }),
      "errors" -> strMap(runner.errors),
      "check_failures" -> strMap(checkFailures),
      "oracle_queries" -> Json.arr(oracleQueries.sorted.map(Json.str)),
      "verify_dir" -> Json.str(work.resolve("verify").toString),
      "landmark_out" -> Json.str(pipelineOut),
      "landmark_classes" -> Json.arr(LandmarkClasses.map(_.toString)),
      "passes" -> passS.size.toString,
      "pass_steal_frac" -> Json.arr(passes.toSeq.map(p => Json.num(p.stealFrac))),
      "op_samples" -> okMs.size.toString,
      "pass_samples_s" -> Json.arr(passS.map(Json.num)),
      "pass_cpu_s" -> Json.arr(untraced.map(p => Json.num(p.cpuS))),
      "render_s" -> Json.num(renderNs / 1e9),
      "live_heap_mb" -> Json.num(liveHeapMb),
      "off_heap_mb" -> Json.num(offHeapMb),
      "probe_s" -> Json.num(probeS))))
  }

  /** One pass of each workload, for the class-data archive run.py records
    * from this JVM's loaded classes.
    */
  def train(inputs: Path, work: Path, cores: Int): Unit = {
    val runner = new Runner
    runner.spark = newSession(cores, work)
    val entries = Landmarks.manifest(inputs.resolve("landmarks"))
    val root = Landmarks.ensureTree(inputs.resolve("landmarks"), entries)
    val tables = inputs.resolve("tables").toString
    runner.runPass(0, pipelineOp(runner.spark, inputs, root, work.resolve("out").toString) +:
      RegistryQueries.map(n => queryOp(byName(n), tables, runner.spark)), None)
    runner.spark.stop()
  }
}

/** Minimal JSON writing for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
