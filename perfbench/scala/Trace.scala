package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.binaryfile.BinaryFileFormat
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one attribution key (an operation, a family or the whole
  * traced region).
  */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var schedDelayMs = 0.0
  var taskRunMs = 0.0
  var taskCpuNs = 0L
  var gcMs = 0.0
  var shuffleWriteBytes = 0L
  var shuffleRecords = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
}

/** What the harness knows about the job an event belongs to. */
final case class JobTag(op: String, family: String)

/** Attribution of Spark scheduler events to the benchmark's operations.
  *
  * The harness sets the local properties `perfbench.op` and
  * `perfbench.family` around every operation; they ride on each job, so
  * every job, stage and task is charged to the operation that caused it.
  */
final class Ledger extends SparkListener {
  val total = new Counters
  val byOp = mutable.LinkedHashMap.empty[String, Counters]
  val byFamily = mutable.LinkedHashMap.empty[String, Counters]
  /** Job spans: (jobId, tag, startMs, endMs). */
  val jobSpans = mutable.ArrayBuffer.empty[(Int, JobTag, Long, Long)]
  private val jobTag = mutable.Map.empty[Int, (JobTag, Long)]
  private val stageJob = mutable.Map.empty[Int, Int]

  private def keys(t: JobTag): Seq[Counters] =
    Seq(total, byOp.getOrElseUpdate(t.op, new Counters),
      byFamily.getOrElseUpdate(t.family, new Counters))

  private def tagOfStage(stageId: Int): Option[JobTag] =
    stageJob.get(stageId).flatMap(jobTag.get).map(_._1)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    val tag = JobTag(prop("perfbench.op"), prop("perfbench.family"))
    jobTag(e.jobId) = (tag, e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
    keys(tag).foreach(_.jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobTag.get(e.jobId).foreach { case (tag, start) => jobSpans += ((e.jobId, tag, start, e.time)) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    tagOfStage(e.stageInfo.stageId).foreach(t => keys(t).foreach(_.stages += 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    tagOfStage(e.stageId).foreach { t =>
      val info = e.taskInfo
      keys(t).foreach { c =>
        c.tasks += 1
        if (m != null) {
          // the scheduler delay as the Spark UI defines it: task wall time
          // not spent deserializing, running or shipping the result
          val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
          c.schedDelayMs += math.max(delay, 0L)
          c.taskRunMs += m.executorRunTime
          c.taskCpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.inputBytes += m.inputMetrics.bytesRead
          c.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  def counters(c: mutable.Map[String, Counters], k: String): Counters =
    synchronized(c.getOrElse(k, new Counters))
}

/** Row counts read off executed plans: rows out of join operators against
  * rows of the result, binary-file bytes scanned, and planning time of the
  * final write of each operation.
  */
final class PlanLedger extends QueryExecutionListener {
  @volatile var currentOp = ""
  val joinRows = new java.util.concurrent.atomic.AtomicLong
  val resultRows = new java.util.concurrent.atomic.AtomicLong
  val binaryBytes = new java.util.concurrent.atomic.AtomicLong
  /** Planning ms of the last noop write of each operation. */
  val lastSavePlanMs = new ConcurrentHashMap[String, java.lang.Double]()

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
  }

  private def rows(p: SparkPlan): Option[Long] =
    p.metrics.get("numOutputRows").map(_.value)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val all = nodes(qe.executedPlan)
    all.filter(_.nodeName.contains("Join")).flatMap(rows).foreach(joinRows.addAndGet)
    all.flatMap(rows).headOption.foreach(resultRows.addAndGet)
    all.collect { case s: FileSourceScanExec if s.relation.fileFormat.isInstanceOf[BinaryFileFormat] =>
      s.metrics.get("filesSize").map(_.value).getOrElse(0L)
    }.foreach(binaryBytes.addAndGet)
    // the harness's noop write is the operation's last "overwrite"
    if (funcName == "overwrite") {
      val ms = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
      lastSavePlanMs.put(currentOp, ms)
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** Maps a stack to a stage of `RunPipeline.run`.
  *
  * Writes of the compat CSVs and the plots count as `write`; everything
  * else is charged to the `---- stage N` section of RunPipeline.scala whose
  * line range holds the call. The ranges are read from the source file, so
  * they follow edits that keep the section markers.
  */
final class ImageStages(ranges: Seq[(Int, String)]) {
  private val Frame = """\(RunPipeline\.scala:(\d+)\)""".r

  def nonEmpty: Boolean = ranges.nonEmpty

  /** The innermost RunPipeline frame that lies inside a section (frames of
    * helpers defined before the first marker are skipped); "" outside the
    * pipeline.
    */
  def classify(stack: String): String =
    if (stack == null || !stack.contains("RunPipeline")) ""
    else if (stack.contains("writeSemicolonCsv") || stack.contains("Plots$")) "write"
    else Frame.findAllMatchIn(stack).map(_.group(1).toInt).flatMap { line =>
      ranges.takeWhile(_._1 <= line).lastOption.map(_._2)
    }.nextOption().getOrElse("other")
}

/** Wall time of the pipeline by stage: samples a thread's stack every
  * `periodMs` and charges each interval to the stage the thread was in.
  * Sampling the driver thread covers what job call sites miss: the driver
  * work between jobs (about half of a pass), and jobs submitted from other
  * threads, whose call sites do not reach RunPipeline.
  */
final class StageSampler(stages: ImageStages, target: Thread, periodMs: Long = 5) {
  private val seconds = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  @volatile private var running = true
  private val sampler = new Thread(() => {
    var last = System.nanoTime()
    while (running) {
      Thread.sleep(periodMs)
      val stage = stages.classify(target.getStackTrace.mkString("\n"))
      val now = System.nanoTime()
      if (stage.nonEmpty) seconds.synchronized(seconds(stage) += (now - last) / 1e9)
      last = now
    }
  }, "perfbench-stage-sampler")
  sampler.setDaemon(true)
  sampler.start()

  def stop(): Unit = { running = false; sampler.join() }

  def of(stage: String): Double = seconds.synchronized(seconds(stage))
}

object ImageStages {
  private val names = Map(1 -> "detect", 2 -> "colors", 3 -> "stats", 4 -> "write")
  private val Marker = """//\s*-+\s*stage (\d)""".r

  def fromSource(path: java.nio.file.Path): ImageStages = {
    val ranges =
      if (!java.nio.file.Files.isRegularFile(path)) Nil
      else java.nio.file.Files.readAllLines(path).asScala.zipWithIndex.flatMap { case (l, i) =>
        Marker.findFirstMatchIn(l).flatMap(m => names.get(m.group(1).toInt)).map(i + 1 -> _)
      }.toSeq
    new ImageStages(ranges)
  }
}
