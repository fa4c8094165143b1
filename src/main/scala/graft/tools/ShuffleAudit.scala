package graft.tools

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

import graft.SparkEntry
import org.apache.spark.sql.graftglue.Bridge

/** Shuffle-volume audit: runs the batch registry once and reports, per
  * query, the BYTES the plan actually moved — shuffle write/read, spill
  * (memory + disk), and scan input — attributed via job groups through a
  * `SparkListener`. Timing benchmarks answer "how long"; this answers
  * the 100 TB question directly: WHICH queries shuffle how much per
  * byte of input, and does that volume scale with the data or with the
  * algorithm? Run at two scale factors, the per-query shuffle-bytes
  * ratio separates linear plans from quadratic ones on measured bytes
  * instead of wall-clock (which this host's ±2-3× noise pollutes).
  *
  * Protocol notes:
  *  - one pass, no reps: byte counts are DETERMINISTIC for a fixed plan
  *    (unlike timings) — rep-interleaving would just re-measure the
  *    same numbers (AQE can shift stage boundaries between runs, but
  *    the totals stay plan-determined; spills are the exception and are
  *    reported, not gated);
  *  - streaming twins are excluded: their jobs run on stream-execution
  *    threads where the job group does not propagate, so their stages
  *    cannot be attributed (they land in `_unattributed`, reported for
  *    completeness); their state-size story is covered by the
  *    sink-cardinality audit in StreamQueriesSpec instead;
  *  - the same noop-write action as Bench, so the measured plan is the
  *    benched plan.
  *
  * Emits ONE JSON line (`{"metric":"shuffle_audit",...}`) and persists
  * it to SPARK_GRAFT_AUDIT_OUT (default shuffle_audit.json).
  */
object ShuffleAudit {

  private final class Agg {
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var recordsWritten = 0L
    var recordsRead = 0L
    var diskSpill = 0L
    var memSpill = 0L
    var input = 0L
    var stages = 0
  }

  /** Attributes completed stages to the job group that launched their
    * job. A stage shared by several jobs keeps its first attribution —
    * queries run sequentially, so cross-query sharing cannot occur.
    */
  private final class Listener extends SparkListener {
    private val stageToGroup = new ConcurrentHashMap[Int, String]()
    val agg = new ConcurrentHashMap[String, Agg]()

    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val g = Option(js.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("_unattributed")
      js.stageIds.foreach(id => stageToGroup.putIfAbsent(id, g))
    }

    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val g = Option(stageToGroup.get(sc.stageInfo.stageId)).getOrElse("_unattributed")
      val m = sc.stageInfo.taskMetrics
      val a = agg.computeIfAbsent(g, _ => new Agg)
      a.synchronized {
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.recordsWritten += m.shuffleWriteMetrics.recordsWritten
        a.recordsRead += m.shuffleReadMetrics.recordsRead
        a.diskSpill += m.diskBytesSpilled
        a.memSpill += m.memoryBytesSpilled
        a.input += m.inputMetrics.bytesRead
        a.stages += 1
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val shufflePartitions =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val spark = graft.Graft.session(s"local[$cpus]", shufflePartitions.toInt)
    val listener = new Listener
    spark.sparkContext.addSparkListener(listener)

    val selected = SparkEntry.selected().filterNot(_.name.startsWith("q_stream_"))
    val failed = SparkEntry.sweep(spark, selected) { q =>
      spark.sparkContext.setJobGroup(q.name, q.name, interruptOnCancel = false)
      try q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
      finally spark.sparkContext.clearJobGroup()
    }.failed.map { case (name, e) =>
      System.err.println(s"[audit] $name FAILED: ${e.getClass.getSimpleName}: " +
        String.valueOf(e.getMessage).take(200))
      name
    }
    // the listener bus is asynchronous: let it deliver the tail of stage
    // events before snapshotting
    Bridge.drainListeners(spark.sparkContext)

    import scala.jdk.CollectionConverters._
    val entries = listener.agg.asScala.toSeq.sortBy(_._1).map { case (name, a) =>
      s""""$name":{"sw":${a.shuffleWrite},"sr":${a.shuffleRead},""" +
        s""""sw_rec":${a.recordsWritten},"sr_rec":${a.recordsRead},""" +
        s""""spill_disk":${a.diskSpill},"spill_mem":${a.memSpill},""" +
        s""""input":${a.input},"stages":${a.stages}}"""
    }
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val line = s"""{"metric":"shuffle_audit","sf":"$sfDir",""" +
      s""""shuffle_partitions":$shufflePartitions,"cpus":$cpus,""" +
      s""""n_queries":${selected.size},"queries":{${entries.mkString(",")}},""" +
      s""""n_failed":${failed.size},"failed":$failedJson}"""
    println(line)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_AUDIT_OUT", "shuffle_audit.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[audit] could not write $outFile: ${e.getMessage}")
    }
    spark.stop()
  }
}
