package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class EventStreamSpec extends SparkSpec {

  test("windowedCounts over a file stream matches the batch tumbling agg") {
    import spark.implicits._
    // stream the batch events table through a MemoryStream
    val batch = EventStream.batchEvents(spark, sf).as[EventStream.Event]
    val rows = batch.collect().toSeq
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[EventStream.Event]
    stream.addData(rows)
    val q = EventStream.windowedCounts(stream.toDF())
      .writeStream.format("memory").queryName("win_out")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    q.stop()
    val streamed = spark.table("win_out")
      .select(col("win_start"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val batched = EventStream.windowedCounts(batch.toDF())
      .select(col("win_start"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batched)
    assert(streamed.nonEmpty)
  }

  test("streaming OHLC bars match the batch query even on reversed input") {
    import spark.implicits._
    val batch = EventStream.batchEvents(spark, sf).as[EventStream.Event]
    // reversed arrival order: open/close must still be decided by event
    // time, proving the struct-min/max merge is order-independent
    val rows = batch.collect().toSeq.reverse
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[EventStream.Event]
    stream.addData(rows)
    val q = EventStream.ohlcBars(stream.toDF())
      .writeStream.format("memory").queryName("ohlc_out")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    q.stop()
    val streamed = spark.table("ohlc_out")
      .select(unix_timestamp(col("bar_start")).as("bar_start"),
        col("event_type"), col("open"), col("high"), col("low"),
        col("close"), col("n"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    val batched = graft.operators.WindowOps.OhlcBars.run(spark, sf)
      .collect()
      .map(r => (r.getLong(1), r.getString(0), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    assert(streamed == batched)
    assert(streamed.nonEmpty)
  }

  test("hoppingCounts over a file stream matches the batch hopping agg") {
    import spark.implicits._
    val batch = EventStream.batchEvents(spark, sf).as[EventStream.Event]
    val rows = batch.collect().toSeq
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[EventStream.Event]
    stream.addData(rows)
    val q = EventStream.hoppingCounts(stream.toDF())
      .writeStream.format("memory").queryName("hop_out")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getTimestamp(0), r.getString(1), r.getLong(2))
    val streamed = spark.table("hop_out")
      .select(col("win_start"), col("event_type"), col("n"))
      .collect().map(key).toSet
    val batched = EventStream.hoppingCounts(batch.toDF())
      .select(col("win_start"), col("event_type"), col("n"))
      .collect().map(key).toSet
    assert(streamed == batched)
    // overlap factor: every event is in size/slide = 2 windows
    val total = spark.table("hop_out").agg(sum(col("n"))).head.getLong(0)
    assert(total == 2 * rows.length,
      s"expected 2x assignment, got $total for ${rows.length}")
  }

  test("dedupedStream drops duplicate event_ids within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[EventStream.Event]
    val t = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    stream.addData(Seq(
      EventStream.Event(1, t, 7L, "click", 1.0),
      EventStream.Event(1, t, 7L, "click", 1.0), // duplicate id
      EventStream.Event(2, t, 7L, "view", 2.0)))
    val q = EventStream.dedupedStream(stream.toDF())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    q.stop()
    val ids = spark.table("dedup_out").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(1L, 2L))
  }

  test("cleanDocStream gates short docs and dedups by content within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String, java.sql.Timestamp)]
    val t = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    stream.addData(Seq(
      (1L, "alpha beta gamma delta epsilon zeta", t),
      (2L, "alpha beta gamma delta epsilon zeta", t),      // exact dup of 1
      (3L, "  ALPHA beta gamma delta epsilon zeta ", t),    // dup after normalize
      (4L, "too short", t),                                 // gated (< 5 tokens)
      (5L, "a completely different document with many tokens", t)))
    val q = EventStream.cleanDocStream(
        stream.toDF().toDF("doc_id", "text", "ts"))
      .writeStream.format("memory").queryName("clean_docs")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    q.stop()
    val kept = spark.table("clean_docs").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    // ONE survivor per content fingerprint (which of 1/2/3 wins is
    // partition-order-dependent in a stream), the short doc gated out
    assert(kept.size == 2 && kept.contains(5L) &&
      Set(1L, 2L, 3L).contains(kept.head))
    // differential twin: the batch pipeline keeps the same CONTENT set
    val batch = graft.text.TextPipeline.cleanCorpus(
      Seq((1L, "alpha beta gamma delta epsilon zeta"),
        (2L, "alpha beta gamma delta epsilon zeta"),
        (3L, "  ALPHA beta gamma delta epsilon zeta "),
        (4L, "too short"),
        (5L, "a completely different document with many tokens"))
        .toDF("doc_id", "text"))
    assert(batch.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 5L))
  }

  test("session_window partitions events exactly like the lag-based sessionize") {
    import org.apache.spark.sql.expressions.Window
    // second-truncated timestamps = the batch query's integer-seconds basis
    val ev = EventStream.batchEvents(spark, sf)
      .select(date_trunc("second", col("ts")).as("ts"), col("user_id"), col("value"))
    // precondition making >gap (batch) vs >=gap (session_window close)
    // indistinguishable: no consecutive same-user gap of exactly 1800s
    val lagW = Window.partitionBy("user_id").orderBy("ts")
    val exactBoundary = ev
      .withColumn("d", unix_seconds(col("ts")) - lag(unix_seconds(col("ts")), 1).over(lagW))
      .filter(col("d") === 1800L).count()
    assert(exactBoundary == 0L)
    val sw = EventStream.sessionWindowed(ev)
      .groupBy("user_id").agg(count(lit(1)).as("n_sessions"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = graft.operators.AnalyticOps.Sessionize.run(spark, sf)
      .groupBy("user_id").agg(count(lit(1)).as("n_sessions"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sw == batch)
    assert(sw.nonEmpty)
  }

  test("stream-stream interval join matches only clicks in the hour before the purchase") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val purchases = MemoryStream[EventStream.Event]
    val clicks = MemoryStream[EventStream.Event]
    purchases.addData(Seq(
      EventStream.Event(100, ts("2024-01-01 10:00:00"), 7L, "purchase", 9.99)))
    clicks.addData(Seq(
      EventStream.Event(1, ts("2024-01-01 09:30:00"), 7L, "click", 1.0), // in window
      EventStream.Event(2, ts("2024-01-01 08:30:00"), 7L, "click", 2.0), // too early
      EventStream.Event(3, ts("2024-01-01 10:30:00"), 7L, "click", 3.0), // after purchase
      EventStream.Event(4, ts("2024-01-01 09:45:00"), 9L, "click", 4.0))) // other user
    val q = EventStream.purchaseClickJoin(purchases.toDF(), clicks.toDF())
      .writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    q.stop()
    val out = spark.table("ssj_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
    assert(out.toSeq == Seq((7L, 100L, 1.0)))
  }

  test("streaming funnel stages match the batch funnel counts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batch = EventStream.batchEvents(spark, sf).as[EventStream.Event]
    val stream = MemoryStream[EventStream.Event]
    stream.addData(batch.collect().toSeq) // one micro-batch, in-order per user after sort
    val q = EventStream.funnelStages(stream.toDS())
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    q.stop()
    // last update per user is the final stage (single batch → one row each)
    val stages = spark.table("funnel_out")
      .groupBy("user_id").agg(max("stage").as("stage"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val streamCounts = (1 to 3).map(k => stages.values.count(_ >= k).toLong)
    val batchCounts = graft.operators.BehaviorOps.Funnel.run(spark, sf)
      .orderBy("stage_ord").collect().map(_.getLong(2)).toSeq
    assert(streamCounts == batchCounts,
      s"stream $streamCounts vs batch $batchCounts")
    assert(streamCounts.head > 0)
  }

  test("streaming conversion lags bucket to the batch lag histogram") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batch = EventStream.batchEvents(spark, sf).as[EventStream.Event]
    val stream = MemoryStream[EventStream.Event]
    stream.addData(batch.collect().toSeq)
    val q = EventStream.conversionLags(stream.toDS())
      .writeStream.format("memory").queryName("lag_out")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    q.stop()
    val lags = spark.table("lag_out").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(lags.map(_._1).distinct.length == lags.length,
      "at most one conversion emitted per user")
    val streamHist = lags.map(_._2).groupBy(_ / 3600)
      .map { case (b, ls) => b -> (ls.length.toLong, ls.min, ls.max) }
    val batchHist = graft.operators.BehaviorOps.ConversionLag.run(spark, sf)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(streamHist == batchHist, s"stream $streamHist vs batch $batchHist")
    assert(streamHist.nonEmpty)
  }

  test("streaming latest snapshot converges to the batch snapshot, even out of order") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batch = EventStream.batchEvents(spark, sf).as[EventStream.Event]
    val stream = MemoryStream[EventStream.Event]
    // adversarial delivery order: REVERSED by timestamp — last-write-wins
    // must still converge because the policy compares the total order, not
    // arrival order (the no-watermark-caveat claim in the scaladoc)
    stream.addData(batch.collect().sortBy(e => (-e.ts.getTime, -e.event_id)).toSeq)
    val q = EventStream.latestSnapshot(stream.toDS())
      .writeStream.format("memory").queryName("snap_out")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    q.stop()
    // single micro-batch → exactly one emitted row per key, already final
    val streamed = spark.table("snap_out")
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    val batchRows = graft.operators.WarehouseOps.LatestSnapshot.run(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(streamed == batchRows,
      s"sizes ${streamed.size} vs ${batchRows.size}; " +
        s"sample diff=${(batchRows.toSet -- streamed.toSet).take(3)}")
    assert(streamed.nonEmpty)
  }

  test("streaming transition pairs aggregate to the batch transition counts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batch = EventStream.batchEvents(spark, sf).as[EventStream.Event]
    val stream = MemoryStream[EventStream.Event]
    stream.addData(batch.collect().toSeq)
    val q = EventStream.transitionStream(stream.toDS())
      .writeStream.format("memory").queryName("trans_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    q.stop()
    val streamed = spark.table("trans_out")
      .groupBy("prev_type", "next_type").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val batchCounts = graft.operators.BehaviorOps.Transitions.run(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed == batchCounts,
      s"stream ${streamed.size} pairs vs batch ${batchCounts.size}")
    assert(streamed.values.sum > 0)
  }

  test("idempotentBatchSink: replaying a batchId leaves no duplicates") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_sink").toString + "/t"
    val sink = EventStream.idempotentBatchSink(out) _
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val b1 = Seq((3L, "c")).toDF("id", "v")
    sink(b0, 0L)
    sink(b1, 1L)
    // checkpoint-recovery contract: the last epoch is re-delivered with
    // the SAME batchId — the sink must overwrite, not append
    sink(b1, 1L)
    sink(b1, 1L)
    val rows = spark.read.parquet(out)
    assert(rows.count() == 3)
    assert(rows.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L))
    // and a replay with MORE data in the same epoch wins wholesale
    sink(Seq((3L, "c"), (4L, "d")).toDF("id", "v"), 1L)
    assert(spark.read.parquet(out).count() == 4)
  }
}
