package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** The registered streaming queries (q_stream_*) are REAL streaming
  * executions; this spec pins their twin contract engine-side: the
  * materialized stream result must equal the equivalent batch computation
  * row-for-row. (The driver's DuckDB oracle proves the same thing against
  * a second engine; this differential keeps the invariant locally
  * buildable without DuckDB.)
  */
class StreamQueriesSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  /** The batch twin of `q_stream_tumbling` over the events at `sfDir`. */
  private def batchTumbling(sfDir: String): Seq[Seq[Any]] = {
    import org.apache.spark.sql.functions._
    rows(EventStream.windowedCounts(EventStream.batchEvents(spark, sfDir))
      .select(date_format(col("win_start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("n"), col("total_value"))
      .orderBy("win_start", "event_type"))
  }

  /** Write `events` as `dir/events.parquet`: a directory of `parts` part
    * files, as Spark writes a table.
    */
  private def writeEvents(dir: String, events: DataFrame, parts: Int): Unit =
    events.repartition(parts).write.mode("overwrite").parquet(s"$dir/events.parquet")

  private def rawEvents = spark.read.parquet(s"$sf/events.parquet")

  test("q_stream_tumbling ≡ batch tumbling aggregate") {
    val streamed = rows(StreamQueries.StreamTumbling.run(spark, sf))
    assert(streamed.nonEmpty && streamed == batchTumbling(sf))
  }

  test("q_stream_tumbling streams a multi-file events directory in place") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sf").toString
    writeEvents(dir, rawEvents, 3)
    assert(new java.io.File(s"$dir/events.parquet").listFiles()
      .count(_.getName.endsWith(".parquet")) == 3)
    val streamed = rows(StreamQueries.StreamTumbling.run(spark, dir))
    assert(streamed.nonEmpty && streamed == batchTumbling(dir))
    assert(streamed == batchTumbling(sf))
  }

  test("a replaced events table streams its new rows on the next run") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_sf").toString
    writeEvents(dir, rawEvents, 1)
    val before = rows(StreamQueries.StreamTumbling.run(spark, dir))
    writeEvents(dir, rawEvents.filter(col("event_id") % 3 =!= 0), 2)
    val after = rows(StreamQueries.StreamTumbling.run(spark, dir))
    assert(after.nonEmpty && after == batchTumbling(dir))
    assert(after != before)
  }

  test("a stream run leaves no staged copy of the events table in java.io.tmpdir") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def staged() = tmp.list().filter(_.startsWith("graft_stream_")).toSet
    val dir = java.nio.file.Files.createTempDirectory("graft_sf").toString
    writeEvents(dir, rawEvents, 1)
    val before = staged()
    StreamQueries.StreamTumbling.run(spark, dir).collect()
    StreamQueries.StreamFunnelFinal.run(spark, dir).collect()
    assert(staged() == before)
  }

  test("a second q_stream_enrich run in one session compiles no generated class") {
    import org.apache.spark.metrics.source.CodegenMetrics
    def once(): Unit = StreamQueries.StreamEnrich.run(spark, sf).collect()
    once()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    once()
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before == 0)
  }

  test("a landing twin's checkpoint holds no Hadoop .crc sidecar") {
    StreamQueries.StreamFunnelFinal.run(spark, sf).collect()
    val ckpt = java.nio.file.Paths.get(
      graft.sources.SourceQueries.rootOf("land_funnel", sf).toString + "_ckpt")
    val walk = java.nio.file.Files.walk(ckpt)
    val files = try walk.toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(_.getFileName.toString).toSeq
    finally walk.close()
    // offsets, commits, metadata and the state store's delta files
    assert(files.contains("metadata") && files.exists(_.endsWith(".delta")))
    assert(!files.exists(f => f.startsWith(".") && f.endsWith(".crc")), files)
  }

  test("a twin's stream confs do not outlive its run in the session") {
    val keys = Seq("spark.sql.artifact.isolation.enabled",
      "spark.sql.streaming.checkpointFileManagerClass",
      "spark.sql.shuffle.partitions")
    def set() = keys.map(spark.conf.getAll.get)
    val before = set()
    assert(before.take(2) == Seq(None, None))
    StreamQueries.StreamTumbling.run(spark, sf).collect()
    StreamQueries.StreamFunnelFinal.run(spark, sf).collect()
    assert(set() == before)
  }

  test("q_stream_sessions ≡ batch session_window aggregate") {
    import org.apache.spark.sql.functions._
    val streamed = rows(StreamQueries.StreamSessions.run(spark, sf))
    val batch = rows(EventStream.sessionWindowed(
        EventStream.batchEvents(spark, sf))
      .select(col("user_id"),
        unix_micros(col("sess_start")).as("sess_start_us"),
        unix_micros(col("sess_end")).as("sess_end_us"),
        col("n_events"), col("total_value"))
      .orderBy("user_id", "sess_start_us"))
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("q_stream_purchase_click ≡ batch interval join") {
    import org.apache.spark.sql.functions._
    val ev = EventStream.batchEvents(spark, sf)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"), col("value"))
    val batch = rows(p.join(c,
        col("user_id") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("c_ts") < col("p_ts"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("purchase_id")).as("n_purchases"),
        graft.functions.SafeMath.exactSum(col("value")).as("click_value"))
      .orderBy("user_id"))
    val streamed = rows(StreamQueries.StreamPurchaseClick.run(spark, sf))
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("q_stream_funnel_final ≡ batch funnel (landed max(stage) recovers final state)") {
    val streamed = rows(StreamQueries.StreamFunnelFinal.run(spark, sf))
    val batch = rows(graft.operators.BehaviorOps.Funnel.run(spark, sf))
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("q_stream_snapshot_final ≡ batch latest snapshot (per-key argmax over landed emissions)") {
    val streamed = rows(StreamQueries.StreamSnapshotFinal.run(spark, sf))
    val batch = rows(graft.operators.WarehouseOps.LatestSnapshot.run(spark, sf))
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("q_stream_conversion_lag_final ≡ batch conversion-lag histogram") {
    val streamed = rows(StreamQueries.StreamConversionLagFinal.run(spark, sf))
    val batch = rows(graft.operators.BehaviorOps.ConversionLag.run(spark, sf))
    assert(streamed.nonEmpty && streamed == batch)
  }

  /** The driver-materialization contract of StreamQueries.runToMemory's
    * scaladoc, machine-checked: every registered streaming query declares
    * its expected sink cardinality here (memory table for the harness
    * sinks, landing parquet for the production foreachBatch sinks), the
    * sink is measured after a real run, and a NEW stream registration
    * without a declared bound fails the keySet equality. Aggregate sinks
    * must hold exactly the aggregate's group count — never raw rows.
    */
  test("every registered stream sink matches its documented cardinality bound") {
    import org.apache.spark.sql.functions._
    val ev = EventStream.batchEvents(spark, sf)
    def memRows(t: String): Long = spark.table(t).count()
    def landRows(tag: String): Long = spark.read.parquet(
      graft.sources.SourceQueries.rootOf(s"land_$tag", sf).toString).count()
    val expected: Map[String, (() => Long, () => Long)] = Map(
      // Complete-mode sinks ARE the aggregate: rows == group count
      "q_stream_tumbling" -> ((() => memRows("graft_stream_tumbling"),
        () => EventStream.windowedCounts(ev).count())),
      "q_stream_hopping" -> ((() => memRows("graft_stream_hopping"),
        () => EventStream.hoppingCounts(ev).count())),
      "q_stream_sessions" -> ((() => memRows("graft_stream_sessions"),
        () => EventStream.sessionWindowed(ev).count())),
      // Append-mode harness sinks: raw match rows / unique events —
      // bounded at test scale, production path = foreachBatch landing
      "q_stream_purchase_click" -> ((() => memRows("graft_stream_pcj"),
        () => EventStream.purchaseClickJoin(
          ev.filter(col("event_type") === "purchase"),
          ev.filter(col("event_type") === "click")).count())),
      "q_stream_dedup" -> ((() => memRows("graft_stream_dedup"),
        () => ev.count())),
      // foreachBatch landing sinks: one emission per (batch, live key);
      // the single-file AvailableNow source delivers one batch, so the
      // landed set is exactly one row per key (convlag: per CONVERTED key)
      "q_stream_funnel_final" -> ((() => landRows("funnel"),
        () => ev.select("user_id").distinct().count())),
      "q_stream_snapshot_final" -> ((() => landRows("snapshot"),
        () => ev.select("user_id", "event_type").distinct().count())),
      "q_stream_conversion_lag_final" -> ((() => landRows("convlag"),
        () => graft.operators.BehaviorOps.ConversionLag.run(spark, sf)
          .agg(sum(col("n_users"))).collect()(0).getLong(0))),
      // Complete-mode stream-static join sink: one row per
      // (segment × event_type) present in the joined stream
      "q_stream_enrich" -> ((() => memRows("graft_stream_enrich"),
        () => ev.join(spark.read.parquet(s"$sf/customer.parquet")
            .select(col("c_custkey").as("user_id"), col("c_mktsegment")),
            Seq("user_id"))
          .select("c_mktsegment", "event_type").distinct().count())),
      // Complete-mode crawl-ingest sink: one row per WARC record type
      // present in the fixture tree (warcinfo/request/response = 3)
      "q_stream_warc_ingest" -> ((() => memRows("graft_stream_warc"),
        () => 3L)),
      // Complete-mode MIME-routing sink: one row per (declared,
      // sniffed) pair present in the fixture tree — exactly the batch
      // twin's matrix (oracle shared verbatim with q_mime_route)
      "q_stream_mime_route" -> ((() => memRows("graft_stream_mime"),
        () => graft.sources.ArchiveQueries.MimeRoute.run(spark, sf).count())))
    assert(StreamQueries.all.map(_.name).toSet == expected.keySet,
      "new stream registrations must declare a sink bound in this spec")
    for (q <- StreamQueries.all) {
      q.run(spark, sf).count() // real streaming execution fills the sink
      val (actual, exp) = expected(q.name)
      val (a, e) = (actual(), exp())
      assert(a == e, s"${q.name}: sink holds $a rows, documented bound is $e")
    }
  }

  test("q_stream_dedup retains every unique event exactly once") {
    import org.apache.spark.sql.functions._
    val streamed = rows(StreamQueries.StreamDedup.run(spark, sf))
    val batch = rows(EventStream.batchEvents(spark, sf)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("event_id")).as("n_ids"),
        graft.functions.SafeMath.exactSum(col("value")).as("total_value"))
      .orderBy("event_type"))
    assert(streamed.nonEmpty && streamed == batch)
  }
}
