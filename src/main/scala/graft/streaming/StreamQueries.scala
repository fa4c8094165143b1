package graft.streaming

import graft.{Graft, GraftQuery, SchemaMemo}
import graft.sources.SourceQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Driver-visible registrations for the Structured Streaming twins
  * (SURVEY §2.9): each wraps an [[EventStream]] operator in a real
  * streaming execution — file source → `Trigger.AvailableNow` → memory
  * sink — over the same events parquet the batch queries read, then
  * returns the sink table (batch-side ordered/aggregated) so the driver's
  * DuckDB oracle can replay it. This is the missing driver-contract
  * surface for the streaming tier: the twins were differential-spec-only
  * before; now the same correctness gate that checks every batch operator
  * checks the streaming executions too.
  *
  * Determinism stance: only operators whose FINAL output is independent
  * of micro-batch slicing are registered — Complete-mode windowed
  * aggregations (final state is the full aggregate whatever the batch
  * boundaries), an Append-mode stream-stream inner join (the match set is
  * batch-boundary-independent; we aggregate it), and watermark dedup over
  * unique ids. Update-mode keyed-state operators (funnel, sessions state
  * machine) stay differential-spec-only — their per-update emission
  * sequence genuinely depends on batch slicing, which is why the batch
  * twin is the backfill/correction path in the Kappa contract.
  */
object StreamQueries {

  /** Session confs of the streaming EXECUTIONS, set around `start()` and
    * the wait by [[Graft.withConfs]] (the batch readout after the sink
    * runs under the session's own). First, the shuffle-partition count.
    * Stateful streaming cost has a fixed per-partition component the
    * batch side does not: every micro-batch loads+commits one state store
    * PER partition (×4 stores for a stream-stream join), so at the
    * session's 8–32 partitions the tier paid ~9 s of pure state-store
    * setup per bench pass for sinks that are aggregate-sized (VERDICT r9
    * item 6).
    * Every registered readout is partition-count independent (Complete
    * aggregates / append-join match sets / per-key state), so the twins
    * run at a small count; a production deployment sizes this to
    * throughput, not to the session default.
    *
    * The other two keep each run's fixed cost off the data path.
    * `StreamExecution` clones the session inside `start()`, and artifact
    * isolation is read when a session is created, so switching it off in
    * this scope reaches the stream's clone only: its tasks then run under
    * the executor's shared class loader, where the generated classes of
    * the previous run are cached, instead of a fresh per-clone loader that
    * compiles them all again (12 classes a `q_stream_enrich` run). The
    * clone adds no artifacts: every engine class is on the application
    * classpath. [[LocalCheckpointFileManager]] writes the checkpoint
    * without forking Hadoop's `chmod`/`readlink` helpers.
    */
  private val StreamConfs = Seq(
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.artifact.isolation.enabled" -> "false",
    "spark.sql.streaming.checkpointFileManagerClass" ->
      classOf[LocalCheckpointFileManager].getName)

  /** Streaming read of the events table where it lies, normalized to the
    * shape of [[EventStream.batchEvents]]. The path is a glob: the file
    * source then streams whatever it matches, a single file or a
    * directory of parts, in place (for a plain file path it sets
    * `basePath` to the path and rejects it as not a directory). The file
    * source needs an explicit schema — at 100 TB schema inference is a
    * full extra scan; here it is the batch table's footer schema, from
    * [[SchemaMemo]].
    */
  private def streamEvents(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = SchemaMemo.schema(spark, "parquet", s"$sfDir/events.parquet")
    Graft.normalizeEventTs(
        spark.readStream.schema(schema).parquet(s"$sfDir/{events.parquet}"))
      .select(col("event_id"), Graft.tsFromNanos("ts").as("ts"),
        col("user_id"), col("event_type"), col("value"))
  }

  /** Execute a streaming frame to completion against a memory sink and
    * return the materialized result table.
    *
    * DRIVER-MATERIALIZATION BOUNDARY (the same contract every bounded
    * `collect()` in this repo documents): the memory sink collects the
    * streaming result on the DRIVER, so each registration states its sink
    * cardinality in its scaladoc and StreamQueriesSpec asserts the exact
    * expected sink size per query — a new registration without a declared
    * bound fails the spec. The memory sink is the TEST HARNESS; the
    * production path for anything unbounded is the idempotent
    * `foreachBatch` landing sink ([[runToLanding]] /
    * [[EventStream.idempotentBatchSink]]), which the `*_final`
    * registrations exercise end-to-end under the same hash gate.
    */
  private def runToMemory(spark: SparkSession, name: String, df: DataFrame,
      mode: String): DataFrame = {
    spark.catalog.dropTempView(name) // re-runs in one session replace it
    // The registered memory-sink shapes emit everything in the DATA
    // batches — Complete-mode aggregates re-emit full state per batch,
    // and the Append registrations are an eager inner join and
    // pass-through dedup — so the trailing NO-DATA micro-batch (watermark
    // advancement + state eviction, one more load/commit cycle across
    // every state store) changes nothing about the sink table and is
    // skipped. The landing-path queries ([[runToLanding]]) keep it: their
    // keyed-state operators may flush on timeout/watermark in that final
    // batch.
    Graft.withConfs(spark, StreamConfs :+
        ("spark.sql.streaming.noDataMicroBatches.enabled" -> "false"): _*) {
      df.writeStream.format("memory").queryName(name)
        .outputMode(mode).trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
    }
    spark.table(name)
  }

  /** Execute a streaming frame to completion through the PRODUCTION sink —
    * [[EventStream.idempotentBatchSink]] under `Trigger.AvailableNow` —
    * and return the landed table. Nothing materializes on the driver: each
    * micro-batch writes its own `_batch_id` partition (replay-idempotent),
    * and the returned frame is a plain parquet scan of the landing dir.
    * Landing + checkpoint dirs are wiped first so every run (bench reps
    * included) is a full, self-contained streaming execution.
    */
  private def runToLanding(spark: SparkSession, tag: String, sfDir: String,
      df: DataFrame, mode: String): DataFrame = {
    // fixed per (tag, sf) so re-runs are deterministic
    val land = SourceQueries.rootOf(s"land_$tag", sfDir)
    val ckpt = java.nio.file.Paths.get(land.toString + "_ckpt")
    SourceQueries.deleteTree(land)
    SourceQueries.deleteTree(ckpt)
    Graft.withConfs(spark, StreamConfs: _*) {
      val q = df.writeStream
        .outputMode(mode)
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch(EventStream.idempotentBatchSink(land.toString) _)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.read.parquet(land.toString)
  }

  /** The typed event stream the keyed-state (`flatMapGroupsWithState`)
    * operators consume.
    */
  private def typedStream(spark: SparkSession,
      sfDir: String): org.apache.spark.sql.Dataset[EventStream.Event] = {
    import spark.implicits._
    streamEvents(spark, sfDir).as[EventStream.Event]
  }

  /** Streaming tumbling-window counts ([[EventStream.windowedCounts]]) —
    * Complete mode, so the final memory table is the full aggregate and
    * the batch twin's oracle (`q_tumbling_window`) applies verbatim.
    * Memory-sink bound: the sink table IS the aggregate — exactly one
    * row per (hour window × event_type); no raw rows reach the driver.
    */
  object StreamTumbling extends GraftQuery {
    val name = "q_stream_tumbling"
    def run(spark: SparkSession, sfDir: String): DataFrame =
      runToMemory(spark, "graft_stream_tumbling",
        EventStream.windowedCounts(streamEvents(spark, sfDir)), "complete")
        .select(date_format(col("win_start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
          col("event_type"), col("n"), col("total_value"))
        .orderBy("win_start", "event_type")
    val oracle = Some(
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
        |       event_type, count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
  }

  /** Streaming hopping-window counts ([[EventStream.hoppingCounts]],
    * 6h/3h like the batch `q_hopping_window`) — Complete mode; the oracle
    * replays the covering-window arithmetic exactly as the batch twin's.
    * Memory-sink bound: one row per (3h-slide window pane × event_type)
    * — each event feeds 2 panes, so the sink is ~2× the tumbling sink and
    * still aggregate-sized.
    */
  object StreamHopping extends GraftQuery {
    val name = "q_stream_hopping"
    def run(spark: SparkSession, sfDir: String): DataFrame =
      runToMemory(spark, "graft_stream_hopping",
        EventStream.hoppingCounts(streamEvents(spark, sfDir)), "complete")
        .select(date_format(col("win_start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
          col("event_type"), col("n"), col("total_value"))
        .orderBy("win_start", "event_type")
    val oracle = Some(
      """WITH e AS (
        |  SELECT event_type, value,
        |         epoch_ns(ts) // 1000000000 AS sec
        |  FROM events),
        |cov AS (
        |  SELECT event_type, value,
        |         (sec // 10800 - j) * 10800 AS win_sec
        |  FROM e, (SELECT unnest([0, 1]) AS j) js
        |  WHERE (sec // 10800 - j) * 10800 + 21600 > sec
        |    AND (sec // 10800 - j) * 10800 <= sec)
        |SELECT strftime(to_timestamp(win_sec), '%Y-%m-%d %H:%M:%S') AS win_start,
        |       event_type, count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS total_value
        |FROM cov GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
  }

  /** Streaming session windows ([[EventStream.sessionWindowed]], 30-min
    * gap) — Complete mode. Spark's merging `session_window` opens
    * `[ts, ts+gap)` per event and merges overlaps, so a new session
    * starts exactly when the inter-event gap is ≥ 30 min; the oracle
    * replays that as gaps-and-islands in MICROsecond integers (the
    * precision `tsFromNanos` carries), and `sess_end` = last event + gap.
    * Memory-sink bound: one row per merged (user, session) — the
    * session count of the corpus, never per-event rows.
    */
  object StreamSessions extends GraftQuery {
    val name = "q_stream_sessions"
    def run(spark: SparkSession, sfDir: String): DataFrame =
      runToMemory(spark, "graft_stream_sessions",
        EventStream.sessionWindowed(streamEvents(spark, sfDir)), "complete")
        .select(col("user_id"),
          unix_micros(col("sess_start")).as("sess_start_us"),
          unix_micros(col("sess_end")).as("sess_end_us"),
          col("n_events"), col("total_value"))
        .orderBy("user_id", "sess_start_us")
    val oracle = Some(
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 1000 AS tm, value FROM events),
        |flagged AS (
        |  SELECT user_id, tm, value,
        |         CASE WHEN tm - lag(tm) OVER w >= 1800000000
        |              OR lag(tm) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tm)),
        |g AS (
        |  SELECT user_id, tm, value,
        |         sum(new_s) OVER (PARTITION BY user_id ORDER BY tm
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged)
        |SELECT user_id, min(tm) AS sess_start_us,
        |       max(tm) + 1800000000 AS sess_end_us,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS total_value
        |FROM g GROUP BY user_id, sid ORDER BY user_id, sess_start_us""".stripMargin)
  }

  /** Streaming stream-stream interval join
    * ([[EventStream.purchaseClickJoin]]): clicks within the hour before a
    * purchase, both sides watermarked. Append mode — an inner join's
    * match set is independent of micro-batch slicing; the memory table is
    * aggregated per user so the registered output is bounded and ordered.
    * Memory-sink bound: the Append sink holds the RAW match rows (one
    * per qualifying purchase–click pair) before the batch-side aggregate
    * — fine at test scale, and exactly the shape the production
    * foreachBatch landing path (the *_final registrations) exists for.
    */
  object StreamPurchaseClick extends GraftQuery {
    val name = "q_stream_purchase_click"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val ev = streamEvents(spark, sfDir)
      val joined = EventStream.purchaseClickJoin(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "click"))
      runToMemory(spark, "graft_stream_pcj", joined, "append")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("purchase_id")).as("n_purchases"),
          graft.functions.SafeMath.exactSum(col("value")).as("click_value"))
        .orderBy("user_id")
    }
    val oracle = Some(
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, value,
        |         epoch_ns(ts) // 1000 AS tm
        |  FROM events),
        |p AS (SELECT event_id AS purchase_id, user_id, tm AS p_tm FROM e
        |      WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, tm AS c_tm, value FROM e
        |      WHERE event_type = 'click')
        |SELECT p.user_id, count(*) AS n_pairs,
        |       count(DISTINCT purchase_id) AS n_purchases,
        |       CAST(sum(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS click_value
        |FROM p JOIN c ON p.user_id = c.user_id
        |       AND c_tm >= p_tm - 3600000000 AND c_tm < p_tm
        |GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** Streaming watermark dedup ([[EventStream.dedupedStream]]) — Append
    * mode over `dropDuplicatesWithinWatermark(event_id)`; the aggregate
    * proves full retention (ids are unique, so dedup must pass everything
    * through exactly once — the idempotence half of the contract; the
    * duplicate-collapsing half is differential-spec territory because
    * WHICH replica survives is arrival-order-dependent).
    * Memory-sink bound: one row per unique event_id — the full deduped
    * stream (ids are unique here, so sink rows = input rows). Test
    * harness only; production lands via the foreachBatch sink.
    */
  object StreamDedup extends GraftQuery {
    val name = "q_stream_dedup"
    def run(spark: SparkSession, sfDir: String): DataFrame =
      runToMemory(spark, "graft_stream_dedup",
        EventStream.dedupedStream(streamEvents(spark, sfDir)), "append")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("event_id")).as("n_ids"),
          graft.functions.SafeMath.exactSum(col("value")).as("total_value"))
        .orderBy("event_type")
    val oracle = Some(
      """SELECT event_type, count(*) AS n,
        |       count(DISTINCT event_id) AS n_ids,
        |       CAST(sum(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** Streaming funnel FINAL state ([[EventStream.funnelStages]], the
    * Update-mode keyed-state twin of the batch `q_funnel`) — registered
    * via the PRODUCTION landing path: the per-update `FunnelProgress`
    * emissions land in the idempotent `foreachBatch` sink, and the final
    * per-user stage is recovered as `max(stage)` over the landed rows.
    * The stage machine only moves FORWARD (each stage time latches once),
    * so max(stage) equals the final keyed state under ANY micro-batch
    * slicing — the emission SEQUENCE stays slicing-dependent (and
    * differential-spec-only), but the registered readout is not, given
    * the module's per-user in-timestamp-order delivery contract (all
    * in-batch events are sorted; the single-file AvailableNow source
    * delivers one batch). The cumulative stage counts then replay the
    * batch twin's oracle VERBATIM (shared text — they cannot drift).
    *
    * Nothing materializes on the driver: the landing sink is distributed
    * parquet, and the registered output is 3 rows.
    */
  object StreamFunnelFinal extends GraftQuery {
    val name = "q_stream_funnel_final"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val landed = runToLanding(spark, "funnel", sfDir,
        EventStream.funnelStages(typedStream(spark, sfDir)).toDF(), "update")
      landed.groupBy("user_id").agg(max(col("stage")).as("stage"))
        .agg(sum(when(col("stage") >= 1, 1L).otherwise(0L)).as("nv"),
          sum(when(col("stage") >= 2, 1L).otherwise(0L)).as("nc"),
          sum(when(col("stage") >= 3, 1L).otherwise(0L)).as("np"))
        .selectExpr("stack(3, 1, 'view', nv, 2, 'click', nc, " +
          "3, 'purchase', np) AS (stage_ord, stage, n_users)")
        .select(col("stage_ord").cast("int"), col("stage"), col("n_users"))
        .orderBy("stage_ord")
    }
    // the batch twin's oracle, shared verbatim: identical output contract
    val oracle = graft.operators.BehaviorOps.Funnel.oracle
  }

  /** Streaming CDC snapshot FINAL state ([[EventStream.latestSnapshot]],
    * the keyed-state twin of the batch `q_latest_snapshot`) through the
    * landing sink. Last-write-wins under the (sec, event_id) total order
    * is commutative and idempotent, so the per-key argmax over the landed
    * per-batch emissions equals the final keyed state under ANY slicing —
    * no delivery-order caveat at all (unlike the funnel). The argmax is
    * `max(struct(last_sec, last_event_id, last_value))`: (sec, event_id)
    * is unique, so last_value never decides a tie. Oracle shared verbatim
    * with the batch twin.
    */
  object StreamSnapshotFinal extends GraftQuery {
    val name = "q_stream_snapshot_final"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val landed = runToLanding(spark, "snapshot", sfDir,
        EventStream.latestSnapshot(typedStream(spark, sfDir)).toDF(), "update")
      landed.groupBy("user_id", "event_type")
        .agg(max(struct(col("last_sec"), col("last_event_id"),
          col("last_value"))).as("m"))
        .select(col("user_id"), col("event_type"), col("m.last_sec"),
          col("m.last_event_id"), col("m.last_value"))
        .orderBy("user_id", "event_type")
    }
    val oracle = graft.operators.WarehouseOps.LatestSnapshot.oracle
  }

  /** Streaming time-to-conversion FINAL output
    * ([[EventStream.conversionLags]], keyed-state twin of the batch
    * `q_conversion_lag`) through the landing sink. A user's key emits at
    * most ONE lag row ever (p_sec latches), so the landed set IS the final
    * per-user answer under the module's in-order delivery contract; the
    * registered readout is the batch twin's hourly histogram, oracle
    * shared verbatim.
    */
  object StreamConversionLagFinal extends GraftQuery {
    val name = "q_stream_conversion_lag_final"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val landed = runToLanding(spark, "convlag", sfDir,
        EventStream.conversionLags(typedStream(spark, sfDir)).toDF(), "update")
      landed.groupBy(expr("lag_sec div 3600").as("lag_hours"))
        .agg(count(lit(1)).as("n_users"),
          min(col("lag_sec")).as("min_lag"), max(col("lag_sec")).as("max_lag"))
        .orderBy("lag_hours")
    }
    val oracle = graft.operators.BehaviorOps.ConversionLag.oracle
  }

  /** Streaming enrichment — the stream-STATIC join, the most common
    * production streaming shape (facts arrive on the stream, dimensions
    * sit in the warehouse): events join the static customer dim on
    * user_id, then aggregate per (market segment, event type) in
    * Complete mode, so the final table equals the batch join whatever
    * the micro-batch slicing (the registration determinism stance).
    * Scale shape: Spark re-resolves the static side every micro-batch —
    * a small dim stays a broadcast (this plan), a large one should be
    * pre-bucketed; no state is kept beyond the aggregate itself.
    * Memory-sink bound: one row per (segment × event type) — the
    * aggregate, never enriched event rows.
    */
  object StreamEnrich extends GraftQuery {
    val name = "q_stream_enrich"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val dim = Graft.table(spark, sfDir, "customer")
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      val agg = streamEvents(spark, sfDir)
        .join(broadcast(dim), Seq("user_id"))
        .groupBy("c_mktsegment", "event_type")
        .agg(count(lit(1)).as("n"),
          sum(graft.plans.DecimalExpressions.double_to_decimal6(col("value"))).as("tv"))
      runToMemory(spark, "graft_stream_enrich", agg, "complete")
        .select(col("c_mktsegment"), col("event_type"), col("n"),
          col("tv").cast("double").as("total_value"))
        .orderBy("c_mktsegment", "event_type")
    }
    val oracle = Some(
      """SELECT c.c_mktsegment, e.event_type, count(*) AS n,
        |       CAST(sum(CAST(e.value AS DECIMAL(27,6))) AS DOUBLE)
        |         AS total_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
  }

  /** Streaming crawl ingestion — the production shape of a WARC
    * pipeline: `.warc.gz` files LAND in a directory and a file-source
    * stream catalogs them as they arrive (binaryFile streaming source →
    * the same from-spec gzip-member + WARC walk as the batch
    * `q_warc_scan` → Complete-mode per-type aggregate). The final table
    * is slicing-independent (Complete aggregate over all seen files),
    * so the batch oracle replays the fixture formulas verbatim.
    * Memory-sink bound: one row per WARC record type (3 here) — the
    * aggregate, never per-record rows.
    */
  object StreamWarcIngest extends GraftQuery {
    val name = "q_stream_warc_ingest"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      import spark.implicits._
      val root = graft.sources.ArchiveQueries.ensureWarcTree(sfDir)
      val recs = graft.sources.Sources
        .binaryTreeStream(spark, root, "*.warc.gz")
        .select(col("path")).as[String]
        .flatMap { path =>
          // same streamed member-by-member walk as the batch scans —
          // the micro-batch never holds a whole landed file either
          graft.sources.ArchiveQueries.warcRows(path) { (_, r) =>
            Seq((r.warcType, r.contentLength.toLong))
          }
        }
        .toDF("warc_type", "content_length")
      val agg = recs.groupBy("warc_type")
        .agg(count(lit(1)).as("n"),
          sum(col("content_length")).as("total_content_length"))
      runToMemory(spark, "graft_stream_warc", agg, "complete")
        .orderBy("warc_type")
    }
    val oracle = Some(
      """WITH specs AS (
        |  SELECT i.i AS asset_idx, 2 + i.i % 3 AS nr
        |  FROM unnest(range(0, 24)) i(i)),
        |rec AS (
        |  SELECT s.asset_idx, j.j AS j,
        |         30 + 17 * s.asset_idx + 9 * j.j AS sz,
        |         CASE WHEN j.j = 0 THEN 'warcinfo'
        |              WHEN (s.asset_idx + j.j) % 2 = 0 THEN 'response'
        |              ELSE 'request' END AS tpe
        |  FROM specs s, LATERAL unnest(range(0, s.nr)) j(j))
        |SELECT tpe AS warc_type, count(*) AS n,
        |       CAST(sum(sz) AS BIGINT) AS total_content_length
        |FROM rec GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** Streaming MIME routing — the production shape of the modality
    * router: crawl files LAND and every fetched payload is routed as
    * it arrives (binaryFile file-source stream → the same streamed
    * WARC walk + `httpParse` + [[graft.multimodal.MagicBytes]] sniff
    * as the batch `q_mime_route`) into a Complete-mode
    * (declared, sniffed) matrix. The final table is
    * slicing-independent, so it shares the batch row's closed-form
    * VALUES oracle. Memory-sink bound: ≤ types² rows — the matrix,
    * never per-record rows.
    */
  object StreamMimeRoute extends GraftQuery {
    val name = "q_stream_mime_route"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      import spark.implicits._
      val root = graft.sources.ArchiveQueries.ensureMimeTree(sfDir)
      val recs = graft.sources.Sources
        .binaryTreeStream(spark, root, "*.warc.gz")
        .select(col("path")).as[String]
        .flatMap { path =>
          graft.sources.ArchiveQueries.warcRows(path) { (_, r) =>
            if (r.warcType == "response")
              graft.text.HtmlOps.httpParse(r.payload)
                .filter(_.status == 200).map { msg =>
                  (graft.text.HtmlOps.contentType(msg.headers)
                    .getOrElse("(none)"),
                    graft.multimodal.MagicBytes.sniffMime(msg.body))
                }.toSeq
            else Seq.empty
          }
        }
        .toDF("declared", "sniffed")
      val agg = recs.groupBy("declared", "sniffed")
        .agg(count(lit(1)).as("n"))
      runToMemory(spark, "graft_stream_mime", agg, "complete")
        .orderBy("declared", "sniffed")
    }
    val oracle = graft.sources.ArchiveQueries.MimeRoute.oracle
  }

  val all: Seq[GraftQuery] = Seq(StreamTumbling, StreamHopping,
    StreamSessions, StreamPurchaseClick, StreamDedup,
    StreamFunnelFinal, StreamSnapshotFinal, StreamConversionLagFinal,
    StreamEnrich, StreamWarcIngest, StreamMimeRoute)
}
