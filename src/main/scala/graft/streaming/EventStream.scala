package graft.streaming

import graft.Graft
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (absent from the reference — SURVEY §2.9;
  * the engine adds it as part of the north-star pipeline capabilities).
  *
  * The same event schema as the batch `events` table drives both: the
  * tumbling-window aggregation here is the streaming twin of
  * [[graft.operators.WindowOps.TumblingWindow]], so batch backfill and live
  * ingestion share semantics — the Kappa-style contract a training-data
  * pipeline needs.
  */
object EventStream {

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  /** Hourly windowed count+sum per event type with a watermark: late data
    * beyond 2 hours is dropped deterministically instead of growing state
    * forever — the knob that keeps state bounded on an unbounded stream.
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        // decimal-exact like the batch twin (WindowOps.TumblingWindow):
        // a double sum varies in the last ulp with micro-batch boundaries
        graft.functions.SafeMath.exactSum(col("value")).as("total_value"))
      .select(col("w.start").as("win_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Hopping twin of [[windowedCounts]] (and of the batch
    * `WindowOps.HoppingWindow`): overlapping size/slide windows, same
    * watermark bound. State grows by the constant factor size/slide —
    * each event updates that many window panes — and expires on the same
    * watermark schedule; nothing else changes versus tumbling.
    */
  def hoppingCounts(events: DataFrame, size: String = "6 hours",
      slide: String = "3 hours"): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), size, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.functions.SafeMath.exactSum(col("value")).as("total_value"))
      .select(col("w.start").as("win_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Streaming OHLC bars: the windowed-aggregation twin of the batch
    * `WindowOps.OhlcBars`. Open/close are min/max over
    * (sec, event_id, cents) structs — associative and commutative, so the
    * aggregate merges correctly across micro-batches regardless of arrival
    * order (the same property that makes it ONE hash aggregate in batch).
    * State per open window: two structs + two longs + a count.
    */
  def ohlcBars(events: DataFrame, bar: String = "6 hours"): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .withColumn("sec", unix_timestamp(col("ts")))
      .withColumn("cents", graft.plans.DecimalExpressions.money_cents(col("value")))
      .groupBy(window(col("ts"), bar).as("w"), col("event_type"))
      .agg(
        min(struct(col("sec"), col("event_id"), col("cents"))).as("o"),
        max(col("cents")).as("high"), min(col("cents")).as("low"),
        max(struct(col("sec"), col("event_id"), col("cents"))).as("c"),
        count(lit(1)).as("n"))
      .select(col("w.start").as("bar_start"), col("event_type"),
        col("o.cents").as("open"), col("high"), col("low"),
        col("c.cents").as("close"), col("n"))

  /** Per-user funnel progress state: epoch-second entry times per stage,
    * -1 = stage not reached.
    */
  final case class FunnelState(vSec: Long, cSec: Long, pSec: Long)
  final case class FunnelProgress(user_id: Long, stage: Int)

  /** Streaming funnel: the keyed-state twin of
    * [[graft.operators.BehaviorOps.Funnel]] — per-user stage machine
    * (view → click → purchase, strict order, per-stage conversion window)
    * in `flatMapGroupsWithState`, emitting the user's current stage on
    * every update. State is three longs per user — bounded however long
    * the stream runs.
    *
    * Contract: exact under per-user in-timestamp-order delivery (events
    * within a micro-batch are sorted here; cross-batch stragglers that
    * arrive after a later stage already fired are not retroactively
    * reprocessed — the standard streaming-funnel trade; the batch twin is
    * the backfill correction path, same Kappa contract as the rest of this
    * module).
    */
  def funnelStages(events: Dataset[Event],
      windowSec: Long = 86400L): Dataset[FunnelProgress] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelProgress](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[FunnelState]) =>
          var s = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
          // total (sec, event_id) order inside the batch — same tie rule
          // as the batch twin's window sort
          batch.toArray.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            val sec = e.ts.getTime / 1000
            e.event_type match {
              case "view" if s.vSec < 0 =>
                s = s.copy(vSec = sec)
              case "click" if s.vSec >= 0 && s.cSec < 0 &&
                  sec > s.vSec && sec <= s.vSec + windowSec =>
                s = s.copy(cSec = sec)
              case "purchase" if s.cSec >= 0 && s.pSec < 0 &&
                  sec > s.cSec && sec <= s.cSec + windowSec =>
                s = s.copy(pSec = sec)
              case _ => ()
            }
          }
          state.update(s)
          val stage =
            if (s.pSec >= 0) 3 else if (s.cSec >= 0) 2
            else if (s.vSec >= 0) 1 else 0
          Iterator.single(FunnelProgress(uid, stage))
      }
  }

  final case class LagState(vSec: Long, pSec: Long)
  final case class ConversionLagRow(user_id: Long, lag_sec: Long)

  /** Streaming time-to-conversion: the keyed-state twin of
    * [[graft.operators.BehaviorOps.ConversionLag]] — per user, latch the
    * first view, then emit ONE lag row the moment the first strictly-later
    * purchase lands. State is two longs per user; a converted user's key
    * never emits again (the batch `min(p_sec)` semantics, incrementally).
    *
    * Same delivery contract as [[funnelStages]]: exact under per-user
    * in-timestamp-order delivery (in-batch events are sorted; a straggler
    * view older than the latched one is not retroactively applied — the
    * batch twin is the backfill correction path).
    */
  def conversionLags(events: Dataset[Event]): Dataset[ConversionLagRow] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[LagState, ConversionLagRow](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[LagState]) =>
          var s = state.getOption.getOrElse(LagState(-1L, -1L))
          var emit: Option[ConversionLagRow] = None
          batch.toArray.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            val sec = e.ts.getTime / 1000
            e.event_type match {
              case "view" if s.vSec < 0 =>
                s = s.copy(vSec = sec)
              case "purchase" if s.vSec >= 0 && s.pSec < 0 && sec > s.vSec =>
                s = s.copy(pSec = sec)
                emit = Some(ConversionLagRow(uid, sec - s.vSec))
              case _ => ()
            }
          }
          state.update(s)
          emit.iterator
      }
  }

  final case class SnapshotKey(user_id: Long, event_type: String)
  final case class SnapshotRow(user_id: Long, event_type: String,
      last_sec: Long, last_event_id: Long, last_value: Double)

  /** Streaming CDC snapshot: the keyed-state twin of
    * [[graft.operators.WarehouseOps.LatestSnapshot]] — per
    * (user_id, event_type) key, keep the latest write under the same total
    * order (sec, then event_id) and emit the key's current row on every
    * update. This is a continuously-maintained MERGE target: state is ONE
    * fixed-size row per live key (bounded by key cardinality, not stream
    * length), and because last-write-wins is a commutative/idempotent
    * policy under the total order, out-of-order and replayed events
    * converge to the same snapshot the batch query computes — no
    * watermark-loss caveat, unlike the funnel twin.
    */
  def latestSnapshot(events: Dataset[Event]): Dataset[SnapshotRow] = {
    import events.sparkSession.implicits._
    events.groupByKey(e => SnapshotKey(e.user_id, e.event_type))
      .flatMapGroupsWithState[SnapshotRow, SnapshotRow](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: SnapshotKey, batch: Iterator[Event], state: GroupState[SnapshotRow]) =>
          var s = state.getOption.orNull
          batch.foreach { e =>
            val sec = e.ts.getTime / 1000
            if (s == null || sec > s.last_sec ||
              (sec == s.last_sec && e.event_id > s.last_event_id))
              s = SnapshotRow(key.user_id, key.event_type, sec, e.event_id, e.value)
          }
          state.update(s)
          Iterator.single(s)
      }
  }

  final case class LastEvent(sec: Long, event_id: Long, event_type: String)
  final case class TransitionPair(prev_type: String, next_type: String)

  /** Streaming Markov transitions: the keyed-state twin of
    * [[graft.operators.BehaviorOps.Transitions]] — per user, remember only
    * the LAST event (one fixed-size row of state per user) and emit a
    * (prev → next) pair for every subsequent event. The downstream count
    * aggregate is Spark's ordinary streaming agg; this operator's job is
    * just the stateful pairing. Same delivery contract as the funnel twin:
    * exact under per-user in-order delivery (in-batch events are sorted by
    * the same (sec, event_id) total order the batch twin's window uses).
    */
  def transitionStream(events: Dataset[Event]): Dataset[TransitionPair] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[LastEvent, TransitionPair](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[LastEvent]) =>
          var last = state.getOption.orNull
          val out = Seq.newBuilder[TransitionPair]
          batch.toArray.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            if (last != null) out += TransitionPair(last.event_type, e.event_type)
            last = LastEvent(e.ts.getTime / 1000, e.event_id, e.event_type)
          }
          state.update(last)
          out.result().iterator
      }
  }

  /** Streaming exact dedup: drop repeated event_ids within the watermark
    * horizon — the streaming twin of [[graft.dedup.Dedup.ExactDedup]]
    * (state stores only ids inside the watermark, so memory is bounded;
    * duplicates arriving later than the watermark are by-contract not
    * caught — that's the deliberate trade every streaming dedup makes).
    */
  def dedupedStream(events: DataFrame): DataFrame =
    events.withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming corpus cleaning: the quality gate + exact dedup of the
    * batch [[graft.text.TextPipeline]] as a structured stream over
    * (doc_id, text, ts) rows. The gate is a stateless filter (identical
    * expression to the batch form); dedup keeps the FIRST document per
    * content fingerprint within the watermark horizon — the streaming
    * analogue of batch keep-min-id (state stores only 32-byte
    * fingerprints inside the watermark, so memory is bounded; a duplicate
    * arriving later than the watermark is by-contract not caught).
    */
  def cleanDocStream(docs: DataFrame, minTokens: Int = 5): DataFrame =
    docs.filter(size(graft.text.TextOps.tokens(col("text"))) >= minTokens)
      .withColumn("fp", md5(lower(trim(col("text")))))
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("fp")
      // the fingerprint is an internal dedup key — the stream's output
      // schema must match the batch pipeline's (drop-in twin contract)
      .drop("fp")

  /** Session windows (30-min inactivity gap) per user — Spark's native
    * merging session_window with a watermark, the streaming twin of the
    * batch lag-based [[graft.operators.AnalyticOps.Sessionize]]. A new
    * event extends the session iff it arrives strictly within `gap` of the
    * previous one, so window membership partitions events exactly like the
    * batch formulation's `gap > threshold ⇒ new session` flag
    * (spec-verified differentially against it).
    */
  def sessionWindowed(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), gap).as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        // decimal-exact like the batch twin: a double sum would depend on
        // micro-batch/partition accumulation order
        graft.functions.SafeMath.exactSum(col("value")).as("total_value"))
      .select(col("sw.start").as("sess_start"), col("sw.end").as("sess_end"),
        col("user_id"), col("n_events"), col("total_value"))

  /** Stream-stream interval join: clicks attached to purchases of the same
    * user within the preceding hour — the streaming twin of the batch
    * [[graft.operators.AnalyticOps.RangeJoin]]. Watermarks on BOTH sides
    * plus a time condition bounded in BOTH directions are what make the
    * join state provably evictable (Spark refuses unbounded stream-stream
    * joins otherwise): a click is retained only until its watermark passes
    * `c_ts + 1 hour`.
    */
  def purchaseClickJoin(purchases: DataFrame, clicks: DataFrame): DataFrame = {
    val p = purchases
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "2 hours")
    val c = clicks
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"), col("value"))
      .withWatermark("c_ts", "2 hours")
    p.join(c,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") < col("p_ts"))
      .select(col("user_id"), col("purchase_id"), col("p_ts"), col("c_ts"), col("value"))
  }

  /** Batch events table exposed with proper timestamps — the source both
    * batch and streaming paths share (ts arrives as TIMESTAMP(NANOS) →
    * long, see [[Graft.table]]).
    */
  def batchEvents(spark: SparkSession, sfDir: String): DataFrame =
    Graft.table(spark, sfDir, "events")
      .select(col("event_id"), Graft.tsFromNanos("ts").as("ts"),
        col("user_id"), col("event_type"), col("value"))

  /** Exactly-once-on-replay `foreachBatch` sink: each micro-batch lands in
    * its own `_batch_id=N` partition under DYNAMIC partition overwrite, so
    * a replayed batch (checkpoint recovery re-delivers the last epoch with
    * the SAME batchId — Spark's foreachBatch contract) overwrites its own
    * partition instead of appending duplicates. This is the standard
    * idempotent streaming→warehouse landing pattern; at scale each batch
    * writes only its partition, and downstream readers see every event
    * exactly once however many times the writer restarted.
    */
  def idempotentBatchSink(outDir: String)(batch: DataFrame, batchId: Long): Unit =
    batch.withColumn("_batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("_batch_id")
      .parquet(outDir)
}
