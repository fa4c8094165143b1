package graft.operators

import graft.{Graft, GraftQuery}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (backward) join — the canonical "operator Spark lacks" (SURVEY
  * §2.3 lists it as absent from both the reference and stock Spark).
  *
  * Implemented by composition, per the preference order in SURVEY §7
  * (compose built-ins before writing a custom SparkStrategy): tag and
  * union both sides, sort within each key partition by (time, tag,
  * tiebreak), and carry the right side's payload forward with
  * `last(..., ignoreNulls)`. One shuffle on the key — no range cross-join,
  * no per-key collect — so the plan scales like any window aggregate.
  *
  * [[asofBackwardNative]] is the same operator through the full custom
  * stack (logical node → strategy → [[graft.plans.AsOfJoinPlan.AsOfJoinExec]]):
  * a single merge pass that skips the union and the re-join. The composed
  * form remains as the no-extension fallback and the differential-test
  * reference.
  */
object AsOfJoin {

  /** For each left row, attach the latest right payload with
    * `right.time <= left.time` per key (right rows sort before left rows
    * on time ties, so same-instant right rows DO match).
    *
    * @param tiebreak a column present on both sides making the sort total;
    *                 (key, time, tiebreak) must also be UNIQUE on the left —
    *                 it is the identity used to re-attach the match, so a
    *                 duplicate triple would fan the join out
    */
  def asofBackward(left: DataFrame, right: DataFrame,
      key: String, time: String, tiebreak: String,
      rightPayload: Column): DataFrame = {
    // the union carries only (key, time, tiebreak, payload, tag); left's
    // full row is re-attached afterwards by its (key, time, tiebreak) id —
    // wide left rows never ride through the window sort
    val rAligned = right.select(col(key), col(time), col(tiebreak),
      rightPayload.cast("string").as("_rp"), lit(0).as("_tag"))
    val lAligned = left.select(col(key), col(time), col(tiebreak),
      lit(null).cast("string").as("_rp"), lit(1).as("_tag"))
    val w = Window.partitionBy(key)
      .orderBy(col(time).asc, col("_tag").asc, col(tiebreak).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = rAligned.unionAll(lAligned)
      .withColumn("_asof", last(col("_rp"), ignoreNulls = true).over(w))
      .filter(col("_tag") === 1)
      .select(col(key), col(time), col(tiebreak), col("_asof"))
    left.join(matched, Seq(key, time, tiebreak), "inner")
  }

  /** The same join through the native operator
    * ([[graft.plans.AsOfJoinPlan]]): one sorted merge pass instead of
    * union+window+re-join. Installs the planner strategy on the session
    * if it is not there yet
    * ([[graft.plans.GraftExtensions.installAsOfStrategy]]).
    */
  def asofBackwardNative(left: DataFrame, right: DataFrame,
      key: String, time: String, tiebreak: String,
      payloadCol: String): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.graftglue.Bridge
    graft.plans.GraftExtensions.installAsOfStrategy(left.sparkSession)
    // both sides often derive from the same source and then SHARE exprIds;
    // the analyzer's DeduplicateRelations re-aliases the right child of a
    // custom node but cannot rewrite the node's own expressions — so mint
    // fresh right-side attributes ourselves before building the plan
    val r = right.select(right.columns.toIndexedSeq.map(c => right(c).as(c)): _*)
    val payloadExpr = Bridge.expression(r(payloadCol))
    val node = graft.plans.AsOfJoinPlan.AsOfJoinNode(
      Bridge.plan(left), Bridge.plan(r),
      Bridge.expression(left(key)), Bridge.expression(left(time)),
      Bridge.expression(left(tiebreak)),
      Bridge.expression(r(key)), Bridge.expression(r(time)),
      Bridge.expression(r(tiebreak)),
      payloadExpr,
      AttributeReference("_asof", payloadExpr.dataType, nullable = true)())
    Bridge.ofRows(left.sparkSession, node)
  }

  /** Purchase→last-prior-click attribution over the events table: for each
    * 'purchase', the most recent 'click' of the same user at or before the
    * purchase instant (nanos — exact integer time, no truncation).
    */
  object PurchaseAttribution extends GraftQuery {
    val name = "q_asof_join"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val ev = Graft.table(spark, sfDir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"), col("value"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
      // run through the native single-pass operator (the composed form is
      // differentially spec'd identical and remains the fallback)
      val attributed = asofBackwardNative(purchases, clicks,
        key = "user_id", time = "ts", tiebreak = "event_id",
        payloadCol = "event_id")
      attributed
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("value").as("purchase_value"),
          col("_asof").cast("long").as("attributed_click_id"))
        .orderBy("purchase_id")
    }
    val oracle = Some(
      """WITH ev AS (
        |  SELECT user_id, epoch_ns(ts) AS t, event_id, event_type, value FROM events),
        |tagged AS (
        |  SELECT user_id, t, event_id, 0 AS tag,
        |         CAST(event_id AS VARCHAR) AS rp, NULL::DOUBLE AS value
        |  FROM ev WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT user_id, t, event_id, 1 AS tag, NULL AS rp, value
        |  FROM ev WHERE event_type = 'purchase'),
        |matched AS (
        |  SELECT user_id, t, event_id, tag, value,
        |         last_value(rp IGNORE NULLS) OVER (
        |           PARTITION BY user_id ORDER BY t ASC, tag ASC, event_id ASC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prior_click
        |  FROM tagged)
        |SELECT event_id AS purchase_id, user_id, value AS purchase_value,
        |       CAST(prior_click AS BIGINT) AS attributed_click_id
        |FROM matched WHERE tag = 1
        |ORDER BY purchase_id""".stripMargin)
  }

  /** Funnel rollup over the attribution result: what share of purchases
    * had a prior click, and how long after it they happened. Integer
    * second math + exact count ratios — fully deterministic.
    */
  object AttributionRate extends GraftQuery {
    val name = "q_attribution_rate"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val attributed = PurchaseAttribution.run(spark, sfDir)
      val clicks = Graft.table(spark, sfDir, "events")
        .filter(col("event_type") === "click")
        .select(col("event_id").as("attributed_click_id"), col("ts").as("click_ts"))
      val purchases = Graft.table(spark, sfDir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
      attributed
        .join(purchases, "purchase_id")
        .join(clicks, Seq("attributed_click_id"), "left")
        .select(col("purchase_id"),
          when(col("click_ts").isNotNull,
            expr("(purchase_ts - click_ts) div 1000000000")).as("gap_sec"))
        .agg(
          count(lit(1)).as("n_purchases"),
          count(col("gap_sec")).as("n_attributed"),
          (count(col("gap_sec")).cast("double") / count(lit(1)).cast("double"))
            .as("conversion_rate"),
          (sum(col("gap_sec")).cast("double") /
            count(col("gap_sec")).cast("double")).as("avg_gap_sec"))
    }
    val oracle = Some(
      """WITH ev AS (
        |  SELECT user_id, epoch_ns(ts) AS t, event_id, event_type FROM events),
        |tagged AS (
        |  SELECT user_id, t, event_id, 0 AS tag, CAST(event_id AS VARCHAR) AS rp
        |  FROM ev WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT user_id, t, event_id, 1 AS tag, NULL AS rp
        |  FROM ev WHERE event_type = 'purchase'),
        |matched AS (
        |  SELECT user_id, t, event_id, tag,
        |         last_value(rp IGNORE NULLS) OVER (
        |           PARTITION BY user_id ORDER BY t ASC, tag ASC, event_id ASC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prior_click
        |  FROM tagged),
        |purchases AS (
        |  SELECT m.event_id AS purchase_id, m.t AS pt,
        |         CAST(m.prior_click AS BIGINT) AS click_id
        |  FROM matched m WHERE m.tag = 1),
        |gaps AS (
        |  SELECT p.purchase_id,
        |         CASE WHEN c.t IS NULL THEN NULL
        |              ELSE (p.pt - c.t) // 1000000000 END AS gap_sec
        |  FROM purchases p
        |  LEFT JOIN (SELECT event_id, t FROM ev WHERE event_type = 'click') c
        |    ON p.click_id = c.event_id)
        |SELECT count(*) AS n_purchases,
        |       CAST(count(gap_sec) AS BIGINT) AS n_attributed,
        |       CAST(count(gap_sec) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS conversion_rate,
        |       CAST(sum(gap_sec) AS DOUBLE) / CAST(count(gap_sec) AS DOUBLE) AS avg_gap_sec
        |FROM gaps""".stripMargin)
  }

  /** Interval-overlap join — the second "operator Spark lacks" in the
    * temporal-join family (as-of = point→interval; this = interval↔
    * interval). Concurrent-session detection: every pair of sessions from
    * DIFFERENT users whose [start, end] second ranges overlap.
    *
    * Scale shape (the textbook bucketed interval join): each interval
    * explodes to the fixed-size time buckets it covers (fan-out =
    * duration/[[IntervalJoin.BucketSeconds]] + 1, bounded because
    * gap-sessions are short by construction), candidates meet in a plain
    * bucket EQUI-join — never an inequality cross-join — and the exact
    * overlap predicate runs as a join residual. Each overlapping pair is
    * emitted EXACTLY once without any dedup shuffle: a pair is accepted
    * only in the bucket containing max(start_a, start_b), which both
    * intervals cover iff they overlap. The session-interval frame is
    * persisted once and self-joined.
    */
  object IntervalJoin extends GraftQuery {
    val name = "q_interval_join"
    /** Bucket width ≈ 14× the mean gap-session duration in the synthetic
      * events; at any scale the width should track the p99 interval
      * length so per-interval fan-out stays O(1).
      */
    private val BucketSeconds = 600L
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      // persisted: both sides of the self-join read the interval frame;
      // unpersisted, the second side re-runs the sessionization window
      // over the full events table (released per query by Bench/Verify)
      val iv = AnalyticOps.sessionFrame(spark, sfDir)
        .groupBy("user_id", "sess_id")
        .agg(min(col("sec")).as("s"), max(col("sec")).as("e"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      def side(tag: String) = iv.select(
        col("user_id").as(s"user_$tag"), col("sess_id").as(s"sess_$tag"),
        col("s").as(s"s_$tag"), col("e").as(s"e_$tag"))
      val a = side("a").withColumn("bucket_a",
        explode(sequence(expr(s"s_a div $BucketSeconds"), expr(s"e_a div $BucketSeconds"))))
      val b = side("b").withColumn("bucket_b",
        explode(sequence(expr(s"s_b div $BucketSeconds"), expr(s"e_b div $BucketSeconds"))))
      a.join(b,
          col("bucket_a") === col("bucket_b") &&
            col("user_a") < col("user_b") &&
            col("s_a") <= col("e_b") && col("s_b") <= col("e_a") &&
            // exactly-once emission: only the bucket holding the later start
            col("bucket_a") === expr(s"greatest(s_a, s_b) div $BucketSeconds"))
        .select(col("user_a"), col("sess_a"), col("user_b"), col("sess_b"),
          greatest(col("s_a"), col("s_b")).as("overlap_start"),
          least(col("e_a"), col("e_b")).as("overlap_end"),
          (least(col("e_a"), col("e_b")) - greatest(col("s_a"), col("s_b")))
            .as("overlap_sec"))
        .orderBy("user_a", "sess_a", "user_b", "sess_b")
    }
    val oracle = Some(
      s"""WITH ${AnalyticOps.sessionOracleCtes},
         |iv AS (
         |  SELECT user_id, sess_id, min(sec) AS s, max(sec) AS e
         |  FROM sessions GROUP BY 1, 2)
         |SELECT a.user_id AS user_a, a.sess_id AS sess_a,
         |       b.user_id AS user_b, b.sess_id AS sess_b,
         |       greatest(a.s, b.s) AS overlap_start,
         |       least(a.e, b.e) AS overlap_end,
         |       CAST(least(a.e, b.e) - greatest(a.s, b.s) AS BIGINT) AS overlap_sec
         |FROM iv a JOIN iv b
         |  ON a.user_id < b.user_id AND a.s <= b.e AND b.s <= a.e
         |ORDER BY 1, 2, 3, 4""".stripMargin)
  }

  /** Forward as-of: for each left row, the EARLIEST right payload with
    * `right.time >= left.time` per key — the mirror of [[asofBackward]]
    * (same union + single window sort; the frame looks forward and left
    * rows sort before same-instant right rows so ties match). The
    * time-to-next-event direction backward as-of can't answer.
    */
  def asofForward(left: DataFrame, right: DataFrame,
      key: String, time: String, tiebreak: String,
      rightPayload: Column): DataFrame = {
    val rAligned = right.select(col(key), col(time), col(tiebreak),
      rightPayload.cast("string").as("_rp"), lit(1).as("_tag"))
    val lAligned = left.select(col(key), col(time), col(tiebreak),
      lit(null).cast("string").as("_rp"), lit(0).as("_tag"))
    val w = Window.partitionBy(key)
      .orderBy(col(time).asc, col("_tag").asc, col(tiebreak).asc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val matched = rAligned.unionAll(lAligned)
      .withColumn("_asof", first(col("_rp"), ignoreNulls = true).over(w))
      .filter(col("_tag") === 0)
      .select(col(key), col(time), col(tiebreak), col("_asof"))
    left.join(matched, Seq(key, time, tiebreak), "inner")
  }

  /** Click → next purchase (forward as-of over the event stream): for each
    * click, the user's first purchase at-or-after it and the seconds until
    * it — the "time to convert from THIS touch" view ([[PurchaseAttribution]]
    * is the purchase-anchored mirror). Clicks with no later purchase keep a
    * NULL next id (they are data — the unconverted tail).
    */
  object NextPurchase extends GraftQuery {
    val name = "q_asof_forward"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val ev = Graft.table(spark, sfDir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
      val joined = asofForward(clicks, purchases,
        key = "user_id", time = "ts", tiebreak = "event_id",
        rightPayload = concat_ws(":", col("event_id"), col("ts")))
      joined
        .select(col("event_id").as("click_id"), col("user_id"),
          split(col("_asof"), ":").getItem(0).cast("long")
            .as("next_purchase_id"),
          expr("(CAST(split(_asof, ':')[1] AS BIGINT) - ts) div 1000000000")
            .as("secs_to_purchase"))
        .orderBy("click_id")
    }
    val oracle = Some(
      """WITH ev AS (
        |  SELECT user_id, epoch_ns(ts) AS t, event_id, event_type FROM events),
        |tagged AS (
        |  SELECT user_id, t, event_id, 1 AS tag,
        |         CAST(event_id AS VARCHAR) || ':' || CAST(t AS VARCHAR) AS rp
        |  FROM ev WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT user_id, t, event_id, 0 AS tag, NULL AS rp
        |  FROM ev WHERE event_type = 'click'),
        |matched AS (
        |  SELECT user_id, t, event_id, tag,
        |         first_value(rp IGNORE NULLS) OVER (
        |           PARTITION BY user_id ORDER BY t ASC, tag ASC, event_id ASC
        |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxt
        |  FROM tagged)
        |SELECT event_id AS click_id, user_id,
        |       CAST(string_split(nxt, ':')[1] AS BIGINT) AS next_purchase_id,
        |       (CAST(string_split(nxt, ':')[2] AS BIGINT) - t) // 1000000000
        |         AS secs_to_purchase
        |FROM matched WHERE tag = 0
        |ORDER BY click_id""".stripMargin)
  }

  /** Last-touch revenue attribution — the marketing rollup: each
    * purchase's cents credited to the LAST non-purchase event type within
    * the preceding 24 hours ('direct' when there is none). One union +
    * one window sort (the [[asofBackward]] shape inline): TWO
    * `last(..., ignoreNulls)` calls over the same ordering necessarily
    * pick the same carrying row (their null-sets are identical), so the
    * channel and its timestamp stay consistent without packing a struct.
    */
  object LastTouch extends GraftQuery {
    val name = "q_last_touch"
    private val WindowSec = 86400L
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val ev = Graft.table(spark, sfDir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("ts div 1000000000").as("sec"),
          graft.plans.DecimalExpressions.money_cents(col("value")).as("cents"))
        .withColumn("is_p", col("event_type") === "purchase")
      val w = Window.partitionBy("user_id")
        .orderBy(col("sec").asc, col("is_p").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val touch = when(!col("is_p"), col("event_type"))
      val touchSec = when(!col("is_p"), col("sec"))
      val attributed = ev
        .withColumn("t_chan", last(touch, ignoreNulls = true).over(w))
        .withColumn("t_sec", last(touchSec, ignoreNulls = true).over(w))
        .filter(col("is_p"))
        .withColumn("channel",
          when(col("t_sec").isNotNull &&
            col("sec") - col("t_sec") <= WindowSec, col("t_chan"))
            .otherwise("direct"))
      attributed.groupBy("channel")
        .agg(count(lit(1)).as("n_purchases"), sum(col("cents")).as("revenue_cents"))
        .orderBy("channel")
    }
    val oracle = Some(
      s"""WITH ev AS (
         |  SELECT user_id, event_id, event_type,
         |         epoch_ns(ts) // 1000000000 AS sec,
         |         CAST(round(value * 100) AS BIGINT) AS cents,
         |         event_type = 'purchase' AS is_p
         |  FROM events),
         |carried AS (
         |  SELECT *,
         |         last_value(CASE WHEN NOT is_p THEN event_type END IGNORE NULLS)
         |           OVER w AS t_chan,
         |         last_value(CASE WHEN NOT is_p THEN sec END IGNORE NULLS)
         |           OVER w AS t_sec
         |  FROM ev
         |  WINDOW w AS (PARTITION BY user_id
         |               ORDER BY sec ASC, is_p ASC, event_id ASC
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |attributed AS (
         |  SELECT CASE WHEN t_sec IS NOT NULL AND sec - t_sec <= $WindowSec
         |              THEN t_chan ELSE 'direct' END AS channel, cents
         |  FROM carried WHERE is_p)
         |SELECT channel, count(*) AS n_purchases,
         |       CAST(sum(cents) AS BIGINT) AS revenue_cents
         |FROM attributed GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** First-touch vs last-touch attribution, side by side — the comparison
    * that decides a marketing-measurement methodology: both carries ride
    * the SAME single window sort ([[LastTouch]]'s ordering), first-touch
    * as the running FIRST non-purchase within the window, last-touch as
    * the running LAST, each 24h-gated against its own touch time. One
    * union-free pass, one sort, a channel×2 rollup unpivoted to
    * (channel, model, revenue) rows.
    */
  object AttributionCompare extends GraftQuery {
    val name = "q_attribution_compare"
    private val WindowSec = 86400L
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val ev = Graft.table(spark, sfDir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("ts div 1000000000").as("sec"),
          graft.plans.DecimalExpressions.money_cents(col("value")).as("cents"))
        .withColumn("is_p", col("event_type") === "purchase")
      val w = Window.partitionBy("user_id")
        .orderBy(col("sec").asc, col("is_p").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val touch = when(!col("is_p"), col("event_type"))
      val touchSec = when(!col("is_p"), col("sec"))
      val carried = ev
        .withColumn("lt_chan", last(touch, ignoreNulls = true).over(w))
        .withColumn("lt_sec", last(touchSec, ignoreNulls = true).over(w))
        .withColumn("ft_chan", first(touch, ignoreNulls = true).over(w))
        .withColumn("ft_sec", first(touchSec, ignoreNulls = true).over(w))
        .filter(col("is_p"))
      def gated(chan: Column, sec: Column) =
        when(sec.isNotNull && col("sec") - sec <= WindowSec, chan)
          .otherwise("direct")
      val attributed = carried
        .withColumn("last_chan", gated(col("lt_chan"), col("lt_sec")))
        .withColumn("first_chan", gated(col("ft_chan"), col("ft_sec")))
      val byLast = attributed.groupBy(col("last_chan").as("channel"))
        .agg(sum(col("cents")).as("rev"))
        .select(col("channel"), lit("last_touch").as("model"), col("rev"))
      val byFirst = attributed.groupBy(col("first_chan").as("channel"))
        .agg(sum(col("cents")).as("rev"))
        .select(col("channel"), lit("first_touch").as("model"), col("rev"))
      byFirst.unionAll(byLast)
        .select(col("channel"), col("model"), col("rev").as("revenue_cents"))
        .orderBy("channel", "model")
    }
    val oracle = Some(
      s"""WITH ev AS (
         |  SELECT user_id, event_id, event_type,
         |         epoch_ns(ts) // 1000000000 AS sec,
         |         CAST(round(value * 100) AS BIGINT) AS cents,
         |         event_type = 'purchase' AS is_p
         |  FROM events),
         |carried AS (
         |  SELECT *,
         |         last_value(CASE WHEN NOT is_p THEN event_type END IGNORE NULLS)
         |           OVER w AS lt_chan,
         |         last_value(CASE WHEN NOT is_p THEN sec END IGNORE NULLS)
         |           OVER w AS lt_sec,
         |         first_value(CASE WHEN NOT is_p THEN event_type END IGNORE NULLS)
         |           OVER w AS ft_chan,
         |         first_value(CASE WHEN NOT is_p THEN sec END IGNORE NULLS)
         |           OVER w AS ft_sec
         |  FROM ev
         |  WINDOW w AS (PARTITION BY user_id
         |               ORDER BY sec ASC, is_p ASC, event_id ASC
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |attributed AS (
         |  SELECT cents,
         |         CASE WHEN lt_sec IS NOT NULL AND sec - lt_sec <= $WindowSec
         |              THEN lt_chan ELSE 'direct' END AS last_chan,
         |         CASE WHEN ft_sec IS NOT NULL AND sec - ft_sec <= $WindowSec
         |              THEN ft_chan ELSE 'direct' END AS first_chan
         |  FROM carried WHERE is_p)
         |SELECT channel, model, revenue_cents FROM (
         |  SELECT first_chan AS channel, 'first_touch' AS model,
         |         CAST(sum(cents) AS BIGINT) AS revenue_cents
         |  FROM attributed GROUP BY 1
         |  UNION ALL
         |  SELECT last_chan, 'last_touch', CAST(sum(cents) AS BIGINT)
         |  FROM attributed GROUP BY 1)
         |ORDER BY channel, model""".stripMargin)
  }

  val all: Seq[GraftQuery] = Seq(PurchaseAttribution, AttributionRate,
    IntervalJoin, NextPurchase, LastTouch, AttributionCompare)
}
