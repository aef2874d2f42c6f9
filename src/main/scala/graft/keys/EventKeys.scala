package graft
package keys

import org.apache.spark.sql.functions._
import graft.operators._
import Shared._

/** Event-stream keys: sessions, funnels, cohorts, attribution,
  * activity and time series. */
object EventKeys extends Family {
  /** q_stickiness trailing window (the MAU in DAU/MAU). */
  private val StickinessDays = 30

  /** q_sessionize: gap (minutes) closing a session. 30 min splits the
    * synthetic per-user event streams into multi-session histories at
    * every SF. */
  private val SessionGapMin = 30

  /** q_rolling_daily: trailing window length in days. */
  private val RollingDays = 7

  /** q_forecast_naive: seasonal lag in days (same weekday last week). */
  private val ForecastLagDays = 7

  /** q_ctr_wilson: success event type and segment count (the
    * qa_multigroup site convention); its z is [[Shared.CtrZ]]. */
  private val CtrSuccessType = "purchase"
  private val CtrSegments = 5

  /** q_range_join: attribution window length (days) after a purchase.
    * The range-join band width equals the window, so each interval
    * explodes to at most 2 bins. */
  private val AttribDays = 3

  /** q_funnel_*: the funnel's event_id slice and stages (see
    * [[Shared.CohortSliceMod]]). */
  private val FunnelSliceMod = 13
  private val FunnelStages = Seq("view", "click", "purchase")

  /** q_funnel_windowed: conversion deadline per step (days). 14 BINDS
    * on the sparse funnel slice at every SF while keeping all stages
    * non-zero (probed: sf0.01 unbounded (102, 46, 12) vs windowed
    * (102, 35, 6)) — the windowed counts must differ from the
    * unbounded funnel's or the query proves nothing. */
  private val FunnelWindowDays = 14

  /** q_session_paths: opening-path prefix length and report size. */
  private val PathMaxLen = 5
  private val PathTopN = 20

  /** q_gap_fill: 1-in-997 event slice — sparse enough that the daily
    * series has real holes at every SF. */
  private val GapSliceMod = 997

  val keys: Seq[Key] = Seq(
    // landing-quality: 1-event-session share per entry type
    key("q_bounce_rate", (s, d) =>
      Temporal.bounceRate(Tables.events(s, d), SessionGapMin, CtrZ))({
      // events.ts is parquet timestamp[ns]; the temporal oracles CAST to
      // microsecond TIMESTAMP up front so gap arithmetic and equality
      // match the engine (GraftSession reads the same column as micros).
      val z2 = CtrZ * CtrZ
      s"""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
            event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS tu FROM events),
          s AS (SELECT *, CASE WHEN lag(tu) OVER w IS NULL
              OR tu - lag(tu) OVER w > ${SessionGapMin * 60L * 1000000L}
              THEN 1 ELSE 0 END AS new_sess
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
          x AS (SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id
              ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS session_ix FROM s),
          r AS (SELECT user_id, session_ix, event_type, row_number()
              OVER (PARTITION BY user_id, session_ix
                ORDER BY tu, event_id) AS rn FROM x),
          ses AS (SELECT user_id, session_ix, count(*) AS n_events
            FROM x GROUP BY 1, 2),
          entry AS (SELECT user_id, session_ix, event_type AS entry_type
            FROM r WHERE rn = 1),
          a AS (SELECT entry_type, count(*) AS n_sessions,
              count(*) FILTER (WHERE n_events = 1) AS n_bounces
            FROM ses JOIN entry USING (user_id, session_ix) GROUP BY 1),
          pr AS (SELECT *, CAST(n_bounces AS DOUBLE) / n_sessions AS p
            FROM a)
          SELECT entry_type, n_sessions, n_bounces, p AS bounce_rate,
            (p + $z2 / (CAST(n_sessions AS DOUBLE) * 2) - $CtrZ *
              sqrt(p * (1.0 - p) / CAST(n_sessions AS DOUBLE) +
                $z2 / (CAST(n_sessions AS DOUBLE) *
                  CAST(n_sessions AS DOUBLE) * 4))) /
            (1.0 + $z2 / CAST(n_sessions AS DOUBLE)) AS wilson_lb
          FROM pr ORDER BY entry_type""" }),
    key("q_sessionize", (s, d) =>
      Temporal.sessionize(Tables.events(s, d), SessionGapMin))(
      s"""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
            value, epoch_us(CAST(ts AS TIMESTAMP)) AS tu FROM events),
          s AS (SELECT *, CASE WHEN lag(tu) OVER w IS NULL
              OR tu - lag(tu) OVER w > ${SessionGapMin * 60L * 1000000L}
              THEN 1 ELSE 0 END AS new_sess
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
          x AS (SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id
              ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS session_ix FROM s)
          SELECT user_id, session_ix, min(ts) AS session_start,
            max(ts) AS session_end, count(*) AS n_events,
            round(sum(value), 2) AS total_value
          FROM x GROUP BY 1, 2 ORDER BY 1, 2"""),
    // One exposure per (user, instant) before the as-of probe: the
    // carried payload at equal timestamps is otherwise tie-order
    // dependent on BOTH engines (max event_id wins, deterministically).
    key("q_asof_join", (s, d) => {
      val e = Tables.events(s, d)
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      val tie = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("ts")).orderBy(col("event_id").desc)
      val exposures = e.where(col("event_type") =!= "purchase")
        .withColumn("rk", row_number().over(tie)).where(col("rk") === 1)
        .select(col("user_id"), col("ts"), col("event_type"))
      Temporal.asofJoin(purchases, exposures, "user_id",
        Seq("ts", "event_type"))
        .withColumn("gap_us",
          unix_micros(col("ts")) - unix_micros(col("asof_ts")))
        .orderBy(col("user_id"), col("ts"), col("event_id"))
    })(
      """WITH p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
            value FROM events WHERE event_type = 'purchase'),
          x0 AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
            row_number() OVER (PARTITION BY user_id, CAST(ts AS TIMESTAMP)
              ORDER BY event_id DESC) AS rk
            FROM events WHERE event_type <> 'purchase'),
          x AS (SELECT user_id, ts, event_type FROM x0 WHERE rk = 1)
          SELECT p.user_id, p.ts, p.event_id, p.value,
            x.ts AS asof_ts, x.event_type AS asof_event_type,
            epoch_us(p.ts) - epoch_us(x.ts) AS gap_us
          FROM p ASOF LEFT JOIN x
            ON p.user_id = x.user_id AND p.ts >= x.ts
          ORDER BY p.user_id, p.ts, p.event_id"""),
    key("q_rolling_daily", (s, d) =>
      Temporal.rollingDaily(Tables.events(s, d), RollingDays))(
      s"""WITH daily AS (SELECT CAST(ts AS DATE) AS date, event_type,
            count(*) AS n_events, round(sum(value), 2) AS sum_value,
            date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_num
          FROM events GROUP BY 1, 2, 5)
          SELECT date, event_type, n_events, sum_value,
            CAST(sum(n_events) OVER w AS BIGINT) AS n_events_7d,
            round(sum(sum_value) OVER w, 2) AS sum_value_7d
          FROM daily
          WINDOW w AS (PARTITION BY event_type ORDER BY day_num
            RANGE BETWEEN ${RollingDays - 1} PRECEDING AND CURRENT ROW)
          ORDER BY date, event_type"""),
    // Attribution windows: follow-up activity within AttribDays after
    // each purchase, via the banded range join (equi-join on
    // (user, bin) + residual filter — never a nested-loop join).
    key("q_range_join", (s, d) => {
      val e = Tables.events(s, d)
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("start"),
          (col("ts") + expr(s"INTERVAL $AttribDays DAYS")).as("end"),
          col("event_id"))
      val follows = e.where(col("event_type") =!= "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      val counts = Temporal.rangeJoin(purchases, follows, "user_id",
        AttribDays * 86400L)
        .groupBy(col("event_id"))
        .agg(count(lit(1)).as("n_follow"),
          round(sum(col("value")), 2).as("follow_value"))
      purchases.select(col("user_id"), col("start").as("ts"), col("event_id"))
        .join(counts, Seq("event_id"), "left_outer")
        .withColumn("n_follow", coalesce(col("n_follow"), lit(0L)))
        .select(col("user_id"), col("ts"), col("event_id"),
          col("n_follow"), col("follow_value"))
        .orderBy(col("user_id"), col("ts"), col("event_id"))
    })(
      s"""WITH p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
            FROM events WHERE event_type = 'purchase'),
          x AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
            FROM events WHERE event_type <> 'purchase')
          SELECT p.user_id, p.ts, p.event_id,
            count(x.ts) AS n_follow, round(sum(x.value), 2) AS follow_value
          FROM p LEFT JOIN x ON p.user_id = x.user_id
            AND x.ts >= p.ts AND x.ts <= p.ts + INTERVAL $AttribDays DAY
          GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""),
    key("q_cohort", (s, d) =>
      Journey.cohortRetention(Tables.events(s, d)
        .where(col("event_id") % CohortSliceMod === 0)))(
      s"""WITH s AS (SELECT user_id, CAST(date_trunc('week', ts) AS DATE)
            AS week FROM events WHERE event_id % $CohortSliceMod = 0),
          fu AS (SELECT user_id, min(week) AS cohort_week FROM s GROUP BY 1),
          uw AS (SELECT DISTINCT s.user_id, fu.cohort_week, s.week
            FROM s JOIN fu USING (user_id)),
          m AS (SELECT cohort_week,
              CAST(date_diff('day', cohort_week, week) / 7 AS INTEGER)
                AS week_ix,
              count(*) AS n_users FROM uw GROUP BY 1, 2),
          z AS (SELECT cohort_week, week_ix, n_users,
              max(CASE WHEN week_ix = 0 THEN n_users END)
                OVER (PARTITION BY cohort_week) AS cohort_size FROM m)
          SELECT cohort_week, week_ix, n_users, cohort_size,
            CAST(n_users AS DOUBLE) / cohort_size AS retention
          FROM z ORDER BY cohort_week, week_ix"""),
    // Same sparse slice as q_cohort so weekly gaps actually occur.
    key("q_lifecycle", (s, d) =>
      Journey.lifecycle(Tables.events(s, d)
        .where(col("event_id") % CohortSliceMod === 0)))(
      // lag/lead windows replay the engine's row-local array-gap
      // classification; churn lands on the first silent week, capped at
      // the corpus max week. DuckDB date-date is integer days.
      s"""WITH uw AS (SELECT DISTINCT user_id,
            CAST(date_trunc('week', ts) AS DATE) AS week
            FROM events WHERE event_id % $CohortSliceMod = 0),
          mx AS (SELECT max(week) AS max_week FROM uw),
          lagged AS (SELECT user_id, week,
            lag(week) OVER (PARTITION BY user_id ORDER BY week) AS prev_w,
            lead(week) OVER (PARTITION BY user_id ORDER BY week) AS next_w
            FROM uw),
          act AS (SELECT week,
            CASE WHEN prev_w IS NULL THEN 'new'
                 WHEN week - prev_w = 7 THEN 'retained'
                 ELSE 'resurrected' END AS status FROM lagged),
          churn AS (SELECT week + 7 AS week, 'churned' AS status
            FROM lagged, mx
            WHERE (next_w IS NULL OR next_w - week > 7)
              AND week + 7 <= max_week),
          allr AS (SELECT * FROM act UNION ALL SELECT * FROM churn)
          SELECT week, status, count(*) AS n_users
          FROM allr GROUP BY 1, 2 ORDER BY 1, 2"""),
    rowsOnly("q_lifecycle_approx", (s, d) =>
      Journey.lifecycleApprox(Tables.events(s, d)
        .where(col("event_id") % CohortSliceMod === 0)))(
      "sketch internals are engine-specific; JourneySpec pins " +
        "small-domain near-exactness and bounds vs the exact lifecycle"),
    key("q_funnel_steps", (s, d) =>
      Journey.funnelSteps(Tables.events(s, d)
        .where(col("event_id") % FunnelSliceMod === 0), FunnelStages))({
      val src = s"SELECT user_id, ts, event_type FROM events " +
        s"WHERE event_id % $FunnelSliceMod = 0"
      val ctes = FunnelStages.zipWithIndex.map { case (st, i) =>
        if (i == 0)
          s"t0 AS (SELECT user_id, min(ts) AS ts FROM s " +
            s"WHERE event_type = '$st' GROUP BY 1)"
        else
          s"t$i AS (SELECT s.user_id, min(s.ts) AS ts FROM s " +
            s"JOIN t${i - 1} USING (user_id) WHERE s.event_type = '$st' " +
            s"AND s.ts >= t${i - 1}.ts GROUP BY 1)"
      }.mkString(",\n          ")
      val stageRows = FunnelStages.zipWithIndex.map { case (st, i) =>
        s"SELECT $i AS stage_ix, '$st' AS stage, count(*) AS n_users FROM t$i"
      }.mkString("\n          UNION ALL ")
      s"""WITH s AS ($src),
          $ctes,
          c AS ($stageRows)
          SELECT stage_ix, stage, n_users,
            CAST(n_users AS DOUBLE) /
              nullif(lag(n_users) OVER (ORDER BY stage_ix), 0) AS pct_prev,
            CAST(n_users AS DOUBLE) /
              nullif(first_value(n_users) OVER (ORDER BY stage_ix
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
              AS pct_first
          FROM c ORDER BY stage_ix"""
    }),
    key("q_funnel_latency", (s, d) =>
      Journey.funnelLatency(Tables.events(s, d)
        .where(col("event_id") % FunnelSliceMod === 0), FunnelStages))({
      // Same stage CTEs as q_funnel_steps; per adjacent step the
      // integer-microsecond latency distribution at dyadic quantiles —
      // the eventGaps portability recipe.
      val src = s"SELECT user_id, ts, event_type FROM events " +
        s"WHERE event_id % $FunnelSliceMod = 0"
      val ctes = FunnelStages.zipWithIndex.map { case (st, i) =>
        if (i == 0)
          s"t0 AS (SELECT user_id, min(ts) AS ts FROM s " +
            s"WHERE event_type = '$st' GROUP BY 1)"
        else
          s"t$i AS (SELECT s.user_id, min(s.ts) AS ts FROM s " +
            s"JOIN t${i - 1} USING (user_id) WHERE s.event_type = '$st' " +
            s"AND s.ts >= t${i - 1}.ts GROUP BY 1)"
      }.mkString(",\n          ")
      val stepRows = FunnelStages.sliding(2).toSeq.zipWithIndex.map {
        case (Seq(a, b), i) =>
          s"""SELECT $i AS step_ix, '$a>$b' AS step,
              epoch_us(t${i + 1}.ts) - epoch_us(t$i.ts) AS gap
              FROM t${i + 1} JOIN t$i USING (user_id)"""
      }.mkString("\n          UNION ALL ")
      s"""WITH s AS ($src),
          $ctes,
          g AS ($stepRows),
          q AS (SELECT step_ix, step, count(*) AS n_conv,
            CAST(sum(gap) AS BIGINT) AS sum_gap,
            quantile_cont(gap, [0.25, 0.5, 0.75]) AS ps
            FROM g GROUP BY 1, 2)
          SELECT step_ix, step, n_conv,
            CAST(sum_gap AS DOUBLE) / n_conv / 1000000.0 AS mean_s,
            ps[1] / 1000000.0 AS p25_s, ps[2] / 1000000.0 AS p50_s,
            ps[3] / 1000000.0 AS p75_s
          FROM q ORDER BY step_ix"""
    }),
    key("q_funnel_windowed", (s, d) =>
      Journey.funnelWindowed(Tables.events(s, d)
        .where(col("event_id") % FunnelSliceMod === 0), FunnelStages,
        FunnelWindowDays))({
      // The stage recurrence with the deadline: each stage's earliest
      // event within gapUs of the previous completion; abandonment is
      // the lag difference. Exact integer-microsecond compare.
      val src = s"SELECT user_id, ts, event_type FROM events " +
        s"WHERE event_id % $FunnelSliceMod = 0"
      val gapUs = FunnelWindowDays * 86400L * 1000000L
      val ctes = FunnelStages.zipWithIndex.map { case (st, i) =>
        if (i == 0)
          s"t0 AS (SELECT user_id, min(ts) AS ts FROM s " +
            s"WHERE event_type = '$st' GROUP BY 1)"
        else
          s"t$i AS (SELECT s.user_id, min(s.ts) AS ts FROM s " +
            s"JOIN t${i - 1} USING (user_id) WHERE s.event_type = '$st' " +
            s"AND s.ts >= t${i - 1}.ts " +
            s"AND epoch_us(s.ts) - epoch_us(t${i - 1}.ts) <= $gapUs " +
            s"GROUP BY 1)"
      }.mkString(",\n          ")
      val stageRows = FunnelStages.zipWithIndex.map { case (st, i) =>
        s"SELECT $i AS stage_ix, '$st' AS stage, count(*) AS n_users FROM t$i"
      }.mkString("\n          UNION ALL ")
      s"""WITH s AS ($src),
          $ctes,
          c AS ($stageRows)
          SELECT stage_ix, stage, n_users,
            lag(n_users) OVER (ORDER BY stage_ix) - n_users
              AS n_abandoned,
            CAST(n_users AS DOUBLE) /
              nullif(lag(n_users) OVER (ORDER BY stage_ix), 0) AS pct_prev
          FROM c ORDER BY stage_ix"""
    }),
    key("q_next_event", (s, d) =>
      Journey.nextEventMatrix(Tables.events(s, d)))(
      // lead over (ts, event_id) — the unique id makes the successor
      // deterministic; p is one bigint/bigint division.
      """WITH p AS (SELECT event_type AS from_type,
            lead(event_type) OVER (PARTITION BY user_id
              ORDER BY ts, event_id) AS to_type
            FROM events),
          c AS (SELECT from_type, to_type, count(*) AS n FROM p
            WHERE to_type IS NOT NULL GROUP BY 1, 2),
          t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from
            FROM c GROUP BY 1)
          SELECT c.from_type, c.to_type, c.n,
            CAST(c.n AS DOUBLE) / t.n_from AS p
          FROM c JOIN t USING (from_type) ORDER BY 1, 2"""),
    key("q_rfm", (s, d) =>
      Journey.rfmSegments(Tables.events(s, d)))(
      // quantile_cont == Spark's exact percentile (same rank-(n-1)p
      // interpolation); dyadic probabilities on integer grids are exact
      // doubles, so the > threshold cuts agree bit-for-bit. Monetary
      // sums integer cents; the one float division is per CELL.
      """WITH u AS (SELECT user_id, max(CAST(ts AS DATE)) AS last_day,
            count(*) AS freq,
            CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
              AS mon_cents
            FROM events GROUP BY 1),
          a AS (SELECT max(last_day) AS as_of FROM u),
          ur AS (SELECT u.*,
            CAST(date_diff('day', last_day, as_of) AS BIGINT) AS rec_days
            FROM u CROSS JOIN a),
          thr AS (SELECT
            quantile_cont(rec_days, [0.25, 0.5, 0.75]) AS rq,
            quantile_cont(freq, [0.25, 0.5, 0.75]) AS fq,
            quantile_cont(mon_cents, [0.25, 0.5, 0.75]) AS mq FROM ur),
          sc AS (SELECT mon_cents,
            1 + CAST(rec_days > rq[1] AS INT) +
              CAST(rec_days > rq[2] AS INT) +
              CAST(rec_days > rq[3] AS INT) AS r_score,
            1 + CAST(freq > fq[1] AS INT) + CAST(freq > fq[2] AS INT) +
              CAST(freq > fq[3] AS INT) AS f_score,
            1 + CAST(mon_cents > mq[1] AS INT) +
              CAST(mon_cents > mq[2] AS INT) +
              CAST(mon_cents > mq[3] AS INT) AS m_score
            FROM ur CROSS JOIN thr)
          SELECT r_score, f_score, m_score, count(*) AS n_users,
            CAST(CAST(sum(mon_cents) AS BIGINT) AS DOUBLE) / count(*)
              / 100.0 AS mean_spend
          FROM sc GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""),
    // cadence-personalized churn flags, integer cross-multiplied
    key("q_churn_risk", (s, d) =>
      Journey.churnRisk(Tables.orders(s, d), Tables.customer(s, d)))(
      // Telescoped cadence (sum of gaps = last − first) and the integer
      // cross-multiplied risk test; frontier is a scalar-subquery max.
      """WITH o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS day
            FROM orders),
          fr AS (SELECT max(day) AS f FROM o),
          per AS (SELECT o_custkey, count(*) AS n_orders,
            min(day) AS first_day, max(day) AS last_day
          FROM o GROUP BY 1 HAVING count(*) >= 2),
          r AS (SELECT o_custkey, CASE WHEN
              CAST(date_diff('day', last_day, f) AS BIGINT) *
                (n_orders - 1) >
              CAST(date_diff('day', first_day, last_day) AS BIGINT) * 2
            THEN 1 ELSE 0 END AS at_risk FROM per CROSS JOIN fr),
          j AS (SELECT c_mktsegment, at_risk FROM r
            JOIN customer ON o_custkey = c_custkey)
          SELECT c_mktsegment, count(*) AS n_repeat_customers,
            CAST(count(*) FILTER (WHERE at_risk = 1) AS BIGINT)
              AS n_at_risk,
            CAST(count(*) FILTER (WHERE at_risk = 1) AS DOUBLE) /
              CAST(count(*) AS DOUBLE) AS at_risk_share
          FROM j GROUP BY 1 ORDER BY 1"""),
    // decimal-magnitude engagement buckets with user + event shares
    key("q_engagement_dist", (s, d) =>
      Journey.engagementDist(Tables.events(s, d)))(
      // Decimal-magnitude buckets (the deg_digits idiom); shares off
      // unpartitioned window sums over the ≤20-row grid.
      """WITH per AS (SELECT user_id, count(*) AS ne FROM events
            GROUP BY 1),
          b AS (SELECT CAST(length(CAST(ne AS VARCHAR)) AS BIGINT)
              AS digits,
            count(*) AS n_users, CAST(sum(ne) AS BIGINT) AS n_events
          FROM per GROUP BY 1)
          SELECT digits, n_users, n_events,
            CAST(n_users AS DOUBLE) / sum(n_users) OVER ()
              AS user_share,
            CAST(n_events AS DOUBLE) / sum(n_events) OVER ()
              AS event_share
          FROM b ORDER BY digits"""),
    // D1/D7/D30 fixed-horizon retention per daily cohort
    key("q_retention_days", (s, d) =>
      Journey.retentionDays(Tables.events(s, d)))(
      // (user, day) distinct + min-day cohort + horizon filter onto the
      // day grid; left join keeps zero-retention cohorts with 0 counts.
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
            FROM events),
          f AS (SELECT user_id, min(day) AS cohort_day FROM ud
            GROUP BY 1),
          co AS (SELECT cohort_day, count(*) AS n_users FROM f
            GROUP BY 1),
          r AS (SELECT f.cohort_day,
            CAST(sum(CASE WHEN date_diff('day', f.cohort_day, ud.day) = 1
              THEN 1 ELSE 0 END) AS BIGINT) AS d1,
            CAST(sum(CASE WHEN date_diff('day', f.cohort_day, ud.day) = 7
              THEN 1 ELSE 0 END) AS BIGINT) AS d7,
            CAST(sum(CASE WHEN date_diff('day', f.cohort_day, ud.day) = 30
              THEN 1 ELSE 0 END) AS BIGINT) AS d30
          FROM ud JOIN f USING (user_id)
          WHERE date_diff('day', f.cohort_day, ud.day) IN (1, 7, 30)
          GROUP BY 1)
          SELECT co.cohort_day, co.n_users,
            coalesce(d1, 0) AS d1, coalesce(d7, 0) AS d7,
            coalesce(d30, 0) AS d30,
            CAST(coalesce(d1, 0) AS DOUBLE) / co.n_users AS r1,
            CAST(coalesce(d7, 0) AS DOUBLE) / co.n_users AS r7,
            CAST(coalesce(d30, 0) AS DOUBLE) / co.n_users AS r30
          FROM co LEFT JOIN r ON co.cohort_day = r.cohort_day
          ORDER BY co.cohort_day"""),
    // first-week cent value per daily cohort
    key("q_cohort_value", (s, d) =>
      Journey.cohortValue(Tables.events(s, d)))(
      // Min-day cohort + row-local first-week window; exact cent sums.
      """WITH ue AS (SELECT user_id, CAST(ts AS DATE) AS day,
            CAST(round(value * 100) AS BIGINT) AS cents FROM events),
          f AS (SELECT user_id, min(day) AS cohort_day FROM ue
            GROUP BY 1),
          j AS (SELECT f.cohort_day, ue.user_id, ue.cents FROM ue
            JOIN f USING (user_id)
            WHERE date_diff('day', f.cohort_day, ue.day) < 7)
          SELECT cohort_day,
            CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
            count(*) AS n_events,
            CAST(sum(cents) AS BIGINT) AS first_week_cents,
            CAST(sum(cents) AS DOUBLE) / count(DISTINCT user_id)
              AS cents_per_user
          FROM j GROUP BY 1 ORDER BY 1"""),
    // weekly new/expansion/contraction/flat/resurrected/churned cents
    key("q_revenue_accounting", (s, d) =>
      Journey.revenueAccounting(Tables.events(s, d)))(
      // (user, week) cents + zero-cent ghosts at week+7 merged at the
      // same grain; per-user lag chain, the engine's CASE order, churn
      // carries prev_cents.
      """WITH uw AS (SELECT user_id,
            CAST(date_trunc('week', ts) AS DATE) AS week,
            CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
              AS cents
          FROM events GROUP BY 1, 2),
          al AS (SELECT user_id, week, CAST(sum(cents) AS BIGINT)
              AS cents
            FROM (SELECT user_id, week, cents FROM uw
              UNION ALL
              SELECT user_id, CAST(week + INTERVAL 7 DAY AS DATE),
                CAST(0 AS BIGINT) FROM uw)
            GROUP BY 1, 2),
          lg AS (SELECT *, lag(week) OVER w AS prev_week,
              lag(cents) OVER w AS prev_cents
            FROM al WINDOW w AS (PARTITION BY user_id ORDER BY week)),
          c AS (SELECT week, cents, prev_cents,
            CASE WHEN cents = 0 THEN 'churned'
              WHEN prev_week IS NULL THEN 'new'
              WHEN date_diff('day', prev_week, week) = 7
                  AND prev_cents > 0 THEN
                CASE WHEN cents > prev_cents THEN 'expansion'
                  WHEN cents < prev_cents THEN 'contraction'
                  ELSE 'flat' END
              ELSE 'resurrected' END AS category
          FROM lg)
          SELECT week, category, count(*) AS n_users,
            CAST(sum(CASE WHEN category = 'churned' THEN prev_cents
              ELSE cents END) AS BIGINT) AS cents
          FROM c WHERE cents > 0 OR prev_cents > 0
          GROUP BY 1, 2 ORDER BY 1, 2"""),
    key("q_session_paths", (s, d) =>
      Temporal.sessionPaths(Tables.events(s, d), SessionGapMin,
        PathMaxLen, PathTopN))(
      // Same session CTEs as q_sessionize, carrying event_type; the
      // ordered list slice is the path prefix, share one bigint division.
      s"""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
            event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS tu FROM events),
          s AS (SELECT *, CASE WHEN lag(tu) OVER w IS NULL
              OR tu - lag(tu) OVER w > ${SessionGapMin * 60L * 1000000L}
              THEN 1 ELSE 0 END AS new_sess
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
          x AS (SELECT *, sum(new_sess) OVER (PARTITION BY user_id
              ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS session_ix FROM s),
          p AS (SELECT user_id, session_ix,
            array_to_string(list(event_type ORDER BY ts, event_id)
              [1:$PathMaxLen], '>') AS path
            FROM x GROUP BY 1, 2),
          t AS (SELECT count(*) AS n_sessions FROM p),
          c AS (SELECT path, count(*) AS n FROM p GROUP BY 1)
          SELECT path, n, CAST(n AS DOUBLE) / t.n_sessions AS share
          FROM c CROSS JOIN t ORDER BY n DESC, path LIMIT $PathTopN"""),
    key("q_attribution", (s, d) =>
      Temporal.attribution(Tables.events(s, d), AttribDays))(
      // Integer micro-cent credits (cents*1e6 // n) are summation-order
      // exact; the one display division closes the query on both sides.
      s"""WITH p AS (SELECT user_id, ts AS end_ts,
            ts - INTERVAL $AttribDays DAYS AS start_ts,
            event_id AS purchase_id,
            CAST(round(value * 100) AS BIGINT) AS cents
            FROM events WHERE event_type = 'purchase'),
          x AS (SELECT user_id, ts, event_type AS channel FROM events
            WHERE event_type <> 'purchase'),
          pc AS (SELECT purchase_id, cents, channel, count(*) AS k
            FROM p JOIN x ON x.user_id = p.user_id
              AND x.ts >= p.start_ts AND x.ts < p.end_ts
            GROUP BY 1, 2, 3),
          pn AS (SELECT *, CAST(sum(k) OVER (PARTITION BY purchase_id)
              AS BIGINT) AS n FROM pc),
          cr AS (SELECT channel, k, (cents * 1000000) // n * k AS credit
              FROM pn
            UNION ALL
            SELECT '(none)', 1, cents * 1000000 FROM p
              WHERE purchase_id NOT IN (SELECT purchase_id FROM pc))
          SELECT channel, CAST(sum(k) AS BIGINT) AS n_credits,
            CAST(CAST(sum(credit) AS BIGINT) AS DOUBLE) / 100000000.0
              AS credited_value
          FROM cr GROUP BY 1 ORDER BY 1"""),
    // position-based (40/20/40) attribution — the family's third member
    key("q_attribution_u", (s, d) =>
      Temporal.attributionUShaped(Tables.events(s, d), AttribDays))(
      // Same pairing as q_attribution; integer power-of-two day weights
      // and micro-cent credit division, so sums replay exactly
      s"""WITH p AS (SELECT user_id, ts AS end_ts,
            ts - INTERVAL $AttribDays DAYS AS start_ts,
            event_id AS purchase_id,
            CAST(round(value * 100) AS BIGINT) AS cents
            FROM events WHERE event_type = 'purchase'),
          x AS (SELECT user_id, ts, event_id AS touch_id,
            event_type AS channel FROM events
            WHERE event_type <> 'purchase'),
          pc AS (SELECT purchase_id, cents, channel,
              row_number() OVER (PARTITION BY purchase_id
                ORDER BY x.ts, touch_id) AS pos,
              CAST(count(*) OVER (PARTITION BY purchase_id) AS BIGINT)
                AS n
            FROM p JOIN x ON x.user_id = p.user_id
              AND x.ts >= p.start_ts AND x.ts < p.end_ts),
          cr AS (SELECT channel,
              CASE WHEN n = 1 THEN cents * 1000000
                WHEN n = 2 THEN (cents * 1000000 * 50) // 100
                WHEN pos = 1 OR pos = n
                  THEN (cents * 1000000 * 40) // 100
                ELSE ((cents * 1000000 * 20) // 100) // (n - 2)
              END AS credit FROM pc
            UNION ALL
            SELECT '(none)', cents * 1000000 FROM p
              WHERE purchase_id NOT IN (SELECT purchase_id FROM pc))
          SELECT channel, count(*) AS n_credits,
            CAST(CAST(sum(credit) AS BIGINT) AS DOUBLE) / 100000000.0
              AS credited_value
          FROM cr GROUP BY 1 ORDER BY 1"""),
    key("q_attribution_decay", (s, d) =>
      Temporal.attributionDecay(Tables.events(s, d), AttribDays))(
      s"""WITH p AS (SELECT user_id, ts AS end_ts,
            ts - INTERVAL $AttribDays DAYS AS start_ts,
            event_id AS purchase_id,
            CAST(round(value * 100) AS BIGINT) AS cents
            FROM events WHERE event_type = 'purchase'),
          x AS (SELECT user_id, ts, event_type AS channel FROM events
            WHERE event_type <> 'purchase'),
          pairs AS (SELECT purchase_id, cents, channel,
              (epoch_us(end_ts) - epoch_us(x.ts)) // 86400000000 AS age
            FROM p JOIN x ON x.user_id = p.user_id
              AND x.ts >= p.start_ts AND x.ts < p.end_ts),
          pw AS (SELECT purchase_id, cents, channel,
              (CAST(1 AS BIGINT) <<
                greatest(0, $AttribDays - 1 - CAST(age AS INT))) AS w
            FROM pairs WHERE age < $AttribDays),
          pc AS (SELECT purchase_id, cents, channel,
              CAST(sum(w) AS BIGINT) AS wsum, count(*) AS k
            FROM pw GROUP BY 1, 2, 3),
          pn AS (SELECT *, CAST(sum(wsum) OVER (PARTITION BY purchase_id)
              AS BIGINT) AS tw FROM pc),
          cr AS (SELECT channel, k,
              (cents * 1000000 * wsum) // tw AS credit FROM pn
            UNION ALL
            SELECT '(none)', 1, cents * 1000000 FROM p
              WHERE purchase_id NOT IN (SELECT purchase_id FROM pc))
          SELECT channel, CAST(sum(k) AS BIGINT) AS n_credits,
            CAST(CAST(sum(credit) AS BIGINT) AS DOUBLE) / 100000000.0
              AS credited_value
          FROM cr GROUP BY 1 ORDER BY 1"""),
    // single-touch brackets of the multi-touch family (opener/closer)
    key("q_attribution_fl", (s, d) =>
      Temporal.attributionFirstLast(Tables.events(s, d), AttribDays))(
      // Same pairing as q_attribution; pos=1 / pos=n pick the first and
      // last touch (ts, touch_id order = the engine's struct min/max),
      // full cents credited to each, (none) rows feed both accountings.
      s"""WITH p AS (SELECT user_id, ts AS end_ts,
            ts - INTERVAL $AttribDays DAYS AS start_ts,
            event_id AS purchase_id,
            CAST(round(value * 100) AS BIGINT) AS cents
            FROM events WHERE event_type = 'purchase'),
          x AS (SELECT user_id, ts, event_id AS touch_id,
            event_type AS channel FROM events
            WHERE event_type <> 'purchase'),
          pc AS (SELECT purchase_id, cents, channel,
              row_number() OVER (PARTITION BY purchase_id
                ORDER BY x.ts, touch_id) AS pos,
              count(*) OVER (PARTITION BY purchase_id) AS n
            FROM p JOIN x ON x.user_id = p.user_id
              AND x.ts >= p.start_ts AND x.ts < p.end_ts),
          fr AS (SELECT channel, 1 AS nf, cents AS vf, 0 AS nl,
              0 AS vl FROM pc WHERE pos = 1
            UNION ALL SELECT channel, 0, 0, 1, cents
              FROM pc WHERE pos = n
            UNION ALL SELECT '(none)', 1, cents, 1, cents FROM p
              WHERE purchase_id NOT IN (SELECT purchase_id FROM pc))
          SELECT channel, CAST(sum(nf) AS BIGINT) AS n_first,
            CAST(CAST(sum(vf) AS BIGINT) AS DOUBLE) / 100.0
              AS first_value,
            CAST(sum(nl) AS BIGINT) AS n_last,
            CAST(CAST(sum(vl) AS BIGINT) AS DOUBLE) / 100.0
              AS last_value
          FROM fr GROUP BY channel ORDER BY channel"""),
    // Goh–Barabási burstiness of the inter-event gap population
    key("q_burstiness", (s, d) =>
      Temporal.burstiness(Tables.events(s, d)))(
      // The q_event_gaps gap CTE feeding exact HUGEINT moments;
      // B = (sqrt(D) - S1)/(sqrt(D) + S1), D = n*S2 - S1^2 — the 1/n in
      // sigma and mu cancels, so only exact integers reach the doubles.
      """WITH e AS (SELECT event_type, user_id, CAST(ts AS TIMESTAMP) AS ts,
            event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tu FROM events),
          g AS (SELECT event_type, tu - lag(tu) OVER (
              PARTITION BY user_id, event_type ORDER BY ts, event_id)
              AS gap FROM e),
          f AS (SELECT event_type, CAST(gap AS HUGEINT) AS gap
            FROM g WHERE gap IS NOT NULL),
          m AS (SELECT event_type, count(*) AS nn,
            sum(gap) AS s1, sum(gap * gap) AS s2
          FROM f GROUP BY event_type)
          SELECT event_type, CAST(nn AS BIGINT) AS n_gaps,
            CAST(s1 AS DOUBLE) / CAST(nn AS DOUBLE) / 1000000.0
              AS mean_gap_s,
            (sqrt(CAST(nn * s2 - s1 * s1 AS DOUBLE)) - CAST(s1 AS DOUBLE))
              / nullif(sqrt(CAST(nn * s2 - s1 * s1 AS DOUBLE))
                + CAST(s1 AS DOUBLE), 0.0) AS burstiness
          FROM m ORDER BY event_type"""),
    // next-event Shannon entropy per from-type
    key("q_transition_entropy", (s, d) =>
      Journey.transitionEntropy(Tables.events(s, d)))(
      // The q_next_event pair CTE; H = ln N - (sum n ln n)/N folded in
      // to_type order (the token-entropy discipline), CASE-normalized.
      """WITH p AS (SELECT event_type AS from_type,
            lead(event_type) OVER (PARTITION BY user_id
              ORDER BY ts, event_id) AS to_type
            FROM events),
          c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
            FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2),
          d AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_transitions,
            CAST(count(*) AS BIGINT) AS n_to_types,
            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE))
                ORDER BY to_type)), (x, y) -> x + y) AS nlogn
          FROM c GROUP BY from_type),
          h AS (SELECT from_type, n_transitions, n_to_types,
            ln(CAST(n_transitions AS DOUBLE)) -
              nlogn / CAST(n_transitions AS DOUBLE) AS entropy_nats
          FROM d)
          SELECT from_type, n_transitions, n_to_types, entropy_nats,
            CASE WHEN n_to_types > 1 THEN entropy_nats /
              ln(CAST(n_to_types AS DOUBLE)) ELSE 0.0 END AS entropy_norm
          FROM h ORDER BY from_type"""),
    // event/value concentration deciles over users
    key("q_user_concentration", (s, d) =>
      Journey.userConcentration(Tables.events(s, d)))(
      // User-grain count/cents aggregate, the ltv-decile ntile order
      // (count DESC, user_id), grid windows for the three shares.
      """WITH u AS (SELECT user_id, count(*) AS n_ev,
            CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
              AS cents
            FROM events GROUP BY user_id),
          t AS (SELECT *, ntile(10)
            OVER (ORDER BY n_ev DESC, user_id) AS decile FROM u),
          g AS (SELECT CAST(decile AS BIGINT) AS decile,
            count(*) AS n_users, CAST(sum(n_ev) AS BIGINT) AS n_events,
            CAST(sum(cents) AS BIGINT) AS dec_cents
          FROM t GROUP BY decile)
          SELECT decile, n_users, n_events,
            CAST(n_events AS DOUBLE) / CAST(sum(n_events) OVER ()
              AS DOUBLE) AS event_share,
            CAST(sum(n_events) OVER (ORDER BY decile
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS DOUBLE) / CAST(sum(n_events) OVER () AS DOUBLE)
              AS cum_event_share,
            CAST(dec_cents AS DOUBLE) / 100.0 AS event_value,
            CAST(dec_cents AS DOUBLE) / CAST(sum(dec_cents) OVER ()
              AS DOUBLE) AS value_share
          FROM g ORDER BY decile"""),
    // DAU/MAU(30) habit ratio per day
    key("q_stickiness", (s, d) =>
      Journey.stickiness(Tables.events(s, d), StickinessDays))(
      // The q_active_users contribute-forward expansion at 30 days plus
      // the ratio — only days with their own activity publish.
      s"""WITH uw AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
            FROM events),
          dau AS (SELECT day, count(*) AS dau FROM uw GROUP BY 1),
          ex AS (SELECT DISTINCT user_id, day + CAST(x AS INTEGER) AS day2
            FROM uw, range(0, $StickinessDays) t(x)),
          mau AS (SELECT day2 AS day, count(*) AS mau FROM ex GROUP BY 1)
          SELECT d.day, d.dau, m.mau,
            CAST(d.dau AS DOUBLE) / m.mau AS stickiness
          FROM dau d JOIN mau m USING (day) ORDER BY day"""),
    key("q_forecast_naive", (s, d) =>
      Temporal.forecastNaive(Tables.events(s, d), ForecastLagDays))(
      s"""WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
            count(*) AS n FROM events GROUP BY 1, 2),
          b AS (SELECT event_type, day + $ForecastLagDays AS day,
            n AS forecast_n FROM d)
          SELECT d.event_type, d.day, d.n, b.forecast_n,
            abs(d.n - b.forecast_n) AS abs_err
          FROM d LEFT JOIN b USING (event_type, day)
          ORDER BY 1, 2"""),
    key("q_ctr_wilson", (s, d) =>
      Journey.conversionWilson(Tables.events(s, d), CtrSuccessType,
        CtrSegments, CtrZ))({
      // p̂ and the Wilson bound are the SAME fixed-shape scalar chain
      // over exact integer (n, s) on both engines — every step
      // correctly rounded, so doubles hash-match. The z² literal is the
      // Scala-computed product interpolated at full precision.
      val z2 = CtrZ * CtrZ
      s"""WITH a AS (SELECT user_id % $CtrSegments AS segment,
            count(DISTINCT user_id) AS n,
            count(DISTINCT CASE WHEN event_type = '$CtrSuccessType'
              THEN user_id END) AS s
            FROM events GROUP BY 1),
          p AS (SELECT segment, n, s,
            CAST(s AS DOUBLE) / n AS rate FROM a)
          SELECT segment, n, s,
            CASE WHEN n > 0 THEN rate END AS rate,
            CASE WHEN n > 0 THEN
              (rate + $z2 / (CAST(n AS DOUBLE) * 2) - $CtrZ *
                sqrt(rate * (1.0 - rate) / CAST(n AS DOUBLE) +
                  $z2 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 4))) /
              (1.0 + $z2 / CAST(n AS DOUBLE))
            END AS wilson_lb
          FROM p ORDER BY segment""" }),
    key("q_user_features", (s, d) =>
      Journey.userFeatures(Tables.events(s, d), EventTypes))({
      // Single GROUP BY replay; cadence is (last-first)/(n-1) off integer
      // microsecond extremes, spend sums integer cents.
      val typeCols = EventTypes.map(t =>
        s"CAST(sum(CAST(event_type = '$t' AS INT)) AS BIGINT) AS n_$t")
        .mkString(",\n            ")
      s"""WITH u AS (SELECT user_id, count(*) AS n_events,
            count(DISTINCT CAST(ts AS DATE)) AS active_days,
            min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us,
            max(CAST(ts AS DATE)) AS last_day,
            CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
              AS spend_cents,
            $typeCols
            FROM events GROUP BY 1),
          a AS (SELECT max(last_day) AS as_of FROM u)
          SELECT user_id, n_events, active_days,
            CAST(date_diff('day', last_day, as_of) AS INT) AS rec_days,
            CAST(last_us - first_us AS DOUBLE) / nullif(n_events - 1, 0)
              / 1000000.0 AS mean_gap_s,
            CAST(spend_cents AS DOUBLE) / 100.0 AS spend,
            ${EventTypes.map("n_" + _).mkString(", ")}
          FROM u CROSS JOIN a ORDER BY user_id"""
    }),
    key("q_basket_pairs", (s, d) =>
      Temporal.basketPairs(Tables.events(s, d), SessionGapMin))(
      // Same session CTEs as q_sessionize, carrying event_type; pairs
      // from the sorted distinct type set (1-based list ranges).
      s"""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
            event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS tu FROM events),
          s AS (SELECT *, CASE WHEN lag(tu) OVER w IS NULL
              OR tu - lag(tu) OVER w > ${SessionGapMin * 60L * 1000000L}
              THEN 1 ELSE 0 END AS new_sess
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
          x AS (SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id
              ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS session_ix FROM s),
          sets AS (SELECT user_id, session_ix,
            list_sort(list_distinct(list(event_type))) AS types
            FROM x GROUP BY 1, 2),
          tot AS (SELECT count(*) AS n_sessions FROM sets),
          p AS (SELECT unnest(flatten(list_transform(
              range(1, len(types)),
              i -> list_transform(range(i + 1, len(types) + 1),
                j -> [types[i], types[j]])))) AS pr
            FROM sets WHERE len(types) >= 2)
          SELECT pr[1] AS t1, pr[2] AS t2, count(*) AS n_co,
            tot.n_sessions,
            CAST(count(*) AS DOUBLE) / tot.n_sessions AS support
          FROM p CROSS JOIN tot GROUP BY 1, 2, tot.n_sessions
          ORDER BY 1, 2"""),
    // directed confidence/lift refinement of the basket support table
    key("q_assoc_rules", (s, d) =>
      Temporal.assocRules(Tables.events(s, d), SessionGapMin))(
      // Same session CTE chain; item counts + both pair directions, and
      // lift multiplies count-DOUBLES (the engine's overflow-proof form).
      s"""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
            event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS tu FROM events),
          s AS (SELECT *, CASE WHEN lag(tu) OVER w IS NULL
              OR tu - lag(tu) OVER w > ${SessionGapMin * 60L * 1000000L}
              THEN 1 ELSE 0 END AS new_sess
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
          x AS (SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id
              ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS session_ix FROM s),
          sets AS (SELECT user_id, session_ix,
            list_sort(list_distinct(list(event_type))) AS types
            FROM x GROUP BY 1, 2),
          tot AS (SELECT count(*) AS n_sessions FROM sets),
          iu AS (SELECT unnest(types) AS t FROM sets),
          items AS (SELECT t, count(*) AS n_item FROM iu GROUP BY 1),
          p AS (SELECT unnest(flatten(list_transform(
              range(1, len(types)),
              i -> list_transform(range(i + 1, len(types) + 1),
                j -> [types[i], types[j]])))) AS pr
            FROM sets WHERE len(types) >= 2),
          co AS (SELECT pr[1] AS t1, pr[2] AS t2, count(*) AS n_co
            FROM p GROUP BY 1, 2),
          d AS (SELECT t1 AS antecedent, t2 AS consequent, n_co FROM co
            UNION ALL
            SELECT t2 AS antecedent, t1 AS consequent, n_co FROM co)
          SELECT d.antecedent, d.consequent, d.n_co,
            a.n_item AS n_ante, c.n_item AS n_cons, tot.n_sessions,
            CAST(d.n_co AS DOUBLE) / tot.n_sessions AS support,
            CAST(d.n_co AS DOUBLE) / a.n_item AS confidence,
            (CAST(d.n_co AS DOUBLE) * CAST(tot.n_sessions AS DOUBLE)) /
              (CAST(a.n_item AS DOUBLE) * CAST(c.n_item AS DOUBLE)) AS lift
          FROM d
          JOIN items a ON d.antecedent = a.t
          JOIN items c ON d.consequent = c.t
          CROSS JOIN tot
          ORDER BY 1, 2"""),
    // per-entry-type session length quartiles + p95 (grid percentiles)
    key("q_session_duration", (s, d) =>
      Temporal.sessionDuration(Tables.events(s, d), SessionGapMin))(
      // Session CTEs + rn=1 entry type; integer-second durations on the
      // (entry_type × dur_s) grid, quantile_cont per the gaps contract.
      s"""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
            event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS tu FROM events),
          s AS (SELECT *, CASE WHEN lag(tu) OVER w IS NULL
              OR tu - lag(tu) OVER w > ${SessionGapMin * 60L * 1000000L}
              THEN 1 ELSE 0 END AS new_sess
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
          x AS (SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id
              ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS session_ix FROM s),
          r AS (SELECT user_id, session_ix, event_type, row_number()
              OVER (PARTITION BY user_id, session_ix
                ORDER BY tu, event_id) AS rn FROM x),
          ses AS (SELECT user_id, session_ix,
            (max(tu) - min(tu)) // 1000000 AS dur_s
            FROM x GROUP BY 1, 2),
          entry AS (SELECT user_id, session_ix, event_type AS entry_type
            FROM r WHERE rn = 1),
          q AS (SELECT entry_type, count(*) AS n_sessions,
            CAST(sum(dur_s) AS BIGINT) AS sum_s,
            quantile_cont(dur_s, [0.25, 0.5, 0.75, 0.95]) AS ps
          FROM ses JOIN entry USING (user_id, session_ix) GROUP BY 1)
          SELECT entry_type, n_sessions,
            CAST(sum_s AS DOUBLE) / n_sessions AS mean_s,
            ps[1] AS p25_s, ps[2] AS p50_s, ps[3] AS p75_s,
            ps[4] AS p95_s
          FROM q ORDER BY entry_type"""),
    // Wilson-bounded purchase-session share per entry type
    key("q_session_conversion", (s, d) =>
      Temporal.sessionConversion(Tables.events(s, d), SessionGapMin,
        CtrZ))({
      // Session CTEs + rn=1 entry + bool_max convert flag; Wilson chain
      // in engine operation order.
      val z2 = CtrZ * CtrZ
      s"""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
            event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS tu FROM events),
          s AS (SELECT *, CASE WHEN lag(tu) OVER w IS NULL
              OR tu - lag(tu) OVER w > ${SessionGapMin * 60L * 1000000L}
              THEN 1 ELSE 0 END AS new_sess
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
          x AS (SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id
              ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS session_ix FROM s),
          r AS (SELECT user_id, session_ix, event_type, row_number()
              OVER (PARTITION BY user_id, session_ix
                ORDER BY tu, event_id) AS rn FROM x),
          ses AS (SELECT user_id, session_ix,
            max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS converted
            FROM x GROUP BY 1, 2),
          entry AS (SELECT user_id, session_ix, event_type AS entry_type
            FROM r WHERE rn = 1),
          a AS (SELECT entry_type, count(*) AS n_sessions,
              count(*) FILTER (WHERE converted = 1) AS n_converting
            FROM ses JOIN entry USING (user_id, session_ix) GROUP BY 1),
          pr AS (SELECT *, CAST(n_converting AS DOUBLE) / n_sessions
              AS p FROM a)
          SELECT entry_type, n_sessions, n_converting,
            p AS conversion_rate,
            (p + $z2 / (CAST(n_sessions AS DOUBLE) * 2) - $CtrZ *
              sqrt(p * (1.0 - p) / CAST(n_sessions AS DOUBLE) +
                $z2 / (CAST(n_sessions AS DOUBLE) *
                  CAST(n_sessions AS DOUBLE) * 4))) /
            (1.0 + $z2 / CAST(n_sessions AS DOUBLE)) AS wilson_lb
          FROM pr ORDER BY entry_type""" }),
    // session event-count histogram (1..5, 6+) with dual shares
    key("q_session_depth", (s, d) =>
      Temporal.sessionDepth(Tables.events(s, d), SessionGapMin))(
      // Session CTEs + per-session counts onto the clamped depth grid.
      s"""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
            epoch_us(CAST(ts AS TIMESTAMP)) AS tu FROM events),
          s AS (SELECT *, CASE WHEN lag(tu) OVER w IS NULL
              OR tu - lag(tu) OVER w > ${SessionGapMin * 60L * 1000000L}
              THEN 1 ELSE 0 END AS new_sess
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
          x AS (SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id
              ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS session_ix FROM s),
          ses AS (SELECT user_id, session_ix, count(*) AS ne
            FROM x GROUP BY 1, 2),
          g AS (SELECT CAST(least(ne, 6) AS BIGINT) AS depth_bucket,
            count(*) AS n_sessions, CAST(sum(ne) AS BIGINT) AS n_events
          FROM ses GROUP BY 1)
          SELECT depth_bucket, n_sessions, n_events,
            CAST(n_sessions AS DOUBLE) / sum(n_sessions) OVER ()
              AS session_share,
            CAST(n_events AS DOUBLE) / sum(n_events) OVER ()
              AS event_share
          FROM g ORDER BY depth_bucket"""),
    // one-row user activity-span distribution
    key("q_user_lifespan", (s, d) =>
      Journey.userLifespan(Tables.events(s, d)))(
      // User-grain span + the grid-percentile contract, one output row.
      """WITH u AS (SELECT user_id,
            CAST(date_diff('day', min(CAST(ts AS DATE)),
              max(CAST(ts AS DATE))) AS BIGINT) AS span
          FROM events GROUP BY 1),
          q AS (SELECT count(*) AS n_users,
            CAST(sum(span) AS BIGINT) AS sum_span,
            CAST(count(*) FILTER (WHERE span = 0) AS BIGINT)
              AS n_single_day,
            quantile_cont(span, [0.25, 0.5, 0.75, 0.95]) AS ps
          FROM u)
          SELECT n_users,
            CAST(sum_span AS DOUBLE) / n_users AS mean_days,
            CAST(n_single_day AS DOUBLE) / n_users AS single_day_share,
            ps[1] AS p25_days, ps[2] AS p50_days, ps[3] AS p75_days,
            ps[4] AS p95_days
          FROM q"""),
    // hourly active-session difference-array curve
    key("q_concurrency", (s, d) =>
      Temporal.concurrency(Tables.events(s, d), SessionGapMin))(
      // Session min/max → hour deltas → dense hour spine → running sums;
      // active = cum(started) − cum(ended) + ended(h).
      s"""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
            epoch_us(CAST(ts AS TIMESTAMP)) AS tu FROM events),
          s AS (SELECT *, CASE WHEN lag(tu) OVER w IS NULL
              OR tu - lag(tu) OVER w > ${SessionGapMin * 60L * 1000000L}
              THEN 1 ELSE 0 END AS new_sess
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
          x AS (SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id
              ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS session_ix FROM s),
          ses AS (SELECT user_id, session_ix, min(ts) AS st, max(ts) AS en
            FROM x GROUP BY 1, 2),
          sh AS (SELECT date_trunc('hour', st) AS hs,
            date_trunc('hour', en) AS he FROM ses),
          stt AS (SELECT hs AS hour, count(*) AS nn FROM sh GROUP BY 1),
          enn AS (SELECT he AS hour, count(*) AS nn FROM sh GROUP BY 1),
          sp AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
              AS hour
            FROM (SELECT min(hs) AS lo, max(he) AS hi FROM sh)),
          g AS (SELECT sp.hour,
            CAST(coalesce(stt.nn, 0) AS BIGINT) AS n_started,
            CAST(coalesce(enn.nn, 0) AS BIGINT) AS n_ended
          FROM sp LEFT JOIN stt ON sp.hour = stt.hour
          LEFT JOIN enn ON sp.hour = enn.hour)
          SELECT hour, n_started, n_ended,
            CAST(sum(n_started) OVER w - sum(n_ended) OVER w + n_ended
              AS BIGINT) AS active_sessions
          FROM g WINDOW w AS (ORDER BY hour
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          ORDER BY hour"""),
    key("q_event_gaps", (s, d) =>
      Temporal.eventGaps(Tables.events(s, d)))(
      // Integer-microsecond gaps, dyadic quartiles on the integer grid
      // (the q_percentiles contract), one /1e6 display division.
      """WITH e AS (SELECT event_type, user_id, CAST(ts AS TIMESTAMP) AS ts,
            event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tu FROM events),
          g AS (SELECT event_type, tu - lag(tu) OVER (
              PARTITION BY user_id, event_type ORDER BY ts, event_id)
              AS gap FROM e),
          f AS (SELECT event_type, gap FROM g WHERE gap IS NOT NULL),
          q AS (SELECT event_type, count(*) AS n_gaps,
            CAST(sum(gap) AS BIGINT) AS sum_gap,
            quantile_cont(gap, [0.25, 0.5, 0.75]) AS ps
          FROM f GROUP BY 1)
          SELECT event_type, n_gaps,
            CAST(sum_gap AS DOUBLE) / n_gaps / 1000000.0 AS mean_gap_s,
            ps[1] / 1000000.0 AS p25_s, ps[2] / 1000000.0 AS p50_s,
            ps[3] / 1000000.0 AS p75_s
          FROM q ORDER BY event_type"""),
    // Sparse slice (1-in-997 events) so the daily series actually has
    // holes for the fill to close.
    key("q_gap_fill", (s, d) =>
      Temporal.gapFill(Tables.events(s, d)
        .where(col("event_id") % GapSliceMod === 0)))(
      // generate_series spine + running max of observed days replays the
      // engine's fill; day arithmetic is all-integer.
      s"""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
            count(*) AS n_events FROM events
            WHERE event_id % $GapSliceMod = 0 GROUP BY 1, 2),
          sp AS (SELECT event_type,
            CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
              AS day
            FROM (SELECT event_type, min(day) AS lo, max(day) AS hi
              FROM daily GROUP BY 1)),
          j AS (SELECT sp.event_type, sp.day, d.n_events
            FROM sp LEFT JOIN daily d
            ON sp.event_type = d.event_type AND sp.day = d.day),
          f AS (SELECT event_type, day,
            CAST(coalesce(n_events, 0) AS BIGINT) AS n_events,
            CASE WHEN n_events IS NULL THEN 1 ELSE 0 END AS is_filled
            FROM j),
          g AS (SELECT *, max(CASE WHEN is_filled = 0 THEN day END)
              OVER (PARTITION BY event_type ORDER BY day
                ROWS UNBOUNDED PRECEDING) AS last_active FROM f)
          SELECT event_type, day, n_events, is_filled,
            CAST(day - last_active AS INTEGER) AS days_since_active
          FROM g ORDER BY event_type, day"""),
    key("q_active_users", (s, d) =>
      Journey.activeUsers(Tables.events(s, d), ActiveDays))(
      s"""WITH uw AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
            FROM events),
          dau AS (SELECT day, count(*) AS dau FROM uw GROUP BY 1),
          ex AS (SELECT DISTINCT user_id, day + CAST(x AS INTEGER) AS day2
            FROM uw, range(0, $ActiveDays) t(x)),
          wau AS (SELECT day2 AS day, count(*) AS active_${ActiveDays}d
            FROM ex GROUP BY 1)
          SELECT d.day, d.dau, w.active_${ActiveDays}d
          FROM dau d JOIN wau w USING (day) ORDER BY day"""),
    // Sketch twin of q_active_users: fixed-state per-day HLL sketches,
    // WAU = union of the trailing window's sketches.
    rowsOnly("q_active_users_approx", (s, d) =>
      Journey.approxActiveUsers(Tables.events(s, d), ActiveDays))(
      "sketch internals are engine-specific; JourneySpec bounds the " +
        "estimates against the exact pair")
  )
}
