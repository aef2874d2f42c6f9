package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** User-journey analytics over the event log: weekly cohort retention
  * and ordered conversion funnels. The reference computes per-household
  * first-touch tables driver-side (first-exposure scans in
  * /root/reference/metrics/lib/hh_before_after.py:24-31, weekly
  * new-household loops in hh_reach_week.py:11-27); these are the two
  * standard product-analytics generalizations of that first-touch
  * shape, each as one distributed plan keyed on the entity id.
  */
object Journey {

  /** Weekly cohort retention: users bucketed by their first-seen week
    * (the cohort), then for each (cohort_week, weeks-since) the number
    * of cohort members active that week and the retention ratio vs the
    * cohort's size. The canonical activation/retention triangle.
    *
    * Shape: ONE hash exchange on user_id — the per-user aggregate
    * collects the user's distinct active weeks (bounded by the
    * calendar, not the event volume: a year is 53 entries no matter
    * how many billions of events a user has), the cohort is element 0
    * of the sorted set, and the explode fans back out to (user, week)
    * grain. The cohort matrix after the second aggregate is
    * (weeks × weeks)-sized — every downstream step is calendar-bounded.
    * Retention is a single exact IEEE division of two bigints, so the
    * oracle compares bit-identically. */
  def cohortRetention(events: DataFrame): DataFrame = {
    val perUser = events
      .groupBy(col("user_id"))
      .agg(sort_array(collect_set(
        date_trunc("week", col("ts")).cast("date"))).as("wks"))
    val uw = perUser
      .select(col("wks").getItem(0).as("cohort_week"),
        explode(col("wks")).as("week"))
      .withColumn("week_ix",
        (datediff(col("week"), col("cohort_week")) / 7).cast("int"))
    val wc = Window.partitionBy(col("cohort_week"))
    uw.groupBy(col("cohort_week"), col("week_ix"))
      .agg(count(lit(1)).as("n_users"))
      .withColumn("cohort_size",
        max(when(col("week_ix") === 0, col("n_users"))).over(wc))
      .withColumn("retention",
        col("n_users").cast("double") / col("cohort_size"))
      .select(col("cohort_week"), col("week_ix"), col("n_users"),
        col("cohort_size"), col("retention"))
      .orderBy(col("cohort_week"), col("week_ix"))
  }

  /** Daily + trailing-window active users (the DAU/WAU pair): for each
    * calendar day with activity, the distinct users active THAT day
    * and the distinct users active in the `windowDays`-day window
    * ENDING that day. Exact sliding-window distinct — the one metric a
    * plain windowed sum cannot give (users active on several days must
    * count once) — via the standard contribute-forward expansion: the
    * deduped (user, day) frame fans each row out to the `windowDays`
    * target days it contributes to, and a second dedup+count lands the
    * window total. Cost is windowDays × |deduped user-days| — the
    * expansion multiplies the DEDUPED frame (bounded by users ×
    * calendar), never the raw event volume, and both dedups are
    * map-side-combining hash aggregates on (user, day). The HLL
    * alternative (approxReach) trades exactness for a merge; this is
    * the exact path a product-metrics pipeline publishes. */
  def activeUsers(events: DataFrame, windowDays: Int = 7): DataFrame = {
    val uw = events
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val dau = uw.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = uw
      .select(col("user_id"), explode(sequence(col("day"),
        date_add(col("day"), windowDays - 1))).as("day"))
      .distinct()
      .groupBy(col("day")).agg(count(lit(1)).as(s"active_${windowDays}d"))
    dau.join(wau, Seq("day")).orderBy(col("day"))
  }

  /** Sketch twin of [[activeUsers]] — DAU/WAU from mergeable per-day
    * HLL sketches. The exact operator's contribute-forward expansion
    * costs windowDays × |deduped user-days| through two shuffles; at
    * 10⁹ users × 365 days × 7 that is ~2.5×10¹² rows. Here each day
    * aggregates ONE fixed ~KB sketch (map-side combine absorbs any
    * event volume), and a day's WAU is the union of its trailing
    * `windowDays` daily sketches — the expansion multiplies day-count
    * rows (365/year), not user-days, so the whole post-aggregate plan
    * is calendar-sized at any corpus scale. Same inner-join contract
    * as the exact pair: only days with their own activity publish.
    * No DuckDB oracle (sketch internals are engine-specific —
    * rows-only gate); JourneySpec bounds both estimates against the
    * exact [[activeUsers]] instead (lgK=12 → ~1.6% rsd). */
  def approxActiveUsers(events: DataFrame, windowDays: Int = 7): DataFrame = {
    val daily = events
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .groupBy(col("day"))
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
    val contributed = daily
      .select(col("day").as("src_day"), col("sk"))
      .select(explode(sequence(col("src_day"),
        date_add(col("src_day"), windowDays - 1))).as("day"), col("sk"))
    val wau = contributed.groupBy(col("day"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false)))
        .as(s"active_${windowDays}d_est"))
    daily
      .select(col("day"), hll_sketch_estimate(col("sk")).as("dau_est"))
      .join(wau, Seq("day"))
      .orderBy(col("day"))
  }

  /** Ordered conversion funnel: a user completes stage i at the
    * earliest event of type `stages(i)` AT OR AFTER their stage-(i−1)
    * completion time (stage 0 is the earliest event of its type). Emits
    * one row per stage with the user count, the conversion ratio vs
    * the previous stage, and vs stage 0.
    *
    * Shape: stage 0 is one hash aggregate on user_id; each later stage
    * is a join of the (one-row-per-user) reached frame against the
    * stage's events, filtered to ts >= previous completion, then the
    * same per-user min — every join and aggregate in the chain keys on
    * user_id, so the initial hash partitioning is reused down the
    * whole chain and no step ever holds more than one row per user in
    * state. The final pct window runs over #stages rows. Conversion
    * ratios are exact IEEE divisions of bigint counts. */
  /** The ordered-completion recurrence shared by [[funnelSteps]],
    * [[funnelLatency]] and [[funnelWindowed]]: frame i holds
    * (user_id, ts) of each user's earliest stage-i completion AT OR
    * AFTER their stage-(i−1) time — additionally within `maxGapUs`
    * of it when a deadline is given (the ONE place the tie rule and
    * deadline semantics live, so the three reports can never
    * disagree about what "reached stage i" means). */
  private def reachedStages(events: DataFrame, stages: Seq[String],
                            maxGapUs: Option[Long] = None): Seq[DataFrame] = {
    val e = events.select(col("user_id"), col("ts"), col("event_type"))
    stages.zipWithIndex.scanLeft(
      Option.empty[DataFrame]) { case (prev, (stage, _)) =>
      Some(prev match {
        case None =>
          e.where(col("event_type") === stage)
            .groupBy(col("user_id")).agg(min(col("ts")).as("ts"))
        case Some(p) =>
          val inOrder = e.where(col("event_type") === stage)
            .join(p.select(col("user_id"), col("ts").as("prev_ts")),
              Seq("user_id"))
            .where(col("ts") >= col("prev_ts"))
          maxGapUs.fold(inOrder)(gap => inOrder.where(
            unix_micros(col("ts")) - unix_micros(col("prev_ts"))
              <= gap))
            .groupBy(col("user_id")).agg(min(col("ts")).as("ts"))
      })
    }.flatten
  }

  /** One (stage_ix, stage, n_users) row per stage frame. */
  private def stageCounts(frames: Seq[DataFrame],
                          stages: Seq[String]): DataFrame =
    frames.zip(stages).zipWithIndex.map { case ((df, stage), ix) =>
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(ix).as("stage_ix"), lit(stage).as("stage"),
          col("n_users"))
    }.reduce(_.union(_))

  def funnelSteps(events: DataFrame, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "funnelSteps needs at least one stage")
    val counts = stageCounts(reachedStages(events, stages), stages)
    val w = Window.orderBy(col("stage_ix"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts
      .withColumn("pct_prev",
        col("n_users").cast("double") /
          nullif(lag(col("n_users"), 1).over(Window.orderBy(col("stage_ix"))),
            lit(0L)))
      .withColumn("pct_first",
        col("n_users").cast("double") /
          nullif(first(col("n_users")).over(w), lit(0L)))
      .orderBy(col("stage_ix"))
  }

  /** Conversion-window funnel — [[funnelSteps]] with a deadline: a
    * user advances to stage i only if some stage-i event lands within
    * `maxGapDays` of their stage-(i−1) completion time, and the
    * stage-completion time is the EARLIEST such qualifying event
    * (later stages measure their deadline from it). The report the
    * unbounded funnel can't give: "converted, but months later" is a
    * lost user in any campaign accounting, and `n_abandoned` per step
    * (prior stage's survivors who missed the deadline) is the number
    * the unbounded pct_prev hides. Same per-stage user-grain
    * recurrence and single-exchange shape as [[funnelSteps]]; the
    * deadline is an exact integer-microsecond compare. */
  def funnelWindowed(events: DataFrame, stages: Seq[String],
                     maxGapDays: Int): DataFrame = {
    require(stages.size >= 2, "funnelWindowed needs at least two stages")
    require(maxGapDays > 0, "maxGapDays must be positive")
    val gapUs = maxGapDays * 86400L * 1000000L
    val counts = stageCounts(
      reachedStages(events, stages, Some(gapUs)), stages)
    val byIx = Window.orderBy(col("stage_ix"))
    counts
      .withColumn("n_abandoned",
        lag(col("n_users"), 1).over(byIx) - col("n_users"))
      .withColumn("pct_prev",
        col("n_users").cast("double") /
          nullif(lag(col("n_users"), 1).over(byIx), lit(0L)))
      .orderBy(col("stage_ix"))
  }

  /** Time-to-convert between adjacent funnel stages: for each user who
    * completed stage i in order, the latency from their stage-(i−1)
    * time, summarized per step as converter count, mean and exact
    * quartiles in seconds. The question funnelSteps' counts can't
    * answer — WHERE the drop-off pressure is (a step users take days
    * over loses them; the count alone can't see it). Same portability
    * recipe as [[graft.operators.Temporal.eventGaps]]: integer
    * microsecond gaps, a (gap, count) pre-aggregate so the exact
    * percentile folds weighted integers at dyadic probabilities, one
    * final division into seconds. Per-step frames are user-grained
    * aggregates off the shared [[reachedStages]] recurrence — the raw
    * event stream is filtered to stage rows before anything joins. */
  def funnelLatency(events: DataFrame, stages: Seq[String]): DataFrame = {
    require(stages.size >= 2, "funnelLatency needs at least two stages")
    val reached = reachedStages(events, stages)
    val steps = reached.sliding(2).toSeq.zipWithIndex.map {
      case (Seq(prev, cur), ix) =>
        cur.join(prev.select(col("user_id"), col("ts").as("prev_ts")),
          Seq("user_id"))
          .select((unix_micros(col("ts")) -
            unix_micros(col("prev_ts"))).as("gap"))
          .groupBy(col("gap")).agg(count(lit(1)).as("cnt"))
          .agg(sum(col("cnt")).as("n_conv"),
            sum(col("gap") * col("cnt")).as("sum_gap"),
            expr("percentile(gap, array(0.25D, 0.5D, 0.75D), cnt)").as("ps"))
          .select(lit(ix).as("step_ix"),
            lit(s"${stages(ix)}>${stages(ix + 1)}").as("step"),
            col("n_conv"),
            (col("sum_gap").cast("double") / col("n_conv") / 1000000.0)
              .as("mean_s"),
            (element_at(col("ps"), 1) / 1000000.0).as("p25_s"),
            (element_at(col("ps"), 2) / 1000000.0).as("p50_s"),
            (element_at(col("ps"), 3) / 1000000.0).as("p75_s"))
    }
    steps.reduce(_.union(_)).orderBy(col("step_ix"))
  }

  /** Sketch twin of [[lifecycle]] — growth accounting from weekly HLL
    * sketches, the 100 TB path: the exact operator's per-user
    * active-week set is calendar-bounded but still carries one row
    * per user through a user_id exchange; here the corpus collapses
    * to ONE fixed sketch per week (map-side combined), and every
    * status estimate is sketch arithmetic on the weeks-sized frame:
    *  - active(w)    = |W_w|,
    *  - retained(w)  = |W_{w−1}| + |W_w| − |W_{w−1} ∪ W_w|
    *    (inclusion–exclusion with the calendar-previous week),
    *  - new(w)       = |∪_{v≤w} W_v| − |∪_{v<w} W_v| (the cumulative-
    *    union delta — first-ever-seen needs ALL history, which is
    *    exactly what a mergeable union gives without re-scanning it),
    *  - resurrected  = active − retained − new (clamped),
    *  - churned(w)   = active(w−1) − retained(w) (the prior week's
    *    users who fell silent — attributed at w like the exact
    *    operator's first-silent-week rule for adjacent weeks).
    * The cumulative union is a weeks²-sized self-join of the
    * persisted weekly sketch frame (weeks are calendar-bounded, so
    * weeks² is trivially small at any corpus scale). Divergence from
    * the exact twin, documented: only weeks WITH activity emit rows
    * (the exact operator emits churn rows for silent calendar weeks),
    * and inclusion–exclusion compounds sketch error, so small
    * statuses sit in the noise floor. Rows-only at the gate;
    * JourneySpec pins small-domain near-exactness and real-data
    * bounds. */
  def lifecycleApprox(events: DataFrame, lgK: Int = 12): DataFrame = {
    // persisted: the cumulative-union self-join and the adjacent-week
    // legs all read it (caller owns the lifetime)
    val wk = events
      .select(date_trunc("week", col("ts")).cast("date").as("week"),
        col("user_id"))
      .groupBy(col("week"))
      .agg(hll_sketch_agg(col("user_id"), lit(lgK)).as("sk"))
      .transform(graft.Caches.hold)
    val cum = wk.as("a")
      .join(wk.as("b"), col("b.week") <= col("a.week"))
      .groupBy(col("a.week").as("week"))
      .agg(hll_sketch_estimate(hll_union_agg(col("b.sk"), lit(false)))
        .as("cum_est"))
    // weeks-sized frame: the single-partition lag window is bounded
    // by the calendar, never the corpus
    val newEst = cum
      .withColumn("new_est", col("cum_est") -
        coalesce(lag(col("cum_est"), 1)
          .over(Window.orderBy(col("week"))), lit(0L)))
    val base = wk.select(col("week"), col("sk"),
      hll_sketch_estimate(col("sk")).as("active_est"))
    val prev = base.select(date_add(col("week"), 7).as("week"),
      col("sk").as("sk_prev"), col("active_est").as("active_prev"))
    base.join(prev, Seq("week"), "left_outer")
      .withColumn("retained_est",
        when(col("sk_prev").isNull, lit(0L)).otherwise(
          greatest(lit(0L), col("active_prev") + col("active_est") -
            hll_sketch_estimate(hll_union(col("sk"), col("sk_prev"))))))
      .withColumn("churned_est",
        when(col("sk_prev").isNull, lit(null).cast("long"))
          .otherwise(greatest(lit(0L),
            col("active_prev") - col("retained_est"))))
      .join(newEst.select(col("week"), col("new_est")), Seq("week"))
      .withColumn("resurrected_est", greatest(lit(0L),
        col("active_est") - col("retained_est") - col("new_est")))
      .select(col("week"), col("active_est"), col("new_est"),
        col("retained_est"), col("resurrected_est"), col("churned_est"))
      .orderBy(col("week"))
  }

  /** Weekly user-lifecycle transitions — the growth-accounting table
    * behind every "net active users" chart: per week, how many users
    * are `new` (first-ever activity), `retained` (also active the
    * prior week), `resurrected` (returning after a gap ≥ 2 weeks), and
    * `churned` (active the prior week, absent this one; attributed to
    * the FIRST silent week, and only up to the corpus's last observed
    * week so trailing silence isn't counted before it can be known).
    *
    * Shape: the same single user_id exchange as [[cohortRetention]] —
    * the per-user aggregate collects the sorted distinct active-week
    * set (calendar-bounded however many events a user has), and every
    * classification is row-local array arithmetic over that set:
    * statuses from adjacent-week gaps via `transform`, churn events
    * from gap starts via `filter`+`transform`, one explode back to
    * (week, status) grain, and a calendar×4-row final aggregate. The
    * corpus max week joins as a broadcast scalar. The oracle replays
    * it with lag/lead windows — different algorithm, same table. */
  def lifecycle(events: DataFrame): DataFrame = {
    val perUser = events
      .groupBy(col("user_id"))
      .agg(sort_array(collect_set(
        date_trunc("week", col("ts")).cast("date"))).as("wks"))
      .transform(graft.Caches.hold)
    val mx = perUser.agg(max(element_at(col("wks"), -1)).as("max_week"))
    val ix = sequence(lit(0), size(col("wks")) - 1)
    // CaseWhen/Or evaluate lazily, so the out-of-range element_at
    // branches are never touched on the guarded rows
    val acts = transform(ix, i => struct(
      element_at(col("wks"), i + 1).as("week"),
      when(i === 0, lit("new"))
        .when(datediff(element_at(col("wks"), i + 1),
          element_at(col("wks"), greatest(i, lit(1)))) === 7, lit("retained"))
        .otherwise(lit("resurrected")).as("status")))
    val gapStarts = filter(ix, i =>
      (i === size(col("wks")) - 1) ||
        (datediff(element_at(col("wks"), i + 2),
          element_at(col("wks"), i + 1)) > 7))
    val churns = transform(gapStarts, i => struct(
      date_add(element_at(col("wks"), i + 1), 7).as("week"),
      lit("churned").as("status")))
    perUser.crossJoin(broadcast(mx))
      .select(col("max_week"),
        explode(concat(acts, churns)).as("e"))
      .where(col("e.week") <= col("max_week"))
      .groupBy(col("e.week").as("week"), col("e.status").as("status"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("week"), col("status"))
  }

  /** First-order Markov transition matrix over the event stream: for
    * each (from_type, to_type) pair, how often a user's next event is
    * `to_type` given the current is `from_type`, with the conditional
    * probability. The behavioral-flow summary funnels can't give — a
    * funnel fixes the path, this measures ALL adjacent transitions.
    * Each user's final event has no successor and drops out.
    *
    * Shape: ONE hash exchange on user_id, a per-user in-partition sort
    * for the `lead` window (ties broken by the unique event_id, so the
    * successor is deterministic), then the pair count collapses to a
    * types×types frame — every row after the window is
    * cardinality-bounded by the type domain, not the event volume.
    * `p` is one exact IEEE division of two bigints; the per-from total
    * is a from-partitioned window over the types²-sized aggregate —
    * a separate totals aggregate would silently RE-RUN the event scan
    * and lead window as its second input leg (the unpersisted-shared-
    * frame trap), where this window costs one exchange of types²
    * rows. */
  def nextEventMatrix(events: DataFrame): DataFrame = {
    val pairs = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))))
      .where(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    pairs
      .withColumn("p", col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy(col("from_type"))))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** Per-user ML feature assembly — the training-table materialization
    * step of a churn/LTV pipeline: one row per user with activity
    * volume, calendar spread, recency, cadence, spend, and per-type
    * event counts (the `types` list is fixed so the schema is static —
    * a dynamic pivot would make the feature schema data-dependent,
    * which no downstream trainer wants).
    *
    * Shape: ONE hash aggregate on user_id computes every feature in a
    * single pass (type counts are conditional sums, cadence is
    * (last − first) / (n − 1) off integer microsecond extremes — no
    * window, no second exchange); recency joins the corpus as-of day
    * back as a broadcast 1-row max. Spend sums integer cents; the
    * per-user divisions into seconds/currency are the final step on
    * both engine and oracle. Single-event users have no cadence:
    * NULL, not 0 (a zero gap means something else). */
  def userFeatures(events: DataFrame, types: Seq[String]): DataFrame = {
    val typeAggs = types.map(t =>
      sum((col("event_type") === t).cast("bigint")).as(s"n_$t"))
    val aggs = Seq(
      count(lit(1)).as("n_events"),
      countDistinct(to_date(col("ts"))).as("active_days"),
      min(unix_micros(col("ts"))).as("first_us"),
      max(unix_micros(col("ts"))).as("last_us"),
      max(to_date(col("ts"))).as("last_day"),
      sum(round(col("value") * 100).cast("bigint")).as("spend_cents")) ++
      typeAggs
    // persisted: the as-of leg would otherwise re-run the scan + user
    // aggregate as its own input (caller owns the lifetime)
    val perUser = events.groupBy(col("user_id"))
      .agg(aggs.head, aggs.tail: _*)
      .transform(graft.Caches.hold)
    val asOf = perUser.agg(max(col("last_day")).as("as_of"))
    perUser.crossJoin(broadcast(asOf))
      .select(Seq(
        col("user_id"), col("n_events"), col("active_days"),
        datediff(col("as_of"), col("last_day")).as("rec_days"),
        ((col("last_us") - col("first_us")).cast("double") /
          nullif(col("n_events") - 1, lit(0L)) / 1000000.0)
          .as("mean_gap_s"),
        (col("spend_cents").cast("double") / 100.0).as("spend")) ++
        types.map(t => col(s"n_$t")): _*)
      .orderBy(col("user_id"))
  }

  /** RFM segmentation — the standard customer-value grid: per user,
    * Recency (days from their last event to the corpus as-of day),
    * Frequency (event count) and Monetary (value summed in integer
    * cents), each cut into quartile scores 1–4 at the corpus's exact
    * quartile thresholds, then one row per occupied (r, f, m) cell
    * with the user count and the cell's mean spend.
    *
    * Deliberately NOT `ntile`: a global ntile is a single-partition
    * sort of the whole user universe — the anti-pattern at 10⁹ users.
    * Here the three quartile thresholds come from ONE exact-percentile
    * aggregate over the per-user frame (dyadic probabilities on
    * integer grids — exact doubles, engine-portable) and broadcast
    * back; each score is three row-local comparisons, so the plan is
    * two user-keyed aggregates plus a cells-sized one. Ties share a
    * bucket (equal metric ⇒ equal score), which segmentation wants
    * anyway — ntile would split them arbitrarily. Monetary sums cents
    * (`round(value * 100)` per event) so the corpus sum is
    * order-independent; the one float division back into currency
    * happens per CELL, not per user. */
  def rfmSegments(events: DataFrame): DataFrame = {
    // persisted: the as-of max, the threshold aggregate and the scoring
    // pass all read the per-user frame — unpersisted, each leg re-runs
    // the event scan + user aggregate (caller owns the lifetime)
    val perUser = events
      .groupBy(col("user_id"))
      .agg(max(to_date(col("ts"))).as("last_day"),
        count(lit(1)).as("freq"),
        sum(round(col("value") * 100).cast("bigint")).as("mon_cents"))
      .transform(graft.Caches.hold)
    val asOf = perUser.agg(max(col("last_day")).as("as_of"))
    val u = perUser.crossJoin(broadcast(asOf))
      .withColumn("rec_days",
        datediff(col("as_of"), col("last_day")).cast("bigint"))
    val qs = Seq(0.25, 0.5, 0.75)
    val thr = u.agg(
      expr(s"percentile(rec_days, array(${qs.mkString("D,")}D))").as("rq"),
      expr(s"percentile(freq, array(${qs.mkString("D,")}D))").as("fq"),
      expr(s"percentile(mon_cents, array(${qs.mkString("D,")}D))").as("mq"))
    def score(v: Column, t: Column): Column =
      lit(1) + (v > element_at(t, 1)).cast("int") +
        (v > element_at(t, 2)).cast("int") +
        (v > element_at(t, 3)).cast("int")
    u.crossJoin(broadcast(thr))
      .select(
        score(col("rec_days"), col("rq")).as("r_score"),
        score(col("freq"), col("fq")).as("f_score"),
        score(col("mon_cents"), col("mq")).as("m_score"),
        col("mon_cents"))
      .groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_users"),
        (sum(col("mon_cents")).cast("double") / count(lit(1)) / 100.0)
          .as("mean_spend"))
      .orderBy(col("r_score"), col("f_score"), col("m_score"))
  }

  /** Per-segment user conversion rate with a Wilson-score lower
    * bound — the ranking-safe rate: a segment with 2/2 converters
    * must NOT outrank one with 90/100, and the Wilson lower bound is
    * the standard fix (sorting by the raw rate is the classic
    * small-sample trap). Trials are DISTINCT USERS active in the
    * segment, successes the distinct users with a `successType`
    * event — a true proportion (converters ⊆ users), unlike an
    * event-count ratio whose "rate" can exceed 1. Segments are
    * `user_id % segments` (the qa_multigroup site convention).
    *
    * Determinism: n and s are exact distinct counts from ONE
    * aggregate; p̂ and the bound are a fixed-shape scalar IEEE chain
    * over them (every step correctly rounded, identical structure in
    * the oracle — bit-identical results). Segments with zero users
    * emit NULL rate and bound, not a division error. */
  def conversionWilson(events: DataFrame, successType: String,
                       segments: Int = 5, z: Double = 1.96): DataFrame = {
    require(segments > 0 && z > 0, "segments and z must be positive")
    val agg = events
      .select((col("user_id") % segments).as("segment"), col("user_id"),
        col("event_type"))
      .groupBy(col("segment"))
      .agg(countDistinct(col("user_id")).as("n"),
        countDistinct(when(col("event_type") === successType,
          col("user_id"))).as("s"))
    val p = col("s").cast("double") / col("n").cast("double")
    val lb = Ranking.wilsonLower(col("s"), col("n"), z)
    agg.select(col("segment"), col("n"), col("s"),
        when(col("n") > 0, p).as("rate"),
        when(col("n") > 0, lb).as("wilson_lb"))
      .orderBy(col("segment"))
  }

  /** Transition entropy per event type: the Shannon entropy of the
    * next-event distribution out of each type — the predictability
    * number behind [[nextEventMatrix]]'s full matrix (H→0 means the
    * next step is scripted, H→ln(fanout) means anything can follow;
    * the normalized column divides by ln(n_to_types) so types with
    * different fanouts compare). Reads on a session model: a
    * high-entropy hub type is where flows diverge.
    *
    * Determinism: the [[nextEventMatrix]] pair grain is exact bigint
    * counts; H = ln N − (Σ n·ln n)/N folds the per-type contributions
    * in to_type order (sorted struct list over a fanout-bounded
    * array), the [[graft.operators.TextAnalysis.tokenEntropy]]
    * discipline, so the IEEE sum replays exactly. Shape: one user_id
    * exchange for the lead window, then everything is types²-sized. */
  def transitionEntropy(events: DataFrame): DataFrame = {
    val pairs = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))))
      .where(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    pairs.groupBy(col("from_type"))
      .agg(sum(col("n")).as("n_transitions"),
        count(lit(1)).as("n_to_types"),
        aggregate(array_sort(collect_list(struct(col("to_type"),
          (col("n").cast("double") * log(col("n").cast("double")))
            .as("contrib")))),
          lit(0.0), (a, x) => a + x.getField("contrib")).as("nlogn"))
      .select(col("from_type"), col("n_transitions"), col("n_to_types"),
        (log(col("n_transitions").cast("double")) -
          col("nlogn") / col("n_transitions").cast("double"))
          .as("entropy_nats"))
      .withColumn("entropy_norm",
        when(col("n_to_types") > 1,
          col("entropy_nats") / log(col("n_to_types").cast("double")))
          .otherwise(lit(0.0)))
      .orderBy(col("from_type"))
  }

  /** User activity-concentration deciles: users ranked by event count
    * (ties by user_id), cut into ten equal-population tiles, with each
    * decile's share of events and of cent-exact event value plus the
    * cumulative event share — the "do 10% of users generate 60% of
    * the traffic" table, the EVENT-side twin of the revenue LTV
    * deciles (concentration of LOAD, not money: capacity planning and
    * abuse thresholds read this one).
    *
    * Shape: one user-grain aggregate (the only corpus-sized
    * exchange); then the [[Ranking.groupedRank]] two-phase rank — NOT
    * a global ntile window: user grain sits below event grain, but a
    * thin-history log (users ≈ events/10) would still funnel every
    * user through ONE reducer's sort, and the heavy-tie tail (most
    * users at n_ev=1) concentrates it further. The bucket plan comes
    * from ONE driver-small control row (id bounds + B+1 approximate
    * count quantiles): cells alternate eq/interval over the distinct
    * cutpoints DESCENDING — an eq cell holds exactly one count value
    * (its ties), where the id-range sub-key is safely monotone; an
    * interval cell holds ≤ ~1/B of the users by quantile construction
    * and needs no sub-split. That bounds the offsets grid at
    * (2B+1)·(S+1) cells REGARDLESS of the count distribution (a raw
    * (−n_ev, id-cell) bucket grew the grid with |distinct n_ev| —
    * toward user grain on heavy-tailed logs), while staying monotone
    * in the (n_ev DESC, user_id) sort order, so cell row_number +
    * broadcast grid prefix replays the global rank exactly and
    * [[Ranking.ntileExpr]] the ntile banding. The quantile sketch only
    * routes rows — ANY monotone bucketing yields bit-identical ranks
    * (the groupedRank contract), so approximation cannot touch
    * correctness. Shares are grid windows over ten rows. Decile 1 is
    * the heaviest tile (rank order is count DESC). */
  def userConcentration(events: DataFrame): DataFrame = {
    val S = 64 // id-range fan-out inside one eq (single-count) cell
    val B = 64 // count-quantile interval cells
    val per = graft.Caches.hold(events.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_ev"),
        sum(round(col("value") * 100).cast("bigint")).as("cents")))
    val probs = (0 to B).map(_.toDouble / B).toArray
    val stat = per.agg(min(col("user_id")).as("u_lo"),
      max(col("user_id")).as("u_hi"),
      percentile_approx(col("n_ev"), lit(probs), lit(10000)).as("cuts"))
      .head()
    val bucket: Column = if (stat.isNullAt(0)) lit(0L) else {
      val uLo = stat.getLong(0)
      val uHi = stat.getLong(1)
      // sub-cell width via BigInt, sub-key as div-then-subtract: an id
      // span near Long.MaxValue overflows the old (id−lo)·S multiply;
      // truncating division is monotone, so the key stays rank-safe
      val width = (((BigInt(uHi) - BigInt(uLo)) / S) + 1).toLong
      val uSub = expr(s"(user_id div $width) - ${uLo / width}")
      val desc = stat.getSeq[Long](2).distinct.sorted(Ordering[Long].reverse)
      val branches = desc.zipWithIndex.flatMap { case (d, i) =>
        Seq((col("n_ev") > lit(d), lit(2 * i)),
          (col("n_ev") === lit(d), lit(2 * i + 1)))
      }
      val cellId = branches.foldRight(lit(2 * desc.size): Column) {
        case ((c, v), acc) => when(c, v).otherwise(acc)
      }
      struct(cellId.as("uc_cell"),
        when(cellId % 2 === 1, uSub).otherwise(lit(0L)).as("uc_sub"))
    }
    val ranked = Ranking.groupedRank(per, Nil, bucket,
      Seq(col("n_ev").desc, col("user_id")))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val wCum = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked
      .withColumn("decile",
        Ranking.ntileExpr("rank", "n_grp", 10).cast("long"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_users"), sum(col("n_ev")).as("n_events"),
        sum(col("cents")).as("dec_cents"))
      .select(col("decile"), col("n_users"), col("n_events"),
        (col("n_events").cast("double") /
          sum(col("n_events")).over(wAll).cast("double"))
          .as("event_share"),
        (sum(col("n_events")).over(wCum).cast("double") /
          sum(col("n_events")).over(wAll).cast("double"))
          .as("cum_event_share"),
        (col("dec_cents").cast("double") / 100.0).as("event_value"),
        (col("dec_cents").cast("double") /
          sum(col("dec_cents")).over(wAll).cast("double"))
          .as("value_share"))
      .orderBy(col("decile"))
  }

  /** DAU/MAU stickiness: per day, the distinct daily actives, the
    * distinct actives of the trailing `windowDays` window and their
    * ratio — the standard habit gauge (a 0.5 stickiness means the
    * average monthly user shows up every other day; a falling curve
    * with flat MAU is engagement decay that neither series shows
    * alone). The 30-day companion to [[activeUsers]]' DAU/WAU pair,
    * published as a ratio because that is the number PM dashboards
    * track.
    *
    * Same exact-sliding-distinct design as [[activeUsers]]: the
    * deduped (user, day) frame contributes forward `windowDays` days
    * and a second dedup lands the window total — cost windowDays ×
    * |user-days|, bounded by users × calendar, never raw event
    * volume; the ratio is one IEEE division of exact bigints. Only
    * days with their own activity publish (inner join), matching the
    * exact pair's contract. */
  def stickiness(events: DataFrame, windowDays: Int = 30): DataFrame = {
    val uw = events
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val dau = uw.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val mau = uw
      .select(col("user_id"), explode(sequence(col("day"),
        date_add(col("day"), windowDays - 1))).as("day"))
      .distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("mau"))
    dau.join(mau, Seq("day"))
      .select(col("day"), col("dau"), col("mau"),
        (col("dau").cast("double") / col("mau")).as("stickiness"))
      .orderBy(col("day"))
  }

  /** Batch finisher for the streaming stickiness state
    * (EventStream.dailyActive at windowDays=30): the streamed
    * (day, kind, n_users) grid pivots back into [[stickiness]]'s
    * (day, dau, mau, stickiness) report. The inner join keeps only
    * days with their own dau row — exactly the batch pair's
    * days-with-activity contract, dropping the stream's trailing
    * ghost-day window rows — so a live dashboard reading the
    * streamed grid through this matches the nightly batch
    * (EquivalenceSpec-gated). */
  def stickinessFromDaily(counts: DataFrame): DataFrame = {
    val dau = counts.where(col("kind") === "dau")
      .select(col("day"), col("n_users").as("dau"))
    // self-join of one source table: rename the join key on this leg
    // so the analyzer never sees conflicting references
    val mau = counts.where(col("kind") === "wau")
      .select(col("day").as("mday"), col("n_users").as("mau"))
    dau.join(mau, col("day") === col("mday"))
      .select(col("day"), col("dau"), col("mau"),
        (col("dau").cast("double") / col("mau")).as("stickiness"))
      .orderBy(col("day"))
  }

  /** User-lifespan distribution: one row with exact quartiles + p95
    * and mean of each user's activity span in days (last − first
    * active day; 0 = one-day users, whose share prints separately) —
    * the corpus-level "how long do users stay" number behind
    * [[churnRisk]]'s per-customer flags and [[cohortRetention]]'s
    * per-cohort curves.
    *
    * Shape: one user-grain min/max aggregate, spans collapse onto
    * the integer-day grid and the exact percentiles run WITH
    * FREQUENCIES there (the q_event_gaps contract); mean and the
    * one-day share are single divisions of exact bigints. */
  def userLifespan(events: DataFrame): DataFrame =
    events.select(col("user_id"), to_date(col("ts")).as("day"))
      .groupBy(col("user_id"))
      .agg(datediff(max(col("day")), min(col("day"))).cast("long")
        .as("span"))
      .groupBy(col("span"))
      .agg(count(lit(1)).as("cnt"))
      .agg(sum(col("cnt")).as("n_users"),
        sum(col("span") * col("cnt")).as("sum_span"),
        coalesce(sum(when(col("span") === 0, col("cnt"))), lit(0L))
          .as("n_single_day"),
        expr("percentile(span, array(0.25D, 0.5D, 0.75D, 0.95D), cnt)")
          .as("ps"))
      .select(col("n_users"),
        (col("sum_span").cast("double") / col("n_users")).as("mean_days"),
        (col("n_single_day").cast("double") / col("n_users"))
          .as("single_day_share"),
        element_at(col("ps"), 1).as("p25_days"),
        element_at(col("ps"), 2).as("p50_days"),
        element_at(col("ps"), 3).as("p75_days"),
        element_at(col("ps"), 4).as("p95_days"))

  /** First-week cohort value: per daily signup cohort, the cent-exact
    * value its users generated in their first 7 days (days 0–6 from
    * each user's own first activity) — the quality axis next to
    * [[retentionDays]]'s came-back counts (a cohort can retain fine
    * and still be worthless, or churn fast after paying plenty).
    * Value-per-user is the acquisition-channel comparison number.
    *
    * Shape: one user-grain min-day aggregate, one co-partitioned
    * user join with a row-local day-window filter, one cohort-grid
    * rollup; all cents exact bigint with one division last. */
  def cohortValue(events: DataFrame): DataFrame = {
    val ue = events.select(col("user_id"), to_date(col("ts")).as("day"),
      round(col("value") * 100).cast("bigint").as("cents"))
    val firsts = ue.groupBy(col("user_id"))
      .agg(min(col("day")).as("cohort_day"))
    ue.join(firsts, Seq("user_id"))
      .where(datediff(col("day"), col("cohort_day")) < 7)
      .groupBy(col("cohort_day"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"),
        sum(col("cents")).as("first_week_cents"))
      .withColumn("cents_per_user",
        col("first_week_cents").cast("double") / col("n_users"))
      .orderBy(col("cohort_day"))
  }

  /** Weekly revenue growth accounting: every week's value decomposed
    * into new / expansion / contraction / flat / resurrected /
    * churned user-revenue — row 85's lifecycle on the REVENUE axis
    * (headcount retention can hold steady while the money quietly
    * contracts). Churn is accounted in the week the user went
    * silent, carrying the cents they stopped paying.
    *
    * Mechanics: per-(user, week) exact cent sums; each active week
    * also spawns a zero-cent GHOST row at week+7, so a user's silent
    * week materializes and the per-user lag chain sees it (ghosts
    * merge away when the user was actually active). Category logic
    * off (prev_week, prev_cents): no prev → new; adjacent active
    * prev → expansion/contraction/flat by integer compare; adjacent
    * ghost prev or an older prev → resurrected; a ghost row itself →
    * churned (its lag is always its spawning active week).
    *
    * Shape: one (user, week) aggregate, the ghost union re-grouped
    * at the same grain, one per-user lag window (weeks unique per
    * user, so the order is total), then a (week × 6) grid rollup of
    * exact bigint sums. */
  def revenueAccounting(events: DataFrame): DataFrame = {
    val uw = events.select(col("user_id"),
        date_trunc("week", col("ts")).cast("date").as("week"),
        round(col("value") * 100).cast("bigint").as("cents"))
      .groupBy(col("user_id"), col("week"))
      .agg(sum(col("cents")).as("cents"))
    val all = uw
      .select(col("user_id"), col("week"), col("cents"))
      .union(uw.select(col("user_id"), date_add(col("week"), 7),
        lit(0L)))
      .groupBy(col("user_id"), col("week"))
      .agg(sum(col("cents")).as("cents"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("week"))
    val cat = all
      .withColumn("prev_week", lag(col("week"), 1).over(w))
      .withColumn("prev_cents", lag(col("cents"), 1).over(w))
      .withColumn("category",
        when(col("cents") === 0, lit("churned"))
          .when(col("prev_week").isNull, lit("new"))
          .when(datediff(col("week"), col("prev_week")) === 7 &&
            col("prev_cents") > 0,
            when(col("cents") > col("prev_cents"), lit("expansion"))
              .when(col("cents") < col("prev_cents"), lit("contraction"))
              .otherwise(lit("flat")))
          .otherwise(lit("resurrected")))
    // churned ghosts that merged with nothing carry prev_cents (the
    // lost revenue); every other category carries this week's cents
    cat.where(col("cents") > 0 || col("prev_cents") > 0)
      .groupBy(col("week"), col("category"))
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("category") === "churned", col("prev_cents"))
          .otherwise(col("cents"))).as("cents"))
      .orderBy(col("week"), col("category"))
  }

  /** Day-N retention per daily signup cohort: of the users whose
    * FIRST activity fell on a cohort day, how many were active again
    * exactly 1, 7 and 30 days later — the growth team's D1/D7/D30
    * next to [[cohortRetention]]'s weekly triangle (the triangle
    * shows the whole surface; this is the fixed-horizon cut that
    * goes on the dashboard). Counts are exact; trailing cohorts that
    * haven't LIVED 30 days yet simply report what was observed
    * (zeros, not NULLs — the replayable convention).
    *
    * Shape: one (user, day) distinct, one user-grain min aggregate,
    * one co-partitioned user join; the horizon filter collapses
    * everything onto the (cohort_day × 3) grid before the pivot, and
    * rates are single IEEE divisions at day grain. */
  def retentionDays(events: DataFrame): DataFrame = {
    // two consumers (cohort mins, horizon join) — persisted so the
    // corpus-sized distinct runs once
    val ud = events.select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
      .transform(graft.Caches.hold)
    val firsts = ud.groupBy(col("user_id"))
      .agg(min(col("day")).as("cohort_day"))
    val cohorts = firsts.groupBy(col("cohort_day"))
      .agg(count(lit(1)).as("n_users"))
    val rets = ud.join(firsts, Seq("user_id"))
      .select(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).as("dd"))
      .where(col("dd").isin(1, 7, 30))
      .groupBy(col("cohort_day"))
      .agg(sum(when(col("dd") === 1, 1L).otherwise(0L)).as("d1"),
        sum(when(col("dd") === 7, 1L).otherwise(0L)).as("d7"),
        sum(when(col("dd") === 30, 1L).otherwise(0L)).as("d30"))
    cohorts.join(rets, Seq("cohort_day"), "left")
      .select(col("cohort_day"), col("n_users"),
        coalesce(col("d1"), lit(0L)).as("d1"),
        coalesce(col("d7"), lit(0L)).as("d7"),
        coalesce(col("d30"), lit(0L)).as("d30"))
      .withColumn("r1", col("d1").cast("double") / col("n_users"))
      .withColumn("r7", col("d7").cast("double") / col("n_users"))
      .withColumn("r30", col("d30").cast("double") / col("n_users"))
      .orderBy(col("cohort_day"))
  }

  /** Engagement distribution: users bucketed by the decimal MAGNITUDE
    * of their lifetime event count (1 digit = 1–9 events, 2 = 10–99,
    * …, the [[graft.operators.Affinity.graphStats]] bucket idiom —
    * integer-exact where a log2 float boundary wobbles), with each
    * bucket's user share and EVENT share. The two shares read
    * together are the whale gauge: a tiny user share carrying most
    * of the event share is a bot/power-user concentration a mean
    * events-per-user hides completely.
    *
    * Shape: one user-grain count aggregate (the only corpus-sized
    * exchange), a ≤20-row magnitude grid, and the share totals come
    * from an unpartitioned window over that grid — safe by
    * construction, never a second corpus pass. */
  def engagementDist(events: DataFrame): DataFrame = {
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    events.groupBy(col("user_id")).agg(count(lit(1)).as("ne"))
      .groupBy(length(col("ne").cast("string")).cast("long")
        .as("digits"))
      .agg(count(lit(1)).as("n_users"), sum(col("ne")).as("n_events"))
      .withColumn("user_share",
        col("n_users").cast("double") / sum(col("n_users")).over(wAll))
      .withColumn("event_share",
        col("n_events").cast("double") / sum(col("n_events")).over(wAll))
      .orderBy(col("digits"))
  }

  /** Churn-risk accounting per market segment: a repeat customer is
    * AT RISK when their current silence (corpus frontier minus last
    * order) exceeds twice their own mean inter-order gap — the
    * personalized-cadence test, because 60 quiet days is churn for a
    * weekly buyer and noise for a quarterly one. Single-order
    * customers have no cadence and are excluded (they're lifecycle
    * "new", not churn candidates).
    *
    * Exactness: consecutive gaps telescope, so mean gap =
    * (last−first)/(n−1) needs NO per-customer window — and the risk
    * test cross-multiplies to pure integers, (frontier−last)·(n−1) >
    * 2·(last−first): no division, no float, no boundary risk. A
    * zero-span customer (all orders one day) is at risk from the
    * first silent day, the correct degenerate reading. Shape: one
    * customer-grain aggregate, a custkey join to the segment dim,
    * a segment-grid rollup; the frontier is a collected ISO-string
    * literal (driver-small). */
  def churnRisk(orders: DataFrame, customer: DataFrame): DataFrame = {
    val o = orders.select(col("o_custkey"),
      col("o_orderdate").cast("date").as("day"))
    val frontier = lit(o.agg(max(col("day")).cast("string")).first()
      .getString(0)).cast("date")
    o.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"), min(col("day")).as("first_day"),
        max(col("day")).as("last_day"))
      .where(col("n_orders") >= 2)
      .select(col("o_custkey"),
        (datediff(frontier, col("last_day")).cast("long") *
          (col("n_orders") - 1) >
          datediff(col("last_day"), col("first_day")).cast("long") * 2)
          .cast("int").as("at_risk"))
      .join(customer.select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_repeat_customers"),
        count(when(col("at_risk") === 1, 1)).as("n_at_risk"))
      .withColumn("at_risk_share",
        col("n_at_risk").cast("double") /
          col("n_repeat_customers").cast("double"))
      .orderBy(col("c_mktsegment"))
  }
}
