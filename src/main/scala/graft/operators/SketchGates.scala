package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Driver-checkable BOUND GATES for the sketch twins.
  *
  * The sketch operators (HLL reach/DAU/overlap/lifecycle, KLL
  * percentiles, Misra–Gries heavy hitters) are rows-only at the
  * correctness gate: their estimates depend on engine-internal hash
  * functions no SQL oracle can replay. Their error CONTRACTS, however,
  * are exactly replayable: each gate here runs the sketch and its
  * exact counterpart in one frame and emits (grain, exact leg,
  * within-bound flag). The DuckDB oracle recomputes the exact leg and
  * expects literal TRUE — so a sketch drifting past its published
  * bound fails the driver's hash gate instead of only a spec. The
  * raw estimate never rides in the output (it is the engine-specific
  * part); the verdict does.
  *
  * Bounds mirror the long-standing spec contracts (MetricsSpec /
  * JourneySpec / DataChecksSpec / SkewSpec): per-sketch counts within
  * max(2, 5%) — lgK=12 HLL has ~1.6% rsd, so 5% ≈ 3σ; inclusion–
  * exclusion measures within max(3, 8% of the union) — they compound
  * up to three sketch errors; KLL quantile values within 5% + 1 in
  * value space; Misra–Gries lower-bound estimates within n/(k+1) for
  * the keys the sketch GUARANTEES present (true count > n/(k+1)).
  *
  * Scale shape: each gate costs its exact twin + its sketch twin (both
  * individually plan-audited operators) + one grain-sized join — the
  * operational cadence is a sampled or per-batch QA run next to the
  * sketch pipeline, exactly how a production estimate earns trust. */
object SketchGates {

  /** |est − exact| ≤ max(2, ⌊5% · exact⌋), NULL-safe (a missing
    * estimate row fails the gate rather than dropping out). */
  private def within5(est: Column, exact: Column): Column =
    est.isNotNull &&
      abs(est - exact) <= greatest(lit(2L), floor(exact * 0.05))

  /** Inclusion–exclusion bound: ≤ max(3, ⌊8% · scale⌋). */
  private def within8(est: Column, exact: Column, scale: Column): Column =
    est.isNotNull &&
      abs(est - exact) <= greatest(lit(3L), floor(scale * 0.08))

  /** Gate for [[Reach.approxReach]]: per dim value AND the merged
    * "all" row, the exact distinct-household count with the 5%
    * verdict. */
  def reachGate(media: DataFrame, dim: String): DataFrame = {
    val est = Reach.approxReach(media, dim)
    val exact = media
      .groupBy(col(dim).cast("string").as("value"))
      .agg(countDistinct(col("household_id")).as("reach_exact"))
      .unionAll(media
        .agg(countDistinct(col("household_id")).as("reach_exact"))
        .select(lit("all").as("value"), col("reach_exact")))
    exact.join(est, Seq("value"), "left_outer")
      .select(col("value"), col("reach_exact"),
        within5(col("reach_est"), col("reach_exact")).as("within_bound"))
      .orderBy(col("value"))
  }

  /** Gate for [[Journey.approxActiveUsers]]: per day, exact DAU and
    * trailing-window actives with per-measure 5% verdicts. */
  def activeUsersGate(events: DataFrame, windowDays: Int = 7): DataFrame = {
    val wcol = s"active_${windowDays}d"
    val exact = Journey.activeUsers(events, windowDays)
    val est = Journey.approxActiveUsers(events, windowDays)
    exact.join(est, Seq("day"), "left_outer")
      .select(col("day"), col("dau"), col(wcol),
        within5(col("dau_est"), col("dau")).as("dau_within"),
        within5(col(s"${wcol}_est"), col(wcol)).as("wau_within"))
      .orderBy(col("day"))
  }

  /** Gate for [[Pairwise.pairwiseOverlapApprox]]: every (v1 < v2)
    * value pair with exact side counts and exact overlap (0 when the
    * exact self-join has no row — sketches can't know an intersection
    * is empty, the exact twin omits it), one verdict per pair: both
    * sides within 5%, the inclusion–exclusion overlap within 8% of
    * the exact union. */
  def pairwiseGate(media: DataFrame, dim: String): DataFrame = {
    val est = Pairwise.pairwiseOverlapApprox(media, dim)
    val hv = media.select(col(dim).as("value"), col("household_id"))
      .distinct()
      .transform(graft.Caches.hold)
    val pv = hv.groupBy(col("value")).agg(count(lit(1)).as("nx"))
    val exactPairs = hv.as("a")
      .join(hv.as("b"),
        col("a.household_id") === col("b.household_id") &&
          col("a.value") < col("b.value"))
      .groupBy(col("a.value").as("media_type_1"),
        col("b.value").as("media_type_2"))
      .agg(count(lit(1)).as("overlap_exact"))
    val grid = pv.as("p1")
      .join(pv.as("p2"), col("p1.value") < col("p2.value"))
      .select(col("p1.value").as("media_type_1"),
        col("p2.value").as("media_type_2"),
        col("p1.nx").as("n1_exact"), col("p2.nx").as("n2_exact"))
      .join(exactPairs, Seq("media_type_1", "media_type_2"), "left_outer")
      .withColumn("overlap_exact", coalesce(col("overlap_exact"), lit(0L)))
    grid.join(est, Seq("media_type_1", "media_type_2"), "left_outer")
      .select(col("media_type_1"), col("media_type_2"),
        col("n1_exact"), col("n2_exact"), col("overlap_exact"),
        (within5(col("n1_est"), col("n1_exact")) &&
          within5(col("n2_est"), col("n2_exact")) &&
          within8(col("overlap_est"), col("overlap_exact"),
            col("n1_exact") + col("n2_exact") - col("overlap_exact")))
          .as("within_bound"))
      .orderBy(col("media_type_1"), col("media_type_2"))
  }

  /** Gate for [[Journey.lifecycleApprox]]: per ACTIVE week, the exact
    * growth-accounting measures (active = distinct users; new /
    * retained / resurrected / churned pivoted from [[Journey
    * .lifecycle]]'s long frame) with per-measure verdicts. Each
    * bound's SCALE is the magnitude the sketch twin actually
    * differences — the error-propagation model, not the measure's
    * own size: `new` is cum(w) − cum(w−1) (two cumulative-union
    * sketches, so its absolute error rides on the CUMULATIVE count —
    * at 10× data the exact `new` collapses to ~10 users while cum
    * holds thousands, and an own-magnitude bound would flake);
    * retained/churned difference adjacent-week sketches (scale =
    * the two weeks' actives); resurrected additionally includes
    * `new_est` (scale = cum). Active itself is one sketch at 5%.
    * Churned is gated only when the previous week was active (the
    * approx twin publishes NULL otherwise). */
  def lifecycleGate(events: DataFrame): DataFrame = {
    val est = Journey.lifecycleApprox(events)
    val wide = Journey.lifecycle(events)
      .groupBy(col("week"))
      .pivot("status", Seq("new", "retained", "resurrected", "churned"))
      .sum("n_users")
      .na.fill(0L, Seq("new", "retained", "resurrected", "churned"))
    val wWeek = org.apache.spark.sql.expressions.Window.orderBy(col("week"))
    // active + first-seen cum, both week-grain: cum is the running sum
    // of first-seen users (exact twin of the sketch's cumulative
    // union), prev_active the lag — all windows run over the
    // calendar-sized frame, never the corpus
    val active = events
      .select(date_trunc("week", col("ts")).cast("date").as("week"),
        col("user_id"))
      .groupBy(col("week"))
      .agg(countDistinct(col("user_id")).as("active_exact"))
    val firstSeen = events
      .select(col("user_id"),
        date_trunc("week", col("ts")).cast("date").as("week"))
      .groupBy(col("user_id")).agg(min(col("week")).as("week"))
      .groupBy(col("week")).agg(count(lit(1)).as("first_seen"))
    val grain = active
      .join(firstSeen, Seq("week"), "left_outer")
      .na.fill(0L, Seq("first_seen"))
      .withColumn("cum_exact", sum(col("first_seen")).over(
        wWeek.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)))
      .withColumn("prev_active",
        coalesce(lag(col("active_exact"), 1).over(wWeek), lit(0L)))
    grain.join(wide, Seq("week"), "left_outer")
      .na.fill(0L, Seq("new", "retained", "resurrected", "churned"))
      .join(est, Seq("week"), "left_outer")
      .select(col("week"), col("active_exact"), col("cum_exact"),
        col("new").as("new_exact"), col("retained").as("retained_exact"),
        col("resurrected").as("resurrected_exact"),
        col("churned").as("churned_exact"),
        within5(col("active_est"), col("active_exact")).as("active_within"),
        within8(col("new_est"), col("new"), col("cum_exact"))
          .as("new_within"),
        within8(col("retained_est"), col("retained"),
          col("active_exact") + col("prev_active")).as("retained_within"),
        within8(col("resurrected_est"), col("resurrected"),
          col("cum_exact")).as("resurrected_within"),
        (col("churned_est").isNull ||
          within8(col("churned_est"), col("churned"),
            col("active_exact") + col("prev_active")))
          .as("churned_within"))
      .orderBy(col("week"))
  }

  /** Gate for [[DataChecks.percentileBandsApprox]]: per dim, the
    * exact cent-grid quartiles ([[DataChecks.percentileBands]]) with
    * per-quartile verdicts at the 5%+1 value-space bound. */
  def percentilesGate(df: DataFrame, valueCol: String,
                      dim: String): DataFrame = {
    val exact = DataChecks.percentileBands(df, valueCol, dim)
    val est = DataChecks.percentileBandsApprox(df, valueCol, dim)
      .select(col(dim), col("p25").as("p25_est"),
        col("p50").as("p50_est"), col("p75").as("p75_est"))
    def within(e: Column, x: Column): Column =
      e.isNotNull && abs(e - x) <= x * 0.05 + 1
    exact.join(est, Seq(dim), "left_outer")
      .select(col(dim), col("n_rows"), col("p25"), col("p50"), col("p75"),
        within(col("p25_est"), col("p25")).as("p25_within"),
        within(col("p50_est"), col("p50")).as("p50_within"),
        within(col("p75_est"), col("p75")).as("p75_within"))
      .orderBy(col(dim))
  }

  /** Gate for [[Skew.skewReportApprox]]: the keys Misra–Gries
    * GUARANTEES present (true count > n/(k+1)) must appear in the
    * k-entry summary with a lower-bound estimate within n/(k+1) of
    * the exact count. Keys under the guarantee threshold are not
    * gated (the sketch makes no promise there). */
  def skewGate(df: DataFrame, keyCol: String, topN: Int,
               k: Int = Skew.MgSummaryK): DataFrame = {
    val exact = Skew.skewReport(df, keyCol, topN)
    // the full k-entry summary, not the top-N cut — the guarantee is
    // about summary membership
    val est = Skew.skewReportApprox(df, keyCol, k, k)
      .select(col(keyCol), col("est_rows"))
    exact
      .where(col("n_rows") * (k + 1) > col("n_total"))
      .join(est, Seq(keyCol), "left_outer")
      .select(col(keyCol), col("n_rows"), col("n_total"),
        (col("est_rows").isNotNull &&
          col("est_rows") <= col("n_rows") &&
          col("n_rows") - col("est_rows") <=
            expr(s"n_total div ${k + 1}") + lit(1L)).as("within_bound"))
      .orderBy(col("n_rows").desc, col(keyCol))
  }
}
