package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series operators over the event log: batch gap-based
  * sessionization, backward as-of joins, and trailing-window rolling
  * aggregates. The reference's pipelines handle time driver-side (day
  * loops in dataQA, first-exposure scans in hh_before_after.py); these
  * re-express the standard event-time shapes as single distributed
  * plans — one hash exchange on the entity key, per-key window
  * functions, no driver iteration.
  */
object Temporal {

  /** Gap-based sessionization (batch): consecutive events of a user
    * belong to one session while the gap between them is <= `gapMinutes`.
    * The batch twin of [[graft.streaming.EventStream.sessionize]] —
    * EquivalenceSpec proves both emit the same sessions.
    *
    * Shape: the shared [[sessionRows]] step — ONE hash exchange on
    * user_id, then two per-key window passes (lag → session-start
    * flags, running sum → session index) — and a per-(user, session)
    * aggregate that reuses the same
    * partitioning. Gaps compare integer epoch-microseconds (exact at
    * any timestamp precision; a double epoch would lose sub-second
    * bits past 2^53). At 100 TB the plan is embarrassingly parallel in
    * user_id — no global state, no driver loop. */
  def sessionize(events: DataFrame, gapMinutes: Int): DataFrame =
    sessionRows(events, gapMinutes, col("value"))
      .groupBy(col("user_id"), col("session_ix"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("total_value"))
      .orderBy(col("user_id"), col("session_ix"))

  /** The gap-session step every session operator here shares: the
    * events' (user_id, ts, event_id, `extra`…) columns plus `tu` (ts
    * in integer epoch-microseconds), `new_sess` (1 on a user's first
    * event and on every event more than `gapMinutes` after the one
    * before it) and `session_ix` (the running count of session starts,
    * 1-based per user). Rows are ordered per user by (ts, event_id), so
    * equal timestamps break ties by event_id and the sessions are
    * deterministic; a gap of exactly `gapMinutes` stays in the session. */
  private[graft] def sessionRows(events: DataFrame, gapMinutes: Int,
                                 extra: Column*): DataFrame = {
    val gapUs = gapMinutes * 60L * 1000000L
    val order = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events
      .select(Seq(col("user_id"), col("ts"), col("event_id")) ++ extra :+
        unix_micros(col("ts")).as("tu"): _*)
      .withColumn("new_sess",
        when(lag(col("tu"), 1).over(order).isNull ||
          col("tu") - lag(col("tu"), 1).over(order) > gapUs, 1)
          .otherwise(0))
      .withColumn("session_ix",
        sum(col("new_sess")).over(order.rowsBetween(
          Window.unboundedPreceding, Window.currentRow)))
  }

  /** Backward as-of join: for every left row, the single right row
    * with the greatest `ts <= left.ts` for the same key (NULL columns
    * when no right row precedes). The operator Spark's relational
    * algebra lacks natively — and the naive encodings fail at scale: a
    * range self-join explodes to O(left × right-per-key) candidate
    * pairs before taking the max, and a per-key collect_list breaks on
    * hot keys. This is the merge formulation instead: union-tag both
    * sides, sort once per key, and carry the last right payload
    * forward with last_value(ignoreNulls) — cost is exactly one hash
    * exchange + per-key sort of |left| + |right| rows, the same shape
    * at any scale.
    *
    * `rightCols` are the payload columns carried from the right side;
    * ties inside the right frame must be pre-broken by the caller
    * (one row per (key, ts)) or the carried payload at equal ts is
    * tie-order dependent. At equal left/right timestamps the right row
    * is visible ("at or before" semantics — right sorts first). */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
               rightCols: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    val pay = struct(rightCols.map(col): _*)
    val r = right.select(
      Seq(col(key), col("ts").as("ts"), pay.as("asof_pay"), lit(0).as("side")) ++
        leftCols.filterNot(Set(key, "ts")).map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*)
    val l = left.select(
      Seq(col(key), col("ts"), lit(null).cast(r.schema("asof_pay").dataType).as("asof_pay"),
        lit(1).as("side")) ++ leftCols.filterNot(Set(key, "ts")).map(col): _*)
    val w = Window.partitionBy(col(key)).orderBy(col("ts"), col("side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    r.unionByName(l)
      .withColumn("asof_match", last(col("asof_pay"), ignoreNulls = true).over(w))
      .where(col("side") === 1)
      .select(leftCols.map(col) ++
        rightCols.map(c => col(s"asof_match.$c").as(s"asof_$c")): _*)
  }

  /** Banded (binned) range join: inner-join `intervals` (key, start,
    * end, payload…) to `points` (key, ts, payload…) on key equality +
    * ts ∈ [start, end]. Spark's optimizer turns a raw inequality join
    * into BroadcastNestedLoop/cartesian — O(|L|·|R|) per key and a
    * driver OOM at scale — so this uses the standard banding trick
    * instead: each interval explodes to the `binSeconds`-wide epoch
    * bins it covers, each point maps to its single bin, and the join
    * becomes an EQUI-join on (key, bin) + residual filter, which
    * Catalyst plans as an ordinary shuffled hash/sort-merge join.
    * Replication factor = interval_span/binSeconds + 1, so pick
    * binSeconds ≈ the typical interval length (replication ≈ 2).
    * A point lives in exactly one bin — matches are never duplicated.
    * Scales as sum of per-(key, bin) products, not per-key products. */
  def rangeJoin(intervals: DataFrame, points: DataFrame, key: String,
                binSeconds: Long): DataFrame = {
    require(binSeconds > 0, s"binSeconds must be positive, got $binSeconds")
    val iv = intervals
      .withColumn("bin", explode(sequence(
        floor(unix_micros(col("start")) / (binSeconds * 1000000L)),
        floor(unix_micros(col("end")) / (binSeconds * 1000000L)))))
    val pt = points
      .withColumn("bin",
        floor(unix_micros(col("ts")) / (binSeconds * 1000000L)))
    iv.join(pt, Seq(key, "bin"))
      .where(col("ts") >= col("start") && col("ts") <= col("end"))
      .drop("bin")
  }

  /** Trailing `windowDays`-day rolling aggregates over the daily
    * per-type event counts: for each (event_type, date) the count and
    * 2dp-rounded value sum over the trailing window INCLUDING absent
    * days (a RANGE frame over the integer day number spans calendar
    * gaps; a ROWS frame would silently widen across them). Two-level
    * plan: one hash aggregate to daily grain — the map-side-combine
    * shuffle is the only full-data exchange — then windows over the
    * tiny (types × days) daily frame. Inner AND outer sums round to
    * 2dp: the outer sum of 2dp-rounded daily values has an exact 2dp
    * true value, so the final round is engine-order-independent. */
  def rollingDaily(events: DataFrame, windowDays: Int = 7): DataFrame = {
    val daily = events
      .groupBy(to_date(col("ts")).as("date"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      .withColumn("day_num", datediff(col("date"), lit("1970-01-01")))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day_num"))
      .rangeBetween(-(windowDays - 1), 0)
    daily
      .withColumn("n_events_7d", sum(col("n_events")).over(w))
      .withColumn("sum_value_7d", round(sum(col("sum_value")).over(w), 2))
      .select(col("date"), col("event_type"), col("n_events"),
        col("sum_value"), col("n_events_7d"), col("sum_value_7d"))
      .orderBy(col("date"), col("event_type"))
  }

  /** Session co-occurrence (market-basket support over sessions):
    * which event types happen together in one session, counted over
    * the shared [[sessionRows]] sessions (the [[sessionize]] gap rule
    * and deterministic (ts, event_id) order). Per session the DISTINCT
    * type set is tiny (bounded by the type vocabulary), so the pair
    * fan-out is the LSH-bucket pattern — sorted set, in-task (t1 < t2)
    * pair generation, never a self-join. Plan: ONE user_id exchange
    * covers the session windows and the (user, session) type-set
    * aggregate; pairs then collapse onto the (types × types) grain —
    * vocabulary-sized — and the session total arrives by broadcast.
    * Support = n_co/n_sessions is one exact IEEE division. */
  def basketPairs(events: DataFrame, gapMinutes: Int): DataFrame = {
    val sets = sessionTypeSets(events, gapMinutes)
    val total = sets.select(count(lit(1)).as("n_sessions"))
    sets.where(size(col("types")) >= 2)
      .select(explode(call_function("graft_pairs", col("types"))).as("p"))
      .select(col("p.a").as("t1"), col("p.b").as("t2"))
      .groupBy(col("t1"), col("t2"))
      .agg(count(lit(1)).as("n_co"))
      .crossJoin(broadcast(total))
      .withColumn("support",
        col("n_co").cast("double") / col("n_sessions"))
      .select(col("t1"), col("t2"), col("n_co"), col("n_sessions"),
        col("support"))
      .orderBy(col("t1"), col("t2"))
  }

  /** The shared session-type-set frame behind [[basketPairs]] and
    * [[assocRules]]: one row per (user, session) with the sorted
    * DISTINCT event-type set, sessions cut by [[sessionRows]].
    * Persisted: the
    * pair/item legs AND the broadcast session total all read it —
    * unpersisted, each branch re-runs the session windows end-to-end
    * (another full user_id exchange per consumer). Caller owns the
    * cache lifetime (same contract as the minhash signature frame). */
  private def sessionTypeSets(events: DataFrame,
                              gapMinutes: Int): DataFrame = {
    sessionRows(events, gapMinutes, col("event_type"))
      .groupBy(col("user_id"), col("session_ix"))
      .agg(sort_array(collect_set(col("event_type"))).as("types"))
      .transform(graft.Caches.hold)
  }

  /** Association rules over session itemsets: every DIRECTED type
    * pair a→b with its support (sessions containing both / all
    * sessions), confidence (… / sessions containing a) and lift
    * (confidence / consequent base rate) — the "users who do a also
    * do b" table [[basketPairs]]'s symmetric support can't rank,
    * because confidence is asymmetric (checkout→search is near-1,
    * search→checkout is the interesting number).
    *
    * Shape: the ONE user_id exchange builds the shared session set
    * frame; item counts (per-type session counts) and pair counts
    * both collapse onto vocabulary-sized grids, join by broadcast,
    * and the session total arrives as a broadcast 1-row frame. All
    * counts exact bigint; support/confidence are single IEEE
    * divisions and lift divides products of count-DOUBLES — casting
    * BEFORE the multiply so the expression never wraps int64 at any
    * corpus size (n_co·n_sessions ≈ 10²² at 100 TB grain), at the
    * cost of ≤1 ulp which both engines round identically. */
  def assocRules(events: DataFrame, gapMinutes: Int): DataFrame = {
    val sets = sessionTypeSets(events, gapMinutes)
    val total = sets.select(count(lit(1)).as("n_sessions"))
    val items = sets.select(explode(col("types")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("n_item"))
    val co = sets.where(size(col("types")) >= 2)
      .select(explode(call_function("graft_pairs", col("types"))).as("p"))
      .select(col("p.a").as("t1"), col("p.b").as("t2"))
      .groupBy(col("t1"), col("t2"))
      .agg(count(lit(1)).as("n_co"))
    val directed = co
      .select(col("t1").as("antecedent"), col("t2").as("consequent"),
        col("n_co"))
      .union(co.select(col("t2").as("antecedent"),
        col("t1").as("consequent"), col("n_co")))
    directed
      .join(broadcast(items.select(col("t").as("antecedent"),
        col("n_item").as("n_ante"))), Seq("antecedent"))
      .join(broadcast(items.select(col("t").as("consequent"),
        col("n_item").as("n_cons"))), Seq("consequent"))
      .crossJoin(broadcast(total))
      .select(col("antecedent"), col("consequent"), col("n_co"),
        col("n_ante"), col("n_cons"), col("n_sessions"),
        (col("n_co").cast("double") / col("n_sessions")).as("support"),
        (col("n_co").cast("double") / col("n_ante")).as("confidence"),
        ((col("n_co").cast("double") * col("n_sessions").cast("double")) /
          (col("n_ante").cast("double") * col("n_cons").cast("double")))
          .as("lift"))
      .orderBy(col("antecedent"), col("consequent"))
  }

  /** The pairing step every attribution model shares. Returns the
    * purchases the family credits — (user_id, start = ts − `windowDays`,
    * end = ts, purchase_id, integer cents), held for the query, since
    * each model's pair leg and its `(none)` leg both read it — and
    * their in-window pairs: every (purchase, exposure) of one user with
    * the exposure in [start, end), carrying the exposure's ts, touch_id
    * and channel (event type). Pairing is the day-binned [[rangeJoin]]
    * (an equi-join on (user, day bin), never an unbounded interval
    * cross product); a model that never reads touch_id gets it pruned
    * from its plan. */
  private def attributionPairs(events: DataFrame,
                               windowDays: Int): (DataFrame, DataFrame) = {
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("user_id"),
        (col("ts") - expr(s"INTERVAL $windowDays DAYS")).as("start"),
        col("ts").as("end"), col("event_id").as("purchase_id"),
        round(col("value") * 100).cast("bigint").as("cents"))
      .transform(graft.Caches.hold)
    val exposures = events.where(col("event_type") =!= "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("touch_id"),
        col("event_type").as("channel"))
    (purchases, rangeJoin(purchases, exposures, "user_id", 86400L)
      .where(col("ts") < col("end"))) // strictly before the purchase
  }

  /** The split models' channel report: the `credited` (channel, k,
    * credit) rows plus every purchase no pair reaches, credited at its
    * full value to `(none)` — so the report accounts for all purchase
    * value — summed per channel. Credits are integer micro-cents with
    * one display division at the end; `nCredits` is the model's
    * per-channel credit count. */
  private def splitReport(purchases: DataFrame, pairs: DataFrame,
                          credited: DataFrame, nCredits: Column): DataFrame = {
    val unattributed = purchases
      .join(pairs.select(col("purchase_id")).distinct(),
        Seq("purchase_id"), "left_anti")
      .select(lit("(none)").as("channel"), lit(1L).as("k"),
        (col("cents") * 1000000L).as("credit"))
    credited.union(unattributed)
      .groupBy(col("channel"))
      .agg(nCredits.as("n_credits"),
        (sum(col("credit")).cast("double") / 100000000.0)
          .as("credited_value"))
      .orderBy(col("channel"))
  }

  /** Equal-split multi-touch attribution: every purchase's value is
    * divided equally over the user's exposure events in the trailing
    * `windowDays` window strictly before it, credited to the
    * exposure's event type (the channel); purchases with no exposure
    * in window land in the `(none)` bucket at full value, so the
    * report is a complete accounting of purchase value by touch
    * channel. The multi-touch generalization of [[asofJoin]]-style
    * last-touch — one purchase can credit several channels.
    *
    * Determinism is the point of the credit unit: a per-exposure
    * `value/n` double would make channel sums order-dependent, so the
    * credit is integer MICRO-CENTS — `cents·10⁶ div n` — exact in any
    * summation order, with one display division at the very end (each
    * purchase strands < n micro-cents of remainder — bounded,
    * documented, and far below the display unit). Pairing is the
    * shared [[attributionPairs]] step and the `(none)` leg plus the
    * channel report are [[splitReport]]; everything after the pair
    * count is (purchase × channel)-sized. */
  def attribution(events: DataFrame, windowDays: Int): DataFrame = {
    val (purchases, pairs) = attributionPairs(events, windowDays)
    val pc = pairs
      .groupBy(col("purchase_id"), col("cents"), col("channel"))
      .agg(count(lit(1)).as("k"))
      .transform(graft.Caches.hold)
    val credited = pc
      .withColumn("n", sum(col("k")).over(
        Window.partitionBy(col("purchase_id"))))
      .select(col("channel"), col("k"),
        (expr("(cents * 1000000) div n") * col("k")).as("credit"))
    splitReport(purchases, pc, credited, sum(col("k")))
  }

  /** Time-decay multi-touch attribution — [[attribution]] with
    * exponential recency weighting: an exposure `a` whole days before
    * the purchase weighs 2^(windowDays−1−a), so yesterday's touch
    * counts double the day before's (the marketer's standard decay
    * model, with half-life = 1 day in day bins). The weights are
    * INTEGER powers of two and the credit stays integer micro-cents —
    * `(cents·10⁶·w_channel) div W` per purchase — so channel sums are
    * exact in any summation order, the same determinism discipline as
    * the equal-split operator (which is this with all weights 1).
    * Unattributed purchases land in `(none)` at full value. Pairs
    * come from [[attributionPairs]] and the report is [[splitReport]],
    * as for [[attribution]]; everything after the pair stage is
    * (purchase × channel)-sized. */
  def attributionDecay(events: DataFrame, windowDays: Int): DataFrame = {
    val (purchases, pairs) = attributionPairs(events, windowDays)
    val pc = pairs
      // whole days of age on integer MICROSECONDS (unix_timestamp
      // truncates sub-second parts and would disagree with the
      // oracle's epoch_us near day boundaries); 0-based,
      // strictly-inside-window rows only
      .withColumn("age",
        expr("(unix_micros(end) - unix_micros(ts)) div 86400000000"))
      // the exact window-start boundary would be age == windowDays —
      // a negative shift; excluded (strictly inside the window)
      .where(col("age") < windowDays)
      .withColumn("w", expr(
        s"shiftleft(CAST(1 AS BIGINT), ${windowDays - 1} - CAST(age AS INT))"))
      .groupBy(col("purchase_id"), col("cents"), col("channel"))
      .agg(sum(col("w")).as("wsum"), count(lit(1)).as("k"))
      .transform(graft.Caches.hold)
    val credited = pc
      .withColumn("tw", sum(col("wsum")).over(
        Window.partitionBy(col("purchase_id"))))
      .select(col("channel"), col("k"),
        expr("(cents * 1000000 * wsum) div tw").as("credit"))
    splitReport(purchases, pc, credited, sum(col("k")))
  }

  /** First/last-touch attribution: each purchase's FULL value credited
    * once to the first exposure channel in the trailing window and
    * once to the last — the two single-touch accountings bracketing
    * the multi-touch splits ([[attribution]] equal, [[attributionDecay]],
    * [[attributionUShaped]]): first-touch reads as "what starts
    * journeys", last-touch as "what closes them", and a channel whose
    * first and last totals diverge is an opener or a closer, which is
    * exactly what a budget reallocation needs to know. Purchases with
    * no exposure in window land in `(none)` in BOTH accountings, so
    * each column totals the same complete purchase value.
    *
    * Shape: the [[attributionPairs]] pairing the split operators
    * share, but the per-purchase reduction is one order-independent
    * min/max over (ts, touch_id, channel) structs — no window, no
    * credit division, value stays integer cents end to end (touch_id
    * breaks ts ties, the oracle's row_number order). The attributed
    * frame is persisted: the credit legs and the `(none)` anti-join
    * both read it. */
  def attributionFirstLast(events: DataFrame, windowDays: Int): DataFrame = {
    val (purchases, pairs) = attributionPairs(events, windowDays)
    val fl = pairs
      .groupBy(col("purchase_id"), col("cents"))
      .agg(
        min(struct(col("ts"), col("touch_id"), col("channel"))).as("f"),
        max(struct(col("ts"), col("touch_id"), col("channel"))).as("l"))
      .transform(graft.Caches.hold)
    val credits = fl
      .select(col("f.channel").as("channel"), lit(1L).as("nf"),
        col("cents").as("vf"), lit(0L).as("nl"), lit(0L).as("vl"))
      .unionAll(fl.select(col("l.channel"), lit(0L), lit(0L), lit(1L),
        col("cents")))
    val none = purchases
      .join(fl.select(col("purchase_id")), Seq("purchase_id"), "left_anti")
      .select(lit("(none)").as("channel"), lit(1L).as("nf"),
        col("cents").as("vf"), lit(1L).as("nl"), col("cents").as("vl"))
    credits.unionAll(none)
      .groupBy(col("channel"))
      .agg(sum(col("nf")).as("n_first"),
        (sum(col("vf")).cast("double") / 100.0).as("first_value"),
        sum(col("nl")).as("n_last"),
        (sum(col("vl")).cast("double") / 100.0).as("last_value"))
      .orderBy(col("channel"))
  }

  /** Batch finisher for the streaming first/last credit rows
    * (EventStream.flCredits): k=1 rows are first-leg credits, k=2
    * last-leg, k=3 `(none)` purchases counting in both — regrouping
    * them reproduces [[attributionFirstLast]]'s report exactly
    * (EquivalenceSpec-gated), so a live dashboard reads the stream's
    * credit table through this and matches the nightly batch. */
  def attributionFlFromCredits(credits: DataFrame): DataFrame =
    credits
      .groupBy(col("channel"))
      .agg(
        sum(when(col("k") === 1 || col("k") === 3, 1L).otherwise(0L))
          .as("n_first"),
        (sum(when(col("k") === 1 || col("k") === 3, col("credit_micro"))
          .otherwise(0L)).cast("double") / 100000000.0).as("first_value"),
        sum(when(col("k") === 2 || col("k") === 3, 1L).otherwise(0L))
          .as("n_last"),
        (sum(when(col("k") === 2 || col("k") === 3, col("credit_micro"))
          .otherwise(0L)).cast("double") / 100000000.0).as("last_value"))
      .orderBy(col("channel"))

  /** Top session paths: the most common ordered event-type sequences a
    * session opens with (first `maxLen` events, joined with `>`), with
    * session counts and share of all sessions — the flow summary that
    * tells you what users actually DO in a session, where
    * [[basketPairs]] only says what co-occurs. Sessions longer than
    * `maxLen` contribute their prefix (a path is a prefix class, so
    * counts are stable as sessions grow).
    *
    * Shape: the [[sessionRows]] session windows (one user_id
    * exchange), then a per-(user, session) aggregate collects
    * the session's (ts, event_id, type) structs — bounded by session
    * length, never a user's whole history — sorts them in-row, slices
    * the prefix and joins it to one string; the path aggregate and
    * top-N are paths-sized. The unique event_id in the sort key makes
    * the path deterministic under same-timestamp events. Share is one
    * bigint division by a broadcast 1-row session total. */
  def sessionPaths(events: DataFrame, gapMinutes: Int,
                   maxLen: Int = 5, topN: Int = 20): DataFrame = {
    // persisted: the path leg and the broadcast session total both
    // read it (the basketPairs contract; caller owns the lifetime)
    val paths = sessionRows(events, gapMinutes, col("event_type"))
      .groupBy(col("user_id"), col("session_ix"))
      .agg(sort_array(collect_list(struct(
        col("ts"), col("event_id"), col("event_type")))).as("evs"))
      .select(concat_ws(">",
        slice(transform(col("evs"), e => e.getField("event_type")),
          1, maxLen)).as("path"))
      .transform(graft.Caches.hold)
    val total = paths.select(count(lit(1)).as("n_sessions"))
    paths.groupBy(col("path")).agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(total))
      .select(col("path"), col("n"),
        (col("n").cast("double") / col("n_sessions")).as("share"))
      .orderBy(col("n").desc, col("path"))
      .limit(topN)
  }

  /** Inter-event gap statistics: per event type, the distribution of
    * time between a user's consecutive events of that type — the
    * cadence profile behind session-gap and anomaly thresholds
    * (pick the sessionize gap ABOVE the typical p75, not by folklore).
    * Gaps are exact integer microseconds; quartiles use dyadic
    * probabilities over that integer grid (interpolations exact, the
    * [[DataChecks.percentileBands]] contract) and the mean is an
    * integer sum with one division — so all doubles compare
    * bit-identically, with /10⁶-to-seconds as the one final display
    * division on both sides. Plan: one (user, type) hash exchange for
    * the lag window, then a map-side-combine aggregate to the
    * (type, gap) grain feeding the frequency-weighted percentile —
    * raw rows shuffle once. */
  def eventGaps(events: DataFrame): DataFrame = {
    val order = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val gaps = events
      .select(col("event_type"), col("user_id"), col("ts"), col("event_id"),
        unix_micros(col("ts")).as("tu"))
      .withColumn("gap", col("tu") - lag(col("tu"), 1).over(order))
      .where(col("gap").isNotNull)
    gaps.groupBy(col("event_type"), col("gap"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("event_type"))
      .agg(sum(col("cnt")).as("n_gaps"),
        sum(col("gap") * col("cnt")).as("sum_gap"),
        expr("percentile(gap, array(0.25D, 0.5D, 0.75D), cnt)").as("ps"))
      .select(col("event_type"), col("n_gaps"),
        (col("sum_gap").cast("double") / col("n_gaps") / 1000000.0)
          .as("mean_gap_s"),
        (element_at(col("ps"), 1) / 1000000.0).as("p25_s"),
        (element_at(col("ps"), 2) / 1000000.0).as("p50_s"),
        (element_at(col("ps"), 3) / 1000000.0).as("p75_s"))
      .orderBy(col("event_type"))
  }

  /** Burstiness per event type: the Goh–Barabási coefficient
    * B = (σ−μ)/(σ+μ) of the [[eventGaps]] gap population — B→−1 for
    * clockwork cadences, 0 for a Poisson stream, →+1 for heavy-tailed
    * bursts. The one-number complement to the gap quartiles: capacity
    * planning and anomaly thresholds behave completely differently on
    * a bursty stream than on a regular one at the same mean rate.
    *
    * Determinism: σ and μ share the factor 1/n, so
    * B = (√D − S₁)/(√D + S₁) with D = n·Σgap² − S₁² — gaps are integer
    * microseconds and the moments accumulate as decimal(38,0) (the
    * exact int128 discipline; Σgap² overflows int64 at month-scale
    * gaps, and a silent Spark wrap where the oracle's HUGEINT is
    * exact is the known moment-sum trap), so D and S₁ are exact
    * integers that convert to double once, then one IEEE sqrt and one
    * division replay bit-identically. Same plan shape as eventGaps:
    * one (user, type) exchange for the lag, a map-side-combining
    * rollup onto the (type, gap) grid, then grid-sized moments. */
  def burstiness(events: DataFrame): DataFrame = {
    val order = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val gaps = events
      .select(col("event_type"), col("user_id"), col("ts"), col("event_id"),
        unix_micros(col("ts")).as("tu"))
      .withColumn("gap", col("tu") - lag(col("tu"), 1).over(order))
      .where(col("gap").isNotNull)
    gaps.groupBy(col("event_type"), col("gap"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("event_type"),
        col("gap").cast("decimal(38,0)").as("g"),
        col("cnt").cast("decimal(38,0)").as("c"))
      .groupBy(col("event_type"))
      .agg(sum(col("c")).as("nn"),
        sum(col("g") * col("c")).as("s1"),
        sum(col("g") * col("g") * col("c")).as("s2"))
      .withColumn("d",
        (col("nn") * col("s2") - col("s1") * col("s1")).cast("double"))
      .select(col("event_type"), col("nn").cast("bigint").as("n_gaps"),
        (col("s1").cast("double") / col("nn").cast("double") / 1000000.0)
          .as("mean_gap_s"),
        ((sqrt(col("d")) - col("s1").cast("double")) /
          nullif(sqrt(col("d")) + col("s1").cast("double"), lit(0.0)))
          .as("burstiness"))
      .orderBy(col("event_type"))
  }

  /** Calendar gap-fill of the per-type daily series: every day between
    * a type's first and last activity gets a row — observed days keep
    * their count, silent days emit an explicit zero with `is_filled`=1
    * and the days-since-last-activity distance. Dashboards, anomaly
    * baselines and forecasting joins all need the dense spine (a
    * missing row reads as "no data", a zero row as "no events" — at
    * QA time those are different facts). Scale shape: the raw event
    * volume collapses in the FIRST aggregate; everything after —
    * spine explode, left join, running-max window — operates on the
    * types × days grain (thousands of rows at any corpus size), so
    * the fill costs nothing more than the daily rollup itself. The
    * last-active distance uses a running max of observed days (dates
    * are monotone under max) rather than lag-ignoring-nulls, which
    * keeps the oracle replay a plain window max. */
  def gapFill(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"))
    val spine = daily.groupBy(col("event_type"))
      .agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"))).as("day"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("event_type", "day"), "left")
      .withColumn("is_filled", col("n_events").isNull.cast("int"))
      .withColumn("n_events", coalesce(col("n_events"), lit(0L)))
      .withColumn("last_active",
        max(when(col("is_filled") === 0, col("day"))).over(w))
      .select(col("event_type"), col("day"), col("n_events"),
        col("is_filled"),
        datediff(col("day"), col("last_active")).as("days_since_active"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Seasonal-naive forecast evaluation: tomorrow looks like the same
    * weekday last week — forecast(type, day) = count(type, day−`lag`
    * days), the baseline every real forecasting model must beat, run
    * as a backtest over the history with the per-day absolute error.
    * Joining the per-day aggregate to itself on (type, day+lag) keeps
    * the semantics exact under calendar gaps (a row-number lag would
    * silently reach past a missing day); days without history `lag`
    * days back report a NULL forecast and error, distinguishing "no
    * baseline yet" from "baseline of zero". Scale: one corpus-sized
    * daily aggregate, persisted; the self-join runs on the types×days
    * result — broadcast-sized however big the raw history. Counts are
    * integers, so the error column is exact. */
  def forecastNaive(events: DataFrame, lagDays: Int = 7): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .transform(graft.Caches.hold)
    val base = daily.select(col("event_type"),
      date_add(col("day"), lagDays).as("day"), col("n").as("forecast_n"))
    daily.join(base, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"), col("n"), col("forecast_n"),
        abs(col("n") - col("forecast_n")).as("abs_err"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Session bounce rate per entry event type: the share of sessions
    * that ended after ONE event, keyed by what the session STARTED
    * with — the landing-quality read every funnel review opens with.
    * Sessions come from [[sessionRows]]; the entry event is the
    * (tu, event_id)-min struct (order-independent argmin, no second
    * window); the bounce share carries the
    * [[Ranking.wilsonLower]] bound so thin entry types can't outrank
    * well-measured ones. */
  def bounceRate(events: DataFrame, gapMinutes: Int,
                 z: Double = 1.96): DataFrame = {
    val agg = sessionRows(events, gapMinutes, col("event_type"))
      .groupBy(col("user_id"), col("session_ix"))
      .agg(count(lit(1)).as("n_events"),
        min(struct(col("tu").as("tu"), col("event_id").as("eid"),
          col("event_type").as("et"))).as("first"))
      .select(col("first.et").as("entry_type"), col("n_events"))
      .groupBy(col("entry_type"))
      .agg(count(lit(1)).as("n_sessions"),
        count(when(col("n_events") === 1, 1)).as("n_bounces"))
    Ranking.wilsonReport(agg, Seq("entry_type"), "n_sessions", "n_bounces",
      "bounce_rate", z)
  }

  /** Session-depth distribution: sessions bucketed by event count
    * (1..5 exact, 6 = "6+") with session and event shares — the full
    * histogram behind [[bounceRate]]'s single size==1 number (two
    * surfaces with equal bounce can differ completely in whether
    * survivors go 2 events deep or 20). The event share shows where
    * the engagement mass actually sits.
    *
    * Shape: the one user_id exchange builds sessions; the rollup is
    * a ≤6-row grid with window-sum shares. */
  def sessionDepth(events: DataFrame, gapMinutes: Int): DataFrame = {
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    sessionRows(events, gapMinutes)
      .groupBy(col("user_id"), col("session_ix"))
      .agg(count(lit(1)).as("ne"))
      .groupBy(least(col("ne"), lit(6L)).as("depth_bucket"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("ne")).as("n_events"))
      .withColumn("session_share",
        col("n_sessions").cast("double") /
          sum(col("n_sessions")).over(wAll))
      .withColumn("event_share",
        col("n_events").cast("double") / sum(col("n_events")).over(wAll))
      .orderBy(col("depth_bucket"))
  }

  /** Session conversion per entry type: the share of sessions that
    * contain a `purchase` event, by the session's ENTRY type — the
    * money-complement of [[bounceRate]] (bounce says who left
    * immediately; this says which doors the buyers came through),
    * Wilson-bounded so a 2-session entry type can't top the ranking.
    *
    * Shape: the one user_id exchange builds sessions; the convert
    * flag is an in-aggregate max so no second pass; the rollup is an
    * entry-type grid and the bound is [[Ranking.wilsonLower]]. */
  def sessionConversion(events: DataFrame, gapMinutes: Int,
                        z: Double = 1.96): DataFrame = {
    val agg = sessionRows(events, gapMinutes, col("event_type"))
      .groupBy(col("user_id"), col("session_ix"))
      .agg(min(struct(col("tu").as("tu"), col("event_id").as("eid"),
        col("event_type").as("et"))).as("first"),
        max((col("event_type") === "purchase").cast("int"))
          .as("converted"))
      .select(col("first.et").as("entry_type"), col("converted"))
      .groupBy(col("entry_type"))
      .agg(count(lit(1)).as("n_sessions"),
        count(when(col("converted") === 1, 1)).as("n_converting"))
    Ranking.wilsonReport(agg, Seq("entry_type"), "n_sessions", "n_converting",
      "conversion_rate", z)
  }

  /** Session-duration distribution per entry type: wall-clock length
    * of each session (first→last event, floored to integer seconds)
    * rolled up by the session's ENTRY event type — the "how long do
    * visits that start here last" table next to [[bounceRate]]'s
    * one-event share (a landing page can have a fine bounce rate and
    * still lose everyone 30 seconds in). Includes p95 because
    * session-length tails are where abuse and stuck clients live.
    *
    * Shape: the one user_id exchange builds sessions; durations are
    * integer seconds so the corpus collapses onto the (entry_type ×
    * dur_s) grid and the exact percentiles run WITH FREQUENCIES (the
    * q_event_gaps contract); mean = exact bigint Σ(dur·cnt) with one
    * division last. Entry type is min(struct(tu, event_id, type)) —
    * deterministic under the session's total event order. */
  def sessionDuration(events: DataFrame, gapMinutes: Int): DataFrame = {
    sessionRows(events, gapMinutes, col("event_type"))
      .groupBy(col("user_id"), col("session_ix"))
      .agg(min(struct(col("tu").as("tu"), col("event_id").as("eid"),
        col("event_type").as("et"))).as("first"),
        min(col("tu")).as("lo"), max(col("tu")).as("hi"))
      .select(col("first.et").as("entry_type"),
        expr("(hi - lo) div 1000000").as("dur_s"))
      .groupBy(col("entry_type"), col("dur_s"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("entry_type"))
      .agg(sum(col("cnt")).as("n_sessions"),
        sum(col("dur_s") * col("cnt")).as("sum_s"),
        expr("percentile(dur_s, array(0.25D, 0.5D, 0.75D, 0.95D), cnt)")
          .as("ps"))
      .select(col("entry_type"), col("n_sessions"),
        (col("sum_s").cast("double") / col("n_sessions")).as("mean_s"),
        element_at(col("ps"), 1).as("p25_s"),
        element_at(col("ps"), 2).as("p50_s"),
        element_at(col("ps"), 3).as("p75_s"),
        element_at(col("ps"), 4).as("p95_s"))
      .orderBy(col("entry_type"))
  }

  /** Hourly session-concurrency curve: for every hour between the
    * first session start and the last session end, how many sessions
    * started, how many ended (their LAST event's hour), and how many
    * were active at some point in the hour — the capacity-planning
    * series ("what does peak look like, and when") that per-day
    * volume rollups flatten away. A session is active in hour h iff
    * start_hour ≤ h ≤ end_hour.
    *
    * Shape: the [[backlog]] difference-array discipline on the
    * events table — the session aggregate collapses the corpus to
    * per-session (start_hour, end_hour), two hour-grain delta
    * frames, a dense hour spine, and active = cum(started) −
    * cum(ended) + ended(h) as two running sums over the |hours| grid
    * (tens of thousands of rows at ANY corpus size, so the
    * unpartitioned window is safe by construction). */
  def concurrency(events: DataFrame, gapMinutes: Int): DataFrame = {
    // persisted: started/ended/spine all read it — unpersisted, each
    // branch re-runs the session windows end-to-end
    val sh = sessionRows(events, gapMinutes)
      .groupBy(col("user_id"), col("session_ix"))
      .agg(min(col("ts")).as("s"), max(col("ts")).as("e"))
      .select(date_trunc("hour", col("s")).as("sh"),
        date_trunc("hour", col("e")).as("eh"))
      .transform(graft.Caches.hold)
    val started = sh.groupBy(col("sh").as("hour"))
      .agg(count(lit(1)).as("n_started"))
    val ended = sh.groupBy(col("eh").as("hour"))
      .agg(count(lit(1)).as("n_ended"))
    val spine = sh.agg(min(col("sh")).as("lo"), max(col("eh")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"),
        expr("interval 1 hour"))).as("hour"))
    val w = Window.orderBy(col("hour"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(started, Seq("hour"), "left")
      .join(ended, Seq("hour"), "left")
      .withColumn("n_started", coalesce(col("n_started"), lit(0L)))
      .withColumn("n_ended", coalesce(col("n_ended"), lit(0L)))
      .withColumn("active_sessions",
        sum(col("n_started")).over(w) - sum(col("n_ended")).over(w) +
          col("n_ended"))
      .orderBy(col("hour"))
  }

  /** Position-based (U-shaped) multi-touch attribution — the third
    * member of the family: the FIRST and LAST touches before a
    * purchase take 40% each and the middle touches share the
    * remaining 20% (one touch takes all; two split evenly) — the
    * marketer's discover-and-close model next to equal-split and
    * time-decay. Positions come from a per-purchase rank over
    * (ts, exposure id) — partitions bounded by touches-per-window,
    * never corpus-sized. Credits stay INTEGER micro-cents with the
    * family's div discipline (each CASE arm replayed verbatim), so
    * channel sums are exact in any summation order. Pairs come from
    * [[attributionPairs]]; unattributed purchases land in `(none)` at
    * full value through [[splitReport]], whose credit count here is
    * the touch count. */
  def attributionUShaped(events: DataFrame, windowDays: Int): DataFrame = {
    val (purchases, pairs) = attributionPairs(events, windowDays)
    val w = Window.partitionBy(col("purchase_id"))
    val pc = pairs
      .select(col("purchase_id"), col("cents"), col("channel"),
        col("ts"), col("touch_id"))
      .withColumn("pos", row_number().over(
        w.orderBy(col("ts"), col("touch_id"))))
      .withColumn("n", count(lit(1)).over(w))
    val total = col("cents") * 1000000L
    val credited = pc.select(col("channel"), lit(1L).as("k"),
      when(col("n") === 1, total)
        .when(col("n") === 2, expr("(cents * 1000000 * 50) div 100"))
        .when(col("pos") === 1 || col("pos") === col("n"),
          expr("(cents * 1000000 * 40) div 100"))
        .otherwise(expr("((cents * 1000000 * 20) div 100) div (n - 2)"))
        .as("credit"))
    splitReport(purchases, pc, credited, count(lit(1)))
  }
}
