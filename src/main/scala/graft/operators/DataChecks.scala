package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, TimestampType}

/** Structural failure of a QA input — the engine's analog of the
  * reference's DataException
  * (/root/reference/dataQA/dataExceptions.py:4-16): raised when a
  * table is missing required columns or the timestamp column has the
  * wrong type, i.e. when running the QA would produce garbage rather
  * than a diff.
  */
class GraftDataException(msg: String) extends RuntimeException(msg)

/** Schema preflight + threshold-exceedance flagging for QA tables.
  *
  * Semantics: /root/reference/dataQA/dailyQA.py:131-147 (`check_cols`
  * raises DataException for missing date/impressions/timestamp
  * columns) and dailyQAHelpers.py:31-41 (`check_timestamp` validates
  * the column type). The reference surfaces bad rows by writing the
  * error out for a human (dataExceptions.write_out); the Spark-native
  * form is [[flagExceedances]] — a distributed filter producing the
  * offending rows themselves, which scales to any QA table size and
  * can feed an alerting sink directly.
  */
object DataChecks {

  /** Preflight: every `required` column must exist, else a
    * [[GraftDataException]] naming the missing ones (analysis-time,
    * before any job runs). */
  def requireColumns(df: DataFrame, required: Seq[String], context: String): Unit = {
    val have = df.columns.toSet
    val missing = required.filterNot(have)
    if (missing.nonEmpty)
      throw new GraftDataException(
        s"$context: missing required column(s) ${missing.mkString(", ")}; " +
          s"present: ${df.columns.mkString(", ")}")
  }

  /** Preflight: `column` must be a timestamp or date (the reference's
    * check_timestamp, raised when an hour shift is requested on a
    * non-timestamp column). */
  def requireTimeColumn(df: DataFrame, column: String, context: String): Unit = {
    requireColumns(df, Seq(column), context)
    df.schema(column).dataType match {
      case TimestampType | DateType => ()
      case other =>
        throw new GraftDataException(
          s"$context: column $column must be timestamp/date, is ${other.simpleString}")
    }
  }

  /** The reference's dataExceptions.write_out
    * (/root/reference/dataQA/dataExceptions.py:18-23): when QA cannot
    * run, the output artifact is a one-line error file rather than
    * nothing — downstream consumers see WHY there is no table instead
    * of a missing path. */
  def writeErrorOut(spark: org.apache.spark.sql.SparkSession,
                    message: String, path: String): Unit = {
    import spark.implicits._
    Seq(message).toDF("error")
      .coalesce(1).write.mode("overwrite").option("header", "true").csv(path)
  }

  /** Rows of a QA diff table whose |pct_diff| exceeds `tolerance`,
    * with the exceedance magnitude and the applied tolerance attached.
    * NULL pct_diff (no ad-side rows) never flags — absence is a
    * different failure than divergence. */
  def flagExceedances(qa: DataFrame, tolerance: Double): DataFrame = {
    requireColumns(qa, Seq("pct_diff"), "flagExceedances")
    qa.where(abs(col("pct_diff")) > tolerance)
      .withColumn("abs_pct_diff", abs(col("pct_diff")))
      .withColumn("tolerance", lit(tolerance))
  }

  /** Column profile (the describe-table QA step): one row per profiled
    * column with exact row/null/distinct counts, numeric min/max/mean
    * (mean rounded to 2 — distributed float sums are order-dependent
    * in the last bits) and string min/max.
    *
    * Shape: one `groupBy(column)` per profiled column over a
    * COLUMN-PRUNED scan, all stats derived from the per-value counts
    * in a second tiny aggregate, results unioned into the long output.
    * On columnar storage this beats the single-scan alternative
    * (mixed distinct aggregates = Expand: every row duplicated once
    * per column, then a sort-aggregate over the multiplied rows —
    * measured 5× slower at sf0.1 despite scanning once): each leg
    * reads ONE column's pages and stays a two-phase hash aggregate
    * with map-side partials. Exact distinct is a deliberate choice
    * over approx_count_distinct: profiles feed QA gates, and an HLL
    * estimate that drifts between runs would flag phantom changes.
    * Mean is the value-weighted sum over distinct values (replayed
    * identically by the oracle), so no second raw-row pass is needed. */
  /** Categorical-mix drift between a baseline and a current snapshot:
    * per category value, the counts, each snapshot's share, the share
    * delta, and the chi-square contribution (delta² / base share) —
    * the per-category pieces of a population-stability / chi² drift
    * test, emitted per row so a QA gate can flag WHICH category moved,
    * not just a scalar. Categories present on one side only survive
    * the full-outer join with count 0; a brand-new category has no
    * base share, so its chi² term is NULL by the nullif guard (flag
    * "new category" upstream, don't divide by zero). Every share is a
    * single exact IEEE division of integer counts and the delta/chi²
    * derive from those — engine-portable with no rounding. Plan: one
    * hash aggregate per side on the (low-cardinality) category — the
    * ONLY scans of each snapshot — a full-outer join of two
    * category-sized frames, and totals as unbounded windows over the
    * joined frame (category-sized: the single-partition WindowExec is
    * bounded by the dim cardinality, never by the snapshots; deriving
    * totals from separate aggregates would scan each snapshot twice). */
  def distributionDrift(baseline: DataFrame, current: DataFrame,
                        dim: String): DataFrame = {
    def cnt(df: DataFrame, n: String) =
      df.groupBy(col(dim)).agg(count(lit(1)).as(n))
    val all = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    cnt(baseline, "n_base").join(cnt(current, "n_cur"), Seq(dim), "full_outer")
      .na.fill(0L, Seq("n_base", "n_cur"))
      .withColumn("tot_b", sum(col("n_base")).over(all))
      .withColumn("tot_c", sum(col("n_cur")).over(all))
      .withColumn("share_base",
        col("n_base").cast("double") / nullif(col("tot_b"), lit(0L)))
      .withColumn("share_cur",
        col("n_cur").cast("double") / nullif(col("tot_c"), lit(0L)))
      .withColumn("share_delta", col("share_cur") - col("share_base"))
      .withColumn("chi2_term",
        col("share_delta") * col("share_delta") /
          nullif(col("share_base"), lit(0.0)))
      .select(col(dim), col("n_base"), col("n_cur"), col("share_base"),
        col("share_cur"), col("share_delta"), col("chi2_term"))
      .orderBy(col(dim))
  }

  /** Per-source length-distribution shift: the two-sample
    * Kolmogorov–Smirnov distance between each source's doc-length
    * distribution and the REST of the corpus — the detector for "this
    * source started sending truncated/concatenated docs" that
    * count-based QA can't see (volume unchanged, shape shifted).
    * Lengths bucket row-locally on a fixed integer grid (width ·
    * nbuckets, overflow clamped), so the only corpus-sized work is
    * ONE (source, bucket) hash aggregate; the KS scan then runs on
    * the sources × buckets grid (hundreds of rows at any scale) via
    * cumulative windows — each source's CDF against the
    * complement's, D = max |F_src − F_rest| over the grid, exact
    * because stepwise CDFs attain their sup on bucket edges. Every
    * share is one integer-to-double division; max is
    * order-independent — engine-portable. A single-source corpus has
    * no complement: NULL ks. NULL text is excluded (length is
    * undefined, not zero). */
  def sourceDrift(docs: DataFrame, bucketWidth: Int = 50,
                  nbuckets: Int = 40): DataFrame = {
    // persisted: the global, per-source and grid legs all read this
    // sources×buckets frame — without it each leg re-scans the corpus
    // (cache lifetime is caller-owned, like the other shared frames)
    val sb = docs.where(col("text").isNotNull)
      .select(col("source"),
        least(expr(s"CAST(length(text) AS BIGINT) div $bucketWidth"),
          lit(nbuckets.toLong)).as("bucket"))
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .transform(graft.Caches.hold)
    val g = sb.groupBy(col("bucket")).agg(sum(col("cnt")).as("gcnt"))
    val srcs = sb.groupBy(col("source")).agg(sum(col("cnt")).as("stot"))
    val cum = Window.partitionBy(col("source")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    srcs.crossJoin(g.select(col("bucket"), col("gcnt")))
      .join(sb, Seq("source", "bucket"), "left")
      .na.fill(0L, Seq("cnt"))
      .withColumn("gtot", sum(col("gcnt")).over(
        Window.partitionBy(col("source"))))
      .withColumn("scum", sum(col("cnt")).over(cum))
      .withColumn("gcum", sum(col("gcnt")).over(cum))
      .withColumn("term", abs(
        col("scum").cast("double") / nullif(col("stot"), lit(0L)) -
          (col("gcum") - col("scum")).cast("double") /
            nullif(col("gtot") - col("stot"), lit(0L))))
      .groupBy(col("source"))
      .agg(max(col("stot")).as("n_docs"), max(col("term")).as("ks_vs_rest"))
      .orderBy(col("source"))
  }

  /** Deterministic late-arrival planting — the oracle fixture for
    * [[oooAudit]] (the synthetic feed is perfectly ordered, so an
    * unplanted audit would be an all-zero gate): every
    * event_id % 101 == 7 event's timestamp shifts back 1–7 minutes
    * (by event_id % 7), mirrored by integer epoch arithmetic in the
    * oracle SQL. */
  def plantLate(events: DataFrame): DataFrame =
    events.withColumn("ts",
      when(pmod(col("event_id"), lit(101)) === 7,
        timestamp_micros(unix_micros(col("ts")) -
          (lit(1) + pmod(col("event_id"), lit(7))) * 60000000L))
        .otherwise(col("ts")))

  /** Out-of-order-arrival audit — the measurement a watermark delay
    * should be SIZED from instead of folklore: treating `event_id` as
    * arrival order, each event's lateness is how far its event time
    * sits behind the maximum event time that already arrived (the
    * frontier a streaming watermark tracks); per event type the report
    * gives the out-of-order count/fraction, the worst lateness, and
    * how many events each candidate watermark delay in `delaysSec`
    * would drop. Read it as: pick the smallest delay whose drop count
    * you can live with.
    *
    * The running frontier is a prefix max over arrival order — the
    * textbook single-reducer window. Here it is a two-phase scan over
    * ROW-LOCAL arrival buckets (`event_id div bucketSize` — no
    * RangePartitioner sampling, no spark_partition_id, AQE-proof):
    * a strict-prefix max within each bucket (one balanced hash
    * exchange, the only corpus-sized shuffle), then each bucket's
    * exclusive offset from a (n/bucketSize)-row cumulative window,
    * broadcast back. Size bucketSize so the bucket count stays ~10⁵–6
    * at the target corpus (a third level generalizes). The result is
    * bucket-boundary-independent (prefix max is associative), which
    * is what lets the oracle replay it as one flat global window.
    * Lateness is exact integer microseconds; the fraction is the one
    * final division. */
  def oooAudit(events: DataFrame,
               delaysSec: Seq[Int] = Seq(60, 300, 3600),
               bucketSize: Long = 1L << 16): DataFrame = {
    // persisted: the offsets leg re-reads the bucketed frame (caller
    // owns the lifetime)
    val parts = events
      .select(col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("tu"))
      .withColumn("bkt", expr(s"event_id div ${bucketSize}L"))
      .transform(graft.Caches.hold)
    val wLocal = Window.partitionBy(col("bkt")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // n/bucketSize rows — the only cross-bucket step
    val wOff = Window.orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = parts.groupBy(col("bkt")).agg(max(col("tu")).as("bmax"))
      .withColumn("prev_max", max(col("bmax")).over(wOff))
      .select(col("bkt"), col("prev_max"))
    val lateAggs = delaysSec.map(d =>
      sum((col("late_us") > d * 1000000L).cast("bigint"))
        .as(s"n_late_${d}s"))
    val aggs = Seq(count(lit(1)).as("n_events"),
      sum((col("late_us") > 0).cast("bigint")).as("n_ooo"),
      (max(col("late_us")).cast("double") / 1000000.0)
        .as("max_late_s")) ++ lateAggs
    parts.join(broadcast(offsets), Seq("bkt"))
      // greatest skips NULLs: rows of the first bucket have no offset
      // and its first row no local prefix -> NULL frontier -> not late
      .withColumn("pfx",
        greatest(max(col("tu")).over(wLocal), col("prev_max")))
      .withColumn("late_us",
        when(col("pfx").isNull || col("pfx") <= col("tu"), 0L)
          .otherwise(col("pfx") - col("tu")))
      .groupBy(col("event_type"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("ooo_frac",
        col("n_ooo").cast("double") / col("n_events"))
      .orderBy(col("event_type"))
  }

  /** Watermark recommendation from the out-of-order audit: per event
    * type, the SMALLEST candidate delay whose predicted drop rate is
    * ≤ `targetPm` per-mille — the number a streaming job should set
    * as its `withWatermark` delay instead of folklore. The audit's
    * per-row lateness (frontier − event time, arrival order =
    * event_id) predicts streaming drops EXACTLY: Spark's watermark at
    * any row is (max event time already arrived − delay) and late
    * filtering is strict (`ts < watermark` drops), which is precisely
    * `late_us > delay` — StreamingSpec proves the streamed drop count
    * equals `pred_dropped` row for row. Types where no candidate
    * meets the target come back with NULL recommendation (the honest
    * answer: raise the candidate list or the target, or fix the
    * feed). Integer cross-multiplication (dropped·1000 ≤ target·n)
    * keeps selection exact in both engines; the one division is the
    * reported rate. Consumers: [[graft.streaming.EventStream]]'s
    * watermarked ops (`windowedCounts`, `dedupByFingerprint`,
    * `dailyActive`, `transitionCounts`) — size their delay from this
    * report's `recommended_delay_s` for the measured feed. */
  def watermarkRecommendation(events: DataFrame,
                              delaysSec: Seq[Int] = Seq(60, 300, 3600),
                              targetPm: Int = 5): DataFrame = {
    require(delaysSec.nonEmpty && delaysSec == delaysSec.sorted,
      "delaysSec must be ascending")
    def ok(d: Int) =
      col(s"n_late_${d}s") * 1000L <= lit(targetPm.toLong) * col("n_events")
    oooAudit(events, delaysSec)
      .select(col("event_type"), col("n_events"), col("n_ooo"),
        coalesce(delaysSec.map(d => when(ok(d), lit(d))): _*)
          .as("recommended_delay_s"),
        coalesce(delaysSec.map(d => when(ok(d), col(s"n_late_${d}s"))): _*)
          .as("pred_dropped"))
      .withColumn("pred_drop_rate",
        col("pred_dropped").cast("double") / col("n_events"))
      .orderBy(col("event_type"))
  }

  /** Declarative data-quality rule engine: each rule is a boolean
    * Column a row should satisfy; the report is one row per rule with
    * the violation count and rate — the generic contract behind every
    * "expectations" suite (not-null, range, domain, referential
    * checks), where [[preflight]] hard-codes one schema's checks. A
    * NULL predicate result counts as a violation (a rule that can't
    * evaluate didn't pass — the Kleene middle is not a pass).
    *
    * Shape: ONE scan with a single map-side-combining aggregate
    * computing every rule's violation sum at once (k rules = k
    * conditional sums in one pass, not k scans); the explode back to
    * rule rows fans out a 1-row frame. Violation rate is one exact
    * bigint division. */
  def ruleCheck(df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "ruleCheck needs at least one rule")
    val aggs = count(lit(1)).as("n_rows") +:
      rules.zipWithIndex.map { case ((_, pred), i) =>
        sum((!coalesce(pred, lit(false))).cast("bigint")).as(s"v_$i")
      }
    val structs = rules.zipWithIndex.map { case ((name, _), i) =>
      struct(lit(name).as("rule"), col(s"v_$i").as("n_violations"))
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(col("n_rows"), explode(array(structs: _*)).as("r"))
      .select(col("r.rule").as("rule"), col("n_rows"),
        col("r.n_violations").as("n_violations"),
        (col("r.n_violations").cast("double") / col("n_rows"))
          .as("violation_rate"))
      .orderBy(col("rule"))
  }

  /** Per-type volume trend: the least-squares slope (and intercept) of
    * daily event counts against the day index — the one-number answer
    * to "is this event type growing or decaying, and how fast", the QA
    * gate that catches a feed ramping down long before an absolute
    * threshold trips. Closed-form regression over integer moments: the
    * corpus collapses to (type, day) counts in one hash aggregate, the
    * day index is days since the corpus's first active day (a
    * broadcast 1-row min, never a driver collect), and slope =
    * (nΣxy − ΣxΣy) / (nΣx² − (Σx)²) with every moment an exact bigint
    * sum — ONE final float division each for slope and intercept, so
    * the oracle replays bit-identically. A single-day type has zero
    * x-variance: slope and intercept are NULL, not a crash. */
  def dailyTrend(events: DataFrame): DataFrame = {
    // persisted: the day-0 origin leg would otherwise re-run the event
    // scan + daily aggregate (caller owns the lifetime)
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
      .transform(graft.Caches.hold)
    val origin = daily.agg(min(col("day")).as("day0"))
    daily.crossJoin(broadcast(origin))
      .withColumn("x", datediff(col("day"), col("day0")).cast("bigint"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .withColumn("slope_per_day",
        (col("n_days") * col("sxy") - col("sx") * col("sy")).cast("double") /
          nullif(col("n_days") * col("sxx") - col("sx") * col("sx"),
            lit(0L)))
      .withColumn("intercept",
        (col("sy").cast("double") - col("slope_per_day") * col("sx")) /
          col("n_days"))
      .select(col("event_type"), col("n_days"), col("sy").as("n_events"),
        col("slope_per_day"), col("intercept"))
      .orderBy(col("event_type"))
  }

  /** Fixed-width histogram of `valueCol` per `dim` value: bin index
    * (−1 = underflow, `nbins` = overflow), bin bounds (NULL on the
    * open under/overflow edges), count and within-dim share — the
    * numeric-distribution QA snapshot next to [[distributionDrift]]'s
    * categorical one. Binning is a row-local floor over literal
    * bounds, so the whole operator is ONE hash aggregate on the
    * (dim, bin) pair — map-side partials collapse each partition to
    * ≤ dims×(nbins+2) rows before the only shuffle — plus a
    * dim-partitioned window over the (tiny) binned frame for totals.
    * Shares are single exact IEEE divisions of bigint counts. */
  def histogram(df: DataFrame, valueCol: String, dim: String,
                lo: Double, width: Double, nbins: Int): DataFrame = {
    require(width > 0 && nbins > 0,
      s"need width > 0 and nbins > 0, got width=$width nbins=$nbins")
    val v = col(valueCol)
    val bin = when(v < lo, lit(-1))
      .otherwise(least(floor((v - lo) / width), lit(nbins.toLong)))
      .cast("int")
    val wd = Window.partitionBy(col(dim))
    df.where(v.isNotNull)
      .select(col(dim), bin.as("bin"))
      .groupBy(col(dim), col("bin"))
      .agg(count(lit(1)).as("n"))
      .withColumn("bin_lo",
        when(col("bin") >= 0, lit(lo) + col("bin") * lit(width)))
      .withColumn("bin_hi",
        when(col("bin") < nbins, lit(lo) + (col("bin") + 1) * lit(width)))
      .withColumn("share",
        col("n").cast("double") / sum(col("n")).over(wd))
      .select(col(dim), col("bin"), col("bin_lo"), col("bin_hi"),
        col("n"), col("share"))
      .orderBy(col(dim), col("bin"))
  }

  /** Trailing-window anomaly flags on the daily event counts: for each
    * (event_type, date), the day's count is tested against the mean
    * and variance of the PRECEDING `windowDays` calendar days (RANGE
    * frame over the integer day number — absent days shrink the
    * baseline rather than silently widening it, and the current day
    * never contaminates its own baseline). A day flags when
    * (x − μ)² > k²·σ² with at least `minDays` baseline days — the
    * z-score test cleared of divisions: both sides are scaled by n²
    * ((n·x − S)² > k²·(n·SS − S²)) so the inputs stay integer sums.
    * The products are evaluated in double — exact below 2^53, i.e.
    * for any daily count under ~94M in a 7-day window; the oracle
    * replays the identical expression tree so the gate compares
    * bit-identically, and a 100 TB deployment past that bound trades
    * only last-bit rounding in a statistical threshold.
    *
    * Shape: one map-side-combine hash aggregate to daily grain (the
    * only full-data exchange), then windows over the (types × days)
    * daily frame. */
  def anomalyFlags(events: DataFrame, windowDays: Int = 7, k: Int = 3,
                   minDays: Int = 4): DataFrame = {
    val daily = events
      .groupBy(to_date(col("ts")).as("date"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("day_num", datediff(col("date"), lit("1970-01-01")))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day_num"))
      .rangeBetween(-windowDays, -1)
    val x = col("n_events").cast("double")
    val n = col("base_days").cast("double")
    val s = col("base_sum").cast("double")
    val ss = col("base_sumsq").cast("double")
    val dev = n * x - s
    daily
      .withColumn("base_days", count(col("n_events")).over(w))
      // empty baseline sums are 0, not NULL — the warmup rows carry
      // honest zeros and the streaming twin agrees bit-for-bit
      .withColumn("base_sum",
        coalesce(sum(col("n_events")).over(w), lit(0L)))
      .withColumn("base_sumsq",
        coalesce(sum(col("n_events") * col("n_events")).over(w), lit(0L)))
      .withColumn("is_anomaly",
        when(col("base_days") < minDays, lit(false))
          .otherwise(dev * dev > lit(k.toDouble * k) * (n * ss - s * s)))
      .select(col("date"), col("event_type"), col("n_events"),
        col("base_days"), col("base_sum"), col("is_anomaly"))
      .orderBy(col("date"), col("event_type"))
  }

  /** Referential-coverage QA: per event type, how many fact rows have
    * a key in `universe` and how many are orphans (no matching
    * universe row) — the reference gates metrics on a matched-universe
    * semi-join (/root/reference/metrics/lib/hh_before_after.py:33-35);
    * this is the audit that says what that gate would DROP, per
    * category, before anyone runs it. Universe keys are deduped first
    * (a duplicated dimension row must not double-count facts), the
    * join is a plain equi-join on the key (shuffled or broadcast at
    * Spark's discretion — the universe side is dimension-sized), and
    * everything after is one hash aggregate on the low-cardinality
    * type. Shares are exact IEEE divisions of bigint counts. */
  def coverageCheck(facts: DataFrame, universe: DataFrame,
                    factKey: String, universeKey: String,
                    dim: String): DataFrame = {
    val keys = universe.select(col(universeKey).as(factKey)).distinct()
      .withColumn("matched", lit(1))
    facts.select(col(factKey), col(dim))
      .join(keys, Seq(factKey), "left_outer")
      .groupBy(col(dim))
      .agg(count(lit(1)).as("n_rows"),
        coalesce(sum(col("matched")), lit(0L)).as("n_matched"))
      .withColumn("n_orphans", col("n_rows") - col("n_matched"))
      .withColumn("orphan_share",
        col("n_orphans").cast("double") / col("n_rows"))
      .select(col(dim), col("n_rows"), col("n_matched"), col("n_orphans"),
        col("orphan_share"))
      .orderBy(col(dim))
  }

  /** Exact percentile bands of `valueCol` per `dim`: the quartile
    * summary QA publishes next to min/max/mean. Values are fixed to
    * integer cents (floor(v·100 + 0.5) — the data's native 2dp grain)
    * BEFORE ranking: with integer inputs and dyadic probabilities
    * (quarters), every interpolation any engine computes is EXACT, so
    * the oracle compares bit-identically where raw-double
    * interpolation would differ in the last ULP by formula shape. The
    * final /100 back to display units is one identical IEEE division
    * on both sides. Plan: one map-side-combine aggregate to
    * (dim, cents) grain — the only full-data shuffle — then Spark's
    * frequency-weighted percentile over the per-value counts
    * (probe-verified bit-equal to quantile_cont over raw rows; see
    * [[profile]]). Buffer is O(distinct cents) per dim; at extreme
    * scale substitute approx_percentile and drop the oracle to
    * rows-only. */
  def percentileBands(df: DataFrame, valueCol: String,
                      dim: String): DataFrame = {
    val cents = floor(col(valueCol) * 100 + lit(0.5)).cast("long")
    df.where(col(valueCol).isNotNull)
      .select(col(dim), cents.as("c"))
      .groupBy(col(dim), col("c"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col(dim))
      .agg(sum(col("cnt")).as("n_rows"),
        expr("percentile(c, array(0.25D, 0.5D, 0.75D), cnt)").as("ps"))
      .select(col(dim), col("n_rows"),
        (element_at(col("ps"), 1) / 100.0).as("p25"),
        (element_at(col("ps"), 2) / 100.0).as("p50"),
        (element_at(col("ps"), 3) / 100.0).as("p75"))
      .orderBy(col(dim))
  }

  /** Winsorization QA: per `dim`, the outlier-clipping summary — cut
    * points, how many rows each tail clips, and the mean before/after
    * clipping. Cuts are the DYADIC percentiles 1/16 and 15/16 on the
    * integer cent grid: with integer inputs and dyadic probabilities
    * every interpolation is exact (same contract as
    * [[percentileBands]]), clipped values land on the 2⁻⁴-cent grid,
    * and their sums stay far under 2⁵³ — so means are order-independent
    * and the oracle compares bit-identically. Plan: ONE map-side-
    * combine aggregate to (dim, cents) grain is the only full-data
    * shuffle; cuts come from the frequency-weighted percentile over
    * that grain and rejoin it via broadcast (dims are tiny), so the
    * clip statistics never touch raw rows a second time. */
  def winsorize(df: DataFrame, valueCol: String, dim: String): DataFrame = {
    val cents = floor(col(valueCol) * 100 + lit(0.5)).cast("long")
    val cg = df.where(col(valueCol).isNotNull)
      .select(col(dim), cents.as("c"))
      .groupBy(col(dim), col("c"))
      .agg(count(lit(1)).as("cnt"))
    val cuts = cg.groupBy(col(dim))
      .agg(sum(col("cnt")).as("n_rows"),
        expr("percentile(c, array(0.0625D, 0.9375D), cnt)").as("ps"))
      .select(col(dim), col("n_rows"),
        element_at(col("ps"), 1).as("lo_c"),
        element_at(col("ps"), 2).as("hi_c"))
    cg.join(broadcast(cuts), Seq(dim))
      .groupBy(col(dim), col("n_rows"), col("lo_c"), col("hi_c"))
      .agg(
        sum(when(col("c") < col("lo_c"), col("cnt")).otherwise(0L))
          .as("n_clip_lo"),
        sum(when(col("c") > col("hi_c"), col("cnt")).otherwise(0L))
          .as("n_clip_hi"),
        sum(col("c") * col("cnt")).as("sum_c"),
        sum(greatest(col("lo_c"),
          least(col("hi_c"), col("c").cast("double"))) * col("cnt"))
          .as("sum_clip"))
      .select(col(dim), col("n_rows"),
        (col("lo_c") / 100.0).as("lo_cut"),
        (col("hi_c") / 100.0).as("hi_cut"),
        col("n_clip_lo"), col("n_clip_hi"),
        (col("sum_c").cast("double") / col("n_rows") / 100.0)
          .as("mean_before"),
        (col("sum_clip") / col("n_rows") / 100.0).as("mean_after"))
      .orderBy(col(dim))
  }

  /** Row-level diff between two keyed snapshots: per key, whether the
    * row was `added`, `removed`, or `changed` (with the comma-joined
    * names of the columns that differ — NULL-safe comparison, so a
    * NULL→value flip counts as a change, not a crash). Unchanged rows
    * are NOT emitted: at 100 TB the diff is the small artifact, the
    * snapshots are the big ones. The reconciliation QA behind
    * "yesterday's dim table vs today's" — [[distributionDrift]] says
    * the mix moved, this says which rows. One full-outer shuffle join
    * on the key; the status/changed-cols logic is row-local. Callers
    * must pass key-unique snapshots (dimension contract). */
  def tableDiff(before: DataFrame, after: DataFrame, key: String,
                cols: Seq[String]): DataFrame = {
    val o = before.select((key +: cols).map(c => col(c).as(s"o_$c")): _*)
    val n = after.select((key +: cols).map(c => col(c).as(s"n_$c")): _*)
    val anyDiff = cols.map(c => !(col(s"o_$c") <=> col(s"n_$c")))
      .reduce(_ || _)
    val diffNames = cols.map(c =>
      when(!(col(s"o_$c") <=> col(s"n_$c")), lit(c)))
    o.join(n, col(s"o_$key") <=> col(s"n_$key"), "full_outer")
      .withColumn("status",
        when(col(s"o_$key").isNull, lit("added"))
          .when(col(s"n_$key").isNull, lit("removed"))
          .when(anyDiff, lit("changed"))
          .otherwise(lit("unchanged")))
      .where(col("status") =!= "unchanged")
      .withColumn("changed_cols",
        when(col("status") === "changed",
          concat_ws(",", diffNames: _*)))
      .select(coalesce(col(s"o_$key"), col(s"n_$key")).as(key),
        col("status"), col("changed_cols"))
      .orderBy(col(key))
  }

  /** Sketch-based percentile bands — the 100 TB path next to the exact
    * [[percentileBands]], the same pairing as exact reach vs
    * approxReach: approx_percentile's KLL-style sketch keeps
    * fixed-size mergeable state per dim (map-side combine; no
    * O(distinct-values) buffer), trading a bounded rank error
    * (≤ n/accuracy rows) for scale-independence. Engine-specific
    * sketch internals → rows-only gate; the spec bounds the estimates
    * against the exact operator instead. */
  def percentileBandsApprox(df: DataFrame, valueCol: String, dim: String,
                            accuracy: Int = 10000): DataFrame = {
    require(accuracy > 0, "accuracy must be positive")
    df.where(col(valueCol).isNotNull)
      .groupBy(col(dim))
      .agg(count(lit(1)).as("n_rows"),
        expr(s"approx_percentile($valueCol, array(0.25D, 0.5D, 0.75D), " +
          s"$accuracy)").as("ps"))
      .select(col(dim), col("n_rows"),
        element_at(col("ps"), 1).as("p25"),
        element_at(col("ps"), 2).as("p50"),
        element_at(col("ps"), 3).as("p75"))
      .orderBy(col(dim))
  }

  /** Value-domain size above which [[profile]]'s exact median switches
    * from the single-group `percentile(c, 0.5, cnt)` aggregate to the
    * distributed [[Ranking.interpolatedMedian]] crossing. Both replay
    * the identical double sequence (RankingSpec races them
    * bit-for-bit), so the switch can never change a result — it picks
    * the cheaper PLAN: below the knee, one task folding ≤2²⁰
    * (value, count) pairs beats the crossing's 5-stage chain (the
    * distributed form cost q_profile +1.8 s at sf0.1, where the
    * largest domain is 583k values); above it, the single-group
    * buffer is the hidden single reducer that spent 55 s on one task
    * at the 100× probe (l_orderkey: 15M distinct).
    *
    * The size probe is an EAGER action: [[profile]] runs one
    * `counts.count()` job per numeric column AT FRAME-CONSTRUCTION
    * time (and materializes the held counts cache the stats aggregate
    * then rides — the job is not an extra pass, but it IS a
    * laziness-semantics departure: building the profile frame
    * schedules work even if the frame is never executed, the same
    * trade [[graft.operators.NearDup.freshIncrementIndex]] makes for
    * its driver-side staleness verdict). The count includes the
    * null-value row, so a nullable column switches plans at 2²⁰ − 1
    * non-null values — one grid cell early, immaterial because both
    * plans are bit-equal and the knee is an order-of-magnitude
    * choice, not a boundary contract. */
  val MedianSingleTaskMax: Long = 1L << 20

  def profile(df: DataFrame, numCols: Seq[String],
              strCols: Seq[String],
              medianSingleTaskMax: Long = MedianSingleTaskMax): DataFrame = {
    requireColumns(df, numCols ++ strCols, "profile")
    val nullD = lit(null).cast("double")
    val nullS = lit(null).cast("string")
    def leg(c: String, isNum: Boolean): DataFrame = {
      // numeric legs: the counts frame feeds BOTH the stats aggregate
      // and the median chain — held so the value-grain groupBy runs
      // once (internal intermediate, scoped-cleanup-owned)
      val counts0 = df.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
      val counts = if (isNum) graft.Caches.hold(counts0) else counts0
      val typed =
        if (isNum) Seq(
          min(col(c)).cast("double").as("min_num"),
          max(col(c)).cast("double").as("max_num"),
          round(sum(col(c) * col("cnt")).cast("double") /
            sum(when(col(c).isNotNull, col("cnt"))).cast("double"), 2)
            .as("mean"))
        else Seq(
          min(col(c)).cast("string").as("min_str"),
          max(col(c)).cast("string").as("max_str"))
      val agged = counts.agg(
        sum(col("cnt")).as("n_rows"),
        (Seq(
          coalesce(sum(when(col(c).isNull, col("cnt"))), lit(0L)).as("n_nulls"),
          count(col(c)).as("n_distinct")) ++ typed): _*)
      // EXACT median from the (value, count) pairs — bit-equal to
      // percentile(c, 0.5, cnt), which quantile_cont over the raw
      // rows replays (probe-verified), so no second raw scan either.
      // Plan choice by value-domain size (see [[MedianSingleTaskMax]]):
      // the count() also materializes the held counts cache the stats
      // aggregate reads next, so it is not an extra pass.
      val agg2 =
        if (isNum) {
          val med =
            if (counts.count() <= medianSingleTaskMax)
              counts.agg(expr(s"CAST(percentile(`$c`, 0.5D, cnt) AS DOUBLE)")
                .as("p50"))
            else Ranking.interpolatedMedian(counts, c, "cnt")
          agged.crossJoin(broadcast(med))
        } else agged
      val out =
        if (isNum) Seq(col("min_num"), col("max_num"), col("mean"),
          col("p50"), nullS.as("min_str"), nullS.as("max_str"))
        else Seq(nullD.as("min_num"), nullD.as("max_num"), nullD.as("mean"),
          nullD.as("p50"), col("min_str"), col("max_str"))
      agg2.select(Seq(lit(c).as("col_name"), col("n_rows"),
        col("n_nulls"), col("n_distinct")) ++ out: _*)
    }
    (numCols.map(leg(_, isNum = true)) ++ strCols.map(leg(_, isNum = false)))
      .reduce(_.union(_))
      .orderBy(col("col_name"))
  }

  /** Join-cardinality audit between two tables on a shared key — the
    * preflight that predicts a join's output size and fan-out shape
    * BEFORE anyone runs it: per-key multiplicity on each side
    * (capped at `multCap` — the cap bucket reads "multCap or more"),
    * the key count per (left_mult, right_mult) cell, and the exact
    * join cardinality each cell contributes (Σ ln·rn). A (0, heavy)
    * cell is orphaned fan-out on the right; a (heavy, heavy) cell is
    * the m×n explosion that melts a shuffle at scale. The sibling of
    * [[orphanReport]] (which answers "who doesn't match") — this
    * answers "what happens when they DO match".
    *
    * Shape: one key-grain aggregate per side, one full-outer key join
    * of the two count frames, one ≤multCap²-row aggregate — the
    * corpus never moves except to its own key grain. */
  def fanoutAudit(left: DataFrame, right: DataFrame,
                  leftKey: String, rightKey: String,
                  multCap: Int = 8): DataFrame = {
    require(multCap > 0, "multCap must be positive")
    val la = left.groupBy(col(leftKey).as("k")).agg(count(lit(1)).as("ln"))
    val ra = right.groupBy(col(rightKey).as("k")).agg(count(lit(1)).as("rn"))
    la.join(ra, Seq("k"), "full_outer")
      .select(coalesce(col("ln"), lit(0L)).as("ln"),
        coalesce(col("rn"), lit(0L)).as("rn"))
      .groupBy(least(col("ln"), lit(multCap.toLong)).as("left_mult"),
        least(col("rn"), lit(multCap.toLong)).as("right_mult"))
      .agg(count(lit(1)).as("n_keys"),
        sum(col("ln")).as("left_rows"),
        sum(col("rn")).as("right_rows"),
        sum(col("ln") * col("rn")).as("join_rows"))
      .orderBy(col("left_mult"), col("right_mult"))
  }

  /** Chi-squared independence audit of event type × ISO weekday — the
    * "is traffic mix stable across the week" QA (a type whose share
    * spikes on one weekday has a scheduling bug or a bot, long before
    * any volume threshold trips). Emits the full contingency grid with
    * each cell's observed count, marginals, expected count under
    * independence, and chi² contribution — per-CELL terms, never a
    * cross-cell float total (a summed chi² would depend on the
    * engine's summation order; the caller can fold the ≤types×7 rows
    * in any fixed order it likes).
    *
    * Determinism: marginals are exact bigint sums; expected =
    * row·col/N and term = (n−e)²/e are pure scalar IEEE chains over
    * those integers (each step correctly rounded), so engine and
    * oracle agree bit-for-bit — (n−e)·(n−e) is used instead of pow(),
    * which is NOT correctly rounded on either engine. Shape: ONE
    * corpus aggregate to the (type, dow) grain; marginals and total
    * are grid-sized re-aggregates broadcast back. */
  def chi2Independence(events: DataFrame): DataFrame = {
    // persisted: the marginal legs would otherwise re-run the corpus
    // scan + aggregate (caller owns the lifetime)
    val obs = events
      .select(col("event_type"), (weekday(col("ts")) + 1).as("dow"))
      .groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n"))
      .transform(graft.Caches.hold)
    val rowT = obs.groupBy(col("event_type")).agg(sum(col("n")).as("row_n"))
    val colT = obs.groupBy(col("dow")).agg(sum(col("n")).as("col_n"))
    val tot = obs.agg(sum(col("n")).as("total"))
    obs.join(broadcast(rowT), "event_type")
      .join(broadcast(colT), "dow")
      .crossJoin(broadcast(tot))
      .withColumn("expected",
        col("row_n").cast("double") * col("col_n") / col("total"))
      .withColumn("chi2_term",
        (col("n") - col("expected")) * (col("n") - col("expected")) /
          col("expected"))
      .select(col("event_type"), col("dow"), col("n"), col("row_n"),
        col("col_n"), col("expected"), col("chi2_term"))
      .orderBy(col("event_type"), col("dow"))
  }

  /** Lag-k autocorrelation of per-type daily volumes — the
    * seasonality detector that tells [[seasonalNaiveBacktest]] whether
    * a weekly lag is even the right model (acf(7) ≫ acf(1) means
    * weekly cadence; both ≈ 0 means white noise and no naive forecast
    * will work). Pearson r between (day t, day t−lag) count pairs,
    * computed only over day pairs where BOTH days exist (calendar
    * gaps shrink n_pairs rather than fabricating zeros — the
    * [[Temporal.gapFill]] spine is the explicit-zeros alternative).
    *
    * Shape: the corpus collapses to (type, day) counts once
    * (persisted); each requested lag is a shifted copy of that tiny
    * frame equi-joined back on (type, day) — the forecast-backtest
    * join pattern, exact on day arithmetic. Moments are exact bigint
    * sums; the r combination runs in double OFF the exact moments
    * (n·Σxy − …, each factor cast first — the bigint product would
    * overflow long before the moments themselves do), with zero
    * variance on either side yielding NULL, not a division error. */
  def autocorr(events: DataFrame, lags: Seq[Int] = Seq(1, 7)): DataFrame = {
    require(lags.nonEmpty && lags.forall(_ > 0) &&
      lags.distinct.size == lags.size,
      "lags must be positive and distinct")
    // persisted: every lag leg and the current-day side read it
    // (caller owns the lifetime)
    val daily = events
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("y"))
      .transform(graft.Caches.hold)
    val shifted = daily
      .select(col("event_type"),
        explode(array(lags.map(lit(_)): _*)).as("lag"),
        col("day"), col("y"))
      .select(col("event_type"), col("lag"),
        date_add(col("day"), col("lag")).as("day"), col("y").as("yp"))
    val m = daily.join(shifted, Seq("event_type", "day"))
      .groupBy(col("event_type"), col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("y")).as("sy"), sum(col("yp")).as("sx"),
        sum(col("y") * col("yp")).as("sxy"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("yp") * col("yp")).as("sxx"))
    val nD = col("n_pairs").cast("double")
    val num = nD * col("sxy") - col("sx").cast("double") * col("sy")
    val varx = nD * col("sxx") - col("sx").cast("double") * col("sx")
    val vary = nD * col("syy") - col("sy").cast("double") * col("sy")
    m.select(col("event_type"), col("lag"), col("n_pairs"),
      when(varx > 0 && vary > 0, num / sqrt(varx * vary)).as("acf"))
      .orderBy(col("event_type"), col("lag"))
  }

  /** Feed-freshness QA: per type, the event-time frontier, its lag
    * behind the corpus-wide frontier, and trailing activity counts —
    * the "is this feed still flowing" page-one check (a type whose
    * frontier lags days behind the others is stuck upstream long
    * before volume stats show it). Trailing windows are closed-corpus
    * — relative to the corpus frontier DAY, not wall clock — so the
    * report is deterministic and oracle-replayable; the lag is exact
    * integer microseconds with one integer division to seconds.
    *
    * Shape: ONE corpus aggregate to the (type, day) grain (count +
    * microsecond max per cell, persisted); the corpus frontier is a
    * broadcast 1-row max over that grain and every trailing count is
    * a conditional sum over it — the corpus never scans twice. */
  def freshness(events: DataFrame,
                trailDays: Seq[Int] = Seq(1, 7)): DataFrame = {
    require(trailDays.nonEmpty && trailDays.forall(_ > 0) &&
      trailDays.distinct.size == trailDays.size,
      "trailDays must be positive and distinct")
    // persisted: the as-of leg would otherwise re-run the corpus scan
    // (caller owns the lifetime)
    freshnessFromDaily(
      dailyTypeCounts(events).transform(graft.Caches.hold), trailDays)
  }

  /** The (type, day, n, max_us) aggregate of [[freshness]] — shared
    * with the streaming twin (`EventStream.dailyTypeCounts`), so
    * batch and stream roll the frontier identically by construction;
    * counts and maxima are mergeable. */
  private[graft] def dailyTypeCounts(events: DataFrame): DataFrame =
    events
      .select(col("event_type"), to_date(col("ts")).as("day"),
        unix_micros(col("ts")).as("tu"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"), max(col("tu")).as("max_us"))

  /** The daily-grid → freshness report stage of [[freshness]] — also
    * the batch finisher over the streaming twin's continuously-
    * maintained (type, day) table (grid-sized at any corpus size). */
  private[graft] def freshnessFromDaily(daily: DataFrame,
                                        trailDays: Seq[Int]): DataFrame = {
    val asOf = daily.agg(max(col("max_us")).as("as_of_us"),
      max(col("day")).as("as_of_day"))
    val trailAggs = trailDays.map(dd =>
      coalesce(sum(when(col("day") > date_sub(col("as_of_day"), dd),
        col("n"))), lit(0L)).as(s"n_${dd}d"))
    val aggs = Seq(sum(col("n")).as("n_events"),
      max(col("max_us")).as("last_us"),
      max(col("as_of_us")).as("as_of_us")) ++ trailAggs
    daily.crossJoin(broadcast(asOf))
      .groupBy(col("event_type"))
      .agg(aggs.head, aggs.tail: _*)
      .select(Seq(col("event_type"), col("n_events"),
        timestamp_micros(col("last_us")).as("last_ts"),
        expr("(as_of_us - last_us) div 1000000").as("lag_s")) ++
        trailDays.map(dd => col(s"n_${dd}d")): _*)
      .orderBy(col("event_type"))
  }

  /** Weekday seasonality index per type: each ISO weekday's mean
    * daily volume relative to the type's overall mean active-day
    * volume — the multiplicative profile ("Mondays run 1.4×") that
    * complements [[autocorr]] (detects THAT weekly cadence exists)
    * and [[seasonalNaiveBacktest]]'s lag model (assumes it). Means
    * divide exact bigint sums by exact active-day counts; the index
    * is the ratio of the two means — a fixed-shape correctly-rounded
    * chain, bit-portable. One corpus aggregate to the (type, day)
    * grain; the weekday and per-type rollups are grid-sized, the
    * type totals rejoin as a broadcast. */
  def seasonality(events: DataFrame): DataFrame = {
    // persisted: the per-type totals leg re-reads it (caller owns the
    // lifetime)
    val daily = events
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"))
      .transform(graft.Caches.hold)
    val byDow = daily
      .groupBy(col("event_type"), (weekday(col("day")) + 1).as("dow"))
      .agg(count(lit(1)).as("n_days"), sum(col("n")).as("n_events"))
    val totals = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("t_days"), sum(col("n")).as("t_events"))
    byDow.join(broadcast(totals), "event_type")
      .withColumn("mean_day", col("n_events").cast("double") / col("n_days"))
      .withColumn("idx", col("mean_day") /
        (col("t_events").cast("double") / col("t_days")))
      .select(col("event_type"), col("dow"), col("n_days"),
        col("n_events"), col("mean_day"), col("idx"))
      .orderBy(col("event_type"), col("dow"))
  }

  /** Classical additive seasonal decomposition of the per-type daily
    * series: n = trend + seasonal + residual — [[seasonality]] gives
    * the static weekday profile, this splits EVERY day's count into
    * the slow level (centered (2·half+1)-day RANGE mean), the weekday
    * effect (per (type, isodow) mean of the detrended series) and
    * what's left — the residual is the right input for outlier eyes
    * because a Friday spike on a growing series is invisible to both
    * the raw series (growth masks it) and the weekday profile
    * (Fridays are always high).
    *
    * Exactness contract: the trend is a single division of a bigint
    * window sum (full-coverage windows only — edge days report NULL
    * trend/seasonal/residual rather than a biased partial mean); the
    * detrended value is micro-quantized (floor(·10⁶ + ½) of an
    * identical-in-both-engines double) BEFORE the weekday averaging,
    * so the seasonal mean is a BIGINT sum with one division —
    * shuffle-order-exact — and the residual is defined against the
    * quantized detrended value (dt_micro/10⁶ − seasonal), a pure
    * function of already-identical doubles.
    *
    * Shape: one corpus aggregate to (type, day); the RANGE window,
    * the weekday grid aggregate and the broadcast seasonal join all
    * run on the types×days grid — thousands of rows at ANY corpus
    * size. */
  def seasonalDecompose(events: DataFrame, half: Int = 3): DataFrame = {
    require(half >= 1, s"need a positive half-window: $half")
    val width = 2 * half + 1
    val d = events
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("day_num", datediff(col("day"),
        lit("1970-01-01").cast("date")).cast("long"))
    val wC = Window.partitionBy(col("event_type")).orderBy(col("day_num"))
      .rangeBetween(-half, half)
    val framed = d
      .withColumn("w_days", count(col("n")).over(wC))
      .withColumn("w_sum", sum(col("n")).over(wC))
      .withColumn("trend",
        when(col("w_days") === width,
          col("w_sum").cast("double") / lit(width.toDouble)))
      .withColumn("dt_micro",
        floor((col("n").cast("double") - col("trend")) * lit(1000000.0) +
          lit(0.5)).cast("long"))
      .withColumn("dow", weekday(col("day")) + 1)
      .transform(graft.Caches.hold)
    val seas = framed.where(col("dt_micro").isNotNull)
      .groupBy(col("event_type"), col("dow"))
      .agg(sum(col("dt_micro")).as("s_sum"),
        count(lit(1)).as("s_days"))
      .select(col("event_type"), col("dow"),
        (col("s_sum").cast("double") / col("s_days") / lit(1000000.0))
          .as("seasonal_all"))
    framed.join(broadcast(seas), Seq("event_type", "dow"), "left")
      .select(col("event_type"), col("day"), col("dow"), col("n"),
        col("trend"),
        when(col("trend").isNotNull, col("seasonal_all")).as("seasonal"),
        when(col("trend").isNotNull,
          col("dt_micro").cast("double") / lit(1000000.0) -
            col("seasonal_all")).as("residual"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Per-type level-shift changepoint: for each day, compare the mean
    * daily volume of the `windowDays` days STRICTLY BEFORE against
    * the window STARTING AT the day (a shift at day d means d opens
    * the new level), and report the day with the largest absolute
    * shift per type — the "when did this feed change behavior"
    * answer that [[anomalyFlags]]' single-day z-test can't give (a
    * permanent level change stops being an anomaly once the trailing
    * window absorbs it; the changepoint stays put).
    *
    * Both windows are RANGE frames over day numbers (calendar-gap-
    * correct: missing days shrink the frame rather than entering as
    * zeros), days with fewer than `minDays` observed on either side
    * are not candidates, and means are single exact divisions of
    * bigint window sums — the shift and its |·| ranking replay
    * bit-identically. One corpus aggregate to the (type, day) grain;
    * windows and the final per-type argmax run on that grain. */
  def changepoint(events: DataFrame, windowDays: Int = 7,
                  minDays: Int = 3): DataFrame = {
    val d = events
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("y"))
      .withColumn("day_num", datediff(col("day"),
        lit("1970-01-01").cast("date")).cast("long"))
    val base = Window.partitionBy(col("event_type")).orderBy(col("day_num"))
    val before = base.rangeBetween(-windowDays, -1)
    val after = base.rangeBetween(Window.currentRow, windowDays - 1)
    val framed = d
      .withColumn("b_days", count(col("y")).over(before))
      .withColumn("b_sum", sum(col("y")).over(before))
      .withColumn("a_days", count(col("y")).over(after))
      .withColumn("a_sum", sum(col("y")).over(after))
      .where(col("b_days") >= minDays && col("a_days") >= minDays)
      .withColumn("before_mean",
        col("b_sum").cast("double") / col("b_days"))
      .withColumn("after_mean",
        col("a_sum").cast("double") / col("a_days"))
      .withColumn("shift", col("after_mean") - col("before_mean"))
    framed
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("event_type"))
          .orderBy(abs(col("shift")).desc, col("day"))))
      .where(col("rk") === 1)
      .select(col("event_type"), col("day"), col("b_days"), col("a_days"),
        col("before_mean"), col("after_mean"), col("shift"))
      .orderBy(col("event_type"))
  }

  /** EWMA spike detector over the per-type daily series — the
    * recency-weighted complement of [[anomalyFlags]]'s flat z-test:
    * the baseline is an exponentially-weighted moving average with a
    * one-day half-life over the trailing `windowDays`, so a spike
    * right after a level change is judged against what the series is
    * NOW, not a week-old mean.
    *
    * Exactness: weights are INTEGER powers of two 2^(window−age) (the
    * attributionDecay discipline), the baseline stays the exact
    * integer pair (Σ nₚ·w, Σw), and the spike test is the integer
    * cross-multiplication `n·den > mult·num` — no float in the
    * decision anywhere; the reported ewma is one IEEE division. Σw ≤
    * 2^window − 1, so num overflows only past ~7·10¹⁶ events/day at
    * the default window.
    *
    * Shape: one (type, day) aggregate, then a banded self-join of the
    * GRID-SIZED day frame (types × days rows, never event rows) on
    * a 1..window day offset; everything downstream is grid-sized. */
  def ewmaAnomaly(events: DataFrame, windowDays: Int = 7, mult: Int = 3,
                  minDays: Int = 4): DataFrame = {
    require(windowDays >= 1 && windowDays <= 62, "2^window must fit int64")
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("date"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("day_num",
        datediff(col("date"), lit("1970-01-01").cast("date")).cast("long"))
    val prev = daily.select(col("event_type").as("p_type"),
      col("day_num").as("p_day"), col("n_events").as("p_n"))
    daily
      .join(prev, col("event_type") === col("p_type") &&
        col("day_num") - col("p_day") >= 1 &&
        col("day_num") - col("p_day") <= windowDays, "left")
      .withColumn("wgt",
        expr(s"CAST(power(2, $windowDays - (day_num - p_day)) AS BIGINT)"))
      .groupBy(col("event_type"), col("date"), col("n_events"))
      .agg(count(col("p_day")).as("base_days"),
        coalesce(sum(col("p_n") * col("wgt")), lit(0L)).as("num"),
        coalesce(sum(col("wgt")), lit(0L)).as("den"))
      .select(col("event_type"), col("date"), col("n_events"),
        col("base_days"),
        (col("num").cast("double") / nullif(col("den"), lit(0L)))
          .as("ewma"),
        (col("base_days") >= minDays &&
          col("n_events") * col("den") > lit(mult.toLong) * col("num"))
          .as("is_spike"))
      .orderBy(col("date"), col("event_type"))
  }

  /** Theil–Sen robust trend per event type: the slope estimate is the
    * MEDIAN of all pairwise day-slopes (yⱼ−yᵢ)/(dayⱼ−dayᵢ) — one wild
    * outlier day moves an OLS slope (the q_trend regression) but not
    * the pairwise median, which tolerates ~29% contamination. The
    * slope sign is decided on the exact median, reported with the
    * pair count so a thin series is visibly thin.
    *
    * Exactness: each pairwise slope is ONE IEEE division of exact
    * integers; the median interpolation at an even count is (a+b)/2
    * in both engines. Shape: the pair explode is over the GRID-SIZED
    * (type, day) frame — days²/2 pairs per type off a 1-shuffle daily
    * aggregate, never event-grain; a year of days is ~66k pairs. */
  def theilSenTrend(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("date"))
      .agg(count(lit(1)).as("y"))
      .withColumn("day_num",
        datediff(col("date"), lit("1970-01-01").cast("date")).cast("long"))
    val b = daily.select(col("event_type").as("b_type"),
      col("day_num").as("b_day"), col("y").as("b_y"))
    val nDays = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"))
    daily
      .join(b, col("event_type") === col("b_type") &&
        col("day_num") < col("b_day"))
      .select(col("event_type"),
        ((col("b_y") - col("y")).cast("double") /
          (col("b_day") - col("day_num"))).as("slope"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("percentile(slope, 0.5)").as("slope_per_day"))
      .join(broadcast(nDays), "event_type")
      .select(col("event_type"), col("n_days"), col("n_pairs"),
        col("slope_per_day"), (col("slope_per_day") > 0.0).as("rising"))
      .orderBy(col("event_type"))
  }

  /** Cross-type co-movement: Pearson correlation of the DAILY volume
    * series between every event-type pair — "do purchases move with
    * clicks" is the first question after any per-type trend/anomaly
    * flag fires, and a correlated drop across types points at
    * ingestion, not product. Days are the inner join of both types'
    * active days (the corpus grid is dense; a sparse feed would
    * zero-fill first).
    *
    * Exactness: all six moments (n, Σx, Σy, Σxy, Σx², Σy²) are
    * bigint over daily counts — order-independent, overflow-safe
    * below ~5·10⁸ events/day/type (n·Σxy < 2⁶³) — and r is one
    * fixed-shape double expression over them. Each centered variance
    * factor (n·Σxx−Σx²) is cast to double BEFORE the two factors are
    * multiplied (the autocorr form): the factor product ≈ n²·var(x)
    * · n²·var(y) silently wraps int64 at moderate daily volumes while
    * each factor alone fits. Zero-variance sides yield NULL via
    * nullif. Shape: pair join and everything after is
    * GRID-sized (types² × days), off one (type, day) aggregate. */
  def comoveCorrelation(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val b = daily.select(col("event_type").as("type_b"),
      col("day").as("day_b"), col("n").as("y"))
    daily
      .join(b, col("day") === col("day_b") &&
        col("event_type") < col("type_b"))
      .groupBy(col("event_type").as("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("n")).as("sx"), sum(col("y")).as("sy"),
        sum(col("n") * col("y")).as("sxy"),
        sum(col("n") * col("n")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("type_a"), col("type_b"), col("n_days"),
        ((col("n_days") * col("sxy") - col("sx") * col("sy"))
          .cast("double") /
          sqrt(nullif(
            (col("n_days") * col("sxx") - col("sx") * col("sx")).cast("double") *
            (col("n_days") * col("syy") - col("sy") * col("sy")).cast("double"),
            lit(0.0d)))).as("corr"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** Join-skew advisor: per-key contribution analysis of a planned
    * equi-join — exact output cardinality (Σ |A_k|·|B_k|), the top
    * `topK` keys by contribution with both sides' counts, each key's
    * share of the total, and a suggested bucket count from the
    * power-of-two ladder (the srpParamsFor discipline: smallest 2^i
    * with expected output rows per bucket ≤ `targetPerBucket`). This
    * is the pre-flight a 100 TB self-join runs BEFORE paying the
    * shuffle: a top-key share near 1 says salt-or-cap first, a flat
    * profile says bucket-and-go.
    *
    * All arithmetic is exact bigint (counts and products of counts);
    * shares are one IEEE division each. Shape: one key-grain
    * aggregate per side, a key-grain join of the two count frames
    * (key-cardinality-sized, never row-sized), a broadcast 1-row
    * total, TakeOrdered top-k. */
  def joinSkewAdvisor(left: DataFrame, right: DataFrame,
                      leftKey: String, rightKey: String,
                      topK: Int = 20,
                      targetPerBucket: Long = 1000000L): DataFrame = {
    require(topK > 0 && targetPerBucket > 0)
    val ca = left.groupBy(col(leftKey).as("key"))
      .agg(count(lit(1)).as("n_left"))
    val cb = right.groupBy(col(rightKey).as("key"))
      .agg(count(lit(1)).as("n_right"))
    val contrib = ca.join(cb, "key")
      .withColumn("out_rows", col("n_left") * col("n_right"))
    val tot = contrib.agg(sum(col("out_rows")).as("total_out"),
      count(lit(1)).as("n_join_keys"))
    // smallest power-of-two bucket count with total/buckets <= target,
    // derived in INTEGER space: need = ⌈total/target⌉, exponent = bit
    // length of need−1 (bin() is the minimal binary string in both
    // engines) — a ln-based log₂ would misround at exact powers of two
    val need = expr(s"(total_out + $targetPerBucket - 1) div $targetPerBucket")
    val exp = when(need <= 1, lit(0))
      .otherwise(length(bin(need - 1)))
    contrib.crossJoin(broadcast(tot))
      .select(col("key"), col("n_left"), col("n_right"), col("out_rows"),
        col("total_out"), col("n_join_keys"),
        (col("out_rows").cast("double") / col("total_out"))
          .as("share"),
        pow(lit(2.0), exp).cast("bigint").as("suggested_buckets"))
      .orderBy(col("out_rows").desc, col("key"))
      .limit(topK)
  }

  /** Schema-contract QA: the actual DataFrame schema checked against
    * a declared (column → type) contract — the preflight that catches
    * silent producer-side schema drift (a widened type, a dropped
    * column, a stray new field) BEFORE a downstream job misreads it.
    * One row per column in the union of contract and actual, with
    * status ok / type_changed / missing_in_actual / unexpected.
    * The schema is driver metadata (no data scan at all); the frame
    * is columns-sized. The oracle replays the contract as a VALUES
    * list against the engine catalog's own column listing with a
    * type-name normalization, so the GATE also proves both engines
    * agree on what the physical schema is. */
  def schemaContract(df: DataFrame,
                     expected: Seq[(String, String)]): DataFrame = {
    require(expected.nonEmpty, "schemaContract needs a declared contract")
    val spark = df.sparkSession
    import spark.implicits._
    val actual = df.schema.fields.toSeq
      .map(f => (f.name, f.dataType.simpleString))
      .toDF("col_name", "actual_type")
    val exp = expected.toDF("col_name", "expected_type")
    exp.join(actual, Seq("col_name"), "full_outer")
      .select(col("col_name"), col("expected_type"), col("actual_type"),
        when(col("expected_type").isNull, lit("unexpected"))
          .when(col("actual_type").isNull, lit("missing_in_actual"))
          .when(col("expected_type") =!= col("actual_type"),
            lit("type_changed"))
          .otherwise(lit("ok")).as("status"))
      .orderBy(col("col_name"))
  }

  /** Benford first-digit QA of the value column, per event type: the
    * observed first-significant-digit distribution of the positive
    * cent amounts against Benford's log10(1+1/d) expectation, with a
    * per-type χ² statistic (8 df) and a suspect flag. Fabricated,
    * capped, or unit-mismatched amount feeds bend this curve long
    * before a mean or quantile moves — the classic forensic gauge,
    * run here as a feed-QA check next to [[distributionDrift]].
    *
    * Exactness: the digit comes from the INTEGER cent amount's
    * decimal string (no float log10 near power-of-ten boundaries —
    * `floor(log10(0.999·10^k))` is a portability landmine; substr of
    * the integer is not), counts are exact bigint on a dense 9-digit
    * spine, and each type's χ² folds its 9 terms in FIXED digit
    * order. Shape: one (type, digit) aggregate off the scan; the
    * spine, fold and join-back are all (types × 9)-sized. */
  def benfordQa(events: DataFrame, chi2Crit: Double = 20.09): DataFrame =
    benfordFromCounts(
      benfordDigits(events).groupBy(col("event_type"), col("digit"))
        .agg(count(lit(1)).as("nd")),
      chi2Crit)

  /** The row-local digit projection of [[benfordQa]] — shared with the
    * streaming twin (`EventStream.digitCounts`), so batch and stream
    * extract digits identically by construction. */
  private[graft] def benfordDigits(events: DataFrame): DataFrame =
    events
      .where(col("value").isNotNull)
      .select(col("event_type"),
        round(col("value") * 100).cast("bigint").as("cents"))
      .where(col("cents") > 0)
      .select(col("event_type"),
        substring(col("cents").cast("string"), 1, 1).cast("int")
          .as("digit"))

  /** The (type, digit, nd) → report stage of [[benfordQa]] — also the
    * batch finisher over the streaming twin's continuously-maintained
    * count table (counts are mergeable, the report is grid-sized). */
  private[graft] def benfordFromCounts(digits: DataFrame,
                                       chi2Crit: Double): DataFrame = {
    val types = digits.groupBy(col("event_type"))
      .agg(sum(col("nd")).as("nt"))
    val spine = types.select(col("event_type"), col("nt"),
      explode(sequence(lit(1), lit(9))).as("digit"))
    val full = spine
      .join(digits, Seq("event_type", "digit"), "left_outer")
      .select(col("event_type"), col("digit"), col("nt"),
        coalesce(col("nd"), lit(0L)).as("nd"))
      .withColumn("exp_share",
        log10(lit(1.0) + lit(1.0) / col("digit")))
      .withColumn("term",
        (col("nd").cast("double") - col("nt").cast("double") * col("exp_share")) *
          (col("nd").cast("double") - col("nt").cast("double") * col("exp_share")) /
          (col("nt").cast("double") * col("exp_share")))
    val chi = full.groupBy(col("event_type"))
      .agg(aggregate(array_sort(collect_list(struct(col("digit"), col("term")))),
        lit(0.0), (a, x) => a + x.getField("term")).as("chi2"))
    full.join(chi, Seq("event_type"))
      .select(col("event_type"), col("digit"), col("nd").as("n_obs"),
        (col("nd").cast("double") / col("nt")).as("obs_share"),
        col("exp_share"), col("chi2"),
        (col("chi2") > chi2Crit).as("suspect"))
      .orderBy(col("event_type"), col("digit"))
  }

  /** MAD-based daily-volume outliers — the ROBUST whole-series twin
    * of the trailing z²-rule (`anomalyFlags`), the same relationship
    * Theil–Sen bears to the OLS trend: the z-test's own mean/variance
    * absorb the outliers it is looking for (one 10× day inflates σ
    * enough to hide a 5× day), while the median absolute deviation
    * breaks down only past 50% contamination. Per event type, each
    * day's count is flagged when |n − median| > k·MAD over the full
    * series.
    *
    * Exactness: the daily grid is exact integers; median and MAD are
    * the [[percentileBands]] interpolation contract (integer/
    * half-integer grids, exact in IEEE, identical to quantile_cont);
    * the flag is one multiply-compare. Shape: ONE fact aggregate to
    * the (type, day) grid; medians, joins and flags are all
    * grid-sized with types-sized broadcasts. */
  def madAnomaly(events: DataFrame, k: Int = 3): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .transform(graft.Caches.hold)
    val med = daily.groupBy(col("event_type"))
      .agg(expr("percentile(n, 0.5D)").as("med"))
    val dev = daily.join(broadcast(med), Seq("event_type"))
      .withColumn("adev", abs(col("n").cast("double") - col("med")))
      .transform(graft.Caches.hold)
    val mad = dev.groupBy(col("event_type"))
      .agg(expr("percentile(adev, 0.5D)").as("mad"))
    dev.join(broadcast(mad), Seq("event_type"))
      .select(col("event_type"), col("day"), col("n"), col("med"),
        col("mad"), (col("adev") > lit(k) * col("mad")).as("is_outlier"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Functional-dependency audit: for each candidate determinant →
    * dependent pair, how many determinant classes exist, how many are
    * VIOLATED (more than one distinct dependent value), and the worst
    * class's dependent cardinality — the key-discovery / denormalized
    * -consistency check run before trusting a column as a join key or
    * collapsing a table ("does orderkey really determine custkey, or
    * did an upsert fork it?"). A NULL determinant is its own class;
    * NULL dependents don't count as values (count-distinct
    * semantics, identical in SQL).
    *
    * Shape: one determinant-grain aggregate per candidate pair (the
    * pair list is caller-declared and small), each reduced to a 1-row
    * summary before the union — k pairs cost k keyed aggregates,
    * never a row-level union. All counts exact bigint. */
  def fdAudit(df: DataFrame, deps: Seq[(String, String)]): DataFrame = {
    require(deps.nonEmpty, "fdAudit needs at least one candidate pair")
    deps.map { case (det, dep) =>
      df.groupBy(col(det).as("det_value"))
        .agg(countDistinct(col(dep)).as("n_dep"))
        .agg(count(lit(1)).as("n_classes"),
          sum(when(col("n_dep") > 1, 1L).otherwise(0L)).as("n_violating"),
          max(col("n_dep")).as("max_distinct"))
        .select(lit(det).as("determinant"), lit(dep).as("dependent"),
          col("n_classes"), col("n_violating"),
          (col("n_violating").cast("double") / col("n_classes"))
            .as("violation_rate"),
          col("max_distinct"), (col("n_violating") === 0).as("holds"))
    }.reduce(_.unionAll(_)).orderBy(col("determinant"), col("dependent"))
  }

  /** Pearson correlation matrix over quantized numeric columns —
    * column-profiling's second moment: which measures move together
    * (discount with quantity says pricing policy; tax with nothing
    * says it's a flat rate). One row per unordered column pair.
    *
    * Each column quantizes to a caller-declared decimal grid
    * (⌊v·10^scale+0.5⌋), rows with ANY null among the audited
    * columns drop (listwise — one shared n for every pair), and ALL
    * moments (n, Σx, Σx², Σxy for every pair) come from ONE scan-level
    * aggregate — adding a column costs arithmetic, not passes.
    * Moments accumulate as DECIMAL(38,0) — the int128 twin of the
    * oracle's HUGEINT: Σx² of cent-grid prices passes int64 at
    * ~10⁵ rows (2.2·10¹⁹ measured at sf0.1), where a bigint sum
    * silently wraps in Spark while DuckDB raises. One cast to double
    * per moment at the very end; zero-variance columns yield NULL via
    * nullif. */
  def corrMatrix(df: DataFrame, cols: Seq[(String, Int)]): DataFrame = {
    require(cols.size >= 2, "corrMatrix needs at least two columns")
    require(cols.map(_._1).distinct.size == cols.size, "duplicate column")
    val names = cols.map(_._1)
    val pairs = for {
      i <- names.indices; j <- (i + 1) until names.size
    } yield (names(i), names(j))
    val clean = df
      .where(names.map(col(_).isNotNull).reduce(_ && _))
      .select(cols.map { case (c, scale) =>
        floor(col(c) * math.pow(10, scale) + 0.5).cast("bigint")
          .cast("decimal(38,0)").as(c)
      }: _*)
    val aggs = names.map(c => sum(col(c)).as(s"s_$c")) ++
      names.map(c => sum(col(c) * col(c)).as(s"ss_$c")) ++
      pairs.map { case (a, b) => sum(col(a) * col(b)).as(s"sp_${a}_$b") }
    val m = clean.agg(count(lit(1)).as("n"), aggs: _*)
    def d(c: String) = s"CAST($c AS DOUBLE)"
    val stackArgs = pairs.map { case (a, b) =>
      s"""'$a', '$b',
        (${d("n")} * ${d(s"sp_${a}_$b")} - ${d(s"s_$a")} * ${d(s"s_$b")}) /
        sqrt(nullif((${d("n")} * ${d(s"ss_$a")} - ${d(s"s_$a")} * ${d(s"s_$a")}) *
          (${d("n")} * ${d(s"ss_$b")} - ${d(s"s_$b")} * ${d(s"s_$b")}),
          CAST(0.0 AS DOUBLE)))"""
    }.mkString(", ")
    m.select(col("n").as("n_rows"),
        expr(s"stack(${pairs.size}, $stackArgs) AS (col_a, col_b, corr)"))
      .select(col("col_a"), col("col_b"), col("n_rows"), col("corr"))
      .orderBy(col("col_a"), col("col_b"))
  }

  /** Sampling-bias audit: is the deterministic 1-in-`mod` sample
    * (the event_id slice every probe query uses) actually
    * representative? Per event type: full and sampled counts, the
    * expected sampled count under the full distribution, the χ²
    * contribution (o−e)²/e and a suspect flag at the 1-df critical
    * value — the check that belongs NEXT to every sampled pipeline,
    * because a modulus that correlates with type assignment silently
    * biases everything downstream.
    *
    * Shape: ONE corpus aggregate computes both counts (the sample
    * indicator is row-local); totals come from unpartitioned window
    * sums over the types-sized grid; expected/χ² are fixed-shape
    * IEEE expressions with a nullif guard for an empty sample. */
  def sampleBias(events: DataFrame, mod: Int = 10,
                 critical: Double = 3.841): DataFrame = {
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val e = col("expected_sampled")
    val o = col("n_sampled").cast("double")
    events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_full"),
        count(when(col("event_id") % mod === 0, 1)).as("n_sampled"))
      .withColumn("expected_sampled",
        col("n_full").cast("double") *
          sum(col("n_sampled")).over(wAll).cast("double") /
          sum(col("n_full")).over(wAll).cast("double"))
      .withColumn("contrib", (o - e) * (o - e) / nullif(e, lit(0.0)))
      .withColumn("suspect", (col("contrib") > critical).cast("int"))
      .select(col("event_type"), col("n_full"), col("n_sampled"),
        col("expected_sampled"), col("contrib"), col("suspect"))
      .orderBy(col("event_type"))
  }

  /** Per-type event-value distribution: exact quartiles + p95 and
    * mean of the cent-quantized value — the monetary axis next to
    * [[graft.operators.Temporal.eventGaps]]'s cadence axis, and the
    * distribution the [[anomalyFlags]] daily totals flatten (a mean
    * shift can be one whale or a price change; the quartiles tell
    * you which).
    *
    * Shape: values quantize to integer cents row-locally, the corpus
    * collapses onto the (type × cents) grid, exact percentiles run
    * WITH FREQUENCIES there (the q_event_gaps contract), and the
    * mean is exact bigint Σ(cents·cnt) with one division last; the
    * /100 displays are single IEEE divisions. */
  def valueDist(events: DataFrame): DataFrame =
    events.select(col("event_type"),
        round(col("value") * 100).cast("bigint").as("cents"))
      .groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("event_type"))
      .agg(sum(col("cnt")).as("n_events"),
        sum(col("cents") * col("cnt")).as("sum_c"),
        expr("percentile(cents, array(0.25D, 0.5D, 0.75D, 0.95D), cnt)")
          .as("ps"))
      .select(col("event_type"), col("n_events"),
        (col("sum_c").cast("double") / col("n_events") / 100.0)
          .as("mean_value"),
        (element_at(col("ps"), 1) / 100.0).as("p25"),
        (element_at(col("ps"), 2) / 100.0).as("p50"),
        (element_at(col("ps"), 3) / 100.0).as("p75"),
        (element_at(col("ps"), 4) / 100.0).as("p95"))
      .orderBy(col("event_type"))

  /** Error share by hour of day, Wilson-bounded: what fraction of
    * each hour's traffic is `error` events — the intraday
    * reliability profile next to [[graft.operators.Analytics
    * .hourlyProfile]]'s volume view (an error RATE spike at 03:00
    * with flat volume is a batch job, not a user incident). The
    * Wilson lower bound keeps low-traffic night hours from
    * outranking busy ones on a single failure.
    *
    * Shape: one (hour-of-day) hash aggregate off a row-local hour
    * extraction — a 24-row grid at any corpus size; the bound is
    * [[Ranking.wilsonLower]]. */
  def errorShare(events: DataFrame, z: Double = 1.96): DataFrame =
    errorShareFromCounts(hourErrorCounts(events), z)

  /** The (hod, n_events, n_errors) aggregate of [[errorShare]] —
    * shared with the streaming twin (`EventStream.hourErrorCounts`),
    * so batch and stream count identically by construction; counts
    * are mergeable, the report is 24-row. */
  private[graft] def hourErrorCounts(events: DataFrame): DataFrame =
    events
      .select(hour(col("ts")).as("hod"),
        (col("event_type") === "error").cast("int").as("is_err"))
      .groupBy(col("hod"))
      .agg(count(lit(1)).as("n_events"),
        count(when(col("is_err") === 1, 1)).as("n_errors"))

  /** The counts → Wilson report stage of [[errorShare]] — also the
    * batch finisher over the streaming twin's continuously-maintained
    * 24-row count table. */
  private[graft] def errorShareFromCounts(agg: DataFrame,
                                          z: Double): DataFrame =
    Ranking.wilsonReport(agg, Seq("hod"), "n_events", "n_errors",
      "error_share", z)

  /** Weekday-seasonality STRENGTH per event type: the one-way-ANOVA
    * η² of daily volumes grouped by ISO weekday — the share of
    * day-to-day variance the weekly cycle explains. The effect-SIZE
    * companion to the seasonality indices (which say WHICH days are
    * high) and the χ² independence audit (which only says "not
    * independent"): η²≈0 means deseasonalizing is pointless, η²≈1
    * means any anomaly baseline MUST be weekday-conditional.
    *
    * Determinism: η² = (Σ_g T_g²/k_g − T²/N) / (Σn² − T²/N) off exact
    * integer aggregates; the between-group sum folds over ≤7 weekday
    * rows in weekday order (the ordered-fold discipline), the two
    * correction terms are fixed-shape double expressions, and Σn²
    * accumulates as decimal(38,0) (daily counts square past int64 at
    * real scale). Shape: the raw volume collapses in the first daily
    * aggregate (persisted — the weekday rollup and the moment
    * aggregate both read it); everything after is (types × days)
    * grid-sized. */
  def weekdayAnova(events: DataFrame): DataFrame = {
    val daily = events
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("nd"))
      .transform(graft.Caches.hold)
    val wd = daily
      .groupBy(col("event_type"), (weekday(col("day")) + 1).as("dow"))
      .agg(sum(col("nd")).as("tg"), count(lit(1)).as("kg"))
      .groupBy(col("event_type"))
      .agg(aggregate(array_sort(collect_list(struct(col("dow"),
        (col("tg").cast("double") * col("tg").cast("double") /
          col("kg").cast("double")).as("contrib")))),
        lit(0.0), (a, x) => a + x.getField("contrib")).as("ssb_raw"))
    val m = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), sum(col("nd")).as("tt"),
        sum(col("nd").cast("decimal(38,0)") * col("nd")).as("s2"))
    val corr = col("tt").cast("double") * col("tt").cast("double") /
      col("n_days").cast("double")
    wd.join(m, "event_type")
      .select(col("event_type"), col("n_days"),
        ((col("ssb_raw") - corr) /
          nullif(col("s2").cast("double") - corr, lit(0.0)))
          .as("eta_sq"))
      .orderBy(col("event_type"))
  }

  /** Maximum drawdown of the daily order-revenue series: the largest
    * peak-to-trough fall of cent-exact daily revenue under a running
    * peak — the worst-case "how far below the best day did we sink"
    * number behind the trend and changepoint rows (a trend can be
    * flat while the drawdown says a crash happened and recovered).
    * One row: the drawdown, the day it bottomed (earliest on ties),
    * the running peak it fell from, that day's revenue, and the
    * series length.
    *
    * Shape: the order stream collapses in one daily cents aggregate;
    * the running-max window and the argmax run over the DAYS grid
    * (thousands of rows at any scale). The argmax is one
    * order-independent max over (dd, −epoch_day, …) structs — the
    * hourlyProfile tie discipline, no window-sort on doubles. */
  def drawdown(orders: DataFrame): DataFrame = {
    val daily = orders
      .select(to_date(col("o_orderdate")).as("day"),
        round(col("o_totalprice") * 100).cast("bigint").as("cents"))
      .groupBy(col("day")).agg(sum(col("cents")).as("rev_c"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("peak_c", max(col("rev_c")).over(w))
      .withColumn("nd", -datediff(col("day"), to_date(lit("1970-01-01")))
        .cast("long"))
      .agg(count(lit(1)).as("n_days"),
        max(struct((col("peak_c") - col("rev_c")).as("dd"), col("nd"),
          col("rev_c"), col("peak_c"))).as("m"))
      .select(
        date_add(to_date(lit("1970-01-01")), (-col("m.nd")).cast("int"))
          .as("dd_day"),
        (col("m.dd").cast("double") / 100.0).as("max_drawdown"),
        (col("m.peak_c").cast("double") / 100.0).as("peak_revenue"),
        (col("m.rev_c").cast("double") / 100.0).as("trough_revenue"),
        col("n_days"))
  }
}
