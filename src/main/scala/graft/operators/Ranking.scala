package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Two-phase exact ranking — the scale discipline for "rank every row
  * of a big grain within a small partition key" (today one global
  * rank, q_user_concentration's users by spend). A bare window
  * `row_number().over(partitionBy(fewValues).orderBy(...))` funnels
  * each key's ENTIRE row set through one reducer: at 100 TB a
  * per-source quality rank becomes a handful of single-task corpus
  * sorts. The fix is the [[ValueMapping.assignDenseIds]] idea applied
  * at window grain: sub-bucket each group by a key MONOTONE in the
  * sort order, rank inside (group, bucket) cells — parallel across
  * buckets — and shift each cell's ranks by its exclusive prefix
  * count from a grid-sized cell-count aggregate. Bit-identical to the
  * corpus-sort window by construction: bucket monotonicity means
  * every row of bucket b sorts before every row of bucket b+1, so
  * prefix-count + in-cell row_number IS the group rank.
  *
  * Grain budget (the CAPS.md contract): the offsets grid is
  * |groups| × |distinct buckets per group| rows — broadcast-joined,
  * so it must stay driver-small (fixed-width score buckets: ≤256 per
  * group; value sub-buckets: distinct values × fan-out). The largest
  * single sort is the biggest (group, bucket) CELL, not the biggest
  * group — a degenerate distribution (all rows one score) re-creates
  * the hot cell, which is data, not plan; callers pick the bucket key
  * to spread their real distribution.
  *
  * Also the home of the fixed-shape statistics several operators share
  * and their oracles replay: [[ntileExpr]], [[wilsonLower]] and
  * [[olsMoments]].
  */
object Ranking {

  /** Rank = 1..n within each `group` by ascending `order`, without a
    * group-wide sort partition. `bucket` MUST be monotone
    * non-decreasing along `order` within every group (orderable type;
    * structs compose multi-level buckets). Appends `rank` and the
    * group row count `n_grp` to the input columns. Input rows with
    * NULL order keys are the caller's problem (exclude them — NULL
    * sort order is engine-specific under a hash gate). */
  def groupedRank(rows: DataFrame, group: Seq[String], bucket: Column,
                  order: Seq[Column]): DataFrame = {
    val gCols = group.map(col)
    // both phases (cell counts, ranked row pass) read this frame —
    // without the hold each pays the full upstream scan, which
    // DOUBLES a CPU-dense input (the quality scan measured 59 s vs
    // 26 s at the 100× probe before this); released with the query
    val withB = graft.Caches.hold(rows.withColumn("gr_bucket", bucket))
    val cellKey = gCols :+ col("gr_bucket")
    // grid pass: per-cell counts → exclusive prefix offset + group
    // total; both windows run over the grid frame (cells, not rows)
    val wOff = Window.partitionBy(gCols: _*).orderBy(col("gr_bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wGrp = Window.partitionBy(gCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val offs = withB.groupBy(cellKey: _*)
      .agg(count(lit(1)).as("gr_cell_n"))
      .withColumn("gr_off", coalesce(sum(col("gr_cell_n")).over(wOff), lit(0L)))
      .withColumn("n_grp", sum(col("gr_cell_n")).over(wGrp))
      .drop("gr_cell_n")
    // row pass: rank inside the (group, bucket) cell, shift by the
    // broadcast cell offset
    val wCell = Window.partitionBy(cellKey: _*).orderBy(order: _*)
    withB.join(broadcast(offs), group :+ "gr_bucket")
      .withColumn("rank", col("gr_off") + row_number().over(wCell))
      .drop("gr_bucket", "gr_off")
  }

  /** Exact interpolated median off a (value, count) frame — the
    * distributed form of `percentile(v, 0.5, cnt)`. The built-in is a
    * single-group TypedImperative aggregate: every (value, count)
    * pair of the column funnels into ONE task's buffer and one sort
    * (a near-continuous column at the 100× probe spent 55 of
    * q_profile's 66 s in that single-task stage — the worst
    * single-reducer left in the repo). Here the counts frame is
    * value-range sub-bucketed (monotone in the sort order, the
    * [[groupedRank]] discipline), per-bucket cumulative counts shift
    * by broadcast grid offsets, and the two rows bracketing the
    * median position are picked by a cumulative-count crossing
    * filter — one exchange at value grain, no global sort, no
    * single-task buffer. A degenerate distribution (all mass in one
    * range cell) falls back to one cell's window sort, which is the
    * old behavior for that column — data, not plan.
    *
    * Bit-identical to the aggregate by replaying its exact double
    * sequence (position = 0.5·(N−1), expanded[k] = first value whose
    * cumulative count exceeds k, result = (⌈p⌉−p)·v_lo + (p−⌊p⌋)·v_hi
    * in that multiplication order), which is what keeps the
    * quantile_cont-replay oracles hash-matching; RankingSpec races it
    * against the built-in on adversarial frequency frames. Returns
    * ONE row (`p50` double; NULL on an all-NULL/empty column, like
    * the aggregate). */
  def interpolatedMedian(counts: DataFrame, valueCol: String,
                         cntCol: String, buckets: Int = 256): DataFrame = {
    val nn = counts.where(col(valueCol).isNotNull)
      .select(col(valueCol).cast("double").as("v"),
        col(cntCol).cast("long").as("cnt"))
    val tot = broadcast(nn.agg(sum(col("cnt")).as("n_tot"),
      min(col("v")).as("v_lo"), max(col("v")).as("v_hi")))
    val bucketed = nn.crossJoin(tot)
      .withColumn("bk", coalesce(
        least(greatest(floor((col("v") - col("v_lo")) * buckets /
          nullif(col("v_hi") - col("v_lo"), lit(0.0))), lit(0.0)),
          lit((buckets - 1).toDouble)).cast("int"), lit(0)))
    val offs = bucketed.groupBy(col("bk"))
      .agg(sum(col("cnt")).as("bn"))
      .withColumn("c_off", coalesce(sum(col("bn")).over(
        Window.orderBy(col("bk"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bk"), col("c_off"))
    val wCum = Window.partitionBy(col("bk")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val pos = (col("n_tot") - 1).cast("double") * lit(0.5)
    val lo = floor(pos)
    val hi = ceil(pos)
    // one window execution picks BOTH bracketing values: the crossing
    // row is the unique one with prev-cumulative ≤ k < cumulative
    bucketed.join(broadcast(offs), "bk")
      .withColumn("cum", col("c_off") + sum(col("cnt")).over(wCum))
      .agg(
        min(when(col("cum") > lo && col("cum") - col("cnt") <= lo,
          col("v"))).as("v_l"),
        min(when(col("cum") > hi && col("cum") - col("cnt") <= hi,
          col("v"))).as("v_h"),
        min(lo).as("k_lo"), min(hi).as("k_hi"), min(pos).as("pp"))
      .select(
        when(col("k_lo") === col("k_hi"), col("v_l"))
          .otherwise((col("k_hi").cast("double") - col("pp")) * col("v_l") +
            (col("pp") - col("k_lo").cast("double")) * col("v_h"))
          .as("p50"))
  }

  /** Exact ANSI `ntile(k)` tile from a 1-based `rank` column and the
    * partition row count `n` — ntile's "first (n mod k) tiles carry
    * the extra row" distribution as closed-form integer arithmetic,
    * bit-identical to the window function without one. (The simpler
    * `((rank−1)·k) div n` curriculum rule spreads the remainder
    * EVENLY across tiles — a different, equally valid banding; this
    * form exists for operators whose oracles replay ntile itself.)
    * n < k degenerates to tile = rank (each row its own tile), the
    * ntile contract; the else-branch's `div 0` is never selected
    * there. */
  def ntileExpr(rankCol: String, nCol: String, k: Int): Column =
    expr(s"""CASE
      WHEN $rankCol <= ($nCol % $k) * (($nCol div $k) + 1)
      THEN ($rankCol - 1) div (($nCol div $k) + 1) + 1
      ELSE ($nCol % $k)
        + ($rankCol - ($nCol % $k) * (($nCol div $k) + 1) - 1)
          div ($nCol div $k) + 1
      END""").cast("int")

  /** Wilson-score lower bound of the proportion `successes`/`n` at
    * normal quantile `z`, as one fixed-shape IEEE chain over the two
    * counts cast to double — every step correctly rounded, the same
    * structure as the oracles' replay, so results match bit for bit.
    * NULL at n = 0 (non-ANSI division by zero); a caller that wants
    * another guard wraps the column itself. */
  def wilsonLower(successes: Column, n: Column, z: Double): Column = {
    val nD = n.cast("double")
    val p = successes.cast("double") / nD
    val z2 = z * z
    (p + lit(z2) / (nD * 2) - lit(z) *
      sqrt(p * (lit(1.0) - p) / nD + lit(z2) / (nD * nD * 4))) /
      (lit(1.0) + lit(z2) / nD)
  }

  /** The Wilson rate report of a counts frame: the `keys`, the trial
    * count `n`, the success count `s`, the rate s/n as `rate` and its
    * [[wilsonLower]] bound as `wilson_lb`, ordered by the first key. */
  def wilsonReport(counts: DataFrame, keys: Seq[String], n: String,
                   s: String, rate: String, z: Double): DataFrame =
    counts.select(keys.map(col) ++ Seq(col(n), col(s),
        (col(s).cast("double") / col(n).cast("double")).as(rate),
        wilsonLower(col(s), col(n), z).as("wilson_lb")): _*)
      .orderBy(col(keys.head))

  /** OLS moments of a small point set, per `group` (or over all rows
    * when `group` is empty): `k` = point count and the double sums
    * `sx, sy, sxy, sxx, syy` of `x`/`y` read off each point. The points
    * are collected as `point` structs, sorted, and folded left in that
    * order, so the sums do not depend on how the shuffle delivered the
    * rows (a plain double `sum` is order-dependent in the last ulp).
    * Callers build their own slope, intercept and r2 from the moments.
    * Meant for grid-sized point sets: each group's points are one row. */
  def olsMoments(points: DataFrame, group: Seq[String], point: Column,
                 x: Column => Column, y: Column => Column): DataFrame = {
    def fold(f: Column => Column): Column =
      aggregate(col("a"), lit(0.0), (ac, e) => ac + f(e))
    points.groupBy(group.map(col): _*)
      .agg(count(lit(1)).as("k"), array_sort(collect_list(point)).as("a"))
      .select(group.map(col) ++ Seq(col("k"),
        fold(x).as("sx"), fold(y).as("sy"),
        fold(e => x(e) * y(e)).as("sxy"),
        fold(e => x(e) * x(e)).as("sxx"),
        fold(e => y(e) * y(e)).as("syy")): _*)
  }
}
