package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Reach counting: projection-weighted household counts per dimension
  * value with a `unique` flag (household touched exactly one value of
  * the dimension).
  *
  * Semantics: /root/reference/metrics/lib/hh_reach.py:7-45
  * (`add_uniq_col` + `reach_count`).
  *
  * Spark-first notes: the reference computes the per-household row
  * count with a groupBy + re-join (two shuffles on the same key), and
  * runs one such job per dimension (hh_reach.py:48-61 + main:68-85).
  * Here every dimension goes through ONE pass over (household,
  * dimension, value-as-string) cells: one dedup, one `count over
  * (partition by household, dimension)` window for the flag, one
  * (dimension, value) aggregate and one sort, so a multi-dimension
  * table scans its input once and runs the jobs of one dimension. The
  * single-dimension [[reachCount]] feeds the same pass a plain
  * projection. At 100 TB the wide exchanges are the dedup and flag
  * partitions on the household key (natural key of the fact table)
  * and the small (dimension, value) aggregate.
  */
object Reach {

  /** Projection-weighted reach per dimension value:
    * (dimension, value, count, unique, duplicates) ordered by count
    * desc. `dim=None` in the reference becomes `dimOpt=None`: a single
    * overall row with value ''. Mirrors hh_reach.reach_count
    * (hh_reach.py:16-45). */
  def reachCount(
      df: DataFrame,
      cntCol: String,
      dimOpt: Option[String],
      projOpt: Option[String]): DataFrame = {
    val (dim, value) = dimOpt match {
      case Some(d) => (d, dimValue(df, d))
      case None => ("all", lit(""))
    }
    reach(df.select(col(cntCol).as("rc_cnt"), projCol(projOpt),
      lit(dim).as("dimension"), value.as("value")))
  }

  /** Multi-dimension reach table: [[reachCount]] of every dimension,
    * ordered by (dimension, count desc, value), in one pass. Each input
    * row becomes one (dimension, value) cell per dimension; a household
    * is `unique` in a dimension when it has one distinct value there,
    * so the flag window partitions by (household, dimension). */
  def reachByDimensions(df: DataFrame, cntCol: String, dims: Seq[String],
                        proj: Option[String]): DataFrame = {
    require(dims.nonEmpty, "reachByDimensions needs at least one dimension")
    val cells = explode(array(dims.map(d =>
      struct(lit(d).as("dimension"), dimValue(df, d).as("value"))): _*))
    reach(df.select(col(cntCol).as("rc_cnt"), projCol(proj), cells.as("rc_cell"))
      .select(col("rc_cnt"), col("rc_proj"),
        col("rc_cell.dimension").as("dimension"), col("rc_cell.value").as("value")))
  }

  /** The projection weight, 1.0 when there is none. */
  private def projCol(projOpt: Option[String]): Column =
    projOpt.fold(lit(1.0))(col).as("rc_proj")

  /** Dimension `d` as the string the table reports. A NULL value is no
    * cell (the reference's `dropna` on the dimension), and so is a
    * floating-point NaN, which `dropna` drops too. Floating-point -0.0
    * becomes 0.0 before the cast: grouped natively it is one key with
    * 0.0, but its string is "-0.0". Types whose string form is not
    * one-to-one (binary, nested) are rejected by name. */
  private def dimValue(df: DataFrame, d: String): Column = {
    val c = col(d)
    df.select(c).schema.head.dataType match {
      case t @ (FloatType | DoubleType) =>
        val zero = lit(0).cast(t)
        when(!isnan(c), when(c === zero, zero).otherwise(c)).cast("string")
      case _: StringType | BooleanType | ByteType | ShortType | IntegerType |
           LongType | _: DecimalType | DateType | TimestampType |
           TimestampNTZType => c.cast("string")
      case t => throw new IllegalArgumentException(
        s"reach dimension $d has type ${t.simpleString}; " +
          "only atomic non-binary types have one string per value")
    }
  }

  /** The reach pass over (rc_cnt, rc_proj, dimension, value) cells. */
  private def reach(cells: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("rc_cnt"), col("dimension"))
    cells.where(col("value").isNotNull)
      .dropDuplicates("rc_cnt", "dimension", "value")
      .withColumn("rc_unique",
        when(count(lit(1)).over(w) > 1, lit(0.0)).otherwise(lit(1.0)))
      .groupBy(col("dimension"), col("value"))
      .agg(
        round(sum(col("rc_proj"))).as("count"),
        round(sum(col("rc_unique") * col("rc_proj"))).as("unique"))
      .withColumn("duplicates", col("count") - col("unique"))
      .orderBy(asc("dimension"), desc("count"), asc("value"))
  }

  /** Delete-a-group jackknife variance of the projection-weighted
    * overall reach (DAGJK, the standard replicate-variance estimator
    * of survey measurement): households are split into `groups`
    * deterministic replicate groups (numeric key mod G — rerun- and
    * engine-stable, unlike rand(); hash string keys to a bucket
    * first), each replicate estimate θ₍g₎ = G/(G−1) · (T − s_g)
    * re-scales the total with group g deleted, and
    * v = (G−1)/G · Σ (θ₍g₎ − T)². A reach number without an error bar
    * is not measurement-grade; this emits the variance next to the
    * estimate (standard error needs a sqrt, which is not bit-portable
    * across engines — take it client-side).
    *
    * Scale shape: one household aggregate (map-side combine) is the
    * only full-data exchange; everything after runs on the G-row
    * replicate frame, including a spine join so EMPTY groups still
    * contribute their θ₍g₎ = G/(G−1)·T replicate. The deviation
    * squares fold in sorted group order, so the float summation is
    * engine-independent and the DuckDB oracle matches bit-for-bit. */
  def reachVariance(df: DataFrame, cntCol: String, proj: String,
                    groups: Int = 10): DataFrame = {
    require(groups > 1, s"need at least 2 replicate groups, got $groups")
    val hh = df.na.drop(Seq(cntCol))
      .groupBy(col(cntCol)).agg(max(col(proj)).as("w"))
      .withColumn("g", pmod(col(cntCol), lit(groups)))
    val spine = df.sparkSession.range(1).select(
      explode(sequence(lit(0), lit(groups - 1))).as("g"))
    val perG = spine.join(
      // count(w), not count(*): a household whose every projfact is
      // NULL has w NULL and contributes nothing to any replicate sum —
      // counting it would report n_households the estimator never saw
      // (and diverge from the oracle's count(xg.w))
      hh.groupBy(col("g")).agg(sum(col("w")).as("s_g"),
        count(col("w")).as("n_g")),
      Seq("g"), "left_outer")
      .na.fill(0.0, Seq("s_g")).na.fill(0L, Seq("n_g"))
    val all = Window.partitionBy().rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val scale = lit(groups.toDouble / (groups - 1.0))
    val est = perG
      .withColumn("total", sum(col("s_g")).over(all))
      .withColumn("n_households", sum(col("n_g")).over(all))
      .withColumn("dev", (col("total") - col("s_g")) * scale - col("total"))
    est
      .agg(first(col("total")).as("reach"),
        first(col("n_households")).as("n_households"),
        sort_array(collect_list(struct(col("g"), col("dev")))).as("devs"))
      .select(col("reach"), col("n_households"),
        lit(groups).as("groups"),
        (aggregate(col("devs"), lit(0.0),
          (acc, x) => acc + x.getField("dev") * x.getField("dev")) *
          lit((groups - 1.0) / groups)).as("jk_variance"))
  }

  /** [[reachVariance]] per dimension value: the by-segment reach table
    * WITH its error bars — the artifact a measurement client actually
    * consumes ("reach of sports was 1.2M ± 40k"). Same DAGJK
    * estimator, one more key: replicate sums are per (value, group),
    * the spine join gives every value all G replicates (an empty
    * replicate still contributes), the windows and the sorted
    * deviation folds are value-partitioned. One (value, household)
    * dedup aggregate is the only full-data exchange; everything after
    * is values × G rows. */
  def reachVarianceByDim(df: DataFrame, cntCol: String, dim: String,
                         proj: String, groups: Int = 10): DataFrame = {
    require(groups > 1, s"need at least 2 replicate groups, got $groups")
    val hv = df.na.drop(Seq(dim, cntCol))
      .groupBy(col(dim), col(cntCol)).agg(max(col(proj)).as("w"))
      .withColumn("g", pmod(col(cntCol), lit(groups)))
    val perG = hv.groupBy(col(dim), col("g")).agg(sum(col("w")).as("s_g"))
    val spine = perG.select(col(dim)).distinct()
      .select(col(dim), explode(sequence(lit(0), lit(groups - 1))).as("g"))
    val wv = Window.partitionBy(col(dim)).rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val scale = lit(groups.toDouble / (groups - 1.0))
    spine.join(perG, Seq(dim, "g"), "left_outer")
      .na.fill(0.0, Seq("s_g"))
      .withColumn("total", sum(col("s_g")).over(wv))
      .withColumn("dev", (col("total") - col("s_g")) * scale - col("total"))
      .groupBy(col(dim))
      .agg(first(col("total")).as("reach"),
        sort_array(collect_list(struct(col("g"), col("dev")))).as("devs"))
      .select(col(dim), col("reach"), lit(groups).as("groups"),
        (aggregate(col("devs"), lit(0.0),
          (acc, x) => acc + x.getField("dev") * x.getField("dev")) *
          lit((groups - 1.0) / groups)).as("jk_variance"))
      .orderBy(col(dim))
  }

  /** Hierarchical exposure totals in ONE pass: exposures, projected
    * sum and exact distinct-household reach at every prefix level of
    * `dims` (full detail → per-dim1 → grand total) via ROLLUP. The
    * reference computes each level as its own job over the fact table
    * (hh_reach.py main's per-dim loop plus a separate overall run);
    * ROLLUP's Expand emits levels+1 copies of each row into a single
    * hash aggregate — one shuffle for the whole hierarchy, with
    * `lvl` = grouping_id() labeling the level and NULL group keys
    * coalesced to 'all'. The countDistinct adds the standard two-phase
    * distinct expansion; both stay map-side-partial. */
  def reachRollup(media: DataFrame, dims: Seq[String],
                  proj: String): DataFrame = {
    val dcols = dims.map(col)
    media
      .rollup(dcols: _*)
      .agg(count(lit(1)).as("exposures"),
        round(sum(col(proj))).as("proj_sum"),
        countDistinct(col("household_id")).as("households"),
        grouping_id().cast("int").as("lvl"))
      .select(dims.map(d => coalesce(col(d).cast("string"), lit("all")).as(d)) ++
        Seq(col("exposures"), col("proj_sum"), col("households"), col("lvl")): _*)
      .orderBy(col("lvl") +: dcols: _*)
  }

  /** Approximate distinct reach per dimension value + overall, via
    * HyperLogLog SKETCHES (not just approx_count_distinct): one
    * sketch-aggregate per dimension value, then the overall row MERGES
    * the per-value sketches (hll_union_agg) instead of rescanning the
    * fact table. This is the genuine 100 TB reach path — an exact
    * countDistinct shuffles every distinct (value, household) pair,
    * while a sketch is a fixed ~KB state with map-side combine; the
    * mergeability is what makes incremental / cross-partition reach
    * roll-ups cheap. No DuckDB oracle (sketch internals are
    * engine-specific — rows-only gate); TemporalSpec bounds the estimate
    * against the exact count instead (lgK=12 → ~1.6% rsd). */
  def approxReach(media: DataFrame, dim: String): DataFrame = {
    val perValue = media
      .groupBy(col(dim).cast("string").as("value"))
      .agg(hll_sketch_agg(col("household_id"), lit(12)).as("sk"))
    perValue
      .select(col("value"), hll_sketch_estimate(col("sk")).as("reach_est"))
      .unionAll(perValue.agg(
        hll_sketch_estimate(hll_union_agg(col("sk"), lit(false)))
          .as("reach_est"))
        .select(lit("all").as("value"), col("reach_est")))
      .orderBy(desc("reach_est"), asc("value"))
  }
}
