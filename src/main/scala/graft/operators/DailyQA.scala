package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Data-QA grouping diff: group a log table and an ad-server table by
  * the same dimensions, outer-join the grouped counts, and emit
  * difference / percent-difference columns; plus the meta aggregation
  * (sorted-unique string agg of meta columns per dimension value).
  *
  * Semantics: /root/reference/dataQA/dailyQAHelpers.py:75-90
  * (`join_dfs`: sum(exe_imp) vs sum(impressions), outer merge, diff,
  * pct_diff) and dailyQAHelpers.py:160-171 (`agg_to_list_str` +
  * `make_meta`: distinct meta values joined as one sorted
  * space-separated string).
  *
  * Spark-first notes: the reference round-trips every grouping through
  * pandas (`pd.read_sql`) and merges driver-side; here both sides are
  * grouped DataFrames joined on the dimension key — the join inputs
  * are already aggregated (small), so Spark picks a broadcast or
  * small-shuffle join and the whole QA table never leaves the
  * executors. The meta agg uses `sort_array(collect_set(...))` which
  * is deterministic (unlike relying on arrival order).
  */
object DailyQA {

  /** Outer-join grouped counts of `log` (count → exe_imp) and `ad`
    * (count → impressions) on `dims`, with diff and pct_diff. */
  def groupingDiff(log: DataFrame, ad: DataFrame, dims: Seq[String]): DataFrame = {
    val cols = dims.map(col)
    val logG = log.groupBy(cols: _*).agg(count(lit(1)).as("exe_imp"))
    val adG = ad.groupBy(cols: _*).agg(count(lit(1)).as("impressions"))
    logG
      .join(adG, dims, "full_outer")
      .withColumn("diff", col("impressions") - col("exe_imp"))
      // nullif: impressions can be 0 when the grouped ad side carries
      // an explicit zero (e.g. sum over an all-zero group) — NULL in
      // both engines instead of Spark-NULL vs DuckDB-inf
      .withColumn("pct_diff",
        col("diff").cast("double") / nullif(col("impressions"), lit(0)))
      .orderBy(cols: _*)
  }

  /** Hour-shifted daily counts over the trailing period: timestamps
    * shifted by `hours` (the reference's ad-server timezone fixup),
    * truncated to dates, filtered to the last `periodDays` days
    * relative to the max date, counted per day. Mirrors
    * dailyQAHelpers.shift_hours (dailyQAHelpers.py:44-58) + the
    * min_max_dt trailing window (dailyQA.py:43-50). The max-date bound
    * stays a broadcast single-row frame — no driver collect. */
  def shiftedDailyCounts(df: DataFrame, tsCol: String, hours: Int,
                         periodDays: Int): DataFrame = {
    val shifted = df.select(
      to_date(col(tsCol) + expr(s"INTERVAL $hours HOURS")).as("date"))
    val bounds = shifted.groupBy().agg(max(col("date")).as("max_d"))
    shifted
      .crossJoin(broadcast(bounds))
      .where(datediff(col("max_d"), col("date")) < periodDays)
      .groupBy(col("date"))
      .agg(count(lit(1)).as("exe_imp"))
      .orderBy(col("date"))
  }

  /** Per-dimension sorted-unique space-joined meta string. */
  def metaAgg(df: DataFrame, dim: String, metaCol: String): DataFrame =
    df.groupBy(col(dim))
      .agg(array_join(sort_array(collect_set(col(metaCol).cast("string"))), " ")
        .as("meta"))
      .orderBy(col(dim))

  /** Full multi-grouping QA assembly: every dimension × the three
    * period/grouping shapes, stacked into ONE labeled table — the
    * artifact the reference's QA user actually consumes.
    *
    * Semantics: /root/reference/dataQA/dailyQA.py:87-112
    * (`create_groupings`) with the shape list from dailyQA.py:52-63:
    *   A. whole period, grouped by each dim alone (plus the `date`
    *      grouping itself) — date label 'whole period';
    *   B. trailing `period` days, grouped by each dim alone — date
    *      label '<period> days';
    *   C. trailing `period` days, grouped by (dim, date) — real dates,
    *      Dimension label '<dim> date'.
    * Each block outer-joins log counts (exe_imp) against ad counts
    * (impressions), derives diff/pct_diff (dailyQAHelpers.py:75-90),
    * left-joins the log-side meta string (make_meta,
    * dailyQAHelpers.py:160-190), and is normalized to the canonical
    * column order (reorder_cols, dailyQAHelpers.py:97-110) with the
    * grouping value stringified into one `value` column so the stack
    * is schema-uniform.
    *
    * Spark-first notes: the reference runs one SQL round-trip per
    * (dimension, shape) through pandas and concatenates driver-side;
    * here each input is aggregated ONCE by a single GROUPING SETS
    * pass — one set per dimension, `date` (and the meta column) kept
    * in every set so the trailing-period shapes are date-filters over
    * the pre-aggregated cube — and every (dim, shape) block is a label
    * group of one re-aggregation of that cube. At scale this means ONE
    * shuffle of each fact input (Expand multiplies rows by the set
    * count, but map-side partial aggregation collapses them before
    * the exchange, and per-set key cardinality is Σ|dim_i|×|dates| —
    * linear in dims, never the dims-product blowup of a full cube);
    * the round-2 shape paid one full-input shuffle per block. The
    * trailing-period bound is a broadcast single-row max over the
    * cube — no driver collect. `grouping_id` disambiguates which set
    * a cube row belongs to (a NULL dim VALUE is not the same as a
    * dim that was not grouped). */
  def multiGroupingQA(log: DataFrame, ad: Option[DataFrame], dims: Seq[String],
                      period: Int, metaCol: Option[String]): DataFrame = {
    DataChecks.requireColumns(log, dims ++ Seq("date") ++ metaCol.toSeq,
      "multiGroupingQA(log)")
    ad.foreach(a =>
      DataChecks.requireColumns(a, dims :+ "date", "multiGroupingQA(ad)"))
    // grouping_id bit for column i (of n) is 2^(n-1-i) when NOT grouped
    def gidOf(all: Seq[String], kept: Seq[String]): Long =
      all.zipWithIndex.collect { case (c, i) if !kept.contains(c) =>
        1L << (all.size - 1 - i) }.sum

    // The log cube has two readers — the trailing-period max-date
    // bound and `expanded` (the bound also feeds the ad side's
    // `expanded`) — so it is local-checkpointed: its Expand and input
    // scan run once, in the checkpoint's own job, and every reader
    // scans the (tiny) cube RDD. The checkpoint trades lineage (an
    // executor loss mid-query fails the query, the caller's retry
    // recomputes) for a guaranteed single evaluation — the right
    // trade for a cube that is Σ|dim_i|×|dates|×|confs| rows. The ad
    // cube has one reader, so it stays in the plan: its Expand runs
    // inside the query, with no materialization job of its own.
    val logCols: Seq[String] = dims ++ Seq("date") ++ metaCol.toSeq
    val logSets: Seq[Seq[String]] =
      dims.map(d => Seq(d, "date") ++ metaCol.toSeq) :+
        (Seq("date") ++ metaCol.toSeq)
    val logF = log
      .groupingSets(logSets.map(_.map(col)), logCols.map(col): _*)
      .agg(count(lit(1)).as("cnt"), grouping_id().as("gid"))
      .transform(graft.Caches.checkpoint)
    val adCols: Seq[String] = dims :+ "date"
    val adSets: Seq[Seq[String]] = dims.map(d => Seq(d, "date")) :+ Seq("date")
    val adF = ad.map(_
      .groupingSets(adSets.map(_.map(col)), adCols.map(col): _*)
      .agg(count(lit(1)).as("cnt"), grouping_id().as("gid")))
    val bounds = logF
      .where(col("gid") === gidOf(logCols, Seq("date") ++ metaCol.toSeq))
      .groupBy().agg(max(col("date")).as("max_d"))
    // The (dim, shape) blocks are NOT materialized as 7 separate
    // re-aggregations (round 13's shape: 21 tiny aggregates + 14 tiny
    // joins = ~40 sequential stages of pure scheduling latency,
    // measured 4.3 s warm at sf0.1 where every frame is grid-sized):
    // each cube row is EXPANDED to its block memberships — up to three
    // labeled (dimension, value, date) entries per dim, with the
    // trailing-period predicate folded into the entry's keep flag —
    // and ONE (dimension, value, date) aggregate per side replaces all
    // per-block ones, one full-outer join replaces the 14. Row set is
    // identical: blocks are disjoint label groups of the one
    // aggregate, and grouping by the stringified (value, date) is
    // grouping by the raw keys because dates and the string dims
    // stringify injectively (NULL → NULL, and both forms group NULLs
    // together).
    def expanded(df: DataFrame, cols: Seq[String],
                 withMeta: Boolean): DataFrame = {
      val entries = (dims :+ "date").flatMap { d =>
        val kept = (if (d == "date") Seq("date") else Seq(d, "date")) ++
          (if (withMeta) metaCol.toSeq else Nil)
        val ofDim = col("gid") === gidOf(cols, kept)
        val vStr = col(d).cast("string")
        val dStr = col("date").cast("string")
        if (d == "date")
          Seq(struct(lit("date").as("dimension"), dStr.as("value"),
            dStr.as("dateOut"), ofDim.as("keep")))
        else Seq(
          struct(lit(d).as("dimension"), vStr.as("value"),
            lit("whole period").as("dateOut"), ofDim.as("keep")),
          struct(lit(d).as("dimension"), vStr.as("value"),
            lit(s"$period days").as("dateOut"),
            (ofDim && col("in_period")).as("keep")),
          struct(lit(s"$d date").as("dimension"), vStr.as("value"),
            dStr.as("dateOut"), (ofDim && col("in_period")).as("keep")))
      }
      df.crossJoin(broadcast(bounds))
        .withColumn("in_period", datediff(col("max_d"), col("date")) < period)
        .select(Seq(explode(array(entries: _*)).as("e"), col("cnt")) ++
          metaCol.filter(_ => withMeta).map(col): _*)
        .where(col("e.keep"))
        .select(Seq(col("e.dimension").as("dimension"),
          col("e.value").as("value"), col("e.dateOut").as("date"),
          col("cnt")) ++ metaCol.filter(_ => withMeta).map(col): _*)
    }
    val lgAggs =
      sum(col("cnt")).as("exe_imp") +: metaCol.toSeq.map(mc =>
        array_join(sort_array(collect_set(col(mc).cast("string"))), " ")
          .as("meta"))
    val lg = expanded(logF, logCols, withMeta = true)
      .groupBy(col("dimension"), col("value"), col("date"))
      .agg(lgAggs.head, lgAggs.tail: _*)
    val joined = adF match {
      case Some(af) =>
        val ag = expanded(af, adCols, withMeta = false)
          .groupBy(col("dimension"), col("value"), col("date"))
          .agg(sum(col("cnt")).as("impressions"))
        lg.join(ag, Seq("dimension", "value", "date"), "full_outer")
      case None => lg.withColumn("impressions", lit(null).cast("long"))
    }
    val withMetaCol =
      if (metaCol.isDefined) joined
      else joined.withColumn("meta", lit(null).cast("string"))
    withMetaCol.select(
        col("dimension"), col("value"), col("date"),
        col("exe_imp"), col("impressions"),
        (col("impressions") - col("exe_imp")).as("diff"),
        ((col("impressions") - col("exe_imp")).cast("double") /
          nullif(col("impressions"), lit(0))).as("pct_diff"),
        col("meta"))
      .orderBy(col("dimension"), col("date"), col("value"))
  }

  /** End-to-end daily QA run with the reference's failure contract
    * (/root/reference/dataQA/dailyMain.py:20-44): produce the full
    * multi-grouping QA table as a csv at `outPath`; if the inputs are
    * structurally unusable ([[GraftDataException]]), the output
    * becomes a one-line error file instead — the artifact always
    * exists and says why when it isn't a table. Returns true when the
    * QA table was written, false when the error path was taken. */
  def runToCsv(log: DataFrame, ad: Option[DataFrame], dims: Seq[String],
               period: Int, metaCol: Option[String], outPath: String): Boolean =
    try {
      multiGroupingQA(log, ad, dims, period, metaCol)
        .coalesce(1).write.mode("overwrite").option("header", "true").csv(outPath)
      true
    } catch {
      case e: GraftDataException =>
        DataChecks.writeErrorOut(log.sparkSession, e.getMessage, outPath)
        false
    }
}
