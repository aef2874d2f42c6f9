package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Physical-layout planning for multi-dimensional data skipping: the
  * Z-order (Morton) clustering pass a lakehouse table maintenance job
  * runs so that min/max file statistics prune on EVERY query
  * dimension, not just the sort leader. A linear sort by (user, day)
  * gives user-queries perfect pruning and day-queries none — every
  * file spans all days. Interleaving the key bits makes each file a
  * small rectangle in (user, day) space, so both dimensions prune.
  * Everything here is exact 64-bit integer arithmetic (shifts, masks,
  * or), replayed operation-for-operation by the DuckDB oracle.
  */
object Layout {

  /** Bits per dimension; two spread dims interleave into 2×[[DimBits]]
    * z-bits. 10 bits = 1024 cells per dim. */
  val DimBits = 10
  val DimCells: Int = 1 << DimBits

  /** Spread the low 16 bits of `v` to even bit positions (the classic
    * Morton magic-mask ladder): ...b2 b1 b0 → ...0 b2 0 b1 0 b0. */
  def spreadBits(v: Column): Column = {
    val s8 = v.bitwiseOR(shiftleft(v, 8)).bitwiseAND(lit(0x00FF00FFL))
    val s4 = s8.bitwiseOR(shiftleft(s8, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val s2 = s4.bitwiseOR(shiftleft(s4, 2)).bitwiseAND(lit(0x33333333L))
    s2.bitwiseOR(shiftleft(s2, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Morton z-value of two [[DimBits]]-bit coordinates: x on even
    * bits, y on odd. */
  def zValue(x: Column, y: Column): Column =
    spreadBits(x).bitwiseOR(shiftleft(spreadBits(y), 1))

  /** Z-order clustering effectiveness report over the event log, on
    * the (user, time) plane: each event maps to a [[DimCells]]² cell
    * (user_id mod cells, epoch-HOUR mod cells — hours so a months-long
    * corpus exercises the full time range), its z-value assigns it to
    * one of `files` equal-z-width output files, and the report is each
    * file's row count plus min/max/span of BOTH dimensions — exactly
    * the footer statistics a scan planner prunes with. The span
    * fractions are the pruning story: z-width 2^20/64 = 2^14 bounds
    * each file to a 128×128 rectangle (span_frac ≈ 1/8 per dim),
    * where a user-sorted layout would show time_span_frac = 1.
    * Row-local projection + one ≤`files`-row aggregate — the actual
    * clustered WRITE is `repartitionByRange(file_id)` +
    * `sortWithinPartitions(z)` on the same columns, a plain range
    * exchange at any scale. */
  def zorderReport(events: DataFrame, files: Int = 64): DataFrame = {
    require(Integer.bitCount(files) == 1 && files <= (1 << (2 * DimBits)),
      s"files must be a power of two up to ${1 << (2 * DimBits)}, got $files")
    val zWidth = (1L << (2 * DimBits)) / files
    val x = pmod(col("user_id"), lit(DimCells.toLong))
    val y = pmod(expr("unix_timestamp(ts) div 3600"), lit(DimCells.toLong))
    events
      .select(x.as("ux"), y.as("ty"))
      .withColumn("z", zValue(col("ux"), col("ty")))
      .withColumn("file_id", expr(s"z div $zWidth").cast("int"))
      .groupBy(col("file_id"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("ux")).as("user_min"), max(col("ux")).as("user_max"),
        min(col("ty")).as("time_min"), max(col("ty")).as("time_max"))
      .withColumn("user_span_frac",
        (col("user_max") - col("user_min") + 1L) / lit(DimCells.toDouble))
      .withColumn("time_span_frac",
        (col("time_max") - col("time_min") + 1L) / lit(DimCells.toDouble))
      .orderBy(col("file_id"))
  }

  /** Data-skipping effectiveness report — the measurable payoff of
    * [[zorderReport]]: for a grid of `nProbes` equal-width range
    * predicates per dimension (the queries a scan planner prunes
    * with), how many files' min/max footers overlap the range
    * (must-scan), what fraction skip outright, and how many rows the
    * surviving files hold. On a z-ordered layout BOTH dimensions
    * should skip ~ (1 − span_frac) of the files; a linear layout
    * shows one dimension at skip_frac ≈ 0 — this report turns that
    * claim into numbers.
    *
    * Everything downstream of the ≤`files`-row zorder report is
    * probe-grid-sized: the report is persisted (the probe fan-out and
    * the 1-row total both read it), probes fan out as an exploded
    * literal array, and the per-probe aggregate runs over
    * files×2·nProbes rows. */
  def fileSkipping(events: DataFrame, files: Int = 64,
                   nProbes: Int = 8): DataFrame = {
    require(DimCells % nProbes == 0, s"nProbes must divide $DimCells")
    val probeW = DimCells / nProbes
    // persisted: the probe fan-out and the total-rows leg both read it
    // (caller owns the lifetime)
    val rep = zorderReport(events, files)
      .transform(graft.Caches.hold)
    val total = rep.agg(sum(col("n_rows")).as("total_rows"))
    val probes = for (d <- Seq("user", "time"); i <- 0 until nProbes)
      yield struct(lit(d).as("dim"), lit(i).as("probe_ix"),
        lit(i * probeW).as("lo"), lit(i * probeW + probeW - 1).as("hi"))
    val hit = when(col("p.dim") === "user",
      col("user_min") <= col("p.hi") && col("user_max") >= col("p.lo"))
      .otherwise(
        col("time_min") <= col("p.hi") && col("time_max") >= col("p.lo"))
    rep.select(col("n_rows"), col("user_min"), col("user_max"),
        col("time_min"), col("time_max"),
        explode(array(probes: _*)).as("p"))
      .withColumn("hit", hit)
      .groupBy(col("p.dim").as("dim"), col("p.probe_ix").as("probe_ix"),
        col("p.lo").as("lo"), col("p.hi").as("hi"))
      .agg(count(lit(1)).as("n_files"),
        sum(col("hit").cast("bigint")).as("files_scanned"),
        coalesce(sum(when(col("hit"), col("n_rows"))), lit(0L))
          .as("rows_scanned"))
      .crossJoin(broadcast(total))
      .select(col("dim"), col("probe_ix"), col("lo"), col("hi"),
        col("n_files"), col("files_scanned"),
        (lit(1.0) - col("files_scanned").cast("double") / col("n_files"))
          .as("skip_frac"),
        col("rows_scanned"),
        (col("rows_scanned").cast("double") / col("total_rows"))
          .as("rows_frac"))
      .orderBy(col("dim"), col("probe_ix"))
  }

  /** The clustered WRITE that [[zorderReport]] plans and
    * [[fileSkipping]] scores: z-value each row on the (user, time)
    * plane, range-partition into `files` z-ranges, sort within each,
    * write parquet. ONE range exchange at any scale — this is the
    * lakehouse OPTIMIZE ZORDER maintenance pass, so each written
    * file's min/max footer stats bound a small rectangle in both
    * dimensions and either-dimension range scans prune most files
    * (LayoutSpec reads the files back and asserts both spans).
    * The helper z columns are dropped before writing: the layout is
    * the product, the key is derivable. `repartitionByRange` samples
    * range boundaries, so file SIZES are approximate — acceptable for
    * a maintenance pass whose contract is footer-stat quality, not
    * exact file counts. */
  def writeZOrdered(events: DataFrame, path: String,
                    files: Int = 64): Unit = {
    require(Integer.bitCount(files) == 1 && files <= (1 << (2 * DimBits)),
      s"files must be a power of two up to ${1 << (2 * DimBits)}, got $files")
    events
      .withColumn("_ux", pmod(col("user_id"), lit(DimCells.toLong)))
      .withColumn("_ty",
        pmod(expr("unix_timestamp(ts) div 3600"), lit(DimCells.toLong)))
      .withColumn("_z", zValue(col("_ux"), col("_ty")))
      .repartitionByRange(files, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_ux", "_ty", "_z")
      .write.mode("overwrite").parquet(path)
  }
}
