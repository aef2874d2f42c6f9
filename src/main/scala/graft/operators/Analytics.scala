package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Generic analytics queries exercising the DataFrame building blocks
  * every reference pipeline composes (groupBy/agg arithmetic, joins
  * with broadcast dims, window top-N, event-time tumbling windows).
  * These are the bench headliners — scan-bound, codegen-friendly.
  */
object Analytics {

  /** Pricing summary over lineitem (TPC-H Q1 shape): filter pushdown
    * to the scan, one hash aggregate on two low-cardinality keys.
    * Aggregates rounded to 2dp so the DuckDB oracle compares exactly
    * despite double summation order. */
  def pricingSummary(lineitem: DataFrame): DataFrame =
    lineitem
      .where(col("l_shipdate") <= lit("2000-12-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) *
          (lit(1) + col("l_tax"))), 2).as("sum_charge"),
        round(sum(col("l_quantity")) / count(lit(1)), 6).as("avg_qty"),
        round(sum(col("l_extendedprice")) / count(lit(1)), 6)
          .as("avg_price"),
        round(sum(col("l_discount")) / count(lit(1)), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Revenue by nation: fact table joins two broadcast dims. The
    * customer/nation sides are small at any SF relative to orders —
    * explicit broadcast hints keep the plan shuffle-free on the dim
    * side even if stats are missing. */
  def revenueByNation(orders: DataFrame, customer: DataFrame, nation: DataFrame): DataFrame =
    orders
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        round(sum(col("o_totalprice")), 2).as("revenue"),
        count(lit(1)).as("num_orders"))
      .orderBy(desc("revenue"), asc("n_name"))

  /** TPC-H Q5 shape — local supplier volume: revenue from line items
    * where the customer and the supplier share a nation inside one
    * region, for one order year. The canonical 6-table star-join
    * planning exercise: the two FACT tables (lineitem ⋈ filtered
    * orders) meet in the one genuine shuffle join on orderkey with the
    * date filter pushed below it; customer/supplier/nation/region are
    * all broadcast, with the region filter applied BEFORE its
    * broadcast so non-qualifying nations never reach the probe side.
    * The same-nation condition rides on the supplier broadcast join.
    * Cites /root/reference/metrics/lib/metrics.py's join-then-
    * aggregate surface; the shape is public TPC-H Q5. */
  def localSupplierVolume(lineitem: DataFrame, orders: DataFrame,
                          customer: DataFrame, supplier: DataFrame,
                          nation: DataFrame, region: DataFrame,
                          regionName: String, yearStart: String,
                          yearEnd: String): DataFrame =
    lineitem
      .join(orders.where(col("o_orderdate") >= lit(yearStart) &&
        col("o_orderdate") < lit(yearEnd)),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer.select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(supplier.select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region.where(col("r_name") === regionName)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(desc("revenue"), asc("n_name"))

  /** TPC-H Q10 shape — returned-item report: the top customers by
    * lost revenue from RETURNED line items in one order quarter, with
    * their nation. Fact side first: lineitem's returnflag filter and
    * orders' quarter window both push to the scans before the
    * orderkey shuffle join; the per-customer aggregate runs on the
    * join grain, and only THEN do the customer/nation broadcasts
    * decorate the (customers)-sized result — decorating before the
    * aggregate would carry name strings through the fact shuffle.
    * TakeOrdered top-k, revenue-desc with custkey tie-break. */
  def returnedItemReport(lineitem: DataFrame, orders: DataFrame,
                         customer: DataFrame, nation: DataFrame,
                         quarterStart: String, quarterEnd: String,
                         k: Int): DataFrame =
    lineitem.where(col("l_returnflag") === "R")
      .join(orders.where(col("o_orderdate") >= lit(quarterStart) &&
        col("o_orderdate") < lit(quarterEnd)),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"),
        count(lit(1)).as("n_items"))
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey").as("custkey"), col("c_name").as("name"),
        col("n_name").as("nation"), col("revenue"), col("n_items"))
      .orderBy(desc("revenue"), asc("custkey"))
      .limit(k)

  /** Top-3 orders per customer by totalprice: ranking window on the
    * natural partition key; ties broken by orderkey for determinism. */
  def topOrdersPerCustomer(orders: DataFrame, n: Int = 3): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
    orders
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= n)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rk"))
      .orderBy(col("o_custkey"), col("rk"))
  }

  /** Bloom-pruned fact⋈dim join — the runtime-filter pattern for
    * selective dimension joins at fact-table scale: the filtered dim
    * side's keys aggregate into ONE fixed-size bloom bitset (via the
    * native `graft_bloom_agg`, map-side combined), the bitset
    * broadcasts to the fact scan, and `graft_bloom_contains` drops
    * non-joining fact rows BEFORE the join exchange — the shuffle
    * then carries only the ~selectivity fraction of the fact table
    * instead of all of it. Bloom false positives survive the filter
    * but die in the exact join, so the result is byte-identical to
    * the plain join (the oracle IS the plain join); false negatives
    * are impossible. 2²⁰ bits ≈ 128 KB handles ~10⁵ keys at <1% FP —
    * sizing is per-use, the mechanism is scale-free. Per-nation
    * order stats keep aggregate groups small enough that the
    * cents-rounded revenue sum is engine-stable. */
  def bloomPrunedOrderStats(orders: DataFrame, customer: DataFrame,
                            maxNation: Int,
                            numBits: Int = 1 << 20,
                            numHashes: Int = 4): DataFrame = {
    val dim = customer.where(col("c_nationkey") < maxNation)
      .select(col("c_custkey"), col("c_nationkey"))
    // the bitset collapses to ONE driver-side blob (the trainCentroids
    // pattern) and enters the fact filter as a literal — shipped once
    // per task closure. The first cut rode the rows via a broadcast
    // crossJoin, which CONCATENATED the 128 KB blob onto every fact
    // row (measured 35 s at the sf1 probe vs 0.5 s at sf0.1 — pure
    // memcpy); as a literal the probe fell back to linear scan cost.
    val blob = dim.agg(expr(
      s"graft_bloom_agg(xxhash64(c_custkey), $numBits, $numHashes)").as("bf"))
      .head().getAs[Array[Byte]](0)
    val pruned = orders
      .select(col("o_custkey"), col("o_totalprice"))
      .where(call_function("graft_bloom_contains",
        lit(blob), expr("xxhash64(o_custkey)")))
    pruned.join(dim, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("revenue"))
      .orderBy(col("c_nationkey"))
  }

  /** The aggregate twin of [[topOrdersPerCustomer]], built on the
    * native `graft_topk` bounded-heap aggregate: identical output
    * (hash-matched against the same window oracle), different physical
    * plan — a window must shuffle and SORT every order row per
    * customer, while the heap aggregate combines map-side and ships
    * groups×k entries through the exchange with no sort at all. At
    * 100 TB the window's per-partition sort is the bottleneck; the
    * aggregate's shuffle volume is the OUTPUT size. */
  def topOrdersPerCustomerAgg(orders: DataFrame, n: Int = 3): DataFrame =
    orders.groupBy(col("o_custkey"))
      .agg(call_function("graft_topk",
        col("o_totalprice"), col("o_orderkey"), lit(n)).as("top"))
      .select(col("o_custkey"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("o_custkey"),
        col("e.id").as("o_orderkey"),
        col("e.score").as("o_totalprice"),
        (col("pos") + 1).cast("int").as("rk"))
      .orderBy(col("o_custkey"), col("rk"))

  /** Semi-structured property extraction + validity QA: parse the JSON
    * `props` payload, extract the numeric `k` field, and aggregate per
    * event type the row count, how many rows yielded a value (valid
    * JSON with the field present), how many did not (malformed payload
    * OR missing field — both surface as NULL, the PERMISSIVE-parse
    * contract), and the min/max/sum of the extracted values. The
    * payload-health QA a pipeline runs before trusting a
    * semi-structured column. get_json_object is a row-local codegen'd
    * projection — the whole operator is a scan plus ONE
    * map-side-combine hash aggregate on the (low-cardinality) type;
    * the props column never shuffles. */
  def propsHealth(events: DataFrame): DataFrame =
    events
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        count(col("k")).as("n_valid"),
        (count(lit(1)) - count(col("k"))).as("n_invalid"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        sum(col("k")).as("sum_k"))
      .orderBy(col("event_type"))

  /** Tumbling 1-hour event-time windows per event type. Same transform
    * is reused by streaming/EventStream with a watermark. */
  def eventWindows(events: DataFrame): DataFrame =
    events
      .groupBy(
        window(col("ts"), "1 hour").getField("start").as("window_start"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("window_start"), col("event_type"))

  /** Mergeable per-day partial aggregates of `value` per event type —
    * the nightly artifact an incremental warehouse keeps so that
    * rollups NEVER re-scan history. Values live on the data's native
    * integer cent grid, so the moments (n, Σc, Σc², min, max) are
    * exact integers and merge associatively: any union of days can be
    * combined with plain sums. Σc² of a 490-dollar cent value is
    * ≈2.4e9 per row — a group overflows signed 64-bit only past ~3.8e9
    * rows per (type, day), far beyond any real daily partition. */
  def dailyPartials(events: DataFrame): DataFrame =
    events.where(col("value").isNotNull)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        floor(col("value") * 100 + 0.5).as("c"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("sum_c"),
        sum(col("c") * col("c")).as("sumsq_c"),
        min(col("c")).as("min_c"), max(col("c")).as("max_c"))

  /** Merge daily partials into a weekly rollup with exact mean and
    * population variance recovered from the merged moments. The
    * integer moments (Σc, Σc²) merge exactly; the variance step is
    * then computed in DOUBLE as E[c²] − E[c]², i.e.
    * sumsq_c/n − (sum_c/n)², with the identical operation order
    * mirrored in the oracle — IEEE-deterministic in both engines.
    * (The integer form n·Σc² − (Σc)² would overflow int64 at roughly
    * n ≈ 6e4 rows per group for cent values near 5e4; the double form
    * has no such cliff — bigint→double casts round identically in
    * both engines at any magnitude.)
    *
    * Shape for 100 TB: this second aggregation reads ONLY the partial
    * table — (types × days) rows however large the raw history is;
    * re-summarizing a year costs 365 rows per type, not a year of
    * events. */
  def mergeRollup(partials: DataFrame): DataFrame =
    partials
      .groupBy(col("event_type"),
        date_trunc("week", col("day")).cast("date").as("week"))
      .agg(sum(col("n")).as("n"), count(lit(1)).as("n_days"),
        sum(col("sum_c")).as("sum_c"), sum(col("sumsq_c")).as("sumsq_c"),
        min(col("min_c")).as("min_c"), max(col("max_c")).as("max_c"))
      .select(col("event_type"), col("week"), col("n"), col("n_days"),
        (col("sum_c").cast("double") / col("n") / 100.0).as("mean_value"),
        ((col("sumsq_c").cast("double") / col("n") -
          (col("sum_c").cast("double") / col("n")) *
            (col("sum_c").cast("double") / col("n"))) / 10000.0)
          .as("var_value"),
        (col("min_c").cast("double") / 100.0).as("min_value"),
        (col("max_c").cast("double") / 100.0).as("max_value"))
      .orderBy(col("event_type"), col("week"))

  /** Shipping-priority report (the classic TPC-H Q3 shape): unshipped
    * revenue per order for one market segment at a cutoff date — two
    * selective joins then a top-k by revenue. Scale shape: both date
    * filters and the segment filter push into the scans (Catalyst
    * pushes them below the joins), the customer leg reduces to keys
    * before joining, and the final top-k is orderBy+limit — Spark
    * plans TakeOrderedAndProject (per-partition heaps, no global
    * sort). Revenue is rounded to cents (like every money query in
    * the engine) so the ORDER BY revenue DESC ranking and the top-k
    * cut are immune to double summation-order wobble near ties. */
  def shippingPriority(customer: DataFrame, orders: DataFrame,
                       lineitem: DataFrame, segment: String,
                       cutoff: String, k: Int): DataFrame =
    lineitem.where(col("l_shipdate") > lit(cutoff))
      .join(orders.where(col("o_orderdate") < lit(cutoff)),
        col("l_orderkey") === col("o_orderkey"))
      .join(customer.where(col("c_mktsegment") === segment)
        .select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"),
        col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
      .limit(k)

  /** Sole-late-supplier report (the TPC-H Q21 join shape on this
    * schema): per supplier, how many multi-supplier orders they alone
    * shipped late (ship delay > `delayDays` after the order date).
    * The interesting part is the plan: EXISTS (another supplier on
    * the order) and NOT EXISTS (another LATE supplier on the order)
    * become one left-SEMI and one left-ANTI join keyed on l_orderkey
    * — no count-distinct blowup, no self-aggregation; each join ships
    * only the keys+suppkey projection of lineitem, and the late frame
    * is computed once and reused for the anti side. */
  def soleLateSuppliers(lineitem: DataFrame, orders: DataFrame,
                        supplier: DataFrame, delayDays: Int): DataFrame = {
    val lines = lineitem.select(col("l_orderkey"), col("l_suppkey"))
    val lateRaw = lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .where(datediff(col("l_shipdate"), col("o_orderdate")) > delayDays)
      .select(col("l_orderkey"), col("l_suppkey"))
    // read by both the semi and anti sides; Caches-tracked so a host
    // session can release it (ADVICE round-6: no orphan cache pins)
    val late = graft.Caches.hold(lateRaw)
    val l1 = late.as("l1")
    val sole = l1
      .join(lines.as("l2"),
        col("l1.l_orderkey") === col("l2.l_orderkey") &&
          col("l1.l_suppkey") =!= col("l2.l_suppkey"), "left_semi")
      .join(late.as("l3"),
        col("l1.l_orderkey") === col("l3.l_orderkey") &&
          col("l1.l_suppkey") =!= col("l3.l_suppkey"), "left_anti")
    sole.groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("numwait"))
      .join(supplier.select(col("s_suppkey"), col("s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
  }

  /** Small-order revenue per brand (TPC-H Q17 shape): lines whose
    * quantity falls below `smallFrac` × that part's average order
    * quantity — the "would drop-shipping these tiny orders matter"
    * report. The interesting part is the correlated scalar subquery
    * (per-part average): it becomes ONE part-grain aggregate joined
    * back to the line stream on the part key — never a per-row
    * subquery — and the brand dimension rides as a broadcast.
    *
    * Determinism: quantities are integer-valued doubles, so the
    * per-part sum is exact in any order and the average is one
    * correctly-rounded division; the smallFrac·avg threshold and the
    * strict compare replay identically in DuckDB. Revenue sums
    * integer cents. */
  def smallOrderRevenue(lineitem: DataFrame, part: DataFrame,
                        smallFrac: Double = 0.2): DataFrame = {
    val avgq = lineitem.groupBy(col("l_partkey"))
      .agg((sum(col("l_quantity")) / count(lit(1))).as("avg_qty"))
    lineitem.select(col("l_partkey"), col("l_quantity"),
        col("l_extendedprice"))
      .join(avgq, "l_partkey")
      .where(col("l_quantity") < lit(smallFrac) * col("avg_qty"))
      .join(broadcast(part.select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_small_lines"),
        sum(round(col("l_extendedprice") * 100).cast("bigint"))
          .as("rev_cents"))
      .select(col("p_brand"), col("n_small_lines"),
        (col("rev_cents").cast("double") / 100.0).as("revenue"))
      .orderBy(col("p_brand"))
  }

  /** Bulk-order report (TPC-H Q18 shape): orders whose total line
    * quantity exceeds `minQty`, with their customer — the
    * HAVING-filtered aggregate used as a join input. The aggregate
    * collapses lineitem to the order grain BEFORE any join (the fact
    * table's only exchange), the filter drops ~99% of orders at that
    * grain, and the two key joins carry only qualifying orders; the
    * top-k is TakeOrderedAndProject (per-partition heaps, no global
    * sort). Quantities are integer-valued doubles, so sum_qty and the
    * threshold compare are exact in any order. */
  def bulkOrders(lineitem: DataFrame, orders: DataFrame,
                 customer: DataFrame, minQty: Double = 200,
                 topK: Int = 100): DataFrame = {
    val big = lineitem.groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("sum_qty"))
      .where(col("sum_qty") > minQty)
    orders.join(big, col("o_orderkey") === col("l_orderkey"))
      .join(customer.select(col("c_custkey"), col("c_name")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(topK)
  }

  /** Idle high-balance customers (TPC-H Q22 shape with a recency
    * twist): customers whose balance exceeds the positive-balance
    * AVERAGE and who placed no order in the trailing `idleDays` —
    * the scalar-subquery threshold plus NOT EXISTS, as one broadcast
    * 1-row aggregate plus one left-ANTI join (never a per-row
    * subquery). The recency window replaces classic Q22's
    * no-orders-ever (degenerate on a corpus where every customer
    * orders); the frontier is a broadcast max like the freshness QA.
    * Determinism: balances are integer cents and the above-average
    * test is the integer cross-multiplication `bal·n > Σbal` — no
    * average division anywhere; per-nation totals sum cents. */
  def idleRichCustomers(customer: DataFrame, orders: DataFrame,
                        idleDays: Int = 365): DataFrame = {
    val bal = customer.select(col("c_custkey"), col("c_nationkey"),
      round(col("c_acctbal") * 100).cast("bigint").as("bal_cents"))
    val thr = bal.where(col("bal_cents") > 0)
      .agg(sum(col("bal_cents")).as("sc"), count(lit(1)).as("n"))
    val mx = orders.agg(max(col("o_orderdate")).as("mx"))
    val recent = orders.crossJoin(broadcast(mx))
      .where(col("o_orderdate") > expr(s"mx - INTERVAL '$idleDays' DAY"))
      .select(col("o_custkey"))
    bal.crossJoin(broadcast(thr))
      .where(col("bal_cents") * col("n") > col("sc"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_custs"),
        (sum(col("bal_cents")).cast("double") / 100.0).as("total_bal"))
      .orderBy(col("c_nationkey"))
  }

  /** Order-priority check (TPC-H Q4 shape): orders placed in a
    * window that had at least one late line — EXISTS as one left-SEMI
    * join carrying only lineitem's (orderkey, shipdate) projection.
    * The date window pushes to the orders scan; the semi join
    * deduplicates multi-late-line orders for free (no distinct, no
    * count filter). The lateness test compares calendar days
    * (datediff on midnight timestamps), exact in both engines. */
  def orderPriorityCheck(orders: DataFrame, lineitem: DataFrame,
                         start: String, end: String,
                         lateDays: Int): DataFrame =
    orders.where(col("o_orderdate") >= lit(start).cast("timestamp") &&
        col("o_orderdate") < lit(end).cast("timestamp"))
      .join(lineitem.select(col("l_orderkey"), col("l_shipdate")),
        col("o_orderkey") === col("l_orderkey") &&
          datediff(col("l_shipdate"), col("o_orderdate")) > lateDays,
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))

  /** Revenue-change forecast (TPC-H Q6 shape): the what-if of
    * eliminating a discount band — a pure scan-side filter aggregate,
    * zero joins, zero shuffles beyond the final 1-row combine. All
    * four predicates push into the parquet scan (year bounds as
    * timestamp min/max, discount band, quantity cap); discounts are
    * the generator's 11 exact 0.01-grid doubles, so the band compare
    * replays bit-identically in DuckDB. */
  def revenueChangeForecast(lineitem: DataFrame, yearStart: String,
                            yearEnd: String, discLo: Double,
                            discHi: Double, maxQty: Double): DataFrame =
    lineitem.where(col("l_shipdate") >= lit(yearStart).cast("timestamp") &&
        col("l_shipdate") < lit(yearEnd).cast("timestamp") &&
        col("l_discount") >= discLo && col("l_discount") <= discHi &&
        col("l_quantity") < maxQty)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2)
        .as("revenue_delta"), count(lit(1)).as("n_lines"))

  /** Bilateral trade volume (TPC-H Q7 shape): revenue shipped between
    * two nations per direction per year. Both dimension legs filter
    * to the two nations BEFORE their broadcast, so the fact stream
    * drops to the two-nation slice inside the broadcast-hash probes —
    * the only full-width exchange is the lineitem⋈orders key join.
    * The cross-pair condition (A→B or B→A) runs after both
    * decorations as a cheap string filter on an already-tiny frame. */
  def nationTradeVolume(lineitem: DataFrame, orders: DataFrame,
                        customer: DataFrame, supplier: DataFrame,
                        nation: DataFrame, nationA: String,
                        nationB: String): DataFrame = {
    val n = nation.where(col("n_name").isin(nationA, nationB))
      .select(col("n_nationkey"), col("n_name"))
    val sup = supplier.join(broadcast(n),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = customer.join(broadcast(n),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    lineitem
      .join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .where(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("revenue"), count(lit(1)).as("n_lines"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** National market share (TPC-H Q8 shape): of the revenue a
    * region's customers spent on one part type, what fraction came
    * from one nation's suppliers, per order year. The share's
    * numerator is a conditional sum over the SAME decorated stream as
    * the denominator — one aggregate, not two queries joined. The
    * supplier leg broadcasts with an `is_target` flag instead of
    * filtering (the denominator needs every supplier); the part-type
    * and region filters cut before their joins. Determinism: both
    * sums round to cents first, then one IEEE double division — no
    * re-rounding of the share, so there is no tie to flip. */
  def marketShare(lineitem: DataFrame, orders: DataFrame,
                  customer: DataFrame, supplier: DataFrame,
                  nation: DataFrame, region: DataFrame, part: DataFrame,
                  suppNation: String, custRegion: String,
                  pType: String): DataFrame = {
    val custR = customer
      .join(broadcast(nation.select(col("n_nationkey"), col("n_regionkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region.where(col("r_name") === custRegion)
        .select(col("r_regionkey"))),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"))
    val sup = supplier
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), (col("n_name") === suppNation).as("is_target"))
    val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    lineitem
      .join(broadcast(part.where(col("p_type") === pType)
        .select(col("p_partkey"))), col("l_partkey") === col("p_partkey"))
      .join(orders.select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate")), col("l_orderkey") === col("o_orderkey"))
      .join(custR, col("o_custkey") === col("c_custkey"), "left_semi")
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(round(sum(when(col("is_target"), rev).otherwise(lit(0.0))), 2)
        .as("target_rev"), round(sum(rev), 2).as("total_rev"))
      .select(col("o_year"), col("target_rev"), col("total_rev"),
        (col("target_rev") / col("total_rev")).as("mkt_share"))
      .orderBy(col("o_year"))
  }

  /** Product-type profit by nation and year (TPC-H Q9 shape on a
    * schema without supplycost: profit = discounted revenue). The
    * part-type filter broadcasts as a key set and cuts the fact
    * stream FIRST — the orders key join (the one real exchange) then
    * carries only the type's slice; supplier→nation decorates via two
    * broadcasts after the cut. */
  def productTypeProfit(lineitem: DataFrame, orders: DataFrame,
                        supplier: DataFrame, nation: DataFrame,
                        part: DataFrame, pType: String): DataFrame =
    lineitem
      .join(broadcast(part.where(col("p_type") === pType)
        .select(col("p_partkey"))), col("l_partkey") === col("p_partkey"))
      .join(orders.select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supplier.select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("profit"), count(lit(1)).as("n_lines"))
      .orderBy(col("nation"), col("o_year").desc)

  /** Ship-delay / order-priority cross-tab (TPC-H Q12 shape with the
    * ship-delay band standing in for the absent shipmode column):
    * lines shipped in a window, bucketed LATE vs ONTIME by calendar-
    * day delay, counting high-priority (urgent/high) vs low-priority
    * orders in each band. One fact⋈fact key join (the date filter
    * pushed to the lineitem scan), then a two-row aggregate —
    * conditional integer sums, exact in any order. */
  def shipDelayPriority(lineitem: DataFrame, orders: DataFrame,
                        start: String, end: String,
                        lateDays: Int): DataFrame = {
    // NULL priority is explicitly LOW on both engine and oracle sides
    // (coalesce before the isin; a bare NOT IN would drop NULLs).
    val hi = coalesce(col("o_orderpriority"), lit(""))
      .isin("1-URGENT", "2-HIGH")
    lineitem.where(col("l_shipdate") >= lit(start).cast("timestamp") &&
        col("l_shipdate") < lit(end).cast("timestamp"))
      .join(orders.select(col("o_orderkey"), col("o_orderdate"),
        col("o_orderpriority")), col("l_orderkey") === col("o_orderkey"))
      .select(when(datediff(col("l_shipdate"), col("o_orderdate")) > lateDays,
        lit("LATE")).otherwise(lit("ONTIME")).as("delay_band"),
        when(hi, lit(1L)).otherwise(lit(0L)).as("hi"))
      .groupBy(col("delay_band"))
      .agg(sum(col("hi")).as("high_line_count"),
        sum(lit(1L) - col("hi")).as("low_line_count"))
      .orderBy(col("delay_band"))
  }

  /** Customer order-count distribution (TPC-H Q13 shape): how many
    * customers placed exactly k orders, zero included — the left
    * OUTER join whose unmatched side carries information. Orders
    * filter (excluded priority class) before the join; count of the
    * right key (not count(*)) makes the no-order customer a 0, and
    * the second, customers-sized aggregate is grid-cheap. */
  def customerOrderDistribution(customer: DataFrame, orders: DataFrame,
                                excludePriority: String): DataFrame =
    customer.select(col("c_custkey"))
      .join(orders.where(col("o_orderpriority") =!= excludePriority)
        .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_custkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  /** Promotion revenue share per month (TPC-H Q14 shape): the part
    * dimension broadcasts with an `is_promo` flag (the denominator
    * needs every part), one month-grain conditional aggregate, then
    * the percentage as `100·promo/total` — cent-rounded sums first,
    * one IEEE multiply+divide after, mirrored operation-for-operation
    * in the oracle. */
  def promoRevenueShare(lineitem: DataFrame, part: DataFrame,
                        promoType: String, start: String,
                        end: String): DataFrame = {
    val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    lineitem.where(col("l_shipdate") >= lit(start).cast("timestamp") &&
        col("l_shipdate") < lit(end).cast("timestamp"))
      .join(broadcast(part
        .select(col("p_partkey"), (col("p_type") === promoType).as("is_promo"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(date_trunc("month", col("l_shipdate")).cast("date").as("month"))
      .agg(round(sum(when(col("is_promo"), rev).otherwise(lit(0.0))), 2)
        .as("promo_rev"), round(sum(rev), 2).as("total_rev"))
      .select(col("month"), col("promo_rev"), col("total_rev"),
        (lit(100.0) * col("promo_rev") / col("total_rev")).as("promo_pct"))
      .orderBy(col("month"))
  }

  /** Top supplier of a window (TPC-H Q15 shape): per-supplier revenue
    * aggregate, then the max-revenue supplier(s) via a broadcast
    * 1-row max crossed back — never a single-partition global window.
    * Revenue rounds to cents BEFORE the max/equality compare, so the
    * argmax can't be flipped by summation-order ulps and ties emerge
    * as genuine multi-row answers (classic Q15 semantics). */
  def topSupplier(lineitem: DataFrame, supplier: DataFrame,
                  start: String, end: String): DataFrame = {
    val rev = lineitem.where(col("l_shipdate") >= lit(start).cast("timestamp") &&
        col("l_shipdate") < lit(end).cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("total_revenue"))
    // supplier-sized; persisted (Caches-tracked, releasable) because
    // the max probe and the equality filter both read it
    val revP = graft.Caches.hold(rev)
    val mx = revP.agg(max(col("total_revenue")).as("mx"))
    val out = revP.crossJoin(broadcast(mx))
      .where(col("total_revenue") === col("mx"))
      .join(broadcast(supplier.select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy(col("s_suppkey"))
    out
  }

  /** Part-supplier variety (TPC-H Q16 shape from lineitem-observed
    * pairs — the schema has no partsupp table): distinct supplier
    * count per (brand, type, size band), one brand excluded. The
    * (partkey, suppkey) distinct caps everything downstream at
    * |part|×|suppliers-per-part| rows however large the fact table
    * is; the part attributes broadcast onto that reduced frame. */
  def partSupplierVariety(lineitem: DataFrame, part: DataFrame,
                          excludeBrand: String, sizeBand: Int): DataFrame =
    lineitem.select(col("l_partkey"), col("l_suppkey")).distinct()
      .join(broadcast(part.where(col("p_brand") =!= excludeBrand)
        .select(col("p_partkey"), col("p_brand"), col("p_type"),
          (floor(col("p_size") / sizeBand) * sizeBand).cast("int")
            .as("size_band"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("size_band"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("size_band"))

  /** Disjunctive-predicate revenue (TPC-H Q19 shape): three
    * brand×size×quantity clauses OR'd together, reported per clause.
    * The brands are disjoint so the when-chain labels exactly; the
    * part attributes ride a broadcast and Catalyst pushes the
    * disjunction below the join where the quantity legs prune the
    * scan. Per-clause revenue rounds to cents. */
  def disjunctiveRevenue(lineitem: DataFrame, part: DataFrame,
                         brands: Seq[String]): DataFrame = {
    require(brands.size == 3)
    val c1 = col("p_brand") === brands(0) && col("p_size").between(1, 10) &&
      col("l_quantity").between(1, 15)
    val c2 = col("p_brand") === brands(1) && col("p_size").between(11, 25) &&
      col("l_quantity").between(10, 25)
    val c3 = col("p_brand") === brands(2) && col("p_size").between(26, 50) &&
      col("l_quantity").between(20, 35)
    lineitem
      .join(broadcast(part.select(col("p_partkey"), col("p_brand"),
        col("p_size"))), col("l_partkey") === col("p_partkey"))
      .where(c1 || c2 || c3)
      .select(when(c1, lit("clause_1")).when(c2, lit("clause_2"))
        .otherwise(lit("clause_3")).as("clause"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
      .groupBy(col("clause"))
      .agg(round(sum(col("rev")), 2).as("revenue"), count(lit(1)).as("n_lines"))
      .orderBy(col("clause"))
  }

  /** Gini coefficient of customer revenue concentration per nation —
    * the "do 1% of customers carry this market" inequality gauge
    * behind quota and risk planning. G = 2·Σᵢ(i·xᵢ)/(n·Σx) − (n+1)/n
    * over each nation's customers sorted by revenue (ties broken by
    * custkey, so ranks are total and both engines agree).
    *
    * Exactness: revenue is integer cents (order totals summed per
    * customer), the rank-weighted sum Σ(i·xᵢ) is exact bigint —
    * overflow past ~10⁷ customers of ~10⁹ cents per nation
    * (i·xᵢ ≈ 10¹⁶, summed — documented bound), and the two
    * divisions run in double with mirrored operation order. Shape:
    * one customer-grain aggregate, a per-nation sort window (rank
    * within nation — parallel across nations, the partition bounded
    * by the hottest nation), one nation-grain aggregate. */
  def giniByNation(orders: DataFrame, customer: DataFrame): DataFrame = {
    val rev = orders
      .select(col("o_custkey"), round(col("o_totalprice") * 100)
        .cast("bigint").as("cents"))
      .groupBy(col("o_custkey")).agg(sum(col("cents")).as("rev_c"))
      .join(customer.select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
    // a row_number window partitioned by nation: the two-phase
    // [[Ranking.groupedRank]] form of it ran 6 more jobs and was slower
    // warm at sf0.1 and at ×10 (CHANGES.md)
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("rev_c"), col("o_custkey"))
    rev
      .withColumn("rk", row_number().over(w).cast("long"))
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_custs"), sum(col("rev_c")).as("total_c"),
        sum(col("rk") * col("rev_c")).as("iws"))
      .select(col("c_nationkey"), col("n_custs"),
        (col("total_c").cast("double") / 100.0).as("total_rev"),
        ((lit(2.0) * col("iws")) /
          (col("n_custs").cast("double") * col("total_c")) -
          (col("n_custs") + 1).cast("double") / col("n_custs"))
          .as("gini"))
      .orderBy(col("c_nationkey"))
  }

  /** Discount lift per brand: mean line quantity on discounted vs
    * undiscounted lines — "does discounting actually move volume for
    * this brand", the first-order elasticity read every pricing
    * review starts with. Quantities are integer-valued doubles, so
    * the per-group sums are exact in any order; each mean is one IEEE
    * division and the lift is one more, mirrored in the oracle. The
    * brand dimension rides a broadcast; one (brand, discounted)
    * aggregate then a brands-sized pivot join. */
  def discountLift(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val agg = lineitem
      .join(broadcast(part.select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), (col("l_discount") > 0.0).as("disc"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sq"))
    val d = agg.where(col("disc"))
      .select(col("p_brand"), col("n").as("n_disc"),
        (col("sq") / col("n")).as("avg_qty_disc"))
    val nd = agg.where(!col("disc"))
      .select(col("p_brand").as("b2"), col("n").as("n_nodisc"),
        (col("sq") / col("n")).as("avg_qty_nodisc"))
    d.join(nd, col("p_brand") === col("b2"))
      .select(col("p_brand"), col("n_disc"), col("n_nodisc"),
        col("avg_qty_disc"), col("avg_qty_nodisc"),
        (col("avg_qty_disc") / col("avg_qty_nodisc")).as("qty_lift"))
      .orderBy(col("p_brand"))
  }

  /** Discount elasticity of demand per brand: the closed-form
    * least-squares slope of order quantity on the discount level —
    * "how many extra units does one discount point buy", the
    * dose-response refinement of [[discountLift]]'s binary
    * discounted-vs-not contrast (a lift of 1.1 can hide a flat curve
    * with one deep-discount outlier; the slope sees the whole ladder).
    *
    * Exact-moment shape: x = the discount in integer points
    * (round(l_discount·100) — the data's own 0.01 grid), y = integer
    * units, so (n, Σx, Σy, Σx², Σxy) are exact integer sums off ONE
    * brand-grain hash aggregate — no second pass, no window. Moments
    * fold as plain BIGINT: x ≤ 10 and y ≤ 50 bound every per-row
    * term (x·y ≤ 500, x² ≤ 100), so Σxy stays under int64 until
    * ~10¹⁶ lines PER BRAND — brand cardinality alone (thousands of
    * brands over 100 TB ≈ 10¹¹ lines) keeps real data 5+ orders of
    * magnitude away, and bigint sums stay codegen-native while a
    * DECIMAL(38,0) fold allocates a BigDecimal per row (the round-9
    * 100× probe measured that version at 250 s / 60M rows). The
    * oracle's HUGEINT sums agree exactly because both fit the same
    * integers. The slope is a fixed-shape double expression over
    * per-moment casts — both engines multiply the same doubles in
    * the same order. Single-discount-level brands have zero
    * x-variance → NULL slope via nullif, not a division blowup. */
  def discountElasticity(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val base = lineitem
      .join(broadcast(part.select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      // plain BIGINT moments: x ≤ 10 points, y ≤ 50 units, so Σx·y ≤
      // 500·n — int64 overflows only past ~10¹⁶ lines per brand, while
      // decimal(38,0) sums allocate a BigDecimal per row (the round-9
      // 100× probe measured the decimal version at 250 s / 60M rows;
      // the bigint version is codegen-native)
      .select(col("p_brand"),
        round(col("l_discount") * 100).cast("long").as("x"),
        round(col("l_quantity")).cast("long").as("y"))
    base.groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("p_brand"), col("n_lines"),
        (col("sy").cast("double") / col("n_lines").cast("double"))
          .as("avg_qty"),
        ((col("n_lines").cast("double") * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")) /
          nullif(col("n_lines").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double"),
            lit(0.0))).as("qty_slope_per_pt"))
      .orderBy(col("p_brand"))
  }

  /** Customer lifetime-value deciles per market segment: customers
    * ranked by total order revenue within their segment, cut into ten
    * equal-population tiles, with each decile's headcount, revenue,
    * revenue share and cumulative share — the "top 10% of customers
    * carry X% of revenue" table that [[giniByNation]] compresses to
    * one number (the Gini says HOW concentrated; the decile table
    * says WHERE the mass sits, which is what a retention budget
    * needs).
    *
    * Scale shape: revenue is a cent-exact customer-grain aggregate
    * (the only corpus-sized shuffle), the segment label a broadcast
    * dim join, and the ntile window partitions BY SEGMENT — no global
    * single-partition sort; within a segment the customer grain is
    * already ≪ the order grain. Ties order by (rev, custkey) so tile
    * boundaries are deterministic in both engines; shares are one
    * double division off bigint cent sums per decile row. */
  def ltvDeciles(orders: DataFrame, customer: DataFrame): DataFrame = {
    val rev = orders
      .select(col("o_custkey"),
        round(col("o_totalprice") * 100).cast("bigint").as("cents"))
      .groupBy(col("o_custkey")).agg(sum(col("cents")).as("rev_c"))
      .join(broadcast(customer.select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
    // an ntile window partitioned by segment: the two-phase
    // [[Ranking.groupedRank]] + [[Ranking.ntileExpr]] form of it ran 7
    // more jobs and was slower warm at sf0.1 and at ×10 (CHANGES.md)
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("rev_c"), col("o_custkey"))
    val wseg = Window.partitionBy(col("segment"))
    val wcum = Window.partitionBy(col("segment")).orderBy(col("decile"))
    rev
      .withColumn("decile", ntile(10).over(w).cast("long"))
      .groupBy(col("c_mktsegment").as("segment"), col("decile"))
      .agg(count(lit(1)).as("n_custs"), sum(col("rev_c")).as("rev_cents"))
      .select(col("segment"), col("decile"), col("n_custs"),
        (col("rev_cents").cast("double") / 100.0).as("revenue"),
        (col("rev_cents").cast("double") /
          sum(col("rev_cents")).over(wseg).cast("double")).as("rev_share"),
        (sum(col("rev_cents")).over(wcum).cast("double") /
          sum(col("rev_cents")).over(wseg).cast("double")).as("cum_share"))
      .orderBy(col("segment"), col("decile"))
  }

  /** Per-brand price dispersion: for each part, the exact integer-cent
    * realized unit price per line (`cents div qty` — integer division,
    * no float anywhere), then per brand the share of parts whose
    * unit-price RANGE exceeds 10% of their own floor
    * (`(max−min)·10 > min`, integer cross-multiplication) — the
    * price-consistency QA next to [[priceRealization]]'s levels: a
    * brand can realize the right average while selling the same part
    * at wildly different effective prices, which is exactly the
    * leakage a pricing audit hunts.
    *
    * Shape: one part-grain min/max aggregate off the line stream (the
    * only corpus-sized exchange), the brand dim rides a broadcast,
    * and the rollup is a brands-sized grid; the mean range is one
    * double division of exact bigints. */
  def priceDispersion(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val unit = lineitem
      .select(col("l_partkey"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT) div CAST(l_quantity AS BIGINT)")
          .as("unit_c"))
      .groupBy(col("l_partkey"))
      .agg(min(col("unit_c")).as("min_c"), max(col("unit_c")).as("max_c"))
    unit
      .join(broadcast(part.select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_parts"),
        sum(when((col("max_c") - col("min_c")) * 10 > col("min_c"), 1L)
          .otherwise(0L)).as("n_dispersed"),
        sum(col("max_c") - col("min_c")).as("range_sum_c"))
      .select(col("p_brand"), col("n_parts"), col("n_dispersed"),
        (col("n_dispersed").cast("double") / col("n_parts"))
          .as("dispersed_share"),
        (col("range_sum_c").cast("double") / col("n_parts") / 100.0)
          .as("mean_range"))
      .orderBy(col("p_brand"))
  }

  /** Per-brand catalog coverage: how much of each brand's part catalog
    * has EVER sold (the brand rollup of [[deadStock]]'s raw list), with
    * cent-exact revenue per selling part — the assortment-efficiency
    * table: low coverage with high revenue-per-seller is a catalog
    * carrying dead weight, the first read before a range cut.
    *
    * Shape: one part-grain revenue aggregate off the line stream, a
    * part-grain LEFT join from the catalog side (never-ordered parts
    * must survive with NULL sales), then a brands-sized rollup; all
    * ratios are single double divisions of exact bigints. */
  def catalogCoverage(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val sold = lineitem
      .select(col("l_partkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
          .cast("bigint").as("cents"))
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_lines"), sum(col("cents")).as("rev_c"))
    part.select(col("p_partkey"), col("p_brand"))
      .join(sold, col("p_partkey") === col("l_partkey"), "left")
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_parts"),
        count(col("rev_c")).as("n_sellers"),
        coalesce(sum(col("rev_c")), lit(0L)).as("brand_c"))
      .select(col("p_brand"), col("n_parts"), col("n_sellers"),
        (col("n_sellers").cast("double") / col("n_parts"))
          .as("coverage"),
        (col("brand_c").cast("double") / 100.0).as("revenue"),
        (col("brand_c").cast("double") /
          nullif(col("n_sellers").cast("double"), lit(0.0)) / 100.0)
          .as("revenue_per_seller"))
      .orderBy(col("p_brand"))
  }

  /** Per-segment account-balance bands: exact quartiles, mean and the
    * negative-balance share of customer balances on the integer-cent
    * grid — the finance-QA view of the customer dim the idle-customer
    * report (Q22 shape) thresholds against; a segment whose p25 dives
    * negative is a receivables problem no mean shows.
    *
    * Shape: customers collapse onto the (segment, cents) grid, exact
    * percentiles run WITH FREQUENCIES there, and mean/share are
    * single divisions of exact bigints — the event-gaps grid
    * contract. */
  def acctbalBands(customer: DataFrame): DataFrame =
    customer.select(col("c_mktsegment").as("segment"),
        round(col("c_acctbal") * 100).cast("bigint").as("cents"))
      .groupBy(col("segment"), col("cents")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("segment"))
      .agg(sum(col("cnt")).as("n_custs"),
        sum(col("cents") * col("cnt")).as("sum_c"),
        coalesce(sum(when(col("cents") < 0, col("cnt"))), lit(0L))
          .as("n_neg"),
        expr("percentile(cents, array(0.25D, 0.5D, 0.75D), cnt)").as("ps"))
      .select(col("segment"), col("n_custs"),
        (col("sum_c").cast("double") / col("n_custs") / 100.0)
          .as("mean_bal"),
        (col("n_neg").cast("double") / col("n_custs")).as("neg_share"),
        (element_at(col("ps"), 1) / 100.0).as("p25_bal"),
        (element_at(col("ps"), 2) / 100.0).as("p50_bal"),
        (element_at(col("ps"), 3) / 100.0).as("p75_bal"))
      .orderBy(col("segment"))

  /** ABC inventory classification: parts ranked by cent-exact
    * discounted revenue, cut at the classic cumulative-share
    * thresholds — class A carries the first 80% of revenue, B the
    * next 15%, C the tail — with each class's part count, revenue
    * and both shares. The stock-policy view next to [[ltvDeciles]]'
    * customer deciles: deciles are equal POPULATION cuts, ABC is
    * equal REVENUE cuts, and purchasing policy keys on the latter
    * (count A parts daily, C parts yearly).
    *
    * Determinism and scale shape: revenue is per-line cents rounding
    * then bigint sums (exact in any order); the class rule is integer
    * cross-multiplication against the total (`5·cum ≤ 4·tot` → A,
    * `20·cum ≤ 19·tot` → B — a part is classed WITH the boundary it
    * closes), so no double compare anywhere near a cut. The only
    * corpus-sized exchange is the part-grain revenue aggregate; the
    * cumulative window then runs over the PART grain (orders of
    * magnitude below the line grain — same adjudication as the
    * decile and Gini rank windows), and the output is a 3-row grid
    * with window-sum shares. */
  def abcAnalysis(lineitem: DataFrame): DataFrame = {
    val rev = lineitem
      .select(col("l_partkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
          .cast("bigint").as("cents"))
      .groupBy(col("l_partkey")).agg(sum(col("cents")).as("rev_c"))
    // The cumulative revenue is NOT one global-order window (that
    // WindowExec has no partition key, so the whole part grain — ∝ SF
    // — funnels through one task at 100 TB): the [[Ranking.groupedRank]]
    // two-phase discipline, for a running SUM. Sub-bucket by
    // (digit count, two leading digits) of rev_c, NEGATED — an
    // integer-exact key monotone in the sort order (rev_c desc; equal
    // rev_c always lands in one bucket, so the (rev_c desc, partkey)
    // tie order completes inside a cell) with ≈90 cells per decimal
    // magnitude. Per-bucket sums roll to exclusive prefix offsets on
    // the ≤~1.5k-row bucket GRID; each row's global cumulative sum is
    // its broadcast bucket offset plus a within-bucket running sum —
    // bigint arithmetic throughout, so bit-identical to the global
    // window. Totals ride a broadcast 1-row aggregate instead of the
    // two whole-frame windows.
    val s = col("rev_c").cast("string")
    val bk = -(length(s) * 100 + substring(s, 1, 2).cast("int"))
    val withB = graft.Caches.hold(rev.withColumn("bk", bk))
    val wOff = Window.orderBy(col("bk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = withB.groupBy(col("bk")).agg(sum(col("rev_c")).as("bsum"))
      .withColumn("b_off", coalesce(sum(col("bsum")).over(wOff), lit(0L)))
      .select(col("bk"), col("b_off"))
    val tot = broadcast(rev.agg(sum(col("rev_c")).as("tot_c"),
      count(lit(1)).as("n_parts_tot")))
    val wCell = Window.partitionBy(col("bk"))
      .orderBy(col("rev_c").desc, col("l_partkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withB.join(broadcast(offs), "bk")
      .withColumn("cum_c", col("b_off") + sum(col("rev_c")).over(wCell))
      .crossJoin(tot)
      .withColumn("abc_class",
        when(col("cum_c") * 5 <= col("tot_c") * 4, "A")
          .when(col("cum_c") * 20 <= col("tot_c") * 19, "B")
          .otherwise("C"))
      .groupBy(col("abc_class"))
      .agg(count(lit(1)).as("n_parts"), sum(col("rev_c")).as("cls_c"),
        max(col("tot_c")).as("tot_c"), max(col("n_parts_tot")).as("n_tot"))
      .select(col("abc_class"), col("n_parts"),
        (col("cls_c").cast("double") / 100.0).as("revenue"),
        (col("cls_c").cast("double") /
          col("tot_c").cast("double")).as("revenue_share"),
        (col("n_parts").cast("double") /
          col("n_tot").cast("double")).as("part_share"))
      .orderBy(col("abc_class"))
  }

  /** Hour-of-day traffic profile per event type: counts on the
    * (type, hour) grid, each hour's share of the type's day, and the
    * type's peak hour (argmax via an order-independent max over
    * (count, −hour) pairs — ties resolve to the EARLIest hour in both
    * engines, no window). One hash aggregate; everything after is
    * grid-sized. The intraday twin of the weekday seasonality row. */
  def hourlyProfile(events: DataFrame): DataFrame = {
    val hg = events
      .groupBy(col("event_type"), hour(col("ts")).as("hr"))
      .agg(count(lit(1)).as("n"))
    val tot = hg.groupBy(col("event_type"))
      .agg(sum(col("n")).as("n_type"),
        max(struct(col("n").as("n"), (-col("hr")).as("nh"))).as("pk"))
      .select(col("event_type").as("t2"), col("n_type"),
        (-col("pk.nh")).cast("int").as("peak_hour"))
    hg.join(tot, col("event_type") === col("t2"))
      .select(col("event_type"), col("hr"), col("n"),
        (col("n").cast("double") / col("n_type")).as("share"),
        col("peak_hour"))
      .orderBy(col("event_type"), col("hr"))
  }

  /** Dead-stock report: parts never ordered (left-ANTI against the
    * fact) plus the live catalog bucketed by revenue DECIMAL
    * MAGNITUDE (the graphStats digit idiom — integer-exact, portable,
    * non-degenerate at any scale). One fact aggregate to the part
    * grain, one anti join, one magnitude aggregate; the dead count
    * rides every row so the report is one frame. */
  def deadStock(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val rev = lineitem
      .groupBy(col("l_partkey"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("double")).as("raw"))
      .select(col("l_partkey"),
        floor(col("raw") * 100 + 0.5).cast("bigint").as("rev_c"))
    val dead = part.join(rev, col("p_partkey") === col("l_partkey"),
      "left_anti").agg(count(lit(1)).as("n_dead_parts"))
    rev
      .groupBy(length(col("rev_c").cast("string")).cast("long")
        .as("rev_digits"))
      .agg(count(lit(1)).as("n_parts"),
        (sum(col("rev_c")).cast("double") / 100.0).as("total_rev"))
      .crossJoin(broadcast(dead))
      .select(col("rev_digits"), col("n_parts"), col("total_rev"),
        col("n_dead_parts"))
      .orderBy(col("rev_digits"))
  }

  /** Repurchase cycle per market segment: the distribution (p25/p50/
    * p75) of days between a customer's CONSECUTIVE orders — the
    * cadence number behind retention and inventory planning. The lag
    * runs in a per-customer window (natural partition key, bounded by
    * the heaviest customer); gaps are exact integer days; the
    * segment-grain percentiles interpolate identically in both
    * engines. */
  def repurchaseCycle(orders: DataFrame, customer: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(
      col("o_orderdate"), col("o_orderkey"))
    orders
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
      .withColumn("prev", lag(col("o_orderdate"), 1).over(w))
      .where(col("prev").isNotNull)
      .select(col("o_custkey"),
        datediff(col("o_orderdate"), col("prev")).cast("long").as("gap"))
      .join(broadcast(customer.select(col("c_custkey"),
        col("c_mktsegment"))), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_gaps"),
        expr("percentile(gap, 0.25)").as("p25_days"),
        expr("percentile(gap, 0.5)").as("p50_days"),
        expr("percentile(gap, 0.75)").as("p75_days"))
      .orderBy(col("c_mktsegment"))
  }

  /** Kaplan–Meier repurchase survival per market segment: S(t) = the
    * probability a customer has NOT yet placed a second order t days
    * after the first, with single-order customers right-CENSORED at
    * the corpus frontier instead of silently dropped — the bias
    * [[repurchaseCycle]]'s observed-gap quartiles can't avoid (they
    * only see customers who DID come back; a cohort whose slow
    * repurchasers haven't returned yet looks faster than it is).
    * Standard product-limit estimator: at each event time, n_at_risk
    * = subjects whose observed time ≥ t (censored-at-t kept at risk),
    * S = Π (1 − d/n) over event times ≤ t.
    *
    * Scale shape: one customer-grain aggregate over orders (the
    * per-customer order-date list is bounded by orders-per-customer,
    * a data-model constant), a broadcast segment join, then EVERYTHING
    * runs on the (segment × distinct gap-days) grid — bounded by the
    * date range, not the corpus. The censor frontier max(o_orderdate)
    * is collected as a literal (driver-small scalar, the operator-frame
    * scan rule). At-risk counts are pure integer window cumsums; the
    * running product folds each segment's (1 − d/n) terms in ascending
    * gap order from an exact 1.0 via a sorted-array aggregate — the
    * ordered-fold discipline, so S(t) is bit-identical in any engine
    * that multiplies doubles in the same order. */
  def kmRepurchase(orders: DataFrame, customer: DataFrame): DataFrame = {
    // timestamp-typed in the testdata; lit() round-trips the JVM value
    val maxd = orders.agg(max(col("o_orderdate"))).first().get(0)
    val subj = orders
      .groupBy(col("o_custkey"))
      .agg(array_sort(collect_list(col("o_orderdate"))).as("ds"))
      .select(col("o_custkey"),
        when(size(col("ds")) >= 2,
          datediff(element_at(col("ds"), 2), element_at(col("ds"), 1)))
          .otherwise(datediff(lit(maxd), element_at(col("ds"), 1)))
          .cast("long").as("gap"),
        when(size(col("ds")) >= 2, 1).otherwise(0).as("ev"))
    val grid = subj
      .join(broadcast(customer.select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"), col("gap"))
      .agg(sum(col("ev")).as("d"),
        (count(lit(1)) - sum(col("ev"))).as("cns"))
    val wall = Window.partitionBy(col("segment"))
    val wprev = Window.partitionBy(col("segment")).orderBy(col("gap"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ev = grid
      .withColumn("n_risk", sum(col("d") + col("cns")).over(wall) -
        coalesce(sum(col("d") + col("cns")).over(wprev), lit(0L)))
      .where(col("d") > 0)
      .withColumn("term", lit(1.0) -
        col("d").cast("double") / col("n_risk").cast("double"))
    ev.groupBy(col("segment"))
      .agg(array_sort(collect_list(struct(col("gap").as("g"),
        col("term").as("t"), col("d").as("d"),
        col("n_risk").as("nr")))).as("a"))
      .select(col("segment"), col("a"), posexplode(col("a")))
      .select(col("segment"),
        col("col.g").as("gap_days"),
        col("col.d").as("n_events"),
        col("col.nr").as("n_at_risk"),
        aggregate(slice(col("a"), lit(1), col("pos") + 1), lit(1.0),
          (acc, x) => acc * x.getField("t")).as("survival"))
      .orderBy(col("segment"), col("gap_days"))
  }

  /** Customer order-intensity migration matrix: customers banded by
    * order count (absent / light=1 / regular=2–4 / heavy=5+) in the
    * FIRST and SECOND half of the order history, one row per
    * (band_h1, band_h2) with headcount and the share of the h1 band
    * that moved there — the full transition picture behind
    * [[graft.operators.Journey.lifecycle]]'s four-bucket accounting
    * (lifecycle says WHO was retained; the matrix says whether your
    * heavy buyers are decaying into light ones, which retention
    * counts can't see). Customers absent in both halves don't exist
    * in the data, so the 'absent'→'absent' cell is structurally
    * empty.
    *
    * Shape: the midpoint date is derived from collected min/max
    * literals (driver-small scalars, the operator-frame scan rule);
    * each half is a customer-grain count aggregate; the full outer
    * join on custkey is the only other shuffle; banding is a
    * row-local CASE and everything after runs on the ≤4×4 grid.
    * Integer date midpoint (lo + days/2) so both engines cut the
    * same day; h1 takes the boundary date. */
  def segmentMigration(orders: DataFrame): DataFrame = {
    // timestamp-typed in the testdata — cast to date BEFORE collecting
    // so the literal and the comparisons are all date-grain; collected
    // as ISO strings (date-typed Row decoding trips over the java8
    // datetime external-row path on this Spark build)
    val r = orders.agg(
      min(col("o_orderdate").cast("date")).cast("string"),
      max(col("o_orderdate").cast("date")).cast("string")).first()
    val (lo, hi) = (java.time.LocalDate.parse(r.getString(0)),
      java.time.LocalDate.parse(r.getString(1)))
    val mid = lit(lo.plusDays(
      java.time.temporal.ChronoUnit.DAYS.between(lo, hi) / 2).toString)
      .cast("date")
    def half(f: DataFrame, nm: String) = f.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as(nm))
    val h1 = half(orders.where(col("o_orderdate").cast("date") <= mid),
      "n1")
    val h2 = half(orders.where(col("o_orderdate").cast("date") > mid),
      "n2")
    def band(c: Column) = when(c.isNull, lit("absent"))
      .when(c === 1, lit("light")).when(c <= 4, lit("regular"))
      .otherwise(lit("heavy"))
    val w1 = Window.partitionBy(col("band_h1"))
    h1.join(h2, Seq("o_custkey"), "full_outer")
      .select(band(col("n1")).as("band_h1"), band(col("n2")).as("band_h2"))
      .groupBy(col("band_h1"), col("band_h2"))
      .agg(count(lit(1)).as("n_customers"))
      .withColumn("share_of_h1",
        col("n_customers").cast("double") /
          sum(col("n_customers")).over(w1).cast("double"))
      .orderBy(col("band_h1"), col("band_h2"))
  }

  /** Average-order-value trend: per-quarter AOV (cent-exact mean)
    * with the closed-form OLS slope and r² of AOV against the
    * quarter index attached as constant columns (the Heaps-fit
    * presentation) — "is basket size actually growing or did one
    * quarter spike". The slope is per-quarter cents-of-AOV, fitted
    * over the handful of quarter points.
    *
    * Determinism: per-quarter AOV is an exact-bigint division; the
    * ≤|quarters|-point fit folds its moments in quarter-index order
    * (sorted struct list — the B-point OLS discipline), and the
    * quarter index itself is a row_number over the GRID, never the
    * corpus. One quarter-grain aggregate is all the corpus work;
    * the grid persists for its two consumers (fit + output). */
  def aovTrend(orders: DataFrame): DataFrame = {
    val grid = orders.select(
        date_trunc("quarter", col("o_orderdate")).cast("date")
          .as("quarter"),
        round(col("o_totalprice") * 100).cast("bigint").as("cents"))
      .groupBy(col("quarter"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_c"))
      .withColumn("aov",
        col("sum_c").cast("double") / col("n_orders") / 100.0)
      .withColumn("qi",
        row_number().over(Window.orderBy(col("quarter"))).cast("double"))
      .transform(graft.Caches.hold)
    val fit = Ranking.olsMoments(grid, Nil, struct(col("qi"), col("aov")),
        _.getField("qi"), _.getField("aov"))
      .select(
        ((col("k") * col("sxy") - col("sx") * col("sy")) /
          nullif(col("k") * col("sxx") - col("sx") * col("sx"),
            lit(0.0))).as("slope_per_quarter"),
        (((col("k") * col("sxy") - col("sx") * col("sy")) *
          (col("k") * col("sxy") - col("sx") * col("sy"))) /
          nullif((col("k") * col("sxx") - col("sx") * col("sx")) *
            (col("k") * col("syy") - col("sy") * col("sy")),
            lit(0.0))).as("r2"))
    grid.crossJoin(broadcast(fit))
      .select(col("quarter"), col("n_orders"), col("aov"),
        col("slope_per_quarter"), col("r2"))
      .orderBy(col("quarter"))
  }

  /** Order-priority mix drift per quarter: each (quarter, priority)
    * cell with its in-quarter share, the priority's overall share,
    * and the delta — "is the urgent share creeping up", the
    * composition trend that total order counts hide. NULL priorities
    * coalesce to '' (the row-2i contract).
    *
    * Shape: one (quarter, priority) hash aggregate is the only
    * corpus-sized exchange; every share is a window sum over the
    * quarters×priorities grid. */
  def priorityMix(orders: DataFrame): DataFrame = {
    val wQ = Window.partitionBy(col("quarter"))
    val wP = Window.partitionBy(col("priority"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    orders.select(
        date_trunc("quarter", col("o_orderdate")).cast("date")
          .as("quarter"),
        coalesce(col("o_orderpriority"), lit("")).as("priority"))
      .groupBy(col("quarter"), col("priority"))
      .agg(count(lit(1)).as("n_orders"))
      .withColumn("quarter_share",
        col("n_orders").cast("double") / sum(col("n_orders")).over(wQ))
      .withColumn("overall_share",
        sum(col("n_orders")).over(wP).cast("double") /
          sum(col("n_orders")).over(wAll))
      .withColumn("drift", col("quarter_share") - col("overall_share"))
      .orderBy(col("quarter"), col("priority"))
  }

  /** Weekday × hour traffic heatmap: the 7×24 grid behind both
    * [[hourlyProfile]] (hours, type-split) and the weekday
    * seasonality index — per cell the event count, its share of ALL
    * traffic and its share within its weekday, which is the pair a
    * capacity planner actually reads (Monday 09:00 can be the global
    * peak while being an ordinary Monday hour). ISO weekday
    * (Monday=1) via Spark's weekday()+1 = DuckDB isodow.
    *
    * Shape: one hash aggregate onto the 168-cell grid off row-local
    * extractions; shares are grid-window sums. */
  def trafficHeatmap(events: DataFrame): DataFrame = {
    val wD = Window.partitionBy(col("iso_weekday"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    events.select((weekday(col("ts")) + 1).as("iso_weekday"),
        hour(col("ts")).as("hod"))
      .groupBy(col("iso_weekday"), col("hod"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("total_share",
        col("n_events").cast("double") / sum(col("n_events")).over(wAll))
      .withColumn("weekday_share",
        col("n_events").cast("double") / sum(col("n_events")).over(wD))
      .orderBy(col("iso_weekday"), col("hod"))
  }

  /** Supplier delivery consistency: the top-K suppliers by VARIANCE
    * of their order→ship lag — the "reliably slow beats randomly
    * fast" procurement gauge ([[fulfillmentLatency]] profiles the
    * corpus; this names the suppliers a buyer should chase). Exact
    * integer moments (n, Σlag, Σlag²) off one supplier-grain
    * aggregate, Σlag² folded in DECIMAL(38,0) (the moment-sum
    * discipline — day² per line stays small but 100 TB line counts
    * don't); the sample variance combines the moments as DOUBLES
    * (the comovement overflow form) and the RANK cut quantizes the
    * stddev to micro-days with a suppkey tie-break so it is never
    * ULP-fragile.
    *
    * Shape: the co-partitioned orderkey fact⋈fact join, one
    * supplier-grain aggregate, TakeOrdered top-K. */
  def supplierConsistency(lineitem: DataFrame, orders: DataFrame,
                          topK: Int = 20): DataFrame = {
    val m = lineitem.select(col("l_orderkey"), col("l_suppkey"),
        col("l_shipdate"))
      .join(orders.select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey"),
        datediff(col("l_shipdate").cast("date"),
          col("o_orderdate").cast("date")).cast("long").as("lag"))
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_lines"), sum(col("lag")).as("s1"),
        sum((col("lag") * col("lag")).cast("decimal(38,0)")).as("s2"))
      .where(col("n_lines") >= 2)
    val varE = ((col("n_lines").cast("double") * col("s2").cast("double")) -
      (col("s1").cast("double") * col("s1").cast("double"))) /
      (col("n_lines").cast("double") *
        (col("n_lines") - 1).cast("double"))
    m.select(col("l_suppkey"), col("n_lines"),
        (col("s1").cast("double") / col("n_lines")).as("mean_lag_days"),
        floor(sqrt(varE) * lit(1000000.0) + lit(0.5)).cast("bigint")
          .as("stddev_micro"))
      .orderBy(col("stddev_micro").desc, col("l_suppkey"))
      .limit(topK)
  }

  /** In-order brand cross-sell affinity: unordered brand pairs that
    * co-occur in one order, with support (orders containing both /
    * all orders) and lift — the merchandising twin of the session
    * basket table ([[graft.operators.Temporal.basketPairs]] asks
    * "what do users DO together", this asks "what do they BUY
    * together" on the sales fact). Lift > 1 flags bundles; < 1
    * flags substitutes.
    *
    * Shape: one orderkey-grain aggregate (the only corpus-sized
    * exchange) after a broadcast brand-dim join; the per-order
    * distinct brand set is bounded by the brand vocabulary, so the
    * in-task sorted pair fan-out never self-joins; item and pair
    * counts collapse to vocabulary-sized grids joined by broadcast.
    * Lift multiplies count-DOUBLES (the q_assoc_rules overflow
    * discipline). */
  def brandAffinity(lineitem: DataFrame, part: DataFrame): DataFrame = {
    // ONE okey-grain exchange (collect_set dedups AND groups in a
    // single map-side-combining aggregate), then ONE fan-out pass
    // emits every count this query needs — a per-order total marker
    // (NULL, NULL), one (b, NULL) item marker per distinct brand and
    // the C(k,2) sorted pairs — into a single vocabulary²-sized grid
    // aggregate. The round-11 shape computed items/total as separate
    // aggregates over a HELD sets frame: the 100× probe measured
    // those extra legs at 3 serial cache passes (33 s CPU) plus
    // ~19 s of serial single-task broadcast-build stalls; folding
    // them into the pair fan-out reads the order-grain frame once
    // and drops the cache entirely. (The round-10 distinct+self-join
    // shape was already retired: 22.5 s vs 13.6 s warm at sf10.)
    // The part dim is NOT broadcast-hinted (part scales with the
    // corpus, unlike nation/supplier — AQE must stay free to shuffle
    // the partkey join).
    val ob = lineitem.select(col("l_orderkey"), col("l_partkey"))
      .join(part.select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("okey"), col("p_brand").as("b"))
    val sets = ob.groupBy(col("okey"))
      .agg(sort_array(collect_set(col("b"))).as("bs"))
    val nullS = lit(null).cast("string")
    // pair leg is the native graft_pairs generator (fields a/b; a
    // 1-brand order yields an empty pair array, so the old
    // sequence(1, 0)-steps-downward guard is moot); marker legs share
    // its field names so concat sees one struct type
    val fan = concat(
      array(struct(nullS.as("a"), nullS.as("b"))),
      transform(col("bs"), x => struct(x.as("a"), nullS.as("b"))),
      call_function("graft_pairs", col("bs")))
    val counts = graft.Caches.hold(sets.select(explode(fan).as("p"))
      .groupBy(col("p.a").as("b1"), col("p.b").as("b2"))
      .agg(count(lit(1)).as("n")))
    val total = counts.where(col("b1").isNull)
      .select(col("n").as("n_orders"))
    val items = counts.where(col("b1").isNotNull && col("b2").isNull)
      .select(col("b1").as("b"), col("n").as("n_item"))
    counts.where(col("b2").isNotNull)
      .select(col("b1"), col("b2"), col("n").as("n_co"))
      .join(broadcast(items.select(col("b").as("b1"),
        col("n_item").as("n_b1"))), Seq("b1"))
      .join(broadcast(items.select(col("b").as("b2"),
        col("n_item").as("n_b2"))), Seq("b2"))
      .crossJoin(broadcast(total))
      .select(col("b1"), col("b2"), col("n_co"), col("n_b1"),
        col("n_b2"), col("n_orders"),
        (col("n_co").cast("double") / col("n_orders")).as("support"),
        ((col("n_co").cast("double") * col("n_orders").cast("double")) /
          (col("n_b1").cast("double") * col("n_b2").cast("double")))
          .as("lift"))
      .orderBy(col("b1"), col("b2"))
  }

  /** Returns trend per ship quarter: line counts, cent-exact returned
    * and total revenue, the return RATE and the returned REVENUE
    * share — the time axis the static per-brand/per-band return
    * tables lack (a rate that doubles over four quarters is a
    * process problem, not a product one). Rate and revenue share
    * diverge exactly when returns skew to cheap or expensive lines.
    *
    * Shape: one (quarter) hash aggregate with conditional cent sums,
    * all integer until the two final divisions. */
  def returnTrend(lineitem: DataFrame): DataFrame =
    lineitem.select(
        date_trunc("quarter", col("l_shipdate")).cast("date")
          .as("quarter"),
        round(col("l_extendedprice") * 100).cast("bigint").as("cents"),
        (col("l_returnflag") === "R").cast("int").as("ret"))
      .groupBy(col("quarter"))
      .agg(count(lit(1)).as("n_lines"),
        count(when(col("ret") === 1, 1)).as("n_returned"),
        sum(col("cents")).as("total_cents"),
        sum(when(col("ret") === 1, col("cents")).otherwise(0L))
          .as("returned_cents"))
      .withColumn("return_rate",
        col("n_returned").cast("double") / col("n_lines"))
      .withColumn("revenue_share",
        col("returned_cents").cast("double") /
          col("total_cents").cast("double"))
      .orderBy(col("quarter"))

  /** Return rate by discount depth: are discounted lines coming back
    * more (the "we moved it with a markdown and got it back" loss
    * pattern)? Lines band on INTEGER discount points — none (0) /
    * light (1–5) / deep (6+), exact cent-free arithmetic — and each
    * band reports its Wilson-bounded return rate. The pricing twin
    * of [[lateReturns]]; read together they separate "late ships
    * return" from "cheap ships return".
    *
    * Shape: single scan, row-local banding, 3-row grid rollup, the
    * [[Ranking.wilsonLower]] bound. */
  def discountReturns(lineitem: DataFrame, z: Double = 1.96): DataFrame = {
    val bp = round(col("l_discount") * 100).cast("int")
    val bandIx = when(bp === 0, 0).when(bp <= 5, 1).otherwise(2)
    val bandNm = when(bp === 0, "none").when(bp <= 5, "light_1_5")
      .otherwise("deep_6_plus")
    returnReport(lineitem
      .select(bandIx.as("band_ix"), bandNm.as("band"), col("l_returnflag")),
      Seq("band_ix", "band"), z)
  }

  /** The report the three return-rate functions share: per `keys`
    * group of `lines`, the line count, the returned ('R') line count,
    * their rate and its Wilson lower bound, ordered by the first key. */
  private def returnReport(lines: DataFrame, keys: Seq[String],
                           z: Double): DataFrame =
    Ranking.wilsonReport(lines.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("n_lines"),
          count(when(col("l_returnflag") === "R", 1)).as("n_returned")),
      keys, "n_lines", "n_returned", "return_rate", z)

  /** Return rate by fulfillment-latency band: do late-shipped lines
    * come back more? Lines are banded by the order→ship day gap
    * (0–7 / 8–30 / 31–90 / 90+, integer thresholds so the banding is
    * exact) and each band reports its return rate with the Wilson
    * lower bound — the quality-of-service signal behind
    * [[returnRate]]'s per-brand view, and the causal question the
    * [[fulfillmentLatency]] quartiles set up. Band index is emitted
    * so the natural order survives any sort.
    *
    * Shape: the orderkey fact⋈fact join is the only corpus-sized
    * exchange; banding is a row-local CASE and the rollup is a
    * 4-row grid. The bound is [[Ranking.wilsonLower]]. */
  def lateReturns(lineitem: DataFrame, orders: DataFrame,
                  z: Double = 1.96): DataFrame = {
    val lag0 = datediff(col("l_shipdate").cast("date"),
      col("o_orderdate").cast("date"))
    val bandIx = when(lag0 <= 7, 0).when(lag0 <= 30, 1)
      .when(lag0 <= 90, 2).otherwise(3)
    val bandNm = when(lag0 <= 7, "0-7").when(lag0 <= 30, "8-30")
      .when(lag0 <= 90, "31-90").otherwise("90+")
    returnReport(lineitem.select(col("l_orderkey"), col("l_shipdate"),
        col("l_returnflag"))
      .join(orders.select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(bandIx.as("band_ix"), bandNm.as("band"),
        col("l_returnflag")),
      Seq("band_ix", "band"), z)
  }

  /** New-vs-returning revenue split per quarter: each order is "new"
    * iff it falls in its customer's FIRST active quarter, and every
    * quarter reports order counts and cent-exact revenue for both
    * populations plus the new-revenue share — the growth-accounting
    * twin of [[graft.operators.Journey.lifecycle]] on the REVENUE
    * axis (user counts say who came back; this says whether the
    * money does). Cents are the q_revenue_growth quantization so
    * sums are shuffle-order-exact; the share is one IEEE division.
    *
    * Shape: one customer-grain min-quarter aggregate, one custkey
    * co-partitioned join back to orders, then a quarter-grid
    * aggregate — two exchanges, both on keys the data already
    * clusters by. */
  def newVsReturning(orders: DataFrame): DataFrame = {
    val o = orders.select(col("o_custkey"),
      date_trunc("quarter", col("o_orderdate")).cast("date").as("quarter"),
      round(col("o_totalprice") * 100).cast("bigint").as("cents"))
    val firsts = o.groupBy(col("o_custkey"))
      .agg(min(col("quarter")).as("first_quarter"))
    o.join(firsts, Seq("o_custkey"))
      .withColumn("is_new",
        (col("quarter") === col("first_quarter")).cast("int"))
      .groupBy(col("quarter"))
      .agg(count(when(col("is_new") === 1, 1)).as("n_new_orders"),
        count(when(col("is_new") === 0, 1)).as("n_ret_orders"),
        sum(when(col("is_new") === 1, col("cents")).otherwise(0L))
          .as("rev_new_cents"),
        sum(when(col("is_new") === 0, col("cents")).otherwise(0L))
          .as("rev_ret_cents"))
      .withColumn("new_rev_share",
        col("rev_new_cents").cast("double") /
          (col("rev_new_cents") + col("rev_ret_cents")).cast("double"))
      .orderBy(col("quarter"))
  }

  /** Cent-quantized Laspeyres price index per brand and quarter:
    * index(t) = Σᵢ pᵢ,ₜ·qᵢ,₀ / Σᵢ pᵢ,₀·qᵢ,₀ × 100 over parts i
    * matched between quarter t and the base (earliest) quarter —
    * "what does the base-quarter basket cost now", the inflation
    * gauge [[priceRealization]]'s single-quarter ratio can't give.
    * The base quarter indexes at exactly 100 (it matches itself), a
    * built-in sanity row.
    *
    * Exactness: the per-(part, quarter) unit price is rounded to an
    * INTEGER cent via (2c+q) div (2q) — round-half-up in pure
    * integer arithmetic — so every index contribution pᵢ,ₜ·qᵢ,₀ is
    * an exact product folded in DECIMAL(38,0) (HUGEINT's int128
    * twin, order-independent at any scale); a raw double unit price
    * would make the basket sums shuffle-order-dependent. One double
    * division per output row at the end.
    *
    * Shape: one (part, quarter) fact aggregate is the only
    * corpus-sized exchange; the base-quarter frame joins back on
    * partkey, the brand dim broadcasts, and the output grain is
    * brands × quarters. */
  def priceIndex(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val pq = lineitem.select(col("l_partkey"),
        date_trunc("quarter", col("l_shipdate")).cast("date").as("quarter"),
        round(col("l_extendedprice") * 100).cast("bigint").as("cents"),
        col("l_quantity").cast("bigint").as("qty"))
      .groupBy(col("l_partkey"), col("quarter"))
      .agg(sum(col("cents")).as("c"), sum(col("qty")).as("q"))
      .withColumn("p_cents", expr("(2 * c + q) div (2 * q)"))
      // three consumers (series, per-part base, global base) — without
      // the persist each branch re-runs the fact aggregate end-to-end
      .transform(graft.Caches.hold)
    val base = pq.groupBy(col("l_partkey"))
      .agg(min_by(struct(col("p_cents"), col("q")), col("quarter"))
        .as("b"), min(col("quarter")).as("bq"))
    // Laspeyres matches against the GLOBAL base quarter, not each
    // part's first appearance — parts born later are unmatched there.
    val globalBase = pq.agg(min(col("quarter")).as("g"))
    pq.join(base, Seq("l_partkey"))
      .crossJoin(broadcast(globalBase))
      .where(col("bq") === col("g"))
      .join(broadcast(part.select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"), col("quarter"),
        (col("p_cents").cast("decimal(38,0)") * col("b.q")).as("num"),
        (col("b.p_cents").cast("decimal(38,0)") * col("b.q")).as("den"))
      .groupBy(col("p_brand"), col("quarter"))
      .agg(count(lit(1)).as("n_parts"),
        (sum(col("num")).cast("double") / sum(col("den")).cast("double")
          * 100.0).as("index_pts"))
      .orderBy(col("p_brand"), col("quarter"))
  }

  /** Order-width distribution: orders bucketed by line count with
    * order AND line shares — the order-grain twin of the customer
    * order-count distribution (Q13 shape): picking, packing and
    * basket-analysis capacity all key on how many lines an order
    * carries, and the line share shows where the volume mass sits
    * (many thin orders vs few wide ones). One order-grain aggregate
    * (the only corpus-sized exchange), then a ≤7-row grid with
    * window-sum shares. */
  def orderLineDist(lineitem: DataFrame): DataFrame = {
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    lineitem.groupBy(col("l_orderkey")).agg(count(lit(1)).as("nl"))
      .groupBy(col("nl").as("n_lines")).agg(count(lit(1)).as("n_orders"))
      .select(col("n_lines"), col("n_orders"),
        (col("n_orders").cast("double") /
          sum(col("n_orders")).over(wAll).cast("double"))
          .as("order_share"),
        ((col("n_lines") * col("n_orders")).cast("double") /
          sum(col("n_lines") * col("n_orders")).over(wAll).cast("double"))
          .as("line_share"))
      .orderBy(col("n_lines"))
  }

  /** Fisher price index per brand: Laspeyres (base-quantity weights),
    * Paasche (current-quantity weights) and their geometric mean on
    * the same matched-part panel as [[priceIndex]] — the economist's
    * standard pair: Laspeyres overstates inflation (consumers shift
    * away from risers), Paasche understates it, Fisher splits the
    * bias. Published together so the L−P gap itself reads as a
    * substitution gauge.
    *
    * Same determinism discipline as [[priceIndex]]: quarter prices
    * are integer half-up cents (`(2c+q) div 2q`), the four weighted
    * sums accumulate as decimal(38,0), and each index is one double
    * division (Fisher one sqrt of their product) at the very edge.
    * Same plan shape: one fact aggregate (persisted for its three
    * consumers), part-grain base join, broadcast dims. */
  def fisherIndex(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val pq = lineitem.select(col("l_partkey"),
        date_trunc("quarter", col("l_shipdate")).cast("date").as("quarter"),
        round(col("l_extendedprice") * 100).cast("bigint").as("cents"),
        col("l_quantity").cast("bigint").as("qty"))
      .groupBy(col("l_partkey"), col("quarter"))
      .agg(sum(col("cents")).as("c"), sum(col("qty")).as("q"))
      .withColumn("p_cents", expr("(2 * c + q) div (2 * q)"))
      .transform(graft.Caches.hold)
    val base = pq.groupBy(col("l_partkey"))
      .agg(min_by(struct(col("p_cents"), col("q")), col("quarter"))
        .as("b"), min(col("quarter")).as("bq"))
    val globalBase = pq.agg(min(col("quarter")).as("g"))
    pq.join(base, Seq("l_partkey"))
      .crossJoin(broadcast(globalBase))
      .where(col("bq") === col("g"))
      .join(broadcast(part.select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"), col("quarter"),
        (col("p_cents").cast("decimal(38,0)") * col("b.q")).as("num_l"),
        (col("b.p_cents").cast("decimal(38,0)") * col("b.q")).as("den_l"),
        (col("p_cents").cast("decimal(38,0)") * col("q")).as("num_p"),
        (col("b.p_cents").cast("decimal(38,0)") * col("q")).as("den_p"))
      .groupBy(col("p_brand"), col("quarter"))
      .agg(count(lit(1)).as("n_parts"),
        sum(col("num_l")).as("snl"), sum(col("den_l")).as("sdl"),
        sum(col("num_p")).as("snp"), sum(col("den_p")).as("sdp"))
      .select(col("p_brand"), col("quarter"), col("n_parts"),
        (col("snl").cast("double") / col("sdl").cast("double") * 100.0)
          .as("laspeyres_pts"),
        (col("snp").cast("double") / col("sdp").cast("double") * 100.0)
          .as("paasche_pts"),
        (sqrt((col("snl").cast("double") / col("sdl").cast("double")) *
          (col("snp").cast("double") / col("sdp").cast("double"))) * 100.0)
          .as("fisher_pts"))
      .orderBy(col("p_brand"), col("quarter"))
  }

  /** Part-vintage revenue ramp: parts cohorted by the quarter they
    * FIRST shipped, with each vintage's cent-exact revenue in its own
    * relative quarters 0–3 — the catalog-side twin of the user cohort
    * table ("do newer introductions ramp faster than older ones"),
    * which a range review reads before crediting growth to new SKUs.
    *
    * Shape: one (part, quarter) fact aggregate (persisted — the
    * intro-quarter aggregate and the ramp join both read it), a
    * part-grain min join, then the vintages-sized grid; quarter
    * arithmetic is the integer year·4+quarter key, revenue conditional
    * bigint cent sums. */
  def partVintage(lineitem: DataFrame): DataFrame = {
    val pq = lineitem.select(col("l_partkey"),
        (year(col("l_shipdate")) * 4 + quarter(col("l_shipdate")) - 1)
          .cast("long").as("qk"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
          .cast("bigint").as("cents"))
      .groupBy(col("l_partkey"), col("qk"))
      .agg(sum(col("cents")).as("c"))
      .transform(graft.Caches.hold)
    val intro = pq.groupBy(col("l_partkey")).agg(min(col("qk")).as("q0"))
    pq.join(intro, Seq("l_partkey"))
      .withColumn("rel", col("qk") - col("q0"))
      .groupBy(col("q0"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        (coalesce(sum(when(col("rel") === 0, col("c"))), lit(0L))
          .cast("double") / 100.0).as("rev_q0"),
        (coalesce(sum(when(col("rel") === 1, col("c"))), lit(0L))
          .cast("double") / 100.0).as("rev_q1"),
        (coalesce(sum(when(col("rel") === 2, col("c"))), lit(0L))
          .cast("double") / 100.0).as("rev_q2"),
        (coalesce(sum(when(col("rel") === 3, col("c"))), lit(0L))
          .cast("double") / 100.0).as("rev_q3"))
      .select(expr("q0 div 4").as("intro_year"),
        (col("q0") % 4 + 1).cast("long").as("intro_quarter"),
        col("n_parts"), col("rev_q0"), col("rev_q1"), col("rev_q2"),
        col("rev_q3"))
      .orderBy(col("intro_year"), col("intro_quarter"))
  }

  /** Order-completion time per priority: exact quartiles + mean of
    * the days from order placement to the LAST line shipping — the
    * order-grain complement of [[fulfillmentLatency]] (a customer
    * waits for the order, not its median line; one straggler line
    * IS the completion time). Line-less orders are excluded (the
    * reconcile orphans, not completions).
    *
    * Shape: one order-grain max-ship aggregate, the co-partitioned
    * orderkey join, then the (priority × days) grid WITH FREQUENCIES
    * percentiles (the q_event_gaps contract) and a bigint-exact
    * mean. */
  def orderCompletion(lineitem: DataFrame, orders: DataFrame): DataFrame =
    lineitem.groupBy(col("l_orderkey"))
      .agg(max(col("l_shipdate").cast("date")).as("close_day"))
      .join(orders.select(col("o_orderkey"), col("o_orderdate"),
        col("o_orderpriority")), col("l_orderkey") === col("o_orderkey"))
      .select(coalesce(col("o_orderpriority"), lit("")).as("priority"),
        datediff(col("close_day"),
          col("o_orderdate").cast("date")).as("days"))
      .groupBy(col("priority"), col("days"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("priority"))
      .agg(sum(col("cnt")).as("n_orders"),
        sum(col("days") * col("cnt")).as("sum_days"),
        expr("percentile(days, array(0.25D, 0.5D, 0.75D), cnt)")
          .as("ps"))
      .select(col("priority"), col("n_orders"),
        (col("sum_days").cast("double") / col("n_orders")).as("mean_days"),
        element_at(col("ps"), 1).as("p25_days"),
        element_at(col("ps"), 2).as("p50_days"),
        element_at(col("ps"), 3).as("p75_days"))
      .orderBy(col("priority"))

  /** Open-order backlog curve: for every calendar day between the
    * first order and the last shipment, how many orders were opened,
    * how many fully shipped (their LAST line's ship day), and the
    * end-of-day open backlog — the operational "are we falling
    * behind" series behind [[Analytics.shipDelayPriority]]'s static
    * late counts. Orders with no lines never close and are excluded
    * (they're [[reconcile]]'s orphan finding, not a backlog fact).
    *
    * Shape: the difference-array trick — one order-grain max-ship
    * aggregate and one orderkey join collapse the facts to two
    * day-grain delta frames; the dense spine joins them and the
    * backlog is two running sums over the |days| grid (thousands of
    * rows at ANY corpus size, so the unpartitioned window is safe by
    * construction). */
  def backlog(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val closes = lineitem.groupBy(col("l_orderkey"))
      .agg(max(col("l_shipdate").cast("date")).as("close_day"))
    val iv = orders.select(col("o_orderkey"),
        col("o_orderdate").cast("date").as("open_day"))
      .join(closes, col("o_orderkey") === col("l_orderkey"))
    val opened = iv.groupBy(col("open_day").as("day"))
      .agg(count(lit(1)).as("n_opened"))
    val closed = iv.groupBy(col("close_day").as("day"))
      .agg(count(lit(1)).as("n_closed"))
    val spine = iv
      .agg(min(col("open_day")).as("lo"), max(col("close_day")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("day"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(opened, Seq("day"), "left")
      .join(closed, Seq("day"), "left")
      .withColumn("n_opened", coalesce(col("n_opened"), lit(0L)))
      .withColumn("n_closed", coalesce(col("n_closed"), lit(0L)))
      .withColumn("open_backlog",
        sum(col("n_opened")).over(w) - sum(col("n_closed")).over(w))
      .orderBy(col("day"))
  }

  /** Order-to-ship fulfillment latency per order priority: exact
    * quartiles and mean of the day gap between order placement and
    * each line's ship date — the DISTRIBUTIONAL refinement of
    * [[shipDelayPriority]]'s late/on-time counts (two priorities can
    * share a late rate while one's p75 is drifting out). NULL
    * priorities coalesce to '' on both engine and oracle sides (the
    * row-2i lesson).
    *
    * Shape: the fact⋈fact orderkey join is the only corpus-sized
    * exchange (co-partitioned on the join key, AQE-sizable); the day
    * gaps collapse immediately onto the (priority × gap-days) grid —
    * a few hundred cells at ANY corpus size — and the exact
    * percentiles run WITH FREQUENCIES on that grid (the q_event_gaps
    * contract), never a per-row sort. Mean = exact bigint Σ(gap·cnt)
    * with one division last. */
  def fulfillmentLatency(lineitem: DataFrame, orders: DataFrame): DataFrame =
    lineitem.select(col("l_orderkey"), col("l_shipdate"))
      .join(orders.select(col("o_orderkey"), col("o_orderdate"),
        col("o_orderpriority")), col("l_orderkey") === col("o_orderkey"))
      .select(coalesce(col("o_orderpriority"), lit("")).as("priority"),
        datediff(col("l_shipdate").cast("date"),
          col("o_orderdate").cast("date")).as("lag_days"))
      .groupBy(col("priority"), col("lag_days"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("priority"))
      .agg(sum(col("cnt")).as("n_lines"),
        sum(col("lag_days") * col("cnt")).as("sum_days"),
        expr("percentile(lag_days, array(0.25D, 0.5D, 0.75D), cnt)")
          .as("ps"))
      .select(col("priority"), col("n_lines"),
        (col("sum_days").cast("double") / col("n_lines")).as("mean_days"),
        element_at(col("ps"), 1).as("p25_days"),
        element_at(col("ps"), 2).as("p50_days"),
        element_at(col("ps"), 3).as("p75_days"))
      .orderBy(col("priority"))

  /** Supplier concentration per nation: the Herfindahl–Hirschman
    * index of supplier revenue shares — the antitrust-style "is this
    * market one supplier in a trench coat" gauge, the squared-share
    * complement of [[giniByNation]]'s rank view. Exact INTEGER
    * numerator: HHI = Σrᵢ²/(Σrᵢ)² over WHOLE-DOLLAR revenues (shares
    * are unit-invariant, and dollars keep rᵢ² inside int64 to ~3·10⁹
    * dollars per supplier-nation where cents overflow 100× sooner);
    * both sums order-independent bigint, one double division at the
    * end. 10000·HHI is the conventional points scale. */
  def supplierHhi(lineitem: DataFrame, supplier: DataFrame): DataFrame =
    lineitem
      .groupBy(col("l_suppkey"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("double")).as("raw"))
      .select(col("l_suppkey"),
        floor(col("raw") + 0.5).cast("bigint").as("rev_d"))
      .join(broadcast(supplier.select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_suppliers"),
        sum(col("rev_d")).cast("double").as("total_rev"),
        ((sum(col("rev_d") * col("rev_d")).cast("double") * 10000.0) /
          (sum(col("rev_d")).cast("double") * sum(col("rev_d"))))
          .as("hhi_points"))
      .orderBy(col("s_nationkey"))

  /** Return rate per brand with the Wilson lower bound — the
    * returns-QA twin of the conversion rate: a brand with 1 return
    * in 2 lines must not outrank one with 90 in 1000. Exact counts
    * from one aggregate; the bound is [[Ranking.wilsonLower]]. */
  def returnRate(lineitem: DataFrame, part: DataFrame,
                 z: Double = 1.96): DataFrame = {
    returnReport(lineitem
      .join(broadcast(part.select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey")),
      Seq("p_brand"), z)
  }

  /** Quarter-over-quarter revenue growth per nation: quarter-grain
    * cent-exact revenue, the previous quarter via a lag window over
    * the GRID-SIZED (nation, quarter) frame, and the growth ratio as
    * one IEEE division (NULL on the first quarter — absence, not
    * zero). The standard finance trend view next to the statistical
    * trend family. */
  def revenueGrowth(orders: DataFrame, customer: DataFrame,
                    nation: DataFrame): DataFrame = {
    val q = orders
      .join(broadcast(customer.select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"),
        date_trunc("quarter", col("o_orderdate")).cast("date").as("quarter"))
      .agg(sum(round(col("o_totalprice") * 100).cast("bigint")).as("rev_c"),
        count(lit(1)).as("n_orders"))
    val w = Window.partitionBy(col("n_name")).orderBy(col("quarter"))
    q.withColumn("prev_c", lag(col("rev_c"), 1).over(w))
      .select(col("n_name"), col("quarter"),
        (col("rev_c").cast("double") / 100.0).as("revenue"),
        col("n_orders"),
        ((col("rev_c") - col("prev_c")).cast("double") /
          nullif(col("prev_c"), lit(0L))).as("qoq_growth"))
      .orderBy(col("n_name"), col("quarter"))
  }

  /** Supplier financial-risk exposure per nation: suppliers in
    * negative account balance and the revenue share flowing through
    * them — "how much of this market rides on financially stressed
    * suppliers". One supplier-grain revenue aggregate (cents-rounded),
    * the balance flag joins as a broadcast, one nation rollup; the
    * exposure share is a single IEEE division. */
  def supplierRisk(lineitem: DataFrame, supplier: DataFrame): DataFrame =
    lineitem
      .groupBy(col("l_suppkey"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("double")).as("raw"))
      .select(col("l_suppkey"),
        floor(col("raw") * 100 + 0.5).cast("bigint").as("rev_c"))
      .join(broadcast(supplier.select(col("s_suppkey"), col("s_nationkey"),
        (col("s_acctbal") < 0).as("risky"))),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_suppliers"),
        count(when(col("risky"), 1)).as("n_risky"),
        sum(col("rev_c")).as("tot_c"),
        coalesce(sum(when(col("risky"), col("rev_c"))), lit(0L))
          .as("risky_c"))
      .select(col("s_nationkey"), col("n_suppliers"), col("n_risky"),
        (col("tot_c").cast("double") / 100.0).as("total_rev"),
        (col("risky_c").cast("double") / 100.0).as("risky_rev"),
        (col("risky_c").cast("double") / col("tot_c"))
          .as("exposure_share"))
      .orderBy(col("s_nationkey"))

  /** Price realization per brand: realized unit price (cent-rounded
    * revenue over integer quantity) against the brand's mean list
    * price (cent-exact per part row) — "are we selling below list".
    * Every sum is exact or cent-rounded before the two mirrored
    * divisions; the list side aggregates the 2000-row dimension. */
  def priceRealization(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val listP = part
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_parts"),
        sum(floor(col("p_retailprice") * 100 + 0.5).cast("bigint"))
          .as("list_c"))
    lineitem
      .join(broadcast(part.select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_quantity")).as("sum_qty"),
        floor(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("double")) * 100 + 0.5).cast("bigint").as("rev_c"))
      .join(broadcast(listP), "p_brand")
      .select(col("p_brand"), col("n_lines"),
        (col("rev_c").cast("double") / 100.0 / col("sum_qty"))
          .as("realized_unit_price"),
        (col("list_c").cast("double") / 100.0 / col("n_parts"))
          .as("mean_list_price"),
        ((col("rev_c").cast("double") / 100.0 / col("sum_qty")) /
          (col("list_c").cast("double") / 100.0 / col("n_parts")))
          .as("realization_ratio"))
      .orderBy(col("p_brand"))
  }

  /** Basket-position effect: volume and value by line NUMBER within
    * the order — "do first-listed items sell bigger". One grid-sized
    * aggregate on the line position; means are mirrored divisions
    * over exact (integer-valued) sums. */
  def linePosition(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy(col("l_linenumber"))
      .agg(count(lit(1)).as("n_lines"),
        (sum(col("l_quantity")) / count(lit(1))).as("mean_qty"),
        (round(sum(col("l_extendedprice")), 2) / count(lit(1)))
          .as("mean_price"))
      .orderBy(col("l_linenumber"))

  /** Order↔lineitem financial reconciliation: per order status, how
    * many orders have NO line items at all, how many mismatch the
    * line-derived total — Σ per-line cent-rounded
    * extendedprice·(1−discount)·(1+tax) vs the header's totalprice —
    * beyond `tolCents`, the worst absolute gap and the signed net
    * drift. The first report finance asks for from any order store,
    * and the referential+arithmetic QA twin of q_qa_orphans: orphan
    * HEADERS and header/detail disagreement in one pass.
    *
    * Exactness: each line rounds to cents independently (one
    * fixed-shape double product per line, then integer sums — order
    * independent; summing doubles first would not be), the header
    * rounds once, diffs/aggregates are pure bigint. Shape: one
    * order-grain aggregate of lineitem (the only fact shuffle), a
    * key-grain left join, and a statuses-sized report. */
  def reconcile(orders: DataFrame, lineitem: DataFrame,
                tolCents: Long = 1L): DataFrame = {
    val calc = lineitem
      .groupBy(col("l_orderkey"))
      .agg(sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
          (lit(1.0) + col("l_tax")) * 100).cast("bigint")).as("calc_cents"),
        count(lit(1)).as("n_lines"))
    orders.select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("bigint").as("total_cents"))
      .join(calc, col("o_orderkey") === col("l_orderkey"), "left_outer")
      .select(col("o_orderstatus"), col("n_lines").isNull.as("no_lines"),
        (coalesce(col("calc_cents"), lit(0L)) - col("total_cents")).as("diff"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("no_lines"), 1L).otherwise(0L)).as("n_no_lines"),
        sum(when(!col("no_lines") && abs(col("diff")) > tolCents, 1L)
          .otherwise(0L)).as("n_mismatch"),
        max(when(!col("no_lines"), abs(col("diff"))))
          .as("max_abs_diff_cents"),
        sum(when(!col("no_lines"), col("diff")).otherwise(0L))
          .as("net_diff_cents"))
      .orderBy(col("o_orderstatus"))
  }

  /** Minimum-cost supplier per part (TPC-H Q2 shape from
    * lineitem-OBSERVED part-supplier pairs — the schema has no
    * partsupp table, so "supply cost" is the best realized integer-cent
    * unit price each supplier ever quoted for the part): for every
    * part in the type/size slice, the region's suppliers achieving the
    * part's minimum cost, classic Q2 report order (balance desc) cut
    * at `topK`.
    *
    * Shape: ONE fact shuffle builds the (part, supplier) cost frame
    * (distinct-pair-grain, bounded by |part|×suppliers-per-part
    * however large lineitem is); the region suppliers and the part
    * slice ride broadcasts that prune that frame BEFORE the per-part
    * min; the argmin is groupBy-min + equality join-back on the
    * pair-grain frame ([[topSupplier]]'s discipline — never a
    * single-partition window). Costs are integer cents (round → bigint
    * div, [[priceDispersion]]'s idiom), so the min and the equality
    * can't be flipped by ulps and ties surface as genuine multi-row
    * answers. The final sort feeds TakeOrderedAndProject (per-partition
    * heaps), total-ordered because (p_partkey, s_name) is unique on
    * the candidate grain. */
  def minCostSupplier(lineitem: DataFrame, part: DataFrame,
                      supplier: DataFrame, nation: DataFrame,
                      region: DataFrame, regionName: String,
                      partType: String, sizeMod: Int,
                      topK: Int): DataFrame = {
    val regionSupp = supplier
      .join(broadcast(nation), col("n_nationkey") === col("s_nationkey"))
      .join(broadcast(region.where(col("r_name") === regionName)),
        col("r_regionkey") === col("n_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
        col("n_name"))
    val slice = part
      .where(col("p_type") === partType && col("p_size") % sizeMod === 0)
      .select(col("p_partkey"), col("p_brand"))
    // both key sets cut the FACT ROWS before the pair-grain aggregate
    // (filter commutes with per-pair min): the hash map holds only the
    // slice's pairs, ~1/(type·size·region) of the observed-pair
    // universe — aggregating first and filtering after ran a
    // 60M-distinct-pair map at the 100× probe (153 s of GC)
    val cut = lineitem
      .join(broadcast(slice.select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(regionSupp.select(col("s_suppkey"))),
        col("l_suppkey") === col("s_suppkey"))
    val cost = cut
      .select(col("l_partkey"), col("l_suppkey"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT) div CAST(l_quantity AS BIGINT)")
          .as("unit_c"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("unit_c")).as("cost_cents"))
    val cand = cost
      .join(broadcast(regionSupp), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(slice), col("l_partkey") === col("p_partkey"))
    val candP = graft.Caches.hold(cand)
    val mn = candP.groupBy(col("p_partkey").as("mk"))
      .agg(min(col("cost_cents")).as("min_cents"))
    candP
      .join(mn, col("p_partkey") === col("mk") &&
        col("cost_cents") === col("min_cents"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_brand"),
        (col("cost_cents").cast("double") / 100.0).as("supply_cost"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
        col("p_partkey"))
      .limit(topK)
  }

  /** Important stock per part from ONE nation's suppliers (TPC-H Q11
    * shape over lineitem-observed supply): cent-exact part value =
    * Σ extended price of the nation's lines, kept when the part's
    * value exceeds 1/`fracDen` of the nation total — the
    * cross-multiplied HAVING (val·fracDen > total, pure bigint, no
    * division) that makes the threshold ulp-proof.
    *
    * Shape: the nation's suppliers are a broadcast pre-filter on the
    * fact scan (the selective leg runs FIRST, the part-grain aggregate
    * sees only that nation's lines), the grand total is a broadcast
    * 1-row frame off the part-grain aggregate — the scalar-subquery
    * shape, never a window. Output is part-grain for one nation's
    * share threshold: bounded by the catalog however large the fact
    * table grows. */
  def importantStock(lineitem: DataFrame, supplier: DataFrame,
                     nationKey: Int, fracDen: Long): DataFrame = {
    val natSupp = supplier.where(col("s_nationkey") === nationKey)
      .select(col("s_suppkey"))
    val value = lineitem
      .join(broadcast(natSupp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("bigint"))
        .as("value_c"))
    val valueP = graft.Caches.hold(value)
    val total = valueP.agg(sum(col("value_c")).as("total_c"))
    valueP.crossJoin(broadcast(total))
      .where(col("value_c") * fracDen > col("total_c"))
      .select(col("l_partkey").as("p_partkey"),
        (col("value_c").cast("double") / 100.0).as("stock_value"),
        (col("value_c").cast("double") / col("total_c")).as("share"))
      .orderBy(col("stock_value").desc, col("p_partkey"))
  }

  /** Dominant suppliers of promo-type parts in a ship window (TPC-H
    * Q20 shape re-expressed over observed flow: with no partsupp
    * availqty, a supplier "has the stock" of a part when they shipped
    * MORE THAN HALF of the part's window volume — the `2·supp_qty >
    * part_qty` integer cross-multiply; quantities are integer-valued
    * doubles that sum exactly). Reports each qualifying supplier with
    * their nation, the number of promo parts they dominate and the
    * quantity shipped across those parts.
    *
    * Shape: the promo part slice broadcasts into the window-filtered
    * fact scan (filters pushed to the parquet reader), ONE fact
    * shuffle to the (part, supplier) grain, then the part total is a
    * part-grain groupBy joined back on the pair frame (the EXISTS leg
    * collapses to pair-grain arithmetic — no correlated re-scan of
    * the fact table), and the supplier dims ride a broadcast onto the
    * supplier-grain result. */
  def promoStockSuppliers(lineitem: DataFrame, part: DataFrame,
                          supplier: DataFrame, nation: DataFrame,
                          promoType: String, start: String,
                          end: String): DataFrame = {
    val promo = part.where(col("p_type") === promoType)
      .select(col("p_partkey"))
    val pairQty = lineitem
      .where(col("l_shipdate") >= lit(start).cast("timestamp") &&
        col("l_shipdate") < lit(end).cast("timestamp"))
      .join(broadcast(promo), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity")).as("supp_qty"))
    val pairP = graft.Caches.hold(pairQty)
    val partQty = pairP.groupBy(col("l_partkey").as("pk"))
      .agg(sum(col("supp_qty")).as("part_qty"))
    pairP
      .join(partQty, col("l_partkey") === col("pk") &&
        col("supp_qty") * 2 > col("part_qty"))
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_parts"),
        sum(col("supp_qty")).cast("bigint").as("dominated_qty"))
      .join(broadcast(supplier
        .join(broadcast(nation), col("n_nationkey") === col("s_nationkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"),
        col("n_parts"), col("dominated_qty"))
      .orderBy(col("s_suppkey"))
  }
}
