package graft
package keys

import org.apache.spark.sql.functions._
import graft.operators._
import Shared._

/** Order, lineitem, part and supplier analytics over the TPC-H
  * tables ([[graft.operators.Analytics]]). */
object CommerceKeys extends Family {
  /** q_reconcile: header/detail mismatch tolerance in cents. */
  private val ReconTolCents = 1L

  /** q_ship_priority (TPC-H Q3 shape): segment, cutoff, top-k. The
    * cutoff sits mid-range of the order dates so both date filters
    * are selective. */
  private val ShipSegment = "BUILDING"
  private val ShipCutoff = "1998-06-01"
  private val ShipTopK = 10

  /** q_local_volume (TPC-H Q5 shape): region and order-year window
    * (orders span 1995–2001 in the testdata). */
  private val Q5Region = "ASIA"
  private val Q5YearStart = "1996-01-01"
  private val Q5YearEnd = "1997-01-01"

  /** q_returned_items (TPC-H Q10 shape): order quarter + top-k. */
  private val Q10Start = "1997-01-01"
  private val Q10End = "1997-04-01"
  private val Q10TopK = 20

  /** q_order_priority (TPC-H Q4 shape): order quarter + the lateness
    * threshold. Ship delays here spread years (median 36 d, p90
    * 1404 d), so 365 makes "had a late line" a genuine split rather
    * than all-or-nothing. */
  private val Q4Start = "1997-01-01"
  private val Q4End = "1997-04-01"
  private val Q4LateDays = 365

  /** q_revenue_forecast (TPC-H Q6 shape): ship year + discount band
    * (the generator's discounts sit on an exact 0.01 grid, 0.00–0.10)
    * + quantity cap. */
  private val Q6YearStart = "1997-01-01"
  private val Q6YearEnd = "1998-01-01"
  private val Q6DiscLo = 0.05
  private val Q6DiscHi = 0.07
  private val Q6MaxQty = 24.0

  /** q_nation_trade (TPC-H Q7 shape): the two trading nations. */
  private val Q7NationA = "NATION_1"
  private val Q7NationB = "NATION_2"

  /** q_market_share (TPC-H Q8 shape): target supplier nation,
    * customer region, part type under study. */
  private val Q8SuppNation = "NATION_3"
  private val Q8CustRegion = "ASIA"
  private val Q8PartType = "ECONOMY"

  /** q_product_profit (TPC-H Q9 shape): part type under study. */
  private val Q9PartType = "PROMO"

  /** q_priority_delay (TPC-H Q12 shape): ship year + the LATE band
    * threshold (same 365-day lateness notion as Q4). */
  private val Q12Start = "1997-01-01"
  private val Q12End = "1998-01-01"
  private val Q12LateDays = 365

  /** q_cust_order_dist (TPC-H Q13 shape): priority class excluded
    * from the per-customer order counts. */
  private val Q13ExcludePriority = "5-LOW"

  /** q_promo_share (TPC-H Q14 shape): promo part type + ship window
    * (a year of months so the month grain has >1 row). */
  private val Q14PromoType = "PROMO"
  private val Q14Start = "1997-01-01"
  private val Q14End = "1998-01-01"

  /** q_top_supplier (TPC-H Q15 shape): revenue window (a quarter). */
  private val Q15Start = "1997-01-01"
  private val Q15End = "1997-04-01"

  /** q_supplier_variety (TPC-H Q16 shape): excluded brand + size band
    * width (p_size spans 1–50 → five bands). */
  private val Q16ExcludeBrand = "Brand#1"
  private val Q16SizeBand = 10

  /** q_disjunctive_rev (TPC-H Q19 shape): the three clause brands
    * (disjoint by construction, so clause labels are exact). */
  private val Q19Brands = Seq("Brand#1", "Brand#9", "Brand#15")

  /** q_late_suppliers: ship-delay threshold (days). The synthetic
    * shipdates spread years past the order date (95th pct ≈ 1723
    * days), so 1800 makes "late" a selective ~4% slice. */
  private val LateDelayDays = 1800

  /** q_small_orders (TPC-H Q17 shape): a line is "small" below this
    * fraction of its part's average quantity. */
  private val SmallOrderFrac = 0.2

  /** q_bulk_orders (Q18 shape): quantity threshold ≈ p95 of per-order
    * totals (874 qualifying orders at sf0.01), report size. */
  private val BulkMinQty = 200
  private val BulkTopK = 100

  /** q_idle_customers (Q22 shape): no-order trailing window — 365 d
    * keeps 149 of 1500 above-average customers at sf0.01 (classic
    * no-orders-EVER is degenerate here: every customer orders). */
  private val IdleDays = 365

  /** q_min_cost_supplier (TPC-H Q2 shape): supplier region, part
    * type/size slice (size divisible by 5 ≈ 1/5 of the type's parts),
    * classic report cut. 57 rows at sf0.01. */
  private val Q2Region = "EUROPE"
  private val Q2PartType = "STANDARD"
  private val Q2SizeMod = 5
  private val Q2TopK = 100

  /** q_important_stock (TPC-H Q11 shape): the stock-holding nation and
    * the cross-multiplied share threshold (part value > 1/500 of the
    * nation total keeps 50 of ~1200 observed parts at sf0.01; the
    * classic fraction scales with 1/|supplier| the same way). */
  private val Q11NationKey = 3
  private val Q11FracDen = 500L

  /** q_promo_stock_suppliers (TPC-H Q20 shape): promo part type and
    * ship-year window (64 qualifying suppliers at sf0.01). */
  private val Q20PartType = "PROMO"
  private val Q20Start = "1997-01-01"
  private val Q20End = "1998-01-01"

  private val ConsistencyTopK = 20

  /** q_bloom_join: the dim-side nation cut (5 of 25 nations ≈ 20%
    * join selectivity — selective enough that pruning pays). */
  private val BloomJoinMaxNation = 5

  val keys: Seq[Key] = Seq(
    key("q1_pricing_summary", (s, d) =>
      Analytics.pricingSummary(Tables.lineitem(s, d)))(
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 2) AS sum_qty,
         round(sum(l_extendedprice), 2) AS sum_base_price,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
         round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
           AS sum_charge,
         round(sum(l_quantity) / count(*), 6) AS avg_qty,
         round(sum(l_extendedprice) / count(*), 6) AS avg_price,
         round(sum(l_discount) / count(*), 6) AS avg_disc,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01'
         GROUP BY 1, 2 ORDER BY 1, 2"""),
    // TPC-H Q5 shape: same-nation customer/supplier revenue per
    // region-year — the 6-table star join
    key("q_local_volume", (s, d) =>
      Analytics.localSupplierVolume(Tables.lineitem(s, d),
        Tables.orders(s, d), Tables.customer(s, d), Tables.supplier(s, d),
        Tables.nation(s, d), Tables.region(s, d),
        Q5Region, Q5YearStart, Q5YearEnd))(
      s"""SELECT n_name,
            round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
            count(*) AS n_items
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN supplier ON l_suppkey = s_suppkey
            AND c_nationkey = s_nationkey
          JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          WHERE r_name = '$Q5Region'
            AND o_orderdate >= TIMESTAMP '$Q5YearStart'
            AND o_orderdate < TIMESTAMP '$Q5YearEnd'
          GROUP BY 1 ORDER BY revenue DESC, n_name"""),
    key("q_returned_items", (s, d) =>
      Analytics.returnedItemReport(Tables.lineitem(s, d),
        Tables.orders(s, d), Tables.customer(s, d), Tables.nation(s, d),
        Q10Start, Q10End, Q10TopK))(
      s"""WITH agg AS (SELECT o_custkey,
            round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
            count(*) AS n_items
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE l_returnflag = 'R'
            AND o_orderdate >= TIMESTAMP '$Q10Start'
            AND o_orderdate < TIMESTAMP '$Q10End'
          GROUP BY 1)
          SELECT c_custkey AS custkey, c_name AS name, n_name AS nation,
            revenue, n_items
          FROM agg JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          ORDER BY revenue DESC, custkey LIMIT $Q10TopK"""),
    // TPC-H Q4 shape: EXISTS-a-late-line as a left-semi join
    key("q_order_priority", (s, d) =>
      Analytics.orderPriorityCheck(Tables.orders(s, d),
        Tables.lineitem(s, d), Q4Start, Q4End, Q4LateDays))(
      s"""SELECT o_orderpriority, count(*) AS n_orders
          FROM orders
          WHERE o_orderdate >= TIMESTAMP '$Q4Start'
            AND o_orderdate < TIMESTAMP '$Q4End'
            AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND date_diff('day', o_orderdate, l_shipdate) > $Q4LateDays)
          GROUP BY 1 ORDER BY 1"""),
    // TPC-H Q6 shape: pure scan-filter aggregate, zero joins
    key("q_revenue_forecast", (s, d) =>
      Analytics.revenueChangeForecast(Tables.lineitem(s, d),
        Q6YearStart, Q6YearEnd, Q6DiscLo, Q6DiscHi, Q6MaxQty))(
      s"""SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue_delta,
            count(*) AS n_lines
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '$Q6YearStart'
            AND l_shipdate < TIMESTAMP '$Q6YearEnd'
            AND l_discount >= $Q6DiscLo AND l_discount <= $Q6DiscHi
            AND l_quantity < $Q6MaxQty"""),
    // TPC-H Q7 shape: bilateral trade, nation filters before broadcast
    key("q_nation_trade", (s, d) =>
      Analytics.nationTradeVolume(Tables.lineitem(s, d),
        Tables.orders(s, d), Tables.customer(s, d), Tables.supplier(s, d),
        Tables.nation(s, d), Q7NationA, Q7NationB))(
      s"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
            CAST(year(l_shipdate) AS INTEGER) AS l_year,
            round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
            count(*) AS n_lines
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation sn ON s_nationkey = sn.n_nationkey
          JOIN nation cn ON c_nationkey = cn.n_nationkey
          WHERE (sn.n_name = '$Q7NationA' AND cn.n_name = '$Q7NationB')
             OR (sn.n_name = '$Q7NationB' AND cn.n_name = '$Q7NationA')
          GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""),
    // TPC-H Q8 shape: conditional-sum market share, one aggregate
    key("q_market_share", (s, d) =>
      Analytics.marketShare(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.supplier(s, d), Tables.nation(s, d),
        Tables.region(s, d), Tables.part(s, d),
        Q8SuppNation, Q8CustRegion, Q8PartType))(
      s"""SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
            round(sum(CASE WHEN n_name = '$Q8SuppNation'
              THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END), 2)
              AS target_rev,
            round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_rev,
            round(sum(CASE WHEN n_name = '$Q8SuppNation'
              THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END), 2)
              / round(sum(l_extendedprice * (1 - l_discount)), 2) AS mkt_share
          FROM lineitem
          JOIN part ON l_partkey = p_partkey
          JOIN orders ON l_orderkey = o_orderkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          WHERE p_type = '$Q8PartType'
            AND o_custkey IN (SELECT c_custkey FROM customer
              JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
              WHERE r_name = '$Q8CustRegion')
          GROUP BY 1 ORDER BY 1"""),
    // TPC-H Q9 shape: nation×year profit for one part type
    key("q_product_profit", (s, d) =>
      Analytics.productTypeProfit(Tables.lineitem(s, d),
        Tables.orders(s, d), Tables.supplier(s, d), Tables.nation(s, d),
        Tables.part(s, d), Q9PartType))(
      s"""SELECT n_name AS nation,
            CAST(year(o_orderdate) AS INTEGER) AS o_year,
            round(sum(l_extendedprice * (1 - l_discount)), 2) AS profit,
            count(*) AS n_lines
          FROM lineitem
          JOIN part ON l_partkey = p_partkey
          JOIN orders ON l_orderkey = o_orderkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          WHERE p_type = '$Q9PartType'
          GROUP BY 1, 2 ORDER BY 1, 2 DESC"""),
    // TPC-H Q12 shape: ship-delay band × order-priority cross-tab
    key("q_priority_delay", (s, d) =>
      Analytics.shipDelayPriority(Tables.lineitem(s, d),
        Tables.orders(s, d), Q12Start, Q12End, Q12LateDays))(
      s"""SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate)
              > $Q12LateDays THEN 'LATE' ELSE 'ONTIME' END AS delay_band,
            count(*) FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH'))
              AS high_line_count,
            count(*) FILTER (WHERE coalesce(o_orderpriority, '')
              NOT IN ('1-URGENT', '2-HIGH')) AS low_line_count
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE l_shipdate >= TIMESTAMP '$Q12Start'
            AND l_shipdate < TIMESTAMP '$Q12End'
          GROUP BY 1 ORDER BY 1"""),
    // order→ship lag quartiles per priority (grid percentiles)
    key("q_fulfillment_latency", (s, d) =>
      Analytics.fulfillmentLatency(Tables.lineitem(s, d),
        Tables.orders(s, d)))(
      // Day gaps on the (priority × days) grid; quantile_cont matches
      // the engine's percentile-with-frequencies (q_event_gaps contract).
      """WITH j AS (SELECT coalesce(o_orderpriority, '') AS priority,
            date_diff('day', CAST(o_orderdate AS DATE),
              CAST(l_shipdate AS DATE)) AS lag_days
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
          q AS (SELECT priority, count(*) AS n_lines,
            CAST(sum(lag_days) AS BIGINT) AS sum_days,
            quantile_cont(lag_days, [0.25, 0.5, 0.75]) AS ps
          FROM j GROUP BY 1)
          SELECT priority, n_lines,
            CAST(sum_days AS DOUBLE) / n_lines AS mean_days,
            ps[1] AS p25_days, ps[2] AS p50_days, ps[3] AS p75_days
          FROM q ORDER BY priority"""),
    // order-grain completion (last line ships) quartiles per priority
    key("q_order_completion", (s, d) =>
      Analytics.orderCompletion(Tables.lineitem(s, d),
        Tables.orders(s, d)))(
      // Order-grain close day + the same grid-percentile contract.
      """WITH cl AS (SELECT l_orderkey,
            max(CAST(l_shipdate AS DATE)) AS close_day
          FROM lineitem GROUP BY 1),
          j AS (SELECT coalesce(o_orderpriority, '') AS priority,
            date_diff('day', CAST(o_orderdate AS DATE), close_day)
              AS days
          FROM cl JOIN orders ON l_orderkey = o_orderkey),
          q AS (SELECT priority, count(*) AS n_orders,
            CAST(sum(days) AS BIGINT) AS sum_days,
            quantile_cont(days, [0.25, 0.5, 0.75]) AS ps
          FROM j GROUP BY 1)
          SELECT priority, n_orders,
            CAST(sum_days AS DOUBLE) / n_orders AS mean_days,
            ps[1] AS p25_days, ps[2] AS p50_days, ps[3] AS p75_days
          FROM q ORDER BY priority"""),
    // first-quarter-new vs returning revenue accounting
    key("q_new_returning", (s, d) =>
      Analytics.newVsReturning(Tables.orders(s, d)))(
      // Customer min-quarter CTE + conditional cent sums; the share is
      // one double division of exact bigint totals.
      """WITH o AS (SELECT o_custkey,
            CAST(date_trunc('quarter', o_orderdate) AS DATE) AS quarter,
            CAST(round(o_totalprice * 100) AS BIGINT) AS cents
          FROM orders),
          f AS (SELECT o_custkey, min(quarter) AS fq FROM o GROUP BY 1),
          j AS (SELECT o.quarter,
            CASE WHEN o.quarter = f.fq THEN 1 ELSE 0 END AS is_new, cents
          FROM o JOIN f USING (o_custkey))
          SELECT quarter,
            CAST(count(*) FILTER (WHERE is_new = 1) AS BIGINT)
              AS n_new_orders,
            CAST(count(*) FILTER (WHERE is_new = 0) AS BIGINT)
              AS n_ret_orders,
            CAST(sum(CASE WHEN is_new = 1 THEN cents ELSE 0 END)
              AS BIGINT) AS rev_new_cents,
            CAST(sum(CASE WHEN is_new = 0 THEN cents ELSE 0 END)
              AS BIGINT) AS rev_ret_cents,
            CAST(sum(CASE WHEN is_new = 1 THEN cents ELSE 0 END)
                AS DOUBLE) /
              CAST(sum(cents) AS DOUBLE) AS new_rev_share
          FROM j GROUP BY quarter ORDER BY quarter"""),
    // priority composition drift per quarter
    key("q_priority_mix", (s, d) =>
      Analytics.priorityMix(Tables.orders(s, d)))(
      // (quarter, priority) grid + three window-sum shares; drift
      // recomputes the same expressions.
      """WITH g AS (SELECT
            CAST(date_trunc('quarter', o_orderdate) AS DATE) AS quarter,
            coalesce(o_orderpriority, '') AS priority,
            count(*) AS n_orders
          FROM orders GROUP BY 1, 2)
          SELECT quarter, priority, n_orders,
            CAST(n_orders AS DOUBLE) /
              sum(n_orders) OVER (PARTITION BY quarter) AS quarter_share,
            CAST(sum(n_orders) OVER (PARTITION BY priority) AS DOUBLE) /
              sum(n_orders) OVER () AS overall_share,
            CAST(n_orders AS DOUBLE) /
              sum(n_orders) OVER (PARTITION BY quarter) -
              CAST(sum(n_orders) OVER (PARTITION BY priority) AS DOUBLE) /
                sum(n_orders) OVER () AS drift
          FROM g ORDER BY quarter, priority"""),
    // per-quarter AOV with ordered-fold OLS slope constants
    key("q_aov_trend", (s, d) =>
      Analytics.aovTrend(Tables.orders(s, d)))(
      // Quarter grid + row_number index + qi-ORDERED list folds; slope
      // and r2 attach as cross-joined constants, nullif-guarded.
      """WITH g AS (SELECT
            CAST(date_trunc('quarter', o_orderdate) AS DATE) AS quarter,
            count(*) AS n_orders,
            CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS sum_c
          FROM orders GROUP BY 1),
          q AS (SELECT *, CAST(sum_c AS DOUBLE) / n_orders / 100.0
              AS aov,
            CAST(row_number() OVER (ORDER BY quarter) AS DOUBLE) AS qi
          FROM g),
          m AS (SELECT count(*) AS k,
            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list(qi ORDER BY qi)), (x, y) -> x + y) AS sx,
            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list(aov ORDER BY qi)), (x, y) -> x + y) AS sy,
            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list(qi * aov ORDER BY qi)), (x, y) -> x + y) AS sxy,
            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list(qi * qi ORDER BY qi)), (x, y) -> x + y) AS sxx,
            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list(aov * aov ORDER BY qi)), (x, y) -> x + y) AS syy
          FROM q),
          f AS (SELECT
            (k * sxy - sx * sy) / nullif(k * sxx - sx * sx, 0.0)
              AS slope_per_quarter,
            ((k * sxy - sx * sy) * (k * sxy - sx * sy)) /
              nullif((k * sxx - sx * sx) * (k * syy - sy * sy), 0.0)
              AS r2
          FROM m)
          SELECT quarter, n_orders, aov, slope_per_quarter, r2
          FROM q CROSS JOIN f ORDER BY quarter"""),
    // 7x24 weekday-hour traffic grid with dual shares
    key("q_traffic_heatmap", (s, d) =>
      Analytics.trafficHeatmap(Tables.events(s, d)))(
      // isodow = Spark weekday()+1; 168-cell grid, dual window shares.
      """WITH g AS (SELECT CAST(isodow(ts) AS INTEGER) AS iso_weekday,
            CAST(hour(ts) AS INTEGER) AS hod, count(*) AS n_events
          FROM events GROUP BY 1, 2)
          SELECT iso_weekday, hod, n_events,
            CAST(n_events AS DOUBLE) / sum(n_events) OVER ()
              AS total_share,
            CAST(n_events AS DOUBLE) /
              sum(n_events) OVER (PARTITION BY iso_weekday)
              AS weekday_share
          FROM g ORDER BY iso_weekday, hod"""),
    // top-K suppliers by ship-lag variance (micro-day rank cut)
    key("q_supplier_consistency", (s, d) =>
      Analytics.supplierConsistency(Tables.lineitem(s, d),
        Tables.orders(s, d), ConsistencyTopK))(
      // HUGEINT moments, double-combined variance (comovement form),
      // micro-day quantized rank cut with suppkey tie-break.
      s"""WITH m AS (SELECT l_suppkey, count(*) AS n_lines,
            CAST(sum(lag_days) AS BIGINT) AS s1,
            sum(lag_days * lag_days) AS s2
          FROM (SELECT l_suppkey,
              CAST(date_diff('day', CAST(o_orderdate AS DATE),
                CAST(l_shipdate AS DATE)) AS BIGINT) AS lag_days
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
          GROUP BY 1 HAVING count(*) >= 2)
          SELECT l_suppkey, n_lines,
            CAST(s1 AS DOUBLE) / n_lines AS mean_lag_days,
            CAST(floor(sqrt(((CAST(n_lines AS DOUBLE) *
                CAST(s2 AS DOUBLE)) -
                (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))) /
              (CAST(n_lines AS DOUBLE) *
                CAST(n_lines - 1 AS DOUBLE))) * 1000000.0 + 0.5)
              AS BIGINT) AS stddev_micro
          FROM m ORDER BY stddev_micro DESC, l_suppkey
          LIMIT $ConsistencyTopK"""),
    // cent-quantized Laspeyres basket index per brand/quarter
    key("q_price_index", (s, d) =>
      Analytics.priceIndex(Tables.lineitem(s, d), Tables.part(s, d)))(
      // (part, quarter) integer unit prices via (2c+q)//(2q) round-half-
      // up; Laspeyres sums are HUGEINT products (engine: DECIMAL(38,0)).
      """WITH pq AS (SELECT l_partkey,
            CAST(date_trunc('quarter', l_shipdate) AS DATE) AS quarter,
            CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
              AS BIGINT) AS c,
            CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
          FROM lineitem GROUP BY 1, 2),
          pp AS (SELECT *, (2 * c + q) // (2 * q) AS p_cents FROM pq),
          bq AS (SELECT min(quarter) AS g FROM pp),
          base AS (SELECT l_partkey, p_cents AS p0, q AS q0
            FROM pp, bq WHERE quarter = g),
          j AS (SELECT p_brand, pp.quarter,
            pp.p_cents * base.q0 AS num, base.p0 * base.q0 AS den
          FROM pp JOIN base USING (l_partkey)
          JOIN part ON l_partkey = p_partkey)
          SELECT p_brand, quarter, CAST(count(*) AS BIGINT) AS n_parts,
            CAST(sum(num) AS DOUBLE) / CAST(sum(den) AS DOUBLE) * 100.0
              AS index_pts
          FROM j GROUP BY 1, 2 ORDER BY 1, 2"""),
    // difference-array open-order backlog curve
    key("q_backlog", (s, d) =>
      Analytics.backlog(Tables.orders(s, d), Tables.lineitem(s, d)))(
      // Difference-array replay: two day-grain delta CTEs, dense spine,
      // two running sums on the |days| grid.
      """WITH cl AS (SELECT l_orderkey,
            max(CAST(l_shipdate AS DATE)) AS close_day
          FROM lineitem GROUP BY 1),
          iv AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS open_day,
            close_day
          FROM orders JOIN cl ON o_orderkey = l_orderkey),
          op AS (SELECT open_day AS day, count(*) AS nn FROM iv GROUP BY 1),
          cz AS (SELECT close_day AS day, count(*) AS nn FROM iv GROUP BY 1),
          sp AS (SELECT CAST(unnest(generate_series(lo, hi,
              INTERVAL 1 DAY)) AS DATE) AS day
            FROM (SELECT min(open_day) AS lo, max(close_day) AS hi
              FROM iv)),
          g AS (SELECT sp.day, CAST(coalesce(op.nn, 0) AS BIGINT)
              AS n_opened,
            CAST(coalesce(cz.nn, 0) AS BIGINT) AS n_closed
          FROM sp LEFT JOIN op ON sp.day = op.day
          LEFT JOIN cz ON sp.day = cz.day)
          SELECT day, n_opened, n_closed,
            CAST(sum(n_opened) OVER w - sum(n_closed) OVER w AS BIGINT)
              AS open_backlog
          FROM g WINDOW w AS (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          ORDER BY day"""),
    // in-order brand pair support + lift (sales-fact cross-sell)
    key("q_brand_affinity", (s, d) =>
      Analytics.brandAffinity(Tables.lineitem(s, d), Tables.part(s, d)))(
      // Order-grain sorted brand sets; the basket pair/item/total CTE
      // chain on the sales fact, lift over count-DOUBLES.
      """WITH ob AS (SELECT l_orderkey,
            list_sort(list_distinct(list(p_brand))) AS brands
          FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1),
          tot AS (SELECT count(*) AS n_orders FROM ob),
          iu AS (SELECT unnest(brands) AS b FROM ob),
          items AS (SELECT b, count(*) AS n_item FROM iu GROUP BY 1),
          p AS (SELECT unnest(flatten(list_transform(
              range(1, len(brands)),
              i -> list_transform(range(i + 1, len(brands) + 1),
                j -> [brands[i], brands[j]])))) AS pr
            FROM ob WHERE len(brands) >= 2),
          co AS (SELECT pr[1] AS b1, pr[2] AS b2, count(*) AS n_co
            FROM p GROUP BY 1, 2)
          SELECT co.b1, co.b2, co.n_co, a.n_item AS n_b1,
            c.n_item AS n_b2, tot.n_orders,
            CAST(co.n_co AS DOUBLE) / tot.n_orders AS support,
            (CAST(co.n_co AS DOUBLE) * CAST(tot.n_orders AS DOUBLE)) /
              (CAST(a.n_item AS DOUBLE) * CAST(c.n_item AS DOUBLE))
              AS lift
          FROM co JOIN items a ON co.b1 = a.b
          JOIN items c ON co.b2 = c.b CROSS JOIN tot
          ORDER BY 1, 2"""),
    // return rate by ship-latency band with Wilson lower bounds
    key("q_late_returns", (s, d) =>
      Analytics.lateReturns(Tables.lineitem(s, d), Tables.orders(s, d),
        CtrZ))({
      // Integer-threshold latency bands + the Wilson chain in the exact
      // engine operation order (the q_return_rate replay).
      val z2 = CtrZ * CtrZ
      s"""WITH l AS (SELECT date_diff('day', CAST(o_orderdate AS DATE),
              CAST(l_shipdate AS DATE)) AS lag_days, l_returnflag
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
          j AS (SELECT CASE WHEN lag_days <= 7 THEN 0
              WHEN lag_days <= 30 THEN 1 WHEN lag_days <= 90 THEN 2
              ELSE 3 END AS band_ix,
            CASE WHEN lag_days <= 7 THEN '0-7'
              WHEN lag_days <= 30 THEN '8-30'
              WHEN lag_days <= 90 THEN '31-90'
              ELSE '90+' END AS band, l_returnflag FROM l),
          a AS (SELECT band_ix, band, count(*) AS n_lines,
            count(*) FILTER (WHERE l_returnflag = 'R') AS n_returned
          FROM j GROUP BY 1, 2),
          pr AS (SELECT *, CAST(n_returned AS DOUBLE) / n_lines AS p
            FROM a)
          SELECT band_ix, band, n_lines, n_returned, p AS return_rate,
            (p + $z2 / (CAST(n_lines AS DOUBLE) * 2) - $CtrZ *
              sqrt(p * (1.0 - p) / CAST(n_lines AS DOUBLE) +
                $z2 / (CAST(n_lines AS DOUBLE) *
                  CAST(n_lines AS DOUBLE) * 4))) /
            (1.0 + $z2 / CAST(n_lines AS DOUBLE)) AS wilson_lb
          FROM pr ORDER BY band_ix""" }),
    // TPC-H Q13 shape: order-count histogram incl. zero-order customers
    key("q_cust_order_dist", (s, d) =>
      Analytics.customerOrderDistribution(Tables.customer(s, d),
        Tables.orders(s, d), Q13ExcludePriority))(
      s"""SELECT c_count, count(*) AS custdist FROM (
            SELECT c_custkey, count(o_custkey) AS c_count
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
              AND o_orderpriority <> '$Q13ExcludePriority'
            GROUP BY 1) t
          GROUP BY 1 ORDER BY custdist DESC, c_count DESC"""),
    // TPC-H Q14 shape: monthly promo revenue percentage
    key("q_promo_share", (s, d) =>
      Analytics.promoRevenueShare(Tables.lineitem(s, d),
        Tables.part(s, d), Q14PromoType, Q14Start, Q14End))(
      s"""SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
            round(sum(CASE WHEN p_type = '$Q14PromoType'
              THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END), 2)
              AS promo_rev,
            round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_rev,
            100.0 * round(sum(CASE WHEN p_type = '$Q14PromoType'
              THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END), 2)
              / round(sum(l_extendedprice * (1 - l_discount)), 2) AS promo_pct
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE l_shipdate >= TIMESTAMP '$Q14Start'
            AND l_shipdate < TIMESTAMP '$Q14End'
          GROUP BY 1 ORDER BY 1"""),
    // TPC-H Q15 shape: argmax supplier via broadcast 1-row max
    key("q_top_supplier", (s, d) =>
      Analytics.topSupplier(Tables.lineitem(s, d), Tables.supplier(s, d),
        Q15Start, Q15End))(
      s"""WITH rev AS (
            SELECT l_suppkey,
              round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '$Q15Start'
              AND l_shipdate < TIMESTAMP '$Q15End'
            GROUP BY 1)
          SELECT s_suppkey, s_name, total_revenue
          FROM rev JOIN supplier ON l_suppkey = s_suppkey
          WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
          ORDER BY s_suppkey"""),
    // TPC-H Q16 shape: supplier variety per part group
    key("q_supplier_variety", (s, d) =>
      Analytics.partSupplierVariety(Tables.lineitem(s, d),
        Tables.part(s, d), Q16ExcludeBrand, Q16SizeBand))(
      s"""SELECT p_brand, p_type,
            CAST(floor(p_size / $Q16SizeBand) * $Q16SizeBand AS INTEGER)
              AS size_band,
            count(DISTINCT l_suppkey) AS supplier_cnt
          FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
          JOIN part ON l_partkey = p_partkey
          WHERE p_brand <> '$Q16ExcludeBrand'
          GROUP BY 1, 2, 3
          ORDER BY supplier_cnt DESC, p_brand, p_type, size_band"""),
    // TPC-H Q19 shape: OR-of-ANDs predicates, per-clause revenue
    key("q_disjunctive_rev", (s, d) =>
      Analytics.disjunctiveRevenue(Tables.lineitem(s, d),
        Tables.part(s, d), Q19Brands))(
      s"""SELECT CASE
            WHEN p_brand = '${Q19Brands(0)}' AND p_size BETWEEN 1 AND 10
              AND l_quantity BETWEEN 1 AND 15 THEN 'clause_1'
            WHEN p_brand = '${Q19Brands(1)}' AND p_size BETWEEN 11 AND 25
              AND l_quantity BETWEEN 10 AND 25 THEN 'clause_2'
            ELSE 'clause_3' END AS clause,
            round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
            count(*) AS n_lines
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE (p_brand = '${Q19Brands(0)}' AND p_size BETWEEN 1 AND 10
              AND l_quantity BETWEEN 1 AND 15)
             OR (p_brand = '${Q19Brands(1)}' AND p_size BETWEEN 11 AND 25
              AND l_quantity BETWEEN 10 AND 25)
             OR (p_brand = '${Q19Brands(2)}' AND p_size BETWEEN 26 AND 50
              AND l_quantity BETWEEN 20 AND 35)
          GROUP BY 1 ORDER BY 1"""),
    // TPC-H Q2 shape: min-cost supplier per part from observed pairs
    key("q_min_cost_supplier", (s, d) =>
      Analytics.minCostSupplier(Tables.lineitem(s, d), Tables.part(s, d),
        Tables.supplier(s, d), Tables.nation(s, d), Tables.region(s, d),
        Q2Region, Q2PartType, Q2SizeMod, Q2TopK))(
      // Costs are integer cents (round -> bigint div, the
      // q_price_dispersion idiom), so min and the equality join-back
      // replay exactly; the ORDER BY is total because (p_partkey,
      // s_name) is unique on the candidate grain.
      s"""WITH ps AS (SELECT l_partkey, l_suppkey,
            min(CAST(round(l_extendedprice * 100) AS BIGINT) //
              CAST(l_quantity AS BIGINT)) AS cost_cents
            FROM lineitem GROUP BY 1, 2),
          eu AS (SELECT s_suppkey, s_name, s_acctbal, n_name
            FROM supplier JOIN nation ON n_nationkey = s_nationkey
            JOIN region ON r_regionkey = n_regionkey
            WHERE r_name = '$Q2Region'),
          cand AS (SELECT ps.l_partkey, p.p_brand, ps.cost_cents,
              eu.s_name, eu.s_acctbal, eu.n_name
            FROM ps JOIN eu ON eu.s_suppkey = ps.l_suppkey
            JOIN part p ON p.p_partkey = ps.l_partkey
            WHERE p.p_type = '$Q2PartType' AND p.p_size % $Q2SizeMod = 0),
          mn AS (SELECT l_partkey, min(cost_cents) AS mc
            FROM cand GROUP BY 1)
          SELECT c.s_acctbal, c.s_name, c.n_name,
            c.l_partkey AS p_partkey, c.p_brand,
            CAST(c.cost_cents AS DOUBLE) / 100.0 AS supply_cost
          FROM cand c JOIN mn ON mn.l_partkey = c.l_partkey
            AND c.cost_cents = mn.mc
          ORDER BY c.s_acctbal DESC, c.n_name, c.s_name, c.l_partkey
          LIMIT $Q2TopK"""),
    // TPC-H Q11 shape: important-stock share threshold, one nation
    key("q_important_stock", (s, d) =>
      Analytics.importantStock(Tables.lineitem(s, d),
        Tables.supplier(s, d), Q11NationKey, Q11FracDen))(
      // Cent-exact part values, cross-multiplied share threshold
      // (val*den > total — pure bigint, no division in the cut).
      s"""WITH v AS (SELECT l_partkey,
            CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
              AS BIGINT) AS value_c
            FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
            WHERE s_nationkey = $Q11NationKey GROUP BY 1),
          t AS (SELECT CAST(sum(value_c) AS BIGINT) AS total_c FROM v)
          SELECT l_partkey AS p_partkey,
            CAST(value_c AS DOUBLE) / 100.0 AS stock_value,
            CAST(value_c AS DOUBLE) / total_c AS share
          FROM v CROSS JOIN t WHERE value_c * $Q11FracDen > total_c
          ORDER BY stock_value DESC, p_partkey"""),
    // TPC-H Q20 shape: suppliers dominating promo-part window volume
    key("q_promo_stock_suppliers", (s, d) =>
      Analytics.promoStockSuppliers(Tables.lineitem(s, d),
        Tables.part(s, d), Tables.supplier(s, d), Tables.nation(s, d),
        Q20PartType, Q20Start, Q20End))(
      // Integer-valued quantities sum exactly in double in any order;
      // the dominance cut is the 2*supp > part cross-multiply.
      s"""WITH w AS (SELECT l_partkey, l_suppkey,
            sum(l_quantity) AS supp_qty
            FROM lineitem JOIN part ON p_partkey = l_partkey
            WHERE p_type = '$Q20PartType'
              AND l_shipdate >= '$Q20Start' AND l_shipdate < '$Q20End'
            GROUP BY 1, 2),
          pt AS (SELECT l_partkey, sum(supp_qty) AS part_qty
            FROM w GROUP BY 1),
          q AS (SELECT w.l_suppkey, count(*) AS n_parts,
              CAST(sum(w.supp_qty) AS BIGINT) AS dominated_qty
            FROM w JOIN pt ON pt.l_partkey = w.l_partkey
            WHERE w.supp_qty * 2 > pt.part_qty GROUP BY 1)
          SELECT s_suppkey, s_name, n_name, n_parts, dominated_qty
          FROM q JOIN supplier ON s_suppkey = l_suppkey
          JOIN nation ON n_nationkey = s_nationkey
          ORDER BY s_suppkey"""),
    key("q_revenue_by_nation", (s, d) =>
      Analytics.revenueByNation(Tables.orders(s, d), Tables.customer(s, d), Tables.nation(s, d)))(
      """SELECT n_name, round(sum(o_totalprice), 2) AS revenue,
         count(*) AS num_orders
         FROM orders JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY 1 ORDER BY revenue DESC, n_name"""),
    // QoQ revenue growth per nation (grid-sized lag window)
    key("q_revenue_growth", (s, d) =>
      Analytics.revenueGrowth(Tables.orders(s, d), Tables.customer(s, d),
        Tables.nation(s, d)))(
      """WITH q AS (SELECT n_name,
            CAST(date_trunc('quarter', o_orderdate) AS DATE) AS quarter,
            CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS rev_c,
            count(*) AS n_orders
          FROM orders JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          GROUP BY 1, 2)
          SELECT n_name, quarter,
            CAST(rev_c AS DOUBLE) / 100.0 AS revenue, n_orders,
            CAST(rev_c - lag(rev_c) OVER w AS DOUBLE) /
              nullif(lag(rev_c) OVER w, 0) AS qoq_growth
          FROM q WINDOW w AS (PARTITION BY n_name ORDER BY quarter)
          ORDER BY n_name, quarter"""),
    // dead inventory + revenue-magnitude catalog buckets
    key("q_dead_stock", (s, d) =>
      Analytics.deadStock(Tables.lineitem(s, d), Tables.part(s, d)))(
      """WITH rev AS (SELECT l_partkey,
            CAST(floor(sum(CAST(l_extendedprice * (1 - l_discount)
              AS DOUBLE)) * 100 + 0.5) AS BIGINT) AS rev_c
          FROM lineitem GROUP BY 1),
          dead AS (SELECT count(*) AS n_dead_parts FROM part
            WHERE p_partkey NOT IN (SELECT l_partkey FROM rev))
          SELECT CAST(length(CAST(rev_c AS VARCHAR)) AS BIGINT)
              AS rev_digits,
            count(*) AS n_parts,
            CAST(sum(rev_c) AS DOUBLE) / 100.0 AS total_rev,
            (SELECT n_dead_parts FROM dead) AS n_dead_parts
          FROM rev GROUP BY 1 ORDER BY 1"""),
    // repurchase cadence percentiles per segment
    key("q_repurchase", (s, d) =>
      Analytics.repurchaseCycle(Tables.orders(s, d), Tables.customer(s, d)))(
      """WITH g AS (SELECT o_custkey,
            CAST(date_diff('day', lag(o_orderdate) OVER (
              PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
              o_orderdate) AS BIGINT) AS gap
          FROM orders)
          SELECT c_mktsegment, count(*) AS n_gaps,
            quantile_cont(gap, 0.25) AS p25_days,
            quantile_cont(gap, 0.5) AS p50_days,
            quantile_cont(gap, 0.75) AS p75_days
          FROM g JOIN customer ON o_custkey = c_custkey
          WHERE gap IS NOT NULL
          GROUP BY 1 ORDER BY 1"""),
    // Kaplan–Meier time-to-second-order survival (censoring-aware)
    key("q_km_survival", (s, d) =>
      Analytics.kmRepurchase(Tables.orders(s, d), Tables.customer(s, d)))(
      // Kaplan-Meier product-limit curve: integer at-risk cumsums off
      // the (segment, gap) grid; the survival product folds each
      // segment's (1 - d/n) terms in ascending gap order from an exact
      // 1.0 (list_reduce over an ORDER BY list here, the sorted-array
      // aggregate engine side) so S(t) is multiplication-order-exact
      """WITH o2 AS (SELECT o_custkey,
            list_sort(list(o_orderdate)) AS ds FROM orders GROUP BY 1),
          mx AS (SELECT max(o_orderdate) AS maxd FROM orders),
          subj AS (SELECT o_custkey,
            CASE WHEN len(ds) >= 2
              THEN CAST(date_diff('day', ds[1], ds[2]) AS BIGINT)
              ELSE CAST(date_diff('day', ds[1], maxd) AS BIGINT)
            END AS gap,
            CASE WHEN len(ds) >= 2 THEN 1 ELSE 0 END AS ev
          FROM o2, mx),
          sg AS (SELECT c_mktsegment AS segment, gap, ev
            FROM subj JOIN customer ON c_custkey = o_custkey),
          g AS (SELECT segment, gap, CAST(sum(ev) AS BIGINT) AS d,
              CAST(count(*) - sum(ev) AS BIGINT) AS cns
            FROM sg GROUP BY 1, 2),
          w AS (SELECT *,
            CAST(sum(d + cns) OVER (PARTITION BY segment) AS BIGINT)
            - coalesce(CAST(sum(d + cns) OVER (PARTITION BY segment
                ORDER BY gap ROWS BETWEEN UNBOUNDED PRECEDING AND
                1 PRECEDING) AS BIGINT), 0) AS n_risk
          FROM g),
          e AS (SELECT segment, gap, d, n_risk,
            CAST(1.0 AS DOUBLE) - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)
              AS term
          FROM w WHERE d > 0),
          arr AS (SELECT segment,
            list(struct_pack(g := gap, t := term) ORDER BY gap) AS a
          FROM e GROUP BY 1)
          SELECT e.segment, gap AS gap_days, d AS n_events,
            n_risk AS n_at_risk,
            list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
              list_transform(list_filter(a, x -> x.g <= gap), x -> x.t)),
              (acc, x) -> acc * x) AS survival
          FROM e JOIN arr USING (segment) ORDER BY 1, 2"""),
    // order-intensity band transition matrix between history halves
    key("q_segment_migration", (s, d) =>
      Analytics.segmentMigration(Tables.orders(s, d)))(
      // date-grain midpoint (lo + days//2), per-half customer counts,
      // full outer join, banding CASE, grid-sized share window
      """WITH mm AS (SELECT CAST(min(o_orderdate) AS DATE) AS lo,
            CAST(max(o_orderdate) AS DATE) AS hi FROM orders),
          md AS (SELECT lo + CAST(date_diff('day', lo, hi) // 2
              AS INTEGER) AS mid
            FROM mm),
          h1 AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n1
            FROM orders, md WHERE CAST(o_orderdate AS DATE) <= mid
            GROUP BY o_custkey),
          h2 AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n2
            FROM orders, md WHERE CAST(o_orderdate AS DATE) > mid
            GROUP BY o_custkey),
          j AS (SELECT
              CASE WHEN n1 IS NULL THEN 'absent' WHEN n1 = 1 THEN 'light'
                WHEN n1 <= 4 THEN 'regular' ELSE 'heavy' END AS band_h1,
              CASE WHEN n2 IS NULL THEN 'absent' WHEN n2 = 1 THEN 'light'
                WHEN n2 <= 4 THEN 'regular' ELSE 'heavy' END AS band_h2
            FROM h1 FULL OUTER JOIN h2 USING (o_custkey)),
          g AS (SELECT band_h1, band_h2, CAST(count(*) AS BIGINT)
              AS n_customers
            FROM j GROUP BY band_h1, band_h2)
          SELECT band_h1, band_h2, n_customers,
            CAST(n_customers AS DOUBLE) /
              CAST(sum(n_customers) OVER (PARTITION BY band_h1)
                AS DOUBLE) AS share_of_h1
          FROM g ORDER BY band_h1, band_h2"""),
    // revenue exposure through negative-balance suppliers
    key("q_supplier_risk", (s, d) =>
      Analytics.supplierRisk(Tables.lineitem(s, d), Tables.supplier(s, d)))(
      """WITH rev AS (SELECT l_suppkey,
            CAST(floor(sum(CAST(l_extendedprice * (1 - l_discount)
              AS DOUBLE)) * 100 + 0.5) AS BIGINT) AS rev_c
          FROM lineitem GROUP BY 1)
          SELECT s_nationkey, count(*) AS n_suppliers,
            count(*) FILTER (WHERE s_acctbal < 0) AS n_risky,
            CAST(sum(rev_c) AS DOUBLE) / 100.0 AS total_rev,
            CAST(coalesce(sum(rev_c) FILTER (WHERE s_acctbal < 0), 0)
              AS DOUBLE) / 100.0 AS risky_rev,
            CAST(coalesce(sum(rev_c) FILTER (WHERE s_acctbal < 0), 0)
              AS DOUBLE) / sum(rev_c) AS exposure_share
          FROM rev JOIN supplier ON l_suppkey = s_suppkey
          GROUP BY 1 ORDER BY 1"""),
    // realized unit price vs list price per brand
    key("q_price_realization", (s, d) =>
      Analytics.priceRealization(Tables.lineitem(s, d), Tables.part(s, d)))(
      """WITH lp AS (SELECT p_brand, count(*) AS n_parts,
            CAST(sum(CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS list_c
          FROM part GROUP BY 1),
          rl AS (SELECT p_brand, count(*) AS n_lines,
            sum(l_quantity) AS sum_qty,
            CAST(floor(sum(CAST(l_extendedprice * (1 - l_discount)
              AS DOUBLE)) * 100 + 0.5) AS BIGINT) AS rev_c
          FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1)
          SELECT rl.p_brand, n_lines,
            CAST(rev_c AS DOUBLE) / 100.0 / sum_qty
              AS realized_unit_price,
            CAST(list_c AS DOUBLE) / 100.0 / n_parts AS mean_list_price,
            (CAST(rev_c AS DOUBLE) / 100.0 / sum_qty) /
              (CAST(list_c AS DOUBLE) / 100.0 / n_parts)
              AS realization_ratio
          FROM rl JOIN lp USING (p_brand) ORDER BY p_brand"""),
    // basket-position effect on volume/value
    key("q_line_position", (s, d) =>
      Analytics.linePosition(Tables.lineitem(s, d)))(
      """SELECT l_linenumber, count(*) AS n_lines,
          sum(l_quantity) / count(*) AS mean_qty,
          round(sum(l_extendedprice), 2) / count(*) AS mean_price
          FROM lineitem GROUP BY 1 ORDER BY 1"""),
    // header/detail financial reconciliation + orphan headers
    key("q_reconcile", (s, d) =>
      Analytics.reconcile(Tables.orders(s, d), Tables.lineitem(s, d),
        ReconTolCents))(
      // per-line cent rounding BEFORE the sum (order-independent), one
      // header rounding, bigint diffs
      s"""WITH calc AS (SELECT l_orderkey,
            CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) *
              (1.0 + l_tax) * 100 + 0.5) AS BIGINT)) AS BIGINT)
              AS calc_cents,
            count(*) AS n_lines
          FROM lineitem GROUP BY 1),
          j AS (SELECT o_orderstatus, calc.n_lines IS NULL AS no_lines,
            coalesce(calc.calc_cents, 0) -
              CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS diff
          FROM orders LEFT JOIN calc ON o_orderkey = l_orderkey)
          SELECT o_orderstatus, count(*) AS n_orders,
            CAST(sum(CASE WHEN no_lines THEN 1 ELSE 0 END) AS BIGINT)
              AS n_no_lines,
            CAST(sum(CASE WHEN NOT no_lines AND abs(diff) > $ReconTolCents
              THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
            max(CASE WHEN NOT no_lines THEN abs(diff) END)
              AS max_abs_diff_cents,
            CAST(sum(CASE WHEN NOT no_lines THEN diff ELSE 0 END)
              AS BIGINT) AS net_diff_cents
          FROM j GROUP BY 1 ORDER BY 1"""),
    // supplier revenue concentration (HHI) per nation
    key("q_supplier_hhi", (s, d) =>
      Analytics.supplierHhi(Tables.lineitem(s, d), Tables.supplier(s, d)))(
      """WITH rev AS (SELECT l_suppkey,
            CAST(floor(sum(CAST(l_extendedprice * (1 - l_discount)
              AS DOUBLE)) + 0.5) AS BIGINT) AS rev_d
          FROM lineitem GROUP BY 1)
          SELECT s_nationkey, count(*) AS n_suppliers,
            CAST(sum(rev_d) AS DOUBLE) AS total_rev,
            (CAST(sum(rev_d * rev_d) AS DOUBLE) * 10000.0) /
              (CAST(sum(rev_d) AS DOUBLE) * sum(rev_d)) AS hhi_points
          FROM rev JOIN supplier ON l_suppkey = s_suppkey
          GROUP BY 1 ORDER BY 1"""),
    // first-order discount elasticity per brand
    key("q_discount_lift", (s, d) =>
      Analytics.discountLift(Tables.lineitem(s, d), Tables.part(s, d)))(
      """WITH agg AS (SELECT p_brand, l_discount > 0.0 AS disc,
            count(*) AS n, sum(l_quantity) AS sq
          FROM lineitem JOIN part ON l_partkey = p_partkey
          GROUP BY 1, 2),
          d AS (SELECT p_brand, n AS n_disc, sq / n AS avg_qty_disc
            FROM agg WHERE disc),
          nd AS (SELECT p_brand, n AS n_nodisc, sq / n AS avg_qty_nodisc
            FROM agg WHERE NOT disc)
          SELECT d.p_brand, n_disc, n_nodisc, avg_qty_disc,
            avg_qty_nodisc,
            avg_qty_disc / avg_qty_nodisc AS qty_lift
          FROM d JOIN nd USING (p_brand) ORDER BY p_brand"""),
    // intraday traffic profile + peak hour per type
    key("q_hourly_profile", (s, d) =>
      Analytics.hourlyProfile(Tables.events(s, d)))(
      """WITH hg AS (SELECT event_type, CAST(hour(ts) AS INTEGER) AS hr,
            count(*) AS n FROM events GROUP BY 1, 2),
          tot AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS n_type
            FROM hg GROUP BY 1),
          pk AS (SELECT event_type,
              CAST(min(hr) FILTER (WHERE n = mxn) AS INTEGER)
                AS peak_hour
            FROM (SELECT *, max(n) OVER (PARTITION BY event_type)
              AS mxn FROM hg) t GROUP BY 1)
          SELECT hg.event_type, hr, n,
            CAST(n AS DOUBLE) / n_type AS share, peak_hour
          FROM hg JOIN tot USING (event_type) JOIN pk USING (event_type)
          ORDER BY 1, 2"""),
    // per-nation customer revenue inequality (exact rank-weighted sum)
    key("q_gini", (s, d) =>
      Analytics.giniByNation(Tables.orders(s, d), Tables.customer(s, d)))(
      """WITH rev AS (SELECT o_custkey,
            CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS rev_c
          FROM orders GROUP BY 1),
          j AS (SELECT c_nationkey, o_custkey, rev_c
            FROM rev JOIN customer ON o_custkey = c_custkey),
          rnk AS (SELECT *, CAST(row_number() OVER (
            PARTITION BY c_nationkey ORDER BY rev_c, o_custkey)
            AS BIGINT) AS rk FROM j)
          SELECT c_nationkey, count(*) AS n_custs,
            CAST(sum(rev_c) AS DOUBLE) / 100.0 AS total_rev,
            (2.0 * sum(rk * rev_c)) /
              (CAST(count(*) AS DOUBLE) * sum(rev_c)) -
              CAST(count(*) + 1 AS DOUBLE) / count(*) AS gini
          FROM rnk GROUP BY 1 ORDER BY 1"""),
    // LTV decile table: where the revenue mass sits, per segment
    key("q_ltv_deciles", (s, d) =>
      Analytics.ltvDeciles(Tables.orders(s, d), Tables.customer(s, d)))(
      // ntile over the deterministic (rev, custkey) order; shares are
      // one double division off bigint cent sums per decile row
      """WITH rev AS (SELECT o_custkey,
            CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS rev_c
          FROM orders GROUP BY 1),
          j AS (SELECT c_mktsegment AS segment, o_custkey, rev_c
            FROM rev JOIN customer ON o_custkey = c_custkey),
          dd AS (SELECT segment, rev_c, ntile(10) OVER (
            PARTITION BY segment ORDER BY rev_c, o_custkey) AS decile
          FROM j),
          g AS (SELECT segment, decile,
            CAST(count(*) AS BIGINT) AS n_custs,
            CAST(sum(rev_c) AS BIGINT) AS rev_cents
          FROM dd GROUP BY 1, 2)
          SELECT segment, decile, n_custs,
            CAST(rev_cents AS DOUBLE) / 100.0 AS revenue,
            CAST(rev_cents AS DOUBLE) /
              CAST(sum(rev_cents) OVER (PARTITION BY segment) AS DOUBLE)
              AS rev_share,
            CAST(sum(rev_cents) OVER (PARTITION BY segment
                ORDER BY decile) AS DOUBLE) /
              CAST(sum(rev_cents) OVER (PARTITION BY segment) AS DOUBLE)
              AS cum_share
          FROM g ORDER BY 1, 2"""),
    // least-squares qty-per-discount-point slope per brand
    key("q_discount_elasticity", (s, d) =>
      Analytics.discountElasticity(Tables.lineitem(s, d), Tables.part(s, d)))(
      // integer moments (HUGEINT here, DECIMAL(38,0) engine side), the
      // slope a fixed-shape double expression over per-moment casts
      """WITH base AS (SELECT p_brand,
            CAST(round(l_discount * 100) AS BIGINT) AS x,
            CAST(round(l_quantity) AS BIGINT) AS y
          FROM lineitem JOIN part ON l_partkey = p_partkey),
          m AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n_lines,
            sum(x) AS sx, sum(y) AS sy,
            sum(x * x) AS sxx, sum(x * y) AS sxy
          FROM base GROUP BY 1)
          SELECT p_brand, n_lines,
            CAST(sy AS DOUBLE) / CAST(n_lines AS DOUBLE) AS avg_qty,
            (CAST(n_lines AS DOUBLE) * CAST(sxy AS DOUBLE) -
              CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
              nullif(CAST(n_lines AS DOUBLE) * CAST(sxx AS DOUBLE) -
                CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), CAST(0.0 AS DOUBLE))
              AS qty_slope_per_pt
          FROM m ORDER BY 1"""),
    key("q_top_orders_per_cust", (s, d) =>
      Analytics.topOrdersPerCustomer(Tables.orders(s, d)))(
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
         SELECT o_custkey, o_orderkey, o_totalprice,
         CAST(row_number() OVER (PARTITION BY o_custkey
           ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rk
         FROM orders) t WHERE rk <= 3 ORDER BY o_custkey, rk"""),
    // Same result through the graft_topk bounded-heap aggregate — the
    // no-sort scale path; shares the window oracle shape.
    key("q_topk_orders", (s, d) =>
      Analytics.topOrdersPerCustomerAgg(Tables.orders(s, d)))(
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
         SELECT o_custkey, o_orderkey, o_totalprice,
         CAST(row_number() OVER (PARTITION BY o_custkey
           ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rk
         FROM orders) t WHERE rk <= 3 ORDER BY o_custkey, rk"""),
    // Bloom false positives die in the exact join, so the plain-join
    // oracle is byte-identical.
    key("q_bloom_join", (s, d) =>
      Analytics.bloomPrunedOrderStats(Tables.orders(s, d),
        Tables.customer(s, d), BloomJoinMaxNation))(
      s"""SELECT c_nationkey, count(*) AS n_orders,
          round(sum(o_totalprice), 2) AS revenue
          FROM orders JOIN customer ON o_custkey = c_custkey
          WHERE c_nationkey < $BloomJoinMaxNation
          GROUP BY 1 ORDER BY 1"""),
    key("q_event_windows", (s, d) =>
      Analytics.eventWindows(Tables.events(s, d)))(
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
         event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2"""),
    // returns QA per brand, Wilson-bounded
    key("q_return_rate", (s, d) =>
      Analytics.returnRate(Tables.lineitem(s, d), Tables.part(s, d), CtrZ))({
      val z2 = CtrZ * CtrZ
      s"""WITH a AS (SELECT p_brand, count(*) AS n_lines,
            count(*) FILTER (WHERE l_returnflag = 'R') AS n_returned
          FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1),
          pr AS (SELECT *, CAST(n_returned AS DOUBLE) / n_lines AS p
            FROM a)
          SELECT p_brand, n_lines, n_returned, p AS return_rate,
            (p + $z2 / (CAST(n_lines AS DOUBLE) * 2) - $CtrZ *
              sqrt(p * (1.0 - p) / CAST(n_lines AS DOUBLE) +
                $z2 / (CAST(n_lines AS DOUBLE) *
                  CAST(n_lines AS DOUBLE) * 4))) /
            (1.0 + $z2 / CAST(n_lines AS DOUBLE)) AS wilson_lb
          FROM pr ORDER BY p_brand""" }),
    // Wilson-bounded return rate by integer discount-point band
    key("q_discount_returns", (s, d) =>
      Analytics.discountReturns(Tables.lineitem(s, d), CtrZ))({
      // Integer discount points band + the Wilson chain in engine order.
      val z2 = CtrZ * CtrZ
      s"""WITH l AS (SELECT CAST(round(l_discount * 100) AS INTEGER)
              AS bp, l_returnflag FROM lineitem),
          j AS (SELECT CASE WHEN bp = 0 THEN 0 WHEN bp <= 5 THEN 1
              ELSE 2 END AS band_ix,
            CASE WHEN bp = 0 THEN 'none' WHEN bp <= 5 THEN 'light_1_5'
              ELSE 'deep_6_plus' END AS band, l_returnflag FROM l),
          a AS (SELECT band_ix, band, count(*) AS n_lines,
            count(*) FILTER (WHERE l_returnflag = 'R') AS n_returned
          FROM j GROUP BY 1, 2),
          pr AS (SELECT *, CAST(n_returned AS DOUBLE) / n_lines AS p
            FROM a)
          SELECT band_ix, band, n_lines, n_returned, p AS return_rate,
            (p + $z2 / (CAST(n_lines AS DOUBLE) * 2) - $CtrZ *
              sqrt(p * (1.0 - p) / CAST(n_lines AS DOUBLE) +
                $z2 / (CAST(n_lines AS DOUBLE) *
                  CAST(n_lines AS DOUBLE) * 4))) /
            (1.0 + $z2 / CAST(n_lines AS DOUBLE)) AS wilson_lb
          FROM pr ORDER BY band_ix""" }),
    // returns rate + revenue share per ship quarter
    key("q_return_trend", (s, d) =>
      Analytics.returnTrend(Tables.lineitem(s, d)))(
      // Quarter grid with conditional cent sums; two final divisions.
      """WITH l AS (SELECT
            CAST(date_trunc('quarter', l_shipdate) AS DATE) AS quarter,
            CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
            CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ret
          FROM lineitem)
          SELECT quarter, count(*) AS n_lines,
            CAST(count(*) FILTER (WHERE ret = 1) AS BIGINT)
              AS n_returned,
            CAST(sum(cents) AS BIGINT) AS total_cents,
            CAST(sum(CASE WHEN ret = 1 THEN cents ELSE 0 END)
              AS BIGINT) AS returned_cents,
            CAST(count(*) FILTER (WHERE ret = 1) AS DOUBLE) / count(*)
              AS return_rate,
            CAST(sum(CASE WHEN ret = 1 THEN cents ELSE 0 END)
                AS DOUBLE) /
              CAST(sum(cents) AS DOUBLE) AS revenue_share
          FROM l GROUP BY quarter ORDER BY quarter"""),
    // ABC cumulative-revenue classification of the part catalog
    key("q_abc_analysis", (s, d) =>
      Analytics.abcAnalysis(Tables.lineitem(s, d)))(
      // Part-grain cent revenue, cumulative window in (rev desc, key)
      // order, integer cross-multiplied class cuts, 3-row grid shares.
      """WITH pr AS (SELECT l_partkey,
            CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
              AS BIGINT)) AS BIGINT) AS rev_c
            FROM lineitem GROUP BY l_partkey),
          cum AS (SELECT rev_c,
            CAST(sum(rev_c) OVER (ORDER BY rev_c DESC, l_partkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_c,
            CAST(sum(rev_c) OVER () AS BIGINT) AS tot_c FROM pr),
          cl AS (SELECT CASE WHEN cum_c * 5 <= tot_c * 4 THEN 'A'
              WHEN cum_c * 20 <= tot_c * 19 THEN 'B'
              ELSE 'C' END AS abc_class, rev_c FROM cum),
          gr AS (SELECT abc_class, count(*) AS n_parts,
            CAST(sum(rev_c) AS BIGINT) AS cls_c
          FROM cl GROUP BY abc_class)
          SELECT abc_class, n_parts,
            CAST(cls_c AS DOUBLE) / 100.0 AS revenue,
            CAST(cls_c AS DOUBLE) / CAST(sum(cls_c) OVER () AS DOUBLE)
              AS revenue_share,
            CAST(n_parts AS DOUBLE) / CAST(sum(n_parts) OVER () AS DOUBLE)
              AS part_share
          FROM gr ORDER BY abc_class"""),
    // per-brand unit-price range consistency QA
    key("q_price_dispersion", (s, d) =>
      Analytics.priceDispersion(Tables.lineitem(s, d), Tables.part(s, d)))(
      // Integer-cent unit price via integer division, part-grain range,
      // (max-min)*10 > min cross-multiplied dispersion cut.
      """WITH u AS (SELECT l_partkey,
            CAST(round(l_extendedprice * 100) AS BIGINT) //
              CAST(l_quantity AS BIGINT) AS unit_c
          FROM lineitem),
          p AS (SELECT l_partkey, min(unit_c) AS min_c,
            max(unit_c) AS max_c FROM u GROUP BY l_partkey),
          j AS (SELECT p_brand, min_c, max_c
            FROM p JOIN part ON l_partkey = p_partkey)
          SELECT p_brand, CAST(count(*) AS BIGINT) AS n_parts,
            CAST(count(*) FILTER (WHERE (max_c - min_c) * 10 > min_c)
              AS BIGINT) AS n_dispersed,
            CAST(count(*) FILTER (WHERE (max_c - min_c) * 10 > min_c)
              AS DOUBLE) / count(*) AS dispersed_share,
            CAST(sum(max_c - min_c) AS DOUBLE) / count(*) / 100.0
              AS mean_range
          FROM j GROUP BY p_brand ORDER BY p_brand"""),
    // per-brand ever-sold catalog coverage
    key("q_catalog_coverage", (s, d) =>
      Analytics.catalogCoverage(Tables.lineitem(s, d), Tables.part(s, d)))(
      // Part-grain revenue LEFT-joined from the catalog side so
      // never-ordered parts survive; brand-grid ratios.
      """WITH s AS (SELECT l_partkey,
            CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
              AS BIGINT)) AS BIGINT) AS rev_c
          FROM lineitem GROUP BY l_partkey)
          SELECT p_brand, CAST(count(*) AS BIGINT) AS n_parts,
            CAST(count(rev_c) AS BIGINT) AS n_sellers,
            CAST(count(rev_c) AS DOUBLE) / count(*) AS coverage,
            CAST(coalesce(sum(rev_c), 0) AS DOUBLE) / 100.0 AS revenue,
            CAST(coalesce(sum(rev_c), 0) AS DOUBLE) /
              nullif(CAST(count(rev_c) AS DOUBLE), 0.0) / 100.0
              AS revenue_per_seller
          FROM part LEFT JOIN s ON p_partkey = l_partkey
          GROUP BY p_brand ORDER BY p_brand"""),
    // per-segment balance quartiles + negative share on the cent grid
    key("q_acctbal_bands", (s, d) =>
      Analytics.acctbalBands(Tables.customer(s, d)))(
      // (segment, cents) grid percentiles WITH FREQUENCIES + exact
      // mean/negative share, /100 display divisions at the edge.
      """WITH g AS (SELECT c_mktsegment AS segment,
            CAST(round(c_acctbal * 100) AS BIGINT) AS cents
          FROM customer),
          q AS (SELECT segment, count(*) AS n_custs,
            CAST(sum(cents) AS BIGINT) AS sum_c,
            CAST(count(*) FILTER (WHERE cents < 0) AS BIGINT) AS n_neg,
            quantile_cont(cents, [0.25, 0.5, 0.75]) AS ps
          FROM g GROUP BY segment)
          SELECT segment, n_custs,
            CAST(sum_c AS DOUBLE) / n_custs / 100.0 AS mean_bal,
            CAST(n_neg AS DOUBLE) / n_custs AS neg_share,
            ps[1] / 100.0 AS p25_bal, ps[2] / 100.0 AS p50_bal,
            ps[3] / 100.0 AS p75_bal
          FROM q ORDER BY segment"""),
    // Laspeyres/Paasche/Fisher on the matched-part panel
    key("q_fisher_index", (s, d) =>
      Analytics.fisherIndex(Tables.lineitem(s, d), Tables.part(s, d)))(
      // The q_price_index panel with BOTH quantity weightings; each
      // index one double division, Fisher one sqrt of their product.
      """WITH pq AS (SELECT l_partkey,
            CAST(date_trunc('quarter', l_shipdate) AS DATE) AS quarter,
            CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
              AS BIGINT) AS c,
            CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
          FROM lineitem GROUP BY 1, 2),
          pp AS (SELECT *, (2 * c + q) // (2 * q) AS p_cents FROM pq),
          bq AS (SELECT min(quarter) AS g FROM pp),
          base AS (SELECT l_partkey, p_cents AS p0, q AS q0
            FROM pp, bq WHERE quarter = g),
          j AS (SELECT p_brand, pp.quarter,
            pp.p_cents * base.q0 AS num_l, base.p0 * base.q0 AS den_l,
            pp.p_cents * pp.q AS num_p, base.p0 * pp.q AS den_p
          FROM pp JOIN base USING (l_partkey)
          JOIN part ON l_partkey = p_partkey),
          g2 AS (SELECT p_brand, quarter,
            CAST(count(*) AS BIGINT) AS n_parts,
            sum(num_l) AS snl, sum(den_l) AS sdl,
            sum(num_p) AS snp, sum(den_p) AS sdp
          FROM j GROUP BY p_brand, quarter)
          SELECT p_brand, quarter, n_parts,
            CAST(snl AS DOUBLE) / CAST(sdl AS DOUBLE) * 100.0
              AS laspeyres_pts,
            CAST(snp AS DOUBLE) / CAST(sdp AS DOUBLE) * 100.0
              AS paasche_pts,
            sqrt((CAST(snl AS DOUBLE) / CAST(sdl AS DOUBLE)) *
              (CAST(snp AS DOUBLE) / CAST(sdp AS DOUBLE))) * 100.0
              AS fisher_pts
          FROM g2 ORDER BY p_brand, quarter"""),
    // part-vintage revenue ramp over relative quarters 0-3
    key("q_part_vintage", (s, d) =>
      Analytics.partVintage(Tables.lineitem(s, d)))(
      // Integer year*4+quarter keys, part-grain min intro, conditional
      // cent sums per relative quarter on the vintages grid.
      """WITH pq AS (SELECT l_partkey,
            CAST(year(l_shipdate) * 4 + quarter(l_shipdate) - 1
              AS BIGINT) AS qk,
            CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
              AS BIGINT)) AS BIGINT) AS c
          FROM lineitem GROUP BY 1, 2),
          intro AS (SELECT l_partkey, min(qk) AS q0 FROM pq GROUP BY 1),
          j AS (SELECT pq.l_partkey, intro.q0, pq.qk - intro.q0 AS rel,
            pq.c FROM pq JOIN intro USING (l_partkey)),
          g AS (SELECT q0, CAST(count(DISTINCT l_partkey) AS BIGINT)
              AS n_parts,
            CAST(coalesce(sum(c) FILTER (WHERE rel = 0), 0) AS DOUBLE)
              / 100.0 AS rev_q0,
            CAST(coalesce(sum(c) FILTER (WHERE rel = 1), 0) AS DOUBLE)
              / 100.0 AS rev_q1,
            CAST(coalesce(sum(c) FILTER (WHERE rel = 2), 0) AS DOUBLE)
              / 100.0 AS rev_q2,
            CAST(coalesce(sum(c) FILTER (WHERE rel = 3), 0) AS DOUBLE)
              / 100.0 AS rev_q3
          FROM j GROUP BY q0)
          SELECT q0 // 4 AS intro_year,
            CAST(q0 % 4 + 1 AS BIGINT) AS intro_quarter,
            n_parts, rev_q0, rev_q1, rev_q2, rev_q3
          FROM g ORDER BY intro_year, intro_quarter"""),
    // order-width distribution (lines per order, dual shares)
    key("q_order_lines", (s, d) =>
      Analytics.orderLineDist(Tables.lineitem(s, d)))(
      // Order-grain line counts onto the width grid, dual window shares.
      """WITH o AS (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS nl
            FROM lineitem GROUP BY 1),
          g AS (SELECT nl AS n_lines, count(*) AS n_orders
            FROM o GROUP BY 1)
          SELECT n_lines, n_orders,
            CAST(n_orders AS DOUBLE) /
              CAST(sum(n_orders) OVER () AS DOUBLE) AS order_share,
            CAST(n_lines * n_orders AS DOUBLE) /
              CAST(sum(n_lines * n_orders) OVER () AS DOUBLE)
              AS line_share
          FROM g ORDER BY n_lines"""),
    key("q_ship_priority", (s, d) =>
      Analytics.shippingPriority(Tables.customer(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d), ShipSegment, ShipCutoff, ShipTopK))(
      s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
            round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
          FROM customer
          JOIN orders ON c_custkey = o_custkey
          JOIN lineitem ON l_orderkey = o_orderkey
          WHERE c_mktsegment = '$ShipSegment'
            AND o_orderdate < DATE '$ShipCutoff'
            AND l_shipdate > DATE '$ShipCutoff'
          GROUP BY 1, 2, 3
          ORDER BY revenue DESC, o_orderdate, l_orderkey
          LIMIT $ShipTopK"""),
    key("q_late_suppliers", (s, d) =>
      Analytics.soleLateSuppliers(Tables.lineitem(s, d),
        Tables.orders(s, d), Tables.supplier(s, d), LateDelayDays))(
      // The semi/anti joins replayed as EXISTS / NOT EXISTS.
      s"""WITH late AS (SELECT l_orderkey, l_suppkey
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE date_diff('day', o_orderdate, l_shipdate)
              > $LateDelayDays),
          sole AS (SELECT l1.* FROM late l1
            WHERE EXISTS (SELECT 1 FROM lineitem l2
                WHERE l2.l_orderkey = l1.l_orderkey
                  AND l2.l_suppkey <> l1.l_suppkey)
              AND NOT EXISTS (SELECT 1 FROM late l3
                WHERE l3.l_orderkey = l1.l_orderkey
                  AND l3.l_suppkey <> l1.l_suppkey))
          SELECT s_name, count(*) AS numwait
          FROM sole JOIN supplier ON l_suppkey = s_suppkey
          GROUP BY 1 ORDER BY numwait DESC, s_name"""),
    key("q_small_orders", (s, d) =>
      Analytics.smallOrderRevenue(Tables.lineitem(s, d), Tables.part(s, d),
        SmallOrderFrac))(
      // Integer-valued quantities sum exactly in double in any order, so
      // avg is ONE correctly-rounded division and the 0.2·avg threshold
      // replays bit-identically.
      s"""WITH a AS (SELECT l_partkey,
            sum(l_quantity) / count(*) AS avg_qty
            FROM lineitem GROUP BY 1),
          s AS (SELECT l.l_partkey, l.l_extendedprice
            FROM lineitem l JOIN a USING (l_partkey)
            WHERE l.l_quantity < CAST($SmallOrderFrac AS DOUBLE)
              * a.avg_qty),
          j AS (SELECT p.p_brand, s.l_extendedprice
            FROM s JOIN part p ON p.p_partkey = s.l_partkey)
          SELECT p_brand, count(*) AS n_small_lines,
            CAST(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
              AS BIGINT) AS DOUBLE) / 100.0 AS revenue
          FROM j GROUP BY 1 ORDER BY 1"""),
    key("q_bulk_orders", (s, d) =>
      Analytics.bulkOrders(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), BulkMinQty, BulkTopK))(
      s"""WITH big AS (SELECT l_orderkey, sum(l_quantity) AS sum_qty
            FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > $BulkMinQty)
          SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
            o.o_totalprice, big.sum_qty
          FROM orders o JOIN big ON big.l_orderkey = o.o_orderkey
          JOIN customer c ON c.c_custkey = o.o_custkey
          ORDER BY o.o_totalprice DESC, o.o_orderkey
          LIMIT $BulkTopK"""),
    key("q_idle_customers", (s, d) =>
      Analytics.idleRichCustomers(Tables.customer(s, d),
        Tables.orders(s, d), IdleDays))(
      // The above-average test is the integer cross-multiplication
      // bal·n > Σbal — no average division anywhere; anti-join replays
      // as NOT EXISTS over the same recency window.
      s"""WITH b AS (SELECT c_custkey, c_nationkey,
            CAST(round(c_acctbal * 100) AS BIGINT) AS bc FROM customer),
          t AS (SELECT CAST(sum(bc) AS BIGINT) AS sc, count(*) AS n
            FROM b WHERE bc > 0),
          mx AS (SELECT max(o_orderdate) AS m FROM orders),
          idle AS (SELECT b.c_nationkey, b.bc
            FROM b CROSS JOIN t CROSS JOIN mx
            WHERE b.bc * t.n > t.sc AND NOT EXISTS (
              SELECT 1 FROM orders o WHERE o.o_custkey = b.c_custkey
                AND o.o_orderdate > mx.m - INTERVAL $IdleDays DAY))
          SELECT c_nationkey, count(*) AS n_custs,
            CAST(CAST(sum(bc) AS BIGINT) AS DOUBLE) / 100.0 AS total_bal
          FROM idle GROUP BY 1 ORDER BY 1"""),
    key("q_props_health", (s, d) => Analytics.propsHealth(Tables.events(s, d)))(
      """SELECT event_type, count(*) AS n_events, count(k) AS n_valid,
          count(*) - count(k) AS n_invalid, min(k) AS min_k,
          max(k) AS max_k, CAST(sum(k) AS BIGINT) AS sum_k
          FROM (SELECT event_type,
            CASE WHEN json_valid(props) THEN
              TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)
            END AS k FROM events)
          GROUP BY 1 ORDER BY 1"""),
    // Second aggregation reads ONLY the (type, day) partials — the
    // incremental-warehouse rollup pattern; exact variance from merged
    // integer moments.
    key("q_agg_merge", (s, d) =>
      Analytics.mergeRollup(Analytics.dailyPartials(Tables.events(s, d))))(
      // Integer-moment merge; the variance step runs in double as
      // E[c²]−E[c]² with the operation order mirrored exactly — no
      // int64 overflow cliff, and bigint→double casts round identically
      // in both engines.
      """WITH c AS (SELECT event_type, CAST(ts AS DATE) AS day,
            CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
          FROM events WHERE value IS NOT NULL),
          p AS (SELECT event_type, day, count(*) AS n, sum(c) AS sum_c,
            sum(c * c) AS sumsq_c, min(c) AS min_c, max(c) AS max_c
          FROM c GROUP BY 1, 2),
          m AS (SELECT event_type,
            CAST(date_trunc('week', day) AS DATE) AS week,
            CAST(sum(n) AS BIGINT) AS n, count(*) AS n_days,
            CAST(sum(sum_c) AS BIGINT) AS sum_c,
            CAST(sum(sumsq_c) AS BIGINT) AS sumsq_c,
            min(min_c) AS min_c, max(max_c) AS max_c
          FROM p GROUP BY 1, 2)
          SELECT event_type, week, n, n_days,
            CAST(sum_c AS DOUBLE) / n / 100.0 AS mean_value,
            (CAST(sumsq_c AS DOUBLE) / n - (CAST(sum_c AS DOUBLE) / n)
              * (CAST(sum_c AS DOUBLE) / n)) / 10000.0 AS var_value,
            CAST(min_c AS DOUBLE) / 100.0 AS min_value,
            CAST(max_c AS DOUBLE) / 100.0 AS max_value
          FROM m ORDER BY event_type, week""")
  )
}
