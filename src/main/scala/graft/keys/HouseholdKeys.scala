package graft
package keys

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators._
import Shared._

/** The household media metrics: reach, frequency, pairwise overlap,
  * projection, value mapping and the before/after read. */
object HouseholdKeys extends Family {
  /** Synthetic deterministic projection factor — SURVEY.md §3. Must
    * stay in sync with the `CAST(1 + user_id % 7 AS DOUBLE)` used in
    * every oracle below. */
  private val ProjfactSql = "CAST(1 + user_id % 7 AS DOUBLE)"

  /** q_reach_var: jackknife replicate groups. */
  private val JackknifeGroups = 10

  /** Before/after inputs per SURVEY.md §3: purchases are the
    * 'purchase' events (integer-valued volumes so double sums are
    * exact in both engines), exposures a sparse view/click sample (so
    * both exposed and not-exposed households exist), universe the
    * customer table. */
  private def beforeAfterInputs(s: SparkSession, d: String) = {
    val ev = Tables.events(s, d)
    val purch = ev.where(col("event_type") === "purchase").select(
      col("user_id").as("household_id"),
      to_date(col("ts")).as("pdate"),
      floor(col("value")).cast("double").as("volume_tgt"),
      (floor(col("value")) * 2 + 1).cast("double").as("volume_cat"))
    val expo = ev
      .where(col("event_type").isin("view", "click") && col("event_id") % 97 === 0)
      .select(col("user_id").as("household_id"), to_date(col("ts")).as("date"))
    val univ = Tables.customer(s, d).select(col("c_custkey").as("household_id"))
    (purch, expo, univ)
  }

  /** Shared CTE prefix for the before/after oracles; `maxdays` =
    * maxWks*7-1, `mindays` = minWks*7 (see BeforeAfter.filterToRange). */
  private def beforeAfterCtes(maxdays: Int, mindays: Int, exposedOnly: Boolean): String = {
    val exposedFilter = if (exposedOnly) "WHERE hh_exposed = 'exposed'" else ""
    s"""WITH purch AS (
       SELECT user_id AS household_id, CAST(ts AS DATE) AS pdate,
         CAST(floor(value) AS DOUBLE) AS volume_tgt,
         CAST(floor(value) * 2 + 1 AS DOUBLE) AS volume_cat
       FROM events WHERE event_type = 'purchase'),
     expo AS (
       SELECT user_id AS household_id, CAST(ts AS DATE) AS date
       FROM events WHERE event_type IN ('view', 'click') AND event_id % 97 = 0),
     firstexpo AS (
       SELECT household_id, min(date) AS date FROM expo GROUP BY 1),
     univfe AS (
       SELECT * FROM firstexpo
       WHERE household_id IN (SELECT c_custkey FROM customer)),
     raw0 AS (
       SELECT coalesce(f.household_id, p.household_id) AS household_id,
         CASE WHEN f.date IS NULL THEN 'not exposed' ELSE 'exposed' END AS hh_exposed,
         CASE WHEN f.date IS NULL THEN (SELECT min(date) FROM expo)
              ELSE f.date END AS date,
         p.pdate, p.volume_tgt, p.volume_cat,
         (SELECT max(pdate) FROM purch) AS max_dt
       FROM univfe f FULL JOIN purch p ON f.household_id = p.household_id),
     raw AS (SELECT * FROM raw0 $exposedFilter),
     lim AS (
       SELECT *, CASE WHEN max_dt < date + $maxdays THEN max_dt
                      ELSE date + $maxdays END AS post_limit FROM raw),
     filt AS (
       SELECT household_id, hh_exposed, date, pdate, volume_tgt, volume_cat,
         date_diff('day', date, post_limit) + 1 AS wgt
       FROM lim
       WHERE date_diff('day', pdate, date) < date_diff('day', date, post_limit) + 1
         AND pdate <= post_limit
         AND date_diff('day', date, post_limit) + 1 >= $mindays),
     aggd AS (
       SELECT household_id,
         CASE WHEN pdate < date THEN 'before' ELSE 'after' END AS bef_aft,
         hh_exposed, max(wgt) AS wgt, sum(volume_tgt) AS volume_tgt,
         sum(volume_cat) AS volume_cat
       FROM filt GROUP BY 1, 2, 3),
     balanced AS (
       SELECT * FROM aggd
       UNION ALL
       SELECT b.household_id, 'after', b.hh_exposed, b.wgt,
         CAST(0 AS DOUBLE), CAST(0 AS DOUBLE) FROM aggd b
       LEFT JOIN aggd a ON a.bef_aft = 'after' AND a.hh_exposed = b.hh_exposed
         AND a.household_id = b.household_id
       WHERE b.bef_aft = 'before' AND a.household_id IS NULL
       UNION ALL
       SELECT a.household_id, 'before', a.hh_exposed, a.wgt,
         CAST(0 AS DOUBLE), CAST(0 AS DOUBLE) FROM aggd a
       LEFT JOIN aggd b ON b.bef_aft = 'before' AND b.hh_exposed = a.hh_exposed
         AND b.household_id = a.household_id
       WHERE a.bef_aft = 'after' AND b.household_id IS NULL),
     wts AS (
       SELECT *, max(CASE WHEN volume_tgt > 0 THEN 1 ELSE 0 END)
         OVER (PARTITION BY household_id) AS brandbuyer FROM balanced),
     wts2 AS (
       SELECT household_id, bef_aft, hh_exposed, wgt, volume_tgt, volume_cat,
         volume_cat * brandbuyer AS volume_cat_bb,
         volume_tgt * wgt AS brand_wgt, volume_cat * wgt AS category_wgt,
         volume_cat * brandbuyer * wgt AS category_wgt_bb,
         CASE WHEN volume_tgt > 0 THEN wgt END AS bwgt,
         CASE WHEN volume_cat > 0 THEN wgt END AS cwgt,
         CASE WHEN volume_cat * brandbuyer > 0 THEN wgt END AS cwgt_bb
       FROM wts)"""
  }

  val keys: Seq[Key] = Seq(
    key("q_reach_overall", (s, d) =>
      Reach.reachCount(Tables.media(s, d), "household_id", None, Some("projfact")))(
      s"""WITH dd AS (SELECT DISTINCT user_id AS household_id,
          $ProjfactSql AS projfact FROM events)
          SELECT 'all' AS dimension, '' AS value,
          round(sum(projfact)) AS count, round(sum(projfact)) AS "unique",
          round(sum(projfact)) - round(sum(projfact)) AS duplicates FROM dd"""),
    key("q_reach_by_type", (s, d) =>
      Reach.reachCount(Tables.media(s, d), "household_id", Some("etype"), Some("projfact")))(
      s"""WITH m AS (SELECT DISTINCT user_id AS household_id,
          event_type AS value, $ProjfactSql AS projfact FROM events),
          c AS (SELECT *, count(*) OVER (PARTITION BY household_id) AS cnt FROM m),
          g AS (SELECT value, round(sum(projfact)) AS count,
            round(sum(CASE WHEN cnt > 1 THEN 0.0 ELSE projfact END)) AS "unique"
            FROM c GROUP BY value)
          SELECT 'etype' AS dimension, value, count, "unique",
          count - "unique" AS duplicates FROM g ORDER BY count DESC, value"""),
    // Sparse deterministic samples keep these distributions
    // non-degenerate (at sf>=0.01 every household otherwise hits every
    // event type and frequency cap).
    key("q_frequency", (s, d) =>
      Frequency.freqDistribution(
        Tables.media(s, d).where(col("event_id") % 37 === 0), None))(
      s"""WITH hh AS (SELECT user_id, count(*) AS frequency,
          max($ProjfactSql) AS projfact FROM events
          WHERE event_id % 37 = 0 GROUP BY user_id),
          capped AS (SELECT CASE WHEN frequency >= 10 THEN 10 ELSE frequency END
            AS frequency, projfact FROM hh),
          g AS (SELECT frequency, sum(projfact) AS raw FROM capped GROUP BY frequency)
          SELECT frequency, CAST(round(raw) AS BIGINT) AS proj_hh,
          raw / sum(raw) OVER () AS pct_hh FROM g ORDER BY frequency"""),
    key("q_pairwise_matrix", (s, d) =>
      Pairwise.membershipMatrix(
        Tables.media(s, d).where(col("event_id") % 23 === 0), "etype", EventTypes))(
      s"""WITH p AS (SELECT user_id, $ProjfactSql AS projfact,
          CAST(max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
          CAST(max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
          CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
          CAST(max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
          CAST(max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS "view"
          FROM events WHERE event_id % 23 = 0 GROUP BY 1, 2)
          SELECT click, error, purchase, signup, "view",
          round(sum(projfact)) AS count FROM p GROUP BY 1, 2, 3, 4, 5
          ORDER BY count DESC, click, error, purchase, signup, "view""""),
    // Per-household sampling rate 1/(household_id+2) keeps the deduped
    // distinct-etype counts spread over >1 bucket at EVERY sf (an
    // unsampled input degenerates to one row: all households hit all 5
    // event types at sf>=0.01).
    key("q_frequency_dedup", (s, d) =>
      Frequency.freqDistribution(
        Tables.media(s, d)
          .where(col("event_id") % (col("household_id") + 2) === 0),
        Some("etype")))(
      s"""WITH m AS (SELECT DISTINCT user_id, event_type,
          $ProjfactSql AS projfact FROM events
          WHERE event_id % (user_id + 2) = 0),
          hh AS (SELECT user_id, count(*) AS frequency, max(projfact) AS projfact
            FROM m GROUP BY 1),
          capped AS (SELECT CASE WHEN frequency >= 10 THEN 10 ELSE frequency END
            AS frequency, projfact FROM hh),
          g AS (SELECT frequency, sum(projfact) AS raw FROM capped GROUP BY 1)
          SELECT frequency, CAST(round(raw) AS BIGINT) AS proj_hh,
          raw / sum(raw) OVER () AS pct_hh FROM g ORDER BY frequency""").excluded(
      "dim-frame variant of the benched q_frequency"),
    key("q_friendly_rename", (s, d) => {
      val reach = Reach.reachCount(
        Tables.media(s, d), "household_id", Some("etype"), Some("projfact"))
      val hier = Tables.nation(s, d).select(
        col("n_name").as("dimension"),
        concat(lit("Nation "), col("n_name")).as("friendly_name"))
        .unionAll(Tables.events(s, d).select(col("event_type"), col("event_type"))
          .distinct()
          .select(col("event_type").as("dimension"),
            upper(col("event_type")).as("friendly_name")))
      ValueMapping.toFriendly(reach, "value", hier)
        .orderBy(desc("count"), asc("value"))
    })(
      s"""WITH m AS (SELECT DISTINCT user_id AS household_id,
          event_type AS value, $ProjfactSql AS projfact FROM events),
          c AS (SELECT *, count(*) OVER (PARTITION BY household_id) AS cnt FROM m),
          g AS (SELECT value, round(sum(projfact)) AS count,
            round(sum(CASE WHEN cnt > 1 THEN 0.0 ELSE projfact END)) AS "unique"
            FROM c GROUP BY value),
          r AS (SELECT 'etype' AS dimension, value, count, "unique",
            count - "unique" AS duplicates FROM g),
          hier AS (SELECT n_name AS dimension, 'Nation ' || n_name AS friendly_name
            FROM nation
            UNION ALL SELECT DISTINCT event_type, upper(event_type) FROM events),
          hd AS (SELECT lower(dimension) AS dim_key,
            min(friendly_name) AS friendly_name FROM hier GROUP BY 1)
          SELECT r.dimension, coalesce(h.friendly_name, r.value) AS value,
            r.count, r."unique", r.duplicates
          FROM r LEFT JOIN hd h ON lower(r.value) = h.dim_key
          ORDER BY r.count DESC, value""").excluded(
      "dim-frame relabeling over the tiny friendly map"),
    key("q_pairwise_pairs", (s, d) =>
      Pairwise.pairwiseOverlap(Tables.media(s, d), "etype"))(
      s"""WITH m AS (SELECT DISTINCT user_id AS household_id,
          event_type AS value, $ProjfactSql AS projfact FROM events),
          pairs AS (SELECT a.value AS media_type_1, b.value AS media_type_2,
            sum(a.projfact) AS overlap_raw FROM m a
            JOIN m b ON a.household_id = b.household_id AND a.value < b.value
            GROUP BY 1, 2),
          t AS (SELECT value, sum(projfact) AS cnt FROM m GROUP BY 1)
          SELECT media_type_1, media_type_2,
          round(overlap_raw) AS overlapping_households,
          overlap_raw / t1.cnt AS pct_of_media_type_1,
          overlap_raw / t2.cnt AS pct_of_media_type_2
          FROM pairs JOIN t t1 ON t1.value = media_type_1
          JOIN t t2 ON t2.value = media_type_2
          ORDER BY overlapping_households DESC, media_type_1, media_type_2"""),
    rowsOnly("q_pairwise_approx", (s, d) =>
      Pairwise.pairwiseOverlapApprox(Tables.media(s, d), "etype"))(
      "HLL internals are engine-specific; MetricsSpec bounds the " +
        "inclusion-exclusion estimates against exact distinct counts"),
    key("q_reach_multi", (s, d) =>
      Reach.reachByDimensions(
        Tables.media(s, d).withColumn("week_s", col("week").cast("string")),
        "household_id", Seq("etype", "week_s"), Some("projfact")))(
      s"""WITH m1 AS (SELECT DISTINCT user_id AS household_id,
          event_type AS value, $ProjfactSql AS projfact FROM events),
          c1 AS (SELECT *, count(*) OVER (PARTITION BY household_id) AS cnt FROM m1),
          g1 AS (SELECT 'etype' AS dimension, value,
            round(sum(projfact)) AS count,
            round(sum(CASE WHEN cnt > 1 THEN 0.0 ELSE projfact END)) AS "unique"
            FROM c1 GROUP BY value),
          m2 AS (SELECT DISTINCT user_id AS household_id,
            CAST(CAST(date_trunc('week', ts) AS DATE) AS VARCHAR) AS value,
            $ProjfactSql AS projfact FROM events),
          c2 AS (SELECT *, count(*) OVER (PARTITION BY household_id) AS cnt FROM m2),
          g2 AS (SELECT 'week_s' AS dimension, value,
            round(sum(projfact)) AS count,
            round(sum(CASE WHEN cnt > 1 THEN 0.0 ELSE projfact END)) AS "unique"
            FROM c2 GROUP BY value),
          u AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2)
          SELECT dimension, value, count, "unique", count - "unique" AS duplicates
          FROM u ORDER BY dimension, count DESC, value""").excluded(
      "multi-dimension variant of the benched " +
        "q_reach_by_type (one stacked reach pass)"),
    key("q_reach_week", (s, d) =>
      ReachWeek.weeklyReach(Tables.media(s, d).where(col("event_id") % 101 === 0)))(
      s"""WITH m AS (SELECT user_id AS household_id,
          CAST(date_trunc('week', ts) AS DATE) AS week,
          $ProjfactSql AS projfact FROM events WHERE event_id % 101 = 0),
          fw AS (SELECT household_id, min(week) AS week, max(projfact) AS projfact
            FROM m GROUP BY 1),
          pw AS (SELECT week, round(sum(projfact)) AS counts FROM fw GROUP BY 1)
          SELECT week, counts, sum(counts) OVER (ORDER BY week
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_sum
          FROM pw ORDER BY week"""),
    key("q_projection_ratio", (s, d) =>
      ProjectionRatio.projectionRatios(Tables.media(s, d)))(
      s"""WITH g AS (SELECT event_type AS etype,
          CAST(count(*) AS DOUBLE) AS exposures,
          sum($ProjfactSql) AS proj_num FROM events GROUP BY 1),
          u AS (SELECT * FROM g UNION ALL
            SELECT 'all', sum(exposures), sum(proj_num) FROM g)
          SELECT etype, exposures / proj_num AS ratio FROM u ORDER BY etype"""),
    key("q_value_mapping", (s, d) =>
      ValueMapping.mapValues(Tables.part(s, d).select(
        col("p_partkey").as("id"),
        lit("part_id").as("id_type"),
        col("p_type").as("key"),
        col("p_brand").as("value"))))(
      """WITH v AS (SELECT DISTINCT p_brand AS value FROM part),
         vm AS (SELECT value, CAST(dense_rank() OVER (ORDER BY value) AS BIGINT)
           AS val_id FROM v)
         SELECT p_partkey AS id, 'partid' AS id_type, lower(p_type) AS key,
         p.p_brand AS value, val_id FROM part p JOIN vm ON vm.value = p.p_brand
         ORDER BY id"""),
    key("q_media_projection", (s, d) => {
      val m = Tables.media(s, d)
      val dfs = Seq(
        m.where(col("etype").isin("view", "click")),
        m.where(!col("etype").isin("view", "click")))
      val proj = m.select(col("household_id"), col("projfact"))
      val ratio = m.select(col("etype")).distinct()
        .withColumn("ratio", lit(1.0) + length(col("etype")).cast("double") / 2)
      MediaBuilder.makeMedia(dfs, "date", proj, Some(ratio))
        .groupBy(col("date"))
        .agg(round(sum(col("projfact")), 1).as("proj_sum"), count(lit(1)).as("n"))
        .orderBy(col("date"))
    })(
      s"""WITH m AS (SELECT user_id AS household_id, event_type AS etype,
          CAST(ts AS DATE) AS date, $ProjfactSql AS projfact FROM events),
          proj AS (SELECT DISTINCT household_id, projfact FROM m),
          ratio AS (SELECT DISTINCT etype,
            CAST(1.0 AS DOUBLE) + CAST(len(etype) AS DOUBLE) / 2 AS ratio FROM m),
          j AS (SELECT mm.household_id, mm.date, mm.etype, p.projfact
            FROM m mm JOIN proj p USING (household_id)),
          r AS (SELECT j.*, j.projfact * ratio.ratio AS pf2
            FROM j JOIN ratio USING (etype))
          SELECT date, round(sum(pf2), 1) AS proj_sum, count(*) AS n
          FROM r GROUP BY 1 ORDER BY 1""").excluded(
      "dim-frame assembly over the benched " +
        "reach/projection legs"),
    key("q_before_after", (s, d) => {
      val (p, e, u) = beforeAfterInputs(s, d)
      BeforeAfter.metrics(
        BeforeAfter.getBeforeAfter(BeforeAfter.constructHHFirst(p, e, u), 1, 2))
    })(
      s"""${beforeAfterCtes(13, 7, exposedOnly = false)},
          summed AS (
            SELECT bef_aft, hh_exposed, sum(volume_tgt) AS volume_tgt,
              sum(volume_cat) AS volume_cat, sum(volume_cat_bb) AS volume_cat_bb,
              CAST(sum(bwgt) AS BIGINT) AS bwgt, CAST(sum(cwgt) AS BIGINT) AS cwgt,
              CAST(sum(cwgt_bb) AS BIGINT) AS cwgt_bb,
              sum(brand_wgt) AS brand_wgt, sum(category_wgt) AS category_wgt,
              sum(category_wgt_bb) AS category_wgt_bb,
              CAST(sum(wgt) AS BIGINT) AS wgt,
              count(bwgt) AS bwgt_cnt, count(cwgt) AS cwgt_cnt,
              count(cwgt_bb) AS cwgt_bb_cnt
            FROM wts2 GROUP BY 1, 2)
          SELECT hh_exposed, bef_aft, volume_tgt, volume_cat,
            volume_tgt / nullif(volume_cat, 0) AS ratio,
            brand_wgt / nullif(bwgt / nullif(bwgt_cnt, 0), 0) AS brand_wgt,
            category_wgt / nullif(cwgt / nullif(cwgt_cnt, 0), 0) AS category_wgt,
            (brand_wgt / nullif(bwgt / nullif(bwgt_cnt, 0), 0)) /
              nullif(category_wgt / nullif(cwgt / nullif(cwgt_cnt, 0), 0), 0)
              AS weighted_ratio,
            bwgt_cnt, cwgt_cnt,
            CAST(bwgt_cnt AS DOUBLE) / nullif(cwgt_cnt, 0) AS i_ratio,
            volume_cat_bb, volume_tgt / nullif(volume_cat_bb, 0) AS ratio_bb,
            category_wgt_bb / nullif(cwgt_bb / nullif(cwgt_bb_cnt, 0), 0)
              AS category_wgt_bb,
            (brand_wgt / nullif(bwgt / nullif(bwgt_cnt, 0), 0)) /
              nullif(category_wgt_bb / nullif(cwgt_bb / nullif(cwgt_bb_cnt, 0), 0), 0)
              AS weighted_ratio_bb,
            cwgt_bb_cnt,
            CAST(bwgt_cnt AS DOUBLE) / nullif(cwgt_bb_cnt, 0) AS i_ratio_bb, wgt
          FROM summed ORDER BY hh_exposed, bef_aft DESC"""),
    // Welch two-sample t-test of mean value between type pairs
    key("q_welch", (s, d) =>
      BeforeAfter.welchPairs(Tables.events(s, d)))(
      """WITH c AS (SELECT event_type,
            CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
          FROM events WHERE value IS NOT NULL),
          m AS (SELECT event_type, count(*) AS n,
            CAST(sum(c) AS BIGINT) AS s, CAST(sum(c * c) AS BIGINT) AS ss
          FROM c GROUP BY 1),
          mm AS (SELECT *, CAST(s AS DOUBLE) / n AS mean_c,
            (CAST(ss AS DOUBLE) / n -
              (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)) *
              (CAST(n AS DOUBLE) / (n - 1)) AS var_c
          FROM m)
          SELECT a.event_type AS type_a, b.event_type AS type_b,
            a.n AS n_a, b.n AS n_b,
            a.mean_c / 100.0 AS mean_a, b.mean_c / 100.0 AS mean_b,
            (a.mean_c - b.mean_c) /
              sqrt(a.var_c / a.n + b.var_c / b.n) AS t_stat,
            ((a.var_c / a.n + b.var_c / b.n) *
              (a.var_c / a.n + b.var_c / b.n)) /
              ((a.var_c / a.n) * (a.var_c / a.n) / (a.n - 1) +
               (b.var_c / b.n) * (b.var_c / b.n) / (b.n - 1)) AS welch_df,
            abs((a.mean_c - b.mean_c) /
              sqrt(a.var_c / a.n + b.var_c / b.n)) > 1.96 AS significant
          FROM mm a JOIN mm b ON a.event_type < b.event_type
          ORDER BY 1, 2"""),
    key("q_contingency", (s, d) => {
      val (p, e, u) = beforeAfterInputs(s, d)
      BeforeAfter.contingency(
        BeforeAfter.getBeforeAfter(
          BeforeAfter.constructHHFirst(p, e, u).where(col("hh_exposed") === "exposed"),
          1, 1))
    })(
      s"""${beforeAfterCtes(6, 7, exposedOnly = true)},
          hh AS (
            SELECT bef_aft, household_id, sum(volume_tgt) AS vt,
              sum(volume_cat) AS vc
            FROM wts2 GROUP BY 1, 2),
          pv AS (
            SELECT household_id,
              coalesce(sum(CASE WHEN bef_aft = 'before' THEN vt END), 0) AS bvt,
              coalesce(sum(CASE WHEN bef_aft = 'before' THEN vc END), 0) AS bvc,
              coalesce(sum(CASE WHEN bef_aft = 'after' THEN vt END), 0) AS avt,
              coalesce(sum(CASE WHEN bef_aft = 'after' THEN vc END), 0) AS avc
            FROM hh GROUP BY 1)
          SELECT CASE WHEN bvt > 0 THEN 1 ELSE 0 END AS bb,
            CASE WHEN bvc > bvt THEN 1 ELSE 0 END AS bc,
            CASE WHEN avt > 0 THEN 1 ELSE 0 END AS ab,
            CASE WHEN avc > avt THEN 1 ELSE 0 END AS ac,
            count(*) AS count
          FROM pv GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4"""),
    key("q_friendly_join", (s, d) => {
      val part = Tables.part(s, d)
      val ka = part.select(
        col("p_partkey").as("id"),
        lit("part_id").as("id_type"),
        col("p_type").as("key"),
        col("p_brand").as("value"))
      val dm = part.where(col("p_partkey") % 3 === 0).select(
        lit("partid").as("dimension"),
        when(col("p_partkey") % 9 === 0, col("p_partkey") + 1000000)
          .otherwise(col("p_partkey")).as("label"),
        lit("dig").as("etype"),
        (col("p_partkey") + 100000).as("id"))
      ValueMapping.makeMap(ka, dm)
    })(
      """WITH ka AS (SELECT p_partkey AS id_value, 'partid' AS id_type,
           lower(p_type) AS key, p_brand AS value FROM part),
         vm AS (SELECT value, CAST(dense_rank() OVER (ORDER BY value) AS BIGINT)
           AS val_id FROM (SELECT DISTINCT p_brand AS value FROM part)),
         ka2 AS (SELECT ka.id_value, ka.id_type, ka.key, ka.value, vm.val_id,
           'dig' AS etype2 FROM ka JOIN vm ON vm.value = ka.value),
         dm AS (SELECT 'partid' AS dimension,
           CASE WHEN p_partkey % 9 = 0 THEN p_partkey + 1000000
                ELSE p_partkey END AS label,
           'dig' AS etype, p_partkey + 100000 AS id
           FROM part WHERE p_partkey % 3 = 0)
         SELECT dm.etype, coalesce(ka2.key, dm.dimension) AS key, dm.dimension,
           dm.label, dm.id, ka2.value, coalesce(ka2.val_id, dm.id) AS val_id
         FROM ka2 RIGHT JOIN dm ON dm.dimension = ka2.id_type
           AND dm.label = ka2.id_value AND dm.etype = ka2.etype2
         ORDER BY id, val_id""").excluded(
      "dim-frame assembly (right-outer coalesce " +
        "of the tiny friendly map)"),
    key("q_reach_rollup", (s, d) =>
      Reach.reachRollup(Tables.media(s, d), Seq("etype", "week"),
        "projfact"))(
      s"""WITH m AS (SELECT user_id AS household_id, event_type AS etype,
            CAST(date_trunc('week', ts) AS DATE) AS week,
            $ProjfactSql AS projfact FROM events)
          SELECT coalesce(CAST(etype AS VARCHAR), 'all') AS etype,
            coalesce(CAST(week AS VARCHAR), 'all') AS week,
            count(*) AS exposures, round(sum(projfact)) AS proj_sum,
            count(DISTINCT household_id) AS households,
            CAST(GROUPING(etype) * 2 + GROUPING(week) AS INTEGER) AS lvl
          FROM m GROUP BY ROLLUP (etype, week)
          ORDER BY lvl, etype, week"""),
    rowsOnly("q_reach_approx", (s, d) =>
      Reach.approxReach(Tables.media(s, d), "etype"))(
      "HLL internals are engine-specific; ReachSpec bounds the " +
        "estimates against the exact counts"),
    key("q_reach_var", (s, d) =>
      Reach.reachVariance(Tables.media(s, d), "household_id", "projfact",
        JackknifeGroups))(
      s"""WITH m AS (SELECT user_id AS household_id,
            $ProjfactSql AS projfact FROM events),
          hh AS (SELECT household_id, max(projfact) AS w FROM m GROUP BY 1),
          sp AS (SELECT CAST(unnest(range(0, $JackknifeGroups)) AS BIGINT)
            AS g),
          xg AS (SELECT ((household_id % $JackknifeGroups) +
              $JackknifeGroups) % $JackknifeGroups AS g, w FROM hh),
          pg AS (SELECT sp.g, coalesce(sum(xg.w), 0.0) AS s_g,
              count(xg.w) AS n_g
            FROM sp LEFT JOIN xg ON sp.g = xg.g GROUP BY 1),
          t AS (SELECT g, s_g, CAST(sum(s_g) OVER () AS DOUBLE) AS total,
              CAST(sum(n_g) OVER () AS BIGINT) AS n_households FROM pg),
          d AS (SELECT g, total, n_households,
              (total - s_g) * (CAST($JackknifeGroups AS DOUBLE) /
                CAST(${JackknifeGroups - 1} AS DOUBLE)) - total AS dev
            FROM t)
          SELECT first(total) AS reach,
            first(n_households) AS n_households,
            $JackknifeGroups AS groups,
            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list(dev * dev ORDER BY g)), (x, y) -> x + y) *
              (CAST(${JackknifeGroups - 1} AS DOUBLE) /
               CAST($JackknifeGroups AS DOUBLE)) AS jk_variance
          FROM d"""),
    key("q_reach_var_by_type", (s, d) =>
      Reach.reachVarianceByDim(Tables.media(s, d), "household_id",
        "etype", "projfact", JackknifeGroups))(
      s"""WITH m AS (SELECT user_id AS household_id, event_type AS etype,
            $ProjfactSql AS projfact FROM events),
          hv AS (SELECT etype, household_id, max(projfact) AS w FROM m
            GROUP BY 1, 2),
          pg0 AS (SELECT etype, ((household_id % $JackknifeGroups) +
              $JackknifeGroups) % $JackknifeGroups AS g,
            w FROM hv),
          pg AS (SELECT etype, g, sum(w) AS s_g FROM pg0 GROUP BY 1, 2),
          sp AS (SELECT DISTINCT etype,
              CAST(unnest(range(0, $JackknifeGroups)) AS BIGINT) AS g
            FROM pg),
          fl AS (SELECT sp.etype, sp.g, coalesce(pg.s_g, 0.0) AS s_g
            FROM sp LEFT JOIN pg ON sp.etype = pg.etype AND sp.g = pg.g),
          t AS (SELECT etype, g, s_g,
              CAST(sum(s_g) OVER (PARTITION BY etype) AS DOUBLE) AS total
            FROM fl),
          d AS (SELECT etype, g, total,
              (total - s_g) * (CAST($JackknifeGroups AS DOUBLE) /
                CAST(${JackknifeGroups - 1} AS DOUBLE)) - total AS dev
            FROM t)
          SELECT etype, first(total) AS reach,
            $JackknifeGroups AS groups,
            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list(dev * dev ORDER BY g)), (x, y) -> x + y) *
              (CAST(${JackknifeGroups - 1} AS DOUBLE) /
               CAST($JackknifeGroups AS DOUBLE)) AS jk_variance
          FROM d GROUP BY etype ORDER BY etype""")
  )
}
