package graft
package keys

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators._
import Shared._

/** Data-quality checks, sketch gates, daily QA, skew, privacy,
  * change capture, layout and record linkage. */
object QualityKeys extends Family {
  /** |pct_diff| threshold for q_qa_flags — ~the planted 1-in-20 ad-side
    * drop rate, so the flag splits the groups non-trivially. */
  private val QaTolerance = 0.0526

  /** q_benford: χ² suspect threshold (8 df, p≈0.01). */
  private val BenfordChi2Crit = 20.09

  /** q_fd_audit: candidate determinant → dependent pairs over orders
    * (one true key FD, two deliberately violated candidates). */
  private val FdAuditPairs = Seq(
    ("o_orderkey", "o_custkey"),
    ("o_custkey", "o_orderpriority"),
    ("o_orderpriority", "o_orderstatus"))

  /** q_corr_matrix: audited lineitem measures with their decimal
    * quantization scales (quantity is integral; the rest are 2dp). */
  private val CorrMatrixCols = Seq(
    ("l_quantity", 0), ("l_extendedprice", 2),
    ("l_discount", 2), ("l_tax", 2))

  /** q_k_anon: minimum equivalence-class size; balance bands of 1000
    * currency units generalize c_acctbal. */
  private val KAnonK = 5
  private val KAnonBalBand = 1000

  /** q_l_diversity: distinct sensitive (balance-band) values each
    * (nation, segment) class must carry. */
  private val LDiversityL = 3

  /** q_t_closeness: max ordered-EMD distance between a class's
    * balance-band distribution and the table's. */
  private val TClosenessT = 0.15

  /** q_autocorr: lags (days) tested — 1 for day-to-day persistence, 7
    * for weekly cadence (the [[EventKeys.ForecastLagDays]] model check). */
  private val AutocorrLags = Seq(1, 7)

  /** q_fanout_audit: per-key multiplicity cap — the top bucket reads
    * "cap or more". */
  private[graft] val FanoutMultCap = 8

  /** q_changepoint: window length and minimum observed days per side. */
  private val ChangepointDays = 7
  private val ChangepointMinDays = 3

  /** q_freshness: trailing activity windows (days before the corpus
    * frontier day). */
  private val FreshnessTrailDays = Seq(1, 7)

  /** q_file_skipping: z-order files and probes per dimension (probe
    * width = 1024/8 = 128 cells). */
  private val SkipFiles = 64
  private val SkipProbes = 8

  private val SampleBiasMod = 10
  private val SampleBiasCritical = 3.841

  /** q_entity_components synthetic shared identifiers: key g3 groups
    * consecutive custkey triples; key dec links the multiples of 3
    * within each 30-key decade — so triples chain into ~30-record
    * entities through the decade hubs, exercising transitivity
    * without collapsing the table into one giant component. */
  private val EntityG3 = 3
  private val EntityDecade = 30

  /** q_dq_rules: the expectations suite on `orders`. The price cap is
    * deliberately INSIDE the data range so the report shows real
    * violations, not a wall of zeros. */
  private val OrderPriceCap = 300000

  /** q_ooo_audit candidate watermark delays (seconds). */
  private val OooDelays = Seq(60, 300, 3600)

  /** q_watermark_rec: max tolerated drop rate, per-mille (integer so
    * the selection threshold is exact in both engines). */
  private val WatermarkTargetPm = 5

  private def orderRules: Seq[(String, Column)] = Seq(
    "custkey_not_null" -> col("o_custkey").isNotNull,
    "orderdate_in_range" ->
      col("o_orderdate").between("1992-01-01", "1998-12-31"),
    "orderkey_not_null" -> col("o_orderkey").isNotNull,
    "status_known" -> col("o_orderstatus").isin("O", "F", "P"),
    "totalprice_below_cap" -> (col("o_totalprice") < OrderPriceCap),
    "totalprice_positive" -> (col("o_totalprice") > 0))

  /** q_histogram: fixed-width value bins (events.value spans ~0–490 at
    * every SF, so all 10 interior bins populate; the open under/
    * overflow bins are exercised by spec). */
  private val HistLo = 0.0
  private val HistWidth = 50.0
  private val HistBins = 10

  /** q_qa_anomaly: 7-day trailing baseline, 3σ threshold, ≥4 baseline
    * days before a day may flag. */
  private val AnomalyDays = 7
  private val AnomalyK = 3
  private val AnomalyMinDays = 4

  /** q_decompose centered-trend half-window (days each side). */
  private val DecomposeHalf = 3

  /** q_qa_orphans: the measurement panel = customers with key <
    * PanelMaxKey — the stand-in for the reference's matched-universe
    * file; events from users outside it count as orphans (would be
    * dropped by the universe semi-join). */
  private val PanelMaxKey = 100

  /** q_table_diff / q_scd_merge planted snapshot deltas: keys %
    * ChangeMod change an attribute, % DropMod vanish (diff only),
    * % NewMod reappear shifted by NewKeyOffset as brand-new keys.
    * Non-trivial added/removed/changed/closed populations at every
    * SF. */
  private val ChangeMod = 9
  private val DropMod = 13
  private val NewMod = 17
  private val NewKeyOffset = 1000000L

  /** q_cdc_apply planted change log: % UpdMod updated at seq 1,
    * % DelMod deleted at seq 2, % InsMod inserted as shifted new keys
    * at seq 2, % ResMod (⊂ DelMod's multiples) re-upserted at seq 3 —
    * so last-writer-wins is exercised in both directions (update→
    * delete wins delete, delete→upsert resurrects). */
  private val CdcUpdMod = 5
  private val CdcDelMod = 7
  private val CdcInsMod = 11
  private val CdcResMod = 21

  /** q_entity_match: planted typos over customer names — id % 3 == 0
    * gets one mid-name substitution (dist 1), % 3 == 1 two (dist 2),
    * % 3 == 2 a LAST-char substitution that breaks the trailing-chars
    * blocking key — the intentional blocking-miss class (NULL match)
    * that makes the matcher's recall tradeoff visible in the gate.
    * Block length is corpus-derived (Entity.blockLenFor), replayed
    * in SQL by the oracle off count(*) of the clean side. */
  private val EntityMaxDist = 2

  /** q_schema_contract: the declared orders contract — v2 of the
    * feed (adds o_comment, narrows o_totalprice to a decimal), so the
    * drift report against the actual v1 parquet carries one
    * missing_in_actual and one type_changed row by construction. */
  private val OrdersContract = Seq(
    "o_orderkey" -> "bigint", "o_custkey" -> "bigint",
    "o_orderstatus" -> "string", "o_totalprice" -> "decimal(12,2)",
    "o_orderdate" -> "timestamp", "o_orderpriority" -> "string",
    "o_comment" -> "string")

  /** q_join_skew: report size + the per-bucket output-row target
    * the power-of-two bucket ladder is solved against. */
  private val JoinSkewTopK = 20
  private val JoinSkewTarget = 1000000L

  /** q_skew_report: heaviest keys listed. */
  private val SkewTopN = 10

  /** q_profile columns — numeric and string legs of the lineitem
    * describe-profile; both the query and its oracle are generated
    * from these lists. */
  private val ProfileNumCols =
    Seq("l_orderkey", "l_quantity", "l_extendedprice", "l_discount")
  private val ProfileStrCols = Seq("l_returnflag", "l_linestatus")

  /** One multigroup-QA oracle block: grouped log/ad counts outer-joined
    * on `keys`, log-side meta left-joined, labels applied. Mirrors one
    * [[graft.operators.DailyQA.multiGroupingQA]] `block`. */
  private def qaBlockSql(d: String, logT: String, adT: String,
                         dateSel: String, dimLabel: String,
                         byDate: Boolean): String = {
    val keys = if (byDate) s"$d, date" else d
    s"""SELECT '$dimLabel' AS dimension, CAST($d AS VARCHAR) AS value,
       $dateSel AS date, exe_imp, impressions,
       impressions - exe_imp AS diff,
       CAST(impressions - exe_imp AS DOUBLE) / nullif(impressions, 0) AS pct_diff,
       meta
       FROM (
         SELECT $keys, exe_imp, impressions, meta FROM
           (SELECT $keys, count(*) AS exe_imp FROM $logT GROUP BY $keys) l
           FULL JOIN (SELECT $keys, count(*) AS impressions FROM $adT
                      GROUP BY $keys) a USING ($keys)
           LEFT JOIN (SELECT $keys, string_agg(conf, ' ' ORDER BY conf) AS meta
                      FROM (SELECT DISTINCT $keys, conf FROM $logT)
                      GROUP BY $keys) m USING ($keys))"""
  }

  /** The Morton magic-mask spread ladder as SQL — mirrors
    * [[graft.operators.Layout.spreadBits]] operation-for-operation
    * (pure 64-bit shifts/masks, so both engines are bit-exact). */
  private def spreadSql(v: String): String = {
    val s8 = s"((($v) | (($v) << 8)) & 16711935)"
    val s4 = s"((($s8) | (($s8) << 4)) & 252645135)"
    val s2 = s"((($s4) | (($s4) << 2)) & 858993459)"
    s"((($s2) | (($s2) << 1)) & 1431655765)"
  }

  val keys: Seq[Key] = Seq(
    // bound gate: every pair's side counts within 5%, the
    // inclusion-exclusion overlap within 8% of the exact union -
    // hash-gated via the exact leg + TRUE verdicts in the oracle
    key("q_pairwise_approx_gate", (s, d) =>
      SketchGates.pairwiseGate(Tables.media(s, d), "etype"))(
      """WITH hv AS (SELECT DISTINCT event_type AS value,
            user_id AS household_id FROM events),
          pv AS (SELECT value, count(*) AS nx FROM hv GROUP BY 1),
          ep AS (SELECT a.value AS media_type_1, b.value AS media_type_2,
            count(*) AS overlap_exact
            FROM hv a JOIN hv b ON a.household_id = b.household_id
              AND a.value < b.value
            GROUP BY 1, 2)
          SELECT p1.value AS media_type_1, p2.value AS media_type_2,
            CAST(p1.nx AS BIGINT) AS n1_exact,
            CAST(p2.nx AS BIGINT) AS n2_exact,
            CAST(coalesce(ep.overlap_exact, 0) AS BIGINT) AS overlap_exact,
            TRUE AS within_bound
          FROM pv p1 JOIN pv p2 ON p1.value < p2.value
          LEFT JOIN ep ON ep.media_type_1 = p1.value
            AND ep.media_type_2 = p2.value
          ORDER BY 1, 2"""),
    key("q_qa_daily", (s, d) => {
      val ev = Tables.events(s, d)
      DailyQA.groupingDiff(
        ev.select(col("event_type"), to_date(col("ts")).as("date")),
        ev.where(col("event_id") % 20 =!= 0)
          .select(col("event_type"), to_date(col("ts")).as("date")),
        Seq("event_type", "date"))
    })(
      """WITH l AS (SELECT event_type, CAST(ts AS DATE) AS date, count(*) AS exe_imp
         FROM events GROUP BY 1, 2),
         a AS (SELECT event_type, CAST(ts AS DATE) AS date, count(*) AS impressions
         FROM events WHERE event_id % 20 <> 0 GROUP BY 1, 2)
         SELECT event_type, date, exe_imp, impressions,
         impressions - exe_imp AS diff,
         CAST(impressions - exe_imp AS DOUBLE) / nullif(impressions, 0) AS pct_diff
         FROM l FULL JOIN a USING (event_type, date)
         ORDER BY event_type, date"""),
    key("q_qa_hourshift", (s, d) =>
      DailyQA.shiftedDailyCounts(Tables.events(s, d), "ts", -6, 7))(
      """WITH s AS (SELECT CAST(ts - INTERVAL 6 HOUR AS DATE) AS date FROM events),
         b AS (SELECT max(date) AS max_d FROM s)
         SELECT date, count(*) AS exe_imp FROM s CROSS JOIN b
         WHERE date_diff('day', date, max_d) < 7
         GROUP BY date ORDER BY date""").excluded(
      "parameter variant of the benched q_qa_daily " +
        "(hour shift + trailing period)"),
    key("q_qa_multigroup", (s, d) => {
      val ev = Tables.events(s, d)
      def prep(df: DataFrame) = df.select(
        col("event_type"),
        (col("user_id") % 5).cast("string").as("site"),
        to_date(col("ts")).as("date"),
        (col("user_id") % 10).cast("string").as("conf"))
      DailyQA.multiGroupingQA(
        prep(ev), Some(prep(ev.where(col("event_id") % 20 =!= 0))),
        Seq("event_type", "site"), 7, Some("conf"))
    })({
      val dims = Seq("event_type", "site")
      val blocks =
        (dims.map(d => qaBlockSql(d, "log", "ad", "'whole period'", d, byDate = false)) :+
          qaBlockSql("date", "log", "ad", "CAST(date AS VARCHAR)", "date", byDate = false)) ++
          dims.map(d => qaBlockSql(d, "logt", "adt", "'7 days'", d, byDate = false)) ++
          dims.map(d => qaBlockSql(d, "logt", "adt", "CAST(date AS VARCHAR)",
            s"$d date", byDate = true))
      s"""WITH log AS (SELECT event_type, CAST(user_id % 5 AS VARCHAR) AS site,
            CAST(ts AS DATE) AS date, CAST(user_id % 10 AS VARCHAR) AS conf
            FROM events),
          ad AS (SELECT event_type, CAST(user_id % 5 AS VARCHAR) AS site,
            CAST(ts AS DATE) AS date, CAST(user_id % 10 AS VARCHAR) AS conf
            FROM events WHERE event_id % 20 <> 0),
          b AS (SELECT max(date) AS max_d FROM log),
          logt AS (SELECT log.* FROM log CROSS JOIN b
            WHERE date_diff('day', date, max_d) < 7),
          adt AS (SELECT ad.* FROM ad CROSS JOIN b
            WHERE date_diff('day', ad.date, max_d) < 7)
          SELECT * FROM (${blocks.mkString("\n UNION ALL \n")})
          ORDER BY dimension, date, value"""
    }),
    key("q_qa_flags", (s, d) => {
      val ev = Tables.events(s, d)
      val qa = DailyQA.groupingDiff(
        ev.select(col("event_type"), to_date(col("ts")).as("date")),
        ev.where(col("event_id") % 20 =!= 0)
          .select(col("event_type"), to_date(col("ts")).as("date")),
        Seq("event_type", "date"))
      DataChecks.flagExceedances(qa, QaTolerance)
        .orderBy(col("event_type"), col("date"))
    })(
      s"""WITH l AS (SELECT event_type, CAST(ts AS DATE) AS date,
           count(*) AS exe_imp FROM events GROUP BY 1, 2),
         a AS (SELECT event_type, CAST(ts AS DATE) AS date,
           count(*) AS impressions FROM events WHERE event_id % 20 <> 0
           GROUP BY 1, 2),
         q AS (SELECT event_type, date, exe_imp, impressions,
           impressions - exe_imp AS diff,
           CAST(impressions - exe_imp AS DOUBLE) / nullif(impressions, 0)
             AS pct_diff
           FROM l FULL JOIN a USING (event_type, date))
         SELECT *, abs(pct_diff) AS abs_pct_diff,
           CAST($QaTolerance AS DOUBLE) AS tolerance
         FROM q WHERE abs(pct_diff) > CAST($QaTolerance AS DOUBLE)
         ORDER BY event_type, date"""),
    key("q_qa_meta", (s, d) =>
      DailyQA.metaAgg(
        Tables.events(s, d).select(
          col("event_type"),
          (col("user_id") % 10).cast("string").as("conf")),
        "event_type", "conf"))(
      """WITH d AS (SELECT DISTINCT event_type, CAST(user_id % 10 AS VARCHAR) AS conf
         FROM events)
         SELECT event_type, string_agg(conf, ' ' ORDER BY conf) AS meta
         FROM d GROUP BY 1 ORDER BY 1"""),
    key("q_profile", (s, d) =>
      DataChecks.profile(Tables.lineitem(s, d), ProfileNumCols, ProfileStrCols))({
      // replays profile's per-column shape: stats derived from the
      // per-value counts, incl. the value-weighted mean
      def legSql(c: String, isNum: Boolean): String = {
        val typed =
          if (isNum)
            s"""CAST(min($c) AS DOUBLE) AS min_num,
                CAST(max($c) AS DOUBLE) AS max_num,
                round(CAST(sum($c * cnt) AS DOUBLE) /
                  CAST(sum(CASE WHEN $c IS NOT NULL THEN cnt END) AS DOUBLE), 2)
                  AS mean,
                (SELECT quantile_cont($c, 0.5) FROM lineitem) AS p50,
                CAST(NULL AS VARCHAR) AS min_str,
                CAST(NULL AS VARCHAR) AS max_str"""
          else
            s"""CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
                CAST(NULL AS DOUBLE) AS mean, CAST(NULL AS DOUBLE) AS p50,
                CAST(min($c) AS VARCHAR) AS min_str,
                CAST(max($c) AS VARCHAR) AS max_str"""
        s"""SELECT '$c' AS col_name, CAST(sum(cnt) AS BIGINT) AS n_rows,
            CAST(coalesce(sum(CASE WHEN $c IS NULL THEN cnt END), 0) AS BIGINT)
              AS n_nulls,
            count($c) AS n_distinct, $typed
            FROM (SELECT $c, count(*) AS cnt FROM lineitem GROUP BY $c)"""
      }
      val blocks = ProfileNumCols.map(legSql(_, isNum = true)) ++
        ProfileStrCols.map(legSql(_, isNum = false))
      s"""SELECT * FROM (${blocks.mkString(" UNION ALL ")}) ORDER BY col_name"""
    }),
    // Planted pathological key: half of all events collapse onto
    // hot_key 0 — the one-household-with-millions-of-rows shape. The
    // salted two-phase sum bounds any single reducer's input to
    // 1/32 of the hot key; integer (floored) volumes keep the
    // differently-ordered partial sums bit-exact against the oracle's
    // single-pass sum.
    key("q_skew_salted", (s, d) => {
      val ev = Tables.events(s, d).select(
        when(col("event_id") % 2 === 0, lit(0L))
          .otherwise(col("user_id").cast("long")).as("hot_key"),
        floor(col("value")).cast("long").as("v"),
        col("event_id"))
      Skew.saltedSum(ev, Seq("hot_key"), "v", col("event_id"), 32)
        .orderBy(col("hot_key"))
    })(
      """SELECT CASE WHEN event_id % 2 = 0 THEN 0
                ELSE CAST(user_id AS BIGINT) END AS hot_key,
         CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) AS sum_v
         FROM events GROUP BY 1 ORDER BY hot_key"""),
    // bound gate: per-value + merged "all" HLL estimates within 5%
    // of the exact distinct counts (driver-checked, not spec-only)
    key("q_reach_approx_gate", (s, d) =>
      SketchGates.reachGate(Tables.media(s, d), "etype"))(
      // sketch-bound gates: the oracle recomputes the EXACT leg and
      // expects literal TRUE per verdict column — a sketch drifting
      // past its bound hash-fails the gate (the estimate itself never
      // rides in the output; it is the engine-specific part)
      """WITH pv AS (SELECT CAST(event_type AS VARCHAR) AS value,
            count(DISTINCT user_id) AS reach_exact FROM events GROUP BY 1
          UNION ALL
          SELECT 'all', count(DISTINCT user_id) FROM events)
          SELECT value, CAST(reach_exact AS BIGINT) AS reach_exact,
            TRUE AS within_bound
          FROM pv ORDER BY value"""),
    // PII is PLANTED deterministically in-query (the raw corpus has
    // none — an all-zeros oracle could not catch a broken pattern)
    // and the planting is mirrored verbatim in the oracle SQL, so the
    // hash check verifies real counts and real replacements.
    key("q_pii_redact", (s, d) =>
      Privacy.piiRedact(Privacy.plantPii(Tables.documentsFloored(s, d))))(
      // Planted PII mirrored verbatim from Privacy.plantPii; the three
      // patterns are in the RE2 ∩ Java subset, so regexp_extract_all /
      // regexp_replace('g') agree with Spark's regexp_count /
      // regexp_replace match-for-match.
      s"""WITH planted AS (SELECT doc_id,
            CASE WHEN doc_id % ${Privacy.PlantEvery} = 0 THEN
              text || ' Contact user' || doc_id ||
              '@example.com or call 555-867-5309 from 10.' ||
              (doc_id % 250) || '.0.1'
            ELSE text END AS text
          FROM documents),
          c AS (SELECT doc_id,
            CAST(len(regexp_extract_all(text, '${Privacy.EmailRe}')) AS BIGINT) AS n_email,
            CAST(len(regexp_extract_all(text, '${Privacy.PhoneRe}')) AS BIGINT) AS n_phone,
            CAST(len(regexp_extract_all(text, '${Privacy.Ipv4Re}')) AS BIGINT) AS n_ip,
            regexp_replace(regexp_replace(regexp_replace(text,
              '${Privacy.EmailRe}', '<EMAIL>', 'g'),
              '${Privacy.PhoneRe}', '<PHONE>', 'g'),
              '${Privacy.Ipv4Re}', '<IP>', 'g') AS redacted
          FROM planted)
          SELECT doc_id, n_email, n_phone, n_ip,
            n_email + n_phone + n_ip AS pii_total, redacted
          FROM c ORDER BY doc_id"""),
    key("q_source_drift", (s, d) =>
      DataChecks.sourceDrift(Tables.documents(s, d)))(
      // CDFs on the shared bucket grid via cumulative windows; D =
      // max |F_src - F_rest| attained on bucket edges. DuckDB window
      // sums widen to HUGEINT -> CAST before the double division.
      s"""WITH sb AS (SELECT source,
            least(CAST(length(text) AS BIGINT) // 50, 40) AS bucket,
            count(*) AS cnt FROM documents
            WHERE text IS NOT NULL GROUP BY 1, 2),
          g AS (SELECT bucket, CAST(sum(cnt) AS BIGINT) AS gcnt
            FROM sb GROUP BY 1),
          srcs AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS stot
            FROM sb GROUP BY 1),
          grid AS (SELECT s.source, s.stot, g.bucket, g.gcnt,
            coalesce(sb.cnt, 0) AS cnt
            FROM srcs s CROSS JOIN g LEFT JOIN sb
            ON sb.source = s.source AND sb.bucket = g.bucket),
          c AS (SELECT *,
            sum(gcnt) OVER (PARTITION BY source) AS gtot,
            sum(cnt) OVER (PARTITION BY source ORDER BY bucket
              ROWS UNBOUNDED PRECEDING) AS scum,
            sum(gcnt) OVER (PARTITION BY source ORDER BY bucket
              ROWS UNBOUNDED PRECEDING) AS gcum
            FROM grid),
          t AS (SELECT source, stot,
            abs(CAST(scum AS DOUBLE) / nullif(stot, 0) -
              CAST(gcum - scum AS DOUBLE) / nullif(gtot - stot, 0))
              AS term FROM c)
          SELECT source, CAST(max(stot) AS BIGINT) AS n_docs,
            max(term) AS ks_vs_rest
          FROM t GROUP BY 1 ORDER BY 1"""),
    key("q_zorder", (s, d) => Layout.zorderReport(Tables.events(s, d)))(
      s"""WITH base AS (SELECT
            CAST(user_id % 1024 AS BIGINT) AS ux,
            CAST((CAST(epoch(ts) AS BIGINT) // 3600) % 1024 AS BIGINT)
              AS ty FROM events),
          z AS (SELECT ux, ty,
            (${spreadSql("ux")}) | ((${spreadSql("ty")}) << 1) AS zv
            FROM base),
          f AS (SELECT ux, ty, CAST(zv // 16384 AS INTEGER) AS file_id
            FROM z)
          SELECT file_id, count(*) AS n_rows,
            min(ux) AS user_min, max(ux) AS user_max,
            min(ty) AS time_min, max(ty) AS time_max,
            (max(ux) - min(ux) + 1) / CAST(1024 AS DOUBLE) AS user_span_frac,
            (max(ty) - min(ty) + 1) / CAST(1024 AS DOUBLE) AS time_span_frac
          FROM f GROUP BY 1 ORDER BY 1"""),
    // Mix drift between deterministic even/odd epoch-day snapshots —
    // the synthetic stand-in for yesterday-vs-today QA.
    key("q_qa_drift", (s, d) => {
      val e = Tables.events(s, d).withColumn("dn",
        datediff(to_date(col("ts")), lit("1970-01-01")))
      DataChecks.distributionDrift(
        e.where(pmod(col("dn"), lit(2)) === 0),
        e.where(pmod(col("dn"), lit(2)) === 1), "event_type")
    })(
      """WITH e AS (SELECT event_type,
            date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS dn
          FROM events),
          b AS (SELECT event_type, count(*) AS n_base FROM e
            WHERE dn % 2 = 0 GROUP BY 1),
          c AS (SELECT event_type, count(*) AS n_cur FROM e
            WHERE dn % 2 = 1 GROUP BY 1),
          j AS (SELECT coalesce(b.event_type, c.event_type) AS event_type,
              CAST(coalesce(n_base, 0) AS BIGINT) AS n_base,
              CAST(coalesce(n_cur, 0) AS BIGINT) AS n_cur
            FROM b FULL OUTER JOIN c ON b.event_type = c.event_type),
          w AS (SELECT event_type, n_base, n_cur,
              CAST(sum(n_base) OVER () AS BIGINT) AS tot_b,
              CAST(sum(n_cur) OVER () AS BIGINT) AS tot_c FROM j),
          s AS (SELECT event_type, n_base, n_cur,
              CAST(n_base AS DOUBLE) / nullif(tot_b, 0) AS share_base,
              CAST(n_cur AS DOUBLE) / nullif(tot_c, 0) AS share_cur
            FROM w)
          SELECT event_type, n_base, n_cur, share_base, share_cur,
            share_cur - share_base AS share_delta,
            (share_cur - share_base) * (share_cur - share_base) /
              nullif(share_base, 0) AS chi2_term
          FROM s ORDER BY event_type"""),
    // bound gate: sketch growth accounting vs the exact lifecycle at
    // active-week grain (active 5%, statuses 8% inclusion-exclusion)
    key("q_lifecycle_approx_gate", (s, d) =>
      SketchGates.lifecycleGate(Tables.events(s, d)
        .where(col("event_id") % CohortSliceMod === 0)))(
      s"""WITH uw AS (SELECT DISTINCT user_id,
            CAST(date_trunc('week', ts) AS DATE) AS week
            FROM events WHERE event_id % $CohortSliceMod = 0),
          mx AS (SELECT max(week) AS max_week FROM uw),
          lagged AS (SELECT user_id, week,
            lag(week) OVER (PARTITION BY user_id ORDER BY week) AS prev_w,
            lead(week) OVER (PARTITION BY user_id ORDER BY week) AS next_w
            FROM uw),
          act AS (SELECT week,
            CASE WHEN prev_w IS NULL THEN 'new'
                 WHEN week - prev_w = 7 THEN 'retained'
                 ELSE 'resurrected' END AS status FROM lagged),
          churn AS (SELECT week + 7 AS week, 'churned' AS status
            FROM lagged, mx
            WHERE (next_w IS NULL OR next_w - week > 7)
              AND week + 7 <= max_week),
          allr AS (SELECT * FROM act UNION ALL SELECT * FROM churn),
          wide AS (SELECT week,
            CAST(coalesce(count(*) FILTER (WHERE status = 'new'), 0)
              AS BIGINT) AS new_exact,
            CAST(coalesce(count(*) FILTER (WHERE status = 'retained'), 0)
              AS BIGINT) AS retained_exact,
            CAST(coalesce(count(*) FILTER (WHERE status = 'resurrected'), 0)
              AS BIGINT) AS resurrected_exact,
            CAST(coalesce(count(*) FILTER (WHERE status = 'churned'), 0)
              AS BIGINT) AS churned_exact
            FROM allr GROUP BY week),
          actv AS (SELECT week, count(*) AS active_exact FROM uw GROUP BY 1),
          fs AS (SELECT week, count(*) AS first_seen FROM
            (SELECT user_id, min(week) AS week FROM uw GROUP BY 1)
            GROUP BY 1),
          grain AS (SELECT a.week, a.active_exact,
            CAST(sum(coalesce(f.first_seen, 0)) OVER (ORDER BY a.week
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_exact
            FROM actv a LEFT JOIN fs f USING (week))
          SELECT a.week, CAST(a.active_exact AS BIGINT) AS active_exact,
            a.cum_exact,
            coalesce(w.new_exact, 0) AS new_exact,
            coalesce(w.retained_exact, 0) AS retained_exact,
            coalesce(w.resurrected_exact, 0) AS resurrected_exact,
            coalesce(w.churned_exact, 0) AS churned_exact,
            TRUE AS active_within, TRUE AS new_within,
            TRUE AS retained_within, TRUE AS resurrected_within,
            TRUE AS churned_within
          FROM grain a LEFT JOIN wide w USING (week) ORDER BY a.week"""),
    // chi-square GOF of the 1-in-10 event_id sample vs full
    key("q_sample_bias", (s, d) =>
      DataChecks.sampleBias(Tables.events(s, d), SampleBiasMod,
        SampleBiasCritical))(
      // One aggregate computes both counts; expected/χ² fixed-shape
      // doubles off grid-window totals, nullif-guarded.
      s"""WITH per AS (SELECT event_type,
            CAST(count(*) AS BIGINT) AS n_full,
            CAST(count(*) FILTER (WHERE event_id % $SampleBiasMod = 0)
              AS BIGINT) AS n_sampled
          FROM events GROUP BY 1),
          w AS (SELECT *, CAST(n_full AS DOUBLE) *
            CAST(sum(n_sampled) OVER () AS DOUBLE) /
            CAST(sum(n_full) OVER () AS DOUBLE) AS expected_sampled
          FROM per),
          c AS (SELECT *,
            (CAST(n_sampled AS DOUBLE) - expected_sampled) *
            (CAST(n_sampled AS DOUBLE) - expected_sampled) /
            nullif(expected_sampled, 0.0) AS contrib FROM w)
          SELECT event_type, n_full, n_sampled, expected_sampled,
            contrib,
            CASE WHEN contrib > $SampleBiasCritical THEN 1 ELSE 0 END
              AS suspect
          FROM c ORDER BY event_type"""),
    // Wilson-bounded error share by hour of day
    key("q_error_share", (s, d) =>
      DataChecks.errorShare(Tables.events(s, d), CtrZ))({
      // 24-row hour grid + the Wilson chain in engine operation order.
      val z2 = CtrZ * CtrZ
      s"""WITH a AS (SELECT CAST(hour(ts) AS INTEGER) AS hod,
            count(*) AS n_events,
            count(*) FILTER (WHERE event_type = 'error') AS n_errors
          FROM events GROUP BY 1),
          pr AS (SELECT *, CAST(n_errors AS DOUBLE) / n_events AS p
            FROM a)
          SELECT hod, n_events, n_errors, p AS error_share,
            (p + $z2 / (CAST(n_events AS DOUBLE) * 2) - $CtrZ *
              sqrt(p * (1.0 - p) / CAST(n_events AS DOUBLE) +
                $z2 / (CAST(n_events AS DOUBLE) *
                  CAST(n_events AS DOUBLE) * 4))) /
            (1.0 + $z2 / CAST(n_events AS DOUBLE)) AS wilson_lb
          FROM pr ORDER BY hod""" }),
    key("q_trend", (s, d) =>
      DataChecks.dailyTrend(Tables.events(s, d)))(
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
            count(*) AS y FROM events GROUP BY 1, 2),
          o AS (SELECT min(day) AS day0 FROM d),
          x AS (SELECT event_type,
            CAST(date_diff('day', day0, day) AS BIGINT) AS x, y
            FROM d CROSS JOIN o),
          m AS (SELECT event_type, count(*) AS n_days,
            CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
            CAST(sum(x * y) AS BIGINT) AS sxy,
            CAST(sum(x * x) AS BIGINT) AS sxx
            FROM x GROUP BY 1),
          s AS (SELECT *, CAST(n_days * sxy - sx * sy AS DOUBLE) /
            nullif(n_days * sxx - sx * sx, 0) AS slope_per_day FROM m)
          SELECT event_type, n_days, sy AS n_events, slope_per_day,
            (CAST(sy AS DOUBLE) - slope_per_day * sx) / n_days AS intercept
          FROM s ORDER BY 1"""),
    // one-way-ANOVA weekday seasonality strength per type
    key("q_weekday_anova", (s, d) =>
      DataChecks.weekdayAnova(Tables.events(s, d)))(
      // Daily grid, isodow groups, eta^2 off exact integer moments with
      // the between-group fold in weekday order (list_reduce).
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
            CAST(count(*) AS BIGINT) AS nd FROM events GROUP BY 1, 2),
          wd AS (SELECT event_type, CAST(isodow(day) AS INTEGER) AS dow,
            CAST(sum(nd) AS BIGINT) AS tg, CAST(count(*) AS BIGINT) AS kg
          FROM daily GROUP BY 1, 2),
          g AS (SELECT event_type,
            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list(CAST(tg AS DOUBLE) * CAST(tg AS DOUBLE) /
                CAST(kg AS DOUBLE) ORDER BY dow)),
              (x, y) -> x + y) AS ssb_raw
          FROM wd GROUP BY event_type),
          m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
            CAST(sum(nd) AS BIGINT) AS tt,
            sum(CAST(nd AS HUGEINT) * nd) AS s2
          FROM daily GROUP BY event_type)
          SELECT g.event_type, m.n_days,
            (g.ssb_raw - CAST(m.tt AS DOUBLE) * CAST(m.tt AS DOUBLE) /
              CAST(m.n_days AS DOUBLE)) /
            nullif(CAST(m.s2 AS DOUBLE) -
              CAST(m.tt AS DOUBLE) * CAST(m.tt AS DOUBLE) /
              CAST(m.n_days AS DOUBLE), 0.0) AS eta_sq
          FROM g JOIN m USING (event_type) ORDER BY event_type"""),
    // max peak-to-trough fall of daily order revenue
    key("q_drawdown", (s, d) =>
      DataChecks.drawdown(Tables.orders(s, d)))(
      // Daily cents, running-max window, deterministic (dd DESC, day)
      // argmax — the engine's struct-max tie rule.
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
            CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS rev_c
          FROM orders GROUP BY 1),
          r AS (SELECT day, rev_c, max(rev_c) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS peak_c FROM daily),
          n AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM r),
          b AS (SELECT day, rev_c, peak_c, peak_c - rev_c AS dd
            FROM r ORDER BY dd DESC, day ASC LIMIT 1)
          SELECT b.day AS dd_day, CAST(b.dd AS DOUBLE) / 100.0
              AS max_drawdown,
            CAST(b.peak_c AS DOUBLE) / 100.0 AS peak_revenue,
            CAST(b.rev_c AS DOUBLE) / 100.0 AS trough_revenue,
            n.n_days
          FROM b CROSS JOIN n"""),
    key("q_dq_rules", (s, d) =>
      DataChecks.ruleCheck(Tables.orders(s, d), orderRules))({
      // One SELECT per rule over the same predicate text the engine
      // builds from orderRules; NULL predicate = violation on both sides.
      val preds = Seq(
        "custkey_not_null" -> "o_custkey IS NOT NULL",
        "orderdate_in_range" ->
          "o_orderdate BETWEEN '1992-01-01' AND '1998-12-31'",
        "orderkey_not_null" -> "o_orderkey IS NOT NULL",
        "status_known" -> "o_orderstatus IN ('O', 'F', 'P')",
        "totalprice_below_cap" -> s"o_totalprice < $OrderPriceCap",
        "totalprice_positive" -> "o_totalprice > 0")
      preds.map { case (name, p) =>
        s"""SELECT '$name' AS rule, count(*) AS n_rows,
            CAST(sum(CAST(NOT coalesce($p, false) AS INT)) AS BIGINT)
              AS n_violations,
            CAST(CAST(sum(CAST(NOT coalesce($p, false) AS INT)) AS BIGINT)
              AS DOUBLE) / count(*) AS violation_rate
            FROM orders"""
      }.mkString("", "\n          UNION ALL ", "\n          ORDER BY rule")
    }),
    // key-discovery / denormalization-consistency audit
    key("q_fd_audit", (s, d) =>
      DataChecks.fdAudit(Tables.orders(s, d), FdAuditPairs))(
      // One det-grain subquery per declared candidate pair, 1-row
      // summaries unioned — the engine's exact shape
      FdAuditPairs.map { case (det, dep) =>
      s"""SELECT '$det' AS determinant, '$dep' AS dependent,
          CAST(count(*) AS BIGINT) AS n_classes,
          CAST(sum(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_violating,
          CAST(sum(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS DOUBLE) /
            count(*) AS violation_rate,
          CAST(max(n_dep) AS BIGINT) AS max_distinct,
          CAST(sum(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS BIGINT) = 0
            AS holds
          FROM (SELECT $det AS det_value, count(DISTINCT $dep) AS n_dep
            FROM orders GROUP BY 1)"""
    }.mkString("SELECT * FROM (", "\n          UNION ALL ",
      ")\n          ORDER BY determinant, dependent")),
    // second-moment column profile (which measures move together)
    key("q_corr_matrix", (s, d) =>
      DataChecks.corrMatrix(Tables.lineitem(s, d), CorrMatrixCols))({
      // Quantize on the declared decimal grids, ONE moment aggregate,
      // per-pair r with every moment cast to double BEFORE combining
      // (the comovement overflow form)
      val names = CorrMatrixCols.map(_._1)
      val pairs = for {
        i <- names.indices; j <- (i + 1) until names.size
      } yield (names(i), names(j))
      val qsel = CorrMatrixCols.map { case (c, s) =>
        s"CAST(floor($c * ${math.pow(10, s)} + 0.5) AS BIGINT) AS $c"
      }.mkString(", ")
      // moments stay HUGEINT (the engine's decimal(38,0) twin) — the
      // sum of squared cent prices passes int64 at ~1e5 rows; the only
      // cast is the per-moment double cast inside the r expression
      val aggsql = (names.map(c => s"sum($c) AS s_$c") ++
        names.map(c => s"sum($c * $c) AS ss_$c") ++
        pairs.map { case (a, b) =>
          s"sum($a * $b) AS sp_${a}_$b" }).mkString(", ")
      def dd(c: String) = s"CAST($c AS DOUBLE)"
      val rows = pairs.map { case (a, b) =>
        s"""SELECT '$a' AS col_a, '$b' AS col_b, n AS n_rows,
            (${dd("n")} * ${dd(s"sp_${a}_$b")} -
              ${dd(s"s_$a")} * ${dd(s"s_$b")}) /
            sqrt(nullif(
              (${dd("n")} * ${dd(s"ss_$a")} - ${dd(s"s_$a")} * ${dd(s"s_$a")}) *
              (${dd("n")} * ${dd(s"ss_$b")} - ${dd(s"s_$b")} * ${dd(s"s_$b")}),
              0.0)) AS corr
            FROM m"""
      }
      s"""WITH c AS (SELECT $qsel FROM lineitem
            WHERE ${names.map(n => s"$n IS NOT NULL").mkString(" AND ")}),
          m AS (SELECT CAST(count(*) AS BIGINT) AS n, $aggsql FROM c)
          SELECT * FROM (${rows.mkString("\n          UNION ALL ")})
          ORDER BY col_a, col_b"""
    }),
    key("q_ooo_audit", (s, d) =>
      DataChecks.oooAudit(DataChecks.plantLate(Tables.events(s, d)),
        OooDelays))({
      // Replays the planted shift with integer epoch arithmetic, then
      // the two-phase prefix max as ONE flat global window (a prefix max
      // is partition-boundary-independent, so the values agree).
      val lateCols = OooDelays.map(d =>
        s"CAST(sum(CAST(late_us > ${d * 1000000L} AS INT)) AS BIGINT) " +
          s"AS n_late_${d}s").mkString(",\n            ")
      s"""WITH e AS (SELECT event_type, event_id,
            CASE WHEN event_id % 101 = 7
              THEN epoch_us(ts) - (1 + event_id % 7) * 60000000
              ELSE epoch_us(ts) END AS tu FROM events),
          m AS (SELECT *, max(tu) OVER (ORDER BY event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pfx
            FROM e),
          l AS (SELECT event_type,
            CASE WHEN pfx IS NULL OR pfx <= tu THEN 0
              ELSE pfx - tu END AS late_us FROM m)
          SELECT event_type, count(*) AS n_events,
            CAST(sum(CAST(late_us > 0 AS INT)) AS BIGINT) AS n_ooo,
            CAST(max(late_us) AS DOUBLE) / 1000000.0 AS max_late_s,
            $lateCols,
            CAST(CAST(sum(CAST(late_us > 0 AS INT)) AS BIGINT) AS DOUBLE)
              / count(*) AS ooo_frac
          FROM l GROUP BY 1 ORDER BY 1"""
    }),
    key("q_watermark_rec", (s, d) =>
      DataChecks.watermarkRecommendation(
        DataChecks.plantLate(Tables.events(s, d)), OooDelays,
        WatermarkTargetPm))({
      // Same lateness CTEs as q_ooo_audit; the CASE chains pick the
      // FIRST (smallest) qualifying delay, selection by integer
      // cross-multiplication, one final division for the rate.
      val lateCols = OooDelays.map(d =>
        s"CAST(sum(CAST(late_us > ${d * 1000000L} AS INT)) AS BIGINT) " +
          s"AS n_late_${d}s").mkString(",\n            ")
      def cases(value: Int => String) = OooDelays.map(d =>
        s"WHEN n_late_${d}s * 1000 <= $WatermarkTargetPm * n_events " +
          s"THEN ${value(d)}").mkString("CASE ", " ", " END")
      s"""WITH e AS (SELECT event_type, event_id,
            CASE WHEN event_id % 101 = 7
              THEN epoch_us(ts) - (1 + event_id % 7) * 60000000
              ELSE epoch_us(ts) END AS tu FROM events),
          m AS (SELECT *, max(tu) OVER (ORDER BY event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pfx
            FROM e),
          l AS (SELECT event_type,
            CASE WHEN pfx IS NULL OR pfx <= tu THEN 0
              ELSE pfx - tu END AS late_us FROM m),
          a AS (SELECT event_type, count(*) AS n_events,
            CAST(sum(CAST(late_us > 0 AS INT)) AS BIGINT) AS n_ooo,
            $lateCols
          FROM l GROUP BY 1)
          SELECT event_type, n_events, n_ooo,
            ${cases(d => d.toString)} AS recommended_delay_s,
            ${cases(d => s"n_late_${d}s")} AS pred_dropped,
            CAST(${cases(d => s"n_late_${d}s")} AS DOUBLE) / n_events
              AS pred_drop_rate
          FROM a ORDER BY event_type"""
    }),
    key("q_record_dedup", (s, d) => {
      // one cheap count action derives the blocking width from the
      // corpus (Linkage.blockCharsFor) — the oracle replays the same
      // formula in SQL off count(*), so both widen in lockstep.
      val planted = Linkage.plantDupes(Tables.customer(s, d))
      Linkage.entityMatch(planted, corpusCount = Some(planted.count()))
    })(
      // Replays the planting (char-10 deletion, +0.25 dyadic balance
      // drift) and the block-then-verify match; the blocking key is
      // nation × LAST-3 name chars on both sides, so the candidate sets
      // are identical and the pair list matches row-for-row.
      s"""WITH c AS (SELECT c_custkey AS k, c_name AS nm,
            c_nationkey AS nk, c_acctbal AS bal, c_mktsegment AS seg
            FROM customer),
          p AS (SELECT k + ${Linkage.DupKeyOffset} AS k,
            substr(nm, 1, 9) || substr(nm, 11) AS nm, nk,
            bal + CAST(0.25 AS DOUBLE) AS bal, seg
            FROM c WHERE k % 10 = 3),
          u AS (SELECT * FROM c UNION ALL SELECT * FROM p),
          wp AS (SELECT least(8, greatest(3, CAST(ceil(log10(
            CAST(count(*) AS DOUBLE) / 1600.0)) AS INT))) AS wd FROM u),
          b AS (SELECT u.*, nk || '|' ||
            substr(nm, length(nm) - (wp.wd - 1), wp.wd) AS blk
            FROM u, wp)
          SELECT a.k AS a_key, b2.k AS b_key,
            CAST(levenshtein(a.nm, b2.nm) AS INT) AS name_lev,
            abs(a.bal - b2.bal) AS bal_diff, a.seg AS segment
          FROM b a JOIN b b2 ON a.blk = b2.blk AND a.k < b2.k
          WHERE levenshtein(a.nm, b2.nm) <= 1 AND a.seg = b2.seg
            AND abs(a.bal - b2.bal) <= 100
          ORDER BY 1, 2"""),
    key("q_k_anon", (s, d) =>
      Privacy.kAnonymity(Tables.customer(s, d), Seq(
        "nationkey" -> col("c_nationkey"),
        "segment" -> col("c_mktsegment"),
        "bal_band" -> floor(col("c_acctbal") / KAnonBalBand).cast("bigint")),
        KAnonK))(
      s"""SELECT c_nationkey AS nationkey, c_mktsegment AS segment,
            CAST(floor(c_acctbal / $KAnonBalBand) AS BIGINT) AS bal_band,
            count(*) AS class_size, count(*) >= $KAnonK AS anonymous
          FROM customer GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""),
    // l-diversity over the coarser (nation, segment) classes with the
    // balance band as the SENSITIVE attribute — the homogeneity-attack
    // audit on top of q_k_anon
    key("q_l_diversity", (s, d) =>
      Privacy.lDiversity(Tables.customer(s, d), Seq(
        "nationkey" -> col("c_nationkey"),
        "segment" -> col("c_mktsegment")),
        "bal_band" -> floor(col("c_acctbal") / KAnonBalBand).cast("bigint"),
        LDiversityL))(
      s"""SELECT c_nationkey AS nationkey, c_mktsegment AS segment,
            count(*) AS class_size,
            count(DISTINCT CAST(floor(c_acctbal / $KAnonBalBand) AS BIGINT))
              AS n_sensitive,
            count(DISTINCT CAST(floor(c_acctbal / $KAnonBalBand) AS BIGINT))
              >= $LDiversityL AS diverse
          FROM customer GROUP BY 1, 2 ORDER BY 1, 2"""),
    // t-closeness over the same classes/sensitive as q_l_diversity —
    // the skewness-attack audit (distribution distance, not count)
    key("q_t_closeness", (s, d) =>
      Privacy.tCloseness(Tables.customer(s, d), Seq(
        "nationkey" -> col("c_nationkey"),
        "segment" -> col("c_mktsegment")),
        "bal_band" -> floor(col("c_acctbal") / KAnonBalBand).cast("bigint"),
        TClosenessT))(
      // Integer EMD numerator (c·N − g·n) with one double division at
      // the end — band order is the window order in both engines
      s"""WITH cb AS (SELECT c_nationkey AS nationkey,
            c_mktsegment AS segment,
            CAST(floor(c_acctbal / $KAnonBalBand) AS BIGINT) AS sens,
            count(*) AS c
          FROM customer GROUP BY 1, 2, 3),
          cls AS (SELECT nationkey, segment, sum(c) AS n
            FROM cb GROUP BY 1, 2),
          gb AS (SELECT sens, sum(c) AS g FROM cb GROUP BY 1),
          tot AS (SELECT sum(g) AS nn, count(*) AS m FROM gb),
          grid AS (SELECT cls.nationkey, cls.segment, cls.n,
              gb.sens, gb.g, coalesce(cb.c, 0) AS c
            FROM cls CROSS JOIN gb
            LEFT JOIN cb ON cb.nationkey = cls.nationkey
              AND cb.segment = cls.segment AND cb.sens = gb.sens),
          cum AS (SELECT nationkey, segment, n,
              sum(c * (SELECT nn FROM tot) - g * n)
                OVER (PARTITION BY nationkey, segment ORDER BY sens)
                AS cum_num
            FROM grid)
          SELECT nationkey, segment, CAST(n AS BIGINT) AS class_size,
            CAST(sum(abs(cum_num)) AS DOUBLE) /
              (CAST(n AS DOUBLE) * (SELECT nn FROM tot)
                * ((SELECT m FROM tot) - 1)) AS t_value,
            CAST(sum(abs(cum_num)) AS DOUBLE) /
              (CAST(n AS DOUBLE) * (SELECT nn FROM tot)
                * ((SELECT m FROM tot) - 1)) <= $TClosenessT AS close
          FROM cum GROUP BY nationkey, segment, n ORDER BY 1, 2"""),
    key("q_autocorr", (s, d) =>
      DataChecks.autocorr(Tables.events(s, d), AutocorrLags))(
      s"""WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
            CAST(count(*) AS BIGINT) AS y FROM events GROUP BY 1, 2),
          l AS (${AutocorrLags.map(x => s"SELECT $x AS lag")
            .mkString(" UNION ALL ")}),
          b AS (SELECT d.event_type, l.lag, d.day + l.lag AS day,
            d.y AS yp FROM d CROSS JOIN l),
          p AS (SELECT d.event_type, b.lag, d.y AS yc, b.yp
            FROM d JOIN b ON b.event_type = d.event_type
              AND b.day = d.day),
          m AS (SELECT event_type, lag, count(*) AS n_pairs,
            CAST(sum(yc) AS BIGINT) AS sy, CAST(sum(yp) AS BIGINT) AS sx,
            CAST(sum(yc * yp) AS BIGINT) AS sxy,
            CAST(sum(yc * yc) AS BIGINT) AS syy,
            CAST(sum(yp * yp) AS BIGINT) AS sxx
            FROM p GROUP BY 1, 2),
          s AS (SELECT event_type, lag, n_pairs,
            CAST(n_pairs AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy AS num,
            CAST(n_pairs AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx AS varx,
            CAST(n_pairs AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy AS vary
            FROM m)
          SELECT event_type, lag, CAST(n_pairs AS BIGINT) AS n_pairs,
            CASE WHEN varx > 0 AND vary > 0
              THEN num / sqrt(varx * vary) END AS acf
          FROM s ORDER BY 1, 2"""),
    // cross-type daily-volume correlation (exact bigint moments)
    key("q_comovement", (s, d) =>
      DataChecks.comoveCorrelation(Tables.events(s, d)))(
      // Moments are exact BIGINT sums (DuckDB sums into HUGEINT — cast
      // back); the r combination runs in DOUBLE off the exact moments on
      // both engines (identical correctly-rounded scalar chain), with
      // zero variance on either side -> NULL.
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
            count(*) AS n FROM events GROUP BY 1, 2)
          SELECT a.event_type AS type_a, b.event_type AS type_b,
            count(*) AS n_days,
            CAST(count(*) * sum(a.n * b.n) - sum(a.n) * sum(b.n)
              AS DOUBLE) /
              sqrt(nullif(
                CAST(count(*) * sum(a.n * a.n) - sum(a.n) * sum(a.n)
                  AS DOUBLE) *
                CAST(count(*) * sum(b.n * b.n) - sum(b.n) * sum(b.n)
                  AS DOUBLE), 0.0)) AS corr
          FROM d a JOIN d b ON a.day = b.day
            AND a.event_type < b.event_type
          GROUP BY 1, 2 ORDER BY 1, 2"""),
    // Benford first-digit forensics on the value feed
    key("q_benford", (s, d) =>
      DataChecks.benfordQa(Tables.events(s, d), BenfordChi2Crit))(
      // First digit from the INTEGER cent amount's decimal string (no
      // float log10 boundary risk); dense 9-digit spine; χ² terms fold
      // in digit order
      s"""WITH c AS (SELECT event_type,
            CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
          FROM events WHERE value IS NOT NULL),
          dg AS (SELECT event_type,
              CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INTEGER)
                AS digit
            FROM c WHERE cents > 0),
          dc AS (SELECT event_type, digit, count(*) AS nd
            FROM dg GROUP BY 1, 2),
          tt AS (SELECT event_type, CAST(sum(nd) AS BIGINT) AS nt
            FROM dc GROUP BY 1),
          sp AS (SELECT event_type, nt,
              CAST(unnest(range(1, 10)) AS INTEGER) AS digit FROM tt),
          fl AS (SELECT sp.event_type, sp.digit, sp.nt,
              CAST(coalesce(dc.nd, 0) AS BIGINT) AS nd,
              log10(1.0 + 1.0 / sp.digit) AS exp_share
            FROM sp LEFT JOIN dc ON dc.event_type = sp.event_type
              AND dc.digit = sp.digit),
          tm AS (SELECT *,
              (CAST(nd AS DOUBLE) - CAST(nt AS DOUBLE) * exp_share) *
                (CAST(nd AS DOUBLE) - CAST(nt AS DOUBLE) * exp_share) /
                (CAST(nt AS DOUBLE) * exp_share) AS term
            FROM fl),
          ch AS (SELECT event_type,
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list(term ORDER BY digit)), (x, y) -> x + y) AS chi2
            FROM tm GROUP BY 1)
          SELECT tm.event_type, digit, nd AS n_obs,
            CAST(nd AS DOUBLE) / nt AS obs_share, exp_share, chi2,
            chi2 > $BenfordChi2Crit AS suspect
          FROM tm JOIN ch ON ch.event_type = tm.event_type
          ORDER BY 1, 2"""),
    key("q_chi2_independence", (s, d) =>
      DataChecks.chi2Independence(Tables.events(s, d)))(
      // Spark weekday() is Monday=0 -> +1 == DuckDB isodow (Monday=1).
      // expected/term are pure scalar IEEE chains over exact integer
      // marginals — (n−e)·(n−e), never pow() (not correctly rounded).
      """WITH obs AS (SELECT event_type, CAST(isodow(ts) AS INT) AS dow,
            count(*) AS n FROM events GROUP BY 1, 2),
          r AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS row_n
            FROM obs GROUP BY 1),
          c AS (SELECT dow, CAST(sum(n) AS BIGINT) AS col_n
            FROM obs GROUP BY 1),
          t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM obs),
          sc AS (SELECT o.event_type, o.dow, o.n, r.row_n, c.col_n,
            CAST(r.row_n AS DOUBLE) * c.col_n / t.total AS expected
            FROM obs o JOIN r USING (event_type) JOIN c USING (dow)
            CROSS JOIN t)
          SELECT event_type, dow, n, row_n, col_n, expected,
            (n - expected) * (n - expected) / expected AS chi2_term
          FROM sc ORDER BY 1, 2"""),
    key("q_fanout_audit", (s, d) =>
      DataChecks.fanoutAudit(Tables.customer(s, d), Tables.orders(s, d),
        "c_custkey", "o_custkey", FanoutMultCap))(
      s"""WITH la AS (SELECT c_custkey AS k, CAST(count(*) AS BIGINT)
            AS ln FROM customer GROUP BY 1),
          ra AS (SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS rn
            FROM orders GROUP BY 1),
          j AS (SELECT coalesce(la.ln, 0) AS ln, coalesce(ra.rn, 0) AS rn
            FROM la FULL JOIN ra USING (k))
          SELECT least(ln, $FanoutMultCap) AS left_mult,
            least(rn, $FanoutMultCap) AS right_mult,
            count(*) AS n_keys, CAST(sum(ln) AS BIGINT) AS left_rows,
            CAST(sum(rn) AS BIGINT) AS right_rows,
            CAST(sum(ln * rn) AS BIGINT) AS join_rows
          FROM j GROUP BY 1, 2 ORDER BY 1, 2"""),
    key("q_changepoint", (s, d) =>
      DataChecks.changepoint(Tables.events(s, d), ChangepointDays,
        ChangepointMinDays))(
      // Both RANGE frames replay gap-correct (missing days shrink the
      // frame); means are single divisions of exact window sums, and
      // the |shift| argmax ties break on the earlier day.
      s"""WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
            CAST(count(*) AS BIGINT) AS y,
            date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
              AS day_num
            FROM events GROUP BY 1, 2, 4),
          w AS (SELECT event_type, day, y,
            count(y) OVER wb AS b_days,
            CAST(sum(y) OVER wb AS BIGINT) AS b_sum,
            count(y) OVER wa AS a_days,
            CAST(sum(y) OVER wa AS BIGINT) AS a_sum
            FROM d WINDOW
              wb AS (PARTITION BY event_type ORDER BY day_num
                RANGE BETWEEN $ChangepointDays PRECEDING AND 1 PRECEDING),
              wa AS (PARTITION BY event_type ORDER BY day_num
                RANGE BETWEEN CURRENT ROW
                  AND ${ChangepointDays - 1} FOLLOWING)),
          f AS (SELECT event_type, day, b_days, a_days,
            CAST(b_sum AS DOUBLE) / b_days AS before_mean,
            CAST(a_sum AS DOUBLE) / a_days AS after_mean,
            CAST(a_sum AS DOUBLE) / a_days -
              CAST(b_sum AS DOUBLE) / b_days AS shift
            FROM w
            WHERE b_days >= $ChangepointMinDays
              AND a_days >= $ChangepointMinDays),
          r AS (SELECT *, row_number() OVER (PARTITION BY event_type
              ORDER BY abs(shift) DESC, day) AS rk FROM f)
          SELECT event_type, day, b_days, a_days, before_mean,
            after_mean, shift
          FROM r WHERE rk = 1 ORDER BY event_type"""),
    key("q_freshness", (s, d) =>
      DataChecks.freshness(Tables.events(s, d), FreshnessTrailDays))(
      // Closed-corpus freshness: frontier day/us are maxes over the
      // same (type, day) grain; lag is exact integer microseconds with
      // one integer division to seconds.
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
            count(*) AS n, CAST(max(epoch_us(ts)) AS BIGINT) AS max_us
            FROM events GROUP BY 1, 2),
          a AS (SELECT max(max_us) AS as_of_us, max(day) AS as_of_day
            FROM d),
          t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS n_events,
            max(max_us) AS last_us, max(as_of_us) AS as_of_us,
            CAST(coalesce(sum(CASE WHEN day > as_of_day - 1
              THEN n END), 0) AS BIGINT) AS n_1d,
            CAST(coalesce(sum(CASE WHEN day > as_of_day - 7
              THEN n END), 0) AS BIGINT) AS n_7d
            FROM d CROSS JOIN a GROUP BY 1)
          SELECT event_type, n_events, make_timestamp(last_us) AS last_ts,
            (as_of_us - last_us) // 1000000 AS lag_s, n_1d, n_7d
          FROM t ORDER BY 1"""),
    key("q_seasonality", (s, d) =>
      DataChecks.seasonality(Tables.events(s, d)))(
      // mean ratios are fixed-shape correctly-rounded chains over exact
      // counts — bit-portable like the trend/autocorr combinations.
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
            count(*) AS n FROM events GROUP BY 1, 2),
          w AS (SELECT event_type, CAST(isodow(day) AS INT) AS dow,
            count(*) AS n_days, CAST(sum(n) AS BIGINT) AS n_events
            FROM d GROUP BY 1, 2),
          t AS (SELECT event_type, count(*) AS t_days,
            CAST(sum(n) AS BIGINT) AS t_events FROM d GROUP BY 1)
          SELECT w.event_type, w.dow, w.n_days, w.n_events,
            CAST(w.n_events AS DOUBLE) / w.n_days AS mean_day,
            (CAST(w.n_events AS DOUBLE) / w.n_days) /
              (CAST(t.t_events AS DOUBLE) / t.t_days) AS idx
          FROM w JOIN t USING (event_type) ORDER BY 1, 2"""),
    // additive trend/weekday/residual split of the daily series
    key("q_decompose", (s, d) =>
      DataChecks.seasonalDecompose(Tables.events(s, d), DecomposeHalf))(
      // full-coverage centered RANGE mean, micro-quantized detrending
      // before the weekday average (BIGINT sums, one division) — the
      // residual is a pure function of already-identical doubles
      s"""WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
            CAST(count(*) AS BIGINT) AS n,
            date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
              AS day_num
            FROM events GROUP BY 1, 2, 4),
          w AS (SELECT event_type, day, n,
            CAST(isodow(day) AS INT) AS dow,
            count(n) OVER wc AS w_days,
            CAST(sum(n) OVER wc AS BIGINT) AS w_sum
            FROM d WINDOW wc AS (PARTITION BY event_type ORDER BY day_num
              RANGE BETWEEN $DecomposeHalf PRECEDING
                AND $DecomposeHalf FOLLOWING)),
          f AS (SELECT event_type, day, dow, n,
            CASE WHEN w_days = ${2 * DecomposeHalf + 1} THEN
              CAST(w_sum AS DOUBLE) /
                CAST(${2 * DecomposeHalf + 1} AS DOUBLE) END AS trend
            FROM w),
          g AS (SELECT *,
            CAST(floor((CAST(n AS DOUBLE) - trend) * 1000000.0 + 0.5)
              AS BIGINT) AS dt_micro FROM f),
          s AS (SELECT event_type, dow,
            CAST(sum(dt_micro) AS DOUBLE) / count(dt_micro) / 1000000.0
              AS seasonal_all
            FROM g WHERE dt_micro IS NOT NULL GROUP BY 1, 2)
          SELECT g.event_type, g.day, g.dow, g.n, g.trend,
            CASE WHEN g.trend IS NOT NULL THEN s.seasonal_all END
              AS seasonal,
            CASE WHEN g.trend IS NOT NULL THEN
              CAST(g.dt_micro AS DOUBLE) / 1000000.0 - s.seasonal_all END
              AS residual
          FROM g LEFT JOIN s USING (event_type, dow)
          ORDER BY g.event_type, g.day"""),
    key("q_file_skipping", (s, d) =>
      Layout.fileSkipping(Tables.events(s, d), SkipFiles, SkipProbes))(
      // Replays the zorder ladder (shared with q_zorder) then probes the
      // per-file footers with the same 2×nProbes range grid.
      s"""WITH base AS (SELECT
            CAST(user_id % 1024 AS BIGINT) AS ux,
            CAST((CAST(epoch(ts) AS BIGINT) // 3600) % 1024 AS BIGINT)
              AS ty FROM events),
          z AS (SELECT ux, ty,
            (${spreadSql("ux")}) | ((${spreadSql("ty")}) << 1) AS zv
            FROM base),
          f AS (SELECT ux, ty, CAST(zv // ${(1L << 20) / SkipFiles}
            AS INTEGER) AS file_id FROM z),
          rep AS (SELECT file_id, count(*) AS n_rows,
            min(ux) AS user_min, max(ux) AS user_max,
            min(ty) AS time_min, max(ty) AS time_max
            FROM f GROUP BY 1),
          pg AS (SELECT d.dim, CAST(r.range AS INT) AS probe_ix,
            CAST(r.range * ${1024 / SkipProbes} AS INT) AS lo,
            CAST(r.range * ${1024 / SkipProbes} +
              ${1024 / SkipProbes - 1} AS INT) AS hi
            FROM range($SkipProbes) r CROSS JOIN
              (SELECT 'user' AS dim UNION ALL SELECT 'time') d),
          ov AS (SELECT pg.dim, pg.probe_ix, pg.lo, pg.hi, rep.n_rows,
            CASE WHEN pg.dim = 'user'
              THEN rep.user_min <= pg.hi AND rep.user_max >= pg.lo
              ELSE rep.time_min <= pg.hi AND rep.time_max >= pg.lo
            END AS hit
            FROM pg CROSS JOIN rep),
          ag AS (SELECT dim, probe_ix, lo, hi, count(*) AS n_files,
            CAST(coalesce(sum(CAST(hit AS INT)), 0) AS BIGINT)
              AS files_scanned,
            CAST(coalesce(sum(CASE WHEN hit THEN n_rows END), 0)
              AS BIGINT) AS rows_scanned
            FROM ov GROUP BY 1, 2, 3, 4),
          t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS total_rows
            FROM rep)
          SELECT dim, probe_ix, lo, hi, n_files, files_scanned,
            1.0 - CAST(files_scanned AS DOUBLE) / n_files AS skip_frac,
            rows_scanned,
            CAST(rows_scanned AS DOUBLE) / total_rows AS rows_frac
          FROM ag CROSS JOIN t ORDER BY dim, probe_ix"""),
    key("q_entity_components", (s, d) =>
      Entity.linkByKeys(Tables.customer(s, d), "c_custkey", Seq(
        "g3" -> expr(s"c_custkey div $EntityG3").cast("string"),
        "dec" -> when(col("c_custkey") % EntityG3 === 0,
          expr(s"c_custkey div $EntityDecade")).cast("string"))))(
      // Star edges to each key group's min record, then the recursive
      // reach closure — identical components to the all-pairs graph.
      s"""WITH RECURSIVE ids AS (SELECT c_custkey AS doc_id FROM customer),
          keyed AS (
            SELECT c_custkey AS id,
              'g3:' || CAST(c_custkey // $EntityG3 AS VARCHAR) AS k
            FROM customer
            UNION ALL
            SELECT c_custkey,
              'dec:' || CAST(c_custkey // $EntityDecade AS VARCHAR)
            FROM customer WHERE c_custkey % $EntityG3 = 0),
          hubs AS (SELECT k, min(id) AS d1 FROM keyed GROUP BY 1),
          star AS (SELECT DISTINCT hubs.d1, keyed.id AS d2
            FROM keyed JOIN hubs USING (k) WHERE keyed.id <> hubs.d1),
          edges AS (SELECT d1, d2 FROM star
            UNION ALL SELECT d2, d1 FROM star),
          reach AS (
            SELECT doc_id, doc_id AS r FROM ids
            UNION
            SELECT e.d2 AS doc_id, reach.r FROM reach
            JOIN edges e ON e.d1 = reach.doc_id),
          lab AS (SELECT doc_id, min(r) AS rep FROM reach GROUP BY 1),
          sz AS (SELECT rep, count(*) AS entity_size FROM lab GROUP BY 1)
          SELECT lab.doc_id AS record_id, lab.rep AS entity_id,
            sz.entity_size
          FROM lab JOIN sz USING (rep) ORDER BY 1"""),
    key("q_histogram", (s, d) =>
      DataChecks.histogram(Tables.events(s, d), "value", "event_type",
        HistLo, HistWidth, HistBins))(
      s"""WITH b AS (SELECT event_type,
            CASE WHEN value < $HistLo THEN -1
                 ELSE CAST(least(floor((value - $HistLo) / $HistWidth),
                   $HistBins) AS INTEGER) END AS bin
            FROM events WHERE value IS NOT NULL),
          g AS (SELECT event_type, bin, count(*) AS n FROM b GROUP BY 1, 2)
          SELECT event_type, bin,
            CASE WHEN bin >= 0 THEN $HistLo + bin * $HistWidth END AS bin_lo,
            CASE WHEN bin < $HistBins
                 THEN $HistLo + (bin + 1) * $HistWidth END AS bin_hi,
            n, CAST(n AS DOUBLE) /
              CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS share
          FROM g ORDER BY event_type, bin"""),
    key("q_qa_anomaly", (s, d) =>
      DataChecks.anomalyFlags(Tables.events(s, d), AnomalyDays, AnomalyK,
        AnomalyMinDays))(
      s"""WITH d AS (SELECT CAST(ts AS DATE) AS date, event_type,
            count(*) AS n_events,
            date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_num
          FROM events GROUP BY 1, 2, 4),
          w AS (SELECT date, event_type, n_events,
            count(n_events) OVER win AS base_days,
            coalesce(CAST(sum(n_events) OVER win AS BIGINT), 0) AS base_sum,
            coalesce(CAST(sum(n_events * n_events) OVER win AS BIGINT), 0)
              AS base_sumsq
          FROM d WINDOW win AS (PARTITION BY event_type ORDER BY day_num
            RANGE BETWEEN $AnomalyDays PRECEDING AND 1 PRECEDING))
          SELECT date, event_type, n_events, base_days, base_sum,
            CASE WHEN base_days < $AnomalyMinDays THEN false
              ELSE (CAST(base_days AS DOUBLE) * CAST(n_events AS DOUBLE)
                    - CAST(base_sum AS DOUBLE))
                 * (CAST(base_days AS DOUBLE) * CAST(n_events AS DOUBLE)
                    - CAST(base_sum AS DOUBLE))
                 > ${AnomalyK * AnomalyK}.0 *
                   (CAST(base_days AS DOUBLE) * CAST(base_sumsq AS DOUBLE)
                    - CAST(base_sum AS DOUBLE) * CAST(base_sum AS DOUBLE))
              END AS is_anomaly
          FROM w ORDER BY date, event_type"""),
    // robust whole-series twin of q_qa_anomaly (median + MAD flags)
    key("q_mad_anomaly", (s, d) =>
      DataChecks.madAnomaly(Tables.events(s, d), AnomalyK))(
      // median/MAD via quantile_cont — the percentileBands interpolation
      // contract; the flag is one multiply-compare per grid row
      s"""WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
            count(*) AS n FROM events GROUP BY 1, 2),
          md AS (SELECT event_type, quantile_cont(n, 0.5) AS med
            FROM d GROUP BY 1),
          dv AS (SELECT d.event_type, day, n, med,
              abs(CAST(n AS DOUBLE) - med) AS adev
            FROM d JOIN md ON md.event_type = d.event_type),
          md2 AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad
            FROM dv GROUP BY 1)
          SELECT dv.event_type, day, n, med, md2.mad,
            adev > $AnomalyK * md2.mad AS is_outlier
          FROM dv JOIN md2 ON md2.event_type = dv.event_type
          ORDER BY 1, 2"""),
    // recency-weighted twin of q_qa_anomaly (1-day half-life EWMA
    // baseline, integer power-of-two weights, cross-mult decision)
    key("q_ewma_anomaly", (s, d) =>
      DataChecks.ewmaAnomaly(Tables.events(s, d), AnomalyDays, AnomalyK,
        AnomalyMinDays))(
      // Integer moments, ONE final division each (the portability
      // recipe); DuckDB sums BIGINT into HUGEINT -> CAST back.
      s"""WITH d AS (SELECT event_type, CAST(ts AS DATE) AS date,
            count(*) AS n_events FROM events GROUP BY 1, 2),
          dd AS (SELECT *, CAST(date_diff('day', DATE '1970-01-01', date)
            AS BIGINT) AS day_num FROM d),
          j AS (SELECT a.event_type, a.date, a.n_events, a.day_num,
              b.day_num AS p_day, b.n_events AS p_n
            FROM dd a LEFT JOIN dd b ON a.event_type = b.event_type
              AND a.day_num - b.day_num BETWEEN 1 AND $AnomalyDays),
          jw AS (SELECT *, CAST(power(2, $AnomalyDays - (day_num - p_day))
            AS BIGINT) AS w FROM j)
          SELECT event_type, date, n_events,
            count(p_day) AS base_days,
            CAST(coalesce(sum(p_n * w), 0) AS DOUBLE) /
              nullif(coalesce(sum(w), 0), 0) AS ewma,
            (count(p_day) >= $AnomalyMinDays AND
              n_events * coalesce(sum(w), 0) >
                $AnomalyK * coalesce(sum(p_n * w), 0)) AS is_spike
          FROM jw GROUP BY event_type, date, n_events, day_num
          ORDER BY date, event_type"""),
    // robust twin of q_trend: pairwise-median slope, outlier-immune
    key("q_theilsen_trend", (s, d) =>
      DataChecks.theilSenTrend(Tables.events(s, d)))(
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
            count(*) AS y FROM events GROUP BY 1, 2),
          dd AS (SELECT *, CAST(date_diff('day', DATE '1970-01-01', day)
            AS BIGINT) AS day_num FROM d),
          p AS (SELECT a.event_type,
              CAST(b.y - a.y AS DOUBLE) / (b.day_num - a.day_num) AS slope
            FROM dd a JOIN dd b ON a.event_type = b.event_type
              AND a.day_num < b.day_num),
          nd AS (SELECT event_type, count(*) AS n_days FROM d GROUP BY 1)
          SELECT p.event_type, nd.n_days, count(*) AS n_pairs,
            quantile_cont(slope, 0.5) AS slope_per_day,
            quantile_cont(slope, 0.5) > 0.0 AS rising
          FROM p JOIN nd USING (event_type)
          GROUP BY 1, 2 ORDER BY 1"""),
    key("q_qa_orphans", (s, d) =>
      DataChecks.coverageCheck(Tables.events(s, d),
        Tables.customer(s, d).where(col("c_custkey") < PanelMaxKey),
        "user_id", "c_custkey", "event_type"))(
      s"""WITH k AS (SELECT DISTINCT c_custkey AS user_id FROM customer
            WHERE c_custkey < $PanelMaxKey),
          j AS (SELECT e.event_type,
              CASE WHEN k.user_id IS NULL THEN 0 ELSE 1 END AS m
            FROM events e LEFT JOIN k ON e.user_id = k.user_id)
          SELECT event_type, count(*) AS n_rows,
            CAST(sum(m) AS BIGINT) AS n_matched,
            count(*) - CAST(sum(m) AS BIGINT) AS n_orphans,
            CAST(count(*) - CAST(sum(m) AS BIGINT) AS DOUBLE) / count(*)
              AS orphan_share
          FROM j GROUP BY 1 ORDER BY 1"""),
    key("q_percentiles", (s, d) =>
      DataChecks.percentileBands(Tables.events(s, d), "value", "event_type"))(
      """WITH c AS (SELECT event_type,
            CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
          FROM events WHERE value IS NOT NULL),
          q AS (SELECT event_type, count(*) AS n_rows,
            quantile_cont(c, [0.25, 0.5, 0.75]) AS ps FROM c GROUP BY 1)
          SELECT event_type, n_rows, ps[1] / 100.0 AS p25,
            ps[2] / 100.0 AS p50, ps[3] / 100.0 AS p75
          FROM q ORDER BY event_type"""),
    key("q_winsorize", (s, d) =>
      DataChecks.winsorize(Tables.events(s, d), "value", "event_type"))(
      // Dyadic 1/16 cut points on the cent grid — interpolation exact,
      // clipped sums on the 2^-4 grid stay order-independent (same
      // bit-portability contract as q_percentiles).
      """WITH c0 AS (SELECT event_type,
            CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
          FROM events WHERE value IS NOT NULL),
          cuts AS (SELECT event_type, count(*) AS n_rows,
            quantile_cont(c, [0.0625, 0.9375]) AS ps
          FROM c0 GROUP BY 1),
          j AS (SELECT c0.event_type, c0.c, cuts.n_rows,
            ps[1] AS lo_c, ps[2] AS hi_c
          FROM c0 JOIN cuts USING (event_type))
          SELECT event_type, n_rows,
            lo_c / 100.0 AS lo_cut, hi_c / 100.0 AS hi_cut,
            CAST(coalesce(sum(CASE WHEN c < lo_c THEN 1 END), 0) AS BIGINT)
              AS n_clip_lo,
            CAST(coalesce(sum(CASE WHEN c > hi_c THEN 1 END), 0) AS BIGINT)
              AS n_clip_hi,
            CAST(sum(c) AS DOUBLE) / n_rows / 100.0 AS mean_before,
            sum(greatest(lo_c, least(hi_c, CAST(c AS DOUBLE)))) / n_rows
              / 100.0 AS mean_after
          FROM j GROUP BY event_type, n_rows, lo_c, hi_c
          ORDER BY event_type"""),
    // cent-grid value quartiles + p95 per event type
    key("q_value_dist", (s, d) =>
      DataChecks.valueDist(Tables.events(s, d)))(
      // Cent grid + quantile_cont (the gaps contract) + exact mean.
      """WITH c AS (SELECT event_type,
            CAST(round(value * 100) AS BIGINT) AS cents FROM events),
          q AS (SELECT event_type, count(*) AS n_events,
            CAST(sum(cents) AS BIGINT) AS sum_c,
            quantile_cont(cents, [0.25, 0.5, 0.75, 0.95]) AS ps
          FROM c GROUP BY 1)
          SELECT event_type, n_events,
            CAST(sum_c AS DOUBLE) / n_events / 100.0 AS mean_value,
            ps[1] / 100.0 AS p25, ps[2] / 100.0 AS p50,
            ps[3] / 100.0 AS p75, ps[4] / 100.0 AS p95
          FROM q ORDER BY event_type"""),
    // schema-drift preflight against a declared contract
    key("q_schema_contract", (s, d) =>
      DataChecks.schemaContract(Tables.orders(s, d), OrdersContract))({
      val values = OrdersContract
        .map { case (c, t) => s"('$c', '$t')" }.mkString(", ")
      s"""WITH act AS (SELECT name AS col_name,
            CASE WHEN lower(type) = 'varchar' THEN 'string'
              -- DuckDB reports TIMESTAMP for both flavors; this
              -- parquet is isAdjustedToUTC=false, which Spark
              -- surfaces as timestamp_ntz
              WHEN lower(type) = 'timestamp' THEN 'timestamp_ntz'
              ELSE lower(type) END AS actual_type
          FROM pragma_table_info('orders')),
          exp AS (SELECT * FROM (VALUES $values)
            AS t(col_name, expected_type))
          SELECT coalesce(exp.col_name, act.col_name) AS col_name,
            expected_type, actual_type,
            CASE WHEN expected_type IS NULL THEN 'unexpected'
              WHEN actual_type IS NULL THEN 'missing_in_actual'
              WHEN expected_type <> actual_type THEN 'type_changed'
              ELSE 'ok' END AS status
          FROM exp FULL OUTER JOIN act USING (col_name)
          ORDER BY col_name"""
    }),
    // pre-flight skew/cardinality analysis of the partkey self-join
    key("q_join_skew", (s, d) => {
      val li = Tables.lineitem(s, d)
      DataChecks.joinSkewAdvisor(li, li, "l_partkey", "l_partkey",
        JoinSkewTopK, JoinSkewTarget)
    })(
      s"""WITH ca AS (SELECT l_partkey AS key, count(*) AS n_left
            FROM lineitem GROUP BY 1),
          cb AS (SELECT l_partkey AS key, count(*) AS n_right
            FROM lineitem GROUP BY 1),
          ct AS (SELECT ca.key, n_left, n_right,
              CAST(n_left * n_right AS BIGINT) AS out_rows
            FROM ca JOIN cb USING (key)),
          tot AS (SELECT CAST(sum(out_rows) AS BIGINT) AS total_out,
            count(*) AS n_join_keys FROM ct),
          exc AS (SELECT CASE
              WHEN (total_out + $JoinSkewTarget - 1) // $JoinSkewTarget <= 1
                THEN 0
              ELSE length(bin((total_out + $JoinSkewTarget - 1)
                // $JoinSkewTarget - 1)) END AS e FROM tot)
          SELECT key, n_left, n_right, out_rows, total_out, n_join_keys,
            CAST(out_rows AS DOUBLE) / total_out AS share,
            CAST(power(2, e) AS BIGINT) AS suggested_buckets
          FROM ct CROSS JOIN tot CROSS JOIN exc
          ORDER BY out_rows DESC, key LIMIT $JoinSkewTopK"""),
    // bound gate: per-day sketch DAU/WAU within 5% of the exact pair
    key("q_active_users_gate", (s, d) =>
      SketchGates.activeUsersGate(Tables.events(s, d), ActiveDays))(
      s"""WITH uw AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
            FROM events),
          dau AS (SELECT day, count(*) AS dau FROM uw GROUP BY 1),
          ex AS (SELECT DISTINCT user_id, day + CAST(x AS INTEGER) AS day2
            FROM uw, range(0, $ActiveDays) t(x)),
          wau AS (SELECT day2 AS day, count(*) AS active_${ActiveDays}d
            FROM ex GROUP BY 1)
          SELECT d.day, d.dau, w.active_${ActiveDays}d,
            TRUE AS dau_within, TRUE AS wau_within
          FROM dau d JOIN wau w USING (day) ORDER BY day"""),
    // Same planted hot key as q_skew_salted — the detector that says
    // the mitigation is needed.
    key("q_skew_report", (s, d) => {
      val ev = Tables.events(s, d).select(
        when(col("event_id") % 2 === 0, lit(0L))
          .otherwise(col("user_id").cast("long")).as("hot_key"))
      Skew.skewReport(ev, "hot_key", SkewTopN)
    })(
      s"""WITH h AS (SELECT CASE WHEN event_id % 2 = 0 THEN 0
            ELSE user_id END AS hot_key FROM events),
          t AS (SELECT count(*) AS n_total FROM h),
          g AS (SELECT hot_key, count(*) AS n_rows FROM h GROUP BY 1)
          SELECT hot_key, n_rows, n_total,
            CAST(n_rows AS DOUBLE) / n_total AS share
          FROM g CROSS JOIN t ORDER BY n_rows DESC, hot_key
          LIMIT $SkewTopN"""),
    // Sketch twin of q_skew_report (O(k) state vs one row per distinct
    // key).
    rowsOnly("q_skew_report_approx", (s, d) => {
      val ev = Tables.events(s, d).select(
        when(col("event_id") % 2 === 0, lit(0L))
          .otherwise(col("user_id").cast("long")).as("hot_key"))
      Skew.skewReportApprox(ev, "hot_key", SkewTopN)
    })(
      "merge order perturbs the estimates; SkewSpec bounds them " +
        "against the exact detector"),
    // Count-Min frequency estimates on the hot-key frame — the one
    // HASH-gated sketch (commutative-sum counters, merge-order free)
    key("q_cms_freq", (s, d) => {
      val ev = Tables.events(s, d).select(
        when(col("event_id") % 2 === 0, lit(0L))
          .otherwise(col("user_id").cast("long")).as("hot_key"))
      Skew.cmsFreqReport(ev, "hot_key", SkewTopN)
    })({
      // The CMS counters are plain commutative sums, so the estimates
      // are merge-order independent and the oracle rebuilds the sketch
      // bucket-for-bucket from the interpolated (a, b, p, w) literals —
      // the one sketch query that is hash-gated, not rows-only.
      val cmsRows = Skew.CmsA.indices.map(i =>
        s"(${i}, ${Skew.CmsA(i)}, ${Skew.CmsB(i)})").mkString(", ")
      val p = Skew.CmsPrime
      val w = Skew.CmsWidth
      s"""WITH h AS (SELECT CASE WHEN event_id % 2 = 0 THEN 0
            ELSE user_id END AS hot_key FROM events),
          c(row_i, a, b) AS (VALUES $cmsRows),
          sk AS (SELECT row_i,
            ((a * (hot_key % $p) + b) % $p) % $w AS bucket,
            count(*) AS cnt FROM h CROSS JOIN c GROUP BY 1, 2),
          t AS (SELECT count(*) AS n_total FROM h),
          top AS (SELECT hot_key, count(*) AS n_rows FROM h GROUP BY 1
            ORDER BY n_rows DESC, hot_key LIMIT $SkewTopN),
          probe AS (SELECT hot_key, n_rows, row_i,
            ((a * (hot_key % $p) + b) % $p) % $w AS bucket
            FROM top CROSS JOIN c),
          e AS (SELECT hot_key, n_rows, min(cnt) AS est_rows
            FROM probe JOIN sk USING (row_i, bucket) GROUP BY 1, 2)
          SELECT hot_key, CAST(n_rows AS BIGINT) AS n_rows, est_rows,
            est_rows - n_rows AS over_rows,
            CAST(n_total AS BIGINT) AS n_total
          FROM e CROSS JOIN t ORDER BY n_rows DESC, hot_key"""
    }),
    // bound gate: every Misra-Gries-GUARANTEED key (count > n/(k+1))
    // present in the summary with its lower-bound estimate in range
    key("q_skew_report_gate", (s, d) => {
      val ev = Tables.events(s, d).select(
        when(col("event_id") % 2 === 0, lit(0L))
          .otherwise(col("user_id").cast("long")).as("hot_key"))
      SketchGates.skewGate(ev, "hot_key", SkewTopN)
    })(
      s"""WITH h AS (SELECT CASE WHEN event_id % 2 = 0 THEN 0
            ELSE user_id END AS hot_key FROM events),
          t AS (SELECT count(*) AS n_total FROM h),
          g AS (SELECT hot_key, count(*) AS n_rows FROM h GROUP BY 1),
          top AS (SELECT hot_key, n_rows, n_total FROM g CROSS JOIN t
            ORDER BY n_rows DESC, hot_key LIMIT $SkewTopN)
          SELECT hot_key, CAST(n_rows AS BIGINT) AS n_rows,
            CAST(n_total AS BIGINT) AS n_total, TRUE AS within_bound
          FROM top WHERE n_rows * ${Skew.MgSummaryK + 1} > n_total
          ORDER BY n_rows DESC, hot_key"""),
    key("q_table_diff", (s, d) => {
      val cust = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val after = cust.where(col("c_custkey") % DropMod =!= 0)
        .withColumn("c_acctbal",
          when(col("c_custkey") % ChangeMod === 0, col("c_acctbal") + 100.0)
            .otherwise(col("c_acctbal")))
        .unionByName(cust.where(col("c_custkey") % NewMod === 0)
          .withColumn("c_custkey", col("c_custkey") + NewKeyOffset))
      DataChecks.tableDiff(cust, after, "c_custkey",
        Seq("c_name", "c_acctbal"))
    })(
      s"""WITH cust AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
          aft AS (SELECT c_custkey, c_name,
              CASE WHEN c_custkey % $ChangeMod = 0 THEN c_acctbal + 100.0
                   ELSE c_acctbal END AS c_acctbal
            FROM cust WHERE c_custkey % $DropMod <> 0
            UNION ALL
            SELECT c_custkey + $NewKeyOffset, c_name, c_acctbal FROM cust
            WHERE c_custkey % $NewMod = 0),
          j AS (SELECT o.c_custkey AS ok, a.c_custkey AS nk,
              o.c_name AS onm, o.c_acctbal AS ob,
              a.c_name AS nnm, a.c_acctbal AS nb
            FROM cust o FULL OUTER JOIN aft a
              ON o.c_custkey = a.c_custkey),
          st AS (SELECT *,
            CASE WHEN ok IS NULL THEN 'added'
                 WHEN nk IS NULL THEN 'removed'
                 WHEN (onm IS DISTINCT FROM nnm) OR
                      (ob IS DISTINCT FROM nb) THEN 'changed'
                 ELSE 'unchanged' END AS status FROM j)
          SELECT coalesce(ok, nk) AS c_custkey, status,
            CASE WHEN status = 'changed' THEN concat_ws(',',
              CASE WHEN onm IS DISTINCT FROM nnm THEN 'c_name' END,
              CASE WHEN ob IS DISTINCT FROM nb THEN 'c_acctbal' END)
            END AS changed_cols
          FROM st WHERE status <> 'unchanged' ORDER BY c_custkey"""),
    key("q_scd_merge", (s, d) => {
      val cust = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val current = cust
        .withColumn("effective_from", lit("2024-01-01").cast("date"))
        .withColumn("effective_to", lit(null).cast("date"))
      val updates = cust.where(col("c_custkey") % ChangeMod === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 100.0)
        .unionByName(cust.where(col("c_custkey") % ChangeMod === 1))
        .unionByName(cust.where(col("c_custkey") % NewMod === 0)
          .withColumn("c_custkey", col("c_custkey") + NewKeyOffset))
        .withColumn("eff", lit("2024-06-01").cast("date"))
      Scd.merge2(current, updates, "c_custkey",
        Seq("c_name", "c_acctbal"), "eff")
    })(
      s"""WITH cust AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
          up AS (SELECT c_custkey, c_name, c_acctbal + 100.0 AS c_acctbal
            FROM cust WHERE c_custkey % $ChangeMod = 0
            UNION ALL
            SELECT c_custkey, c_name, c_acctbal FROM cust
            WHERE c_custkey % $ChangeMod = 1
            UNION ALL
            SELECT c_custkey + $NewKeyOffset, c_name, c_acctbal FROM cust
            WHERE c_custkey % $NewMod = 0),
          j AS (SELECT o.c_custkey AS ok, o.c_name AS onm,
              o.c_acctbal AS ob, u.c_custkey AS uk, u.c_name AS unm,
              u.c_acctbal AS ub
            FROM cust o FULL OUTER JOIN up u ON o.c_custkey = u.c_custkey),
          df AS (SELECT *, (onm IS DISTINCT FROM unm) OR
              (ob IS DISTINCT FROM ub) AS d FROM j)
          SELECT ok AS c_custkey, onm AS c_name, ob AS c_acctbal,
            DATE '2024-01-01' AS effective_from,
            CAST(NULL AS DATE) AS effective_to
          FROM df WHERE ok IS NOT NULL AND (uk IS NULL OR NOT d)
          UNION ALL
          SELECT ok, onm, ob, DATE '2024-01-01', DATE '2024-06-01'
          FROM df WHERE ok IS NOT NULL AND uk IS NOT NULL AND d
          UNION ALL
          SELECT uk, unm, ub, DATE '2024-06-01', CAST(NULL AS DATE)
          FROM df WHERE uk IS NOT NULL AND (ok IS NULL OR d)
          ORDER BY c_custkey, effective_from"""),
    key("q_cdc_apply", (s, d) => {
      val cust = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val chg = cust.where(col("c_custkey") % CdcUpdMod === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 50.0)
        .withColumn("seq", lit(1L)).withColumn("op", lit("U"))
        .unionByName(cust.where(col("c_custkey") % CdcDelMod === 0)
          .withColumn("seq", lit(2L)).withColumn("op", lit("D")))
        .unionByName(cust.where(col("c_custkey") % CdcInsMod === 0)
          .withColumn("c_custkey", col("c_custkey") + NewKeyOffset)
          .withColumn("seq", lit(2L)).withColumn("op", lit("U")))
        .unionByName(cust.where(col("c_custkey") % CdcResMod === 0)
          .withColumn("c_acctbal", lit(0.0))
          .withColumn("seq", lit(3L)).withColumn("op", lit("U")))
      Scd.applyCdc(cust, chg, "c_custkey", Seq("c_name", "c_acctbal"),
        "seq", "op")
    })(
      s"""WITH cust AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
          chg AS (
            SELECT c_custkey, c_name, c_acctbal + 50.0 AS c_acctbal,
              1 AS seq, 'U' AS op FROM cust WHERE c_custkey % $CdcUpdMod = 0
            UNION ALL
            SELECT c_custkey, c_name, c_acctbal, 2, 'D' FROM cust
            WHERE c_custkey % $CdcDelMod = 0
            UNION ALL
            SELECT c_custkey + $NewKeyOffset, c_name, c_acctbal, 2, 'U'
            FROM cust WHERE c_custkey % $CdcInsMod = 0
            UNION ALL
            SELECT c_custkey, c_name, 0.0, 3, 'U' FROM cust
            WHERE c_custkey % $CdcResMod = 0),
          latest AS (SELECT * FROM (SELECT *, row_number() OVER
              (PARTITION BY c_custkey ORDER BY seq DESC) AS rn FROM chg)
            WHERE rn = 1),
          j AS (SELECT s.c_custkey AS sk, s.c_name AS snm,
              s.c_acctbal AS sb, l.c_custkey AS lk, l.c_name AS lnm,
              l.c_acctbal AS lb, l.seq, l.op
            FROM cust s FULL OUTER JOIN latest l
              ON s.c_custkey = l.c_custkey)
          SELECT coalesce(sk, lk) AS c_custkey,
            CASE WHEN op = 'U' THEN lnm ELSE snm END AS c_name,
            CASE WHEN op = 'U' THEN lb ELSE sb END AS c_acctbal,
            CAST(coalesce(seq, 0) AS BIGINT) AS version_seq
          FROM j WHERE op IS NULL OR op = 'U'
          ORDER BY c_custkey"""),
    key("q_entity_match", (s, d) => {
      val clean = Tables.customer(s, d)
        .select(col("c_custkey").as("id"), col("c_name").as("name"))
      val dirty = clean.select(col("id"),
        when(col("id") % 3 === 0,
          expr("concat(substring(name, 1, 5), 'x', substring(name, 7))"))
        .when(col("id") % 3 === 1,
          expr("concat(substring(name, 1, 5), 'xy', substring(name, 8))"))
        .otherwise(
          expr("concat(substring(name, 1, length(name) - 1), 'z')"))
        .as("name"))
      Entity.resolve(dirty, clean, "id", "name",
        Entity.blockLenFor(clean.count()), EntityMaxDist)
    })(
      s"""WITH clean AS (SELECT c_custkey AS id, c_name AS name
            FROM customer),
          dirty AS (SELECT id,
            CASE WHEN id % 3 = 0 THEN
                substr(name, 1, 5) || 'x' || substr(name, 7)
              WHEN id % 3 = 1 THEN
                substr(name, 1, 5) || 'xy' || substr(name, 8)
              ELSE substr(name, 1, length(name) - 1) || 'z'
            END AS name FROM clean),
          wq AS (SELECT least(8, greatest(4, CAST(ceil(log10(
            CAST(count(*) AS DOUBLE) / 64.0)) AS INT))) AS wd FROM clean),
          d AS (SELECT id AS dirty_id, name AS dirty_name,
            right(name, wq.wd) AS blk FROM dirty, wq),
          c AS (SELECT id AS clean_id, name AS clean_name,
            right(name, wq.wd) AS blk FROM clean, wq),
          j AS (SELECT d.dirty_id, d.dirty_name, c.clean_id,
              levenshtein(d.dirty_name, c.clean_name) AS dist
            FROM d LEFT JOIN c USING (blk)),
          r AS (SELECT *, row_number() OVER (PARTITION BY dirty_id
              ORDER BY CASE WHEN dist <= $EntityMaxDist THEN 0 ELSE 1 END,
                dist, clean_id) AS rn FROM j)
          SELECT dirty_id, dirty_name,
            CASE WHEN dist <= $EntityMaxDist THEN clean_id END AS clean_id,
            CASE WHEN dist <= $EntityMaxDist THEN dist END AS dist
          FROM r WHERE rn = 1 ORDER BY dirty_id"""),
    rowsOnly("q_percentiles_approx", (s, d) =>
      DataChecks.percentileBandsApprox(Tables.events(s, d), "value",
        "event_type"))(
      "sketch internals are engine-specific; DataChecksSpec bounds " +
        "the estimates against the exact quartiles"),
    // bound gate: KLL quartiles within 5%+1 of the exact cent-grid
    // quartiles, per dim
    key("q_percentiles_approx_gate", (s, d) =>
      SketchGates.percentilesGate(Tables.events(s, d), "value",
        "event_type"))(
      """WITH c AS (SELECT event_type,
            CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
          FROM events WHERE value IS NOT NULL),
          q AS (SELECT event_type, count(*) AS n_rows,
            quantile_cont(c, [0.25, 0.5, 0.75]) AS ps FROM c GROUP BY 1)
          SELECT event_type, n_rows, ps[1] / 100.0 AS p25,
            ps[2] / 100.0 AS p50, ps[3] / 100.0 AS p75,
            TRUE AS p25_within, TRUE AS p50_within, TRUE AS p75_within
          FROM q ORDER BY event_type""")
  )
}
