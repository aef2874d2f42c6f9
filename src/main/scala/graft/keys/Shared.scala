package graft
package keys

import org.apache.spark.sql.functions._
import graft.operators.NearDup

/** Constants and SQL fragments that two or more families share. */
private[keys] object Shared {
  /** q_dedup_incremental: the "daily increment" slice (doc_id % Mod ==
    * Rem); the rest of documents plays the existing corpus. */
  val IncrementMod = 10
  val IncrementRem = 3

  /** z of the Wilson lower bounds (q_ctr_wilson, q_bounce_rate and the
    * return-rate keys). */
  val CtrZ = 1.96

  /** q_cohort / q_funnel_steps: the full synthetic stream has every
    * user active in week 1 and completing every stage (degenerate
    * retention/conversion), so the journey queries run on
    * deterministic modular event_id slices that simulate sparse
    * product usage — non-trivial at every SF. */
  val CohortSliceMod = 17

  /** q_user_features: the fixed event-type domain of the testdata —
    * static so the feature schema is data-independent. */
  val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** q_active_users: trailing active-user window (the WAU leg). */
  val ActiveDays = 7

  /** Shared CTE chain for the repetition oracles: lines + bigrams,
    * then the sorted run-start formulation of the top-bigram count —
    * the oracle twin of repetitionSignals' flat-HOF shape (same
    * greatest(i-1,1) guard, same sentinel append). Expects `t` with
    * (doc_id, text, toks) in scope; yields `b3` with everything. */
  val RepetitionCtes: String =
    """b AS (SELECT doc_id, toks,
         list_filter(list_transform(string_split(text, '.'), l -> trim(l)),
           l -> l <> '') AS lines,
         CASE WHEN len(toks) >= 2 THEN list_transform(range(1, len(toks)),
           i -> toks[i] || ' ' || toks[i+1])
         ELSE CAST([] AS VARCHAR[]) END AS bgs
         FROM t),
       b2 AS (SELECT *, list_sort(bgs) AS sbgs FROM b),
       b3 AS (SELECT *,
         CASE WHEN len(starts) > 0 THEN
           list_max(list_transform(range(1, len(starts) + 1),
             j -> list_append(starts, len(sbgs) + 1)[j + 1] -
                  list_append(starts, len(sbgs) + 1)[j]))
         ELSE NULL END AS top_bigram_cnt
         FROM (SELECT *,
           CASE WHEN len(sbgs) > 0 THEN
             list_filter(range(1, len(sbgs) + 1),
               i -> i = 1 OR sbgs[i] <> sbgs[greatest(i - 1, 1)])
           ELSE CAST([] AS BIGINT[]) END AS starts FROM b2))"""

  /** Full quality-filter CTE chain (toks → repetition signals → line
    * shapes → signals `r` → reasons `rr`) — the q_quality_filter
    * oracle body, factored so the curation-funnel oracle replays the
    * IDENTICAL filter. Yields `rr` with (doc_id, …signals…, reason). */
  lazy val QualityCtes: String =
    s"""t AS (SELECT doc_id, text, $ToksSql AS toks FROM documents),
        $RepetitionCtes,
        rl AS (SELECT doc_id,
          list_filter(list_transform(string_split(text, chr(10)),
            l -> trim(l)), l -> l <> '') AS rawlines
          FROM t),
        r AS (SELECT b3.doc_id,
          CAST(len(toks) AS INTEGER) AS token_cnt,
          CAST(len(list_filter(toks,
            t -> list_contains(['the','a','and','of','to','is'], t)))
            AS INTEGER) AS stop_hits,
          CAST(1 AS DOUBLE) - CAST(len(list_distinct(lines)) AS DOUBLE) /
            nullif(len(lines), 0) AS dup_line_frac,
          CAST(top_bigram_cnt AS DOUBLE) /
            nullif(len(bgs), 0) AS top_bigram_frac,
          CASE WHEN len(toks) > 0 THEN
            CAST(list_reduce(list_transform(toks, x -> len(x)),
              (a, b) -> a + b) AS DOUBLE) / len(toks) END AS mean_word_len,
          CAST(len(regexp_extract_all(tx.text, '#|\\.\\.\\.')) AS DOUBLE) /
            nullif(len(toks), 0) AS symbol_word_ratio,
          CAST(len(list_filter(rawlines, l -> regexp_matches(l, '^[-*]')))
            AS DOUBLE) / nullif(len(rawlines), 0) AS bullet_line_frac,
          CAST(len(list_filter(rawlines,
            l -> regexp_matches(l, '\\.\\.\\.$$'))) AS DOUBLE) /
            nullif(len(rawlines), 0) AS ellipsis_line_frac
          FROM b3
          JOIN (SELECT doc_id, text FROM t) tx ON tx.doc_id = b3.doc_id
          JOIN rl ON rl.doc_id = b3.doc_id),
        rr AS (SELECT *, CASE
          WHEN token_cnt IS NULL THEN 'invalid_text'
          WHEN token_cnt < 20 THEN 'too_short'
          WHEN dup_line_frac > CAST(0.3 AS DOUBLE) THEN 'dup_lines'
          WHEN top_bigram_frac > CAST(0.08 AS DOUBLE) THEN 'repetitive_bigrams'
          WHEN stop_hits < 1 THEN 'no_stopwords'
          WHEN mean_word_len < CAST(3.0 AS DOUBLE)
            OR mean_word_len > CAST(4.8 AS DOUBLE) THEN 'word_length'
          WHEN symbol_word_ratio > CAST(0.1 AS DOUBLE) THEN 'symbol_heavy'
          WHEN bullet_line_frac > CAST(0.9 AS DOUBLE) THEN 'bullet_lines'
          WHEN ellipsis_line_frac > CAST(0.3 AS DOUBLE) THEN 'ellipsis_lines'
          ELSE 'ok' END AS reason FROM r)"""

  /** Quality-score CTE chain (the TextAnalysis.qualityScore recipe,
    * factored once) — yields `qsc` with (doc_id, source, text_len,
    * token_cnt, stop_hits, alpha_ratio, stop_ratio, quality_score).
    * Shared by q_text_quality and q_quality_cap so the scoring can
    * never drift between them. */
  lazy val QualityScoreCtes: String =
    s"""tq AS (SELECT doc_id, text, source, $ToksSql AS toks FROM documents),
        bq AS (SELECT doc_id, source,
          CAST(len(text) AS INTEGER) AS text_len,
          CAST(len(toks) AS INTEGER) AS token_cnt,
          CAST(len(list_filter(toks,
            t -> list_contains(['the','a','and','of','to','is'], t)))
            AS INTEGER) AS stop_hits,
          CAST(len(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) /
            nullif(len(text), 0) AS alpha_ratio
        FROM tq),
        rq AS (SELECT *,
          CAST(stop_hits AS DOUBLE) / nullif(token_cnt, 0) AS stop_ratio
        FROM bq),
        qsc AS (SELECT *,
          least(CAST(1.0 AS DOUBLE), token_cnt / CAST(100.0 AS DOUBLE)) *
            (CAST(0.5 AS DOUBLE) + CAST(0.5 AS DOUBLE) * stop_ratio) *
            alpha_ratio AS quality_score
        FROM rq)"""

  /** DuckDB fragments shared by the text oracles. */
  val ToksSql =
    """list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
       x -> x <> '')"""
  val NormSql = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"
  /** Distinct n-word shingles of ToksSql (as `toks`) — the DuckDB twin
    * of TextFunctions.shingles for any n. */
  def shinglesSqlN(n: Int): String = {
    val cat = (0 until n).map {
      case 0 => "toks[i]"
      case j => s"toks[i+$j]"
    }.mkString(" || ' ' || ")
    s"""list_distinct(list_transform(range(1, greatest(len(toks) - ${n - 2}, 1)),
       i -> $cat))"""
  }
  /** 3-word shingles of ToksSql (as `toks`). */
  val ShinglesSql = shinglesSqlN(3)

  /** CTE chain replaying the MinHash LSH pipeline through the exact
    * verification stage (`ver` = (d1 < d2) verified pairs) — shared by
    * the one-hop q_minhash_dedup oracle and the recursive
    * connected-components q_dedup_clusters oracle. */
  lazy val MinhashVerCtes: String = minhashVerCtes("TRUE")

  def minhashVerCtes(docFilter: String): String = {
    val coefValues = NearDup.minhashCoefficients(32).zipWithIndex
      .map { case ((a, b), j) => s"($j, $a, $b)" }.mkString(", ")
    s"""tk AS (SELECT doc_id, $ToksSql AS toks FROM documents
          WHERE $docFilter),
        t AS (SELECT doc_id, $ShinglesSql AS sh FROM tk),
        e AS (SELECT doc_id, unnest(sh) AS s FROM t),
        h AS (SELECT doc_id,
          list_reduce(
            list_prepend(CAST(0 AS BIGINT),
              list_transform(string_split(s, ''), c -> CAST(ascii(c) AS BIGINT))),
            (acc, c) -> (acc * 31 + c) % 1099511627776) AS h0
          FROM e),
        coef(j, a, b) AS (VALUES $coefValues),
        perms AS (SELECT doc_id, j,
          min((h0 * a + b) % 1099511627776) AS mh
          FROM h CROSS JOIN coef GROUP BY 1, 2),
        bands AS (SELECT doc_id, j // 2 AS band,
          string_agg(CAST(mh AS VARCHAR), ',' ORDER BY j) AS band_sig
          FROM perms GROUP BY 1, 2),
        buckets AS (SELECT band, band_sig,
          (list_sort(list(doc_id)))[1:${NearDup.DefaultBucketCap}] AS ids
          FROM bands GROUP BY 1, 2),
        cand AS (SELECT DISTINCT p[1] AS d1, p[2] AS d2 FROM
          (SELECT unnest(flatten(list_transform(range(1, len(ids)),
            i -> list_transform(range(i + 1, len(ids) + 1),
            j -> [ids[i], ids[j]])))) AS p
           FROM buckets WHERE len(ids) > 1)),
        ver0 AS (SELECT d1, d2,
          CAST(len(list_intersect(t1.sh, t2.sh)) AS DOUBLE) /
            len(list_distinct(list_concat(t1.sh, t2.sh))) AS jaccard
          FROM cand
          JOIN t t1 ON t1.doc_id = d1 JOIN t t2 ON t2.doc_id = d2),
        ver AS (SELECT d1, d2 FROM ver0 WHERE jaccard >= 0.5)"""
  }
}
