package graft
package keys

import org.apache.spark.sql.functions._
import graft.operators._
import Shared._

/** Near-duplicate detection: exact, minhash, simhash, n-gram and
  * span dedup, and the dedup index. */
object NearDupKeys extends Family {
  /** q_containment threshold: strictly stronger than the 0.3 jaccard
    * gate — the asymmetric check finds ~10× more pairs on the planted
    * corpus (short-in-long dups that symmetric jaccard misses). */
  private val ContainmentThreshold = 0.6

  /** q_dedup_sweep candidate Jaccard thresholds (permille): brackets
    * the 0.3 gate q_ngram_jaccard runs at so the report shows how the
    * pair/drop counts decay toward strictness. */
  private val SweepThresholdsPm = Seq(300, 500, 700, 900)

  /** q_decontam: eval set = docs with doc_id % Mod == Rem (a
    * deterministic ~5% held-out slice); contamination = sharing any
    * 8-gram with it. 8 words ≈ the corpus's doc length scale (30–80
    * tokens), selective enough to flag only planted near-dups. */
  private val DecontamN = 8
  private val DecontamEvalMod = 20
  private val DecontamEvalRem = 7

  /** q_span_dedup: seed-window length in tokens. Repeated spans
    * shorter than this are invisible by design (ExactSubstr's
    * min-match-length knob). */
  private val SpanSeedLen = 8

  /** Shared CTE prefix of the span-family oracles (q_span_dedup,
    * q_span_strip, q_novelty): planted span fixture → tokens → md5
    * seed windows per position. Mirrors NearDup.plantSpans +
    * NearDup.seedFrame; md5 is bit-identical across engines. */
  private def spanSeedCtes: String = {
    val k = SpanSeedLen
    s"""planted AS (SELECT doc_id,
            CASE WHEN doc_id % 7 = 0
              THEN text || ' ${NearDup.PlantedSpan}' ELSE text END AS text
          FROM documents),
          tk AS (SELECT doc_id, $ToksSql AS toks FROM planted),
          tt AS (SELECT doc_id, toks FROM tk WHERE len(toks) >= $k),
          s0 AS (SELECT doc_id, toks,
              unnest(generate_series(1, len(toks) - ${k - 1})) AS i
            FROM tt),
          s AS (SELECT doc_id, i - 1 AS pos,
              md5(array_to_string(toks[i:i + ${k - 1}], ' ')) AS sk
            FROM s0)"""
  }

  /** [[spanSeedCtes]] extended through island merging to `sp`, the
    * per-doc maximal-span frame (doc_id, island, span_start,
    * span_end, n_seeds) — shared by q_span_dedup and q_span_strip. */
  private def spanCtes: String = {
    val k = SpanSeedLen
    s"""$spanSeedCtes,
          shared AS (SELECT sk FROM s GROUP BY sk
            HAVING min(doc_id) <> max(doc_id)),
          h AS (SELECT s.doc_id, s.pos FROM s JOIN shared USING (sk)),
          i1 AS (SELECT doc_id, pos,
              lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
            FROM h),
          i2 AS (SELECT doc_id, pos, CASE WHEN prev IS NULL
              OR pos - prev > $k THEN 1 ELSE 0 END AS ni FROM i1),
          i3 AS (SELECT doc_id, pos, sum(ni) OVER (PARTITION BY doc_id
              ORDER BY pos) AS island FROM i2),
          sp AS (SELECT doc_id, island, min(pos) AS span_start,
              max(pos) + $k AS span_end, count(*) AS n_seeds
            FROM i3 GROUP BY doc_id, island)"""
  }

  /** DuckDB replay of [[graft.operators.NearDup.dfCapFor]] over an
    * exploded (doc_id, s) CTE named `<p>e0`: emits `<p>dfs`, `<p>cap`
    * (the corpus-derived df cap — largest df whose ascending
    * cumulative pair volume Σ cnt·df(df−1)/2 fits the pair budget,
    * floored) and the capped explode `<p>e`. The same rule, off the
    * same histogram, as the engine — the derived knob is part of the
    * hash gate, not folklore. */
  private def dfCapCtes(p: String): String =
    s"""${p}dfs AS (SELECT s, count(*) AS df FROM ${p}e0 GROUP BY s),
        ${p}cap AS (SELECT greatest(${NearDup.DfCapFloor}, coalesce(
            max(df) FILTER (WHERE pv <= ${NearDup.DfPairBudget}),
            ${NearDup.DfCapFloor})) AS df_cap
          FROM (SELECT df, sum(cnt * (df * (df - 1) // 2))
              OVER (ORDER BY df) AS pv
            FROM (SELECT df, count(*) AS cnt FROM ${p}dfs GROUP BY df))),
        ${p}e AS (SELECT ${p}e0.doc_id, ${p}e0.s FROM ${p}e0
          JOIN ${p}dfs USING (s)
          WHERE df <= (SELECT df_cap FROM ${p}cap))"""

  /** Min-label connected-components CTE chain over the minhash-verified
    * edge set (expects `ver` in scope, yields `lab`/`sz`) — shared by
    * q_dedup_clusters and q_cluster_best. */
  private lazy val ClusterCtes =
    """edges AS (SELECT d1, d2 FROM ver UNION ALL SELECT d2, d1 FROM ver),
       reach AS (
         SELECT doc_id, doc_id AS r FROM documents
         UNION
         SELECT e.d2 AS doc_id, reach.r FROM reach
         JOIN edges e ON e.d1 = reach.doc_id),
       lab AS (SELECT doc_id, min(r) AS rep_id FROM reach GROUP BY doc_id),
       sz AS (SELECT rep_id, count(*) AS cluster_size FROM lab
         GROUP BY rep_id)"""

  /** The q_minhash_recall oracle's sample-modulus derivation — the
    * SQL twin of [[graft.operators.NearDup.sampleModFor]]. */
  private val SampleModSql =
    s"(SELECT greatest(1, CAST(round(count(*) / ${NearDup.RecallSampleTarget}.0) AS BIGINT)) FROM documents)"

  /** CTE chain computing the 40-bit simhash fingerprints (`fp` =
    * (doc_id, simhash)) — shared by the q_simhash signature oracle and
    * the q_simhash_pairs hamming-bucket oracle. */
  private val SimhashFpCtes: String =
    s"""tok AS (SELECT doc_id, unnest(toks) AS w FROM
          (SELECT doc_id, $ToksSql AS toks FROM documents)),
        h AS (SELECT doc_id,
          list_reduce(
            list_prepend(CAST(0 AS BIGINT),
              list_transform(string_split(w, ''), c -> CAST(ascii(c) AS BIGINT))),
            (acc, c) -> (acc * 31 + c) % 1099511627776) AS hv
          FROM tok),
        bits AS (SELECT doc_id, j,
          CASE WHEN ((hv >> j) & 1) = 1 THEN 1 ELSE -1 END AS contrib
          FROM h CROSS JOIN (SELECT unnest(range(0, 40)) AS j)),
        sums AS (SELECT doc_id, j, sum(contrib) AS s FROM bits GROUP BY 1, 2),
        fp AS (SELECT doc_id,
          CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)
            AS BIGINT) AS simhash
          FROM sums GROUP BY 1)"""

  val keys: Seq[Key] = Seq(
    key("q_ngram_jaccard", (s, d) =>
      NearDup.jaccardPairs(Tables.documentsFloored(s, d), 3, 0.3))(
      s"""WITH tk AS (SELECT doc_id, $ToksSql AS toks FROM documents),
          t AS (SELECT doc_id, $ShinglesSql AS sh FROM tk),
          e0 AS (SELECT doc_id, unnest(sh) AS s FROM t),
          ${dfCapCtes("")},
          c AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS cnt
            FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
          sz AS (SELECT doc_id, len(sh) AS n FROM t),
          j AS (SELECT d1, d2,
            CAST(cnt AS DOUBLE) / (s1.n + s2.n - cnt) AS jaccard
            FROM c JOIN sz s1 ON s1.doc_id = d1 JOIN sz s2 ON s2.doc_id = d2)
          SELECT d1, d2, jaccard,
            CAST((SELECT df_cap FROM cap) AS BIGINT) AS df_cap
          FROM j WHERE jaccard >= 0.3 ORDER BY d1, d2"""),
    key("q_dedup_sweep", (s, d) =>
      NearDup.dedupSweep(Tables.documentsFloored(s, d), 3,
        SweepThresholdsPm))(
      // Same inverted-index CTEs as q_ngram_jaccard; each threshold
      // qualifies pairs by integer cross-multiplication (no division
      // anywhere), so the replay is bit-exact by construction.
      s"""WITH tk AS (SELECT doc_id, $ToksSql AS toks FROM documents),
          t AS (SELECT doc_id, $ShinglesSql AS sh FROM tk),
          e0 AS (SELECT doc_id, unnest(sh) AS s FROM t),
          ${dfCapCtes("")},
          c AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS cnt
            FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
          sz AS (SELECT doc_id, len(sh) AS n FROM t),
          p AS (SELECT d1, d2, cnt, s1.n + s2.n - cnt AS den
            FROM c JOIN sz s1 ON s1.doc_id = d1 JOIN sz s2 ON s2.doc_id = d2),
          th AS (SELECT unnest([${SweepThresholdsPm.mkString(", ")}])
            AS threshold_pm),
          q AS (SELECT threshold_pm, d2 FROM p JOIN th
            ON cnt * 1000 >= threshold_pm * den)
          SELECT threshold_pm, count(*) AS n_pairs,
            count(DISTINCT d2) AS n_docs_dropped,
            CAST((SELECT df_cap FROM cap) AS BIGINT) AS df_cap
          FROM q GROUP BY 1 ORDER BY 1"""),
    key("q_span_dedup", (s, d) =>
      NearDup.spanDedup(NearDup.plantSpans(Tables.documents(s, d)),
        SpanSeedLen))(
      // Seed md5 is bit-identical across engines, so membership, island
      // merging and span extents replay exactly; sum() OVER (ORDER BY
      // pos) has identical RANGE framing in both engines on unique pos.
      s"""WITH $spanCtes
          SELECT doc_id, CAST(span_start AS INT) AS span_start,
            CAST(span_end AS INT) AS span_end,
            CAST(span_end - span_start AS INT) AS span_len, n_seeds
          FROM sp ORDER BY doc_id, span_start"""),
    key("q_span_strip", (s, d) =>
      NearDup.spanStrip(NearDup.plantSpans(Tables.documents(s, d)),
        SpanSeedLen))(
      // The apply step: positional anti-filter of each doc's tokens
      // against its own spans, then one ordered string_agg — the SQL
      // twin of the engine's row-local positional filter.
      s"""WITH $spanCtes,
          ns AS (SELECT doc_id, CAST(count(*) AS INT) AS n_spans
            FROM sp GROUP BY doc_id),
          pos AS (SELECT doc_id, toks,
              unnest(generate_series(1, len(toks))) AS i FROM tk),
          posv AS (SELECT doc_id, i, toks[i] AS tok FROM pos),
          kept AS (SELECT p.doc_id, p.i, p.tok FROM posv p
            WHERE NOT EXISTS (SELECT 1 FROM sp
              WHERE sp.doc_id = p.doc_id
                AND p.i - 1 >= sp.span_start AND p.i - 1 < sp.span_end)),
          ka AS (SELECT doc_id, count(*) AS n_kept,
              string_agg(tok, ' ' ORDER BY i) AS clean_text
            FROM kept GROUP BY doc_id),
          sz AS (SELECT doc_id, len(toks) AS n_toks FROM tk)
          SELECT sz.doc_id, coalesce(ns.n_spans, 0) AS n_spans,
            CAST(sz.n_toks AS INT) AS n_toks,
            CAST(sz.n_toks - coalesce(ka.n_kept, 0) AS INT)
              AS toks_removed,
            coalesce(ka.clean_text, '') AS clean_text
          FROM sz LEFT JOIN ns USING (doc_id) LEFT JOIN ka USING (doc_id)
          ORDER BY sz.doc_id"""),
    key("q_novelty", (s, d) =>
      NearDup.seedNovelty(NearDup.plantSpans(Tables.documentsFloored(s, d)),
        SpanSeedLen))(
      // Novelty = corpus-unique seed fraction; integer counts, one
      // final division, NULL for docs below the seed floor.
      s"""WITH $spanSeedCtes,
          d AS (SELECT sk, min(doc_id) = max(doc_id) AS uniq
            FROM s GROUP BY sk),
          sc AS (SELECT s.doc_id, count(*) AS n_seeds,
              CAST(sum(CAST(d.uniq AS INT)) AS BIGINT) AS n_unique
            FROM s JOIN d USING (sk) GROUP BY s.doc_id)
          SELECT t.doc_id, coalesce(sc.n_seeds, 0) AS n_seeds,
            coalesce(sc.n_unique, 0) AS n_unique,
            CAST(sc.n_unique AS DOUBLE) / sc.n_seeds AS novelty
          FROM (SELECT doc_id FROM documents) t LEFT JOIN sc USING (doc_id)
          ORDER BY t.doc_id"""),
    // Text twin of q_dedup_recall: banding recall + df-cap precision
    // of the minhash path vs the exact index at the same threshold
    // (0.5 — pinned by the verify stage both here and in the oracle).
    key("q_minhash_recall", (s, d) =>
      NearDup.minhashRecallSampled(Tables.documentsFloored(s, d)))(
      // Replays BOTH legs: the minhash chain (ver, threshold 0.5 pinned
      // in MinhashVerCtes) and the exact df-capped index at 0.5 — both
      // restricted to the SAME corpus-derived doc sample the engine
      // evaluates (full corpus at gate SFs, ~RecallSampleTarget docs
      // above them).
      s"""WITH ${minhashVerCtes(s"doc_id % $SampleModSql = 0")},
          je0 AS (SELECT doc_id, unnest(sh) AS s FROM t),
          ${dfCapCtes("j")},
          jc AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS cnt
            FROM je a JOIN je b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
          jsz AS (SELECT doc_id, len(sh) AS n FROM t),
          ex AS (SELECT d1, d2 FROM jc
            JOIN jsz s1 ON s1.doc_id = d1 JOIN jsz s2 ON s2.doc_id = d2
            WHERE CAST(cnt AS DOUBLE) / (s1.n + s2.n - cnt) >= 0.5),
          fo AS (SELECT
            CASE WHEN ex.d1 IS NOT NULL THEN 1 ELSE 0 END AS in_exact,
            CASE WHEN ver.d1 IS NOT NULL THEN 1 ELSE 0 END AS in_approx
            FROM ex FULL OUTER JOIN ver
              ON ex.d1 = ver.d1 AND ex.d2 = ver.d2)
          SELECT CAST(coalesce(sum(in_exact), 0) AS BIGINT) AS n_exact,
            CAST(coalesce(sum(in_approx), 0) AS BIGINT) AS n_approx,
            CAST(coalesce(sum(in_exact * in_approx), 0) AS BIGINT) AS n_both,
            CAST(coalesce(sum(in_exact * in_approx), 0) AS DOUBLE) /
              nullif(CAST(coalesce(sum(in_approx), 0) AS BIGINT), 0)
              AS precision,
            CAST(coalesce(sum(in_exact * in_approx), 0) AS DOUBLE) /
              nullif(CAST(coalesce(sum(in_exact), 0) AS BIGINT), 0)
              AS recall
          FROM fo"""),
    // The banding S-curve measured: observed candidate rate per exact
    // jaccard decile vs the closed 1-(1-s^2)^16 theory (exact
    // squaring chain, no libm pow) — bands/rows tuning as a gate row.
    key("q_lsh_curve", (s, d) =>
      NearDup.lshCurveSampled(Tables.documentsFloored(s, d)))(
      // Observed-vs-theoretical banding curve: the exact df-capped pairs
      // at 0.3 bucketed by jaccard decile, flagged by membership in the
      // SAME capped candidate set (`cand` from the minhash chain); the
      // theoretical leg is the exact squaring chain (x1=1-s², then four
      // squarings → x16), never pow() — libm last-ulp behavior differs.
      s"""WITH ${minhashVerCtes(s"doc_id % $SampleModSql = 0")},
          je0 AS (SELECT doc_id, unnest(sh) AS s FROM t),
          ${dfCapCtes("j")},
          jc AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS cnt
            FROM je a JOIN je b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
          jsz AS (SELECT doc_id, len(sh) AS n FROM t),
          ex AS (SELECT d1, d2,
            CAST(cnt AS DOUBLE) / (s1.n + s2.n - cnt) AS jaccard FROM jc
            JOIN jsz s1 ON s1.doc_id = d1 JOIN jsz s2 ON s2.doc_id = d2
            WHERE CAST(cnt AS DOUBLE) / (s1.n + s2.n - cnt) >= 0.3),
          fo AS (SELECT
            least(CAST(floor(ex.jaccard * 10) AS INT), 9) AS jaccard_bucket,
            CASE WHEN c.d1 IS NOT NULL THEN 1 ELSE 0 END AS in_cand
            FROM ex LEFT JOIN cand c ON c.d1 = ex.d1 AND c.d2 = ex.d2),
          g AS (SELECT jaccard_bucket, CAST(count(*) AS BIGINT) AS n_pairs,
            CAST(sum(in_cand) AS BIGINT) AS n_candidates FROM fo GROUP BY 1),
          g2 AS (SELECT *, CAST(jaccard_bucket * 2 + 1 AS DOUBLE) / 20.0
            AS s_mid FROM g),
          g3 AS (SELECT *, 1.0 - s_mid * s_mid AS x1 FROM g2),
          g4 AS (SELECT *, (x1 * x1) * (x1 * x1) AS x4 FROM g3)
          SELECT jaccard_bucket, n_pairs, n_candidates,
            CAST(n_candidates AS DOUBLE) / n_pairs AS candidate_rate,
            s_mid, 1.0 - (x4 * x4) * (x4 * x4) AS expected_rate
          FROM g4 ORDER BY jaccard_bucket"""),
    // Sketch-accuracy twin: mean minhash agreement estimate vs mean
    // exact jaccard per decile, with the bias — validates the k=32
    // estimator itself, not just the banding built on it.
    key("q_minhash_est", (s, d) =>
      NearDup.minhashEstCurveSampled(Tables.documentsFloored(s, d)))(
      // Sketch-accuracy calibration: per exact-jaccard decile the mean
      // coordinate-agreement estimate (Σ matches / (n·32), integer
      // numerator) vs the micro-quantized exact mean and the bias.
      s"""WITH ${minhashVerCtes(s"doc_id % $SampleModSql = 0")},
          je0 AS (SELECT doc_id, unnest(sh) AS s FROM t),
          ${dfCapCtes("j")},
          jc AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS cnt
            FROM je a JOIN je b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
          jsz AS (SELECT doc_id, len(sh) AS n FROM t),
          ex AS (SELECT d1, d2,
            CAST(cnt AS DOUBLE) / (s1.n + s2.n - cnt) AS jaccard FROM jc
            JOIN jsz s1 ON s1.doc_id = d1 JOIN jsz s2 ON s2.doc_id = d2
            WHERE CAST(cnt AS DOUBLE) / (s1.n + s2.n - cnt) >= 0.3),
          mm AS (SELECT ex.d1, ex.d2, ex.jaccard,
            CAST(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS BIGINT)
              AS matches
            FROM ex JOIN perms a ON a.doc_id = ex.d1
            JOIN perms b ON b.doc_id = ex.d2 AND b.j = a.j
            GROUP BY 1, 2, 3),
          fo AS (SELECT
            least(CAST(floor(jaccard * 10) AS INT), 9) AS jaccard_bucket,
            matches, CAST(round(jaccard * 1000000) AS BIGINT) AS jq FROM mm),
          g AS (SELECT jaccard_bucket, CAST(count(*) AS BIGINT) AS n_pairs,
            CAST(sum(matches) AS BIGINT) AS sm, CAST(sum(jq) AS BIGINT) AS sj
            FROM fo GROUP BY 1)
          SELECT jaccard_bucket, n_pairs,
            CAST(sm AS DOUBLE) / CAST(n_pairs * 32 AS DOUBLE) AS mean_est,
            CAST(sj AS DOUBLE) / CAST(n_pairs AS DOUBLE) / 1000000.0
              AS mean_exact,
            CAST(sm AS DOUBLE) / CAST(n_pairs * 32 AS DOUBLE)
              - CAST(sj AS DOUBLE) / CAST(n_pairs AS DOUBLE) / 1000000.0
              AS bias
          FROM g ORDER BY jaccard_bucket"""),
    key("q_containment", (s, d) =>
      NearDup.containmentPairs(Tables.documentsFloored(s, d), 3,
        ContainmentThreshold))(
      s"""WITH tk AS (SELECT doc_id, $ToksSql AS toks FROM documents),
          t AS (SELECT doc_id, $ShinglesSql AS sh FROM tk),
          e0 AS (SELECT doc_id, unnest(sh) AS s FROM t),
          ${dfCapCtes("")},
          c AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS cnt
            FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
          sz AS (SELECT doc_id, len(sh) AS n FROM t),
          j AS (SELECT d1, d2,
            CAST(cnt AS DOUBLE) / least(s1.n, s2.n) AS containment
            FROM c JOIN sz s1 ON s1.doc_id = d1 JOIN sz s2 ON s2.doc_id = d2)
          SELECT d1, d2, containment,
            CAST((SELECT df_cap FROM cap) AS BIGINT) AS df_cap
          FROM j WHERE containment >= $ContainmentThreshold
          ORDER BY d1, d2"""),
    key("q_decontam", (s, d) => {
      val docs = Tables.documentsFloored(s, d)
      NearDup.decontaminate(
        docs.where(pmod(col("doc_id"), lit(DecontamEvalMod)) =!= DecontamEvalRem),
        docs.where(pmod(col("doc_id"), lit(DecontamEvalMod)) === DecontamEvalRem),
        DecontamN)
    })(
      s"""WITH tk AS (SELECT doc_id, $ToksSql AS toks FROM documents),
          t AS (SELECT doc_id, ${shinglesSqlN(DecontamN)} AS sh FROM tk),
          ev AS (SELECT DISTINCT unnest(sh) AS s FROM t
            WHERE doc_id % $DecontamEvalMod = $DecontamEvalRem),
          tr AS (SELECT doc_id, unnest(sh) AS s FROM t
            WHERE doc_id % $DecontamEvalMod <> $DecontamEvalRem),
          hit AS (SELECT doc_id, count(*) AS n_overlap
            FROM tr JOIN ev USING (s) GROUP BY 1),
          sz AS (SELECT doc_id, len(sh) AS n_sh FROM t)
          SELECT doc_id, n_overlap, n_sh,
            CAST(n_overlap AS DOUBLE) / n_sh AS overlap_frac
          FROM hit JOIN sz USING (doc_id) ORDER BY doc_id"""),
    // which sources copy from which: the near-dup pair frame at
    // (source, source) grain
    key("q_dup_sources", (s, d) =>
      NearDup.dupSourceMatrix(Tables.documentsFloored(s, d), 3, 0.3))(
      // q_ngram_jaccard's pair frame (same derived df cap) rolled up to
      // the unordered (source, source) grain
      s"""WITH tk AS (SELECT doc_id, $ToksSql AS toks FROM documents),
          t AS (SELECT doc_id, $ShinglesSql AS sh FROM tk),
          e0 AS (SELECT doc_id, unnest(sh) AS s FROM t),
          ${dfCapCtes("")},
          c AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS cnt
            FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
          sz AS (SELECT doc_id, len(sh) AS n FROM t),
          j AS (SELECT d1, d2 FROM c
            JOIN sz s1 ON s1.doc_id = d1 JOIN sz s2 ON s2.doc_id = d2
            WHERE CAST(cnt AS DOUBLE) / (s1.n + s2.n - cnt) >= 0.3),
          m AS (SELECT least(da.source, db.source) AS source_a,
              greatest(da.source, db.source) AS source_b
            FROM j JOIN documents da ON da.doc_id = d1
              JOIN documents db ON db.doc_id = d2),
          tot AS (SELECT count(*) AS n_total FROM m)
          SELECT source_a, source_b, count(*) AS n_pairs,
            (SELECT CAST(n_total AS BIGINT) FROM tot) AS n_total,
            CAST(count(*) AS DOUBLE) / (SELECT n_total FROM tot)
              AS pair_share
          FROM m GROUP BY 1, 2 ORDER BY 1, 2"""),
    key("q_dedup_incremental", (s, d) => {
      val docs = Tables.documentsFloored(s, d)
      NearDup.dedupIncrement(
        docs.where(pmod(col("doc_id"), lit(IncrementMod)) === IncrementRem),
        docs.where(pmod(col("doc_id"), lit(IncrementMod)) =!= IncrementRem))
    })(
      s"""WITH $MinhashVerCtes,
          nw AS (SELECT doc_id FROM documents
            WHERE doc_id % $IncrementMod = $IncrementRem),
          fp AS (SELECT doc_id, md5($NormSql) AS f FROM documents),
          cfp AS (SELECT f, min(doc_id) AS exact_match FROM fp
            WHERE doc_id % $IncrementMod <> $IncrementRem GROUP BY f),
          ex AS (SELECT fp.doc_id, cfp.exact_match
            FROM fp JOIN nw USING (doc_id) LEFT JOIN cfp USING (f)),
          nr AS (SELECT doc_id, min(c) AS near_match FROM (
            SELECT d1 AS doc_id, d2 AS c FROM ver
              WHERE d1 % $IncrementMod = $IncrementRem
                AND d2 % $IncrementMod <> $IncrementRem
            UNION ALL SELECT d2, d1 FROM ver
              WHERE d2 % $IncrementMod = $IncrementRem
                AND d1 % $IncrementMod <> $IncrementRem) GROUP BY doc_id)
          SELECT nw.doc_id, ex.exact_match, nr.near_match,
            (ex.exact_match IS NULL AND nr.near_match IS NULL) AS is_new
          FROM nw LEFT JOIN ex USING (doc_id) LEFT JOIN nr USING (doc_id)
          ORDER BY nw.doc_id"""),
    key("q_dedup_bloom", (s, d) => {
      val docs = Tables.documents(s, d)
      NearDup.dedupIncrementBloom(
        docs.where(pmod(col("doc_id"), lit(IncrementMod)) === IncrementRem),
        docs.where(pmod(col("doc_id"), lit(IncrementMod)) =!= IncrementRem))
    })(
      s"""WITH nw AS (SELECT doc_id, md5($NormSql) AS fp FROM documents
            WHERE doc_id % $IncrementMod = $IncrementRem),
          cf AS (SELECT md5($NormSql) AS fp, min(doc_id) AS rep_id
            FROM documents WHERE doc_id % $IncrementMod <> $IncrementRem
            GROUP BY 1)
          SELECT nw.doc_id, cf.rep_id,
            CASE WHEN cf.rep_id IS NULL THEN 0 ELSE 1 END AS is_dup
          FROM nw LEFT JOIN cf ON nw.fp = cf.fp ORDER BY nw.doc_id"""),
    // LSH bucket-occupancy histogram of the published dedup index —
    // the cap-engagement QA read before trusting an increment run
    key("q_dedup_index_stats", (s, d) =>
      NearDup.indexStats(Tables.documentsFloored(s, d)))(
      // bucket-size histogram off the same band CTEs; the stored size
      // is cap-truncated exactly like the engine's sorted-prefix slice
      s"""WITH $MinhashVerCtes,
          bsz AS (SELECT band, band_sig, count(*) AS sz
            FROM bands GROUP BY 1, 2)
          SELECT CAST(least(sz, ${NearDup.DefaultBucketCap}) AS INTEGER)
              AS bucket_size,
            count(*) AS n_buckets
          FROM bsz GROUP BY 1 ORDER BY 1"""),
    key("q_minhash_dedup", (s, d) => NearDup.minhashDedup(Tables.documents(s, d)))(
      s"""WITH $MinhashVerCtes,
          p AS (SELECT d1 AS doc_id, d2 AS partner FROM ver
            UNION ALL SELECT d2, d1 FROM ver)
          SELECT d.doc_id,
            coalesce(least(min(p.partner), d.doc_id), d.doc_id) AS rep_id,
            count(p.partner) AS n_dups
          FROM documents d LEFT JOIN p USING (doc_id)
          GROUP BY d.doc_id ORDER BY d.doc_id"""),
    // contrastive hard negatives: banded-but-below-threshold pairs
    key("q_hard_negatives", (s, d) =>
      NearDup.hardNegatives(Tables.documents(s, d)))(
      // the banding chain's complement: collided but verified below
      // threshold, ranked hardest-first per anchor and cut at the
      // per-anchor cap (the output-linear training shape). Replays the
      // engine's PRE-VERIFY cap too: only the top HardNegPreVerifyCap
      // candidates per anchor — ranked by band-collision count, d2
      // ties — reach the exact verify (the verify-work-linear shape)
      s"""WITH $MinhashVerCtes,
          candn AS (SELECT p[1] AS d1, p[2] AS d2, count(*) AS n_bands
            FROM (SELECT unnest(flatten(list_transform(range(1, len(ids)),
              i -> list_transform(range(i + 1, len(ids) + 1),
              j -> [ids[i], ids[j]])))) AS p
             FROM buckets WHERE len(ids) > 1) GROUP BY 1, 2),
          pv AS (SELECT d1, d2 FROM (SELECT d1, d2,
              row_number() OVER (PARTITION BY d1
                ORDER BY n_bands DESC, d2) AS prk
            FROM candn) WHERE prk <= ${NearDup.HardNegPreVerifyCap}),
          verh AS (SELECT d1, d2,
            CAST(len(list_intersect(t1.sh, t2.sh)) AS DOUBLE) /
              len(list_distinct(list_concat(t1.sh, t2.sh))) AS jaccard
            FROM pv
            JOIN t t1 ON t1.doc_id = d1 JOIN t t2 ON t2.doc_id = d2),
          hn AS (SELECT d1, d2, jaccard,
              row_number() OVER (PARTITION BY d1
                ORDER BY jaccard DESC, d2) AS rank
            FROM verh WHERE jaccard < 0.5)
          SELECT d1, d2, jaccard, CAST(rank AS INTEGER) AS rank,
            ${NearDup.HardNegPreVerifyCap} AS pre_cap
          FROM hn WHERE rank <= ${NearDup.HardNegPerAnchor}
          ORDER BY d1, rank"""),
    key("q_dedup_clusters", (s, d) => {
      val docs = Tables.documents(s, d)
      NearDup.dedupClusters(docs, NearDup.minhashPairs(docs))
    })(
      s"""WITH RECURSIVE $MinhashVerCtes,
          $ClusterCtes
          SELECT lab.doc_id, lab.rep_id, sz.cluster_size
          FROM lab JOIN sz USING (rep_id) ORDER BY lab.doc_id"""),
    key("q_simhash", (s, d) => NearDup.simhash(Tables.documentsFloored(s, d)))(
      s"""WITH $SimhashFpCtes
          SELECT doc_id, simhash,
            simhash & 1023 AS b0, (simhash >> 10) & 1023 AS b1,
            (simhash >> 20) & 1023 AS b2, (simhash >> 30) & 1023 AS b3
          FROM fp ORDER BY doc_id"""),
    key("q_simhash_pairs", (s, d) => NearDup.simhashPairs(Tables.documents(s, d)))(
      s"""WITH $SimhashFpCtes,
          bands AS (SELECT doc_id, b,
            CASE b WHEN 0 THEN simhash & 1023
                   WHEN 1 THEN (simhash >> 10) & 1023
                   WHEN 2 THEN (simhash >> 20) & 1023
                   ELSE (simhash >> 30) & 1023 END AS key
            FROM fp CROSS JOIN (SELECT unnest(range(0, 4)) AS b)),
          buckets AS (SELECT b, key,
            (list_sort(list(doc_id)))[1:${NearDup.DefaultBucketCap}] AS ids
            FROM bands GROUP BY 1, 2),
          cand AS (SELECT DISTINCT p[1] AS d1, p[2] AS d2 FROM
            (SELECT unnest(flatten(list_transform(range(1, len(ids)),
              i -> list_transform(range(i + 1, len(ids) + 1),
              j -> [ids[i], ids[j]])))) AS p
             FROM buckets WHERE len(ids) > 1))
          SELECT d1, d2,
            CAST(bit_count(xor(f1.simhash, f2.simhash)) AS INTEGER) AS hamming
          FROM cand JOIN fp f1 ON f1.doc_id = d1 JOIN fp f2 ON f2.doc_id = d2
          WHERE bit_count(xor(f1.simhash, f2.simhash)) <= 3
          ORDER BY d1, d2"""),
    // shingle-index df histogram + in-plan derived df cap
    key("q_shingle_stats", (s, d) =>
      NearDup.shingleStats(Tables.documentsFloored(s, d)))(
      // The jaccard index's df histogram on magnitude buckets, plus the
      // dfCapCtes cap rule recomputed in-query — the derivation itself
      // is hash-gated.
      s"""WITH tk AS (SELECT doc_id, $ToksSql AS toks FROM documents),
          t AS (SELECT doc_id, $ShinglesSql AS sh FROM tk),
          e0 AS (SELECT doc_id, unnest(sh) AS s FROM t),
          dfs AS (SELECT s, CAST(count(*) AS BIGINT) AS df
            FROM e0 GROUP BY s),
          hist AS (SELECT df, count(*) AS cnt FROM dfs GROUP BY df),
          pv AS (SELECT df, sum(cnt * (df * (df - 1) // 2))
              OVER (ORDER BY df) AS pv FROM hist),
          cap AS (SELECT CAST(greatest(${NearDup.DfCapFloor}, coalesce(
              max(df) FILTER (WHERE pv <= ${NearDup.DfPairBudget}),
              ${NearDup.DfCapFloor})) AS BIGINT) AS df_cap FROM pv)
          SELECT CAST(length(CAST(df AS VARCHAR)) AS BIGINT) AS df_digits,
            count(*) AS n_shingles, min(df) AS min_df, max(df) AS max_df,
            CAST(sum(df) AS BIGINT) AS sum_postings,
            CAST(sum(df * (df - 1) // 2) AS BIGINT) AS pair_volume,
            cap.df_cap
          FROM dfs CROSS JOIN cap GROUP BY df_digits, cap.df_cap
          ORDER BY df_digits"""),
    // simhash candidate hamming-distance histogram
    key("q_hamming_hist", (s, d) =>
      NearDup.hammingHist(Tables.documentsFloored(s, d)))(
      // The q_simhash_pairs candidate chain rolled onto the hamming
      // grid with a window share.
      s"""WITH $SimhashFpCtes,
          bands AS (SELECT doc_id, b,
            CASE b WHEN 0 THEN simhash & 1023
                   WHEN 1 THEN (simhash >> 10) & 1023
                   WHEN 2 THEN (simhash >> 20) & 1023
                   ELSE (simhash >> 30) & 1023 END AS key
            FROM fp CROSS JOIN (SELECT unnest(range(0, 4)) AS b)),
          buckets AS (SELECT b, key,
            (list_sort(list(doc_id)))[1:${NearDup.DefaultBucketCap}] AS ids
            FROM bands GROUP BY 1, 2),
          cand AS (SELECT DISTINCT p[1] AS d1, p[2] AS d2 FROM
            (SELECT unnest(flatten(list_transform(range(1, len(ids)),
              i -> list_transform(range(i + 1, len(ids) + 1),
              j -> [ids[i], ids[j]])))) AS p
             FROM buckets WHERE len(ids) > 1)),
          pp AS (SELECT
            CAST(bit_count(xor(f1.simhash, f2.simhash)) AS INTEGER)
              AS hamming
            FROM cand JOIN fp f1 ON f1.doc_id = d1
            JOIN fp f2 ON f2.doc_id = d2
            WHERE bit_count(xor(f1.simhash, f2.simhash)) <= 3),
          g AS (SELECT hamming, count(*) AS n_pairs FROM pp GROUP BY 1)
          SELECT hamming, n_pairs, CAST(n_pairs AS DOUBLE) /
            CAST(sum(n_pairs) OVER () AS DOUBLE) AS pair_share
          FROM g ORDER BY hamming"""),
    key("q_cluster_best", (s, d) => {
      val docs = Tables.documents(s, d)
      NearDup.clusterBest(docs, NearDup.minhashPairs(docs))
    })(
      s"""WITH RECURSIVE $MinhashVerCtes,
          $ClusterCtes,
          $QualityScoreCtes,
          cb AS (SELECT lab.doc_id, lab.rep_id, sz.cluster_size,
              qsc.quality_score
            FROM lab JOIN sz USING (rep_id) JOIN qsc USING (doc_id)),
          wv AS (SELECT *, first_value(doc_id) OVER (PARTITION BY rep_id
            ORDER BY quality_score DESC NULLS LAST, doc_id) AS best_id
            FROM cb)
          SELECT doc_id, rep_id, cluster_size, quality_score, best_id,
            CASE WHEN doc_id <> best_id THEN 1 ELSE 0 END AS is_dup
          FROM wv ORDER BY doc_id""")
  )
}
