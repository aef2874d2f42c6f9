package graft
package keys

import org.apache.spark.sql.functions._
import graft.operators._
import Shared._

/** Per-document text analysis: tokens, language, quality signals,
  * vocabulary statistics and search. */
object TextKeys extends Family {
  /** q_vocab top-N (non-binding on the 31-term synthetic vocabulary —
    * the ordering contract, not the cut, is what the gate checks). */
  private val VocabTopN = 1000
  /** q_ngram_coverage head-coverage checkpoints. */
  private val CoverageKs = Seq(100, 1000, 10000)

  /** q_source_kl: corpus-term simplex size (+1 residual bucket) the
    * per-source KL folds over — bounds the fold at any corpus size. */
  private val KlTopTerms = 2000

  /** q_zipf: top-rank terms the log-log OLS fits over. */
  private val ZipfTopK = 100

  /** q_heaps: doc_id-grid prefix checkpoints the ln–ln Heaps fit runs
    * over (no global sort — the grid is row-local off min/max ids). */
  private val HeapsCheckpoints = 10

  /** q_quality_trend: ingestion-order buckets (same id grid). */
  private val QualityTrendBuckets = 10

  /** q_bpe_pairs top-N — BINDING on the synthetic corpus (~40-word
    * vocabulary → hundreds of distinct adjacent pairs), so the
    * deterministic tie-break at the cut is itself gate-checked. */
  private val BpeTopN = 200

  /** q_bpe_train merge rounds — replayed structurally by the
    * unrolled-CTE oracle ([[bpeVocabCtes]]), the k-core precedent:
    * each data-dependent argmax round is one MATERIALIZED CTE step,
    * so the gate hash-checks the full merge sequence. */
  private val BpeMerges = 10

  /** The BPE merge loop unrolled to exactly [[BpeMerges]]
    * MATERIALIZED CTE steps — shared by the q_bpe_train and
    * q_bpe_apply oracles. Symbol arrays ride as '[s1][s2]…' strings
    * (tokens are [a-z0-9]+ so a bracket can never occur inside a
    * symbol); the engine's greedy left-to-right merge fold
    * ([[graft.operators.TextAnalysis.bpeTrain]]'s mergeFold) is
    * EXACTLY SQL replace()'s non-overlapping left-to-right scan — a
    * replacement is never re-scanned, so a merged symbol cannot
    * immediately re-merge, and overlapping runs resolve left-first
    * on both sides. Yields v0..v$BpeMerges (term, symstr, cnt) and
    * m0..m${BpeMerges-1} (a, b, w) — the per-round winning pair. */
  private lazy val BpeVocabCtes: String = {
    val steps = (0 until BpeMerges).map { k =>
      s"""p$k AS MATERIALIZED (
            SELECT pp[1] AS a, pp[2] AS b, CAST(sum(cnt) AS BIGINT) AS w
            FROM (SELECT unnest(list_transform(range(1, len(sym)),
                i -> [sym[i], sym[i + 1]])) AS pp, cnt
              FROM (SELECT regexp_extract_all(symstr,
                  '\\[([^\\]]+)\\]', 1) AS sym, cnt FROM v$k) s
              WHERE len(sym) >= 2)
            GROUP BY 1, 2),
          m$k AS MATERIALIZED (SELECT a, b, w FROM p$k
            ORDER BY w DESC, a, b LIMIT 1),
          v${k + 1} AS MATERIALIZED (SELECT term,
            replace(symstr,
              '[' || (SELECT a FROM m$k) || '][' ||
                (SELECT b FROM m$k) || ']',
              '[' || (SELECT a FROM m$k) ||
                (SELECT b FROM m$k) || ']') AS symstr,
            cnt FROM v$k)"""
    }.mkString(",\n          ")
    s"""v0 AS MATERIALIZED (
          SELECT term, regexp_replace(term, '(.)', '[\\1]', 'g') AS symstr,
            CAST(count(*) AS BIGINT) AS cnt
          FROM (SELECT unnest($ToksSql) AS term FROM documents)
          GROUP BY 1),
          $steps"""
  }

  /** q_tfidf: terms kept per document. */
  private val TfidfPerDoc = 3

  /** q_inverted_index: df floor and postings kept per term. */
  private val IndexMinDf = 2
  private val IndexTopPostings = 5

  private val PmiMinCount = 5
  private val PmiTopN = 200
  private val PrefixK = 8
  private val PrefixMinDocs = 2
  private val PrefixTopN = 100

  /** q_trending_terms grid: ingestion-order buckets × chart depth. */
  private val TrendBuckets = 4
  private val TrendTopK = 15

  /** q_search: literal query terms (corpus-vocabulary words) and the
    * result-list size. */
  private val SearchTerms = Seq("spark", "window", "stream")

  /** q_search_eval: (query id, conjunctive term set) pairs — terms
    * drawn from the synthetic vocab so every query has matches — and
    * the precision@k cut. */
  private val EvalQueries = Seq(
    "multi_spark_table" -> Seq("spark", "table"),
    "pair_window_stream" -> Seq("window", "stream"),
    "single_merge" -> Seq("merge"))
  private val EvalK = 10
  private val SearchK = 20

  /** Oracle of TextAnalysis.languageId — shared by q_lang_id and the
    * q_langid_eval confusion matrix. */
  /** Shared langid scoring CTEs (yields `pred`: doc_id, source, lang,
    * lang_pred + per-language scores) — q_lang_id and q_lang_mix read
    * the same chain so the views can never disagree. */
  private lazy val LangPredCtes = s"""t AS (SELECT doc_id, source, lang, $ToksSql AS toks FROM documents),
          sc AS (SELECT doc_id, source, lang,
            CAST(len(list_filter(toks, t -> list_contains(['der','die','und','das','ist','nicht'], t))) AS INTEGER) AS s_de,
            CAST(len(list_filter(toks, t -> list_contains(['the','a','and','of','to','is'], t))) AS INTEGER) AS s_en,
            CAST(len(list_filter(toks, t -> list_contains(['el','los','las','y','es','no'], t))) AS INTEGER) AS s_es,
            CAST(len(list_filter(toks, t -> list_contains(['le','la','et','les','est','pas'], t))) AS INTEGER) AS s_fr,
            CAST(len(list_filter(toks, t -> list_contains(['de','shi','le','bu','wo','zai'], t))) AS INTEGER) AS s_zh
          FROM t),
          m AS (SELECT *, greatest(s_de, s_en, s_es, s_fr, s_zh) AS mx FROM sc),
          pred AS (SELECT doc_id, source, lang,
            CASE WHEN mx > 0 AND s_de = mx THEN 'de'
                 WHEN mx > 0 AND s_en = mx THEN 'en'
                 WHEN mx > 0 AND s_es = mx THEN 'es'
                 WHEN mx > 0 AND s_fr = mx THEN 'fr'
                 WHEN mx > 0 AND s_zh = mx THEN 'zh'
                 ELSE 'unknown' END AS lang_pred,
            s_de, s_en, s_es, s_fr, s_zh
          FROM m)"""

  private lazy val LangIdSql = s"""WITH $LangPredCtes
          SELECT doc_id, lang, lang_pred, s_de, s_en, s_es, s_fr, s_zh
          FROM pred ORDER BY doc_id"""

  /** q_search_eval oracle: one BM25+relevance leg per query (the
    * q_search_bm25 CTE chain parameterized by term set), UNION ALL'd.
    * The rank is the same window-free counting form the engine uses:
    * 1 + |docs strictly ahead of the best relevant doc|; the
    * count-over-empty 1 is masked by the n_rel CASE on both sides. */
  private lazy val searchEvalOracleSql: String = {
    val legs = EvalQueries.map { case (qid, terms) =>
      val termList = terms.map(t => s"'$t'").mkString(", ")
      val relCond = terms.map(t => s"list_contains(toks, '$t')")
        .mkString(" AND ")
      s"""SELECT * FROM (
          WITH tk AS (SELECT doc_id, $ToksSql AS toks FROM documents),
          dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM tk),
          st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
            CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
          ex AS (SELECT doc_id, unnest(toks) AS term FROM tk),
          h AS (SELECT doc_id, term, count(*) AS tf FROM ex
            WHERE term IN ($termList) GROUP BY 1, 2),
          dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM h
            GROUP BY 1),
          sc AS (SELECT h.doc_id, h.term, h.tf,
              ln(1.0 + (st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5)) *
                (h.tf * (1.2 + 1)) /
                (h.tf + 1.2 * (CAST(1 AS DOUBLE) - 0.75 +
                  0.75 * dl.dl / st.avgdl)) AS w
            FROM h JOIN dfq USING (term) JOIN dl USING (doc_id)
            CROSS JOIN st),
          ag AS (SELECT doc_id,
              round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list(w ORDER BY term)), (x, y) -> x + y), 6) AS score
            FROM sc GROUP BY 1),
          rel AS (SELECT doc_id FROM tk WHERE $relCond),
          nrel AS (SELECT count(*) AS n_rel FROM rel),
          best AS (SELECT score, doc_id FROM ag
            WHERE doc_id IN (SELECT doc_id FROM rel)
            ORDER BY score DESC, doc_id LIMIT 1),
          rnk AS (SELECT count(*) + 1 AS r FROM ag CROSS JOIN best b
            WHERE ag.score > b.score OR
              (ag.score = b.score AND ag.doc_id < b.doc_id)),
          tk2 AS (SELECT doc_id FROM ag
            ORDER BY score DESC, doc_id LIMIT $EvalK),
          pk AS (SELECT count(*) AS rel_in_k FROM tk2
            WHERE doc_id IN (SELECT doc_id FROM rel))
          SELECT '$qid' AS query_id, nrel.n_rel,
            CASE WHEN nrel.n_rel > 0 THEN rnk.r END AS first_rel_rank,
            CASE WHEN nrel.n_rel > 0 THEN CAST(1.0 AS DOUBLE) / rnk.r
              ELSE CAST(0.0 AS DOUBLE) END AS rr,
            CAST(pk.rel_in_k AS DOUBLE) / $EvalK AS p_at_k
          FROM nrel CROSS JOIN rnk CROSS JOIN pk)"""
    }
    legs.mkString("", "\n          UNION ALL\n          ",
      "\n          ORDER BY query_id")
  }

  /** q_search_ndcg oracle: per-query graded-relevance legs (grade =
    * contained-term count) over the same BM25 CTE chain; DCG/IDCG
    * fold in rank order via the sorted-list reduce. */
  private lazy val searchNdcgOracleSql: String = {
    val legs = EvalQueries.map { case (qid, terms) =>
      val termList = terms.map(t => s"'$t'").mkString(", ")
      val gradeExpr = terms.map(t => s"CAST(list_contains(toks, '$t') AS BIGINT)")
        .mkString(" + ")
      s"""SELECT * FROM (
          WITH tk AS (SELECT doc_id, $ToksSql AS toks FROM documents),
          dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM tk),
          st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
            CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
          ex AS (SELECT doc_id, unnest(toks) AS term FROM tk),
          h AS (SELECT doc_id, term, count(*) AS tf FROM ex
            WHERE term IN ($termList) GROUP BY 1, 2),
          dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM h
            GROUP BY 1),
          sc AS (SELECT h.doc_id, h.term, h.tf,
              ln(1.0 + (st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5)) *
                (h.tf * (1.2 + 1)) /
                (h.tf + 1.2 * (CAST(1 AS DOUBLE) - 0.75 +
                  0.75 * dl.dl / st.avgdl)) AS w
            FROM h JOIN dfq USING (term) JOIN dl USING (doc_id)
            CROSS JOIN st),
          ag AS (SELECT doc_id,
              round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list(w ORDER BY term)), (x, y) -> x + y), 6) AS score
            FROM sc GROUP BY 1),
          g AS (SELECT doc_id, $gradeExpr AS grade FROM tk),
          top AS (SELECT doc_id, row_number()
              OVER (ORDER BY score DESC, doc_id) AS rk
            FROM ag ORDER BY score DESC, doc_id LIMIT $EvalK),
          dcg AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list(g.grade / log2(rk + 1) ORDER BY rk)), (x, y) -> x + y)
              AS dcg
            FROM top JOIN g USING (doc_id)),
          ideal AS (SELECT grade, row_number()
              OVER (ORDER BY grade DESC, doc_id) AS rk
            FROM g WHERE grade > 0
            ORDER BY grade DESC, doc_id LIMIT $EvalK),
          idcg AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list(grade / log2(rk + 1) ORDER BY rk)), (x, y) -> x + y)
              AS idcg FROM ideal),
          ng AS (SELECT count(*) AS n_graded FROM g WHERE grade > 0)
          SELECT '$qid' AS query_id, ng.n_graded, dcg.dcg, idcg.idcg,
            dcg.dcg / nullif(idcg.idcg, CAST(0.0 AS DOUBLE)) AS ndcg
          FROM ng CROSS JOIN dcg CROSS JOIN idcg)"""
    }
    legs.mkString("", "\n          UNION ALL\n          ",
      "\n          ORDER BY query_id")
  }

  val keys: Seq[Key] = Seq(
    // documentsFloored on the regex/shingle-heavy single-pass queries
    // below — see Tables.documentsFloored scaladoc for the measured
    // keep/skip decision per query
    // per-source language-mix drift gauge (shares + entropy)
    key("q_lang_mix", (s, d) =>
      TextAnalysis.langMixBySource(Tables.documents(s, d)))(
      s"""WITH $LangPredCtes,
          cnt AS (SELECT source, lang_pred, count(*) AS n FROM pred
            GROUP BY 1, 2),
          tot AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_src
            FROM cnt GROUP BY 1),
          sh AS (SELECT cnt.source, lang_pred, n,
              CAST(n AS DOUBLE) / n_src AS share
            FROM cnt JOIN tot USING (source)),
          ent AS (SELECT source,
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list(-(share * ln(share)) ORDER BY lang_pred)),
                (x, y) -> x + y) AS source_entropy
            FROM sh GROUP BY 1)
          SELECT sh.source, lang_pred, n, share, source_entropy
          FROM sh JOIN ent USING (source) ORDER BY 1, 2"""),
    key("q_lang_id", (s, d) =>
      TextAnalysis.languageId(Tables.documentsFloored(s, d)))(
      LangIdSql),
    // per-language tokenizer cost gauge (fertility, chars/token)
    key("q_fertility", (s, d) =>
      TextAnalysis.fertilityByLanguage(Tables.documentsFloored(s, d)))(
      // shared LangPred CTEs; counts replay q_token_count's tokenizers
      s"""WITH $LangPredCtes,
          st AS (SELECT p.lang_pred,
              CAST(len(t.toks) AS INTEGER) AS wst,
              CAST(len(regexp_extract_all(d.text, '[a-z]+|[0-9]+'))
                AS INTEGER) AS ret,
              CAST(len(d.text) AS INTEGER) AS nch
            FROM pred p JOIN t ON t.doc_id = p.doc_id
              JOIN documents d ON d.doc_id = p.doc_id)
          SELECT lang_pred, count(*) AS n_docs,
            CAST(sum(wst) AS BIGINT) AS ws_tokens,
            CAST(sum(ret) AS BIGINT) AS re_tokens,
            CAST(sum(nch) AS BIGINT) AS n_chars,
            CAST(sum(ret) AS DOUBLE) / nullif(CAST(sum(wst) AS BIGINT), 0)
              AS fertility,
            CAST(sum(nch) AS DOUBLE) / nullif(CAST(sum(ret) AS BIGINT), 0)
              AS chars_per_token
          FROM st GROUP BY 1 ORDER BY 1"""),
    key("q_text_quality", (s, d) =>
      TextAnalysis.qualityScore(Tables.documentsFloored(s, d)))(
      s"""WITH $QualityScoreCtes
          SELECT doc_id, text_len, token_cnt, stop_hits, alpha_ratio,
            stop_ratio, quality_score
          FROM qsc ORDER BY doc_id"""),
    key("q_token_count", (s, d) => TextAnalysis.tokenCounts(Tables.documentsFloored(s, d)))(
      s"""SELECT doc_id,
          CAST(len($ToksSql) AS INTEGER) AS ws_tokens,
          CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS INTEGER) AS re_tokens,
          CAST(len(text) AS INTEGER) AS n_chars_calc
          FROM documents ORDER BY doc_id"""),
    key("q_fingerprint", (s, d) => TextAnalysis.fingerprints(Tables.documents(s, d)))(
      s"""SELECT doc_id, md5($NormSql) AS fingerprint,
          CAST(len($NormSql) AS INTEGER) AS norm_len
          FROM documents ORDER BY doc_id"""),
    key("q_repetition", (s, d) =>
      TextAnalysis.repetitionSignals(Tables.documentsFloored(s, d)))(
      s"""WITH t AS (SELECT doc_id, text, $ToksSql AS toks FROM documents),
          $RepetitionCtes
          SELECT doc_id,
            CAST(len(lines) AS INTEGER) AS n_lines,
            CAST(1 AS DOUBLE) - CAST(len(list_distinct(lines)) AS DOUBLE) /
              nullif(len(lines), 0) AS dup_line_frac,
            CAST(1 AS DOUBLE) - CAST(len(list_distinct(toks)) AS DOUBLE) /
              nullif(len(toks), 0) AS dup_word_frac,
            CAST(top_bigram_cnt AS DOUBLE) /
              nullif(len(bgs), 0) AS top_bigram_frac
          FROM b3 ORDER BY doc_id"""),
    rowsOnly("q_compress_ratio", (s, d) =>
      TextAnalysis.compressionRatio(Tables.documents(s, d)))(
      "DEFLATE internals are engine-specific (no deflate in DuckDB); " +
        "TextSpec pins determinism and the ordering bounds"),
    key("q_quality_filter", (s, d) =>
      TextAnalysis.qualityFilter(Tables.documentsFloored(s, d)))(
      s"""WITH $QualityCtes
          SELECT doc_id, CAST(reason = 'ok' AS INTEGER) AS keep, reason,
            token_cnt, dup_line_frac, top_bigram_frac, stop_hits,
            mean_word_len, symbol_word_ratio, bullet_line_frac,
            ellipsis_line_frac
          FROM rr ORDER BY doc_id"""),
    key("q_dedup_exact", (s, d) => TextAnalysis.exactDedup(Tables.documents(s, d)))(
      s"""WITH f AS (SELECT doc_id, md5($NormSql) AS fingerprint FROM documents),
          r AS (SELECT doc_id, fingerprint,
            min(doc_id) OVER (PARTITION BY fingerprint) AS rep_id FROM f)
          SELECT doc_id, fingerprint, rep_id,
            CAST(doc_id <> rep_id AS INTEGER) AS is_dup
          FROM r ORDER BY doc_id"""),
    // cross-signal QA: fixed-width quality bands x exact-dup flags
    key("q_quality_dup_calib", (s, d) =>
      TextAnalysis.qualityDupCalibration(Tables.documents(s, d)))(
      // NULL-score docs band as NULL via the explicit CASE — both
      // engines' `least` skips NULLs and would silently put empty docs
      // in the TOP band
      s"""WITH $QualityScoreCtes,
          f AS (SELECT doc_id, md5($NormSql) AS fingerprint FROM documents),
          r AS (SELECT doc_id, CASE WHEN doc_id <> min(doc_id)
              OVER (PARTITION BY fingerprint) THEN 1 ELSE 0 END AS is_dup
            FROM f),
          bd AS (SELECT doc_id, CASE WHEN quality_score IS NULL THEN NULL
              ELSE CAST(least(floor(quality_score * 10), 9) AS INTEGER)
            END AS quality_band FROM qsc)
          SELECT quality_band, count(*) AS n_docs,
            CAST(sum(is_dup) AS BIGINT) AS n_dups,
            CAST(sum(is_dup) AS DOUBLE) / count(*) AS dup_rate
          FROM bd JOIN r USING (doc_id)
          GROUP BY 1 ORDER BY 1"""),
    // Mann-Whitney AUC of the quality score as a dup detector
    key("q_dup_auc", (s, d) =>
      TextAnalysis.dupAuc(Tables.documents(s, d)))(
      // exact Mann-Whitney AUC off the micro-quantized score histogram:
      // integer U-statistic terms (HUGEINT here, DECIMAL(38,0) engine
      // side), midrank tie half-credit, one division at the end
      s"""WITH $QualityScoreCtes,
          f AS (SELECT doc_id, md5($NormSql) AS fingerprint FROM documents),
          r AS (SELECT doc_id, CASE WHEN doc_id <> min(doc_id)
              OVER (PARTITION BY fingerprint) THEN 1 ELSE 0 END AS is_dup
            FROM f),
          lb AS (SELECT qsc.source,
              CAST(floor(quality_score * 1000000) AS BIGINT) AS sq, is_dup
            FROM qsc JOIN r USING (doc_id)
            WHERE quality_score IS NOT NULL),
          g AS (SELECT source, sq, CAST(sum(is_dup) AS BIGINT) AS n1,
              CAST(count(*) - sum(is_dup) AS BIGINT) AS n0
            FROM lb GROUP BY 1, 2),
          w AS (SELECT *, coalesce(CAST(sum(n0) OVER (PARTITION BY source
              ORDER BY sq ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              AS BIGINT), 0) AS cum0 FROM g)
          SELECT source, CAST(sum(n1) AS BIGINT) AS n_dup,
            CAST(sum(n0) AS BIGINT) AS n_uniq,
            CAST(2 * sum(n1 * cum0) + sum(n1 * n0) AS DOUBLE) /
              CAST(nullif(2 * sum(n1) * sum(n0), 0) AS DOUBLE) AS dup_auc
          FROM w GROUP BY 1 ORDER BY 1"""),
    key("q_vocab", (s, d) =>
      TextAnalysis.vocabulary(Tables.documents(s, d), VocabTopN))(
      s"""WITH tk AS (SELECT doc_id, $ToksSql AS toks FROM documents),
          e AS (SELECT doc_id, unnest(toks) AS term FROM tk)
          SELECT term, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs
          FROM e GROUP BY term
          ORDER BY n_occ DESC, term LIMIT $VocabTopN"""),
    // one-row corpus nutrition label (composes the gated signals)
    key("q_corpus_card", (s, d) =>
      TextAnalysis.corpusCard(Tables.documentsFloored(s, d)))(
      s"""WITH $LangPredCtes, $QualityScoreCtes,
          b AS (SELECT doc_id, source,
              CAST(len($ToksSql) AS BIGINT) AS n_toks,
              md5($NormSql) AS fp
            FROM documents),
          agg AS (SELECT count(*) AS n_docs,
              CAST(sum(n_toks) AS BIGINT) AS n_tokens,
              count(DISTINCT source) AS n_sources,
              count(DISTINCT fp) AS n_fp
            FROM b),
          q AS (SELECT round(sum(quality_score), 6) AS sum_quality
            FROM qsc),
          u AS (SELECT count(*) FILTER (WHERE lang_pred = 'unknown')
            AS n_unknown FROM pred)
          SELECT agg.n_docs, agg.n_tokens, agg.n_sources,
            CAST(agg.n_tokens AS DOUBLE) / agg.n_docs AS mean_doc_tokens,
            CAST(1.0 AS DOUBLE) - CAST(agg.n_fp AS DOUBLE) / agg.n_docs
              AS exact_dup_frac,
            q.sum_quality / agg.n_docs AS mean_quality,
            CAST(u.n_unknown AS DOUBLE) / agg.n_docs AS unknown_lang_frac
          FROM agg CROSS JOIN q CROSS JOIN u"""),
    // one-row "does this corpus look like language" gauge
    key("q_zipf", (s, d) =>
      TextAnalysis.zipfFit(Tables.documents(s, d), ZipfTopK))(
      s"""WITH tk AS (SELECT doc_id, $ToksSql AS toks FROM documents),
          e AS (SELECT unnest(toks) AS term FROM tk),
          f AS (SELECT term, count(*) AS n_occ FROM e GROUP BY 1),
          nv AS (SELECT count(*) AS n_vocab FROM f),
          top AS (SELECT * FROM f ORDER BY n_occ DESC, term
            LIMIT $ZipfTopK),
          rnk AS (SELECT *, row_number()
            OVER (ORDER BY n_occ DESC, term) AS rank FROM top),
          pts AS (SELECT ln(rank) AS lx, ln(n_occ) AS ly FROM rnk),
          mm AS (SELECT CAST(count(*) AS BIGINT) AS k,
            sum(lx) AS sx, sum(ly) AS sy, sum(lx * ly) AS sxy,
            sum(lx * lx) AS sxx, sum(ly * ly) AS syy FROM pts)
          SELECT nv.n_vocab, mm.k AS n_top_terms,
            -(mm.k * mm.sxy - mm.sx * mm.sy) /
              (mm.k * mm.sxx - mm.sx * mm.sx) AS zipf_alpha,
            ((mm.k * mm.sxy - mm.sx * mm.sy) *
              (mm.k * mm.sxy - mm.sx * mm.sy)) /
              ((mm.k * mm.sxx - mm.sx * mm.sx) *
                (mm.k * mm.syy - mm.sy * mm.sy)) AS r2
          FROM mm CROSS JOIN nv"""),
    // vocabulary-growth twin of q_zipf (Heaps' law over id-grid
    // prefixes; β drift = growth-regime shift)
    key("q_heaps", (s, d) =>
      TextAnalysis.heapsFit(Tables.documents(s, d), HeapsCheckpoints))(
      // Same id-grid bucket rule as the engine (row-local off min/max
      // ids, integer floor division); the OLS moments fold in lx order
      // so the ≤B-point double sums are order-independent on both sides
      s"""WITH tk AS (SELECT doc_id, $ToksSql AS toks FROM documents),
          mb AS (SELECT min(doc_id) AS min_id, max(doc_id) AS max_id
            FROM documents),
          bt AS (SELECT ((doc_id - min_id) * $HeapsCheckpoints)
              // (max_id - min_id + 1) + 1 AS bucket, toks
            FROM tk CROSS JOIN mb),
          tb AS (SELECT bucket, CAST(sum(len(toks)) AS BIGINT) AS tb
            FROM bt GROUP BY 1),
          tm AS (SELECT term, min(bucket) AS bucket FROM
            (SELECT bucket, unnest(toks) AS term FROM bt) GROUP BY term),
          fb AS (SELECT bucket, count(*) AS nw FROM tm GROUP BY 1),
          sp AS (SELECT unnest(range(1, $HeapsCheckpoints + 1)) AS bucket),
          cm AS (SELECT sp.bucket, coalesce(tb.tb, 0) AS tb,
              coalesce(fb.nw, 0) AS nw
            FROM sp LEFT JOIN tb USING (bucket) LEFT JOIN fb USING (bucket)),
          cc AS (SELECT bucket,
              CAST(sum(tb) OVER (ORDER BY bucket) AS BIGINT) AS cum_tokens,
              CAST(sum(nw) OVER (ORDER BY bucket) AS BIGINT) AS cum_vocab
            FROM cm),
          cf AS (SELECT * FROM cc WHERE cum_tokens > 0),
          pts AS (SELECT ln(CAST(cum_tokens AS DOUBLE)) AS lx,
              ln(CAST(cum_vocab AS DOUBLE)) AS ly FROM cf),
          mm AS (SELECT CAST(count(*) AS BIGINT) AS kk,
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list(lx ORDER BY lx)), (x, y) -> x + y) AS sx,
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list(ly ORDER BY lx)), (x, y) -> x + y) AS sy,
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list(lx * ly ORDER BY lx)), (x, y) -> x + y) AS sxy,
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list(lx * lx ORDER BY lx)), (x, y) -> x + y) AS sxx,
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list(ly * ly ORDER BY lx)), (x, y) -> x + y) AS syy
            FROM pts),
          f1 AS (SELECT *, (kk * sxy - sx * sy) / (kk * sxx - sx * sx)
              AS heaps_beta FROM mm),
          f2 AS (SELECT heaps_beta,
              (sy - heaps_beta * sx) / kk AS heaps_lnk,
              ((kk * sxy - sx * sy) * (kk * sxy - sx * sy)) /
                ((kk * sxx - sx * sx) * (kk * syy - sy * sy)) AS r2
            FROM f1)
          SELECT bucket AS checkpoint, cum_tokens, cum_vocab,
            heaps_beta, heaps_lnk, r2
          FROM cf CROSS JOIN f2 ORDER BY 1"""),
    // quality drift across ingestion order (id-grid buckets + OLS)
    key("q_quality_trend", (s, d) =>
      TextAnalysis.qualityTrend(Tables.documents(s, d),
        QualityTrendBuckets))(
      // Same id-grid buckets as q_heaps, same ordered-fold OLS moments;
      // scores quantize to integer micro-units before the bucket sum so
      // the per-bucket mean is shuffle-order-exact
      s"""WITH $QualityScoreCtes,
          mb AS (SELECT min(doc_id) AS min_id, max(doc_id) AS max_id
            FROM documents),
          qb AS (SELECT ((doc_id - min_id) * $QualityTrendBuckets)
              // (max_id - min_id + 1) + 1 AS bucket,
              CAST(floor(quality_score * 1000000 + 0.5) AS BIGINT) AS qm
            FROM qsc CROSS JOIN mb WHERE quality_score IS NOT NULL),
          per AS (SELECT bucket, count(*) AS n_docs,
              CAST(sum(qm) AS BIGINT) AS s FROM qb GROUP BY 1),
          pm AS (SELECT bucket, n_docs,
              CAST(s AS DOUBLE) / n_docs / 1000000.0 AS mean_quality
            FROM per),
          mm AS (SELECT CAST(count(*) AS BIGINT) AS kk,
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list(CAST(bucket AS DOUBLE) ORDER BY bucket)),
                (x, y) -> x + y) AS sx,
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list(mean_quality ORDER BY bucket)), (x, y) -> x + y) AS sy,
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list(CAST(bucket AS DOUBLE) * mean_quality
                  ORDER BY bucket)), (x, y) -> x + y) AS sxy,
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list(CAST(bucket AS DOUBLE) * CAST(bucket AS DOUBLE)
                  ORDER BY bucket)), (x, y) -> x + y) AS sxx,
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list(mean_quality * mean_quality ORDER BY bucket)),
                (x, y) -> x + y) AS syy
            FROM pm),
          f1 AS (SELECT *, (kk * sxy - sx * sy) / (kk * sxx - sx * sx)
              AS slope FROM mm),
          f2 AS (SELECT slope, (sy - slope * sx) / kk AS intercept,
              ((kk * sxy - sx * sy) * (kk * sxy - sx * sy)) /
                ((kk * sxx - sx * sx) * (kk * syy - sy * sy)) AS r2
            FROM f1)
          SELECT bucket AS checkpoint, CAST(n_docs AS BIGINT) AS n_docs,
            mean_quality, slope, intercept, r2
          FROM pm CROSS JOIN f2 ORDER BY 1"""),
    key("q_bpe_pairs", (s, d) =>
      TextAnalysis.bpePairs(Tables.documentsFloored(s, d), BpeTopN))(
      // Pair construction identical to the repetition oracle's bigram
      // CTE (1-based range over toks).
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
          p AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 2 THEN
              list_transform(range(1, len(toks)),
                i -> toks[i] || ' ' || toks[i + 1])
            ELSE CAST([] AS VARCHAR[]) END) AS pair FROM t)
          SELECT pair, count(*) AS n_occ,
            count(DISTINCT doc_id) AS n_docs
          FROM p GROUP BY pair
          ORDER BY n_occ DESC, pair LIMIT $BpeTopN"""),
    key("q_bpe_train", (s, d) =>
      TextAnalysis.bpeTrain(Tables.documentsFloored(s, d), BpeMerges))({
      // the merge loop replayed round-by-round: each unrolled step's
      // 1-row argmax is that round's merge, ties (w desc, a, b)
      val out = (0 until BpeMerges).map { k =>
        s"""SELECT $k AS merge_ix, a AS "left", b AS "right",
            a || b AS merged, w AS pair_weight FROM m$k"""
      }.mkString("\n          UNION ALL ")
      s"""WITH $BpeVocabCtes
          $out
          ORDER BY merge_ix"""
    }),
    // Bloom-pruned exact increment probe: same IncrementMod/Rem split
    // as q_dedup_incremental; the oracle replays plain exact semantics
    // (the bloom only prunes — a false negative would fail the gate).
    // staleness verdict for the published dedup index: the live
    // corpus (post-increment) vs the snapshot the index was built
    // from — rebuild when drift exceeds the pinned thresholds
    key("q_index_staleness", (s, d) => {
      val docs = Tables.documents(s, d)
      val idxFp = docs
        .where(pmod(col("doc_id"), lit(IncrementMod)) =!= IncrementRem)
        .select(md5(graft.functions.TextFunctions.normText(col("text")))
          .as("fp"))
      NearDup.indexStaleness(docs, idxFp)
    })(
      // the index-vs-live fingerprint-set diff: one full-outer join on
      // the md5, one global row; thresholds ride as literal columns
      s"""WITH cur AS (SELECT DISTINCT md5($NormSql) AS fp FROM documents),
          idx AS (SELECT DISTINCT md5($NormSql) AS fp FROM documents
            WHERE doc_id % $IncrementMod <> $IncrementRem),
          j AS (SELECT c.fp AS cfp, i.fp AS ifp
            FROM cur c FULL JOIN idx i ON c.fp = i.fp),
          g AS (SELECT CAST(count(ifp) AS BIGINT) AS n_index_fp,
              CAST(count(cfp) AS BIGINT) AS n_corpus_fp,
              CAST(count(*) FILTER (WHERE cfp IS NOT NULL AND ifp IS NULL)
                AS BIGINT) AS n_new_fp,
              CAST(count(*) FILTER (WHERE ifp IS NOT NULL AND cfp IS NULL)
                AS BIGINT) AS n_gone_fp
            FROM j),
          r AS (SELECT *,
              CAST(n_new_fp AS DOUBLE) / nullif(n_corpus_fp, 0)
                AS new_frac,
              CAST(n_gone_fp AS DOUBLE) / nullif(n_index_fp, 0)
                AS gone_frac,
              CAST(${NearDup.StaleNewFracMax} AS DOUBLE) AS max_new_frac,
              CAST(${NearDup.StaleGoneFracMax} AS DOUBLE) AS max_gone_frac
            FROM g)
          SELECT *, (coalesce(new_frac > max_new_frac, FALSE)
            OR coalesce(gone_frac > max_gone_frac, FALSE)) AS stale
          FROM r"""),
    key("q_tfidf", (s, d) =>
      TextAnalysis.tfidf(Tables.documents(s, d), TfidfPerDoc))(
      s"""WITH tk AS (SELECT doc_id, $ToksSql AS toks FROM documents),
          e AS (SELECT doc_id, unnest(toks) AS term FROM tk),
          tf AS (SELECT doc_id, term, count(*) AS tf FROM e GROUP BY 1, 2),
          dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
          nd AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs
            FROM documents),
          sc AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
              tf.tf * (nd.n_docs / dfq.df) AS tfidf
            FROM tf JOIN dfq USING (term) CROSS JOIN nd),
          rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
              ORDER BY tfidf DESC, term) AS INTEGER) AS rk FROM sc)
          SELECT doc_id, term, tf, df, tfidf, rk FROM rk
          WHERE rk <= $TfidfPerDoc ORDER BY doc_id, rk"""),
    key("q_inverted_index", (s, d) =>
      TextAnalysis.invertedIndex(Tables.documentsFloored(s, d), IndexMinDf,
        IndexTopPostings))(
      // tf replayed with the plain exploded GROUP BY (row-local vs
      // shuffled formulations agree exactly); postings via the
      // row_number window the heap aggregate replaces, same (tf desc,
      // doc asc) tiebreak.
      s"""WITH tk AS (SELECT doc_id, $ToksSql AS toks FROM documents),
          e AS (SELECT doc_id, unnest(toks) AS term FROM tk),
          tf AS (SELECT doc_id, term, count(*) AS tf FROM e GROUP BY 1, 2),
          r AS (SELECT *, row_number() OVER (PARTITION BY term
              ORDER BY tf DESC, doc_id) AS rk FROM tf),
          top AS (SELECT term, string_agg(doc_id || ':' || tf, ','
              ORDER BY tf DESC, doc_id) AS top_postings
            FROM r WHERE rk <= $IndexTopPostings GROUP BY term),
          s AS (SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT)
              AS total_tf
            FROM tf GROUP BY term)
          SELECT s.term, s.df, s.total_tf, top.top_postings
          FROM s JOIN top USING (term)
          WHERE s.df >= $IndexMinDf ORDER BY s.term"""),
    key("q_lm_score", (s, d) => TextAnalysis.lmScore(Tables.documents(s, d)))(
      s"""WITH tk AS (SELECT doc_id, $ToksSql AS toks FROM documents),
          e AS (SELECT doc_id, unnest(toks) AS term FROM tk),
          tfreq AS (SELECT term, count(*) AS cnt FROM e GROUP BY 1),
          tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM tfreq),
          agg AS (SELECT e.doc_id, count(*) AS n_toks,
              CAST(sum(tfreq.cnt) AS BIGINT) AS sum_cnt
            FROM e JOIN tfreq USING (term) GROUP BY 1)
          SELECT doc_id, n_toks, sum_cnt,
            CAST(sum_cnt AS DOUBLE) / n_toks AS mean_term_freq,
            CAST(sum_cnt AS DOUBLE) / (n_toks * total) AS typicality
          FROM agg CROSS JOIN tot ORDER BY doc_id"""),
    // Boilerplate is PLANTED deterministically like the PII above (the
    // synthetic corpus has no URLs/markup) and mirrored in the oracle.
    key("q_text_clean", (s, d) =>
      TextAnalysis.cleanText(
        TextAnalysis.plantNoise(Tables.documentsFloored(s, d))))(
      // Planted boilerplate mirrored verbatim from TextAnalysis.plantNoise;
      // patterns in the RE2 ∩ Java subset like the PII oracle above.
      s"""WITH planted AS (SELECT doc_id,
            CASE WHEN doc_id % ${TextAnalysis.CleanPlantEvery} = 0 THEN
              text || ' see https://ex' || doc_id ||
              '.com/a?q=1  and <div class="x">tagged</div>  end'
            ELSE text END AS text
          FROM documents),
          c AS (SELECT doc_id,
            CAST(len(regexp_extract_all(text, '${TextAnalysis.UrlRe}')) AS BIGINT) AS url_count,
            CAST(len(regexp_extract_all(text, '${TextAnalysis.TagRe}')) AS BIGINT) AS tag_count,
            CAST(length(text) AS BIGINT) AS len_before,
            trim(regexp_replace(regexp_replace(regexp_replace(text,
              '${TextAnalysis.UrlRe}', ' ', 'g'),
              '${TextAnalysis.TagRe}', ' ', 'g'),
              '[ \t\n\r]+', ' ', 'g')) AS cleaned
          FROM planted)
          SELECT doc_id, url_count, tag_count, len_before,
            CAST(length(cleaned) AS BIGINT) AS len_after, cleaned
          FROM c ORDER BY doc_id"""),
    // Mixed composed/decomposed Unicode planted like the PII/noise
    // above; normalization via the native graft_nfc expression.
    key("q_unicode_norm", (s, d) =>
      TextAnalysis.unicodeNormalize(
        TextAnalysis.plantUnicode(Tables.documents(s, d))))(
      // chr(769) = U+0301 combining acute (decomposed), chr(233) = é
      // composed; java.text.Normalizer NFC == DuckDB nfc_normalize
      // (both implement the Unicode standard algorithm).
      s"""WITH planted AS (SELECT doc_id,
            CASE WHEN doc_id % ${TextAnalysis.UnicodePlantMod} = 0 THEN
              text || ' caf' || 'e' || chr(769)
            WHEN doc_id % ${TextAnalysis.UnicodePlantMod} = 1 THEN
              text || ' caf' || chr(233)
            ELSE text END AS text FROM documents),
          n AS (SELECT doc_id, text, nfc_normalize(text) AS nfc
            FROM planted)
          SELECT doc_id,
            CASE WHEN text IS NULL THEN NULL
                 WHEN text = nfc THEN 0 ELSE 1 END AS changed,
            length(text) AS len_before, length(nfc) AS len_after,
            md5(nfc) AS norm_fp
          FROM n ORDER BY doc_id"""),
    key("q_source_overlap", (s, d) =>
      TextAnalysis.sourceVocabOverlap(Tables.documents(s, d)))(
      // Distinct (source, term) then a term-keyed self-join; union size
      // by inclusion-exclusion, one bigint division per pair.
      s"""WITH tk AS (SELECT source, $ToksSql AS toks FROM documents),
          e AS (SELECT source, unnest(toks) AS term FROM tk),
          st AS (SELECT DISTINCT source, term FROM e),
          sz AS (SELECT source, count(*) AS vocab FROM st GROUP BY 1),
          i AS (SELECT a.source AS source_a, b.source AS source_b,
            count(*) AS n_shared
            FROM st a JOIN st b ON a.term = b.term AND a.source < b.source
            GROUP BY 1, 2)
          SELECT source_a, source_b, sa.vocab AS vocab_a,
            sb.vocab AS vocab_b, n_shared,
            CAST(n_shared AS DOUBLE) /
              (sa.vocab + sb.vocab - n_shared) AS jaccard
          FROM i JOIN sz sa ON sa.source = i.source_a
            JOIN sz sb ON sb.source = i.source_b
          ORDER BY 1, 2"""),
    // per-source unigram KL vs the corpus over the top-K simplex
    key("q_source_kl", (s, d) =>
      TextAnalysis.sourceKl(Tables.documents(s, d), KlTopTerms))(
      // Top-K + __other__ bucketed simplex; probabilities are single
      // divisions of exact counts and the KL folds in bucket order.
      s"""WITH tk AS (SELECT source, $ToksSql AS toks FROM documents),
          e AS (SELECT source, unnest(toks) AS term FROM tk),
          tf AS (SELECT source, term, CAST(count(*) AS BIGINT) AS cnt
            FROM e GROUP BY source, term),
          corpus AS (SELECT term, CAST(sum(cnt) AS BIGINT) AS ct
            FROM tf GROUP BY term),
          tt AS (SELECT term FROM corpus
            ORDER BY ct DESC, term LIMIT $KlTopTerms),
          b AS (SELECT source,
              CASE WHEN tt.term IS NOT NULL THEN tf.term
                ELSE '__other__' END AS bucket, cnt
            FROM tf LEFT JOIN tt ON tf.term = tt.term),
          bk AS (SELECT source, bucket, CAST(sum(cnt) AS BIGINT) AS n_st
            FROM b GROUP BY source, bucket),
          bt AS (SELECT bucket, CAST(sum(n_st) AS BIGINT) AS n_t
            FROM bk GROUP BY bucket),
          btt AS (SELECT bucket, n_t,
            CAST(sum(n_t) OVER () AS BIGINT) AS tot_c FROM bt),
          j AS (SELECT source, bk.bucket, n_st,
              CAST(sum(n_st) OVER (PARTITION BY source) AS BIGINT) AS tot_s,
              n_t, tot_c
            FROM bk JOIN btt ON bk.bucket = btt.bucket),
          p AS (SELECT source, bucket, n_st,
              CAST(n_st AS DOUBLE) / tot_s AS ps,
              CAST(n_t AS DOUBLE) / tot_c AS pc
            FROM j),
          c AS (SELECT source, bucket, n_st, ps * ln(ps / pc) AS contrib
            FROM p)
          SELECT source, CAST(count(*) AS BIGINT) AS n_buckets,
            CAST(sum(n_st) AS BIGINT) AS n_tokens,
            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list(contrib ORDER BY bucket)), (x, y) -> x + y)
              AS kl_vs_corpus
          FROM c GROUP BY source ORDER BY source"""),
    key("q_ttr", (s, d) =>
      TextAnalysis.lexicalDiversity(Tables.documents(s, d)))(
      // One (source, term) aggregate; ratios single divisions of exact
      // bigint counts (count(*) FILTER = the engine's count(when)).
      s"""WITH tk AS (SELECT source, $ToksSql AS toks FROM documents),
          e AS (SELECT source, unnest(toks) AS term FROM tk),
          tf AS (SELECT source, term, count(*) AS nn
            FROM e GROUP BY source, term),
          s AS (SELECT source, CAST(sum(nn) AS BIGINT) AS n_tokens,
            CAST(count(*) AS BIGINT) AS n_types,
            CAST(count(*) FILTER (WHERE nn = 1) AS BIGINT) AS n_hapax
          FROM tf GROUP BY source)
          SELECT source, n_tokens, n_types, n_hapax,
            CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS ttr,
            CAST(n_types AS DOUBLE) / sqrt(CAST(n_tokens AS DOUBLE))
              AS guiraud_r,
            CAST(n_hapax AS DOUBLE) / CAST(n_types AS DOUBLE)
              AS hapax_share
          FROM s ORDER BY source"""),
    key("q_entropy", (s, d) =>
      TextAnalysis.tokenEntropy(Tables.documents(s, d)))(
      // Per-doc term-ordered n·ln n fold → fixed-shape H → micro-nat
      // quantization; source rollup is exact bigint sums.
      s"""WITH tk AS (SELECT source, doc_id, $ToksSql AS toks
            FROM documents),
          e AS (SELECT source, doc_id, unnest(toks) AS term FROM tk),
          tf AS (SELECT source, doc_id, term, count(*) AS nn
            FROM e GROUP BY 1, 2, 3),
          c AS (SELECT source, doc_id, term, nn,
            CAST(nn AS DOUBLE) * ln(CAST(nn AS DOUBLE)) AS contrib
          FROM tf),
          d AS (SELECT source, doc_id, CAST(sum(nn) AS BIGINT) AS n_toks,
            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list(contrib ORDER BY term)), (x, y) -> x + y) AS nlogn
          FROM c GROUP BY 1, 2),
          h AS (SELECT source, CAST(floor((ln(CAST(n_toks AS DOUBLE)) -
              nlogn / CAST(n_toks AS DOUBLE)) * 1000000.0 + 0.5)
              AS BIGINT) AS hq
          FROM d)
          SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(hq) AS DOUBLE) / count(*) / 1000000.0
              AS mean_entropy,
            CAST(min(hq) AS DOUBLE) / 1000000.0 AS min_entropy,
            CAST(max(hq) AS DOUBLE) / 1000000.0 AS max_entropy
          FROM h GROUP BY source ORDER BY source"""),
    // micro-nat-ranked PMI collocations with a min-count floor
    key("q_pmi_bigrams", (s, d) =>
      TextAnalysis.pmiBigrams(Tables.documentsFloored(s, d), PmiMinCount,
        PmiTopN))(
      // Parallel-unnest adjacent pairs + unigram/total CTEs; PMI in the
      // engine's left-assoc double order, micro-nat-quantized rank cut.
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
          u AS (SELECT unnest(toks) AS term FROM t),
          uni AS (SELECT term, CAST(count(*) AS BIGINT) AS n_term
            FROM u GROUP BY 1),
          tu AS (SELECT CAST(sum(n_term) AS BIGINT) AS nn FROM uni),
          tp AS (SELECT CAST(sum(greatest(len(toks) - 1, 0)) AS BIGINT)
            AS np FROM t),
          p AS (SELECT
            unnest(list_transform(range(1, len(toks)), i -> toks[i]))
              AS t1,
            unnest(list_transform(range(1, len(toks)), i -> toks[i + 1]))
              AS t2
          FROM t WHERE len(toks) >= 2),
          co AS (SELECT t1, t2, CAST(count(*) AS BIGINT) AS n_pair
            FROM p GROUP BY 1, 2 HAVING count(*) >= $PmiMinCount),
          j AS (SELECT co.t1, co.t2, n_pair, a.n_term AS n_t1,
            b.n_term AS n_t2, nn, np
          FROM co JOIN uni a ON co.t1 = a.term
          JOIN uni b ON co.t2 = b.term CROSS JOIN tu CROSS JOIN tp)
          SELECT t1, t2, n_pair, n_t1, n_t2,
            CAST(floor(ln((CAST(n_pair AS DOUBLE) * CAST(nn AS DOUBLE) *
                CAST(nn AS DOUBLE)) /
              (CAST(np AS DOUBLE) * CAST(n_t1 AS DOUBLE) *
                CAST(n_t2 AS DOUBLE))) * 1000000.0 + 0.5) AS BIGINT)
              AS pmi_micro
          FROM j ORDER BY pmi_micro DESC, t1, t2 LIMIT $PmiTopN"""),
    // exact-dedup ROI in docs AND tokens per source
    key("q_dedup_savings", (s, d) =>
      TextAnalysis.dedupSavings(Tables.documents(s, d)))(
      // Fingerprint-window dup flags (q_dedup_exact contract) rolled to
      // source grain in docs AND tokens; guarded pct division.
      s"""WITH f AS (SELECT source, doc_id, md5($NormSql) AS fp,
            len($ToksSql) AS n_toks FROM documents),
          s AS (SELECT source, n_toks, CASE WHEN doc_id <>
              min(doc_id) OVER (PARTITION BY fp) THEN 1 ELSE 0 END
            AS dup FROM f)
          SELECT source, count(*) AS n_docs,
            CAST(count(*) FILTER (WHERE dup = 1) AS BIGINT) AS n_dupes,
            CAST(sum(n_toks) AS BIGINT) AS tokens_total,
            CAST(sum(CASE WHEN dup = 1 THEN n_toks ELSE 0 END)
              AS BIGINT) AS tokens_dropped,
            CAST(sum(CASE WHEN dup = 1 THEN n_toks ELSE 0 END)
                AS DOUBLE) /
              CAST(greatest(sum(n_toks), 1) AS DOUBLE)
              AS pct_tokens_dropped
          FROM s GROUP BY source ORDER BY source"""),
    // first-k-token template families (exact-dedup blind spot)
    key("q_prefix_templates", (s, d) =>
      TextAnalysis.prefixTemplates(Tables.documents(s, d), PrefixK,
        PrefixMinDocs, PrefixTopN))(
      // Row-local first-k-token md5 + HAVING floor + deterministic
      // (n_docs desc, fp) cut.
      s"""WITH t AS (SELECT doc_id, source, $ToksSql AS toks
            FROM documents),
          p AS (SELECT doc_id, source,
            md5(array_to_string(list_slice(toks, 1, $PrefixK), ' '))
              AS prefix_fp,
            CAST(len(toks) AS BIGINT) AS n_toks
          FROM t WHERE len(toks) > 0),
          g AS (SELECT prefix_fp, count(*) AS n_docs,
            CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
            CAST(sum(n_toks) AS BIGINT) AS total_tokens,
            min(doc_id) AS example_doc
          FROM p GROUP BY 1 HAVING count(*) >= $PrefixMinDocs)
          SELECT prefix_fp, n_docs, n_sources, total_tokens, example_doc
          FROM g ORDER BY n_docs DESC, prefix_fp LIMIT $PrefixTopN"""),
    // dup-family size-magnitude histogram
    key("q_dup_cluster_hist", (s, d) =>
      TextAnalysis.dupClusterHist(Tables.documents(s, d)))(
      // Fingerprint-size groups (>=2) onto the magnitude grid.
      s"""WITH f AS (SELECT md5($NormSql) AS fp FROM documents),
          g AS (SELECT fp, count(*) AS sz FROM f GROUP BY 1
            HAVING count(*) >= 2)
          SELECT CAST(length(CAST(sz AS VARCHAR)) AS BIGINT)
              AS size_digits,
            count(*) AS n_clusters, CAST(sum(sz) AS BIGINT) AS n_docs,
            CAST(sum(sz) - count(*) AS BIGINT) AS n_redundant,
            min(sz) AS min_size, max(sz) AS max_size
          FROM g GROUP BY 1 ORDER BY 1"""),
    // per-source character-class composition shares
    key("q_char_profile", (s, d) =>
      TextAnalysis.charProfile(Tables.documents(s, d)))(
      // Class-stripped length counts (alpha on LOWERCASED text, the
      // explicit whitespace class), exact sums, guarded shares.
      """WITH d AS (SELECT source,
            CAST(length(text) AS BIGINT) AS t,
            CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
              AS BIGINT) AS a,
            CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
              AS BIGINT) AS d2,
            CAST(length(regexp_replace(text, '[^ \t\n\r]', '', 'g'))
              AS BIGINT) AS s
          FROM documents),
          g AS (SELECT source, count(*) AS n_docs,
            CAST(sum(t) AS BIGINT) AS n_chars,
            CAST(sum(a) AS BIGINT) AS n_alpha,
            CAST(sum(d2) AS BIGINT) AS n_digit,
            CAST(sum(s) AS BIGINT) AS n_space
          FROM d GROUP BY 1)
          SELECT source, n_docs, n_chars, n_alpha, n_digit, n_space,
            n_chars - n_alpha - n_digit - n_space AS n_other,
            CAST(n_alpha AS DOUBLE) /
              CAST(greatest(n_chars, 1) AS DOUBLE) AS alpha_share,
            CAST(n_digit AS DOUBLE) /
              CAST(greatest(n_chars, 1) AS DOUBLE) AS digit_share,
            CAST(n_chars - n_alpha - n_digit - n_space AS DOUBLE) /
              CAST(greatest(n_chars, 1) AS DOUBLE) AS other_share
          FROM g ORDER BY source"""),
    // clamped token-length histogram with cumulative share
    key("q_token_lengths", (s, d) =>
      TextAnalysis.tokenLengths(Tables.documents(s, d)))(
      // Clamped length grid; share + running share off window sums.
      s"""WITH tk AS (SELECT $ToksSql AS toks FROM documents),
          e AS (SELECT unnest(toks) AS term FROM tk),
          g AS (SELECT CAST(least(length(term), 16) AS BIGINT)
              AS len_bucket, count(*) AS n_tokens
            FROM e GROUP BY 1)
          SELECT len_bucket, n_tokens,
            CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER () AS share,
            CAST(sum(n_tokens) OVER (ORDER BY len_bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS DOUBLE) / sum(n_tokens) OVER () AS cum_share
          FROM g ORDER BY len_bucket"""),
    // per-source Zipf alpha (rank-ordered OLS folds)
    key("q_zipf_by_source", (s, d) =>
      TextAnalysis.zipfBySource(Tables.documents(s, d), ZipfTopK))(
      // Per-source rank window + rank-ORDERED list folds (the B-point
      // OLS discipline); nullif guards mirror the engine.
      s"""WITH tk AS (SELECT source, $ToksSql AS toks FROM documents),
          e AS (SELECT source, unnest(toks) AS term FROM tk),
          f AS (SELECT source, term, CAST(count(*) AS BIGINT) AS n_occ
            FROM e GROUP BY 1, 2),
          nv AS (SELECT source, count(*) AS n_vocab FROM f GROUP BY 1),
          r AS (SELECT source, term, n_occ, row_number() OVER (
              PARTITION BY source ORDER BY n_occ DESC, term) AS rnk
            FROM f),
          p AS (SELECT source, rnk,
            ln(CAST(rnk AS DOUBLE)) AS lx,
            ln(CAST(n_occ AS DOUBLE)) AS ly
          FROM r WHERE rnk <= $ZipfTopK),
          m AS (SELECT source, count(*) AS k,
            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list(lx ORDER BY rnk)), (x, y) -> x + y) AS sx,
            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list(ly ORDER BY rnk)), (x, y) -> x + y) AS sy,
            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list(lx * ly ORDER BY rnk)), (x, y) -> x + y) AS sxy,
            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list(lx * lx ORDER BY rnk)), (x, y) -> x + y) AS sxx,
            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list(ly * ly ORDER BY rnk)), (x, y) -> x + y) AS syy
          FROM p GROUP BY 1)
          SELECT m.source, n_vocab, k AS n_top_terms,
            -(k * sxy - sx * sy) /
              nullif(k * sxx - sx * sx, 0.0) AS zipf_alpha,
            ((k * sxy - sx * sy) * (k * sxy - sx * sy)) /
              nullif((k * sxx - sx * sx) * (k * syy - sy * sy), 0.0)
              AS r2
          FROM m JOIN nv ON m.source = nv.source
          ORDER BY m.source"""),
    key("q_readability", (s, d) =>
      TextAnalysis.readabilityBands(Tables.documents(s, d)))(
      // Row-local integer counts → fixed-shape IEEE Flesch score →
      // banding CASE; the aggregate is a (source, band) grid count.
      s"""WITH d AS (SELECT source,
            len($ToksSql) AS words,
            greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS sents,
            len(regexp_extract_all(lower(text), '[aeiouy]+')) AS sylls
          FROM documents),
          b AS (SELECT source, CASE WHEN words = 0 THEN 'unscorable'
              WHEN 206.835 - 1.015 * (CAST(words AS DOUBLE) /
                  CAST(sents AS DOUBLE)) -
                84.6 * (CAST(sylls AS DOUBLE) / CAST(words AS DOUBLE))
                >= 70.0 THEN 'easy'
              WHEN 206.835 - 1.015 * (CAST(words AS DOUBLE) /
                  CAST(sents AS DOUBLE)) -
                84.6 * (CAST(sylls AS DOUBLE) / CAST(words AS DOUBLE))
                >= 50.0 THEN 'standard'
              WHEN 206.835 - 1.015 * (CAST(words AS DOUBLE) /
                  CAST(sents AS DOUBLE)) -
                84.6 * (CAST(sylls AS DOUBLE) / CAST(words AS DOUBLE))
                >= 30.0 THEN 'difficult'
              ELSE 'very_difficult' END AS band
          FROM d),
          g AS (SELECT source, band, count(*) AS n_docs
            FROM b GROUP BY source, band)
          SELECT source, band, n_docs,
            CAST(n_docs AS DOUBLE) /
              sum(n_docs) OVER (PARTITION BY source) AS share
          FROM g ORDER BY source, band"""),
    // per-source 3-sigma length-outlier QA
    key("q_length_outliers", (s, d) =>
      TextAnalysis.lengthOutliers(Tables.documents(s, d)))(
      // Source-grain HUGEINT moments join back on the doc grain; the
      // 3-sigma cut is (n*x - S1)^2 > 9*(n*S2 - S1^2), no doubles.
      """WITH m AS (SELECT source, count(*) AS nn,
            sum(CAST(n_chars AS HUGEINT)) AS s1,
            sum(CAST(n_chars AS HUGEINT) * n_chars) AS s2
          FROM documents GROUP BY source)
          SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(count(*) FILTER (WHERE
              (m.nn * d.n_chars - m.s1) * (m.nn * d.n_chars - m.s1) >
              9 * (m.nn * m.s2 - m.s1 * m.s1)) AS BIGINT) AS n_outliers,
            CAST(count(*) FILTER (WHERE
              (m.nn * d.n_chars - m.s1) * (m.nn * d.n_chars - m.s1) >
              9 * (m.nn * m.s2 - m.s1 * m.s1)) AS DOUBLE) / count(*)
              AS outlier_share,
            CAST(min(m.s1) AS DOUBLE) / CAST(min(m.nn) AS DOUBLE)
              AS mean_chars,
            CAST(max(d.n_chars) AS BIGINT) AS max_chars
          FROM documents d JOIN m ON d.source = m.source
          GROUP BY d.source ORDER BY d.source"""),
    // per-source OOV rate vs the top-N corpus vocabulary
    key("q_oov_rate", (s, d) =>
      TextAnalysis.oovRate(Tables.documentsFloored(s, d), VocabTopN))(
      // The q_vocab top-N cut as a membership set; OOV mass and types
      // ride the (source, term) grain, shares single bigint divisions.
      s"""WITH tk AS (SELECT source, $ToksSql AS toks FROM documents),
          e AS (SELECT source, unnest(toks) AS term FROM tk),
          tf AS (SELECT source, term, CAST(count(*) AS BIGINT) AS cnt
            FROM e GROUP BY source, term),
          corpus AS (SELECT term, CAST(sum(cnt) AS BIGINT) AS ct
            FROM tf GROUP BY term),
          tt AS (SELECT term FROM corpus
            ORDER BY ct DESC, term LIMIT $VocabTopN),
          j AS (SELECT tf.source, tf.cnt, tt.term AS hit
            FROM tf LEFT JOIN tt ON tf.term = tt.term)
          SELECT source, CAST(sum(cnt) AS BIGINT) AS n_tokens,
            CAST(coalesce(sum(cnt) FILTER (WHERE hit IS NULL), 0)
              AS BIGINT) AS oov_tokens,
            CAST(coalesce(sum(cnt) FILTER (WHERE hit IS NULL), 0)
              AS DOUBLE) / CAST(sum(cnt) AS DOUBLE) AS oov_share,
            CAST(count(*) AS BIGINT) AS n_types,
            CAST(count(*) FILTER (WHERE hit IS NULL) AS BIGINT)
              AS oov_types,
            CAST(count(*) FILTER (WHERE hit IS NULL) AS DOUBLE) /
              count(*) AS oov_type_share
          FROM j GROUP BY source ORDER BY source"""),
    // head-coverage curve of the bigram distribution
    key("q_ngram_coverage", (s, d) =>
      TextAnalysis.ngramCoverage(Tables.documentsFloored(s, d), CoverageKs))(
      // The q_bpe_pairs bigram CTE; rank/cumsum windows over the top
      // max(k) rows only, each checkpoint reads the cum at its rank.
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
          p AS (SELECT unnest(CASE WHEN len(toks) >= 2 THEN
              list_transform(range(1, len(toks)),
                i -> toks[i] || ' ' || toks[i + 1])
            ELSE CAST([] AS VARCHAR[]) END) AS pair FROM t),
          c AS (SELECT pair, CAST(count(*) AS BIGINT) AS nn
            FROM p GROUP BY pair),
          tot AS (SELECT CAST(sum(nn) AS BIGINT) AS total_occ FROM c),
          r AS (SELECT nn, row_number()
              OVER (ORDER BY nn DESC, pair) AS rk FROM c),
          cumt AS (SELECT CAST(rk AS BIGINT) AS rk,
            CAST(sum(nn) OVER (ORDER BY rk
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum
            FROM r WHERE rk <= ${CoverageKs.max}),
          ks AS (SELECT CAST(unnest([${CoverageKs.mkString(", ")}])
            AS BIGINT) AS k)
          SELECT k, max(rk) AS n_ngrams, max(cum) AS covered_occ,
            tot.total_occ,
            CAST(max(cum) AS DOUBLE) / CAST(tot.total_occ AS DOUBLE)
              AS coverage
          FROM ks JOIN cumt ON cumt.rk <= ks.k CROSS JOIN tot
          GROUP BY k, tot.total_occ ORDER BY k"""),
    // per-source doc-length quartiles + p95 on the integer grid
    key("q_length_bands", (s, d) =>
      TextAnalysis.lengthBands(Tables.documents(s, d)))(
      // (source, n_chars) grid percentiles WITH FREQUENCIES — the
      // q_user_lifespan quantile contract, per source.
      """WITH q AS (SELECT source, count(*) AS n_docs,
            CAST(sum(n_chars) AS BIGINT) AS sum_chars,
            quantile_cont(n_chars, [0.25, 0.5, 0.75, 0.95]) AS ps
          FROM documents GROUP BY source)
          SELECT source, n_docs,
            CAST(sum_chars AS DOUBLE) / n_docs AS mean_chars,
            ps[1] AS p25_chars, ps[2] AS p50_chars,
            ps[3] AS p75_chars, ps[4] AS p95_chars
          FROM q ORDER BY source"""),
    key("q_bigram_lm", (s, d) =>
      TextAnalysis.bigramLmScore(Tables.documents(s, d)))(
      // Integer micro-probability contributions ((10⁶·cb) div cf) make
      // per-doc sums order-independent; the two display divisions run
      // once at the end in the same order on both engines.
      s"""WITH tk AS (SELECT doc_id, $ToksSql AS toks FROM documents),
          p AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 2 THEN
              list_transform(range(1, len(toks)),
                i -> toks[i] || ' ' || toks[i + 1])
            ELSE CAST([] AS VARCHAR[]) END) AS big FROM tk),
          bf AS (SELECT big, CAST(count(*) AS BIGINT) AS cb
            FROM p GROUP BY 1),
          cf AS (SELECT split_part(big, ' ', 1) AS t1,
            CAST(count(*) AS BIGINT) AS cf FROM p GROUP BY 1),
          st AS (SELECT bf.big, (1000000 * bf.cb) // cf.cf AS score
            FROM bf JOIN cf ON cf.t1 = split_part(bf.big, ' ', 1)),
          agg AS (SELECT p.doc_id, count(*) AS n_bigrams,
            CAST(sum(st.score) AS BIGINT) AS sum_score
            FROM p JOIN st USING (big) GROUP BY 1)
          SELECT doc_id, n_bigrams, sum_score,
            CAST(sum_score AS DOUBLE) / 1000000 / n_bigrams AS mean_cond
          FROM agg ORDER BY doc_id"""),
    // Hash-gated via the unrolled merge-chain oracle (BpeVocabCtes);
    // TextSpec pins train+apply segmentations on the training fixture.
    key("q_bpe_apply", (s, d) => {
      val docs = Tables.documents(s, d)
      val merges = TextAnalysis.bpeTrain(docs, BpeMerges).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TextAnalysis.bpeApply(docs, merges)
    })(
      // deploy step: the final unrolled vocab's symbol counts joined
      // back into the token stream at term grain
      s"""WITH $BpeVocabCtes,
          enc AS (SELECT term,
            len(regexp_extract_all(symstr, '\\[([^\\]]+)\\]', 1)) AS n_sym
            FROM v$BpeMerges),
          tk AS (SELECT doc_id, unnest($ToksSql) AS term FROM documents)
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
            CAST(sum(n_sym) AS BIGINT) AS n_symbols,
            CAST(sum(n_sym) AS DOUBLE) / count(*) AS symbols_per_token
          FROM tk JOIN enc USING (term)
          GROUP BY doc_id ORDER BY doc_id"""),
    // per-source quality deciles (source-fair quality floor map)
    key("q_quality_norm", (s, d) =>
      TextAnalysis.qualityNormalize(Tables.documents(s, d)))(
      // ntile over the identical (quality_score, doc_id) total order;
      // NULL-quality docs excluded on both sides (NULL sort order is
      // engine-specific and must not sit inside a rank window)
      s"""WITH $QualityScoreCtes,
          nn AS (SELECT source, doc_id, quality_score FROM qsc
            WHERE quality_score IS NOT NULL),
          dd AS (SELECT source, doc_id, quality_score,
            CAST(ntile(10) OVER (PARTITION BY source
              ORDER BY quality_score, doc_id) AS INTEGER) AS decile
            FROM nn)
          SELECT source, decile, count(*) AS n_docs,
            min(quality_score) AS q_lo, max(quality_score) AS q_hi,
            (CAST(decile AS DOUBLE) - CAST(0.5 AS DOUBLE)) /
              CAST(10.0 AS DOUBLE) AS norm_mid
          FROM dd GROUP BY 1, 2 ORDER BY 1, 2"""),
    // ingestion-bucket top-K term charts with prev-bucket rank deltas
    key("q_trending_terms", (s, d) =>
      TextAnalysis.trendingTerms(Tables.documents(s, d), TrendBuckets,
        TrendTopK))(
      // the oracle replays the PLAIN per-bucket window; the engine's
      // graft_topk τ-prune keeps everything with cnt ≥ the k-th count,
      // so the row_number cut is bit-identical by construction
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
          mb AS (SELECT min(doc_id) AS min_id, max(doc_id) AS max_id
            FROM documents),
          tf AS (SELECT ((doc_id - min_id) * $TrendBuckets) //
              (max_id - min_id + 1) + 1 AS bucket,
            unnest(toks) AS term FROM t, mb),
          c AS (SELECT bucket, term, count(*) AS cnt FROM tf
            GROUP BY 1, 2),
          r AS (SELECT bucket, term, cnt,
            CAST(row_number() OVER (PARTITION BY bucket
              ORDER BY cnt DESC, term) AS INTEGER) AS rnk
            FROM c),
          k AS (SELECT * FROM r WHERE rnk <= $TrendTopK)
          SELECT k.bucket, k.term, k.cnt, k.rnk,
            p.rnk AS prev_rnk,
            p.rnk - k.rnk AS rank_delta
          FROM k LEFT JOIN k p
            ON p.bucket = k.bucket - 1 AND p.term = k.term
          ORDER BY k.bucket, k.rnk"""),
    key("q_search", (s, d) =>
      TextAnalysis.searchTopK(Tables.documents(s, d), SearchTerms, SearchK))({
      val terms = SearchTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH tk AS (SELECT doc_id, $ToksSql AS toks FROM documents),
          ex AS (SELECT doc_id, unnest(toks) AS term FROM tk),
          h AS (SELECT doc_id, term, count(*) AS tf FROM ex
            WHERE term IN ($terms) GROUP BY 1, 2),
          dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM h
            GROUP BY 1),
          nd AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs
            FROM documents),
          sc AS (SELECT h.doc_id, h.term, h.tf,
              h.tf * (nd.n_docs / dfq.df) AS w
            FROM h JOIN dfq USING (term) CROSS JOIN nd),
          ag AS (SELECT doc_id, count(*) AS n_terms,
              CAST(sum(tf) AS BIGINT) AS n_hits,
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list(w ORDER BY term)), (x, y) -> x + y) AS score
            FROM sc GROUP BY 1)
          SELECT doc_id, n_terms, n_hits, score FROM ag
          ORDER BY score DESC, doc_id LIMIT $SearchK"""
    }),
    key("q_search_bm25", (s, d) =>
      TextAnalysis.searchBm25(Tables.documents(s, d), SearchTerms, SearchK))({
      // same hit/df/dl CTEs as the engine; the fold is term-sorted and
      // the k-cut orders by the ROUNDED score (ln is the one libm op —
      // see searchBm25 scaladoc)
      val terms = SearchTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH tk AS (SELECT doc_id, $ToksSql AS toks FROM documents),
          dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM tk),
          st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
            CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
          ex AS (SELECT doc_id, unnest(toks) AS term FROM tk),
          h AS (SELECT doc_id, term, count(*) AS tf FROM ex
            WHERE term IN ($terms) GROUP BY 1, 2),
          dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM h
            GROUP BY 1),
          sc AS (SELECT h.doc_id, h.term, h.tf,
              ln(1.0 + (st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5)) *
                (h.tf * (1.2 + 1)) /
                (h.tf + 1.2 * (CAST(1 AS DOUBLE) - 0.75 +
                  0.75 * dl.dl / st.avgdl)) AS w
            FROM h JOIN dfq USING (term) JOIN dl USING (doc_id)
            CROSS JOIN st),
          ag AS (SELECT doc_id, count(*) AS n_terms,
              CAST(sum(tf) AS BIGINT) AS n_hits,
              round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list(w ORDER BY term)), (x, y) -> x + y), 6) AS score
            FROM sc GROUP BY 1)
          SELECT doc_id, n_terms, n_hits, score FROM ag
          ORDER BY score DESC, doc_id LIMIT $SearchK"""
    }),
    // MRR/precision@k of the BM25 order vs conjunctive containment
    key("q_search_eval", (s, d) =>
      TextAnalysis.searchEval(Tables.documents(s, d), EvalQueries, EvalK))(
      searchEvalOracleSql),
    // NDCG@k under graded (term-count) relevance
    key("q_search_ndcg", (s, d) =>
      TextAnalysis.searchNdcg(Tables.documents(s, d), EvalQueries, EvalK))(
      searchNdcgOracleSql),
    key("q_dedup_best", (s, d) =>
      TextAnalysis.exactDedupBest(Tables.documents(s, d)))(
      s"""WITH $QualityScoreCtes,
          f AS (SELECT doc_id, md5($NormSql) AS fingerprint FROM documents),
          j AS (SELECT f.doc_id, f.fingerprint, qsc.quality_score
            FROM f JOIN qsc USING (doc_id)),
          w AS (SELECT *, first_value(doc_id) OVER (PARTITION BY fingerprint
            ORDER BY quality_score DESC NULLS LAST, doc_id) AS rep_id FROM j)
          SELECT doc_id, fingerprint, quality_score, rep_id,
            CASE WHEN doc_id <> rep_id THEN 1 ELSE 0 END AS is_dup
          FROM w ORDER BY doc_id"""),
    key("q_langid_eval", (s, d) =>
      TextAnalysis.langIdEval(Tables.documentsFloored(s, d)))(
      s"""WITH p AS ($LangIdSql),
          g AS (SELECT lang, lang_pred, count(*) AS n FROM p GROUP BY 1, 2)
          SELECT lang, lang_pred, n,
            CAST(n AS DOUBLE) /
              CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT)
              AS share_of_lang
          FROM g ORDER BY lang, lang_pred""")
  )
}
