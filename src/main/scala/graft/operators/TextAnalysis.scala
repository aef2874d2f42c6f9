package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Text-analysis operators over a documents table (doc_id, text, …):
  * language ID, quality scoring, token counting, fingerprinting and
  * exact deduplication. All single-pass, codegen-friendly column
  * expressions — per-row cost is independent of table size, so the
  * operators scale linearly with a parquet scan at any SF.
  */
object TextAnalysis {

  /** (doc_id, lang, lang_pred, s_de..s_zh): stopword-hit scores per
    * language and the argmax prediction ('unknown' when no hits).
    * Tokens and scores are staged through projections — lambdas don't
    * CSE, so inlining would re-tokenize once per stopword list. */
  def languageId(docs: DataFrame): DataFrame = {
    val langs = stopwords.keys.toSeq.sorted
    val withToks = docs.select(col("doc_id"), col("lang"), tokens(col("text")).as("toks"))
    val withScores = withToks.select(
      Seq(col("doc_id"), col("lang")) ++
        langs.map(l => stopwordHits(col("toks"), stopwords(l)).as(s"s_$l")): _*)
    val scoreRefs = langs.map(l => l -> col(s"s_$l")).toMap
    withScores.select(
      Seq(col("doc_id"), col("lang"), langPred(scoreRefs).as("lang_pred")) ++
        langs.map(l => col(s"s_$l")): _*)
      .orderBy(col("doc_id"))
  }

  /** Language mix per source: predicted-language counts and shares
    * per source plus each source's language ENTROPY — the "src7
    * suddenly went French" drift gauge a per-doc langid can't show.
    * Reuses [[languageId]]'s scoring (same stopword lists, same
    * argmax), so the two views can never disagree. Entropy folds
    * −p·ln p over the ≤ langs-sized per-source mix in lang order (the
    * sorted-array aggregate); everything after the one (source,
    * lang_pred) aggregate is grid-sized. */
  def langMixBySource(docs: DataFrame): DataFrame = {
    val langs = stopwords.keys.toSeq.sorted
    val withToks = docs.select(col("doc_id"), col("source"),
      tokens(col("text")).as("toks"))
    val withScores = withToks.select(
      Seq(col("source")) ++
        langs.map(l => stopwordHits(col("toks"), stopwords(l)).as(s"s_$l")): _*)
    val scoreRefs = langs.map(l => l -> col(s"s_$l")).toMap
    val cnt = withScores
      .select(col("source"), langPred(scoreRefs).as("lang_pred"))
      .groupBy(col("source"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
    val tot = cnt.groupBy(col("source")).agg(sum(col("n")).as("n_src"))
    val sh = cnt.join(tot, "source")
      .withColumn("share", col("n").cast("double") / col("n_src"))
    val ent = sh.groupBy(col("source"))
      .agg(aggregate(
        array_sort(collect_list(struct(col("lang_pred"),
          (-(col("share") * log(col("share")))).as("term")))),
        lit(0.0), (a, x) => a + x.getField("term")).as("source_entropy"))
    sh.join(ent, "source")
      .select(col("source"), col("lang_pred"), col("n"), col("share"),
        col("source_entropy"))
      .orderBy(col("source"), col("lang_pred"))
  }

  /** Quality signals: lengths, token stats, alpha/stopword ratios and
    * a bounded composite score. Pure arithmetic over exact integer
    * counts — deterministic across engines. `passthrough` columns ride
    * along unchanged (e.g. `source` for per-domain capping) so callers
    * needing them don't pay a re-join against the input. */
  def qualityScore(docs: DataFrame,
                   passthrough: Seq[String] = Nil): DataFrame =
    qualityFrame(docs, passthrough).orderBy(col("doc_id"))

  /** [[qualityScore]] without the presentation sort — for callers
    * (per-source capping) that re-partition anyway. */
  private[operators] def qualityFrame(docs: DataFrame,
                                      passthrough: Seq[String]): DataFrame = {
    // token/stopword/alpha counts come from ONE native byte pass
    // ([[graft.functions.QualityCounts]]) instead of the composed
    // tokens()+stopwordHits+regexp_replace three-pass form — same
    // integers by construction (the expression's scaladoc carries the
    // case analysis), and the coalesce(-1) reproduces the legacy
    // size(NULL tokens) = -1 the composed form emitted on NULL text
    docs.select(Seq(col("doc_id"), col("text"),
        call_function("graft_quality_counts",
          (col("text") +: stopwords("en").map(lit)): _*).as("qc"))
        ++ passthrough.map(col): _*)
      .select(
        Seq(col("doc_id"),
        length(col("text")).as("text_len"),
        coalesce(element_at(col("qc"), 1), lit(-1)).as("token_cnt"),
        coalesce(element_at(col("qc"), 2), lit(-1)).as("stop_hits"),
        // nullif guards: empty text / zero tokens → NULL ratios in
        // BOTH engines (DuckDB's IEEE double 0/0 is NaN, Spark's
        // non-ANSI is NULL — without the guard the oracle match is
        // data-dependent)
        (element_at(col("qc"), 3).cast("double") /
          nullif(length(col("text")), lit(0))).as("alpha_ratio"))
        ++ passthrough.map(col): _*)
      .withColumn("stop_ratio",
        col("stop_hits").cast("double") / nullif(col("token_cnt"), lit(0)))
      // no rounding: both engines build the identical IEEE expression
      // tree, so raw doubles match bit-for-bit, while round() exposes
      // half-up vs half-even boundary disagreements
      .withColumn("quality_score",
        least(lit(1.0), col("token_cnt") / lit(100.0)) *
          (lit(0.5) + lit(0.5) * col("stop_ratio")) * col("alpha_ratio"))
  }

  /** Per-source quantile normalization of the composite quality score:
    * each source's docs are ranked within their OWN source and cut
    * into `deciles` equal-population bands — the lookup table that
    * makes a quality floor source-FAIR ("keep everyone's top 60%")
    * instead of absolute (an absolute 0.3 floor can annihilate a
    * source whose whole distribution sits low while waving through
    * another's spam). Per (source, decile): population and the raw
    * score band [q_lo, q_hi], plus the normalized band midpoint
    * (decile−0.5)/deciles every source shares. NULL-quality docs
    * (empty text) are excluded — NULL ordering differs between
    * engines, so they must not sit inside a rank window a hash gate
    * replays.
    *
    * Shape: one quality scan, then an ntile window partitioned by
    * source, the form the oracle runs. The two-phase
    * [[Ranking.groupedRank]] + [[Ranking.ntileExpr]] form of it ran 10
    * jobs against 4 and was slower warm at sf0.1 and at ×10 (CHANGES.md),
    * as it was for q_gini and q_ltv_deciles. Final grid aggregate over
    * sources×deciles cells; min/max per cell are order-independent,
    * so the doubles hash-match; a mean would not. */
  def qualityNormalize(docs: DataFrame, deciles: Int = 10): DataFrame = {
    require(deciles >= 2, s"need at least 2 bands: $deciles")
    val nn = qualityFrame(docs, Seq("source"))
      .where(col("quality_score").isNotNull)
      .select(col("source"), col("doc_id"), col("quality_score"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("quality_score"), col("doc_id"))
    nn.withColumn("decile", ntile(deciles).over(w))
      .groupBy(col("source"), col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("quality_score")).as("q_lo"),
        max(col("quality_score")).as("q_hi"))
      .withColumn("norm_mid",
        (col("decile").cast("double") - lit(0.5)) / lit(deciles.toDouble))
      .orderBy(col("source"), col("decile"))
  }

  /** Trending terms across ingestion order: docs bucket by doc_id
    * range (the id-grid discipline of [[graft.operators.Curation.ingestMix]]),
    * each bucket reports its exact top-`topK` terms by occurrence
    * count, and every term carries its rank in the PREVIOUS bucket
    * (NULL = newly charted) plus the rank delta — the "what is this
    * crawl suddenly full of" drift gauge at term grain, one level
    * finer than [[graft.operators.Curation.ingestMix]]'s source
    * shares. Ties break lexicographically so the chart is
    * row-order-independent.
    *
    * Shape: one (bucket, term) hash aggregate is the only corpus-sized
    * exchange. The top-K cut does NOT window-sort the per-bucket
    * vocabulary (buckets are FEW — a window partitioned by bucket
    * funnels vocab/buckets rows through single reducers): a
    * graft_topk bounded-heap pass finds each bucket's k-th count τ
    * (O(k) state, map-side combined), the broadcast τ prunes the
    * count frame to the ≥τ survivors (≈K + count-ties per bucket),
    * and only those rows pay the exact row_number — bit-identical to
    * the naive window by construction (everything it would keep has
    * cnt ≥ τ). Chart-vs-chart prev-rank join is grid-sized.
    *
    * The id-grid bounds join in LAZILY (a broadcast 1-row aggregate,
    * the same cross-join shape the oracle SQL uses) rather than via
    * an eager driver action: the operator stays a pure plan, and an
    * empty corpus yields an empty chart with the output schema —
    * matching the oracle and every other operator's empty-input
    * contract — instead of throwing at call time. */
  def trendingTerms(docs: DataFrame, buckets: Int = 4,
                    topK: Int = 15): DataFrame = {
    require(buckets >= 2, "need at least 2 buckets for a trend read")
    val b = buckets.toLong
    // 1-row bounds frame; min_id is NULL on an empty corpus, and the
    // isNotNull filter turns that into ZERO rows, so the cross join
    // (broadcast nested loop over one row) propagates emptiness
    val bounds = docs
      .agg(min(col("doc_id")).as("grid_min_id"),
        (max(col("doc_id")) - min(col("doc_id")) + 1L).as("grid_span"))
      .where(col("grid_min_id").isNotNull)
    val tf = docs.crossJoin(broadcast(bounds))
      .select(
        (expr(s"((doc_id - grid_min_id) * $b) div grid_span") + 1L)
          .as("bucket"),
        explode(tokens(col("text"))).as("term"))
      .groupBy(col("bucket"), col("term"))
      .agg(count(lit(1)).as("cnt"))
      .transform(graft.Caches.hold)
    val thr = tf.groupBy(col("bucket"))
      .agg(expr(s"graft_topk(CAST(cnt AS DOUBLE), xxhash64(term), $topK)")
        .as("tk"))
      .select(col("bucket"),
        element_at(col("tk"), least(lit(topK), size(col("tk"))))
          .getField("score").as("tau"))
    val wR = Window.partitionBy(col("bucket"))
      .orderBy(col("cnt").desc, col("term"))
    val ranked = tf.join(broadcast(thr), "bucket")
      .where(col("cnt").cast("double") >= col("tau"))
      .withColumn("rnk", row_number().over(wR))
      .where(col("rnk") <= topK)
      .select(col("bucket"), col("term"), col("cnt"), col("rnk"))
    ranked
      .join(ranked.select(col("bucket").as("pb"), col("term").as("pt"),
        col("rnk").as("prev_rnk")),
        col("bucket") === col("pb") + 1L && col("term") === col("pt"),
        "left")
      .select(col("bucket"), col("term"), col("cnt"), col("rnk"),
        col("prev_rnk"), (col("prev_rnk") - col("rnk")).as("rank_delta"))
      .orderBy(col("bucket"), col("rnk"))
  }

  /** Tokenizer fertility by predicted language: per lang_pred, the
    * corpus totals of whitespace-word tokens, regex word/number
    * tokens (the BPE-ish lower bound) and characters, with
    * fertility = regex/word tokens and chars-per-token ratios — the
    * per-language cost gauge a tokenizer budget is planned from
    * (a language whose fertility drifts up is getting fragmented, and
    * its documents silently cost more context per word). Token budgets
    * per language feed directly into [[graft.operators.Curation]]'s
    * mixture/water-filling planners.
    *
    * One pass: language scores, prediction and all three counts are
    * row-local projections of a single staged scan (the languageId
    * staging discipline — Spark does not CSE inside the prediction
    * CASE, so scores stage first); integer sums at language grain,
    * two guarded divisions at the very end. */
  def fertilityByLanguage(docs: DataFrame): DataFrame = {
    val langs = stopwords.keys.toSeq.sorted
    val staged = docs
      .select(col("doc_id"), col("text"), tokens(col("text")).as("toks"))
      .select(Seq(col("text"), col("toks")) ++
        langs.map(l => stopwordHits(col("toks"), stopwords(l)).as(s"s_$l")): _*)
    staged
      .select(
        langPred(langs.map(l => l -> col(s"s_$l")).toMap).as("lang_pred"),
        size(col("toks")).as("wst"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+"), lit(0)))
          .as("ret"),
        length(col("text")).as("nch"))
      .groupBy(col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"), sum(col("wst")).as("ws_tokens"),
        sum(col("ret")).as("re_tokens"), sum(col("nch")).as("n_chars"))
      .select(col("lang_pred"), col("n_docs"), col("ws_tokens"),
        col("re_tokens"), col("n_chars"),
        (col("re_tokens").cast("double") /
          nullif(col("ws_tokens"), lit(0L))).as("fertility"),
        (col("n_chars").cast("double") /
          nullif(col("re_tokens"), lit(0L))).as("chars_per_token"))
      .orderBy(col("lang_pred"))
  }

  /** Token counts: normalized-whitespace tokens and a regex word/number
    * tokenizer (the BPE-ish lower bound). */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(tokens(col("text"))).as("ws_tokens"),
      size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+"), lit(0)))
        .as("re_tokens"),
      length(col("text")).as("n_chars_calc"))
      .orderBy(col("doc_id"))

  /** Content fingerprint: md5 of the normalized text (identical in any
    * engine with md5) plus the normalized length. */
  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      md5(normText(col("text"))).as("fingerprint"),
      length(normText(col("text"))).as("norm_len"))
      .orderBy(col("doc_id"))

  /** Repetition signals (Gopher-style quality heuristics, Rae et al.
    * 2021 — public thresholds/recipes): duplicate-sentence fraction,
    * duplicate-word fraction, and the fraction of all bigrams taken by
    * the single most frequent bigram. Everything is row-local
    * higher-order array arithmetic over staged token/bigram columns
    * (Spark does not CSE inside lambdas — the staging projections keep
    * the tokenizer from re-running per element), so cost is per-row
    * and the scan stays linear at any corpus size. Integer counts +
    * guarded double ratios → engine-portable. */
  /** NULL-propagating size: this session runs with the legacy
    * size(NULL) = -1 semantics, but the oracles' len(NULL) is NULL —
    * a NULL text row would otherwise emit -1 counts (and even satisfy
    * `< threshold` rules) instead of NULL signals. */
  private def sz(c: Column): Column = when(c.isNotNull, size(c))

  def repetitionSignals(docs: DataFrame): DataFrame =
    repetitionFrame(docs)
      .select(
        col("doc_id"),
        sz(col("lines")).as("n_lines"),
        (lit(1.0) - sz(array_distinct(col("lines"))).cast("double") /
          nullif(sz(col("lines")), lit(0))).as("dup_line_frac"),
        (lit(1.0) - sz(array_distinct(col("toks"))).cast("double") /
          nullif(sz(col("toks")), lit(0))).as("dup_word_frac"),
        topBigramFrac.as("top_bigram_frac"))
      .orderBy(col("doc_id"))

  /** Compression-ratio quality signal: DEFLATE length over raw UTF-8
    * byte length per document, via the codegen'd `graft_deflate_len`
    * expression ([[graft.functions.DeflateLen]]). Templated or
    * repetitive text compresses far below natural prose, so a low
    * ratio flags boilerplate/spam with ONE row-local pass and no
    * vocabulary — the vocabulary-free complement to
    * [[repetitionSignals]]. No SQL oracle (DuckDB has no deflate);
    * gated rows-only with TextSpec pinning determinism, the
    * repetitive-vs-prose ordering, and the raw-length identity.
    * Scale shape: pure per-row map over the scan — no shuffle at all;
    * cost is linear in corpus bytes and embarrassingly parallel. */
  def compressionRatio(docs: DataFrame, flagBelow: Double = 0.3): DataFrame =
    docs.select(col("doc_id"),
      octet_length(col("text")).as("raw_len"),
      call_function("graft_deflate_len", col("text")).as("deflate_len"))
      .withColumn("ratio",
        round(col("deflate_len").cast("double") /
          nullif(col("raw_len"), lit(0)), 6))
      .withColumn("is_templated",
        when(col("ratio").isNotNull, col("ratio") < flagBelow))
      .orderBy(col("doc_id"))

  /** Longest equal run in the sorted bigram array over the total
    * bigram count — evaluated against [[repetitionFrame]]'s staged
    * columns. Guarded: sequence(1, 0) would count DOWN through
    * index 0. */
  private def topBigramFrac: Column =
    when(size(col("starts")) > 0,
      array_max(transform(sequence(lit(1), size(col("starts"))),
        j => element_at(col("starts_ext"), j + 1) -
          element_at(col("starts_ext"), j))))
      .cast("double") / nullif(size(col("bgs")), lit(0))

  /** One staged row-local projection chain shared by
    * [[repetitionSignals]] and [[qualityFilter]] — both consumers read
    * it directly so the tokenizer (the most expensive projection in
    * the text module) runs once and no join is needed to recombine
    * signals that never left the row. */
  private def repetitionFrame(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"), tokens(col("text")).as("toks"))
      .withColumn("lines",
        filter(transform(split(col("text"), "\\."), l => trim(l)), l => l =!= ""))
      .withColumn("bgs",
        when(size(col("toks")) >= 2,
          transform(sequence(lit(1), size(col("toks")) - 1),
            i => concat_ws(" ", element_at(col("toks"), i),
              element_at(col("toks"), i + 1))))
          .otherwise(array().cast("array<string>")))
      // top-bigram count = longest equal run in the SORTED bigram
      // array, found via run-start indices — flat O(n log n) per row.
      // The obvious mode formulation (for each distinct bigram, count
      // its occurrences) is a NESTED higher-order function, O(n²)
      // interpreted lambda calls per row — measured 4× the cost of
      // every other text operator combined at sf0.1.
      .withColumn("sbgs", array_sort(col("bgs")))
      .withColumn("starts",
        when(size(col("sbgs")) > 0,
          filter(sequence(lit(1), size(col("sbgs"))),
            i => (i === 1) || (element_at(col("sbgs"), i) =!=
              element_at(col("sbgs"), greatest(i - 1, lit(1))))))
          .otherwise(array().cast("array<int>")))
      .withColumn("starts_ext",
        concat(col("starts"), array(size(col("sbgs")) + 1)))

  /** Composite keep/drop quality filter over the repetition + quality
    * signals, with the FIRST failing rule named — the end of the
    * text-pipeline funnel (filter → exact dedup → near-dup cluster).
    * Thresholds are Gopher-flavored (Rae et al. 2021 §A1.1), tuned so
    * the gate corpus exercises both outcomes where its synthetic text
    * can (`maxMeanWordLen` 4.8 vs Gopher's 10 — the word-soup corpus
    * never leaves [3.7, 5.3]); the symbol/bullet/ellipsis rules can
    * never fire on a symbol-free corpus and are exercised by planted
    * spec documents instead, while their signal COLUMNS are still
    * oracle-checked on every gate row. NULL text (all signals NULL) is
    * its own rule: every threshold comparison is NULL for such rows,
    * and without the explicit check they would fall through to 'ok' —
    * the most degenerate document kept silently.
    *
    * Signal recipes: mean token length (fold over the staged token
    * array); symbol-to-word ratio ('#' chars + ascii '...' runs over
    * tokens); bullet/ellipsis line fractions over RAW newline-split
    * lines (the '.'-split `lines` used for dup detection would never
    * contain either marker). */
  /** COMPOSITION WARNING: filtering this output on `keep`/`reason`
    * and then dropping the signal columns lets Catalyst push the
    * predicate below the staged projections, inlining the whole
    * tokenize→bigram→sort chain into per-element lambdas (no CSE
    * inside HOFs) — an interpreted, superlinear re-evaluation measured
    * as a >1000× slowdown. Persist (or otherwise materialize) the
    * (doc_id, keep) projection BEFORE filtering, as
    * [[graft.operators.Curation.curationFunnel]] does. */
  def qualityFilter(docs: DataFrame, minTokens: Int = 20,
                    maxDupLineFrac: Double = 0.3,
                    maxTopBigramFrac: Double = 0.08,
                    minStopHits: Int = 1,
                    minMeanWordLen: Double = 3.0,
                    maxMeanWordLen: Double = 4.8,
                    maxSymbolWordRatio: Double = 0.1,
                    maxBulletLineFrac: Double = 0.9,
                    maxEllipsisLineFrac: Double = 0.3): DataFrame =
    qualityFilterUnordered(docs, minTokens, maxDupLineFrac,
      maxTopBigramFrac, minStopHits, minMeanWordLen, maxMeanWordLen,
      maxSymbolWordRatio, maxBulletLineFrac, maxEllipsisLineFrac)
      .orderBy(col("doc_id"))

  /** [[qualityFilter]] without the presentation sort — every signal
    * and the keep/reason verdict is ROW-LOCAL, so this shape runs
    * unchanged on an unbounded stream
    * ([[graft.streaming.EventStream.qualityFilterStream]]). */
  def qualityFilterUnordered(docs: DataFrame, minTokens: Int = 20,
                    maxDupLineFrac: Double = 0.3,
                    maxTopBigramFrac: Double = 0.08,
                    minStopHits: Int = 1,
                    minMeanWordLen: Double = 3.0,
                    maxMeanWordLen: Double = 4.8,
                    maxSymbolWordRatio: Double = 0.1,
                    maxBulletLineFrac: Double = 0.9,
                    maxEllipsisLineFrac: Double = 0.3): DataFrame =
    repetitionFrame(docs)
      // raw newline lines staged once — two line-shape signals read it
      .withColumn("rawlines", when(col("text").isNotNull,
        filter(transform(split(col("text"), "\n"), l => trim(l)), l => l =!= "")))
      .select(
        col("doc_id"),
        sz(col("toks")).as("token_cnt"),
        when(col("toks").isNotNull,
          stopwordHits(col("toks"), stopwords("en"))).as("stop_hits"),
        (lit(1.0) - sz(array_distinct(col("lines"))).cast("double") /
          nullif(sz(col("lines")), lit(0))).as("dup_line_frac"),
        topBigramFrac.as("top_bigram_frac"),
        when(size(col("toks")) > 0,
          aggregate(col("toks"), lit(0), (acc, x) => acc + length(x))
            .cast("double") / size(col("toks"))).as("mean_word_len"),
        (when(col("text").isNotNull,
          size(regexp_extract_all(col("text"), lit("#|\\.\\.\\."), lit(0))))
          .cast("double") / nullif(sz(col("toks")), lit(0)))
          .as("symbol_word_ratio"),
        (sz(filter(col("rawlines"), l => l.rlike("^[-*]"))).cast("double") /
          nullif(sz(col("rawlines")), lit(0))).as("bullet_line_frac"),
        (sz(filter(col("rawlines"), l => l.rlike("\\.\\.\\.$"))).cast("double") /
          nullif(sz(col("rawlines")), lit(0))).as("ellipsis_line_frac"))
      .withColumn("reason",
        when(col("token_cnt").isNull, lit("invalid_text"))
          .when(col("token_cnt") < minTokens, lit("too_short"))
          .when(col("dup_line_frac") > maxDupLineFrac, lit("dup_lines"))
          .when(col("top_bigram_frac") > maxTopBigramFrac, lit("repetitive_bigrams"))
          .when(col("stop_hits") < minStopHits, lit("no_stopwords"))
          .when(col("mean_word_len") < minMeanWordLen ||
            col("mean_word_len") > maxMeanWordLen, lit("word_length"))
          .when(col("symbol_word_ratio") > maxSymbolWordRatio, lit("symbol_heavy"))
          .when(col("bullet_line_frac") > maxBulletLineFrac, lit("bullet_lines"))
          .when(col("ellipsis_line_frac") > maxEllipsisLineFrac,
            lit("ellipsis_lines"))
          .otherwise(lit("ok")))
      .withColumn("keep", (col("reason") === "ok").cast("int"))
      .select(col("doc_id"), col("keep"), col("reason"), col("token_cnt"),
        col("dup_line_frac"), col("top_bigram_frac"), col("stop_hits"),
        col("mean_word_len"), col("symbol_word_ratio"),
        col("bullet_line_frac"), col("ellipsis_line_frac"))

  /** Corpus vocabulary: top-`topN` terms by occurrence (ties broken
    * by term), with corpus-wide occurrence and document frequencies —
    * the word-count table every tokenizer build (BPE init, stopword
    * induction, df-cap tuning) starts from. The doc-frequency distinct
    * makes this the standard two-phase distinct aggregate — an
    * exchange on (term, doc_id) for the dedup, then one on term for
    * the final counts, both with map-side partials; the top-N is a
    * TakeOrdered, never a full vocab sort materialization. */
  def vocabulary(docs: DataFrame, topN: Int): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("n_occ"), countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occ").desc, col("term"))
      .limit(topN)

  /** Per-source unigram KL divergence to the corpus distribution —
    * "which sources read least like the rest of the data", the
    * information-theoretic refinement of [[sourceVocabOverlap]]'s
    * set-level Jaccard (two sources can share every WORD and still
    * use them at wildly different rates). KL(source ‖ corpus) =
    * Σ p_s·ln(p_s/p_c), always finite here because every source term
    * is by construction a corpus term.
    *
    * Scale design: the distribution support is bounded to the top
    * `topTerms` corpus terms plus one residual `__other__` bucket
    * ('_' is outside the token alphabet, so no collision) — an
    * unbounded support would need a per-source fold over the full
    * vocabulary (collect_list of millions of terms at 100 TB), while
    * the bucketed simplex keeps the ordered fold ≤ topTerms+1 rows
    * per source at ANY corpus size, and top-term mass dominates KL in
    * Zipfian text anyway. Work: one (source, term) hash aggregate
    * (the only corpus-sized exchange), a TakeOrdered top-K (heap, no
    * global sort), a broadcast membership join, then grid-sized
    * arithmetic; probabilities are single divisions of exact bigint
    * counts and the KL sum folds in bucket order so both engines add
    * identically. */
  def sourceKl(docs: DataFrame, topTerms: Int = 2000): DataFrame = {
    val tf = docs
      .select(col("source"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("cnt"))
    val top = tf.groupBy(col("term")).agg(sum(col("cnt")).as("ct"))
      .orderBy(col("ct").desc, col("term")).limit(topTerms)
      .select(col("term"), lit(1).as("in_top"))
    val bucketed = tf.join(broadcast(top), Seq("term"), "left")
      .select(col("source"),
        when(col("in_top").isNotNull, col("term"))
          .otherwise(lit("__other__")).as("bucket"),
        col("cnt"))
      .groupBy(col("source"), col("bucket")).agg(sum(col("cnt")).as("n_st"))
    val wc = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val bt = bucketed.groupBy(col("bucket")).agg(sum(col("n_st")).as("n_t"))
      .withColumn("tot_c", sum(col("n_t")).over(wc))
    val ws = Window.partitionBy(col("source"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val contrib = bucketed
      .withColumn("tot_s", sum(col("n_st")).over(ws))
      .join(broadcast(bt), "bucket")
      .withColumn("ps", col("n_st").cast("double") / col("tot_s"))
      .withColumn("pc", col("n_t").cast("double") / col("tot_c"))
      .withColumn("contrib", col("ps") * log(col("ps") / col("pc")))
    contrib.groupBy(col("source"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("n_st")).as("n_tokens"),
        aggregate(array_sort(collect_list(struct(col("bucket"),
          col("contrib")))), lit(0.0),
          (a, x) => a + x.getField("contrib")).as("kl_vs_corpus"))
      .orderBy(col("source"))
  }

  /** Per-source token-entropy profile: each doc's Shannon entropy
    * over its own unigram distribution — H = ln N − (Σ n·ln n)/N —
    * then exact per-source mean/min/max of the MICRO-QUANTIZED
    * per-doc score. Low-entropy docs are templated/repetitive (the
    * information-theoretic cousin of the Gopher repetition signals
    * and the exactly-oracle-able stand-in for the deflate gauge);
    * a source whose mean entropy sags is boilerplate farming.
    *
    * Determinism: the per-doc Σ n·ln n folds in TERM order (sorted
    * struct list — per-DOC arrays, bounded by doc length, never
    * corpus-sized), the per-doc H is a fixed-shape IEEE expression
    * quantized to integer micro-nats, and the source rollup is exact
    * bigint sums with single divisions last — a raw double mean
    * would be shuffle-order-dependent. Shape: one (doc, term) hash
    * aggregate (the tfidf exchange), one doc-grain fold, one
    * source-grain rollup. */
  def tokenEntropy(docs: DataFrame): DataFrame =
    docs.select(col("source"), col("doc_id"),
        explode(tokens(col("text"))).as("term"))
      .groupBy(col("source"), col("doc_id"), col("term"))
      .agg(count(lit(1)).as("nn"))
      .groupBy(col("source"), col("doc_id"))
      .agg(sum(col("nn")).as("n_toks"),
        aggregate(array_sort(collect_list(struct(col("term"),
          (col("nn").cast("double") * log(col("nn").cast("double")))
            .as("contrib")))),
          lit(0.0), (a, x) => a + x.getField("contrib")).as("nlogn"))
      .select(col("source"),
        floor((log(col("n_toks").cast("double")) -
          col("nlogn") / col("n_toks").cast("double")) * lit(1000000.0) +
          lit(0.5)).cast("bigint").as("hq"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("hq")).cast("double") / count(lit(1)) / 1000000.0)
          .as("mean_entropy"),
        (min(col("hq")).cast("double") / 1000000.0).as("min_entropy"),
        (max(col("hq")).cast("double") / 1000000.0).as("max_entropy"))
      .orderBy(col("source"))

  /** Per-source lexical diversity: type–token ratio, Guiraud's R
    * (types/√tokens — the length-robust form; raw TTR falls
    * mechanically with corpus size, so cross-source TTR comparison
    * needs the root normalization printed next to it) and the hapax
    * share (fraction of the vocabulary seen exactly once — high
    * hapax = productive/noisy text, low = templated). The
    * vocabulary-richness gauge a mixture plan reads alongside
    * [[sourceKl]]'s rate drift: KL says a source uses COMMON words
    * at odd rates; a hapax spike says its tail is unlike anything.
    *
    * Shape: one tokenize scan into a (source, term) hash aggregate —
    * the same only-corpus-sized exchange as [[vocabulary]] — then a
    * source-grain rollup of exact bigint counts; the three ratios
    * are single IEEE divisions at |sources| grain. Sources whose
    * docs normalize to zero tokens simply don't appear (no token
    * rows), which the oracle reproduces by construction. */
  def lexicalDiversity(docs: DataFrame): DataFrame =
    docs.select(col("source"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("nn"))
      .groupBy(col("source"))
      .agg(sum(col("nn")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        count(when(col("nn") === 1, 1)).as("n_hapax"))
      .select(col("source"), col("n_tokens"), col("n_types"), col("n_hapax"),
        (col("n_types").cast("double") / col("n_tokens").cast("double"))
          .as("ttr"),
        (col("n_types").cast("double") /
          sqrt(col("n_tokens").cast("double"))).as("guiraud_r"),
        (col("n_hapax").cast("double") / col("n_types").cast("double"))
          .as("hapax_share"))
      .orderBy(col("source"))

  /** Readability banding per source: each doc gets a Flesch-style
    * reading-ease score from three deterministic integer counts —
    * words (the normalized token count every other text op uses),
    * sentence marks (runs of `.!?`, floored at one so headline-only
    * docs don't divide by zero) and a vowel-group syllable proxy
    * (runs of `aeiouy`; real hyphenation needs a dictionary, but the
    * PROXY is applied identically to every doc, and a per-source
    * ranking only needs a consistent gauge) — then docs are banded
    * (easy ≥70 / standard ≥50 / difficult ≥30 / very_difficult,
    * empty docs → unscorable) and counted per (source, band) with
    * each band's share of its source. Banding rather than averaging
    * keeps the aggregate order-independent: the per-doc score is a
    * fixed-shape IEEE expression (bit-identical in both engines);
    * a MEAN of millions of doubles would be shuffle-order-dependent.
    *
    * Shape: all three counts and the score are row-local on the one
    * corpus scan; the only exchange is the (source, band) hash
    * aggregate and the share window runs on the ≤|sources|×5 grid. */
  def readabilityBands(docs: DataFrame): DataFrame = {
    val words = size(tokens(col("text")))
    val sents = greatest(
      size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))), lit(1))
    val sylls = size(
      regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0)))
    val flesch = lit(206.835) -
      lit(1.015) * (words.cast("double") / sents.cast("double")) -
      lit(84.6) * (sylls.cast("double") / words.cast("double"))
    val band = when(words === 0, lit("unscorable"))
      .when(flesch >= 70.0, lit("easy"))
      .when(flesch >= 50.0, lit("standard"))
      .when(flesch >= 30.0, lit("difficult"))
      .otherwise(lit("very_difficult"))
    val w = Window.partitionBy(col("source"))
    docs.select(col("source"), band.as("band"))
      .groupBy(col("source"), col("band"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("share",
        col("n_docs").cast("double") / sum(col("n_docs")).over(w))
      .orderBy(col("source"), col("band"))
  }

  /** Pairwise vocabulary overlap between sources: for each source
    * pair, the Jaccard similarity of their distinct token sets — the
    * mixture-design signal for "are these two crawls the same corpus
    * in different wrappers" (near-1 vocab Jaccard between two sources
    * usually means one should be dropped before near-dup even runs).
    *
    * Shape: the corpus collapses to distinct (source, term) in one
    * hash aggregate (the only event-volume-sized step); per-source
    * vocab sizes are a sources-sized aggregate off it; the
    * intersection is a term-keyed self-join of the DEDUPED frame with
    * `s1 < s2` — each term contributes at most sources²/2 pairs
    * regardless of corpus size, so the join output is vocab ×
    * pair-count, never corpus-sized. |A∪B| = |A|+|B|−|A∩B| by
    * inclusion–exclusion (no union materialization), one exact
    * bigint division per pair. Pairs with zero shared terms drop out
    * (inner join) — absent pairs read as jaccard 0. */
  def sourceVocabOverlap(docs: DataFrame): DataFrame = {
    val st = docs
      .select(col("source"), explode(tokens(col("text"))).as("term"))
      .distinct()
      .transform(graft.Caches.hold)
    val sizes = st.groupBy(col("source")).agg(count(lit(1)).as("vocab"))
    val inter = st.select(col("source").as("source_a"), col("term"))
      .join(st.select(col("source").as("source_b"), col("term")), Seq("term"))
      .where(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    inter
      .join(broadcast(sizes.select(col("source").as("source_a"),
        col("vocab").as("vocab_a"))), Seq("source_a"))
      .join(broadcast(sizes.select(col("source").as("source_b"),
        col("vocab").as("vocab_b"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"),
        col("vocab_a"), col("vocab_b"), col("n_shared"),
        (col("n_shared").cast("double") /
          (col("vocab_a") + col("vocab_b") - col("n_shared")))
          .as("jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Deterministic mixed-form Unicode planting — the oracle fixture
    * for [[unicodeNormalize]] (the synthetic corpus is pure ASCII, so
    * an unplanted oracle would be an all-unchanged gate). Every
    * doc_id % 4 == 0 doc gets a DECOMPOSED café (e + U+0301), every
    * % 4 == 1 doc the COMPOSED form (U+00E9) — visually identical,
    * byte-different — mirrored via chr() in the oracle SQL. */
  val UnicodePlantMod = 4

  def plantUnicode(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      when(col("doc_id") % UnicodePlantMod === 0,
        concat(col("text"), lit(" cafe\u0301")))  // decomposed
        .when(col("doc_id") % UnicodePlantMod === 1,
          concat(col("text"), lit(" caf\u00e9"))) // composed
        .otherwise(col("text")))

  /** Unicode NFC normalization report: per doc, whether normalization
    * changed the text, code-point lengths before/after, and the md5
    * fingerprint of the NORMALIZED text — the fingerprint exact dedup
    * should key on, since composed and decomposed forms of the same
    * visible string otherwise land in different duplicate groups.
    * Row-local via the native `graft_nfc` expression (Spark has no
    * builtin; a Scala UDF would leave whole-stage codegen) — linear
    * with the scan, full pushdown below it; already-NFC text pays one
    * allocation-free quick-check. NULL text propagates NULL. */
  def unicodeNormalize(docs: DataFrame): DataFrame = {
    val nfc = call_function("graft_nfc", col("text"))
    docs.select(col("doc_id"), col("text"), nfc.as("nfc"))
      .select(col("doc_id"),
        when(col("text").isNotNull,
          (col("text") =!= col("nfc")).cast("int")).as("changed"),
        length(col("text")).cast("long").as("len_before"),
        length(col("nfc")).cast("long").as("len_after"),
        md5(col("nfc")).as("norm_fp"))
      .orderBy(col("doc_id"))
  }

  /** Adjacent-token-pair counts: the merge-selection table one BPE
    * training step reads — the pair with the top count is the next
    * merge. Occurrence and document frequencies per pair, top-`topN`
    * by (count desc, pair asc — deterministic at the cut). Tokens are
    * materialized in a projection BEFORE the pair lambda (Spark does
    * not common-subexpression-eliminate inside HOFs — the tokenizer
    * would re-run per element). Plan: row-local pair explode, one
    * two-phase distinct aggregate on pair, TakeOrdered top-N — the
    * identical shape to [[vocabulary]], linear at any corpus size. */
  def bpePairs(docs: DataFrame, topN: Int): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(
        when(size(col("toks")) >= 2,
          transform(sequence(lit(1), size(col("toks")) - 1),
            i => concat_ws(" ", element_at(col("toks"), i),
              element_at(col("toks"), i + 1))))
          .otherwise(array().cast("array<string>"))).as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("n_occ"), countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occ").desc, col("pair"))
      .limit(topN)

  /** PMI collocations: adjacent token pairs ranked by pointwise
    * mutual information ln(p(ab) / (p(a)·p(b))) — the "statistically
    * glued" phrases ("new york", "machine learning") that raw pair
    * counts ([[bpePairs]]) bury under "of the". The `minCount` floor
    * is the standard guard against PMI's rare-pair bias.
    *
    * Determinism at the cut: PMI is a fixed-shape IEEE expression
    * over count-doubles (identical in both engines), but the top-N
    * RANK quantizes it to integer micro-nats and breaks ties by pair
    * — a raw double ORDER BY would make the cut ULP-fragile. Shape:
    * one tokenize scan (persisted — unigram, pair and total legs all
    * read it), two hash aggregates (term and pair grain — the only
    * corpus-sized exchanges), term-keyed joins the optimizer may
    * broadcast at small vocab, TakeOrdered top-N. */
  def pmiBigrams(docs: DataFrame, minCount: Int = 5,
                 topN: Int = 200): DataFrame = {
    val toks = docs.select(tokens(col("text")).as("toks"))
      .transform(graft.Caches.hold)
    val uni = toks.select(explode(col("toks")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("n_term"))
      .transform(graft.Caches.hold)
    val totU = uni.agg(sum(col("n_term")).as("nn"))
    val totP = toks.agg(sum(greatest(size(col("toks")) - 1, lit(0))
      .cast("long")).as("np"))
    val pmi = log((col("n_pair").cast("double") *
      col("nn").cast("double") * col("nn").cast("double")) /
      (col("np").cast("double") * col("n_t1").cast("double") *
        col("n_t2").cast("double")))
    toks.select(explode(when(size(col("toks")) >= 2,
        transform(sequence(lit(1), size(col("toks")) - 1),
          i => struct(element_at(col("toks"), i).as("t1"),
            element_at(col("toks"), i + 1).as("t2"))))
        .otherwise(array().cast(
          "array<struct<t1:string,t2:string>>"))).as("p"))
      .select(col("p.t1").as("t1"), col("p.t2").as("t2"))
      .groupBy(col("t1"), col("t2")).agg(count(lit(1)).as("n_pair"))
      .where(col("n_pair") >= minCount)
      .join(uni.select(col("term").as("t1"), col("n_term").as("n_t1")),
        Seq("t1"))
      .join(uni.select(col("term").as("t2"), col("n_term").as("n_t2")),
        Seq("t2"))
      .crossJoin(broadcast(totU)).crossJoin(broadcast(totP))
      .select(col("t1"), col("t2"), col("n_pair"), col("n_t1"),
        col("n_t2"),
        floor(pmi * lit(1000000.0) + lit(0.5)).cast("bigint")
          .as("pmi_micro"))
      .orderBy(col("pmi_micro").desc, col("t1"), col("t2"))
      .limit(topN)
  }

  /** Character-class composition per source: exact counts and shares
    * of lowercase-alpha, digit, whitespace and other characters —
    * the cheapest corpus X-ray there is (a digit share spiking says
    * tables/ids, an "other" share spiking says markup, encoding rot
    * or emoji floods), and the row-local precursor the quality
    * scores build on, surfaced at the grain drift happens.
    *
    * Counts are per-row integer lengths of class-stripped strings
    * (alpha measured on the LOWERCASED text so 'A' counts as alpha),
    * whitespace is the explicit [ \t\n\r] class so both engines
    * agree on the set; other = total − alpha − digit − space. One
    * scan, one source-grain aggregate, four share divisions. */
  def charProfile(docs: DataFrame): DataFrame = {
    val total = length(col("text")).cast("long")
    val alpha = length(regexp_replace(lower(col("text")), "[^a-z]", ""))
      .cast("long")
    val digit = length(regexp_replace(col("text"), "[^0-9]", ""))
      .cast("long")
    val space = length(regexp_replace(col("text"), "[^ \t\n\r]", ""))
      .cast("long")
    docs.select(col("source"), total.as("t"), alpha.as("a"),
        digit.as("d"), space.as("s"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("n_chars"),
        sum(col("a")).as("n_alpha"), sum(col("d")).as("n_digit"),
        sum(col("s")).as("n_space"))
      .withColumn("n_other",
        col("n_chars") - col("n_alpha") - col("n_digit") - col("n_space"))
      .withColumn("alpha_share", col("n_alpha").cast("double") /
        greatest(col("n_chars"), lit(1L)).cast("double"))
      .withColumn("digit_share", col("n_digit").cast("double") /
        greatest(col("n_chars"), lit(1L)).cast("double"))
      .withColumn("other_share", col("n_other").cast("double") /
        greatest(col("n_chars"), lit(1L)).cast("double"))
      .orderBy(col("source"))
  }

  /** Token-length distribution: how many tokens have 1, 2, …, 15,
    * 16+ characters, with each bucket's share and cumulative share —
    * the tokenizer-fit fingerprint ([[fertilityByLanguage]] prices
    * tokens per word; this shows WHY: a mass of 1–2-char tokens is
    * OCR shrapnel, a fat 16+ tail is ids/URLs that a word tokenizer
    * will shred). Clamped at 16 so the grid is fixed-width at any
    * corpus size.
    *
    * Shape: one tokenize scan onto the ≤16-row length grid; shares
    * and the running share are grid-window sums. */
  def tokenLengths(docs: DataFrame): DataFrame = {
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val wCum = Window.orderBy(col("len_bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(explode(tokens(col("text"))).as("term"))
      .select(least(length(col("term")), lit(16)).cast("long")
        .as("len_bucket"))
      .groupBy(col("len_bucket"))
      .agg(count(lit(1)).as("n_tokens"))
      .withColumn("share",
        col("n_tokens").cast("double") / sum(col("n_tokens")).over(wAll))
      .withColumn("cum_share",
        sum(col("n_tokens")).over(wCum).cast("double") /
          sum(col("n_tokens")).over(wAll))
      .orderBy(col("len_bucket"))
  }

  /** Duplicate-cluster size histogram: exact-dup fingerprint groups
    * (size ≥ 2) bucketed by the decimal MAGNITUDE of their size —
    * "is my duplication a million pairs or one pathological
    * thousand-copy family", the shape question [[dedupSavings]]'s
    * per-source totals can't answer and the answer that decides
    * between plain dedup and a boilerplate investigation. Redundant
    * = docs the min-id survivor rule would drop.
    *
    * Shape: one fingerprint hash aggregate (the q_dedup_exact
    * exchange), then a ≤20-row magnitude-grid rollup of exact bigint
    * sums (the deg_digits idiom). */
  def dupClusterHist(docs: DataFrame): DataFrame =
    docs.select(md5(normText(col("text"))).as("fp"))
      .groupBy(col("fp")).agg(count(lit(1)).as("sz"))
      .where(col("sz") >= 2)
      .groupBy(length(col("sz").cast("string")).cast("long")
        .as("size_digits"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("sz")).as("n_docs"),
        (sum(col("sz")) - count(lit(1))).as("n_redundant"),
        min(col("sz")).as("min_size"), max(col("sz")).as("max_size"))
      .orderBy(col("size_digits"))

  /** Prefix-template families: docs grouped by the md5 of their first
    * `k` normalized tokens — the "same intro, different body" pattern
    * (scraped article headers, generated-page frames) that EXACT
    * dedup misses (the bodies differ) and shingle near-dup
    * under-weights (one shared window among hundreds). Families with
    * `minDocs`+ members, largest first; `n_sources` > 1 flags a
    * template that crossed crawls — syndication, not a site quirk.
    *
    * Shape: row-local prefix hash (docs shorter than k use what they
    * have), one fingerprint hash aggregate, TakeOrdered top-N with
    * an (n_docs desc, fp) deterministic cut. */
  def prefixTemplates(docs: DataFrame, k: Int = 8, minDocs: Int = 2,
                      topN: Int = 100): DataFrame =
    docs.select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
      .where(size(col("toks")) > 0)
      .select(col("doc_id"), col("source"),
        md5(concat_ws(" ", slice(col("toks"), 1, k))).as("prefix_fp"),
        size(col("toks")).cast("long").as("n_toks"))
      .groupBy(col("prefix_fp"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("n_toks")).as("total_tokens"),
        min(col("doc_id")).as("example_doc"))
      .where(col("n_docs") >= minDocs)
      .orderBy(col("n_docs").desc, col("prefix_fp"))
      .limit(topN)

  /** Dedup ROI report: what exact dedup would save, per source —
    * duplicate docs (same normalized-md5 fingerprint, min-doc_id
    * survivor: the q_dedup_exact contract) and the TOKEN mass they
    * carry, because training cost is paid in tokens, not documents
    * (a source that is 5% dup docs but 40% dup tokens is cloning its
    * longest pages). Duplicates count against the source the COPY
    * lives in, not the survivor's source.
    *
    * Shape: one fingerprint-keyed window (count + min over the same
    * partition — one exchange), row-local flags, source-grain
    * rollup of exact bigint sums; the pct is one guarded IEEE
    * division. */
  def dedupSavings(docs: DataFrame): DataFrame =
    docs.select(col("source"), col("doc_id"),
        md5(normText(col("text"))).as("fp"),
        size(tokens(col("text"))).cast("long").as("n_toks"))
      .withColumn("survivor",
        min(col("doc_id")).over(Window.partitionBy(col("fp"))))
      .select(col("source"), col("n_toks"),
        (col("doc_id") =!= col("survivor")).cast("int").as("dup"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("dup") === 1, 1)).as("n_dupes"),
        sum(col("n_toks")).as("tokens_total"),
        sum(when(col("dup") === 1, col("n_toks")).otherwise(0L))
          .as("tokens_dropped"))
      .withColumn("pct_tokens_dropped",
        col("tokens_dropped").cast("double") /
          greatest(col("tokens_total"), lit(1L)).cast("double"))
      .orderBy(col("source"))

  /** Word-level BPE training — `nMerges` iterations of the byte-pair
    * encoding merge loop over the corpus vocabulary: start from
    * per-character symbols on the (term, count) vocab frame, each
    * round count adjacent symbol pairs weighted by word frequency,
    * merge the most frequent pair corpus-wide (ties to the
    * lexicographically smallest pair — fully deterministic), and
    * rewrite the symbol arrays greedily left-to-right. Returns the
    * merge table (rank, pair, merged symbol, weighted count) — the
    * artifact a tokenizer build actually ships. [[bpePairs]] is one
    * round of this at word grain; this is the real loop at symbol
    * grain.
    *
    * Scale shape: the corpus collapses to the VOCAB frame in one
    * token-count aggregate (the only event-volume-sized step — the
    * merge loop never rescans the corpus); each round is a pair
    * explode + one small aggregate over vocab-sized data, with the
    * winning pair reduced driver-side (a 1-row argmax, the
    * trainCentroids contract) and the rewrite a row-local fold.
    * `localCheckpoint` per round keeps lineage O(1) across
    * iterations (the Lloyd pattern) — without it round k replays all
    * k−1 rewrites. Oracle: the loop unrolls to one MATERIALIZED CTE
    * step per round (keys.TextKeys.BpeVocabCtes, the k-core precedent) —
    * the greedy fold is replayed by SQL replace()'s left-to-right
    * non-overlapping scan over '[sym]'-encoded arrays, so the full
    * merge sequence is hash-gated; TextSpec additionally pins it on a
    * hand-computable fixture. */
  def bpeTrain(docs: DataFrame, nMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    var vocab = docs
      .select(explode(tokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .select(filter(split(col("term"), ""), s => s =!= "").as("sym"),
        col("cnt"))
      .transform(graft.Caches.checkpoint)
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    var done = false
    for (ix <- 0 until nMerges if !done) {
      val top = vocab
        .where(size(col("sym")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("sym")) - 1),
          i => struct(element_at(col("sym"), i).as("a"),
            element_at(col("sym"), i + 1).as("b")))).as("p"),
          col("cnt"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("cnt")).as("w"))
        .orderBy(col("w").desc, col("a"), col("b"))
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (a, b, w) = (top.head.getString(0), top.head.getString(1),
          top.head.getLong(2))
        merges += ((ix, a, b, a + b, w))
        vocab = vocab.select(mergeFold(col("sym"), a, b).as("sym"),
          col("cnt"))
          .transform(graft.Caches.checkpoint)
      }
    }
    merges.result()
      .toDF("merge_ix", "left", "right", "merged", "pair_weight")
      .orderBy(col("merge_ix"))
  }

  /** Greedy left-to-right rewrite of one BPE merge (a, b) over a
    * symbol array: fold each word's symbols, merging a symbol into
    * the accumulator tail when the tail is `a` and it is `b` (an
    * overlapping run re-merges only after the tail changes — standard
    * BPE greedy semantics). Shared by [[bpeTrain]]'s per-round
    * rewrite and [[bpeApply]]'s encode, so deploy-time segmentation
    * reproduces training-time segmentation by construction. */
  private def mergeFold(sym: Column, a: String, b: String): Column =
    aggregate(sym,
      array().cast("array<string>"),
      (acc, s) => when(
        size(acc) > 0 && element_at(acc, -1) === lit(a) && s === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(s))))

  /** Apply a trained BPE merge table — the tokenizer DEPLOY step:
    * per doc, whitespace tokens vs symbols after all merges, the
    * symbols-per-token compression the tokenizer build is judged by.
    *
    * Scale shape: merges apply once per DISTINCT term (the
    * vocabulary), not per token occurrence — the corpus never folds;
    * the (term → symbol count) map is vocabulary-sized and broadcasts
    * back into the token stream, whose only shuffle is the per-doc
    * aggregate. The chained per-merge folds collapse into ONE
    * projection over the vocab frame (each round's array is consumed
    * exactly once by the next fold's input, so projection collapse
    * chains — it does not multiply — the evaluations). Hash-gated:
    * the oracle replays [[bpeTrain]]'s unrolled merge chain and joins
    * the final vocab's symbol counts back into the token stream;
    * TextSpec additionally pins the segmentation on the training
    * fixture. */
  def bpeApply(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val vocab0 = toks.select(col("term")).distinct()
      .select(col("term"),
        filter(split(col("term"), ""), s => s =!= "").as("sym"))
    val encoded = merges.foldLeft(vocab0) { case (v, (a, b)) =>
      v.select(col("term"), mergeFold(col("sym"), a, b).as("sym"))
    }
    val nSym = encoded.select(col("term"),
      size(col("sym")).cast("long").as("n_sym"))
    toks.join(broadcast(nSym), "term")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("n_sym")).as("n_symbols"))
      .select(col("doc_id"), col("n_tokens"), col("n_symbols"),
        (col("n_symbols").cast("double") / col("n_tokens"))
          .as("symbols_per_token"))
      .orderBy(col("doc_id"))
  }

  /** Top-`perDoc` TF-IDF terms per document. IDF is the LOG-FREE
    * ratio n_docs/df: ln() is only 1-ulp-accurate and differs between
    * libm implementations, so a log idf would make the oracle compare
    * hash-unstable; the ratio is one exactly-rounded IEEE division —
    * bit-identical on any engine — and preserves the signal (rarer
    * term → bigger weight). Plan: one (doc_id, term) count aggregate
    * over the exploded tokens (map-side partials; the only full-data
    * shuffle), a broadcast join against the vocab-sized df table, and
    * a per-doc top-k window on the doc's own terms. At 100 TB the df
    * table is the corpus vocabulary — bounded, broadcastable; nothing
    * quadratic anywhere. */
  def tfidf(docs: DataFrame, perDoc: Int): DataFrame = {
    val terms = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = terms.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val nDocs = docs.select(
      countDistinct(col("doc_id")).cast("double").as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    terms
      .join(broadcast(df), "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf", col("tf") * (col("n_docs") / col("df")))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= perDoc)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("tfidf"), col("rk"))
      .orderBy(col("doc_id"), col("rk"))
  }

  /** Inverted-index build: per term, the document frequency, total
    * term frequency, and the top-`k` postings by tf — the index
    * artifact behind [[searchTopK]]-style retrieval, materialized as
    * a table. Two scale choices vs [[tfidf]]'s machinery: (1) per-doc
    * tf is explode + groupBy(doc_id, term) count — linear, fully
    * codegen'd, and the hash aggregate's map-side partial combine
    * means the shuffle still carries ~one row per DISTINCT (doc,
    * term) pair, not per token occurrence (the earlier row-local
    * formulation — distinct terms × an in-array count through
    * interpreted HOF lambdas — was O(distinct×len) per doc, the same
    * cost family as the fixed SQ projection collapse; at real doc
    * lengths of 10⁴–10⁵ tokens that quadratic dominates); (2) the
    * postings cut is the bounded-heap `graft_topk` aggregate — on a
    * stopword term with 10⁸ postings a row_number window would sort
    * the whole group, while the heap ships ≤k entries per map task.
    * Postings render as "doc:tf" best-first (tf desc, doc asc — the
    * heap's deterministic tiebreak), so the row is flat and
    * hash-comparable. Terms below `minDf` are cut AFTER aggregation
    * (df must be known); the vocab-sized result is orderBy-safe. */
  def invertedIndex(docs: DataFrame, minDf: Int, k: Int): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("total_tf"),
        call_function("graft_topk",
          col("tf").cast("double"), col("doc_id"), lit(k)).as("top"))
      .where(col("df") >= minDf)
      .select(col("term"), col("df"), col("total_tf"),
        array_join(transform(col("top"), e =>
          concat(e.getField("id").cast("string"), lit(":"),
            e.getField("score").cast("long").cast("string"))), ",")
          .as("top_postings"))
      .orderBy(col("term"))
  }

  /** Keyword search: rank documents against a literal term list by
    * summed tf·idf over the MATCHED terms (the same log-free ratio idf
    * as [[tfidf]], so scores are bit-portable), returning the top `k`
    * docs. The retrieval leg of the tf-idf pair: tfidf indexes what a
    * doc is about, searchTopK answers a query against the corpus.
    *
    * Scale shape: the term filter runs BEFORE the (doc, term)
    * aggregate, so the only shuffled stream is the query-term hits —
    * the corpus token stream never shuffles. df is computed from the
    * hits themselves (df of a term nobody queried is never built),
    * both df and n_docs ride along as broadcasts, and the final top-k
    * is an orderBy+limit — Spark plans TakeOrderedAndProject:
    * per-partition heaps, no global sort. The per-doc score folds the
    * (term, weight) pairs in sorted-term order (a ≤|terms|-element
    * row-local fold), so float summation order is engine-independent
    * — a bare sum() would differ in the last ULP between engines. */
  def searchTopK(docs: DataFrame, queryTerms: Seq[String],
                 k: Int): DataFrame = {
    require(queryTerms.nonEmpty, "searchTopK needs at least one term")
    // persisted: both the df aggregate and the scoring join read this
    // frame — without the persist each side re-runs the corpus scan
    val hits = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .where(col("term").isin(queryTerms: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .transform(graft.Caches.hold)
    val dfT = hits.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val nDocs = docs.select(
      countDistinct(col("doc_id")).cast("double").as("n_docs"))
    hits
      .join(broadcast(dfT), "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("w", col("tf") * (col("n_docs") / col("df")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("tf")).as("n_hits"),
        aggregate(
          array_sort(collect_list(struct(col("term"), col("w")))),
          lit(0.0), (acc, x) => acc + x.getField("w")).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** BM25 ranking over the same inverted hit frame as [[searchTopK]]
    * (Robertson–Spärck Jones, the retrieval baseline every curation
    * ranker starts from): k1/b defaults 1.2/0.75,
    * idf = ln(1 + (N − df + ½)/(df + ½)), per-term weight
    * idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)). Plan shape is
    * searchTopK's: one (doc, term) shuffle for the query terms only,
    * broadcast df and corpus stats, TakeOrdered top-k. Determinism:
    * the per-doc sum folds term-sorted (same discipline as
    * searchTopK), and the final ordering uses the ROUNDED score with
    * a doc_id tie-break — `ln` is the one non-exactly-rounded
    * operation in the engine/oracle pair, so ordering by the raw
    * double would let a last-ulp libm disagreement flip the k-cut.
    * dl/avgdl derive from the same tokenizer as the hits; avgdl is
    * one exact division of two integer aggregates. */
  def searchBm25(docs: DataFrame, queryTerms: Seq[String], k: Int,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25Scores(docs, queryTerms, k1, b)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)

  /** The full BM25-scored matching-docs frame behind [[searchBm25]]'s
    * TakeOrdered cut — [[searchEval]] needs every matching doc's
    * score (ranks of relevant docs), not just the top-k. */
  private[operators] def bm25Scores(docs: DataFrame,
                                    queryTerms: Seq[String],
                                    k1: Double = 1.2,
                                    b: Double = 0.75): DataFrame =
    bm25ScoresFromToks(
      docs.select(col("doc_id"), tokens(col("text")).as("toks"))
        .transform(graft.Caches.hold),
      queryTerms, k1, b)

  /** [[bm25Scores]] over an ALREADY-tokenized (doc_id, toks) frame —
    * the multi-query evals ([[searchEval]], [[searchNdcg]]) tokenize
    * the corpus ONCE and share the held frame across their per-query
    * scoring calls (the round-13 probe measured one full corpus
    * tokenize pass per query: 3 queries = 3 redundant scans). Same
    * arithmetic, same tokenizer — results are unchanged; only the
    * number of corpus passes drops. Caller owns the toks cache. */
  private def bm25ScoresFromToks(toks: DataFrame,
                                 queryTerms: Seq[String],
                                 k1: Double = 1.2,
                                 b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "searchBm25 needs at least one term")
    val docLen = toks.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
    val stats = docLen.agg(
      count(lit(1)).cast("double").as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val hits = toks
      .select(col("doc_id"), explode(col("toks")).as("term"))
      .where(col("term").isin(queryTerms: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfT = hits.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"))
    hits
      .join(broadcast(dfT), "term")
      .join(docLen, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("w",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) /
            (col("df") + lit(0.5))) *
          (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) *
            (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("tf")).as("n_hits"),
        aggregate(
          array_sort(collect_list(struct(col("term"), col("w")))),
          lit(0.0), (acc, x) => acc + x.getField("w")).as("score"))
      .withColumn("score", round(col("score"), 6))
  }

  /** NDCG@k of the BM25 ranking under GRADED containment relevance
    * (grade = how many of the query's terms the doc contains) — the
    * companion to [[searchEval]]'s binary MRR: a ranker can ace MRR
    * (one perfect doc up top) while burying the rest of the relevant
    * mass, which is exactly what the cumulative-gain curve sees.
    * DCG@k folds grade/log₂(rank+1) over the BM25 top-k in rank
    * order; the ideal ordering is a TakeOrdered(k) by (grade desc,
    * doc_id) — both k-sized, no corpus-wide window anywhere. The only
    * engine-specific float is log₂ (libm, inside gate tolerance — the
    * BM25 precedent). */
  def searchNdcg(docs: DataFrame, queries: Seq[(String, Seq[String])],
                 k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queries.nonEmpty, "searchNdcg needs at least one query")
    import org.apache.spark.sql.expressions.Window
    // ONE corpus tokenize pass shared by every query's grading and
    // scoring leg (was: one per bm25Scores call plus one per graded
    // projection — 2·|queries| corpus scans)
    val toks = graft.Caches.hold(
      docs.select(col("doc_id"), tokens(col("text")).as("toks")))
    queries.map { case (qid, terms) =>
      val graded = graft.Caches.hold(toks.select(col("doc_id"),
        terms.map(t => array_contains(col("toks"), t).cast("long"))
          .reduce(_ + _).as("grade")))
      val scored = graft.Caches.hold(bm25ScoresFromToks(toks, terms, k1, b))
      def foldDcg(ranked: DataFrame): DataFrame =
        ranked
          .agg(aggregate(
            array_sort(collect_list(struct(col("rk"),
              (col("grade") / log(2.0, col("rk") + 1)).as("c")))),
            lit(0.0), (a, x) => a + x.getField("c")).as("v"))
      val top = scored.orderBy(col("score").desc, col("doc_id")).limit(k)
        .withColumn("rk",
          row_number().over(Window.orderBy(col("score").desc, col("doc_id"))))
        .join(graded, "doc_id")
      val ideal = graded.where(col("grade") > 0)
        .orderBy(col("grade").desc, col("doc_id")).limit(k)
        .withColumn("rk",
          row_number().over(Window.orderBy(col("grade").desc, col("doc_id"))))
      val ng = graded.where(col("grade") > 0)
        .agg(count(lit(1)).as("n_graded"))
      ng.crossJoin(broadcast(foldDcg(top).select(col("v").as("dcg"))))
        .crossJoin(broadcast(foldDcg(ideal).select(col("v").as("idcg"))))
        .select(lit(qid).as("query_id"), col("n_graded"), col("dcg"),
          col("idcg"),
          (col("dcg") / nullif(col("idcg"), lit(0.0))).as("ndcg"))
    }.reduce(_.unionAll(_)).orderBy(col("query_id"))
  }

  /** Retrieval-quality eval of the BM25 ranking against a
    * corpus-derived relevance oracle: a doc is RELEVANT to a query
    * iff it contains ALL the query's terms (the conjunctive
    * containment ground truth — derivable in any engine, no labels
    * needed), and the report gives per query the relevant-doc count,
    * the rank of the first relevant doc in the BM25 ordering, its
    * reciprocal rank, and precision@k — the "is the ranker actually
    * ranking" gate run before anyone trusts q_search_bm25's order.
    *
    * Rank WITHOUT a global window: the first relevant doc is a
    * TakeOrdered(1) over the relevant slice, and its rank is
    * 1 + count(docs strictly ahead of it) — a counting aggregate
    * over the scored frame, never a corpus-wide row_number. The
    * scored frame is Caches-held (read by the best-rel probe, the
    * rank count and the top-k cut); each query's report is a 1-row
    * frame, unioned across the query set. Empty relevant sets mask
    * rank/rr to NULL/0 (the count-over-empty 1 never escapes). */
  def searchEval(docs: DataFrame, queries: Seq[(String, Seq[String])],
                 k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queries.nonEmpty, "searchEval needs at least one query")
    // ONE corpus tokenize pass shared by every query's relevance and
    // scoring leg (same restructure as searchNdcg — round 13)
    val toks = graft.Caches.hold(
      docs.select(col("doc_id"), tokens(col("text")).as("toks")))
    queries.map { case (qid, terms) =>
      val scored = graft.Caches.hold(bm25ScoresFromToks(toks, terms, k1, b))
      val rel = toks
        .where(terms.map(t => array_contains(col("toks"), t)).reduce(_ && _))
        .select(col("doc_id").as("rid"))
      val nrel = rel.agg(count(lit(1)).as("n_rel"))
      val best = scored.join(rel, scored("doc_id") === rel("rid"), "left_semi")
        .orderBy(col("score").desc, col("doc_id")).limit(1)
        .select(col("score").as("bs"), col("doc_id").as("bid"))
      val rank = scored.crossJoin(broadcast(best))
        .where(col("score") > col("bs") ||
          (col("score") === col("bs") && col("doc_id") < col("bid")))
        .agg((count(lit(1)) + 1).as("r"))
      val topk = scored.orderBy(col("score").desc, col("doc_id")).limit(k)
      val pk = topk.join(rel, topk("doc_id") === rel("rid"), "left_semi")
        .agg(count(lit(1)).as("rel_in_k"))
      nrel.crossJoin(broadcast(rank)).crossJoin(broadcast(pk))
        .select(lit(qid).as("query_id"), col("n_rel"),
          when(col("n_rel") > 0, col("r")).as("first_rel_rank"),
          when(col("n_rel") > 0, lit(1.0) / col("r")).otherwise(lit(0.0))
            .as("rr"),
          (col("rel_in_k").cast("double") / k).as("p_at_k"))
    }.reduce(_.unionAll(_)).orderBy(col("query_id"))
  }

  /** Corpus-frequency unigram LM score — the word-frequency
    * "typicality" quality signal (the log-free stand-in for CCNet's LM
    * perplexity filter): docs built from corpus-rare tokens score low
    * (gibberish, OOV soup), docs of common words score high. All
    * intermediate sums are INTEGER (each token contributes its corpus
    * occurrence count), so the two final ratios are single exact IEEE
    * divisions — engine-portable without rounding, where an avg-log-
    * probability would be a float sum in engine-dependent order. Plan:
    * token explode → one (doc, term) shuffle, broadcast term-frequency
    * join, per-doc integer sums; the corpus total rides along as a
    * broadcast 1-row frame. */
  def lmScore(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val tfreq = toks.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val total = tfreq.select(sum(col("cnt")).as("total"))
    toks
      .join(broadcast(tfreq), "term")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"), sum(col("cnt")).as("sum_cnt"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("n_toks"), col("sum_cnt"),
        (col("sum_cnt").cast("double") / col("n_toks")).as("mean_term_freq"),
        (col("sum_cnt").cast("double") / (col("n_toks") * col("total")))
          .as("typicality"))
      .orderBy(col("doc_id"))
  }

  /** Conditional-bigram LM score — the second-order upgrade of
    * [[lmScore]]: each bigram (t₁ t₂) contributes the corpus
    * conditional frequency c(t₁ t₂)/c(t₁ ·) — high for text whose
    * word TRANSITIONS are typical, low for shuffled-word salad that
    * unigram typicality cannot distinguish (same words, scrambled
    * order). The log-free stand-in for bigram-LM perplexity.
    *
    * Determinism: each bigram's contribution is the INTEGER
    * `(10⁶·c(t₁t₂)) div c(t₁·)` (a per-mille-of-a-mille probability),
    * so per-doc sums are order-independent and the two display
    * divisions happen once at the end — a float Σp(t₂|t₁) would
    * differ in the last ULP per summation order. Overflow bound:
    * c(bigram) ≤ corpus bigram count, so the ·10⁶ product needs
    * < 9.2·10¹² total bigrams — beyond that drop the scale to 10³.
    *
    * Shape: the bigram stream is materialized ONCE (persisted — it
    * feeds the bigram counts, the first-token counts, and the scoring
    * join). First-token counts are unigram-VOCABULARY-sized and ride
    * as a broadcast into the bigram-count frame; the scoring join on
    * the bigram key is a plain key-grain shuffle join — bigram
    * vocabulary is NOT bounded like the unigram one, so broadcasting
    * it would be wrong at corpus scale. */
  def bigramLmScore(docs: DataFrame): DataFrame = {
    val bigr = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(
        when(size(col("toks")) >= 2,
          transform(sequence(lit(1), size(col("toks")) - 1),
            i => concat_ws(" ", element_at(col("toks"), i),
              element_at(col("toks"), i + 1))))
          .otherwise(array().cast("array<string>"))).as("big"))
      .transform(graft.Caches.hold)
    val bf = bigr.groupBy(col("big")).agg(count(lit(1)).as("cb"))
    val cf = bigr
      .groupBy(substring_index(col("big"), " ", 1).as("t1"))
      .agg(count(lit(1)).as("cf"))
    val st = bf
      .join(broadcast(cf), substring_index(col("big"), " ", 1) === col("t1"))
      .select(col("big"), expr("(1000000 * cb) div cf").as("score"))
    bigr.join(st, "big")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("score")).as("sum_score"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_score"),
        (col("sum_score").cast("double") / 1000000.0 / col("n_bigrams"))
          .as("mean_cond"))
      .orderBy(col("doc_id"))
  }

  /** Exact dedup: min doc_id per fingerprint group is the survivor.
    * One hash shuffle on the fingerprint — the canonical exact-dedup
    * shape at any scale. */
  def exactDedup(docs: DataFrame): DataFrame = {
    val fp = docs.select(col("doc_id"), md5(normText(col("text"))).as("fingerprint"))
    val w = Window.partitionBy(col("fingerprint"))
    fp.withColumn("rep_id", min(col("doc_id")).over(w))
      .withColumn("is_dup", (col("doc_id") =!= col("rep_id")).cast("int"))
      .orderBy(col("doc_id"))
  }

  /** Quality-vs-duplication calibration: fixed-width quality bands
    * (floor(score·10), capped at 9) crossed with [[exactDedup]]'s dup
    * flags — the cross-signal QA that tells a curator whether the
    * quality score and the dedup family agree on what junk looks like
    * (boilerplate-heavy corpora show dup_rate falling as quality
    * rises; a FLAT profile says the score is missing what dedup
    * catches, and vice versa). Bands are ROW-LOCAL by design — a
    * decile NTILE would be a global single-partition window, the
    * scale anti-pattern this engine bans; fixed-width bands cost one
    * aggregate and mean the same thing at any corpus size. Docs with
    * NULL scores (empty text) band as NULL, kept as their own row —
    * an explicit guard, because both engines' `least` skips NULLs and
    * would otherwise promote empty docs to the TOP band. Cost: the
    * dedup's fingerprint shuffle + one band aggregate. */
  def qualityDupCalibration(docs: DataFrame): DataFrame = {
    val bands = qualityFrame(docs, Nil).select(col("doc_id"),
      when(col("quality_score").isNull, lit(null))
        .otherwise(least(floor(col("quality_score") * 10), lit(9)))
        .cast("int").as("quality_band"))
    val dups = exactDedup(docs).select(col("doc_id"), col("is_dup"))
    bands.join(dups, "doc_id")
      .groupBy(col("quality_band"))
      .agg(count(lit(1)).as("n_docs"), sum(col("is_dup")).as("n_dups"))
      .withColumn("dup_rate",
        col("n_dups").cast("double") / col("n_docs"))
      .orderBy(col("quality_band"))
  }

  /** AUC of the composite quality score as a duplicate detector, per
    * source: the probability a random exact-dup copy scores HIGHER
    * than a random unique doc, ties half-credit (Mann–Whitney with
    * midranks) — a score that sees dups as junk drives this BELOW
    * 0.5, ≈ 0.5 is blind; the one-number answer to "does the quality
    * signal see what dedup sees, and where does it go blind?".
    * [[qualityDupCalibration]] shows the shape; this ranks sources by
    * separation so a curator knows whose score to distrust.
    *
    * Exact and sort-free at any scale: scores are micro-quantized
    * (floor(score·1e6), identical double→int boundary both engines),
    * so the per-source (score, label) HISTOGRAM is the sufficient
    * statistic — U = Σ_s n_dup(s)·cum_uniq(<s) + ½·Σ_s n_dup(s)·
    * n_uniq(s), AUC = U/(n_dup·n_uniq), every term an integer off the
    * grid. No global rank window: the doc-grain work is the
    * fingerprint shuffle + one hash aggregate, and the ordered window
    * runs over a grid bounded by 1e6 quantization levels per source
    * REGARDLESS of corpus size. Products fold in DECIMAL(38,0) (the
    * int128 twin of DuckDB's HUGEINT — bigint Σ n·cum wraps silently
    * at real scale); the single division is the last operation.
    * NULL-score docs (empty text) carry no rank information and are
    * excluded on both sides. */
  def dupAuc(docs: DataFrame): DataFrame = {
    val scored = qualityFrame(
      docs.withColumn("fingerprint", md5(normText(col("text")))),
      passthrough = Seq("fingerprint", "source"))
      .select(col("doc_id"), col("fingerprint"), col("source"),
        col("quality_score"))
    val wf = Window.partitionBy(col("fingerprint"))
    val labeled = scored
      .withColumn("is_dup",
        (col("doc_id") =!= min(col("doc_id")).over(wf)).cast("int"))
      .where(col("quality_score").isNotNull)
      .select(col("source"),
        floor(col("quality_score") * 1000000).cast("long").as("sq"),
        col("is_dup"))
    val grid = labeled.groupBy(col("source"), col("sq"))
      .agg(sum(col("is_dup")).as("n1"),
        (count(lit(1)) - sum(col("is_dup"))).as("n0"))
    val wcum = Window.partitionBy(col("source")).orderBy(col("sq"))
      .rowsBetween(Window.unboundedPreceding, -1)
    grid
      .withColumn("cum0", coalesce(sum(col("n0")).over(wcum), lit(0L)))
      .groupBy(col("source"))
      .agg(sum(col("n1")).as("n_dup"), sum(col("n0")).as("n_uniq"),
        sum(col("n1").cast("decimal(38,0)") * col("cum0")).as("u_below"),
        sum(col("n1").cast("decimal(38,0)") * col("n0")).as("u_ties"))
      .select(col("source"), col("n_dup"), col("n_uniq"),
        ((lit(2).cast("decimal(38,0)") * col("u_below") + col("u_ties"))
          .cast("double") /
          nullif((lit(2).cast("decimal(38,0)") * col("n_dup") * col("n_uniq"))
            .cast("double"), lit(0.0))).as("dup_auc"))
      .orderBy(col("source"))
  }

  /** Language-ID accuracy evaluation: the confusion matrix of
    * [[languageId]]'s prediction against the labeled `lang` column —
    * per (actual, predicted) pair the doc count and the share of the
    * actual language's docs (the per-class recall diagonal). The
    * "measure, don't guess" harness for the classifier: a heuristic
    * whose accuracy nobody measured is a silent corpus-mix bug at
    * 100 TB, and this query makes a regression a visible gate event.
    * One row-local scoring pass + one hash aggregate on the
    * (languages × languages)-bounded pair; the share window runs over
    * that tiny frame. */
  def langIdEval(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("lang"))
    languageId(docs)
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
      .withColumn("share_of_lang",
        col("n").cast("double") / sum(col("n")).over(w))
      .orderBy(col("lang"), col("lang_pred"))
  }

  /** Exact dedup with best-copy survivor selection: the duplicate
    * group's representative is its highest-QUALITY member
    * (quality_score desc, doc_id tiebreak) instead of [[exactDedup]]'s
    * min-id — the policy a curation pipeline actually wants when
    * differently-mangled copies of a page collide: keep the cleanest
    * one, not the lowest id. Fingerprint and score are computed in the
    * SAME row-local projection chain (no join), so the plan is still
    * exactly one hash shuffle on the fingerprint; the representative
    * is a running first_value over the (score, id)-ordered group. */
  def exactDedupBest(docs: DataFrame): DataFrame = {
    val scored = qualityFrame(
      docs.withColumn("fingerprint", md5(normText(col("text")))),
      passthrough = Seq("fingerprint"))
      .select(col("doc_id"), col("fingerprint"), col("quality_score"))
    val w = Window.partitionBy(col("fingerprint"))
      .orderBy(col("quality_score").desc_nulls_last, col("doc_id"))
    scored
      .withColumn("rep_id", first(col("doc_id")).over(w))
      .withColumn("is_dup", (col("doc_id") =!= col("rep_id")).cast("int"))
      .orderBy(col("doc_id"))
  }

  /** [[cleanText]] patterns, shared with the oracle SQL. RE2 ∩ Java
    * subset (explicit character classes — no \s/\S dialect risk, no
    * backrefs, no lookaround) so both engines agree match-for-match.
    * Urls: scheme to the next space; tags: one balanced angle pair
    * (never spans two tags — [^<>] can't cross a '>'). */
  val UrlRe = "https?://[^ ]+"
  val TagRe = "<[^<>]+>"
  private val SpaceRe = "[ \\t\\n\\r]+"

  /** Deterministic boilerplate planting — the oracle fixture for the
    * cleaning gate (the synthetic corpus has no URLs or markup, so an
    * unplanted oracle would be an all-zeros gate). Every `every`-th
    * doc gets a doc_id-derived URL, an HTML fragment and doubled
    * spaces appended, mirrored verbatim in the oracle SQL. */
  val CleanPlantEvery = 6

  def plantNoise(docs: DataFrame, every: Int = CleanPlantEvery): DataFrame = {
    require(every > 0)
    docs.withColumn("text",
      when(col("doc_id") % every === 0,
        concat(col("text"),
          lit(" see https://ex"), col("doc_id").cast("string"),
          lit(".com/a?q=1  and <div class=\"x\">tagged</div>  end")))
        .otherwise(col("text")))
  }

  /** Boilerplate removal: strip URLs and HTML-ish tags, collapse runs
    * of whitespace, and report what was removed — the normalization
    * pass a web-scrape corpus takes before any quality scoring or
    * dedup. Pure row-local regexp column expressions (codegen'd, no
    * UDF): linear with the scan at any corpus size, full pushdown
    * below it. Counts are taken BEFORE removal so the output is
    * self-describing (url_count/tag_count say why len shrank); NULL
    * text propagates NULL everywhere. */
  def cleanText(docs: DataFrame): DataFrame = {
    val stripped =
      regexp_replace(regexp_replace(col("text"), UrlRe, " "), TagRe, " ")
    docs.select(
      col("doc_id"),
      regexp_count(col("text"), lit(UrlRe)).cast("long").as("url_count"),
      regexp_count(col("text"), lit(TagRe)).cast("long").as("tag_count"),
      length(col("text")).cast("long").as("len_before"),
      trim(regexp_replace(stripped, SpaceRe, " ")).as("cleaned"))
      .withColumn("len_after", length(col("cleaned")).cast("long"))
      .select(col("doc_id"), col("url_count"), col("tag_count"),
        col("len_before"), col("len_after"), col("cleaned"))
      .orderBy(col("doc_id"))
  }

  /** Corpus card: the one-row "nutrition label" a dataset ships with
    * — doc/token/source counts, mean tokens per doc, exact-duplicate
    * fraction (1 − distinct fingerprints/docs), mean quality score
    * and the predicted-unknown-language share — every number derived
    * from the SAME expressions the dedicated queries gate, assembled
    * in one pass over the corpus plus three 1-row broadcast combines.
    * Doubles are single divisions of exact counts except mean_quality
    * (sum of per-doc scores, rounded to 6 so summation order can't
    * move the hash). */
  def corpusCard(docs: DataFrame): DataFrame = {
    val langs = stopwords.keys.toSeq.sorted
    val scoreRefs = langs.map(l => l -> col(s"s_$l")).toMap
    // ONE corpus pass: every per-doc signal projects off a single
    // staged tokenization, then one aggregate — a card that costs
    // three scans would be three cards at 100 TB
    val perDoc = docs
      .select(col("doc_id"), col("source"), col("text"),
        tokens(col("text")).as("toks"))
      .select(
        Seq(col("source"),
          size(col("toks")).cast("long").as("n_toks"),
          md5(normText(col("text"))).as("fp"),
          (least(lit(1.0), size(col("toks")) / lit(100.0)) *
            (lit(0.5) + lit(0.5) *
              (stopwordHits(col("toks"), stopwords("en")).cast("double") /
                nullif(size(col("toks")), lit(0)))) *
            (length(regexp_replace(lower(col("text")), "[^a-z]", ""))
              .cast("double") / nullif(length(col("text")), lit(0))))
            .as("quality_score")) ++
          langs.map(l => stopwordHits(col("toks"), stopwords(l)).as(s"s_$l")): _*)
      .withColumn("lang_pred", langPred(scoreRefs))
    perDoc
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("fp")).as("n_distinct_fp"),
        round(sum(col("quality_score")), 6).as("sum_quality"),
        count(when(col("lang_pred") === "unknown", 1)).as("n_unknown"))
      .select(col("n_docs"), col("n_tokens"), col("n_sources"),
        (col("n_tokens").cast("double") / col("n_docs"))
          .as("mean_doc_tokens"),
        (lit(1.0) - col("n_distinct_fp").cast("double") / col("n_docs"))
          .as("exact_dup_frac"),
        (col("sum_quality") / col("n_docs")).as("mean_quality"),
        (col("n_unknown").cast("double") / col("n_docs"))
          .as("unknown_lang_frac"))
  }

  /** Zipf fit of the term-frequency distribution: OLS of ln(freq) on
    * ln(rank) over the top-`topK` terms — natural corpora sit near
    * α ≈ 1 (slope −1); a collapsed α flags template/boilerplate
    * corpora and an inflated one flags vocabulary starvation, so this
    * is the one-row "does this corpus look like language" gauge next
    * to [[vocabulary]].
    *
    * Shape: term counts are the [[vocabulary]] aggregate; the top-K
    * cut is TakeOrdered and everything after runs on K rows (the
    * rank window included — K-sized, never vocab-sized); the vocab
    * size rides a broadcast 1-row frame. Determinism: libm ln is not
    * correctly rounded, and the K-term double sums are tree-order
    * dependent — both land orders of magnitude inside the gate's
    * 1e-6 relative tolerance (the BM25 precedent). */
  def zipfFit(docs: DataFrame, topK: Int = 100): DataFrame = {
    val freq = docs.select(explode(tokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("n_occ"))
    val nv = freq.agg(count(lit(1)).as("n_vocab"))
    val ranked = freq.orderBy(col("n_occ").desc, col("term")).limit(topK)
      .withColumn("rank", row_number().over(org.apache.spark.sql.expressions
        .Window.orderBy(col("n_occ").desc, col("term"))))
    val pts = ranked.select(log(col("rank").cast("double")).as("lx"),
      log(col("n_occ").cast("double")).as("ly"))
    pts
      .agg(count(lit(1)).as("k"), sum(col("lx")).as("sx"),
        sum(col("ly")).as("sy"), sum(col("lx") * col("ly")).as("sxy"),
        sum(col("lx") * col("lx")).as("sxx"),
        sum(col("ly") * col("ly")).as("syy"))
      .crossJoin(broadcast(nv))
      .select(col("n_vocab"), col("k").as("n_top_terms"),
        (-(col("k") * col("sxy") - col("sx") * col("sy")) /
          (col("k") * col("sxx") - col("sx") * col("sx"))).as("zipf_alpha"),
        (((col("k") * col("sxy") - col("sx") * col("sy")) *
          (col("k") * col("sxy") - col("sx") * col("sy"))) /
          ((col("k") * col("sxx") - col("sx") * col("sx")) *
            (col("k") * col("syy") - col("sy") * col("sy")))).as("r2"))
  }

  /** Per-source Zipf fit — [[zipfFit]] at the grain drift actually
    * happens: α per source over its own top-`topK` rank–frequency
    * curve. Natural text sits near α≈1; a source whose α runs hot is
    * template-flooded (head mass), one running cold is id/OCR junk
    * (flat head). Read next to [[sourceKl]]: KL says a source's
    * rates differ from the corpus, this says whether its SHAPE is
    * even Zipfian.
    *
    * Determinism: per-source points fold in RANK order (sorted
    * struct list, ≤topK rows per source — the B-point OLS
    * discipline), because unlike [[zipfFit]]'s single TakeOrdered
    * partition the per-source frames are distributed; zero-variance
    * denominators null out via nullif on both engines. Shape: one
    * (source, term) aggregate, a per-source rank window (parallel
    * across sources), grid-sized folds. */
  def zipfBySource(docs: DataFrame, topK: Int = 100): DataFrame = {
    // two consumers (vocab counts, ranked points) — persist or the
    // corpus tokenize+aggregate runs twice
    val freq = docs
      .select(col("source"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("n_occ"))
      .transform(graft.Caches.hold)
    val nv = freq.groupBy(col("source"))
      .agg(count(lit(1)).as("n_vocab"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_occ").desc, col("term"))
    val pts = freq.withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
      .select(col("source"), col("rank"),
        log(col("rank").cast("double")).as("lx"),
        log(col("n_occ").cast("double")).as("ly"))
    val mm = Ranking.olsMoments(pts, Seq("source"),
      struct(col("rank"), col("lx"), col("ly")),
      _.getField("lx"), _.getField("ly"))
    mm.join(nv, Seq("source"))
      .select(col("source"), col("n_vocab"), col("k").as("n_top_terms"),
        (-(col("k") * col("sxy") - col("sx") * col("sy")) /
          nullif(col("k") * col("sxx") - col("sx") * col("sx"),
            lit(0.0))).as("zipf_alpha"),
        (((col("k") * col("sxy") - col("sx") * col("sy")) *
          (col("k") * col("sxy") - col("sx") * col("sy"))) /
          nullif((col("k") * col("sxx") - col("sx") * col("sx")) *
            (col("k") * col("syy") - col("sy") * col("sy")),
            lit(0.0))).as("r2"))
      .orderBy(col("source"))
  }

  /** Heaps'-law vocabulary-growth gauge — [[zipfFit]]'s companion on
    * the OTHER axis: V(T) ≈ K·T^β over cumulative corpus prefixes.
    * One row per checkpoint with the prefix's exact token and vocab
    * counts plus the ln–ln OLS fit (β, ln K, r²) as constant columns.
    * Read it as: β far off ~0.5 or a falling r² says the corpus's
    * vocabulary growth regime shifted (template flooding pushes β
    * toward 0, OCR noise or id-like junk toward 1) — the same
    * one-number drift gauge Zipf α gives for the frequency axis.
    *
    * Prefixes are by doc_id on a FIXED `checkpoints`-cell id grid
    * (bucket = ((doc_id−min)·B) div span + 1 — row-local off ONE
    * collected min/max, the derived-knob discipline; exact in
    * integers): no global row_number sort, so the plan has no
    * corpus-sized single partition anywhere, and PlanAuditSpec pins
    * the scan count (the naive formulation re-scanned the corpus 10×
    * — once per derived branch). The tokenized frame persists for its
    * two consumers; per-bucket token sums and per-term
    * first-occurrence buckets (one vocab-grain shuffle) cumulate over
    * the B-row spine (driver-small window, itself persisted for the
    * fit and the output); empty id ranges carry forward. ln/exp-free
    * integers everywhere except the B-point ln–ln fit, whose closed
    * form is the q_trend/zipf discipline. */
  def heapsFit(docs: DataFrame, checkpoints: Int = 10): DataFrame = {
    require(checkpoints >= 3, "need at least 3 checkpoints for a fit")
    val b = checkpoints.toLong
    val idRow = docs.agg(min(col("doc_id")), max(col("doc_id"))).head
    require(!idRow.isNullAt(0), "heapsFit needs a non-empty corpus")
    val (minId, span) = (idRow.getLong(0), idRow.getLong(1) - idRow.getLong(0) + 1)
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("bucket",
        expr(s"((doc_id - ${minId}L) * $b) div ${span}L") + 1L)
      .transform(graft.Caches.hold)
    val bucketTokens = toks
      .select(col("bucket"), size(col("toks")).as("nt"))
      .groupBy(col("bucket")).agg(sum(col("nt")).as("tb"))
    val firstBuckets = toks
      .select(col("bucket"), explode(col("toks")).as("term"))
      .groupBy(col("term")).agg(min(col("bucket")).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("nw"))
    val spine = docs.sparkSession.range(1, b + 1)
      .select(col("id").as("bucket"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("bucket")).rowsBetween(Window.unboundedPreceding, 0)
    val cum = spine
      .join(bucketTokens, Seq("bucket"), "left_outer")
      .join(firstBuckets, Seq("bucket"), "left_outer")
      .select(col("bucket"),
        coalesce(col("tb"), lit(0L)).as("tb"),
        coalesce(col("nw"), lit(0L)).as("nw"))
      .withColumn("cum_tokens", sum(col("tb")).over(w))
      .withColumn("cum_vocab", sum(col("nw")).over(w))
      .where(col("cum_tokens") > 0)
      .transform(graft.Caches.hold)
    val pts = cum.select(log(col("cum_tokens").cast("double")).as("lx"),
      log(col("cum_vocab").cast("double")).as("ly"))
    // ≤B-point OLS moments fold in FIXED lx order (lx is strictly
    // increasing across prefixes) — a plain shuffled double sum would
    // be order-dependent in the last ULP
    val fit = Ranking.olsMoments(pts, Nil, struct(col("lx"), col("ly")),
        _.getField("lx"), _.getField("ly"))
      .withColumn("heaps_beta",
        (col("k") * col("sxy") - col("sx") * col("sy")) /
          (col("k") * col("sxx") - col("sx") * col("sx")))
      .withColumn("heaps_lnk",
        (col("sy") - col("heaps_beta") * col("sx")) / col("k"))
      .withColumn("r2",
        ((col("k") * col("sxy") - col("sx") * col("sy")) *
          (col("k") * col("sxy") - col("sx") * col("sy"))) /
          ((col("k") * col("sxx") - col("sx") * col("sx")) *
            (col("k") * col("syy") - col("sy") * col("sy"))))
      .select(col("heaps_beta"), col("heaps_lnk"), col("r2"))
    cum.crossJoin(broadcast(fit))
      .select(col("bucket").as("checkpoint"), col("cum_tokens"),
        col("cum_vocab"), col("heaps_beta"), col("heaps_lnk"), col("r2"))
      .orderBy(col("checkpoint"))
  }

  /** Quality drift across ingestion order: mean composite quality
    * score per doc_id-grid bucket (the [[heapsFit]] id grid — no
    * global sort), with the OLS slope/intercept/r² of mean quality on
    * bucket index as constant columns. A sliding scraper, a source
    * going paywalled, or a pipeline change mid-ingestion shows up as
    * a trend here while the corpus-wide mean still looks fine — the
    * ingestion-axis twin of the per-source drift QA.
    *
    * Exactness: scores quantize to integer micro-units per doc
    * (bigint bucket sums exact in any order; NULL-score docs — empty
    * text — drop on both sides), each bucket mean is two divisions,
    * and the ≤`buckets`-point OLS moments fold in FIXED bucket order
    * (a plain double sum over a shuffled aggregate would be
    * order-dependent). Shape: one scan + one bucket-grain aggregate;
    * everything after is B-row arithmetic. */
  def qualityTrend(docs: DataFrame, buckets: Int = 10): DataFrame = {
    require(buckets >= 3, "need at least 3 buckets for a fit")
    val b = buckets.toLong
    val idRow = docs.agg(min(col("doc_id")), max(col("doc_id"))).head
    require(!idRow.isNullAt(0), "qualityTrend needs a non-empty corpus")
    val (minId, span) = (idRow.getLong(0), idRow.getLong(1) - idRow.getLong(0) + 1)
    // the B-row bucket frame persists: the fit and the output both
    // read it — unpersisted, each would replay the corpus scan
    val per = qualityFrame(docs, Nil)
      .where(col("quality_score").isNotNull)
      .select(
        (expr(s"((doc_id - ${minId}L) * $b) div ${span}L") + 1L)
          .as("bucket"),
        floor(col("quality_score") * 1000000 + 0.5).cast("bigint").as("qm"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("qm")).as("s"))
      .withColumn("mean_quality",
        col("s").cast("double") / col("n_docs") / lit(1000000.0))
      .transform(graft.Caches.hold)
    val fit = Ranking.olsMoments(per, Nil,
        struct(col("bucket"), col("mean_quality")),
        _.getField("bucket").cast("double"), _.getField("mean_quality"))
      .withColumn("slope",
        (col("k") * col("sxy") - col("sx") * col("sy")) /
          (col("k") * col("sxx") - col("sx") * col("sx")))
      .withColumn("intercept",
        (col("sy") - col("slope") * col("sx")) / col("k"))
      .withColumn("r2",
        ((col("k") * col("sxy") - col("sx") * col("sy")) *
          (col("k") * col("sxy") - col("sx") * col("sy"))) /
          ((col("k") * col("sxx") - col("sx") * col("sx")) *
            (col("k") * col("syy") - col("sy") * col("sy"))))
      .select(col("slope"), col("intercept"), col("r2"))
    per.crossJoin(broadcast(fit))
      .select(col("bucket").as("checkpoint"), col("n_docs"),
        col("mean_quality"), col("slope"), col("intercept"), col("r2"))
      .orderBy(col("checkpoint"))
  }

  /** Per-source out-of-vocabulary rate against the top-`topN` corpus
    * vocabulary — the tokenizer-planning number behind
    * [[vocabulary]]: a source whose occurrence mass falls outside the
    * head vocabulary will shred into subwords (high fertility) or
    * UNKs under any bounded tokenizer, and the TYPE-level share next
    * to the token-level one separates "rare words used often" from
    * "a long noisy tail". OOV here = not among the top `topN` terms
    * by corpus occurrence count (ties by term — [[vocabulary]]'s
    * exact cut, so the two reports agree on what "in vocab" means).
    *
    * Shape: one (source, term) hash aggregate (the tfidf exchange),
    * a TakeOrdered top-N (heap, no global sort), then the membership
    * rides a broadcast back onto the (source, term) grain — the
    * corpus never shuffles twice. Shares are single divisions of
    * exact bigints. */
  def oovRate(docs: DataFrame, topN: Int): DataFrame = {
    val tf = docs
      .select(col("source"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("cnt"))
    val top = tf.groupBy(col("term")).agg(sum(col("cnt")).as("ct"))
      .orderBy(col("ct").desc, col("term")).limit(topN)
      .select(col("term"), lit(1).as("in_vocab"))
    tf.join(broadcast(top), Seq("term"), "left")
      .groupBy(col("source"))
      .agg(sum(col("cnt")).as("n_tokens"),
        coalesce(sum(when(col("in_vocab").isNull, col("cnt"))), lit(0L))
          .as("oov_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L))
          .as("oov_types"))
      .select(col("source"), col("n_tokens"), col("oov_tokens"),
        (col("oov_tokens").cast("double") / col("n_tokens"))
          .as("oov_share"),
        col("n_types"), col("oov_types"),
        (col("oov_types").cast("double") / col("n_types"))
          .as("oov_type_share"))
      .orderBy(col("source"))
  }

  /** Head-coverage curve of the bigram distribution: for each k in
    * `ks`, the share of ALL bigram occurrences covered by the top-k
    * bigrams (count desc, bigram asc — [[bpePairs]]' exact order).
    * The "how Zipfian is the phrase head" gauge that sizes phrase
    * tables, cache tiers and merge budgets: 80% coverage at k=1000
    * and at k=100 000 are very different corpora, a fact the single
    * Zipf exponent compresses away.
    *
    * Shape: one bigram hash aggregate (the only corpus-sized
    * exchange), a TakeOrdered top-max(k) heap cut, then the rank and
    * cumulative windows run over max(k) ROWS — never the full bigram
    * vocabulary — and each requested k reads one row. The total is a
    * broadcast 1-row frame. */
  def ngramCoverage(docs: DataFrame, ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ > 0), "ks must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    val maxK = ks.max
    val counts = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(explode(
        when(size(col("toks")) >= 2,
          transform(sequence(lit(1), size(col("toks")) - 1),
            i => concat_ws(" ", element_at(col("toks"), i),
              element_at(col("toks"), i + 1))))
          .otherwise(array().cast("array<string>"))).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("nn"))
      // two consumers (total + top cut): persist, released by caller
      .transform(graft.Caches.hold)
    val total = counts.agg(sum(col("nn")).as("total_occ"))
    val w = Window.orderBy(col("nn").desc, col("pair"))
    val ranked = counts.orderBy(col("nn").desc, col("pair")).limit(maxK)
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("cum", sum(col("nn")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    ks.sorted.map(_.toLong).toDF("k")
      .crossJoin(ranked.select(col("rk"), col("cum")))
      .where(col("rk") <= col("k"))
      .groupBy(col("k"))
      .agg(max(col("rk")).as("n_ngrams"), max(col("cum")).as("covered_occ"))
      .crossJoin(broadcast(total))
      .select(col("k"), col("n_ngrams"), col("covered_occ"),
        col("total_occ"),
        (col("covered_occ").cast("double") / col("total_occ"))
          .as("coverage"))
      .orderBy(col("k"))
  }

  /** Per-source document-length bands: exact quartiles + p95 and the
    * bigint-exact mean of character counts per source — the
    * distribution the [[lengthOutliers]] 3σ flags are read against
    * (a fat p95/p50 gap is a long-tail source where σ-based flags
    * under-fire; percentiles say it directly) and the input a
    * chunking or packing plan sizes its windows from.
    *
    * Shape: the corpus collapses onto the (source, n_chars) integer
    * grid first, then the exact percentiles run WITH FREQUENCIES
    * there (the event-gaps grid contract — interpolations on integer
    * grids are exact doubles in both engines); the mean is one
    * division of exact bigints. */
  def lengthBands(docs: DataFrame): DataFrame =
    docs.select(col("source"), col("n_chars"))
      .groupBy(col("source"), col("n_chars"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("source"))
      .agg(sum(col("cnt")).as("n_docs"),
        sum(col("n_chars") * col("cnt")).as("sum_chars"),
        expr("percentile(n_chars, array(0.25D, 0.5D, 0.75D, 0.95D), cnt)")
          .as("ps"))
      .select(col("source"), col("n_docs"),
        (col("sum_chars").cast("double") / col("n_docs")).as("mean_chars"),
        element_at(col("ps"), 1).as("p25_chars"),
        element_at(col("ps"), 2).as("p50_chars"),
        element_at(col("ps"), 3).as("p75_chars"),
        element_at(col("ps"), 4).as("p95_chars"))
      .orderBy(col("source"))

  /** Per-source length outliers: documents whose character count sits
    * more than three population standard deviations from their OWN
    * source's mean — truncated shards, concatenation accidents and
    * scrape blowups surface as length outliers long before a content
    * check sees them, and the per-source frame matters because a
    * normal length for one source is an outlier for another.
    *
    * Determinism: the 3σ test is integer cross-multiplication —
    * |x−μ|>3σ ⟺ (n·x−S₁)² > 9·(n·Σx²−S₁²) — on decimal(38,0) moments
    * (n·x−S₁ squared clears int64 at gate corpus sizes; the oracle's
    * HUGEINT is exact, so Spark must be too), no double anywhere near
    * the cut. Shape: one source-grain moment aggregate rides back on
    * a broadcast (sources are few), so the corpus is scanned twice at
    * worst and never shuffled on the doc grain; mean and share are
    * final-expression double divisions. */
  def lengthOutliers(docs: DataFrame): DataFrame = {
    val d = docs.select(col("source"),
      col("n_chars").cast("decimal(38,0)").as("x"))
    val m = d.groupBy(col("source"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("nn"),
        sum(col("x")).as("s1"), sum(col("x") * col("x")).as("s2"))
    d.join(broadcast(m), "source")
      .withColumn("dev", col("nn") * col("x") - col("s1"))
      .withColumn("is_out",
        when(col("dev") * col("dev") >
          lit(9) * (col("nn") * col("s2") - col("s1") * col("s1")), 1L)
          .otherwise(0L))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("is_out")).as("n_outliers"),
        max(col("x")).cast("bigint").as("max_chars"),
        (first(col("s1")).cast("double") /
          first(col("nn")).cast("double")).as("mean_chars"))
      .select(col("source"), col("n_docs"), col("n_outliers"),
        (col("n_outliers").cast("double") / col("n_docs"))
          .as("outlier_share"),
        col("mean_chars"), col("max_chars"))
      .orderBy(col("source"))
  }
}
