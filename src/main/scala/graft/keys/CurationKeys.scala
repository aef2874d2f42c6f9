package graft
package keys

import org.apache.spark.sql.functions._
import graft.operators._
import Shared._

/** Corpus curation: sampling, filtering, mixtures, chunking and
  * packing. */
object CurationKeys extends Family {
  /** q_stratified_sample: per-language keep rates (language mixture
    * reweighting). Chosen to split every stratum non-trivially on the
    * test corpus: fr kept whole, en/es halved, de/zh quartered. */
  private val SampleRates = Map(
    "en" -> 0.5, "fr" -> 1.0, "de" -> 0.25, "es" -> 0.5, "zh" -> 0.25)
  private val SampleBuckets = 10000

  /** q_blocklist: corpus-vocabulary terms (synthetic docs have no real
    * profanity; what matters is the deterministic filter contract) and
    * a hit-fraction threshold that splits the corpus ~80/20. */
  private val BlocklistTerms = Seq("slow", "big", "customer")
  private val BlocklistMaxFrac = 0.12

  /** q_canary_scan phrases: multi-word substrings with corpus hit
    * counts spanning rare→common, plus one deliberately absent canary
    * (index 4) so the report proves a zero is a zero. Order matters —
    * bit i of the mask is phrase i. */
  private val CanaryPhrases = Seq("agg join small", "table window table",
    "fast spark", "scan slow fast", "benchmark answer key")

  /** q_chunks/q_chunk_dedup: 32-token windows every 24 tokens
    * (8-token overlap) — small enough that the planted near-dup docs
    * share exact windows at every SF. */
  private val ChunkSize = 32
  private val ChunkStride = 24

  /** q_pack: training-bin token budget (≈16 chunks per bin). */
  private val PackContextLen = 512

  /** q_quality_cap: best docs kept per source. */
  private val QualityPerSource = 3

  /** q_curriculum: equal-population quality tiers. */
  private val CurriculumBuckets = 10

  /** q_token_budget: spend half the corpus's tokens; priority weight
    * 2 for even-suffixed sources, 1 for odd (standing in for a
    * user-supplied source-priority table, derived from the source
    * name so the oracle replays it). */
  private val TokenBudgetNum = 1L
  private val TokenBudgetDen = 2L
  private def tokenBudgetWeight =
    when(regexp_extract(col("source"), "([0-9]+)$", 1).cast("int") % 2 === 0,
      lit(2L)).otherwise(lit(1L))

  private val IngestBuckets = 20

  /** q_mixture: per-source target weights (unlisted sources weight 1)
    * and the token budget as a fraction of the corpus. Weights are
    * dyadic rationals so every windowed partial sum is exactly
    * representable — the normalizer is summation-order-independent. */
  private val MixtureWeights = Map("src0" -> 4.0, "src3" -> 2.0, "src7" -> 0.5)
  private val MixtureBudget = 0.5

  /** q_sample_fixed: docs kept per stratum — binds (strata are larger)
    * at every SF. */
  private val FixedPerStratum = 30

  /** q_weighted_sample: docs drawn per source by token-mass A-ES keys
    * — binds at every SF (sources are larger). */
  private val WeightedPerStratum = 25

  /** q_split: 80/10/10 train/val/test over [[SampleBuckets]] salted
    * hash buckets. */
  private val SplitTrainBuckets = 8000
  private val SplitValBuckets = 1000

  /** q_shard_plan: output shards the balance plan targets. */
  private val ShardCount = 16

  /** Oracle twins of Curation.sampleBucket + the SampleRates CASE —
    * shared by q_stratified_sample and q_curation_funnel. */
  private def sampleBucketSql(id: String) =
    s"('0x' || substr(md5(CAST($id AS VARCHAR)), 1, 6))::BIGINT % $SampleBuckets"
  private lazy val SampleCaseSql = SampleRates.keys.toSeq.sorted.map(l =>
    s"WHEN '$l' THEN ${math.round(SampleRates(l) * SampleBuckets)}")
    .mkString("CASE lang ", " ", " ELSE 0 END")

  /** DuckDB replay of Curation.chunks(ChunkSize, ChunkStride):
    * per-doc sliding token windows with md5 fingerprints. */
  private lazy val ChunksSql =
    s"""SELECT doc_id, CAST(ix AS INTEGER) AS chunk_ix,
          CAST(ix * $ChunkStride AS INTEGER) AS start_tok,
          CAST(len(list_slice(toks, ix * $ChunkStride + 1,
            ix * $ChunkStride + $ChunkSize)) AS INTEGER) AS n_chunk_toks,
          md5(array_to_string(list_slice(toks, ix * $ChunkStride + 1,
            ix * $ChunkStride + $ChunkSize), ' ')) AS chunk_fp
        FROM (
          SELECT doc_id, toks, unnest(range(0,
            CASE WHEN nt <= $ChunkSize THEN 1
                 ELSE (nt - $ChunkSize + ${ChunkStride - 1}) // $ChunkStride + 1
            END)) AS ix
          FROM (SELECT doc_id, toks, len(toks) AS nt
                FROM (SELECT doc_id, $ToksSql AS toks FROM documents))
          WHERE nt > 0)"""

  /** Oracle of Curation.mixturePlan under MixtureWeights/MixtureBudget
    * — shared by q_mixture and q_mixture_sample's epochs leg. */
  private lazy val MixtureSql = {
    val wcase = MixtureWeights.keys.toSeq.sorted.map(k =>
      s"WHEN '$k' THEN ${MixtureWeights(k)}")
      .mkString("CASE source ", " ", " ELSE 1.0 END")
    s"""WITH t AS (SELECT source, $ToksSql AS toks FROM documents),
        g AS (SELECT source, count(*) AS n_docs,
          CAST(coalesce(sum(len(toks)), 0) AS BIGINT) AS n_tokens
          FROM t GROUP BY 1),
        w AS (SELECT source, n_docs, n_tokens, $wcase AS weight,
          CAST(sum(n_tokens) OVER () AS BIGINT) AS tot_tokens,
          sum($wcase) OVER () AS tot_weight FROM g),
        x AS (SELECT source, n_docs, n_tokens,
          CAST(n_tokens AS DOUBLE) / nullif(tot_tokens, 0) AS avail_share,
          weight / nullif(tot_weight, 0.0) AS target_share,
          tot_tokens FROM w)
        SELECT source, n_docs, n_tokens, avail_share, target_share,
          CAST(floor((target_share * $MixtureBudget) *
            CAST(tot_tokens AS DOUBLE)) AS BIGINT) AS target_tokens,
          CAST(CAST(floor((target_share * $MixtureBudget) *
            CAST(tot_tokens AS DOUBLE)) AS BIGINT) AS DOUBLE) /
            nullif(n_tokens, 0) AS epochs
        FROM x ORDER BY source"""
  }

  val keys: Seq[Key] = Seq(
    // one-row corpus concentration (doc + token Gini per source)
    key("q_source_gini", (s, d) =>
      Curation.sourceGini(Tables.documents(s, d)))(
      // Rank-weighted integer Gini (the giniByNation form) over the
      // sources grid, two mirrored double divisions.
      s"""WITH tk AS (SELECT source, len($ToksSql) AS n_toks
            FROM documents),
          s AS (SELECT source, count(*) AS nd,
            CAST(sum(n_toks) AS BIGINT) AS nt FROM tk GROUP BY 1),
          r AS (SELECT *,
            row_number() OVER (ORDER BY nd, source) AS rd,
            row_number() OVER (ORDER BY nt, source) AS rt FROM s)
          SELECT CAST(count(*) AS BIGINT) AS n_sources,
            (2.0 * sum(rd * nd)) /
              (CAST(count(*) AS DOUBLE) * sum(nd)) -
              CAST(count(*) + 1 AS DOUBLE) / count(*) AS gini_docs,
            (2.0 * sum(rt * nt)) /
              (CAST(count(*) AS DOUBLE) * sum(nt)) -
              CAST(count(*) + 1 AS DOUBLE) / count(*) AS gini_tokens,
            CAST(max(nd) AS DOUBLE) / CAST(sum(nd) AS DOUBLE)
              AS top_doc_share,
            CAST(max(nt) AS DOUBLE) / CAST(sum(nt) AS DOUBLE)
              AS top_token_share
          FROM r"""),
    key("q_stratified_sample", (s, d) =>
      Curation.stratifiedSample(Tables.documents(s, d), SampleRates,
        buckets = SampleBuckets, passthrough = Seq("source")))(
      s"""SELECT doc_id, lang, source, bucket FROM (
            SELECT *, ${sampleBucketSql("doc_id")} AS bucket
            FROM documents)
          WHERE bucket < $SampleCaseSql
          ORDER BY doc_id"""),
    key("q_blocklist", (s, d) =>
      Curation.blocklistFilter(Tables.documents(s, d), BlocklistTerms,
        BlocklistMaxFrac))({
      val list = BlocklistTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH tk AS (SELECT doc_id, $ToksSql AS toks FROM documents),
          b AS (SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_toks,
            list_filter(toks, t -> list_contains([$list], t)) AS ha FROM tk)
          SELECT doc_id, n_toks, CAST(len(ha) AS INTEGER) AS bl_hits,
            ha[1] AS first_term,
            CAST(len(ha) AS DOUBLE) / nullif(n_toks, 0) AS bl_frac,
            CAST(len(ha) AS DOUBLE) / nullif(n_toks, 0) <= $BlocklistMaxFrac
              AS kept
          FROM b ORDER BY doc_id"""
    }),
    key("q_canary_scan", (s, d) =>
      Curation.canaryScan(Tables.documents(s, d), CanaryPhrases))({
      // The automaton's mask replayed as a sum of contains-flags (bit i
      // = phrase i), then the same integer bit arithmetic for the
      // derived columns on both sides.
      val maskSql = CanaryPhrases.zipWithIndex.map { case (p, i) =>
        s"(CASE WHEN contains(text, '$p') THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH m AS (SELECT doc_id, CAST($maskSql AS BIGINT) AS mask
            FROM documents)
          SELECT doc_id, mask, CAST(bit_count(mask) AS INT) AS n_pats,
            CASE WHEN mask <> 0
              THEN CAST(bit_count((mask & -mask) - 1) AS INT) END
              AS first_idx
          FROM m ORDER BY doc_id"""
    }),
    key("q_chunks", (s, d) =>
      Curation.chunks(Tables.documentsFloored(s, d), ChunkSize, ChunkStride))(
      (ChunksSql + " ORDER BY doc_id, chunk_ix")),
    key("q_chunk_dedup", (s, d) =>
      Curation.chunkDedup(Tables.documents(s, d), ChunkSize, ChunkStride))(
      s"""WITH c AS ($ChunksSql)
          SELECT chunk_fp, count(*) AS n_occ,
            count(DISTINCT doc_id) AS n_docs, min(doc_id) AS first_doc
          FROM c GROUP BY chunk_fp HAVING count(*) > 1 ORDER BY chunk_fp"""),
    key("q_pack", (s, d) =>
      Curation.packChunks(Tables.documents(s, d), PackContextLen,
        ChunkSize, ChunkStride).orderBy(col("doc_id"), col("chunk_ix")))(
      s"""WITH c AS ($ChunksSql)
          SELECT doc_id, chunk_ix, start_tok, n_chunk_toks, chunk_fp,
            CAST((sum(n_chunk_toks) OVER w - n_chunk_toks)
              // $PackContextLen AS BIGINT) AS bin_id,
            CAST((sum(n_chunk_toks) OVER w - n_chunk_toks)
              % $PackContextLen AS BIGINT) AS bin_offset
          FROM c
          WINDOW w AS (ORDER BY doc_id, chunk_ix
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          ORDER BY doc_id, chunk_ix"""),
    // packing fragmentation: docs-per-bin distribution + straddling
    // chunks — the cross-document-attention gauge for packed training
    key("q_pack_frag", (s, d) =>
      Curation.packFragmentation(Tables.documents(s, d), PackContextLen,
        ChunkSize, ChunkStride))(
      // The q_pack prefix-sum chain rolled to bins, then the docs-per-
      // bin grid; a straddle = chunk whose tokens cross its bin's end.
      s"""WITH c AS ($ChunksSql),
          p AS (SELECT doc_id, n_chunk_toks,
            CAST((sum(n_chunk_toks) OVER w - n_chunk_toks)
              // $PackContextLen AS BIGINT) AS bin_id,
            CAST((sum(n_chunk_toks) OVER w - n_chunk_toks)
              % $PackContextLen AS BIGINT) AS bin_offset
            FROM c
            WINDOW w AS (ORDER BY doc_id, chunk_ix
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
          pb AS (SELECT bin_id, CAST(count(*) AS BIGINT) AS n_chunks,
            CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
            CAST(sum(CASE WHEN bin_offset + n_chunk_toks
              > $PackContextLen THEN 1 ELSE 0 END) AS BIGINT) AS n_straddle
            FROM p GROUP BY 1),
          tot AS (SELECT CAST(count(*) AS BIGINT) AS total_bins FROM pb)
          SELECT n_docs, CAST(count(*) AS BIGINT) AS n_bins,
            CAST(sum(n_chunks) AS BIGINT) AS n_chunks,
            CAST(sum(n_straddle) AS BIGINT) AS n_straddle,
            CAST(count(*) AS DOUBLE) /
              (SELECT CAST(total_bins AS DOUBLE) FROM tot) AS bin_share
          FROM pb GROUP BY 1 ORDER BY n_docs"""),
    key("q_curation_funnel", (s, d) =>
      Curation.curationFunnel(Tables.documents(s, d), BlocklistTerms,
        BlocklistMaxFrac, SampleRates, SampleBuckets))({
      val list = BlocklistTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH $QualityCtes,
          ntok AS (SELECT doc_id, len(toks) AS n FROM t),
          qk AS (SELECT doc_id FROM rr WHERE reason = 'ok'),
          bk AS (SELECT doc_id FROM (
            SELECT doc_id, CAST(len(list_filter(toks,
              tk -> list_contains([$list], tk))) AS DOUBLE) /
              nullif(len(toks), 0) AS f FROM t)
            WHERE f <= $BlocklistMaxFrac),
          s2 AS (SELECT qk.doc_id FROM qk JOIN bk USING (doc_id)),
          dd AS (SELECT s2.doc_id,
            md5($NormSql) AS fp, d.lang
            FROM s2 JOIN documents d USING (doc_id)),
          s3 AS (SELECT doc_id, lang FROM (
            SELECT *, min(doc_id) OVER (PARTITION BY fp) AS rep FROM dd)
            WHERE doc_id = rep),
          s4 AS (SELECT doc_id FROM s3
            WHERE ${sampleBucketSql("doc_id")} < $SampleCaseSql)
          SELECT * FROM (
            SELECT 0 AS stage_ix, 'raw' AS stage, count(*) AS n_docs,
              CAST(coalesce(sum(n), 0) AS BIGINT) AS n_tokens FROM ntok
            UNION ALL SELECT 1, 'quality', count(*),
              CAST(coalesce(sum(n), 0) AS BIGINT)
              FROM qk JOIN ntok USING (doc_id)
            UNION ALL SELECT 2, 'blocklist', count(*),
              CAST(coalesce(sum(n), 0) AS BIGINT)
              FROM s2 JOIN ntok USING (doc_id)
            UNION ALL SELECT 3, 'dedup', count(*),
              CAST(coalesce(sum(n), 0) AS BIGINT)
              FROM s3 JOIN ntok USING (doc_id)
            UNION ALL SELECT 4, 'sample', count(*),
              CAST(coalesce(sum(n), 0) AS BIGINT)
              FROM s4 JOIN ntok USING (doc_id))
          ORDER BY stage_ix"""
    }),
    key("q_quality_cap", (s, d) =>
      Curation.topQualityPerSource(Tables.documents(s, d), QualityPerSource))(
      s"""WITH $QualityScoreCtes,
          rk AS (SELECT doc_id, source, quality_score,
            CAST(row_number() OVER (PARTITION BY source
              ORDER BY quality_score DESC NULLS LAST, doc_id) AS INTEGER) AS rk
          FROM qsc)
          SELECT doc_id, source, quality_score, rk FROM rk
          WHERE rk <= $QualityPerSource ORDER BY source, rk"""),
    // Boilerplate lines planted on overlapping doc_id mods; the strip
    // derives the frequent set from the corpus itself.
    key("q_boilerplate", (s, d) =>
      Curation.boilerplateStrip(
        Curation.plantBoilerplate(Tables.documents(s, d))))(
      // Replays both passes: line document-frequency over distinct
      // (doc, line) pairs, integer threshold line_df * 20 >= n_docs,
      // then the row-local strip. list_filter + list_contains mirror
      // the Spark higher-order filter; NULL text propagates NULL.
      s"""WITH planted AS (SELECT doc_id, text ||
            CASE WHEN doc_id % 3 = 0
              THEN chr(10) || '${Curation.BoilerplateLine1}' ELSE '' END ||
            CASE WHEN doc_id % 4 = 1
              THEN chr(10) || '${Curation.BoilerplateLine2}' ELSE '' END
            AS text FROM documents),
          lines AS (SELECT DISTINCT doc_id,
            unnest(string_split(text, chr(10))) AS line FROM planted),
          ldf AS (SELECT line, count(*) AS line_df FROM lines GROUP BY line),
          tot AS (SELECT count(*) AS n_total FROM planted),
          freq AS (SELECT coalesce(list(line ORDER BY line), []) AS bp
            FROM ldf, tot WHERE line_df * 20 >= n_total),
          c AS (SELECT p.doc_id,
            string_split(p.text, chr(10)) AS ls,
            list_filter(string_split(p.text, chr(10)),
              l -> NOT list_contains(f.bp, l)) AS keep
            FROM planted p, freq f)
          SELECT doc_id,
            CAST(len(ls) AS INTEGER) AS n_lines,
            CAST(len(ls) - len(keep) AS INTEGER) AS n_dropped,
            array_to_string(keep, chr(10)) AS cleaned,
            md5(array_to_string(keep, chr(10))) AS clean_fp
          FROM c ORDER BY doc_id"""),
    key("q_shard_plan", (s, d) =>
      Curation.shardPlan(Tables.documents(s, d), ShardCount))(
      // The oracle ranks with the plain single-window row_number the
      // engine deliberately avoids — equality proves the bucketed
      // offset+partitioned-window rank IS the global rank. // is
      // integer division (rk and 16 are both BIGINT); engine sums stay
      // BIGINT while DuckDB's widen to HUGEINT -> CAST back.
      s"""WITH t AS (SELECT doc_id,
            coalesce(len($ToksSql), 0) AS n_toks FROM documents),
          r AS (SELECT doc_id, n_toks,
            row_number() OVER (ORDER BY n_toks DESC, doc_id) - 1 AS rk
            FROM t),
          s AS (SELECT n_toks, CASE WHEN (rk // 16) % 2 = 0 THEN rk % 16
            ELSE 15 - (rk % 16) END AS shard FROM r),
          tot AS (SELECT CAST(sum(n_toks) AS BIGINT) AS tt FROM t)
          SELECT CAST(shard AS INTEGER) AS shard, count(*) AS n_docs,
            CAST(sum(n_toks) AS BIGINT) AS n_tokens,
            CAST(sum(n_toks) AS BIGINT) / tt AS token_share
          FROM s, tot GROUP BY shard, tt ORDER BY shard"""),
    key("q_split_leak", (s, d) =>
      Curation.splitLeak(Tables.documents(s, d), SampleBuckets,
        SplitTrainBuckets, SplitValBuckets))(
      // Verified LSH pairs (shared MinhashVerCtes) classified by the
      // same salted-hash split as q_split — both endpoints derive
      // row-locally from the id, no join in either engine.
      s"""WITH $MinhashVerCtes,
          sp AS (SELECT d1, d2,
            CASE WHEN ('0x' || substr(md5(CAST(d1 AS VARCHAR) || ':split'), 1, 6))::BIGINT % $SampleBuckets < $SplitTrainBuckets THEN 'train'
                 WHEN ('0x' || substr(md5(CAST(d1 AS VARCHAR) || ':split'), 1, 6))::BIGINT % $SampleBuckets < ${SplitTrainBuckets + SplitValBuckets} THEN 'val'
                 ELSE 'test' END AS s1,
            CASE WHEN ('0x' || substr(md5(CAST(d2 AS VARCHAR) || ':split'), 1, 6))::BIGINT % $SampleBuckets < $SplitTrainBuckets THEN 'train'
                 WHEN ('0x' || substr(md5(CAST(d2 AS VARCHAR) || ':split'), 1, 6))::BIGINT % $SampleBuckets < ${SplitTrainBuckets + SplitValBuckets} THEN 'val'
                 ELSE 'test' END AS s2
            FROM ver),
          x AS (SELECT least(s1, s2) AS split_a, greatest(s1, s2) AS split_b
            FROM sp)
          SELECT split_a, split_b, count(*) AS n_pairs,
            CASE WHEN split_a <> split_b THEN 1 ELSE 0 END AS is_leak
          FROM x GROUP BY 1, 2 ORDER BY 1, 2"""),
    // source-mix drift across ingestion-order id buckets
    key("q_ingest_mix", (s, d) =>
      Curation.ingestMix(Tables.documents(s, d), IngestBuckets))(
      // Id-grid bucket CTE (min/max via scalar CTE = the collected
      // literals) + grid-window shares; drift recomputes the same
      // expressions, so the doubles match the engine's reuse.
      s"""WITH ids AS (SELECT min(doc_id) AS mn, max(doc_id) AS mx
            FROM documents),
          b AS (SELECT ((doc_id - mn) * $IngestBuckets) //
              (mx - mn + 1) + 1 AS bucket, source
            FROM documents, ids),
          g AS (SELECT bucket, source, count(*) AS n_docs
            FROM b GROUP BY 1, 2)
          SELECT bucket, source, n_docs,
            CAST(n_docs AS DOUBLE) /
              sum(n_docs) OVER (PARTITION BY bucket) AS bucket_share,
            CAST(sum(n_docs) OVER (PARTITION BY source) AS DOUBLE) /
              sum(n_docs) OVER () AS overall_share,
            CAST(n_docs AS DOUBLE) /
              sum(n_docs) OVER (PARTITION BY bucket) -
              CAST(sum(n_docs) OVER (PARTITION BY source) AS DOUBLE) /
                sum(n_docs) OVER () AS drift
          FROM g ORDER BY bucket, source"""),
    key("q_mixture", (s, d) =>
      Curation.mixturePlan(Tables.documents(s, d), MixtureWeights,
        MixtureBudget))(
      MixtureSql),
    // sqrt-temperature source smoothing (α=1/2 sampling shares)
    key("q_mixture_temp", (s, d) =>
      Curation.mixtureTemperature(Tables.documents(s, d)))(
      // sqrt() is correctly rounded in both engines; the Σ√share
      // normalizer replays the engine's source-ordered fold exactly
      s"""WITH t AS (SELECT source, $ToksSql AS toks FROM documents),
          g AS (SELECT source, count(*) AS n_docs,
            CAST(coalesce(sum(len(toks)), 0) AS BIGINT) AS n_tokens
            FROM t GROUP BY 1),
          w AS (SELECT source, n_docs, n_tokens,
            CAST(sum(n_tokens) OVER () AS BIGINT) AS tot_tokens FROM g),
          x AS (SELECT source, n_docs, n_tokens,
            CAST(n_tokens AS DOUBLE) / nullif(tot_tokens, 0) AS avail_share,
            sqrt(CAST(n_tokens AS DOUBLE) / nullif(tot_tokens, 0)) AS root
            FROM w),
          nr AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list(root ORDER BY source)), (a, b) -> a + b) AS tot_root
            FROM x)
          SELECT source, n_docs, n_tokens, avail_share,
            root / nullif(tot_root, 0.0) AS smoothed_share,
            (root / nullif(tot_root, 0.0)) / nullif(avail_share, 0.0)
              AS boost
          FROM x, nr ORDER BY source"""),
    // soft-dedup 1/n token weighting per source (integer micro-tokens)
    key("q_effective_tokens", (s, d) =>
      Curation.softDedupTokens(Tables.documents(s, d)))(
      // integer micro-token floor-div per doc, BIGINT sums — the 1/n
      // soft-dedup weight replayed order-independently
      s"""WITH t AS (SELECT doc_id, source, md5($NormSql) AS fingerprint,
            CAST(coalesce(len($ToksSql), 0) AS BIGINT) AS n_toks
            FROM documents),
          fam AS (SELECT fingerprint, CAST(count(*) AS BIGINT) AS csize
            FROM t GROUP BY 1),
          j AS (SELECT t.source, t.n_toks, fam.csize
            FROM t JOIN fam USING (fingerprint))
          SELECT source, count(*) AS n_docs,
            CAST(coalesce(sum(CASE WHEN csize > 1 THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS n_dup_docs,
            CAST(coalesce(sum(n_toks), 0) AS BIGINT) AS raw_tokens,
            CAST(coalesce(sum(n_toks * 1000000 // csize), 0) AS BIGINT)
              AS eff_tokens_micro,
            CAST(CAST(coalesce(sum(n_toks * 1000000 // csize), 0) AS BIGINT)
                AS DOUBLE) /
              nullif(CAST(coalesce(sum(n_toks), 0) AS BIGINT) * 1000000, 0)
              AS eff_ratio
          FROM j GROUP BY source ORDER BY source"""),
    // equal-population quality tiers + cumulative curriculum tokens
    key("q_curriculum", (s, d) =>
      Curation.curriculumPlan(Tables.documents(s, d), CurriculumBuckets))(
      s"""WITH $QualityScoreCtes,
          r AS (SELECT doc_id, token_cnt,
            coalesce(quality_score, -1.0) AS qs FROM qsc),
          rk2 AS (SELECT *, row_number()
              OVER (ORDER BY qs DESC, doc_id) AS rn,
            count(*) OVER () AS n FROM r),
          bk AS (SELECT *,
            CAST((rn - 1) * $CurriculumBuckets // n AS INTEGER) + 1
              AS bucket FROM rk2),
          agg AS (SELECT bucket, count(*) AS n_docs,
            CAST(sum(token_cnt) AS BIGINT) AS n_tokens,
            min(qs) AS min_score, max(qs) AS max_score
          FROM bk GROUP BY 1)
          SELECT bucket, n_docs, n_tokens, min_score, max_score,
            CAST(sum(n_tokens) OVER (ORDER BY bucket
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_tokens
          FROM agg ORDER BY bucket"""),
    // priority-weighted water-filling of a token budget over sources
    key("q_token_budget", (s, d) =>
      Curation.tokenBudgetPlan(Tables.documents(s, d), tokenBudgetWeight,
        TokenBudgetNum, TokenBudgetDen))(
      s"""WITH $QualityScoreCtes,
          av AS (SELECT source, CAST(sum(token_cnt) AS BIGINT) AS avail,
            CAST(CASE WHEN CAST(regexp_extract(source, '([0-9]+)$$', 1)
                AS INTEGER) % 2 = 0 THEN 2 ELSE 1 END AS BIGINT) AS weight
          FROM qsc GROUP BY 1),
          tot AS (SELECT CAST(sum(avail) AS BIGINT) AS tot_a,
            CAST(sum(weight) AS BIGINT) AS tot_w FROM av),
          rk3 AS (SELECT av.*, tot.tot_a, tot.tot_w,
            CAST((tot.tot_a * $TokenBudgetNum) // $TokenBudgetDen
              AS BIGINT) AS budget,
            CAST(sum(avail) OVER wf AS BIGINT) AS cum_a,
            CAST(sum(weight) OVER wf AS BIGINT) AS cum_w
          FROM av CROSS JOIN tot
          WINDOW wf AS (ORDER BY CAST(avail AS DOUBLE) / weight, avail,
            source ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
          ck AS (SELECT *, avail * (tot_w - cum_w) <=
            weight * (budget - cum_a) AS capped FROM rk3),
          lvl AS (SELECT
            CAST(coalesce(max(cum_a) FILTER (WHERE capped), 0)
              AS BIGINT) AS capped_a,
            CAST(coalesce(max(cum_w) FILTER (WHERE capped), 0)
              AS BIGINT) AS capped_w FROM ck),
          fin AS (SELECT source, avail, weight, budget, capped,
            CAST(CASE WHEN capped THEN avail
              ELSE weight * (budget - capped_a) // (tot_w - capped_w)
              END AS BIGINT) AS allocated
          FROM ck CROSS JOIN lvl)
          SELECT *, CAST(allocated AS DOUBLE) / nullif(avail, 0)
            AS fill_frac
          FROM fin ORDER BY source"""),
    key("q_split", (s, d) =>
      Curation.hashSplit(Tables.documents(s, d), SampleBuckets,
        SplitTrainBuckets, SplitValBuckets))(
      // Salted sampleBucket twin (':split' salt) + the 80/10/10 CASE.
      s"""WITH tk AS (SELECT doc_id, lang, $ToksSql AS toks FROM documents),
          b AS (SELECT doc_id, lang, len(toks) AS n_toks,
            ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 6))
              ::BIGINT % $SampleBuckets AS bucket FROM tk),
          s AS (SELECT *, CASE WHEN bucket < $SplitTrainBuckets THEN 'train'
              WHEN bucket < ${SplitTrainBuckets + SplitValBuckets} THEN 'val'
              ELSE 'test' END AS split FROM b),
          tot AS (SELECT count(*) AS n_total FROM s)
          SELECT split, lang, count(*) AS n_docs,
            CAST(sum(n_toks) AS BIGINT) AS n_tokens,
            CAST(count(*) AS DOUBLE) / tot.n_total AS doc_share
          FROM s CROSS JOIN tot GROUP BY 1, 2, tot.n_total
          ORDER BY 1, 2"""),
    key("q_mixture_sample", (s, d) =>
      Curation.materializeMixture(Tables.documents(s, d), MixtureWeights,
        MixtureBudget, SampleBuckets))(
      s"""WITH mix AS ($MixtureSql),
          d AS (SELECT doc_id, source,
            ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 6))::BIGINT
              % $SampleBuckets AS bucket
            FROM documents),
          c AS (SELECT d.doc_id, d.source,
            CAST(floor(mix.epochs) AS BIGINT) +
              CASE WHEN d.bucket <
                CAST(floor((mix.epochs - floor(mix.epochs)) * $SampleBuckets)
                  AS BIGINT)
              THEN 1 ELSE 0 END AS n_copies
            FROM d JOIN mix USING (source))
          SELECT doc_id, source, unnest(range(0, n_copies)) AS copy_ix
          FROM c WHERE n_copies > 0 ORDER BY doc_id, copy_ix"""),
    key("q_sample_fixed", (s, d) =>
      Curation.fixedSample(Tables.documents(s, d), FixedPerStratum))(
      s"""WITH h AS (SELECT doc_id, lang,
            md5(CAST(doc_id AS VARCHAR) || ':fix') AS h FROM documents),
          r AS (SELECT doc_id, lang,
            CAST(row_number() OVER (PARTITION BY lang
              ORDER BY h, doc_id) AS INTEGER) AS rk FROM h)
          SELECT doc_id, lang, rk FROM r WHERE rk <= $FixedPerStratum
          ORDER BY lang, rk"""),
    // token-mass-weighted sample (Efraimidis-Spirakis top-k keys)
    key("q_weighted_sample", (s, d) =>
      Curation.weightedSample(Tables.documents(s, d), WeightedPerStratum))(
      // A-ES keys replayed off the same md5 uniforms; the engine's
      // bounded-heap top-k is proven against the window formulation
      s"""WITH t AS (SELECT source AS stratum, doc_id,
            CAST(len($ToksSql) AS BIGINT) AS weight,
            (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':es'),
              1, 6))::BIGINT AS DOUBLE) + CAST(0.5 AS DOUBLE)) /
              CAST(16777216.0 AS DOUBLE) AS u
          FROM documents),
          k AS (SELECT stratum, doc_id, ln(u) / CAST(weight AS DOUBLE)
              AS es_key
            FROM t WHERE weight > 0),
          r AS (SELECT stratum, doc_id, es_key,
            CAST(row_number() OVER (PARTITION BY stratum
              ORDER BY es_key DESC, doc_id) AS INTEGER) AS rk FROM k)
          SELECT stratum, doc_id, es_key, rk FROM r
          WHERE rk <= $WeightedPerStratum ORDER BY stratum, rk"""),
    // domain-grain keep/sample/drop policy off quality+dup+length
    key("q_domain_policy", (s, d) =>
      Curation.domainPolicy(Tables.documents(s, d)))(
      // quality mean off the floor(score*1e6) integer grid, dup flag off
      // the fingerprint counts, policy CASE with the engine's thresholds
      s"""WITH $QualityScoreCtes,
          fp AS (SELECT doc_id, md5($NormSql) AS f FROM documents),
          fc AS (SELECT f, count(*) AS cnt FROM fp GROUP BY f),
          d AS (SELECT qsc.source, qsc.token_cnt, qsc.quality_score,
              CASE WHEN fc.cnt > 1 THEN 1 ELSE 0 END AS is_dup
            FROM qsc JOIN fp ON qsc.doc_id = fp.doc_id
              JOIN fc ON fp.f = fc.f),
          g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(coalesce(sum(is_dup), 0) AS BIGINT) AS n_dup,
              CAST(coalesce(sum(CASE WHEN token_cnt <
                ${Curation.PolicyMinTokens} THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_short,
              sum(CAST(floor(quality_score * 1000000) AS BIGINT)) AS sq_sum,
              CAST(count(quality_score) AS BIGINT) AS n_scored
            FROM d GROUP BY source),
          r AS (SELECT source, n_docs,
              CAST(n_dup AS DOUBLE) / n_docs AS dup_rate,
              CAST(n_short AS DOUBLE) / n_docs AS short_rate,
              CAST(sq_sum AS DOUBLE) / nullif(n_scored, 0) / 1000000.0
                AS avg_quality
            FROM g)
          SELECT source, n_docs, dup_rate, short_rate, avg_quality,
            CASE WHEN avg_quality IS NULL
                OR avg_quality < ${Curation.PolicyMinQuality}
                OR dup_rate > ${Curation.PolicyMaxDupRate} THEN 'drop'
              WHEN avg_quality < ${Curation.PolicySampleQuality}
                OR dup_rate > ${Curation.PolicySampleDupRate}
                OR short_rate > ${Curation.PolicyMaxShortRate}
                THEN 'sample'
              ELSE 'keep' END AS policy
          FROM r ORDER BY source""")
  )
}
