package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, GraftExpressionBridge, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import graft.functions.HammingPairs
import graft.functions.TextFunctions._

/** Near-duplicate detection over documents: exact n-gram Jaccard via
  * an inverted shingle index, MinHash+LSH banding with exact
  * verification, and SimHash fingerprints. Designed for the 100 TB
  * shape: all-pairs work only ever happens on candidate pairs that
  * share a shingle or an LSH bucket, never on the cross product.
  *
  * Caching contract: the multi-consumer operators hold (or
  * checkpoint) intermediate frames — minhash/simhash signature frames,
  * the jaccard shingle frame, the CC half-edges — through
  * [[graft.Caches]] for the duration of their own query; the returned
  * frames are lazy, so the release is [[graft.Caches.endQuery]] after
  * the terminal action, which [[graft.Runner]] calls per query.
  */
object NearDup {

  /** (doc_id, sh) distinct word-`n`-gram shingle sets. Tokens are
    * materialized in their own projection first: Spark does not
    * common-subexpression-eliminate inside higher-order-function
    * lambdas, so inlining `tokens(text)` into the shingle transform
    * would re-run the regex tokenizer per shingle (measured 50–100×
    * slower at sf0.1). */
  def shingleSets(docs: DataFrame, n: Int, extra: Seq[String] = Nil): DataFrame =
    docs
      .select(col("doc_id") +: extra.map(col) :+ tokens(col("text")).as("toks"): _*)
      .select(col("doc_id") +: extra.map(col) :+ shingles(col("toks"), n).as("sh"): _*)

  /** Document-frequency cap policy for the exact-jaccard family. A
    * shingle shared by d docs yields d(d−1)/2 index-join pairs, so a
    * hot shingle is both the skew bomb and the superlinear-growth
    * driver; the cap drops them. When the cap binds, pairs whose
    * overlap includes capped shingles score lower (never higher), so
    * the output degrades toward fewer pairs rather than wrong ones. */
  sealed trait DfCap
  /** Fixed cap — tests and corpora with a known df profile. */
  final case class FixedDfCap(cap: Int) extends DfCap
  /** No cap — only for corpora known skew-free. */
  case object UncappedDf extends DfCap
  /** CORPUS-DERIVED cap (the default; the `wedgeSupportFor` /
    * `blockCharsFor` / `centroidStrideFor` discipline): the largest
    * cap whose kept pair volume Σ_{df≤cap} cnt(df)·df(df−1)/2 fits
    * `pairBudget`, floored at `floor` so recall never collapses on a
    * pathological corpus. A FIXED cap compounds with corpus density —
    * measured 199× pair volume at 10× data (sf0.1→sf1: 1.27M→252M
    * pairs) with the old fixed 1000 cap never binding below real
    * scale; the derived cap holds the pair stage ~linear instead
    * (9.8M kept at sf1 with the default budget) and does NOT bind at
    * the gate corpora (sf≤0.1 total volume 1.27M < budget, so gate
    * results are identical to uncapped). The cap is emitted as a
    * result column and the oracle replays the identical rule off the
    * same histogram, so the derivation is hash-checked, not
    * folklore. */
  final case class DerivedDfCap(floor: Int = DfCapFloor,
                                pairBudget: Long = DfPairBudget) extends DfCap

  /** Floor for [[DerivedDfCap]] — max observed gate-corpus df, so the
    * derived cap can never undercut gate-scale recall. */
  val DfCapFloor: Int = 25
  /** Pair budget for [[DerivedDfCap]] — ~8× the sf0.1 corpus's total
    * pair volume, i.e. a linear-at-10× growth allowance. */
  val DfPairBudget: Long = 10000000L

  /** The [[DerivedDfCap]] rule over a (df, shingle count) histogram:
    * walk df ascending accumulating pair volume cnt·df(df−1)/2; the
    * cap is the largest df whose cumulative volume fits the budget
    * (floored). BigInt accumulation — per-bucket volume is ~df²·cnt
    * and df is corpus-sized at 100 TB, past Long. The histogram is
    * DISTINCT-df-sized (hundreds of rows at any scale — the
    * BPE-merge-table driver-small class). */
  def dfCapFor(hist: Seq[(Long, Long)], floor: Int = DfCapFloor,
               pairBudget: Long = DfPairBudget): Int = {
    require(floor >= 1, "df-cap floor must be at least 1")
    require(pairBudget > 0, "pair budget must be positive")
    var cum = BigInt(0)
    var best = 0L
    hist.sortBy(_._1).foreach { case (d, c) =>
      cum += BigInt(c) * BigInt(d) * BigInt(d - 1) / 2
      if (cum <= pairBudget && d > best) best = d
    }
    require(best <= Int.MaxValue, s"derived df cap $best out of Int range")
    math.max(floor, best.toInt)
  }

  /** Shingle-index health QA: the document-frequency histogram of the
    * Jaccard inverted index on decimal-magnitude buckets, each
    * bucket's posting and pair-volume mass, and the corpus-derived df
    * cap ([[dfCapFor]]'s exact rule, computed IN-PLAN from the same
    * histogram) as a result column — the observability twin of
    * `dedupIndexStats` for the exact-jaccard family: the cap stops
    * being a log line and becomes a monitored, hash-checked number,
    * and a fattening top bucket is the early warning that boilerplate
    * shingles are about to eat the pair budget.
    *
    * Shape: one tokenize→shingle explode into a shingle-grain df
    * aggregate (persisted — the magnitude rollup and the cap
    * derivation both read it); the cap window runs over the
    * DISTINCT-df grid (hundreds of rows at any scale) and the output
    * is ≤20 digit rows. Pair volumes accumulate as decimal(38,0) and
    * cast to bigint at the edge (loud on overflow, exact below it). */
  def shingleStats(docs: DataFrame, n: Int = 3): DataFrame = {
    // the doc-grain shingle frame MUST materialize before the explode
    // reads it — fusing tokenize→shingles→explode into one stage
    // re-evaluates the expensive shingle expression per generated row
    // (measured 6×: 5.2 s fused vs 0.8 s through the cache at sf0.1,
    // the same reason jaccardPairs persists its t); released as soon
    // as the histogram lands
    val t = shingleSets(docs, n)
      .transform(graft.Caches.hold)
    val hist = t
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("df"))
      .groupBy(col("df")).agg(count(lit(1)).as("cnt"))
      .transform(graft.Caches.hold)
    // cap from the collected histogram via the SAME dfCapFor rule the
    // dedup operators apply — one driver-small action that also
    // materializes both caches (an in-plan broadcast-subquery cap
    // re-ran the shingle aggregate as the broadcast job's own input)
    val h = hist.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    graft.Caches.release(t)
    val cap = dfCapFor(h)
    hist
      .groupBy(length(col("df").cast("string")).cast("long")
        .as("df_digits"))
      .agg(sum(col("cnt")).as("n_shingles"),
        min(col("df")).as("min_df"), max(col("df")).as("max_df"),
        sum(col("df") * col("cnt")).as("sum_postings"),
        sum(expr(
          "CAST(cnt AS DECIMAL(38,0)) * (CAST(df AS DECIMAL(38,0)) * (df - 1) div 2)"))
          .cast("bigint").as("pair_volume"))
      .withColumn("df_cap", lit(cap.toLong))
      .orderBy(col("df_digits"))
  }

  /** Exact Jaccard pairs ≥ `threshold` via inverted index: explode
    * shingles into per-shingle posting lists, emit each list's pairs
    * in-task, count how many shingles each pair shares, join set
    * sizes. Any pair with jaccard > 0 shares ≥1 shingle, so the index
    * is exact (no recall loss). Shingles with posting lists longer
    * than `dfCap` ([[DerivedDfCap]] by default) are dropped — they are the skew
    * bomb AND the unbounded-row risk (an uncapped hot shingle
    * materializes its whole posting list in one aggregation row);
    * pass `None` only when the corpus is known skew-free. The shingle
    * frame is persisted (the posting build and the set-size join both
    * read it, and the tokenize→shingle chain dominates the cost).
    *
    * Verification is COUNT-based (jaccard = common/(n1+n2−common)
    * from the per-pair shared-shingle counts) rather than
    * per-candidate-pair array intersection — a deliberate, measured
    * choice: ppjoin-style prefix filtering (index only the
    * |A|−⌈t·|A|⌉+1 rarest shingles, verify candidates on full sets)
    * was implemented and benchmarked 5× SLOWER on this corpus, because
    * the synthetic documents share a dense shingle vocabulary (avg df
    * ≈ 24, max 25): prefix pruning still yielded 648k candidate pairs
    * at sf0.1 and per-pair array_intersect over ~130-element string
    * arrays dwarfed the integer count aggregation. Prefix filtering
    * wins only when candidates ≪ index-join pairs (high thresholds,
    * diverse vocabulary); for a dense corpus the count aggregation is
    * the scale shape. */
  def jaccardPairs(docs: DataFrame, n: Int, threshold: Double,
                   dfCap: DfCap = DerivedDfCap()): DataFrame = {
    val (counts, capCol) =
      sharedShingleCounts(docs, n, dfCap, "graft_jaccard_dfcap")
    counts
      .withColumn("jaccard",
        col("common").cast("double") / (col("n1") + col("n2") - col("common")))
      .where(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), col("jaccard"), capCol.as("df_cap"))
      .orderBy(col("d1"), col("d2"))
  }

  /** Asymmetric containment pairs: C(A,B) = |A∩B| / min(|A|,|B|) ≥
    * `threshold` — the "short doc embedded in long doc" near-dup that
    * symmetric Jaccard misses (a 50-shingle doc fully contained in a
    * 500-shingle doc has jaccard ≈ 0.1 but containment 1.0). Same
    * inverted-index machinery and df-cap contract as [[jaccardPairs]];
    * only the final scoring differs. */
  def containmentPairs(docs: DataFrame, n: Int, threshold: Double,
                       dfCap: DfCap = DerivedDfCap()): DataFrame = {
    val (counts, capCol) =
      sharedShingleCounts(docs, n, dfCap, "graft_containment_dfcap")
    counts
      .withColumn("containment",
        col("common").cast("double") / least(col("n1"), col("n2")))
      .where(col("containment") >= threshold)
      .select(col("d1"), col("d2"), col("containment"), capCol.as("df_cap"))
      .orderBy(col("d1"), col("d2"))
  }

  /** (d1 < d2, common, n1, n2): per-pair shared-shingle counts plus
    * set sizes, the shared core of [[jaccardPairs]] and
    * [[containmentPairs]]. Each caller passes its OWN observe-metric
    * name — observed metrics must be unique within a plan, so a query
    * combining both operators would otherwise fail analysis (and a
    * listener would attribute containment's dropped shingles to
    * jaccard). */
  private def sharedShingleCounts(docs: DataFrame, n: Int,
                                  dfCap: DfCap,
                                  metricName: String): (DataFrame, Column) = {
    val t = shingleSets(docs, n)
      .transform(graft.Caches.hold)
    val e0 = t.select(col("doc_id"), explode(col("sh")).as("s"))
    // per-shingle df frame: in Derived mode it feeds BOTH the
    // driver-small (df, count) histogram action and the hot filter, so
    // it is persisted (vocab-sized) — the histogram action also
    // materializes the shingle cache the whole operator reuses
    lazy val dfFrame = e0.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val capOpt: Option[Int] = dfCap match {
      case FixedDfCap(c) => Some(c)
      case UncappedDf => None
      case DerivedDfCap(floor, budget) =>
        val dfs = dfFrame
          .transform(graft.Caches.hold)
        val hist = dfs.groupBy(col("df")).agg(count(lit(1)).as("cnt"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        Some(dfCapFor(hist, floor, budget))
    }
    // hot shingles are dropped BEFORE the posting-list aggregation via
    // a cheap count + anti-join (integer partials, no lists): filtering
    // after collect_list would already have materialized a hot
    // shingle's entire posting list in one aggregation buffer — the
    // unbounded-row blowup the cap exists to prevent
    val e = capOpt match {
      case Some(cap) =>
        // observed metric: a binding cap is a visible event, not silent
        // recall drift — every action over this plan reports how many
        // hot shingles were dropped via
        // queryExecution.observedMetrics(metricName) (or a
        // QueryExecutionListener); zero cost when nothing is dropped.
        // NB an ABSENT metric also means nothing dropped: when no row
        // flows through the observe node no task updates its
        // accumulator, so the entry never materializes
        val hot = dfFrame
          .where(col("df") > cap).select(col("s"))
          .observe(metricName,
            count(lit(1)).as("dropped_hot_shingles"))
        e0.join(hot, Seq("s"), "left_anti")
      case None => e0
    }
    // per-shingle posting lists (bounded by dfCap), pairs generated
    // in-task — the LSH bucket pattern: one shuffle of the index for
    // pair generation, where a self-join on the shingle would shuffle
    // it twice and build a hash table per partition
    val common = e.groupBy(col("s"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .where(size(col("ids")) > 1)
      .select(explode(pairsFromSortedIds).as("p"))
      .groupBy(col("p.a").as("d1"), col("p.b").as("d2"))
      .agg(count(lit(1)).as("common"))
    val sizes = t.select(col("doc_id"), size(col("sh")).as("n_sh"))
    val counts = common
      .join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("n_sh", "n1"), "d1")
      .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("n_sh", "n2"), "d2")
    // the cap actually used rides out as a BIGINT literal column so a
    // derived cap is part of the hash-checked result, not a log line
    val capCol = capOpt.map(c => lit(c.toLong))
      .getOrElse(lit(null)).cast("long")
    (counts, capCol)
  }

  /** Dedup-threshold sensitivity sweep — sizes the Jaccard threshold
    * from data the way [[graft.operators.DataChecks.oooAudit]] sizes a
    * watermark: one row per candidate threshold (permille) with how
    * many near-dup pairs qualify and how many documents canonical
    * keep-lowest-id dedup would drop there. Read it as: pick the
    * highest threshold whose drop count matches the dedup budget.
    *
    * Thresholds are integer permille and each pair qualifies via the
    * integer cross-multiplication `common·1000 ≥ t·(n1+n2−common)` —
    * no float division, so the oracle replay is bit-exact by
    * construction. The pair frame ([[jaccardPairs]]'s inverted-index
    * core, generated ONCE) fans out row-locally to only its
    * qualifying thresholds before one small keyed aggregate — the
    * sweep's marginal cost over a single-threshold run is the
    * qualifying-pair fan-out, never #thresholds extra corpus passes.
    * A threshold no pair reaches yields no row (engine and oracle
    * agree). */
  def dedupSweep(docs: DataFrame, n: Int, thresholdsPm: Seq[Int],
                 dfCap: DfCap = DerivedDfCap()): DataFrame = {
    require(thresholdsPm.nonEmpty, "dedupSweep needs at least one threshold")
    val tArr = array(thresholdsPm.map(lit): _*)
    val (counts, capCol) =
      sharedShingleCounts(docs, n, dfCap, "graft_sweep_dfcap")
    counts
      .select(col("d2"), filter(tArr, t =>
        col("common") * 1000L >= t.cast("long") *
          (col("n1") + col("n2") - col("common"))).as("ts"))
      .select(col("d2"), explode(col("ts")).as("threshold_pm"))
      .groupBy(col("threshold_pm"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("d2")).as("n_docs_dropped"))
      .withColumn("df_cap", capCol)
      .orderBy(col("threshold_pm"))
  }

  /** Cross-source duplication matrix: the [[jaccardPairs]] near-dup
    * pair frame rolled up to the (source, source) grain — which
    * sources copy from which (mirror sites, syndicated feeds,
    * scraped-twice domains), the first question a curation pipeline
    * asks after the pair list itself. One row per unordered source
    * pair with a near-dup pair across it (diagonal = within-source
    * dup burden): n_pairs, the corpus-wide pair total, and each
    * cell's share.
    *
    * Shape: everything rides the near-dup machinery (inverted shingle
    * index, corpus-derived df cap — `df_cap` dropped before the
    * rollup so the matrix grain is purely (source, source)); the two
    * source joins are at PAIR grain (near-dup-pairs-sized, never
    * corpus-sized), the matrix is |sources|²-bounded, and the 1-row
    * total is a broadcast. */
  def dupSourceMatrix(docs: DataFrame, n: Int, threshold: Double,
                      dfCap: DfCap = DerivedDfCap()): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    val m = jaccardPairs(docs, n, threshold, dfCap)
      .select(col("d1"), col("d2"))
      .join(src.withColumnRenamed("doc_id", "d1")
        .withColumnRenamed("source", "src1"), "d1")
      .join(src.withColumnRenamed("doc_id", "d2")
        .withColumnRenamed("source", "src2"), "d2")
      .select(least(col("src1"), col("src2")).as("source_a"),
        greatest(col("src1"), col("src2")).as("source_b"))
      .transform(graft.Caches.hold)
    val total = m.agg(count(lit(1)).as("n_total"))
    m.groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .crossJoin(broadcast(total))
      .withColumn("pair_share",
        col("n_pairs").cast("double") / col("n_total"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Benchmark decontamination: flag training docs sharing any word
    * `n`-gram with a held-out eval set (the GPT-3-style long-n-gram
    * overlap check). Returns (doc_id, n_overlap, n_sh, overlap_frac)
    * for contaminated train docs only, ordered by doc_id.
    *
    * 100 TB shape: eval sets are benchmark-sized (thousands of docs),
    * so their distinct shingle set is explicitly `broadcast` — the
    * 100 TB train corpus is shingled row-locally and hash-joined
    * against the broadcast set with NO shuffle of the corpus; only the
    * matched rows (rare by construction) shuffle for the per-doc
    * count. Train docs with fewer than n tokens have no shingles and
    * cannot be flagged; n_sh ≥ n_overlap ≥ 1 on every output row, so
    * the fraction needs no zero guard. */
  def decontaminate(train: DataFrame, eval: DataFrame, n: Int): DataFrame = {
    val evalShingles = broadcast(
      shingleSets(eval, n)
        .select(explode(col("sh")).as("s")).distinct())
    val tr = shingleSets(train, n)
      .transform(graft.Caches.hold)
    val hits = tr.select(col("doc_id"), explode(col("sh")).as("s"))
      .join(evalShingles, "s")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_overlap"))
    hits
      .join(tr.select(col("doc_id"), size(col("sh")).as("n_sh")), "doc_id")
      .withColumn("overlap_frac",
        col("n_overlap").cast("double") / col("n_sh"))
      .orderBy(col("doc_id"))
  }

  /** All (a < b) pairs from a sorted `ids` array column, generated
    * row-locally as one native `graft_pairs` pass (fields `a`, `b` —
    * callers alias on select). Shared by the jaccard posting lists,
    * the minhash LSH buckets, and
    * [[graft.operators.VectorSearch.srpNearDup]]'s embedding buckets.
    * Replaces the interpreted nested-transform fan-out
    * (`flatten(transform(sequence(...), i -> transform(...)))`), which
    * walked an expression tree per pair — the round-13 probe measured
    * the composed form as the dominant CPU of every bucketed pair
    * stage; [[graft.functions.Pairs]] emits the identical structs in
    * the identical order. */
  private[operators] def pairsFromSortedIds: Column =
    call_function("graft_pairs", col("ids"))

  /** Default LSH bucket candidate-prefix cap, shared by
    * [[minhashDedup]]/[[minhashPairs]] and
    * [[graft.operators.VectorSearch.srpNearDup]] — and interpolated
    * into their oracles, so tuning it here keeps the SQL replay of the
    * cap in lockstep (a hardcoded oracle literal would silently stop
    * replaying the cap the day this is changed). */
  val DefaultBucketCap: Int = 1000

  /** The 2^40 modulus shared by the portable rolling hash and the
    * MinHash permutations. */
  val HashMod: Long = 1099511627776L

  /** Affine permutation coefficients for the k MinHash functions,
    * seeded so both the Spark pipeline and the DuckDB oracle embed the
    * same constants. Bounds keep h*a+b < 2^60 — engines with strict
    * (non-wrapping) BIGINT arithmetic never overflow. */
  def minhashCoefficients(k: Int): IndexedSeq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    IndexedSeq.fill(k)((
      (rnd.nextInt(1 << 20) | 1).toLong,
      rnd.nextLong() & (HashMod - 1)))
  }

  /** (doc_id, sh, m0..m{k-1}): shingle set + MinHash signature in one
    * frame, computed entirely row-locally — no explode, no shuffle.
    * The per-shingle rolling hashes are staged in their own projection
    * (Spark does not CSE inside higher-order-function lambdas), then
    * each signature column is an `array_min` over the k-th affine
    * permutation of that hash array (Broder-style). Keeping `sh` in
    * the same frame means one persisted projection serves band
    * generation AND both sides of the exact verification join. An
    * earlier explode + k min-agg columns version computed the same
    * numbers but paid a full (doc, shingle) shuffle and lost `sh`,
    * forcing the tokenizer chain to be recomputed per consumer. */
  /** (doc_id, band, band_sig) LSH band rows of a [[signatures]] frame
    * — the ONE definition of the band-sig format, shared by
    * [[minhashPairs]] and [[dedupIncrement]] (and replayed by the
    * MinhashVerCtes oracle); a drift between copies would silently
    * desynchronize the incremental gate from the pair gates.
    * Shingle-less docs have NULL signatures (array_min of empty) and
    * can never verify — excluded so they don't all share one
    * degenerate "" bucket (concat_ws skips NULLs). */
  private[graft] def bandRows(sig: DataFrame, bands: Int, rows: Int,
                              extra: Seq[String] = Nil): DataFrame = {
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",", (0 until rows).map(r =>
          col(s"m${b * rows + r}").cast("string")): _*).as("band_sig"))
    }
    sig.where(size(col("sh")) > 0)
      .select(col("doc_id") +: extra.map(col) :+
        explode(array(bandStructs: _*)).as("bs"): _*)
      .select(col("doc_id") +: extra.map(col) :+
        col("bs.band").as("band") :+ col("bs.band_sig").as("band_sig"): _*)
  }

  private[graft] def signatures(docs: DataFrame, n: Int, k: Int,
                                extra: Seq[String] = Nil): DataFrame = {
    val coef = minhashCoefficients(k)
    // all k affine-min signatures in ONE native codegen'd pass over
    // the hash array (graft_minhash) — the k-HOF formulation walked it
    // k times through interpreted lambdas; results are bit-identical
    // (wrapping long affine + pmod, order-independent min)
    require(HashMod == graft.functions.MinHashSigs.Mod,
      "HashMod drifted from the native expression's modulus")
    val aLit = array(coef.map(c => lit(c._1)): _*)
    val bLit = array(coef.map(c => lit(c._2)): _*)
    shingleSets(docs, n, extra)
      .withColumn("h0s", call_function("graft_rolling_hashes", col("sh")))
      .withColumn("mh", call_function("graft_minhash", col("h0s"), aLit, bLit))
      .select(
        Seq(col("doc_id"), col("sh")) ++ extra.map(col) ++
          (0 until k).map(i => element_at(col("mh"), i + 1).as(s"m$i")): _*)
  }

  /** MinHash+LSH near-dup clustering: band-bucket candidates, exact
    * Jaccard verification on candidates only, then per-doc cluster
    * assignment (rep = min doc_id among itself and verified partners).
    * Output is one row per document (doc_id, rep_id, n_dups) — the
    * pair-generation is approximate (LSH recall) but every emitted
    * pair is exactly verified.
    *
    * `bucketCap` bounds the per-bucket candidate list: a degenerate
    * bucket (e.g. thousands of near-empty docs sharing a signature)
    * would otherwise materialize O(m²) pairs from a single task. Ids
    * are sorted before the cap so the kept prefix is deterministic;
    * docs dropped from an oversized bucket can still pair through any
    * of their other `bands-1` buckets. Must exceed the largest real
    * duplicate cluster for exact results (a cluster of identical docs
    * shares ALL its buckets, so no other band recovers a pair the cap
    * dropped) — run [[TextAnalysis.exactDedup]] FIRST in a pipeline:
    * it removes identical-document clusters at any size for one hash
    * shuffle, leaving minhash the genuinely-near duplicates whose
    * clusters are far smaller than the cap. The oracle corpora sit
    * two orders of magnitude below both caps (max bucket 14, max df
    * 25), so the gate checks the exact regime. */
  def minhashDedup(docs: DataFrame, n: Int = 3, k: Int = 32, bands: Int = 16,
                   threshold: Double = 0.5, bucketCap: Int = DefaultBucketCap): DataFrame = {
    val verified = minhashPairs(docs, n, k, bands, threshold, bucketCap)
    val partners = verified
      .select(col("d1").as("doc_id"), col("d2").as("partner"))
      .unionAll(verified.select(col("d2").as("doc_id"), col("d1").as("partner")))
    docs.select(col("doc_id"))
      .join(partners, Seq("doc_id"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(
        least(min(col("partner")), col("doc_id").cast("long")).as("rep_id"),
        count(col("partner")).as("n_dups"))
      .withColumn("rep_id", coalesce(col("rep_id"), col("doc_id")))
      .orderBy(col("doc_id"))
  }

  /** The verified near-duplicate pair stage of [[minhashDedup]]:
    * LSH-banded candidates, exact Jaccard verification, output
    * (d1 < d2) pairs. Shared by the one-hop dedup summary and the
    * transitive [[dedupClusters]]. */
  def minhashPairs(docs: DataFrame, n: Int = 3, k: Int = 32, bands: Int = 16,
                   threshold: Double = 0.5, bucketCap: Int = DefaultBucketCap): DataFrame =
    verifiedCandidates(docs, n, k, bands, bucketCap)
      .where(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"))

  /** Per-anchor keep count for [[hardNegatives]] — K negatives per
    * anchor is what contrastive training consumes, and the cap is
    * what keeps the OUTPUT linear in corpus size: uncapped, the
    * below-threshold pair count grows with pair density (measured
    * 316× output rows at the 10× probe on the densifying synthetic
    * corpus — 1 962 → 620 k — and 29× operator time). Replayed by the
    * oracle's ranked window, PureProps-pinned. */
  val HardNegPerAnchor: Int = 8

  /** Pre-verify candidate cap for [[hardNegatives]]: at most this
    * many banded candidates per anchor reach the exact-jaccard
    * verify, ranked by band-collision count (more shared bands ≈
    * higher signature agreement ≈ harder negative) with d2 ties.
    * The round-8 per-anchor OUTPUT cap made the result linear, but
    * the verify stage still paid every below-threshold banded
    * candidate — and candidate density grows superlinearly on a
    * densifying corpus (measured 17.2× operator time at the 10×
    * probe). 2× the output cap keeps headroom for candidates the
    * verify discards as true duplicates (≥ threshold) while bounding
    * verify work per anchor to a constant (measured at the 10×
    * probe: verify-all 92 s, preCap=64 14 s, preCap=16 5 s — the
    * verify stage IS the operator). An anchor whose top candidates
    * are all true dups can yield fewer than perAnchor negatives —
    * the documented cost of a bounded mining operator. Replayed by
    * the oracle's collision-count-ranked window and emitted as the
    * `pre_cap` column, PureProps-pinned. */
  val HardNegPreVerifyCap: Int = 16

  /** Hard-negative mining off the SAME LSH banding as
    * [[minhashPairs]]: candidate pairs that collided in at least one
    * band but verify BELOW the near-dup threshold — "similar enough
    * to hash together, not duplicates" — exactly the contrastive
    * training pairs a naive random-negative sampler never finds (its
    * negatives are trivially far). Zero extra corpus work: the
    * signature/banding stages are the dedup pipeline's own; this
    * keeps the complement of the pairs [[minhashPairs]] keeps,
    * ranked per anchor by the exact verified jaccard (hardest first,
    * d2 ties) and cut at `perAnchor` ([[HardNegPerAnchor]]) — the
    * training-shaped, output-linear form. Work is bounded BEFORE the
    * expensive stage too: only the top `preCap`
    * ([[HardNegPreVerifyCap]]) banded candidates per anchor — ranked
    * by how many bands they collided in — are exact-verified, so
    * verify cost per anchor is a constant at any corpus density.
    * Output (d1, d2, jaccard, rank, pre_cap) ordered; bucket cap
    * bounds candidate volume, the pre-verify cap bounds verify work,
    * the anchor cap bounds output volume. */
  def hardNegatives(docs: DataFrame, n: Int = 3, k: Int = 32,
                    bands: Int = 16, threshold: Double = 0.5,
                    bucketCap: Int = DefaultBucketCap,
                    perAnchor: Int = HardNegPerAnchor,
                    preCap: Int = HardNegPreVerifyCap): DataFrame = {
    val rows = k / bands
    val sig = signatures(docs, n, k)
      .transform(graft.Caches.hold)
    // materialize ONCE before the fan-out: the banding branch and the
    // two verify legs all read this frame, and the verify legs sit
    // under exchanges whose map stages the scheduler launches
    // concurrently with the banding stage — unfilled cache + three
    // concurrent readers = the tokenize→shingle→minhash corpus pass
    // (the operator's most expensive projection) racing itself
    sig.count()
    val bnd = bandRows(sig, bands, rows)
    // banded candidates WITH their collision multiplicity (the
    // distinct() in the shared verify path drops it): pairs from each
    // bucket's sorted, capped id list, then one (d1, d2) count
    val candN = bnd
      .groupBy(col("band"), col("band_sig"))
      .agg(slice(sort_array(collect_list(col("doc_id"))), 1, bucketCap).as("ids"))
      .where(size(col("ids")) > 1)
      .select(explode(pairsFromSortedIds).as("p"))
      .groupBy(col("p.a").as("d1"), col("p.b").as("d2"))
      .agg(count(lit(1)).as("n_bands"))
    val wPre = org.apache.spark.sql.expressions.Window
      .partitionBy(col("d1")).orderBy(col("n_bands").desc, col("d2"))
    val capped = candN
      .withColumn("prk", row_number().over(wPre))
      .where(col("prk") <= preCap)
      .select(col("d1"), col("d2"))
    val t = sig.select(col("doc_id"), col("sh"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("d1")).orderBy(col("jaccard").desc, col("d2"))
    // SHUFFLE_HASH on both joins: the window output has no size
    // stats, and left to estimates Spark broadcasts the corpus-grain
    // shingle frame (gigabytes of arrays, rebuilt per leg — measured
    // 2.4× the whole operator at the 10× probe). Build sides are
    // chosen per join by WIDTH, not convention: join 1 builds the
    // bare (d1, d2) pair frame (two longs per row); join 2 must
    // build the SHINGLE side — the pair frame now carries the sh1
    // arrays, and hinting it as build (the round-11 form) made each
    // task hash-build gigabytes of arrays, which is exactly the
    // "Can't acquire 512 MB to build hash relation" OOM the first
    // 100× probe of this query hit. The shingle side hashes one
    // corpus partition of arrays per task (scales with
    // shuffle-partition count); the wide pair frame streams.
    capped.hint("SHUFFLE_HASH")
      .join(t.select(col("doc_id").as("d1"), col("sh").as("sh1")), "d1")
      .join(t.select(col("doc_id").as("d2"), col("sh").as("sh2"))
        .hint("SHUFFLE_HASH"), "d2")
      .withColumn("jaccard",
        call_function("graft_jaccard", col("sh1"), col("sh2")))
      .where(col("jaccard") < threshold)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= perAnchor)
      .select(col("d1"), col("d2"), col("jaccard"), col("rank"),
        lit(preCap).as("pre_cap"))
      .orderBy(col("d1"), col("rank"))
  }

  /** LSH-banded candidates with their exact verified jaccard — the
    * shared stage behind [[minhashPairs]] (keeps ≥ threshold) and
    * [[hardNegatives]] (keeps the complement). */
  private def verifiedCandidates(docs: DataFrame, n: Int, k: Int,
                                 bands: Int, bucketCap: Int): DataFrame = {
    val rows = k / bands
    // k=32 / r=2: at J=0.5 the candidate recall is 1-(1-J^2)^16 ≈ 0.99
    // (vs 0.64 with r=4) while halving the signature work; the extra
    // false candidates are filtered by the exact verification.
    // Persisted because bands + both verify sides read it — without
    // the persist the tokenize→shingle→hash chain (the most expensive
    // projection in the engine) runs three times. MEMORY_AND_DISK so
    // a 100 TB corpus spills instead of evicting mid-job.
    val sig = signatures(docs, n, k)
      .transform(graft.Caches.hold)
    val bnd = bandRows(sig, bands, rows)
    // bucket by (band, band_sig) and emit pairs from each bucket's
    // sorted, capped id list — no join blowup on hot buckets
    val cand = bnd
      .groupBy(col("band"), col("band_sig"))
      .agg(slice(sort_array(collect_list(col("doc_id"))), 1, bucketCap).as("ids"))
      .where(size(col("ids")) > 1)
      .select(explode(pairsFromSortedIds).as("p"))
      .select(col("p.a").as("d1"), col("p.b").as("d2"))
      .distinct()
    val t = sig.select(col("doc_id"), col("sh"))
    // SHUFFLE_HASH with width-aware build sides (the hardNegatives
    // discipline): left to estimates, the planner sort-merge-joins —
    // sorting shingle-ARRAY rows spilled 13.7 GB in one stage at the
    // 100× probe. Join 1 builds the bare (d1, d2) pair frame; join 2
    // must build the bare shingle side (the pair frame now carries
    // the sh1 arrays — hashing THAT side is the 512 MB hash-relation
    // OOM class), one corpus partition of arrays per task.
    cand.hint("SHUFFLE_HASH")
      .join(t.select(col("doc_id").as("d1"), col("sh").as("sh1")), "d1")
      .join(t.select(col("doc_id").as("d2"), col("sh").as("sh2"))
        .hint("SHUFFLE_HASH"), "d2")
      .withColumn("jaccard",
        call_function("graft_jaccard", col("sh1"), col("sh2")))
  }

  /** Pair-level precision/recall of the LSH-banded minhash path
    * measured against the exact inverted-index pairs at the SAME
    * jaccard threshold — the text twin of
    * [[VectorSearch.nearDupRecall]]. Recall < 1 localizes banding
    * misses (pairs whose signatures never collided in any band);
    * precision < 1 localizes df-cap drops on the EXACT leg (minhash
    * found a true pair whose shared shingles were all capped out of
    * the index) — both asymmetries are measurement targets, not
    * noise. Both legs are the linear scale paths (no quadratic
    * baseline anywhere), so this eval can run corpus-wide, but its
    * operational home is a held-out sample re-checked whenever
    * bands/rows/cap parameters change. */
  /** Evaluation-sample target for [[minhashRecallSampled]] —
    * interpolated into the q_minhash_recall oracle's sample-modulus
    * derivation, so engine and gate sample identically. */
  val RecallSampleTarget = 5000L

  /** Deterministic doc-sample modulus: every `mod`-th doc_id, with
    * `mod ≈ n/target` so the sampled sub-corpus holds ~`target` docs
    * at any corpus size. Same derive-from-the-corpus contract as
    * [[graft.operators.VectorSearch.centroidStrideFor]]. Rounding:
    * JVM half-up equals SQL half-away for positives, so the oracle's
    * `round(count(*)/target)` always lands on the same modulus. */
  def sampleModFor(corpusCount: Long,
                   target: Long = RecallSampleTarget): Long = {
    require(target > 0, "sample target must be positive")
    math.max(1L, math.round(corpusCount.toDouble / target))
  }

  /** [[minhashRecall]] on a corpus-derived deterministic sample — the
    * operational form at scale: recall/precision of the banding are
    * PROPERTIES OF THE PARAMETERS (bands, rows, df cap), estimated
    * unbiasedly from a sub-corpus; the full-corpus exact leg grows in
    * the df² regime and is exactly what an evaluator need not pay
    * (63× at the 10× sf1 probe before sampling). The modulus derives
    * from the corpus count (~[[RecallSampleTarget]] docs kept), so
    * the gate corpora — at or under the target — evaluate the FULL
    * corpus: sampling engages only above gate scale, and the oracle
    * replays the identical derivation, making the engaged regime
    * gate-visible. Both legs restrict to the same sampled docs, so
    * every reported pair is a true pair of the sub-corpus. */
  def minhashRecallSampled(docs: DataFrame, n: Int = 3,
                           threshold: Double = 0.5,
                           target: Long = RecallSampleTarget): DataFrame = {
    val mod = sampleModFor(docs.count(), target)
    minhashRecall(docs.where(col("doc_id") % mod === 0), n, threshold)
  }

  def minhashRecall(docs: DataFrame, n: Int = 3,
                    threshold: Double = 0.5): DataFrame = {
    val exact = jaccardPairs(docs, n, threshold)
      .select(col("d1"), col("d2"), lit(1).as("in_exact"))
    val approx = minhashPairs(docs, n = n, threshold = threshold)
      .select(col("d1"), col("d2"), lit(1).as("in_approx"))
    exact.join(approx, Seq("d1", "d2"), "full_outer")
      .agg(
        coalesce(sum(col("in_exact")), lit(0L)).as("n_exact"),
        coalesce(sum(col("in_approx")), lit(0L)).as("n_approx"),
        coalesce(sum(col("in_exact") * col("in_approx")), lit(0L))
          .as("n_both"))
      .withColumn("precision",
        col("n_both").cast("double") / nullif(col("n_approx"), lit(0L)))
      .withColumn("recall",
        col("n_both").cast("double") / nullif(col("n_exact"), lit(0L)))
  }

  /** LSH banding-curve calibration: the observed candidate rate of
    * the minhash banding per exact-jaccard decile against the closed
    * S-curve 1−(1−s^r)^b — the tuning table behind every bands/rows
    * choice this family makes (an operator reads WHERE the observed
    * curve sags below theory before touching a parameter: a uniform
    * sag means bucket-cap loss, a sag only at low deciles is the
    * designed cut-off doing its job). Denominator = the df-capped
    * exact inverted-index pairs at `threshold` ([[jaccardPairs]]);
    * numerator = those pairs that the banding also surfaced
    * ([[verifiedCandidates]]'s pre-verify candidate set, bucket cap
    * and all — so the curve measures the DEPLOYED candidate
    * generation, caps included, not idealized banding).
    *
    * Bit-portable by construction: bucket = floor(jaccard·10) off
    * the identical IEEE ratio both engines compute, counts are
    * integers, and the theoretical leg at the bucket midpoint is an
    * EXACT multiplication chain — r=2, b=16 gives 1−((1−s²)²)²…² via
    * four squarings, every step a correctly-rounded IEEE multiply —
    * no pow(), whose last-ulp behavior is libm-specific (the
    * require() pins the parameters the chain hardcodes). Grid-sized
    * output (≤ 7 deciles at threshold 0.3). */
  def lshCurve(docs: DataFrame, n: Int = 3, k: Int = 32, bands: Int = 16,
               threshold: Double = 0.3,
               bucketCap: Int = DefaultBucketCap,
               dfCap: DfCap = DerivedDfCap()): DataFrame = {
    require(k == 32 && bands == 16,
      "the exact-squaring theoretical curve hardcodes k=32, r=2, b=16")
    val exact = jaccardPairs(docs, n, threshold, dfCap)
      .select(col("d1"), col("d2"), col("jaccard"))
    val cand = verifiedCandidates(docs, n, k, bands, bucketCap)
      .select(col("d1"), col("d2"), lit(1L).as("in_cand"))
    def sq(c: Column): Column = c * c
    exact.join(cand, Seq("d1", "d2"), "left_outer")
      .select(
        least(floor(col("jaccard") * 10).cast("int"), lit(9))
          .as("jaccard_bucket"),
        coalesce(col("in_cand"), lit(0L)).as("in_cand"))
      .groupBy(col("jaccard_bucket"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("in_cand")).as("n_candidates"))
      .withColumn("candidate_rate",
        col("n_candidates").cast("double") / col("n_pairs"))
      .withColumn("s_mid",
        (col("jaccard_bucket") * 2 + 1).cast("double") / lit(20.0))
      .withColumn("expected_rate",
        lit(1.0) - sq(sq(sq(sq(lit(1.0) - col("s_mid") * col("s_mid"))))))
      .select(col("jaccard_bucket"), col("n_pairs"), col("n_candidates"),
        col("candidate_rate"), col("s_mid"), col("expected_rate"))
      .orderBy(col("jaccard_bucket"))
  }

  /** [[lshCurve]] on the corpus-derived deterministic sample — the
    * [[minhashRecallSampled]] discipline: the curve is a property of
    * the PARAMETERS, estimated from ~[[RecallSampleTarget]] docs at
    * any corpus size (the exact leg grows in the df² regime); gate
    * corpora at or under the target evaluate the full corpus, so
    * sampling engages only above gate scale and the oracle replays
    * the identical modulus. */
  def lshCurveSampled(docs: DataFrame, n: Int = 3,
                      threshold: Double = 0.3,
                      target: Long = RecallSampleTarget): DataFrame = {
    val mod = sampleModFor(docs.count(), target)
    lshCurve(docs.where(col("doc_id") % mod === 0), n, threshold = threshold)
  }

  /** MinHash sketch-accuracy calibration: per exact-jaccard decile,
    * the mean signature-agreement estimate (matching coordinates / k
    * — the estimator every minhash decision implicitly trusts,
    * E[est] = J) against the mean exact jaccard, with the bias — the
    * "measure, don't guess" row for the SKETCH itself, where
    * [[minhashRecall]] measures only the banding's recall. A biased
    * decile says k is too small for that similarity regime BEFORE a
    * dedup threshold silently moves.
    *
    * Pairs come from the same df-capped exact index ([[jaccardPairs]]
    * at `threshold`), so the agreement join is pairs × k — row-local
    * zip over two k-length arrays, never corpus². Exact-integer
    * portability: Σ matching coordinates is an integer (mean_est =
    * Σ/(n·k), one fixed division), and the exact-jaccard mean folds
    * on the round(j·10⁶) integer grid ([[VectorSearch.dimensionStats]]
    * discipline) — no order-dependent double sums anywhere. */
  def minhashEstCurve(docs: DataFrame, n: Int = 3, k: Int = 32,
                      threshold: Double = 0.3,
                      dfCap: DfCap = DerivedDfCap()): DataFrame = {
    val exact = jaccardPairs(docs, n, threshold, dfCap)
      .select(col("d1"), col("d2"), col("jaccard"))
    val arr = signatures(docs, n, k)
      .select(col("doc_id"),
        array((0 until k).map(i => col(s"m$i")): _*).as("mh"))
    exact
      .join(arr.select(col("doc_id").as("d1"), col("mh").as("mh1")), "d1")
      .join(arr.select(col("doc_id").as("d2"), col("mh").as("mh2")), "d2")
      .select(
        least(floor(col("jaccard") * 10).cast("int"), lit(9))
          .as("jaccard_bucket"),
        size(filter(zip_with(col("mh1"), col("mh2"), (a, b) => a === b),
          x => x)).cast("long").as("matches"),
        round(col("jaccard") * 1000000).cast("bigint").as("jq"))
      .groupBy(col("jaccard_bucket"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("matches")).as("sum_matches"),
        sum(col("jq")).as("sum_jq"))
      .select(col("jaccard_bucket"), col("n_pairs"),
        (col("sum_matches").cast("double") /
          (col("n_pairs") * k).cast("double")).as("mean_est"),
        (col("sum_jq").cast("double") / col("n_pairs").cast("double") /
          lit(1000000.0)).as("mean_exact"),
        (col("sum_matches").cast("double") /
          (col("n_pairs") * k).cast("double") -
          col("sum_jq").cast("double") / col("n_pairs").cast("double") /
            lit(1000000.0)).as("bias"))
      .orderBy(col("jaccard_bucket"))
  }

  /** [[minhashEstCurve]] on the corpus-derived sample — same contract
    * as [[lshCurveSampled]]. */
  def minhashEstCurveSampled(docs: DataFrame, n: Int = 3,
                             threshold: Double = 0.3,
                             target: Long = RecallSampleTarget): DataFrame = {
    val mod = sampleModFor(docs.count(), target)
    minhashEstCurve(docs.where(col("doc_id") % mod === 0), n,
      threshold = threshold)
  }

  /** Incremental-ingestion dedup: flag each NEW doc that exactly or
    * nearly duplicates the EXISTING corpus — the operational shape at
    * 100 TB, where the daily increment is deduped against the corpus
    * index instead of re-deduping the whole corpus. Output, one row
    * per new doc ordered by id: (doc_id, exact_match, near_match,
    * is_new) where the match columns carry the smallest matching
    * corpus id (NULL = none) and is_new = no match of either kind.
    *
    * Scale shape: the corpus side reduces to its fingerprint set and
    * minhash band index — both corpus-sized-once artifacts a real
    * deployment precomputes and reuses across increments; the
    * increment (tiny by comparison) is fingerprinted/shingled fresh.
    * Candidates come from joining the increment's band rows against
    * the corpus's capped per-bucket id lists, so a hot bucket costs
    * O(increment_rows_in_bucket × cap), never corpus². Verification
    * is the exact Jaccard on candidate shingle sets only. NB the
    * q_dedup_incremental oracle replays the COMBINED-bucket
    * formulation (cross pairs of the all-docs LSH), which is
    * identical whenever the bucket cap does not bind — the gate
    * corpora sit two orders of magnitude under the cap; in a binding
    * regime the split cap here keeps MORE increment-side candidates
    * (the whole increment row set probes each bucket, only the corpus
    * list is capped). New-vs-new
    * duplicates are deliberately NOT flagged here — dedup the
    * increment internally with [[minhashDedup]]/
    * [[TextAnalysis.exactDedup]] first, then probe the corpus. */
  def dedupIncrement(newDocs: DataFrame, corpus: DataFrame, n: Int = 3,
                     k: Int = 32, bands: Int = 16, threshold: Double = 0.5,
                     bucketCap: Int = DefaultBucketCap): DataFrame =
    dedupIncrementAgainst(newDocs,
      buildIncrementIndex(corpus, n, k, bands, bucketCap), threshold)

  /** The increment-side probe of [[dedupIncrement]] against an
    * already-built (or [[loadIncrementIndex]]-loaded) corpus index —
    * the batch twin of
    * [[graft.streaming.EventStream.nearDupProbe]]. */
  def dedupIncrementAgainst(newDocs: DataFrame, idx: IncrementIndex,
                            threshold: Double = 0.5): DataFrame = {
    import graft.functions.TextFunctions.normText
    val (n, k, bands) = (idx.n, idx.k, idx.bands)
    val newFp = newDocs.select(col("doc_id"), md5(normText(col("text"))).as("fp"))
    val exact = newFp.join(idx.fingerprints, Seq("fp"), "left_outer")
      .select(col("doc_id"), col("exact_match"))
    val sigN = signatures(newDocs, n, k)
      .transform(graft.Caches.hold)
    val cand = bandRows(sigN, bands, k / bands)
      .join(idx.buckets, Seq("band", "band_sig"))
      .select(col("doc_id"), explode(col("c_ids")).as("c_id"))
      .distinct()
    val near = cand
      .join(sigN.select(col("doc_id"), col("sh").as("sh_n")), "doc_id")
      .join(idx.sigs, "c_id")
      .withColumn("jaccard",
        call_function("graft_jaccard", col("sh_n"), col("sh_c")))
      .where(col("jaccard") >= threshold)
      .groupBy(col("doc_id")).agg(min(col("c_id")).as("near_match"))
    newDocs.select(col("doc_id"))
      .join(exact, Seq("doc_id"), "left_outer")
      .join(near, Seq("doc_id"), "left_outer")
      .withColumn("is_new",
        col("exact_match").isNull && col("near_match").isNull)
      .orderBy(col("doc_id"))
  }

  /** Corpus-side probe artifacts for incremental/streaming near-dup:
    * the exact-fingerprint map (min corpus id per md5), the capped
    * LSH band index, and the per-doc shingle sets the exact-Jaccard
    * verify reads. One corpus-sized pass builds all three; a real
    * deployment persists them across increments (publish like
    * [[graft.operators.AnnIndex]]) instead of re-scanning 100 TB per
    * daily batch, and the streaming probe
    * ([[graft.streaming.EventStream.nearDupProbe]]) joins the SAME
    * artifacts stream-static — one index definition, two cadences.
    * The signature scan backing `buckets`/`sigs` is persisted (both
    * read it); call [[IncrementIndex.release]] when retired. */
  case class IncrementIndex(fingerprints: DataFrame, buckets: DataFrame,
                            sigs: DataFrame, n: Int, k: Int, bands: Int,
                            private val backing: Option[DataFrame]) {
    /** Unpersist the shared signature scan (no-op for a loaded
      * index, whose frames are parquet-backed). */
    def release(): Unit = backing.foreach(graft.Caches.release)
  }

  def buildIncrementIndex(corpus: DataFrame, n: Int = 3, k: Int = 32,
                          bands: Int = 16,
                          bucketCap: Int = DefaultBucketCap): IncrementIndex = {
    import graft.functions.TextFunctions.normText
    val fp = corpus
      .select(col("doc_id").as("c_id"), md5(normText(col("text"))).as("fp"))
      .groupBy(col("fp")).agg(min(col("c_id")).as("exact_match"))
    val sigC = signatures(corpus, n, k)
      .transform(graft.Caches.hold)
    val buckets = bandRows(sigC, bands, k / bands)
      .groupBy(col("band"), col("band_sig"))
      .agg(slice(sort_array(collect_list(col("doc_id"))), 1, bucketCap)
        .as("c_ids"))
    IncrementIndex(fp, buckets,
      sigC.select(col("doc_id").as("c_id"), col("sh").as("sh_c")),
      n, k, bands, Some(sigC))
  }

  /** Catalog table names for a published increment index. */
  val DefaultDedupPrefix = "graft_dedup"
  def fpTable(prefix: String): String = s"${prefix}_fp"
  def bucketsTable(prefix: String): String = s"${prefix}_buckets"
  def sigsTable(prefix: String): String = s"${prefix}_sigs"

  /** Publish the corpus-side dedup index as catalog parquet tables —
    * the [[graft.operators.AnnIndex.publish]] discipline for the
    * dedup family: ONE corpus scan per snapshot writes the
    * exact-fingerprint map, the capped band index and the shingle
    * sets; every subsequent increment (batch [[dedupIncrement]]-style
    * probe) or stream
    * ([[graft.streaming.EventStream.nearDupProbe]]) probes the frozen
    * artifacts instead of re-scanning 100 TB of corpus text. Probe
    * results against a loaded index are row-identical to an
    * in-session build (TextSpec proves it): the artifacts carry the
    * exact shingle sets, so verification is exact either way.
    * Re-publish on corpus snapshot advance, exactly like retraining
    * ANN centroids on drift. */
  def publishIncrementIndex(corpus: DataFrame, n: Int = 3, k: Int = 32,
                            bands: Int = 16,
                            bucketCap: Int = DefaultBucketCap,
                            prefix: String = DefaultDedupPrefix): Unit = {
    val idx = buildIncrementIndex(corpus, n, k, bands, bucketCap)
    try {
      graft.sources.Sources.publishTable(idx.fingerprints, fpTable(prefix))
      graft.sources.Sources.publishTable(idx.buckets, bucketsTable(prefix))
      graft.sources.Sources.publishTable(idx.sigs, sigsTable(prefix))
    } finally idx.release()
  }

  /** Dedup-index health report: the LSH bucket-occupancy histogram
    * (stored, i.e. cap-truncated, bucket sizes pooled across bands) —
    * the QA an operator reads BEFORE trusting an increment run
    * against a published index. A mass at `bucket_size = bucketCap`
    * means the cap is binding (recall loss on whatever shares those
    * buckets — re-shard with more bands or raise the cap); a healthy
    * corpus shows a long tail of 1s and single-digit buckets. Cost:
    * the same one corpus scan the index build pays; the oracle
    * replays tokenize→minhash→band→cap in SQL, so cap engagement is
    * gate-checked, not folklore. */
  def indexStats(corpus: DataFrame, n: Int = 3, k: Int = 32,
                 bands: Int = 16,
                 bucketCap: Int = DefaultBucketCap): DataFrame =
    buildIncrementIndex(corpus, n, k, bands, bucketCap).buckets
      .groupBy(size(col("c_ids")).as("bucket_size"))
      .agg(count(lit(1)).as("n_buckets"))
      .orderBy(col("bucket_size"))

  /** Staleness thresholds for [[indexStaleness]]: the published index
    * needs a rebuild when more than this fraction of the live
    * corpus's fingerprints are unknown to it (drift in), or more than
    * this fraction of its fingerprints no longer exist in the corpus
    * (deletes/rewrites) — 10% tracks the usual "rebuild when the
    * increment stops being incremental" operating point. Interpolated
    * into the q_index_staleness oracle, PureProps-pinned. */
  val StaleNewFracMax: Double = 0.1
  val StaleGoneFracMax: Double = 0.1

  /** Staleness gate for a published increment index: compares the
    * LIVE corpus's exact-fingerprint set against the index's
    * published fingerprint map and emits the one-row rebuild verdict
    * — the check an operator runs BEFORE trusting a probe cadence
    * against frozen artifacts ([[publishIncrementIndex]] freezes a
    * snapshot; nothing else says when the snapshot has drifted). A
    * probe against a stale index silently under-flags duplicates
    * (new near-dup families are invisible to frozen buckets), so
    * staleness must be a measured gate, not an ops memory.
    *
    * Measures (all exact, md5-portable → fully hash-gated): index and
    * corpus fingerprint cardinalities, `n_new_fp` (live fingerprints
    * the index has never seen), `n_gone_fp` (index fingerprints no
    * longer live), their fractions, and `stale` = either fraction
    * over its threshold (thresholds ride as literal columns).
    *
    * Scale shape: two fingerprint-set frames (the index side IS the
    * published artifact — corpus-sized-once; the live side is the
    * same one-pass projection the exact dedup family pays), one
    * full-outer join on the md5 hash, ONE global aggregate row. */
  def indexStaleness(current: DataFrame, indexFp: DataFrame,
                     maxNewFrac: Double = StaleNewFracMax,
                     maxGoneFrac: Double = StaleGoneFracMax): DataFrame = {
    import graft.functions.TextFunctions.normText
    val cur = current.select(md5(normText(col("text"))).as("fp")).distinct()
      .withColumn("in_cur", lit(1))
    val idx = indexFp.select(col("fp")).distinct()
      .withColumn("in_idx", lit(1))
    cur.join(idx, Seq("fp"), "full_outer")
      .agg(
        count(col("in_idx")).as("n_index_fp"),
        count(col("in_cur")).as("n_corpus_fp"),
        count(when(col("in_cur").isNotNull && col("in_idx").isNull, 1))
          .as("n_new_fp"),
        count(when(col("in_idx").isNotNull && col("in_cur").isNull, 1))
          .as("n_gone_fp"))
      .select(col("n_index_fp"), col("n_corpus_fp"), col("n_new_fp"),
        col("n_gone_fp"),
        (col("n_new_fp").cast("double") /
          nullif(col("n_corpus_fp"), lit(0L)).cast("double")).as("new_frac"),
        (col("n_gone_fp").cast("double") /
          nullif(col("n_index_fp"), lit(0L)).cast("double")).as("gone_frac"),
        lit(maxNewFrac).as("max_new_frac"),
        lit(maxGoneFrac).as("max_gone_frac"))
      .withColumn("stale",
        coalesce(col("new_frac") > col("max_new_frac"), lit(false)) ||
          coalesce(col("gone_frac") > col("max_gone_frac"), lit(false)))
  }

  /** Load a published increment index. `n`/`k`/`bands` must match the
    * publish-time values (they parameterize the PROBE side's shingle
    * and band generation; the artifacts carry no metadata row by
    * design — catalog tables stay pure data). A mismatch cannot
    * corrupt silently: band sigs are formatted from k/bands, so wrong
    * parameters produce zero bucket joins, and the increment spec
    * pins the round trip. Precondition: the snapshot exists (see
    * [[freshIncrementIndex]] for the bootstrap-aware path). */
  def loadIncrementIndex(spark: org.apache.spark.sql.SparkSession,
                         n: Int = 3, k: Int = 32, bands: Int = 16,
                         prefix: String = DefaultDedupPrefix): IncrementIndex =
    IncrementIndex(
      spark.table(fpTable(prefix)),
      spark.table(bucketsTable(prefix)),
      spark.table(sigsTable(prefix)),
      n, k, bands, None)

  /** Staleness-AWARE index acquisition: the refresh-policy loop of
    * [[indexStaleness]] closed as code instead of an ops runbook.
    * Consults the published snapshot's staleness verdict against the
    * LIVE corpus; when stale (new-fingerprint or gone-fingerprint
    * drift past its threshold) the index is rebuilt from the live
    * corpus and re-published BEFORE any probe trusts it — a probe
    * against a drifted snapshot silently under-flags duplicates (new
    * near-dup families are invisible to frozen buckets), which is a
    * corpus-quality bug no downstream gate would catch.
    *
    * Returns (index, rebuilt): callers route probes through the
    * returned index unconditionally; `rebuilt` is the audit signal
    * (a rebuild on every call means the refresh cadence is wrong,
    * exactly what [[indexStaleness]]'s fractions quantify first).
    * The verdict is ONE driver-side boolean off the one-row staleness
    * frame — control-plane, same discipline as the BPE merge loop;
    * the rebuild itself is the same one-scan publish the nightly job
    * pays. Bootstrap: when NO snapshot was ever published under
    * `prefix` (first run in a fresh catalog), the index is built from
    * the live corpus and published — "serve a fresh index" holds from
    * call one, and `rebuilt=true` flags the cold start. */
  def freshIncrementIndex(corpus: DataFrame, n: Int = 3, k: Int = 32,
                          bands: Int = 16,
                          bucketCap: Int = DefaultBucketCap,
                          prefix: String = DefaultDedupPrefix,
                          maxNewFrac: Double = StaleNewFracMax,
                          maxGoneFrac: Double = StaleGoneFracMax)
      : (IncrementIndex, Boolean) = {
    val spark = corpus.sparkSession
    // a snapshot is all three tables or nothing: a failed publish can
    // leave a partial set behind (fp written, buckets/sigs not — or
    // the converse), and gating on one table alone either overwrites
    // the survivors silently or loads a snapshot whose missing
    // sibling fails much later inside a probe join. Any partial set
    // is treated as a bootstrap (full republish), loudly.
    val snapshot = Seq(fpTable(prefix), bucketsTable(prefix),
      sigsTable(prefix)).map(t => t -> spark.catalog.tableExists(t))
    if (snapshot.exists(!_._2)) {
      if (snapshot.exists(_._2)) System.err.println(
        s"[graft] PARTIAL dedup snapshot under '$prefix' (" +
          snapshot.map { case (t, ok) =>
            s"$t=${if (ok) "present" else "MISSING"}" }.mkString(", ") +
          ") — republishing the full set")
      publishIncrementIndex(corpus, n, k, bands, bucketCap, prefix)
      return (loadIncrementIndex(spark, n, k, bands, prefix), true)
    }
    val published = loadIncrementIndex(spark, n, k, bands, prefix)
    val stale = indexStaleness(corpus, published.fingerprints,
      maxNewFrac, maxGoneFrac).select(col("stale")).head().getBoolean(0)
    if (stale) {
      publishIncrementIndex(corpus, n, k, bands, bucketCap, prefix)
      (loadIncrementIndex(spark, n, k, bands, prefix), true)
    } else (published, false)
  }

  /** Bloom-pruned incremental EXACT dedup: the corpus's fingerprints
    * are reduced to one fixed-size bloom bitset
    * ([[graft.functions.BloomAgg]] — map-side OR-combine, so the
    * 100 TB corpus ships one bitset per task, not its fingerprints),
    * the increment probes the broadcast blob row-locally
    * (codegen'd [[graft.functions.BloomContains]]), and ONLY
    * bloom-positive rows reach the exact fingerprint join. At steady
    * state an increment is mostly novel text, so the join's probe
    * side shrinks to true-dup rate + false-positive rate — the rest
    * of the increment never shuffles at all.
    *
    * The output is EXACT (same rows as a plain fingerprint
    * left-join): a bloom false positive just pays the join once and
    * finds no match; a false NEGATIVE is impossible by construction —
    * which is why the q_dedup_bloom oracle replays plain exact
    * semantics and would catch any missed duplicate. Default sizing:
    * 2^22 bits / 5 hashes ≈ 0.1% FP at 100k corpus fingerprints;
    * scale numBits with the corpus (bits ≈ 10× fingerprint count for
    * ~1% FP). */
  def dedupIncrementBloom(newDocs: DataFrame, corpus: DataFrame,
                          numBits: Int = 1 << 22,
                          numHashes: Int = 5): DataFrame = {
    import graft.functions.TextFunctions.normText
    val corpusFp = corpus
      .select(col("doc_id").as("c_id"), md5(normText(col("text"))).as("fp"))
      .groupBy(col("fp")).agg(min(col("c_id")).as("rep_id"))
    val bloom = corpusFp
      .agg(expr(s"graft_bloom_agg(xxhash64(fp), $numBits, $numHashes)")
        .as("bf"))
    val probed = newDocs
      .select(col("doc_id"), md5(normText(col("text"))).as("fp"))
      .crossJoin(broadcast(bloom))
      .withColumn("maybe", expr("graft_bloom_contains(bf, xxhash64(fp))"))
    val hits = probed.where(col("maybe"))
      .join(corpusFp, Seq("fp"), "left_outer")
      .select(col("doc_id"), col("rep_id"))
    val misses = probed.where(!col("maybe"))
      .select(col("doc_id"), lit(null).cast("long").as("rep_id"))
    hits.unionByName(misses)
      .withColumn("is_dup", col("rep_id").isNotNull.cast("int"))
      .orderBy(col("doc_id"))
  }

  /** Transitive near-duplicate clustering: connected components over
    * the verified pair graph by iterative min-label propagation —
    * every doc's rep becomes the smallest doc_id reachable through
    * ANY chain of verified near-dup pairs, where [[minhashDedup]]'s
    * one-hop summary only looks at direct partners (A~B, B~C puts A
    * and C in different groups there; here they share a cluster).
    *
    * Shape: the pairs with both ends in `docs` become the held
    * [[Affinity.halfEdges]] — the same build and per-node fold as
    * [[Affinity.kCore]] and [[Affinity.pageRank]] — and the labels a
    * driver `Long` array over the sorted edge-touched doc ids (a doc
    * with no verified pair never changes its label, so only the
    * near-dup sliver of the corpus iterates). Each synchronous round
    * is one single-stage job: broadcast the labels, collect every
    * node's minimum neighbour label, lower each label to it. Rounds ≈
    * graph diameter; near-dup clusters are near-cliques, so it
    * converges in 1–2. Singletons are appended after convergence as
    * (doc_id, doc_id, 1), which is exactly what the fixpoint assigns
    * them; an edge with a NULL end or an end outside `docs` links
    * nothing. Output: (doc_id, rep_id, cluster_size), cluster_size ≥ 1. */
  def dedupClusters(docs: DataFrame, edges: DataFrame,
                    maxIter: Int = 20): DataFrame = {
    val spark = docs.sparkSession
    val ids = docs.select(col("doc_id").cast("long"))
    def inDocs(c: String) = ids.select(col("doc_id").as(c))
    val half = Affinity.halfEdges(edges
      .select(col("d1").cast("long").as("a"), col("d2").cast("long").as("b"))
      .join(inDocs("a"), Seq("a"), "left_semi")
      .join(inDocs("b"), Seq("b"), "left_semi"))
    val nodes = half.flatMap(_._1.iterator).collect().sorted
    // one round: (next labels, how many labels it lowered)
    def step(labels: Array[Long]): (Array[Long], Int) = {
      val bc = spark.sparkContext.broadcast((nodes, labels))
      val nbrMin = half.flatMap { p =>
        val (ns, ls) = bc.value
        Affinity.perNode(p)(v => ls(java.util.Arrays.binarySearch(ns, v)),
          _ min _, Long.MaxValue)
      }.collect()
      bc.destroy()
      val next = labels.clone()
      var changed = 0
      nbrMin.foreach { case (u, m) =>
        val i = java.util.Arrays.binarySearch(nodes, u)
        if (m < next(i)) { next(i) = m; changed += 1 }
      }
      (next, changed)
    }
    var labels = nodes
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val (next, changed) = step(labels)
      labels = next
      converged = changed == 0
      iter += 1
    }
    // fail loud rather than emit split components: min-label moves one
    // hop per round, so a chain longer than the budget would otherwise
    // come back silently partitioned into wrong clusters. Detecting
    // convergence needs one zero-change round AFTER the last real
    // propagation, so a run whose final counted round still changed
    // labels gets one extra verification step before being declared
    // unconverged (a diameter-of-exactly-maxIter component is complete
    // even though the loop never observed a quiet round).
    if (!converged && step(labels)._2 > 0)
      throw new GraftDataException(
        s"dedupClusters did not converge within $maxIter iterations — " +
          "a component has diameter exceeding the budget; raise maxIter")
    // not destroyed: the returned frame reads it when it executes
    val fin = spark.sparkContext.broadcast((nodes, labels))
    val rows = half.flatMap { case (ns, _, _) =>
      val (all, ls) = fin.value
      ns.iterator.map(u => Row(u, ls(java.util.Arrays.binarySearch(all, u))))
    }
    val labelled = spark.createDataFrame(rows, StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("rep", LongType, nullable = false))))
    val sizes = labelled.groupBy(col("rep")).agg(count(lit(1)).as("cluster_size"))
    val clustered = labelled.join(sizes, "rep")
      .select(col("doc_id"), col("rep").as("rep_id"), col("cluster_size"))
    val singletons = ids
      .join(labelled.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("rep_id"),
        lit(1L).as("cluster_size"))
    clustered.unionByName(singletons).orderBy(col("doc_id"))
  }

  /** Best-copy survivors over transitive near-dup clusters: each
    * [[dedupClusters]] component keeps its highest-QUALITY member
    * (quality_score desc, doc_id tiebreak) instead of the min-label
    * representative — [[TextAnalysis.exactDedupBest]]'s survivor
    * policy lifted from exact-duplicate groups to near-dup components,
    * which is where it matters most: the members of a near-dup cluster
    * genuinely differ, so WHICH copy survives changes the corpus. Adds
    * one row-local scoring pass and one component-keyed window on top
    * of the clustering; components are near-dup groups (small by
    * construction), so the per-component sort is bounded. */
  def clusterBest(docs: DataFrame, edges: DataFrame): DataFrame = {
    val clusters = dedupClusters(docs, edges)
    val scored = TextAnalysis.qualityFrame(docs, Nil)
      .select(col("doc_id"), col("quality_score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("rep_id"))
      .orderBy(col("quality_score").desc_nulls_last, col("doc_id"))
    clusters.join(scored, "doc_id")
      .withColumn("best_id", first(col("doc_id")).over(w))
      .withColumn("is_dup", (col("doc_id") =!= col("best_id")).cast("int"))
      .select(col("doc_id"), col("rep_id"), col("cluster_size"),
        col("quality_score"), col("best_id"), col("is_dup"))
      .orderBy(col("doc_id"))
  }

  /** SimHash: 40-bit fingerprint from the portable rolling hash — per
    * token, each bit contributes ±1; fingerprint bit j is the sign of
    * the sum. Emits (doc_id, simhash, b0..b3 10-bit band keys) for
    * hamming-bucket grouping — consumed by [[simhashPairs]]. */
  def simhash(docs: DataFrame): DataFrame =
    simhashFrame(docs).orderBy(col("doc_id"))

  /** [[simhash]] without the presentation sort — the input of
    * [[simhashPairs]]' band bucketing. */
  private def simhashFrame(docs: DataFrame): DataFrame = {
    // one native row-local pass over the token array (graft_simhash):
    // the previous 40-sum-column aggregate hash-shuffled the whole
    // token stream on doc_id; this computes the fingerprint where the
    // row lives — zero exchange, bit-identical counters. Token-less
    // docs are filtered exactly as the aggregate dropped them.
    val fp = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .where(size(col("toks")) > 0)
      .select(col("doc_id"),
        call_function("graft_simhash", col("toks")).as("simhash"))
    fp.select(
      col("doc_id"),
      col("simhash"),
      col("simhash").bitwiseAND(1023).as("b0"),
      shiftright(col("simhash"), 10).bitwiseAND(1023).as("b1"),
      shiftright(col("simhash"), 20).bitwiseAND(1023).as("b2"),
      shiftright(col("simhash"), 30).bitwiseAND(1023).as("b3"))
  }

  /** SimHash near-dup pairs — the cheapest-signature dedup path (one
    * long per document vs 32 minhash columns): bucket documents by
    * their four 10-bit band keys, generate candidate pairs from each
    * bucket's sorted capped id prefix, and verify candidates exactly
    * by hamming distance `bit_count(xor(s1, s2)) <= maxHamming`. With
    * 4 bands over 40 bits, any pair within hamming 3 agrees exactly on
    * at least one band (pigeonhole), so `maxHamming <= 3` gives FULL
    * recall from the banding — the only approximation is the bucket
    * cap, which the oracle replays (sorted prefix), so a binding cap
    * is gate-visible.
    *
    * Scale shape: signatures are ZERO shuffle ([[simhash]]'s native
    * row-local graft_simhash pass); bucketing shuffles
    * (band, key, doc_id, simhash) rows only, and the capped buckets
    * are collected to the driver while the frame is built. That is
    * bounded by the banding, not by the corpus: at most 4 × 1024
    * buckets of `bucketCap` members, 16 bytes a member (doc_id and
    * simhash) plus two int indexes, broadcast as primitive arrays
    * ([[SimhashBuckets]]). The frame's rows are one single-stage RDD
    * job of `spark.sql.shuffle.partitions` tasks, in which each d1 is
    * owned by one task: the members with a bucket tail behind them,
    * in doc_id order, are cut into contiguous d1 ranges of about equal
    * candidate count (the tail lengths), never inside a d1, and with
    * no empty range while there are as many d1s as tasks. A task scans
    * each of its d1s' ≤ 4 bucket tails with the popcount test
    * ([[graft.functions.HammingPairs.scan]]), sorts the survivors and
    * drops the cross-band repeats. Its rows come out in (d1, d2)
    * order, and the tasks in d1 order, so the pairs never cross the
    * network: no pair exchange, no range-bound sampling job (which
    * re-ran the whole fan-out), no `distinct` and no sort. A
    * degenerate bucket — e.g. a whole corpus of near-identical bags
    * whose band keys coincide, exactly what this synthetic corpus
    * does — costs O(cap²) popcounts spread over the tasks that own
    * its members, never O(m²). The frame holds its broadcast, as
    * [[Affinity.kCore]]'s does.
    * Output: (d1 < d2, hamming). */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
                   bucketCap: Int = DefaultBucketCap): DataFrame = {
    require(maxHamming <= 3,
      "maxHamming > 3 breaks the 4-band pigeonhole recall guarantee")
    require(maxHamming >= 0, s"simhashPairs: maxHamming=$maxHamming")
    val spark = docs.sparkSession
    val bandStructs = (0 until 4).map(b =>
      struct(lit(b).as("band"), col(s"b$b").as("key")))
    val buckets = simhashFrame(docs)
      .select(col("doc_id"), col("simhash"),
        explode(array(bandStructs: _*)).as("bs"))
      .groupBy(col("bs.band"), col("bs.key"))
      // struct sort = doc_id order (ids are unique), so the capped
      // prefix is identical to the sorted-id prefix the oracle replays
      .agg(slice(sort_array(collect_list(struct(col("doc_id"), col("simhash")))),
        1, bucketCap).as("ids"))
      .where(size(col("ids")) > 1)
      .select(col("ids"))
      .collect()
      .map(_.getSeq[Row](0))
    val members = buckets.flatten
    val bounds = buckets.map(_.size).scanLeft(0)(_ + _)
    val end = buckets.indices.flatMap(b => Seq.fill(buckets(b).size)(bounds(b + 1))).toArray
    val ids = members.map(r => if (r.isNullAt(0)) 0L else r.getLong(0))
    val sigs = members.map(_.getLong(1))
    // a NULL doc_id fails if it would pair (d1 and d2 are
    // non-nullable), as in graft_hamming_pairs; otherwise it pairs
    // with nothing and owns nothing. NULLs sort first in a bucket, so
    // their own tails hold every pair they are in.
    val nullId = members.map(_.isNullAt(0))
    for (m <- members.indices if nullId(m))
      HammingPairs.scan(sigs(m), sigs, m + 1, end(m), maxHamming)((_, _) =>
        throw new IllegalArgumentException("simhashPairs: a NULL doc_id in a pair " +
          s"within hamming $maxHamming; d1 and d2 are non-nullable"))
    val owners = members.indices.filter(m => !nullId(m) && m + 1 < end(m))
      .sortBy(ids(_)).toArray
    val starts = owners.indices
      .filter(i => i == 0 || ids(owners(i)) != ids(owners(i - 1))) :+ owners.length
    val weights = starts.indices.init.map(g =>
      (starts(g) until starts(g + 1)).map(i => end(owners(i)) - owners(i) - 1L).sum)
    val n = spark.sessionState.conf.numShufflePartitions
    val cuts = balancedCuts(weights, n).map(starts(_))
    // not destroyed: the returned frame reads it when it executes
    val bc = spark.sparkContext.broadcast(SimhashBuckets(ids, sigs, end, owners))
    val rows = spark.sparkContext.parallelize(0 until n, n)
      .flatMap(t => bc.value.rows(cuts(t), cuts(t + 1), maxHamming))
    GraftExpressionBridge.internalFrame(spark, rows, StructType(Seq(
      StructField("d1", LongType, nullable = false),
      StructField("d2", LongType, nullable = false),
      StructField("hamming", IntegerType, nullable = false))))
  }

  /** [[simhashPairs]]' collected buckets as primitive arrays: each
    * bucket's members are contiguous in `ids`/`sigs` in doc_id order,
    * `end(m)` is one past the last member of m's bucket, and `owners`
    * holds every member with a tail behind it, in doc_id order. */
  private final case class SimhashBuckets(ids: Array[Long], sigs: Array[Long],
                                          end: Array[Int], owners: Array[Int]) {

    /** The (d1, d2, hamming) rows of `owners` [lo, hi), which hold
      * whole d1s, in (d1, d2, hamming) order, each row once. */
    def rows(lo: Int, hi: Int, maxHamming: Int): Iterator[InternalRow] = {
      // one d2 list per hamming value: each sorts as primitives, and
      // the merge orders equal d2s by hamming
      val byH = Array.fill(maxHamming + 1)(new mutable.ArrayBuilder.ofLong)
      (lo until hi).iterator
        .filter(i => i == lo || ids(owners(i)) != ids(owners(i - 1)))
        .flatMap { start =>
          val d1 = ids(owners(start))
          var i = start
          while (i < hi && ids(owners(i)) == d1) {
            val m = owners(i)
            HammingPairs.scan(sigs(m), sigs, m + 1, end(m), maxHamming)(
              (j, h) => byH(h) += ids(j))
            i += 1
          }
          val lists = new Array[Array[Long]](byH.length)
          var total = 0
          var c = 0
          while (c < lists.length) {
            lists(c) = byH(c).result()
            byH(c).clear()
            java.util.Arrays.sort(lists(c))
            total += lists(c).length
            c += 1
          }
          val at = new Array[Int](lists.length)
          val out = new Array[InternalRow](total)
          var k = 0
          var h = 0
          while (h >= 0) {
            // the list with the smallest next d2, the lowest h on ties
            h = -1
            c = 0
            while (c < lists.length) {
              if (at(c) < lists(c).length &&
                (h < 0 || lists(c)(at(c)) < lists(h)(at(h)))) h = c
              c += 1
            }
            if (h >= 0) {
              val d2 = lists(h)(at(h))
              // a pair sharing k bands was found k times
              while (at(h) < lists(h).length && lists(h)(at(h)) == d2) at(h) += 1
              out(k) = new GenericInternalRow(Array[Any](d1, d2, h))
              k += 1
            }
          }
          out.iterator.take(k)
        }
    }
  }

  /** Cut points 0 = c(0) ≤ … ≤ c(n) = weights.length splitting the
    * weighted items, in order, into `n` contiguous ranges of about
    * equal weight. No range is empty while there are at least `n`
    * items; with fewer, the first ranges take one item each. */
  private[graft] def balancedCuts(weights: Seq[Long], n: Int): Array[Int] = {
    val g = weights.length
    val before = weights.scanLeft(0L)(_ + _)
    val cuts = new Array[Int](n + 1)
    cuts(n) = g
    var at = 0
    for (k <- 1 until n) {
      // the item boundary nearest k/n of the weight (scaled by n)
      val target = before(g) * k
      while (at < g && before(at) * n < target) at += 1
      val near =
        if (at > 0 && target - before(at - 1) * n < before(at) * n - target) at - 1
        else at
      val lo = math.min(cuts(k - 1) + 1, g)
      cuts(k) = math.min(math.max(near, lo), math.max(g - (n - k), lo))
    }
    cuts
  }

  /** Hamming-distance histogram of the SimHash candidate pairs — the
    * observability row for the simhash family (the [[shingleStats]] /
    * dedupIndexStats pattern): mass piling at the `maxHamming`
    * boundary means the threshold is cutting through a real cluster
    * (raise it or re-band), mass at 0–1 means the corpus carries
    * exact-ish duplicates the cheaper fingerprint pass should have
    * caught first. One ≤(maxHamming+1)-row grid counted off
    * [[simhashPairs]]' own d1-owned tasks: each task counts its pairs
    * per hamming value, and only those partial counts (one row a
    * task) cross to the single task that finishes the grid — no pair
    * or hamming-keyed exchange, and never all pairs. */
  def hammingHist(docs: DataFrame, maxHamming: Int = 3,
                  bucketCap: Int = DefaultBucketCap): DataFrame = {
    val grid = (0 to maxHamming).map(h => struct(lit(h).as("hamming"),
      count_if(col("hamming") === h).as("n_pairs")))
    simhashPairs(docs, maxHamming, bucketCap)
      .agg(array(grid: _*).as("grid"), count(lit(1)).as("total"))
      .select(explode(col("grid")).as("g"), col("total"))
      .where(col("g.n_pairs") > 0)
      .select(col("g.hamming").as("hamming"), col("g.n_pairs").as("n_pairs"),
        (col("g.n_pairs").cast("double") / col("total")).as("pair_share"))
      .orderBy(col("hamming"))
  }

  /** Planted repeated span — the q_span_dedup gate fixture. The
    * synthetic corpus is word-soup over a tiny vocabulary, so natural
    * cross-doc 8-gram sharing is ~zero; without planting, a span
    * dedup gate would compare empty frames. All-lowercase a–z tokens,
    * so the tokenizer maps it to itself. */
  val PlantedSpan: String =
    "the license text below is replicated verbatim across mirrored " +
    "documents and must be stripped by the span deduplicator before " +
    "training because repeated spans teach models to memorize " +
    "boilerplate instead of language"

  /** Append [[PlantedSpan]] to every `every`-th document —
    * deterministic, replayed in SQL by the oracle. */
  def plantSpans(docs: DataFrame, every: Int = 7): DataFrame =
    docs.withColumn("text",
      when(pmod(col("doc_id"), lit(every)) === 0,
        concat(col("text"), lit(" " + PlantedSpan)))
        .otherwise(col("text")))

  /** Cross-doc repeated-span detection (the ExactSubstr pass of Lee
    * et al., "Deduplicating Training Data Makes Language Models
    * Better", ACL'22 — public algorithm): find maximal token spans
    * that appear verbatim in ≥2 distinct documents, the
    * variable-length complement to fixed-granularity
    * [[graft.operators.Curation]] chunk dedup. No suffix array is
    * needed: every repeated span of length ≥ `seedLen` is covered by
    * length-`seedLen` seed windows that are themselves repeated, so
    * (1) hash every token position's seed window (md5 — bit-identical
    * in DuckDB, so the gate replays membership exactly; an
    * engine-only deployment would swap in xxhash64 for an 8-byte
    * shuffle key), (2) keep seeds seen in ≥2 docs, (3) merge each
    * doc's surviving positions into maximal spans with one
    * gaps-and-islands window (new island when the position gap
    * exceeds `seedLen`, i.e. coverage windows no longer overlap or
    * abut). Emits (doc_id, span_start, span_end, span_len, n_seeds)
    * in token coordinates, end-exclusive.
    *
    * 100 TB shape: the seed frame is one row per token position
    * (hash + int + id — ~20 bytes/token); it is persisted because
    * both the df aggregate and the membership join read it — the
    * alternative is a second full tokenize+hash scan of the corpus.
    * Both shuffles key on the 16-byte seed hash (uniform by
    * construction), the islands window partitions per doc, and
    * all-pairs work never exists — a span shared by a million docs
    * costs a million seed rows, not a million² comparisons. */
  /** (doc_id, pos, sk): the md5 seed-window frame shared by
    * [[spanDedup]], [[spanStrip]] and [[seedNovelty]] — one row per
    * token position, MEMOIZED per (session, corpus, seedLen) via
    * [[graft.Caches.memo]]: a curation pipeline running all three
    * span queries pays ONE tokenize+hash corpus scan, not three (the
    * AnnIndex.publish one-artifact discipline, in-session). Seed
    * hashing is the native one-pass
    * [[graft.functions.SeedHashes]] (byte-identical to
    * md5(concat_ws(' ', slice(toks, i+1, k))), so the oracles are
    * unchanged); posexplode supplies the 0-based position. */
  private def seedFrame(docs: DataFrame, seedLen: Int): DataFrame =
    graft.Caches.memo(docs, s"neardup.seeds.$seedLen") {
      docs
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .where(size(col("toks")) >= seedLen)
        .select(col("doc_id"), posexplode(call_function("graft_seed_hashes",
          col("toks"), lit(seedLen))).as(Seq("pos", "sk")))
    }

  def spanDedup(docs: DataFrame, seedLen: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val seeds = seedFrame(docs, seedLen)
    // "≥2 distinct docs" as min≠max: the seed domain is near-unique,
    // so a count-distinct would expand every (sk, doc) pair through a
    // distinct aggregate; min/max combine map-side in one pass with
    // identical semantics (mirrored in the oracle's HAVING).
    val shared = seeds.groupBy(col("sk"))
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .where(col("mn") =!= col("mx"))
      .select(col("sk"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    seeds.join(shared, "sk")
      .select(col("doc_id"), col("pos"))
      .withColumn("prev", lag(col("pos"), 1).over(w))
      .withColumn("new_isl",
        when(col("prev").isNull || col("pos") - col("prev") > seedLen, 1)
          .otherwise(0))
      .withColumn("island", sum(col("new_isl")).over(w))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("s0"), max(col("pos")).as("s1"),
        count(lit(1)).as("n_seeds"))
      .select(col("doc_id"),
        col("s0").cast("int").as("span_start"),
        (col("s1") + seedLen).cast("int").as("span_end"),
        (col("s1") + seedLen - col("s0")).cast("int").as("span_len"),
        col("n_seeds"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** Repeated-span REMOVAL — the apply step of [[spanDedup]]: strip
    * every flagged span from every document and emit the cleaned
    * token text plus removal accounting. Policy is deliberately
    * conservative for memorization risk (strip ALL occurrences, not
    * all-but-one — the canonical copy belongs to the doc-level dedup
    * family, which keeps whole documents). Works in normalized token
    * space: `clean_text` is the surviving tokens space-joined, the
    * same coordinates the spans were reported in.
    *
    * Shape: the span frame is span-sized (tiny vs the corpus) and
    * collected per doc as an array via one groupBy, then the strip is
    * ONE row-local positional filter per doc (each token tests
    * against its own doc's few spans — O(len·spans_per_doc), no
    * shuffle of text beyond the doc⋈spans hash join). */
  def spanStrip(docs: DataFrame, seedLen: Int = 8): DataFrame = {
    val spans = spanDedup(docs, seedLen)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start"), col("span_end")))
        .as("spans"), count(lit(1)).cast("int").as("n_spans"))
    // NULL text reads as an empty doc (0 tokens kept/removed), not a
    // -1-sized row under the legacy size(NULL) semantics
    docs.select(col("doc_id"),
      coalesce(tokens(col("text")), array().cast("array<string>"))
        .as("toks"))
      .join(spans, Seq("doc_id"), "left_outer")
      .withColumn("kept", when(col("spans").isNull, col("toks"))
        .otherwise(filter(col("toks"), (_, i) =>
          !exists(col("spans"), s =>
            i >= s.getField("span_start") && i < s.getField("span_end")))))
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0)).as("n_spans"),
        size(col("toks")).as("n_toks"),
        (size(col("toks")) - size(col("kept"))).as("toks_removed"),
        concat_ws(" ", col("kept")).as("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** Seed-novelty score — the memorization-risk complement of
    * [[spanDedup]]: per document, the fraction of its seed windows
    * that are corpus-UNIQUE (appear in no other document). Low
    * novelty means the doc is largely assembled from text that exists
    * elsewhere (template instantiations, mirrored fragments) even
    * when no single span is long enough for the span report; high
    * novelty marks genuinely fresh text worth keeping under a
    * dedup-pressure budget. Docs shorter than `seedLen` tokens carry
    * no signal: n_seeds = 0, NULL novelty.
    *
    * Shape: same two seed-hash-keyed shuffles as [[spanDedup]] (df
    * aggregate + membership join on the persisted seed frame), then
    * one per-doc aggregate; integer counts, ONE final division. */
  def seedNovelty(docs: DataFrame, seedLen: Int = 8): DataFrame = {
    val seeds = seedFrame(docs, seedLen)
    // corpus-unique ⟺ all occurrences in ONE doc ⟺ min = max — same
    // count-distinct avoidance as [[spanDedup]]'s shared-seed test
    val df = seeds.groupBy(col("sk"))
      .agg((min(col("doc_id")) === max(col("doc_id"))).as("uniq"))
    val scored = seeds.join(df, "sk")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_seeds"),
        sum(col("uniq").cast("bigint")).as("n_unique"))
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_seeds"), lit(0L)).as("n_seeds"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"),
        (col("n_unique").cast("double") / col("n_seeds")).as("novelty"))
      .orderBy(col("doc_id"))
  }
}
