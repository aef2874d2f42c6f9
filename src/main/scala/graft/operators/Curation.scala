package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Dataset-curation operators for training-data pipelines: stable
  * stratified sampling, term-blocklist filtering, and fixed-window
  * token chunking with chunk-level dedup. All row-local column
  * expressions except the one dedup shuffle — each scales linearly
  * with the scan at any corpus size.
  */
object Curation {

  /** [[domainPolicy]] thresholds — interpolated verbatim into the
    * q_domain_policy oracle so the policy CASE is part of the hash
    * gate, not folklore. */
  val PolicyMinQuality = 0.23
  val PolicySampleQuality = 0.245
  val PolicyMaxDupRate = 0.5
  val PolicySampleDupRate = 0.25
  val PolicyMaxShortRate = 0.12
  val PolicyMinTokens = 20

  /** Deterministic per-doc sampling bucket in [0, buckets): the first
    * 24 bits of md5(doc_id) — stable across runs, engines, partitions
    * and cluster sizes, unlike `rand()` (re-rolls per task retry) or
    * `TABLESAMPLE` (physical-layout dependent). The md5-prefix parse
    * is portable SQL: `('0x' || substr(md5(id), 1, 6))::BIGINT` in
    * DuckDB replays it exactly. */
  def sampleBucket(id: Column, buckets: Int): Column =
    pmod(conv(substring(md5(id.cast("string")), 1, 6), 16, 10).cast("long"),
      lit(buckets))

  /** Hash-stratified sampling: keep each doc iff its [[sampleBucket]]
    * falls under its stratum's rate (strata with no configured rate
    * are dropped). The workhorse of mixture curation — "50% of en,
    * all of fr, 25% of zh" — as a zero-shuffle, rerun-stable filter:
    * adding data to the corpus never changes the keep/drop decision
    * of an existing doc, so incremental pipeline runs stay consistent.
    * At 100 TB this is a scan + filter with full pushdown below it;
    * no state, no shuffle, no driver involvement. The operator needs
    * only `doc_id` and `strataCol`; `passthrough` names extra input
    * columns to carry into the output. */
  def stratifiedSample(docs: DataFrame, rates: Map[String, Double],
                       strataCol: String = "lang",
                       buckets: Int = 10000,
                       passthrough: Seq[String] = Nil): DataFrame = {
    val threshold = rates.keys.toSeq.sorted.foldRight(lit(0)) { (s, acc) =>
      when(col(strataCol) === s,
        lit(math.round(rates(s) * buckets).toInt)).otherwise(acc)
    }
    docs
      .withColumn("bucket", sampleBucket(col("doc_id"), buckets))
      .where(col("bucket") < threshold)
      .select((Seq("doc_id", strataCol) ++ passthrough :+ "bucket").map(col): _*)
      .orderBy(col("doc_id"))
  }

  /** Deterministic train/val/test split with a per-split mixture
    * report. Assignment is a salted md5 bucket of doc_id (the ':split'
    * salt keeps it INDEPENDENT of [[sampleBucket]]-based sampling
    * decisions — a doc's sample fate must not correlate with its split
    * fate), so it is rerun-stable: growing the corpus never moves an
    * existing doc between splits, and no coordination or state is
    * needed — any worker can answer "which split?" row-locally. The
    * report aggregates (split, lang) doc and token counts with each
    * split's share of all docs — the balance check that catches a
    * skewed split before training does. Plan: row-local assignment +
    * one aggregate to the (3 × langs) grain; the total arrives by
    * broadcast. */
  def hashSplit(docs: DataFrame, buckets: Int = 10000,
                trainBuckets: Int = 8000,
                valBuckets: Int = 1000): DataFrame = {
    require(trainBuckets + valBuckets <= buckets)
    val bucket = pmod(conv(substring(
      md5(concat(col("doc_id").cast("string"), lit(":split"))), 1, 6),
      16, 10).cast("long"), lit(buckets))
    val withSplit = docs
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("toks"),
        bucket.as("bucket"))
      .select(col("doc_id"), col("lang"), sizeOrNull(col("toks")).as("n_toks"),
        when(col("bucket") < trainBuckets, "train")
          .when(col("bucket") < trainBuckets + valBuckets, "val")
          .otherwise("test").as("split"))
    val total = withSplit.select(count(lit(1)).as("n_total"))
    withSplit.groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
      .crossJoin(broadcast(total))
      .withColumn("doc_share", col("n_docs").cast("double") / col("n_total"))
      .select(col("split"), col("lang"), col("n_docs"), col("n_tokens"),
        col("doc_share"))
      .orderBy(col("split"), col("lang"))
  }

  /** Term-blocklist filter: per-doc blocklist hit count, hit fraction,
    * first matching term (NULL when clean) and a keep flag. The
    * blocklist travels inside the plan as an array literal — at
    * cluster scale it ships once per task closure (broadcast-like),
    * never as a join side. NULL text / zero tokens propagate NULL
    * fraction and flag rather than dividing by zero. */
  def blocklistFilter(docs: DataFrame, terms: Seq[String],
                      maxFrac: Double): DataFrame = {
    val arr = array(terms.map(lit): _*)
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), sizeOrNull(col("toks")).as("n_toks"),
        filter(col("toks"), t => array_contains(arr, t)).as("ha"))
      .select(
        col("doc_id"), col("n_toks"),
        sizeOrNull(col("ha")).as("bl_hits"),
        element_at(col("ha"), 1).as("first_term"),
        (sizeOrNull(col("ha")).cast("double") / nullif(col("n_toks"), lit(0)))
          .as("bl_frac"))
      .withColumn("kept", col("bl_frac") <= maxFrac)
      .orderBy(col("doc_id"))
  }

  /** Exact-substring canary scan: which of ≤64 literal phrases (eval
    * benchmark canaries, policy strings, tracking snippets) occur in
    * each document — substring semantics, so multi-word phrases and
    * mid-token hits that [[blocklistFilter]]'s token-set membership
    * cannot see. ONE Aho–Corasick pass per row
    * ([[graft.functions.MatchMask]], full-DFA, early-exit) instead of
    * k `contains` rescans of the text: at a 100 TB corpus × a
    * 50-phrase canary list that is the difference between 1 and 50
    * CPU passes over every byte. Emits the match bitmask plus derived
    * pattern count and first (lowest-index) matched pattern — all
    * integer bit arithmetic, replayed exactly by the oracle. */
  def canaryScan(docs: DataFrame, phrases: Seq[String]): DataFrame =
    canaryScanUnordered(docs, phrases).orderBy(col("doc_id"))

  /** [[canaryScan]] without the final sort — the one-pass DFA scan is
    * stateless, so it runs unchanged over an unbounded stream
    * ([[graft.streaming.EventStream.canaryScanStream]]). */
  def canaryScanUnordered(docs: DataFrame,
                          phrases: Seq[String]): DataFrame = {
    val mask = call_function("graft_match_mask",
      (col("text") +: phrases.map(lit)): _*)
    docs
      .select(col("doc_id"), mask.as("mask"))
      .withColumn("n_pats", bit_count(col("mask")).cast("int"))
      .withColumn("first_idx", when(col("mask") =!= 0,
        bit_count(col("mask").bitwiseAND(negate(col("mask"))) - 1)
          .cast("int")))
  }

  /** Deterministic boilerplate planting — the oracle fixture for
    * [[boilerplateStrip]] (the synthetic corpus is single-line, so an
    * unplanted oracle would find no frequent lines). Every
    * doc_id % 3 == 0 doc gains a newsletter line, every % 4 == 1 a
    * rights line — overlapping mods, so some docs carry both —
    * mirrored with chr(10) concatenation in the oracle SQL. */
  val BoilerplateLine1 = "Subscribe to our newsletter for updates"
  val BoilerplateLine2 = "All rights reserved worldwide"

  def plantBoilerplate(docs: DataFrame): DataFrame =
    docs.withColumn("text", concat(col("text"),
      when(col("doc_id") % 3 === 0, lit("\n" + BoilerplateLine1))
        .otherwise(lit("")),
      when(col("doc_id") % 4 === 1, lit("\n" + BoilerplateLine2))
        .otherwise(lit(""))))

  /** Corpus-frequent-line (boilerplate) removal, the C4-style cleanup
    * pass (Raffel et al. 2020 — public recipe): a line appearing in at
    * least one in `maxDocEvery` of all documents is boilerplate (nav
    * chrome, cookie banners, license footers) and is stripped from
    * every doc. The threshold is the integer comparison
    * `line_df * maxDocEvery >= n_docs` — no fractional cutoff, so the
    * oracle replay is bit-exact at any corpus size (a double 0.05×n
    * crosses ceil() boundaries differently in decimal engines).
    * Two linear passes, no per-doc shuffle of text: pass 1 dedups
    * each doc's lines ROW-LOCALLY (array_distinct — the per-doc
    * `distinct()` this replaces was a second full-line-text exchange:
    * distinct shuffled on (doc, line), then the df aggregate
    * re-shuffled the same text on line; the 100× probe clocked
    * q_boilerplate 18.3× for 10× data on exactly that double
    * exchange) and explodes into ONE line-keyed frequency aggregate
    * (map-side combined) whose output is tiny by construction (a line
    * over the df threshold can number at most avgLinesPerDoc /
    * minDocFrac distinct values), so the frequent set collapses to a
    * ONE-ROW array frame that broadcast-crossJoins back; pass 2
    * strips row-locally with an array higher-order filter — document
    * text never shuffles, and the whole strip stays inside
    * whole-stage codegen. NULL text propagates NULL counts/output. */
  def boilerplateStrip(docs: DataFrame, maxDocEvery: Int = 20): DataFrame = {
    val lines = docs.select(
      explode(array_distinct(split(col("text"), "\n"))).as("line"))
    val freq = lines
      .groupBy(col("line")).agg(count(lit(1)).as("line_df"))
      .crossJoin(broadcast(docs.select(count(lit(1)).as("n_total"))))
      .filter(col("line_df") * maxDocEvery >= col("n_total"))
      .agg(array_sort(collect_list(col("line"))).as("bp_lines"))
    docs.crossJoin(broadcast(freq))
      .select(col("doc_id"),
        split(col("text"), "\n").as("ls"), col("bp_lines"))
      .select(col("doc_id"), col("ls"),
        filter(col("ls"), l => !array_contains(col("bp_lines"), l)).as("keep"))
      .select(col("doc_id"),
        sizeOrNull(col("ls")).as("n_lines"),
        (sizeOrNull(col("ls")) - sizeOrNull(col("keep"))).as("n_dropped"),
        array_join(col("keep"), "\n").as("cleaned"))
      .withColumn("clean_fp", md5(col("cleaned")))
      .orderBy(col("doc_id"))
  }

  /** Fixed-window token chunking: split each doc's token stream into
    * windows of `size` tokens every `stride` tokens (overlap =
    * size − stride), the shape LLM pretraining shards want. Windows
    * are `ceil((n − size) / stride) + 1` per doc so every token is
    * covered; the tail window may be short. Docs with zero tokens
    * produce no chunks. Emits (doc_id, chunk_ix, start_tok,
    * n_chunk_toks, chunk_fp) with an md5 fingerprint of the rejoined
    * window — row-local explode, no shuffle, output ~n/stride rows
    * per doc regardless of corpus size. */
  def chunks(docs: DataFrame, size: Int = 32, stride: Int = 24): DataFrame =
    chunkFrame(docs, size, stride).orderBy(col("doc_id"), col("chunk_ix"))

  /** [[chunks]] without the presentation sort — shared with
    * [[chunkDedup]] and [[packChunks]], which impose their own
    * ordering. */
  private def chunkFrame(docs: DataFrame, size: Int, stride: Int): DataFrame = {
    require(stride > 0 && size >= stride,
      s"need size >= stride > 0, got size=$size stride=$stride")
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("nt", org.apache.spark.sql.functions.size(col("toks")))
      .where(col("nt") > 0)
      // ceil((nt-size)/stride)+1 in exact integer arithmetic; `sequence`
      // would count DOWN for a negative span, hence the nt>0 guard
      .withColumn("nchunks",
        when(col("nt") <= size, lit(1))
          .otherwise(expr(s"(nt - $size + ${stride - 1}) div $stride")
            .cast("int") + 1))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), col("nchunks") - 1)).as("chunk_ix"))
      .withColumn("start_tok", col("chunk_ix") * stride)
      .withColumn("chunk", slice(col("toks"), col("start_tok") + 1, lit(size)))
      .select(
        col("doc_id"), col("chunk_ix"), col("start_tok"),
        org.apache.spark.sql.functions.size(col("chunk")).as("n_chunk_toks"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_fp"))
  }

  /** Chunk-level exact dedup: duplicate window groups across the
    * corpus — the paragraph-granularity dedup pass (boilerplate
    * headers/footers repeated across docs) that doc-level dedup
    * misses. One hash shuffle on the chunk fingerprint; group rows
    * are bounded counts, never materialized chunk lists. */
  def chunkDedup(docs: DataFrame, size: Int = 32,
                 stride: Int = 24): DataFrame =
    chunkFrame(docs, size, stride)
      .groupBy(col("chunk_fp"))
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("first_doc"))
      .where(col("n_occ") > 1)
      .orderBy(col("chunk_fp"))

  /** Sequence packing: assign every chunk, in (doc_id, chunk_ix)
    * order, to a fixed `contextLen`-token training bin — the
    * concatenate-and-slice step that turns a curated corpus into
    * equal-budget pretraining rows. A chunk's bin is determined by
    * the EXCLUSIVE running token total before it
    * (`bin_id = prefix // contextLen`, `bin_offset = prefix %
    * contextLen`), so bins are filled greedily in corpus order and a
    * chunk can straddle a boundary (its tail spills into the next
    * bin, exactly like token-stream packing).
    *
    * The global running sum is NOT a global window (which would drag
    * the whole corpus through one task): phase 1 range-partitions by
    * (doc_id, chunk_ix) and sums each partition (one tiny job — one
    * long per partition to the driver); phase 2 assigns bins locally
    * from each partition's broadcast exclusive offset. The classic
    * distributed prefix-sum — every step is partition-parallel at any
    * corpus size. */
  def packChunks(docs: DataFrame, contextLen: Int, size: Int = 32,
                 stride: Int = 24): DataFrame = {
    require(contextLen > 0, s"contextLen must be positive, got $contextLen")
    val spark = docs.sparkSession
    val sorted = chunkFrame(docs, size, stride)
      .repartitionByRange(col("doc_id"), col("chunk_ix"))
      .sortWithinPartitions(col("doc_id"), col("chunk_ix"))
    // both the per-partition-sum job and the assignment pass read this
    // RDD — persist so the tokenize→chunk chain runs once
    val base = graft.Caches.holdRdd(sorted.rdd)
    val nIdx = sorted.schema.fieldIndex("n_chunk_toks")
    val partSums = base.mapPartitionsWithIndex { (pid, it) =>
      var s = 0L
      it.foreach(r => s += r.getInt(nIdx))
      Iterator((pid, s))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = spark.sparkContext.broadcast(
      partSums.scanLeft(0L)(_ + _))
    val schema = sorted.schema
      .add("bin_id", org.apache.spark.sql.types.LongType, nullable = false)
      .add("bin_offset", org.apache.spark.sql.types.LongType, nullable = false)
    val rdd = base.mapPartitionsWithIndex { (pid, it) =>
      var prefix = offsets.value(pid)
      it.map { r =>
        val out = org.apache.spark.sql.Row.fromSeq(
          r.toSeq :+ prefix / contextLen :+ prefix % contextLen)
        prefix += r.getInt(nIdx)
        out
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Packing-fragmentation QA: the docs-per-bin distribution of
    * [[packChunks]]'s output plus straddling-chunk counts — the
    * cross-document-attention gauge for a packed training run. Stream
    * packing fills every bin exactly (utilization is trivially 1), so
    * the quality question is FRAGMENTATION: a bin holding chunks of
    * many distinct documents trains attention across unrelated
    * contexts unless the loader masks boundaries, and a chunk whose
    * tokens straddle two bins (bin_offset + n_chunk_toks > contextLen)
    * is split mid-sequence. Per docs-per-bin level: bin count, chunk
    * count, straddling chunks, share of all bins. A bin's chunks =
    * chunks STARTING in it (its bin_id), the deterministic attribution
    * the packer's prefix-sum already assigns.
    *
    * Shape: the packer's one distributed prefix-sum pass, one
    * bins-grain aggregate (slim integers, linear), then a ≤docs-sized
    * grid. Counts are exact integers; the share is the one final
    * division. */
  def packFragmentation(docs: DataFrame, contextLen: Int,
                        size: Int = 32, stride: Int = 24): DataFrame = {
    val perBin = packChunks(docs, contextLen, size, stride)
      .groupBy(col("bin_id"))
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(when(col("bin_offset") + col("n_chunk_toks") > contextLen,
          1L).otherwise(0L)).as("n_straddle"))
      // two readers (grid + total) of a bins-grain integer frame
      .transform(graft.Caches.hold)
    val total = perBin.agg(count(lit(1)).as("total_bins"))
    perBin.groupBy(col("n_docs"))
      .agg(count(lit(1)).as("n_bins"), sum(col("n_chunks")).as("n_chunks"),
        sum(col("n_straddle")).as("n_straddle"))
      .crossJoin(broadcast(total))
      .select(col("n_docs"), col("n_bins"), col("n_chunks"),
        col("n_straddle"),
        (col("n_bins").cast("double") / col("total_bins").cast("double"))
          .as("bin_share"))
      .orderBy(col("n_docs"))
  }

  /** Source-mixture plan: per source, the available docs/tokens and
    * share of the corpus, the TARGET share implied by a per-source
    * weight map (unlisted sources weight `defaultWeight`, weights
    * normalized over the sources actually present), the target token
    * count under a total budget of `budgetFactor` × corpus tokens, and
    * the implied epochs (passes over the source's data — > 1 means
    * upsampling, < 1 downsampling). The mixture-rebalancing worksheet
    * that decides a [[stratifiedSample]] rate map: weights express the
    * desired mix, epochs say what each source must be repeated/sampled
    * at to hit it.
    *
    * Shape: one map-side-combine hash aggregate to source grain (the
    * only full-data exchange — tokenization is row-local), then
    * unbounded windows over the sources-sized frame for the two
    * normalizers. Shares/epochs are single exact IEEE divisions (and
    * one floor) of exact inputs, so the oracle compares
    * bit-identically. */
  def mixturePlan(docs: DataFrame, weights: Map[String, Double],
                  budgetFactor: Double,
                  defaultWeight: Double = 1.0): DataFrame = {
    val w = weights.keys.toSeq.sorted.foldRight(lit(defaultWeight)) {
      (s, acc) => when(col("source") === s, lit(weights(s))).otherwise(acc)
    }
    val all = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    docs
      .select(col("source"), tokens(col("text")).as("toks"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(sizeOrNull(col("toks")).cast("long")), lit(0L))
          .as("n_tokens"))
      .withColumn("weight", w)
      .withColumn("tot_tokens", sum(col("n_tokens")).over(all))
      .withColumn("tot_weight", sum(col("weight")).over(all))
      .withColumn("avail_share",
        col("n_tokens").cast("double") / nullif(col("tot_tokens"), lit(0L)))
      .withColumn("target_share",
        col("weight") / nullif(col("tot_weight"), lit(0.0)))
      .withColumn("target_tokens",
        floor(col("target_share") * lit(budgetFactor) *
          col("tot_tokens").cast("double")).cast("long"))
      .withColumn("epochs",
        col("target_tokens").cast("double") /
          nullif(col("n_tokens"), lit(0L)))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("avail_share"), col("target_share"), col("target_tokens"),
        col("epochs"))
      .orderBy(col("source"))
  }

  /** Temperature-smoothed source mixture: sampling shares p_i ∝
    * avail_share_i^(1/2) — the standard sqrt-temperature flattening of
    * a skewed source distribution (multilingual-corpus sampling à la
    * XLM/mT5's α ≈ 0.5 exponent, public recipes: Conneau & Lample
    * 2019; Xue et al. 2021): head sources are damped, tail sources
    * boosted, without ever inverting the order. The `boost` column
    * (smoothed/available) is the per-source up/down-sampling factor a
    * [[stratifiedSample]] rate map implements. Exponent is FIXED at
    * 1/2 because sqrt is an IEEE-correctly-rounded primitive in every
    * engine, so the oracle matches bit-for-bit — a free `pow(x, t)`
    * would put a libm last-ulp disagreement inside a hash gate.
    *
    * Shape: one map-side-combined hash aggregate to source grain (the
    * only corpus-sized exchange — same scan as [[mixturePlan]]), then
    * windows over the sources-sized grid. The double normalizer
    * Σ√share is an ORDERED fold over the source-sorted collect_list
    * (the q_lang_mix discipline) — a plain window sum over doubles
    * would make the result depend on row arrival order. */
  def mixtureTemperature(docs: DataFrame): DataFrame = {
    val all = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    docs
      .select(col("source"), tokens(col("text")).as("toks"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(sizeOrNull(col("toks")).cast("long")), lit(0L))
          .as("n_tokens"))
      .withColumn("tot_tokens", sum(col("n_tokens")).over(all))
      .withColumn("avail_share",
        col("n_tokens").cast("double") / nullif(col("tot_tokens"), lit(0L)))
      .withColumn("root", sqrt(col("avail_share")))
      .withColumn("tot_root", aggregate(
        array_sort(collect_list(struct(col("source"), col("root"))).over(all)),
        lit(0.0), (a, x) => a + x.getField("root")))
      .withColumn("smoothed_share",
        col("root") / nullif(col("tot_root"), lit(0.0)))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("avail_share"), col("smoothed_share"),
        (col("smoothed_share") / nullif(col("avail_share"), lit(0.0)))
          .as("boost"))
      .orderBy(col("source"))
  }

  /** Soft-dedup effective token count per source: every doc in an
    * exact-duplicate family of size n contributes tokens/n — the
    * "keep all copies but weight them 1/n" dedup policy (the gentler
    * alternative to dropping, for corpora where near-boilerplate
    * still carries signal), and the honest denominator for "how many
    * UNIQUE tokens does this source really add". Emitted in exact
    * integer micro-tokens (floor(tokens·10⁶/n) per doc, summed as
    * BIGINT) so the per-source sum is order-independent and
    * hash-portable — a double Σ tokens/n would depend on row arrival
    * order. `eff_ratio` (effective/raw) is the per-source soft-dedup
    * discount: 1.0 = no duplication, → 0 = the source is copies.
    *
    * Shape: one scan projects (fingerprint, tokens); one
    * fingerprint-grain hash aggregate counts family sizes; the join
    * back is co-partitioned on the fingerprint key it just grouped
    * by; then a source-grain grid aggregate. Two key-grain exchanges,
    * nothing quadratic — the q_dedup_exact scale shape plus one
    * join. */
  def softDedupTokens(docs: DataFrame): DataFrame = {
    val fp = docs.select(col("doc_id"), col("source"),
      md5(normText(col("text"))).as("fingerprint"),
      coalesce(sizeOrNull(tokens(col("text"))).cast("long"), lit(0L))
        .as("n_toks"))
    val families = fp.groupBy(col("fingerprint"))
      .agg(count(lit(1)).as("csize"))
    fp.join(families, "fingerprint")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("csize") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
        sum(col("n_toks")).as("raw_tokens"),
        sum(expr("n_toks * 1000000L div csize")).as("eff_tokens_micro"))
      .withColumn("eff_ratio",
        col("eff_tokens_micro").cast("double") /
          nullif(col("raw_tokens") * 1000000L, lit(0L)))
      .orderBy(col("source"))
  }

  /** Fixed-SIZE deterministic sample: the `perStratum` docs of each
    * stratum with the smallest salted md5 hash (doc_id tiebreak) — the
    * fixed-budget complement of the rate-based [[stratifiedSample]]
    * ("give me exactly 1000 docs per language for the eval set").
    * Hash-ordered selection is rerun-stable the way rand() ordering is
    * not, but unlike the rate filter it is NOT growth-stable: new docs
    * can hash under the cut and displace old members (a fixed-size
    * sample of a grown corpus must change — that is the contract).
    *
    * TWO-PHASE selection, so no corpus-sized sort ever happens even
    * for corpus-sized strata: (1) a histogram of 3-hex-char hash
    * prefixes per stratum (one map-side-combined count aggregate over
    * a strata×4096 key space — md5 hex order IS string order, so
    * prefix buckets are order-preserving ranges of the hash line)
    * finds the buckets whose cumulative count reaches `perStratum`;
    * (2) only rows in those contributing buckets — ≈ perStratum plus
    * one boundary bucket (~|stratum|/4096) per stratum — join against
    * the broadcast bucket list and go through the exact (h, doc_id)
    * ranking window. The window input is sample-sized, not
    * stratum-sized: the one-reducer-per-stratum sort this operator
    * used to do on the FULL stratum now touches ~perStratum rows.
    * Same winners, same ranks, bit-identical output. Cost: two corpus
    * scans (histogram + candidate filter) instead of one — at scale a
    * second parallel scan is cheap; a single-reducer terabyte sort is
    * not. A perStratum approaching the stratum size degrades
    * gracefully into the full sort it genuinely requires.
    *
    * Broadcast bound: the contributing-bucket list is ≈
    * ⌈perStratum·4096/|stratum|⌉+1 rows per stratum — a handful for
    * the corpus-sized strata this operator exists for. In a
    * MANY-TINY-STRATA regime (strata ≳ 10⁶ with |stratum| ≲
    * perStratum) the list approaches one row per document and must
    * not be broadcast — but in that regime every row is selected
    * anyway: use the rate-based [[stratifiedSample]] (zero-shuffle)
    * or skip sampling; fixed-size quota selection presupposes strata
    * ≪ corpus. */
  def fixedSample(docs: DataFrame, perStratum: Int,
                  strataCol: String = "lang"): DataFrame = {
    require(perStratum > 0, s"perStratum must be positive: $perStratum")
    val hashed = docs.select(col("doc_id"), col(strataCol),
      md5(concat(col("doc_id").cast("string"), lit(":fix"))).as("h"))
      .withColumn("b", substring(col("h"), 1, 3))
    // per-(stratum, prefix) histogram — tiny (strata × 4096), ordered
    // cumulative sums run per stratum over ≤4096 rows
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol)).orderBy(col("b"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val contrib = hashed.groupBy(col(strataCol), col("b"))
      .agg(count(lit(1)).as("n"))
      .withColumn("cum_end", sum(col("n")).over(wb))
      // a bucket contributes iff the quota isn't already filled by
      // strictly-smaller buckets; the (single) boundary bucket is the
      // one whose range straddles the cut
      .where(col("cum_end") - col("n") < perStratum)
      .select(col(strataCol), col("b"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol))
      .orderBy(col("h"), col("doc_id"))
    hashed
      .join(broadcast(contrib), Seq(strataCol, "b"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= perStratum)
      .select(col("doc_id"), col(strataCol), col("rk"))
      .orderBy(col(strataCol), col("rk"))
  }

  /** Materialize a [[mixturePlan]] into an upsampled training
    * manifest: one output row per (doc, copy). A source with epochs
    * 3.2 repeats every doc 3 times and gives a deterministic 20% of
    * its docs (chosen by a salted [[sampleBucket]], so the extra-copy
    * population is independent of any sampling the docs already went
    * through and stable under corpus growth) a 4th copy — the
    * repeat-and-sample step that turns mixture math into the actual
    * token stream a trainer reads. Fractional thresholds floor to the
    * bucket grid, so a doc's copy count is exact integer arithmetic on
    * both engine and oracle sides.
    *
    * Shape: the sources-sized plan frame broadcasts onto the corpus
    * (row-local copy-count arithmetic + a bounded explode — output is
    * Σ epochs·|source| rows); nothing corpus-sized shuffles. */
  def materializeMixture(docs: DataFrame, weights: Map[String, Double],
                         budgetFactor: Double,
                         buckets: Int = 10000): DataFrame = {
    val plan = mixturePlan(docs, weights, budgetFactor)
      .select(col("source"), col("epochs"))
    docs.select(col("doc_id"), col("source"))
      .join(broadcast(plan), Seq("source"))
      .withColumn("full_copies", floor(col("epochs")))
      .withColumn("frac", col("epochs") - floor(col("epochs")))
      .withColumn("extra",
        (sampleBucket(concat(col("doc_id").cast("string"), lit(":mix")),
          buckets) < floor(col("frac") * buckets)).cast("long"))
      .withColumn("n_copies", col("full_copies") + col("extra"))
      .where(col("n_copies") > 0)
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(0L), col("n_copies") - 1)).as("copy_ix"))
      .orderBy(col("doc_id"), col("copy_ix"))
  }

  /** Per-source quality cap: the best `perSource` docs of each source
    * by composite quality score (ties and NULL scores ordered last by
    * doc_id, so the selection is deterministic) — the "keep the top N
    * documents per domain" mixture-shaping step. Scoring is row-local
    * with `source` passed through (no re-join against the input), and
    * the ranking window partitions by source, so the only pre-filter
    * exchange is the window's hash partitioning; the trailing
    * presentation sort orders the ≤ sources×perSource survivors. */
  def topQualityPerSource(docs: DataFrame, perSource: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("quality_score").desc_nulls_last, col("doc_id"))
    TextAnalysis.qualityFrame(docs, passthrough = Seq("source"))
      .select(col("doc_id"), col("source"), col("quality_score"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= perSource)
      .orderBy(col("source"), col("rk"))
  }

  /** Per-source (domain) curation policy rollup: every doc-level
    * signal this engine computes — composite quality, exact-dup
    * membership, too-short flag — aggregated to the grain curation
    * decisions are actually made at (a crawler blocks DOMAINS, not
    * documents), with a keep / sample / drop policy label derived
    * from fixed thresholds. The domain-reputation table a pipeline
    * consults before it even fetches: a source whose corpus-wide dup
    * rate or quality mean is junk gets dropped wholesale, one that's
    * merely noisy gets sampled.
    *
    * Determinism + scale: quality scores are micro-quantized
    * (floor(score·1e6), the [[TextAnalysis.dupAuc]] recipe — identical
    * double→int boundary in both engines) so the per-source mean is
    * exact integer arithmetic with ONE division at the end; dup
    * membership is a count-over-fingerprint window (the exact-dedup
    * shuffle, md5 keys so no skew); everything else is row-local and
    * the final grain is |sources|. NULL-score docs (empty text) count
    * in n_docs but carry no quality signal; a source with no scored
    * docs has NULL avg_quality and is policy 'drop' explicitly. */
  def domainPolicy(docs: DataFrame,
                   minQuality: Double = PolicyMinQuality,
                   sampleQuality: Double = PolicySampleQuality,
                   maxDupRate: Double = PolicyMaxDupRate,
                   sampleDupRate: Double = PolicySampleDupRate,
                   maxShortRate: Double = PolicyMaxShortRate,
                   minTokens: Int = PolicyMinTokens): DataFrame = {
    val scored = TextAnalysis.qualityFrame(
      docs.withColumn("fingerprint", md5(normText(col("text")))),
      passthrough = Seq("fingerprint", "source"))
    val wf = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fingerprint"))
    val flagged = scored
      .withColumn("is_dup", (count(lit(1)).over(wf) > 1).cast("int"))
      .select(col("source"), col("is_dup"),
        (col("token_cnt") < minTokens).cast("int").as("is_short"),
        floor(col("quality_score") * 1000000).cast("long").as("sq"))
    flagged.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("is_dup")), lit(0L)).as("n_dup"),
        coalesce(sum(col("is_short")), lit(0L)).as("n_short"),
        sum(col("sq")).as("sq_sum"),
        count(col("sq")).as("n_scored"))
      .select(col("source"), col("n_docs"),
        (col("n_dup").cast("double") / col("n_docs")).as("dup_rate"),
        (col("n_short").cast("double") / col("n_docs")).as("short_rate"),
        (col("sq_sum").cast("double") / nullif(col("n_scored"), lit(0L)) /
          lit(1000000.0)).as("avg_quality"))
      .withColumn("policy",
        when(col("avg_quality").isNull
          .or(col("avg_quality") < minQuality)
          .or(col("dup_rate") > maxDupRate), lit("drop"))
          .when((col("avg_quality") < sampleQuality)
            .or(col("dup_rate") > sampleDupRate)
            .or(col("short_rate") > maxShortRate), lit("sample"))
          .otherwise(lit("keep")))
      .orderBy(col("source"))
  }

  /** Weighted sampling without replacement (Efraimidis–Spirakis
    * A-ES): the top `perStratum` docs per stratum under the key
    * ln(u)/w — equivalent to u^(1/w), so a doc's inclusion
    * probability is proportional to its weight (here its token
    * count: "sample by token mass, not doc count", which is what a
    * token-budgeted corpus actually wants). u is a deterministic
    * md5-derived uniform ((first 24 bits + ½)/2²⁴ — never 0 or 1,
    * salt ':es' keeps it independent of the split/sample buckets),
    * so the sample is rerun-stable and engine-portable, unlike
    * rand().
    *
    * Scale shape: the key is a row-local projection; selection is the
    * `graft_topk` bounded-heap aggregate — per-row O(log k),
    * map-side combine, shuffle volume strata×k — NOT a
    * row_number window, which would sort every doc of a popular
    * source on one partition. Zero-weight docs can never be drawn
    * (u^(1/0)=0) and are excluded symmetrically on both sides. */
  def weightedSample(docs: DataFrame, perStratum: Int = 50,
                     strataCol: String = "source"): DataFrame = {
    require(perStratum > 0, s"perStratum must be positive: $perStratum")
    val keyed = docs
      .select(col(strataCol).as("stratum"), col("doc_id"),
        size(tokens(col("text"))).cast("long").as("weight"),
        ((conv(substring(md5(concat(col("doc_id").cast("string"),
          lit(":es"))), 1, 6), 16, 10).cast("long").cast("double") + 0.5) /
          16777216.0).as("u"))
      .where(col("weight") > 0)
      .withColumn("es_key", log(col("u")) / col("weight").cast("double"))
    keyed.groupBy(col("stratum"))
      .agg(call_function("graft_topk", col("es_key"), col("doc_id"),
        lit(perStratum)).as("top"))
      .select(col("stratum"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("stratum"), col("e.id").as("doc_id"),
        col("e.score").as("es_key"),
        (col("pos") + 1).cast("int").as("rk"))
      .orderBy(col("stratum"), col("rk"))
  }

  /** End-to-end curation funnel: quality filter → blocklist → exact
    * dedup (among the survivors, so a kept doc's duplicate that was
    * itself dropped upstream cannot shadow it) → stratified sampling,
    * reported as per-stage doc and token survival — the
    * one-table-per-run report a corpus-curation pipeline publishes.
    * Composes the individual operators unchanged; every stage's doc
    * set is an id semi-join against the previous one, and the token
    * totals read ONE persisted (doc_id, n_toks) frame. The funnel
    * itself adds only id-set joins and five tiny aggregates on top of
    * the composed operators' own (linear / one-shuffle) cost. */
  def curationFunnel(docs: DataFrame, blocklist: Seq[String],
                     blMaxFrac: Double, rates: Map[String, Double],
                     buckets: Int = 10000): DataFrame = {
    val tok = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), sizeOrNull(col("toks")).as("n_toks"))
      .transform(graft.Caches.hold)
    // the flag frames are PERSISTED BEFORE the keep-filter on purpose:
    // filtering the raw operator output would push `keep = 1` down
    // through the staged signal projections, inlining the whole
    // tokenize→bigram→sort chain into per-element lambdas (Spark
    // neither CSEs inside HOF lambdas nor keeps the staging once a
    // pushed predicate references it) — observed as a >1000× blowup,
    // an interpreted O(tokens^k) re-evaluation per row. Materializing
    // (doc_id, flag) once keeps every signal evaluated exactly once;
    // the filter then runs against the in-memory relation.
    val qf = TextAnalysis.qualityFilter(docs)
      .select(col("doc_id"), col("keep"))
      .transform(graft.Caches.hold)
    val bf = blocklistFilter(docs, blocklist, blMaxFrac)
      .select(col("doc_id"), col("kept"))
      .transform(graft.Caches.hold)
    val qIds = qf.where(col("keep") === 1).select(col("doc_id"))
    val bIds = bf.where(col("kept")).select(col("doc_id"))
    val s2 = docs.join(qIds, "doc_id").join(bIds, "doc_id")
    val dIds = TextAnalysis.exactDedup(s2)
      .where(col("is_dup") === 0).select(col("doc_id"))
    val s3 = s2.join(dIds, "doc_id")
    val s4 = stratifiedSample(s3, rates, buckets = buckets)
    def stage(ix: Int, name: String, ids: DataFrame): DataFrame =
      ids.select(col("doc_id")).join(tok, "doc_id")
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("n_toks")), lit(0L)).as("n_tokens"))
        .select(lit(ix).as("stage_ix"), lit(name).as("stage"),
          col("n_docs"), col("n_tokens"))
    Seq(
      stage(0, "raw", docs), stage(1, "quality", qIds),
      stage(2, "blocklist", s2), stage(3, "dedup", s3),
      stage(4, "sample", s4))
      .reduce(_.union(_))
      .orderBy(col("stage_ix"))
  }

  /** Train/test contamination audit: near-duplicate pairs that
    * straddle the [[hashSplit]] boundary — the hygiene check a
    * training pipeline runs BEFORE publishing a split, since a
    * near-dup of a test doc inside train quietly inflates eval (the
    * cross-split complement of [[graft.operators.NearDup.decontaminate]],
    * which checks train against an EXTERNAL benchmark). Pair counts
    * per (split, split) combination with a leak flag on off-diagonal
    * rows. Because the split is salted-hash-derived from doc_id, both
    * endpoints classify row-locally on the pair frame — zero joins,
    * zero extra corpus scans on top of the LSH pair generation. */
  def splitLeak(docs: DataFrame, buckets: Int = 10000,
                trainBuckets: Int = 8000,
                valBuckets: Int = 1000): DataFrame = {
    def splitOf(id: Column): Column = {
      val b = pmod(conv(substring(
        md5(concat(id.cast("string"), lit(":split"))), 1, 6),
        16, 10).cast("long"), lit(buckets))
      when(b < trainBuckets, "train")
        .when(b < trainBuckets + valBuckets, "val")
        .otherwise("test")
    }
    NearDup.minhashPairs(docs)
      .select(splitOf(col("d1")).as("s1"), splitOf(col("d2")).as("s2"))
      .select(least(col("s1"), col("s2")).as("split_a"),
        greatest(col("s1"), col("s2")).as("split_b"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("is_leak",
        (col("split_a") =!= col("split_b")).cast("int"))
      .orderBy(col("split_a"), col("split_b"))
  }

  /** Balanced output-shard plan: assign every doc to one of `shards`
    * output files balancing total token count, via a serpentine
    * (boustrophedon) walk over docs in descending token order — rank r
    * goes to shard r%S on even passes and S-1-(r%S) on odd ones, the
    * static analogue of longest-processing-time scheduling (per-shard
    * token sums stay within one max-doc of each other without any
    * driver-side packing loop). What makes it survive 100 TB is the
    * RANK: a global `row_number()` window is a single-reducer sort of
    * the corpus, so instead docs bucket by fixed-width token ranges
    * (width from corpus min/max — ranges are disjoint and
    * order-aligned, so bucket order IS token order), a tiny ≤`buckets`
    * -row frame turns per-bucket counts into cumulative offsets, and
    * each bucket ranks independently under a bucket-PARTITIONED
    * window: rank = offset + within-bucket row_number − 1 ==
    * the global rank, bit-exact (oracle replays the plain global
    * window). Each window partition sorts ~corpus/buckets rows; a
    * token-value hot spot concentrates one bucket, which AQE splits
    * like any skewed partition. The (doc_id, n_toks) frame is
    * persisted — three legs (stats, offsets, totals) would otherwise
    * re-tokenize the corpus; ~16 bytes/doc, spills to disk. Returns
    * per-shard doc/token totals and the share of all tokens — the
    * balance report a shard writer publishes next to its output. */
  def shardPlan(docs: DataFrame, shards: Int = 16,
                buckets: Int = 64): DataFrame = {
    val t = docs.select(col("doc_id"),
      coalesce(sizeOrNull(tokens(col("text"))).cast("long"), lit(0L))
        .as("n_toks"))
      .transform(graft.Caches.hold)
    val stats = t.agg(min(col("n_toks")).as("lo"), max(col("n_toks")).as("hi"))
    val bucketed = t.crossJoin(broadcast(stats))
      .withColumn("bucket",
        expr(s"(n_toks - lo) div (((hi - lo) div $buckets) + 1)"))
      .select(col("doc_id"), col("n_toks"), col("bucket"))
    val offs = bucketed.groupBy(col("bucket"))
      .agg(count(lit(1)).as("bucket_n"))
      .withColumn("off",
        coalesce(sum(col("bucket_n")).over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("bucket").desc)
            .rowsBetween(org.apache.spark.sql.expressions.Window
              .unboundedPreceding, -1)), lit(0L)))
      .select(col("bucket"), col("off"))
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket"))
      .orderBy(col("n_toks").desc, col("doc_id"))
    val ranked = bucketed.join(broadcast(offs), "bucket")
      .withColumn("rk", col("off") + row_number().over(wb) - 1)
      .withColumn("shard",
        expr(s"""CASE WHEN (rk div $shards) % 2 = 0 THEN rk % $shards
                 ELSE ${shards - 1} - (rk % $shards) END""").cast("int"))
    ranked.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
      .crossJoin(broadcast(t.agg(sum(col("n_toks")).as("tot_tokens"))))
      .withColumn("token_share", col("n_tokens") / col("tot_tokens"))
      .select(col("shard"), col("n_docs"), col("n_tokens"),
        col("token_share"))
      .orderBy(col("shard"))
  }

  /** Curriculum schedule plan: the corpus split into `buckets`
    * equal-population quality tiers (tier 1 = highest-scoring docs),
    * with per-tier doc/token totals and the cumulative token count a
    * trainer walking the curriculum best-first has consumed by the
    * end of each tier — the planning artifact behind
    * quality-ascending training-data schedules.
    *
    * Ranking is the [[ValueMapping.assignDenseIds]] two-phase
    * range-partition + zipWithIndex (global order with NO
    * single-partition window); ties and the handful of unscorable
    * docs are pinned deterministically (score desc, doc_id asc;
    * NULL scores coalesce to −1 so empty docs land in the last tier,
    * where a curriculum wants them). The tier rule is the integer
    * `((rank−1)·buckets) div n + 1`, replayed exactly in the oracle;
    * the final cumulative window runs over `buckets` rows. */
  def curriculumPlan(docs: DataFrame, buckets: Int = 10): DataFrame = {
    require(buckets >= 1, "buckets must be positive")
    val scored = TextAnalysis.qualityFrame(docs, Nil)
      .select(col("doc_id"), col("token_cnt"),
        coalesce(col("quality_score"), lit(-1.0)).as("qs"))
      .withColumn("neg_qs", -col("qs"))
      .withColumn("ord", struct(col("neg_qs"), col("doc_id")))
    val ranked = ValueMapping.assignDenseIds(scored, "ord")
    val n = broadcast(ranked.agg(count(lit(1)).as("n_total")))
    val agg = ranked.crossJoin(n)
      .withColumn("bucket",
        expr(s"((val_id - 1) * $buckets) div n_total").cast("int") + 1)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("token_cnt")).as("n_tokens"),
        min(col("qs")).as("min_score"), max(col("qs")).as("max_score"))
    agg
      .withColumn("cum_tokens", sum(col("n_tokens")).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("bucket"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .orderBy(col("bucket"))
  }

  /** Token-budget allocation across sources by priority-weighted
    * water-filling: spend `budgetNum/budgetDen` of the corpus's
    * tokens, giving each source budget in proportion to its `weight`
    * UNTIL the source runs out of tokens — capped sources keep their
    * full supply and the freed budget re-levels across the rest (the
    * standard water-filling solution, the mixture-planning step a
    * fixed-proportion plan gets wrong whenever a high-priority
    * source is small).
    *
    * Exact integer algorithm: sort sources by capacity ratio
    * A/w ascending; the capped set is the maximal prefix where
    * `Aᵢ·(W−cumWᵢ) ≤ wᵢ·(B−cumAᵢ)` (the cross-multiplied form of
    * "this source's ratio sits under the water level with the prefix
    * capped" — no division anywhere), and uncapped sources get
    * `w·(B−cumA*) div (W−cumW*)`. Every step is int64 on token
    * counts; the windows run over the sources-sized frame (one
    * corpus-grain aggregate upstream, grid-sized after). */
  def tokenBudgetPlan(docs: DataFrame, weightOf: Column,
                      budgetNum: Long = 1, budgetDen: Long = 2): DataFrame = {
    require(budgetNum >= 0 && budgetDen > 0, "budget must be a valid fraction")
    import org.apache.spark.sql.expressions.Window
    val avail = TextAnalysis.qualityFrame(docs, Seq("source"))
      .groupBy(col("source"))
      .agg(sum(col("token_cnt")).as("avail"))
      .withColumn("weight", weightOf.cast("long"))
    val tot = broadcast(avail.agg(
      sum(col("avail")).as("tot_a"), sum(col("weight")).as("tot_w")))
    val w = Window.orderBy(col("ratio_a"), col("ratio_w"), col("source"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val ranked = avail.crossJoin(tot)
      .withColumn("budget", expr(s"(tot_a * $budgetNum) div $budgetDen"))
      // ratio A/w kept as the exact pair (compare a1/w1 < a2/w2 as
      // a1*w2 < a2*w1 is what the ORDER BY needs; a double A/w ratio
      // is correctly rounded once and identical in both engines, so
      // the sort key uses it with the (A, w, source) tiebreak)
      .withColumn("ratio_a", col("avail").cast("double") / col("weight"))
      .withColumn("ratio_w", col("avail"))
      .withColumn("cum_a", sum(col("avail")).over(w))
      .withColumn("cum_w", sum(col("weight")).over(w))
      .withColumn("capped",
        col("avail") * (col("tot_w") - col("cum_w")) <=
          col("weight") * (col("budget") - col("cum_a")))
    // the water level comes from the LAST capped row's cumulative
    // state; the capped set is a prefix of the sort order and both
    // cumulatives are monotone along it, so the conditional max IS
    // that row's state (zero rows capped -> 0/0 = level over the
    // whole budget/weight)
    val lvl = broadcast(ranked
      .agg(coalesce(max(when(col("capped"), col("cum_a"))), lit(0L))
          .as("capped_a"),
        coalesce(max(when(col("capped"), col("cum_w"))), lit(0L))
          .as("capped_w")))
    ranked.crossJoin(lvl)
      .withColumn("allocated",
        when(col("capped"), col("avail"))
          .otherwise(expr(
            "weight * (budget - capped_a) div (tot_w - capped_w)")))
      .select(col("source"), col("avail"), col("weight"), col("budget"),
        col("capped"), col("allocated"),
        (col("allocated").cast("double") / nullif(col("avail"), lit(0L)))
          .as("fill_frac"))
      .orderBy(col("source"))
  }

  /** Corpus concentration by source: Gini over per-source doc AND
    * token counts plus the largest source's share of each — the
    * one-row "is this corpus actually diverse" gauge a mixture plan
    * reads before weighting anything (ten sources where one holds
    * 90% of tokens is one source with satellites). Token Gini and
    * doc Gini disagree exactly when a few sources carry
    * disproportionately long documents.
    *
    * Exactness: the giniByNation integer form — rank-weighted bigint
    * sums over the (count, source)-ordered grid, two mirrored double
    * divisions last; ranks come from windows over the |sources| grid
    * (unpartitioned but grid-sized by construction). One tokenize
    * scan + one source-grain aggregate is all the corpus work. */
  def sourceGini(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sizes = docs
      .select(col("source"), size(tokens(col("text"))).cast("long")
        .as("n_toks"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("nd"), sum(col("n_toks")).as("nt"))
    val ranked = sizes
      .withColumn("rd",
        row_number().over(Window.orderBy(col("nd"), col("source"))))
      .withColumn("rt",
        row_number().over(Window.orderBy(col("nt"), col("source"))))
    ranked
      .agg(count(lit(1)).as("n_sources"),
        sum(col("nd")).as("td"), sum(col("rd") * col("nd")).as("iwd"),
        sum(col("nt")).as("tt"), sum(col("rt") * col("nt")).as("iwt"),
        max(col("nd")).as("maxd"), max(col("nt")).as("maxt"))
      .select(col("n_sources"),
        ((lit(2.0) * col("iwd")) /
          (col("n_sources").cast("double") * col("td")) -
          (col("n_sources") + 1).cast("double") / col("n_sources"))
          .as("gini_docs"),
        ((lit(2.0) * col("iwt")) /
          (col("n_sources").cast("double") * col("tt")) -
          (col("n_sources") + 1).cast("double") / col("n_sources"))
          .as("gini_tokens"),
        (col("maxd").cast("double") / col("td").cast("double"))
          .as("top_doc_share"),
        (col("maxt").cast("double") / col("tt").cast("double"))
          .as("top_token_share"))
  }

  /** Ingestion-mix drift: source composition across doc_id-order
    * buckets — "did my crawl mix shift mid-ingestion", the VOLUME
    * axis next to [[graft.operators.TextAnalysis.qualityTrend]]'s
    * quality axis (a source that quietly became 60% of late buckets
    * skews every downstream mixture even if its quality held). Each
    * (bucket, source) cell carries the in-bucket share, the source's
    * overall corpus share, and the drift delta between them.
    *
    * Shape: the id-grid discipline — bucket is a row-local integer
    * floor-div off collected min/max id literals (driver-small, no
    * sort, no window over the corpus); one (bucket, source) hash
    * aggregate is the only corpus-sized exchange and every share
    * comes from window sums over the buckets×sources grid. */
  def ingestMix(docs: DataFrame, buckets: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(buckets >= 2, "need at least 2 buckets for a drift read")
    val b = buckets.toLong
    val idRow = docs.agg(min(col("doc_id")), max(col("doc_id"))).head
    require(!idRow.isNullAt(0), "ingestMix needs a non-empty corpus")
    val (minId, span) =
      (idRow.getLong(0), idRow.getLong(1) - idRow.getLong(0) + 1)
    val wB = Window.partitionBy(col("bucket"))
    val wS = Window.partitionBy(col("source"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    docs.select(
        (expr(s"((doc_id - ${minId}L) * $b) div ${span}L") + 1L)
          .as("bucket"),
        col("source"))
      .groupBy(col("bucket"), col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("bucket_share",
        col("n_docs").cast("double") / sum(col("n_docs")).over(wB))
      .withColumn("overall_share",
        sum(col("n_docs")).over(wS).cast("double") /
          sum(col("n_docs")).over(wAll))
      .withColumn("drift", col("bucket_share") - col("overall_share"))
      .orderBy(col("bucket"), col("source"))
  }
}
