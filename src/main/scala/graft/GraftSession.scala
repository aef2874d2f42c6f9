package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{BloomAgg, BloomContains, DeflateLen, DotProduct, HammingPairs, MatchMask, MinHashSigs, MisraGriesAgg, NfcNormalize, Pairs, PqSubDots, QualityCounts, RollingHash, RollingHashes, SeedHashes, SetJaccard, Shingles, SimHash40, SrpBandSigs, Tokenize, TopKAgg}

/** Standard session config for the graft engine. One place to keep the
  * settings that matter at scale (AQE, shuffle partitions sized to the
  * environment, UTC semantics) and the parquet-nanos compatibility
  * switch the testdata needs.
  *
  * Cluster sizing (the knobs that change when this session moves from
  * local[32] to a 1000-executor cluster; values here are the local
  * ones):
  *  - `spark.sql.shuffle.partitions`: 2–3× total executor cores. AQE
  *    coalesces small post-shuffle partitions downward at runtime, so
  *    err high — too few partitions at 100 TB means >2 GB shuffle
  *    blocks and executor OOM, which AQE cannot fix upward before
  *    Spark 4's full skew handling kicks in only for joins/aggs.
  *  - `spark.sql.files.maxPartitionBytes`: the 128 MB Spark default
  *    (see the inline note — a round-9 global 16 MB floor taxed every
  *    light scan 8% net; CPU-dense single-pass operators carry their
  *    own per-operator parallelism floor via
  *    [[Tables.documentsFloored]] instead). On a cluster RAISE
  *    (256–512 MB) for narrow projections over many small row
  *    groups, where task-scheduling overhead dominates.
  *  - `spark.sql.autoBroadcastJoinThreshold`: the engine broadcast()s
  *    its dimension/vocab/centroid/eval-set sides EXPLICITLY, so
  *    correctness never depends on this threshold or on stats.
  *  - AQE stays on everywhere: runtime partition coalescing plus
  *    skew-join splitting (demonstrated in PlanAuditSpec) are the
  *    defense for the skew this engine does not pre-salt; the planted
  *    hot-key path (Skew.saltedSum) covers aggregation skew, which
  *    AQE does not split.
  */
object GraftSession {
  private type Exprs = Seq[Expression]

  /** Arity gate for the SQL-callable builders: a wrong-arity call
    * (`graft_minhash(sigs)`) must fail with a named analysis-time
    * error, not an IndexOutOfBoundsException from `exprs(2)`. */
  private def arity(name: String, n: Int, exprs: Exprs): Exprs = {
    require(exprs.length == n,
      s"$name expects $n argument(s), got ${exprs.length}")
    exprs
  }

  /** Int-literal extractor for the SQL-callable builders' shape
    * parameters. Accepts any integral literal (SQL `3` parses as int
    * but `3L`/tinyint casts arrive as other integral types) after
    * constant-folding foldable expressions, so `graft_hamming_pairs(a,
    * 1 + 2)` works; anything non-foldable or non-integral fails with
    * a named analysis-time error instead of a raw match crash. */
  private def intLitArg(fn: String, what: String, e: Expression): Int = {
    val folded =
      if (e.foldable && e.deterministic) Literal.create(e.eval(), e.dataType)
      else e
    folded match {
      case Literal(v: Byte, ByteType) => v.toInt
      case Literal(v: Short, ShortType) => v.toInt
      case Literal(v: Int, IntegerType) => v
      case Literal(v: Long, LongType) =>
        require(v >= Int.MinValue && v <= Int.MaxValue,
          s"$fn $what overflows int: $v")
        v.toInt
      case other => throw new IllegalArgumentException(
        s"$fn $what must be an integral literal, got $other")
    }
  }

  /** The string literals after the first argument of a (text,
    * literal...) call. */
  private def stringLits(fn: String, usage: String, what: String,
                         exprs: Exprs): Seq[String] = {
    require(exprs.length >= 2, s"$fn expects $usage")
    exprs.tail.map {
      case Literal(s: UTF8String, _) => s.toString
      case other => throw new IllegalArgumentException(
        s"$fn $what must be string literals, got $other")
    }
  }

  /** Every SQL-callable graft function: (name, expression class,
    * exact argument count, builder). The builder sees arguments that
    * passed the [[arity]] gate; the two variadic (text, literal...)
    * functions have no count and check their own arguments. */
  private[graft] val Functions: Seq[(String, Class[_], Option[Int], Exprs => Expression)] =
    Seq(
      ("graft_dot", classOf[DotProduct], Some(2), e => DotProduct(e(0), e(1))),
      ("graft_rolling_hash", classOf[RollingHash], Some(1), e => RollingHash(e(0))),
      ("graft_minhash", classOf[MinHashSigs], Some(3), e => MinHashSigs(e(0), e(1), e(2))),
      ("graft_simhash", classOf[SimHash40], Some(1), e => SimHash40(e(0))),
      ("graft_bloom_agg", classOf[BloomAgg], Some(3),
        e => BloomAgg(e(0), e(1), e(2)).toAggregateExpression()),
      ("graft_topk", classOf[TopKAgg], Some(3),
        e => TopKAgg(e(0), e(1), e(2)).toAggregateExpression()),
      ("graft_nfc", classOf[NfcNormalize], Some(1), e => NfcNormalize(e(0))),
      ("graft_heavy_agg", classOf[MisraGriesAgg], Some(2),
        e => MisraGriesAgg(e(0),
          Literal(intLitArg("graft_heavy_agg", "k", e(1)))).toAggregateExpression()),
      ("graft_match_mask", classOf[MatchMask], None, e => MatchMask(e.head,
        stringLits("graft_match_mask", "(text, pattern, ...)", "patterns", e))),
      ("graft_seed_hashes", classOf[SeedHashes], Some(2),
        e => SeedHashes(e(0), intLitArg("graft_seed_hashes", "seedLen", e(1)))),
      ("graft_deflate_len", classOf[DeflateLen], Some(1), e => DeflateLen(e(0))),
      ("graft_tokens", classOf[Tokenize], Some(1), e => Tokenize(e(0))),
      ("graft_quality_counts", classOf[QualityCounts], None, e => QualityCounts(e.head,
        stringLits("graft_quality_counts", "(text, stopword...)", "stopwords", e))),
      ("graft_bloom_contains", classOf[BloomContains], Some(2), e => BloomContains(e(0), e(1))),
      ("graft_shingles", classOf[Shingles], Some(2),
        e => Shingles(e(0), intLitArg("graft_shingles", "n", e(1)))),
      ("graft_rolling_hashes", classOf[RollingHashes], Some(1), e => RollingHashes(e(0))),
      ("graft_pairs", classOf[Pairs], Some(1), e => Pairs(e(0))),
      ("graft_hamming_pairs", classOf[HammingPairs], Some(2),
        e => HammingPairs(e(0), intLitArg("graft_hamming_pairs", "maxHamming", e(1)))),
      ("graft_jaccard", classOf[SetJaccard], Some(2), e => SetJaccard(e(0), e(1))),
      ("graft_pq_subdots", classOf[PqSubDots], Some(4), e => PqSubDots(e(0), e(1),
        intLitArg("graft_pq_subdots", "m", e(2)),
        intLitArg("graft_pq_subdots", "subLen", e(3)))),
      ("graft_srp_sigs", classOf[SrpBandSigs], Some(4), e => SrpBandSigs(e(0),
        intLitArg("graft_srp_sigs", "nPlanes", e(1)),
        intLitArg("graft_srp_sigs", "perBand", e(2)),
        intLitArg("graft_srp_sigs", "dim", e(3)))))

  /** Entries in Spark's generated-code cache
    * (`spark.sql.codegen.cache.maxEntries`, a static conf: it sizes the
    * JVM-wide cache when the first plan is compiled). The 100-entry
    * default is smaller than one pass of graft's queries, so every
    * repeated query recompiled fragments that a previous query had
    * evicted — Janino compile plus fresh JIT work for each new class.
    * Sized from the all-keys working set: two passes of all 319 keys
    * through [[Runner.runOne]] at sf0.01 in one JVM (local[4]) compile
    * 3,801 units and then 16 with this bound, against 6,832 and then
    * 6,806 with the default — 44% of a cold pass were evicted
    * fragments compiled again. Measured cost ≈29 KB of heap and ≈8 KB
    * of metaspace per entry: after the first pass and a full GC,
    * 266 MB heap and 219 MB metaspace vs 157 MB and 190 MB. */
  val CodegenCacheMaxEntries: Int = 8192

  /** Finished SQL executions, jobs and stages that Spark's live status
    * store keeps (`spark.sql.ui.retainedExecutions`,
    * `spark.ui.retainedJobs`, `spark.ui.retainedStages`; defaults 1000
    * each). The store fills with the UI off too, and nothing in graft
    * reads it back, so at the defaults every pass of a long-lived
    * session left its executions' plan graphs and metrics behind:
    * over five passes of the household keys at sf0.001 (local[4],
    * `HeapGrowthSpec`) the heap retained after a full GC grew 1.42 MB
    * a pass at the defaults and 0.62 MB with these bounds. A pass of
    * those keys runs about 20 jobs. */
  val RetainedExecutions: Int = 5
  val RetainedJobs: Int = 20
  val RetainedStages: Int = 20

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions { ext =>
        Functions.foreach { case (name, cls, n, build) =>
          ext.injectFunction((FunctionIdentifier(name),
            new ExpressionInfo(cls.getName, name),
            (exprs: Exprs) => build(n.fold(exprs)(arity(name, _, exprs)))))
        }
      }
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      // Scan granularity: the 128 MB Spark default. Round 9 floored
      // this session-globally to 16 MB after the sf10 probe caught
      // CPU-dense scans serialized on one core — but the root cause
      // was ScaleUp writing ONE unsplittable file (fixed: 64-file
      // facts), and the global floor taxed every light scan instead:
      // the round-10 A/B on the full 299-query sf0.1 bench measured
      // 16 MB = 224.3 s vs 128 MB = 205.7 s (median per-query ratio
      // 0.918), with ZERO text-family regressions at 128 MB because
      // the CPU-dense single-pass operators carry their own
      // parallelism floor (Tables.documentsFloored — applied
      // per-operator, the selective discipline this knob's global
      // floor duplicated badly). On a cluster reading 100 TB this
      // stays at or above the default (256–512 MB for narrow
      // projections); it is a per-deployment setting.
      .config("spark.sql.files.maxPartitionBytes", s"${128 * 1024 * 1024}")
      // small-file packing: the scale-probe corpora are written as
      // many ~1 MB files; the default 4 MB per-file "open cost" would
      // pack them back into few fat partitions
      .config("spark.sql.files.openCostInBytes", s"${1024 * 1024}")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // reference semantics (PySpark 2.x era): x/0 → NULL instead of
      // ANSI errors. NOTE this does NOT match DuckDB double division
      // (IEEE: x/0 → inf/NaN) — operators guard zero-able
      // denominators with nullif on BOTH sides so the oracles agree
      // regardless of data
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", RetainedExecutions)
      .config("spark.ui.retainedJobs", RetainedJobs)
      .config("spark.ui.retainedStages", RetainedStages)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheMaxEntries)
      // keep the whole-stage codegen stage id out of the generated class
      // name (it stays in the source's comment): AQE numbers stages in
      // the order it re-plans them, which follows the order concurrent
      // shuffle stages finish, so with the id in the name the same
      // fragment of q_reach_multi missed the cache as Stage6 after
      // compiling as Stage8 on the pass before
      .config("spark.sql.codegen.useIdInClassName", "false")

  /** local[n] session; n defaults from SPARK_GRAFT_CPUS. */
  def local(defaultCpus: Int = 4): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString).toInt
    val spark = builder(s"local[$cpus]", math.max(cpus, 4)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
