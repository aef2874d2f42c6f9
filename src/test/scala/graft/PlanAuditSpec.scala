package graft

/** Physical-plan regression guards: the scale-critical plan shapes the
  * round-2 audit established, asserted so a refactor can't silently
  * reintroduce a scan-everything, single-partition-window or
  * recompute-the-pipeline plan. String-level assertions on the
  * executed plan are deliberate — they survive optimizer rule renames
  * better than node-type matching.
  */
class PlanAuditSpec extends SparkSpec {

  // hermetic plans: other suites' operator-internal persists on the
  // same testdata inputs would otherwise splice InMemoryTableScans
  // into the audited plans (CacheManager matches plan FRAGMENTS, so a
  // leftover cache from any earlier suite changes what gets audited)
  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.catalog.clearCache()
  }

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString

  test("q1 pricing scan pushes the shipdate filter and prunes columns") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p.take(2000))
    // 6 of 16 lineitem columns read; a pruning regression would pull
    // wide unused columns like l_comment back into the scan
    assert(!p.contains("l_comment") && !p.contains("l_shipinstruct"))
  }

  test("revenue-by-nation builds broadcast joins for the dim side") {
    assert(plan("q_revenue_by_nation").contains("BroadcastHashJoin"))
  }

  test("value mapping has no window operator at all") {
    // the dense ids come from two-phase range-partition + zipWithIndex;
    // a WindowExec here means the single-partition dense_rank is back
    assert(!plan("q_value_mapping").contains("Window"))
  }

  /** No corpus × centroids fan-out in `exec`: every broadcast
    * nested-loop join has the filtered query rows (vec_id < 10) on one
    * side — the query × centroids probe and the exact query × corpus
    * leg — so none can pair the corpus with the centroid table, and no
    * aggregate runs over such an expansion (the retired graft_topk
    * assignment did). */
  private def assertNoCorpusCentroidFanOut(
      exec: org.apache.spark.sql.execution.SparkPlan): Unit = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    val p = exec.toString
    assert(!p.contains("graft_topk") && !p.contains("SortAggregate"), p.take(3000))
    val queryRows = """\(vec_id#\d+L < 10\)""".r
    val joins = new AdaptiveSparkPlanHelper {}
      .collect(exec) { case j: BroadcastNestedLoopJoinExec => j }
    joins.foreach { j =>
      assert(Seq(j.left, j.right).exists(s => queryRows.findFirstIn(s.toString).isDefined),
        s"nested-loop join without the query side:\n${j.toString.take(3000)}")
    }
  }

  test("IVF assignment is aggregate-based; only the query top-k windows") {
    // (the name predates the native assignment) the cell assignment is
    // ONE row-local graft_cell_argmax over the corpus against the
    // plan-time centroid table — no broadcast corpus × centroids fan-out
    // and no aggregate over it (the graft_topk heap it replaced, and
    // before that a max_by/first SortAggregate: 297 s vs 20 s at the
    // round-9 sf10 probe)
    val exec = SparkEntry.queries("q_ann_ivf")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan
    val p = exec.toString
    assert(p.contains("graft_cell_argmax("), p.take(3000))
    assertNoCorpusCentroidFanOut(exec)
    // exactly one Window chain (rank over query_id) — the assignment
    // never windows the corpus
    assert("(?<!Group)Window(?!GroupLimit)".r.findAllIn(p).size == 1, p.take(3000))
  }

  test("minhash reuses one cached signature frame") {
    val p = plan("q_minhash_dedup")
    // bands + both verify sides read the persisted frame
    assert("InMemoryTableScan".r.findAllIn(p).size >= 3, p.take(2000))
  }

  test("multi-grouping QA aggregates each input once via grouping sets") {
    import org.apache.spark.sql.execution.RDDScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val exec = SparkEntry.queries("q_qa_multigroup")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan match {
        // collect() does not descend into the adaptive wrapper (its
        // input plan is not a tree child)
        case a: AdaptiveSparkPlanExec => a.inputPlan
        case p => p
      }
    // the log cube's grouping-sets Expand ran ONCE while materializing
    // its checkpoint; the ad cube has a single reader, so its Expand
    // and its one input scan stay in the assembled plan
    val p = exec.toString
    assert("Expand".r.findAllIn(p).size == 1, p.take(3000))
    assert("FileScan parquet".r.findAllIn(p).size == 1, p.take(3000))
    // …and the round-14 shape assembles every (dim, shape) block from
    // ONE labeled aggregate per side (the per-block form re-scanned
    // the cubes 10+ times and joined 14 times): exactly ONE distinct
    // materialized cube (the log side), at most three reads of it
    // (expanded log + the trailing-bound max under each side), one
    // full-outer join
    val scans = exec.collect { case s: RDDScanExec => s }
    assert(scans.size <= 3, p.take(3000))
    assert(scans.map(_.rdd.id).distinct.size == 1, p.take(3000))
    assert("FullOuter".r.findAllIn(p).size == 1, p.take(3000))
  }

  test("simhash pairs verifies hamming in-task: no joins, no cache") {
    val p = plan("q_simhash_pairs")
    // each d1's pairs are generated, verified, de-duplicated across
    // bands and ordered inside the one task that owns the d1: a join,
    // an exchange or a sort in this plan means the pairs cross the
    // network again; a cached frame means they are held twice
    assert(!p.contains("Join"), p.take(2000))
    assert(!p.contains("Exchange"), p.take(2000))
    assert(!p.contains("Sort"), p.take(2000))
    assert(!p.contains("InMemoryTableScan"), p.take(2000))
  }

  test("simhash pairs generates candidates on numShufflePartitions tasks") {
    val q = SparkEntry.queries("q_simhash_pairs")
    // a first build infers the documents schema (Tables.parquet)
    q(spark, sf("documents"))
    val jobs = new KCoreSpec.JobLog
    spark.sparkContext.addSparkListener(jobs)
    try {
      val df = q(spark, sf("documents"))
      val built = jobs.settled()
      df.collect()
      val ran = jobs.settled().drop(built.size)
      // building runs only the bucket collect: the (band, key) shuffle
      // and the read of the aggregated buckets
      assert(built.nonEmpty && built.size <= 2 && built.last.shuffleRead > 0,
        built.mkString("\n"))
      // executing runs one single-stage job, one task per d1 range
      val n = spark.sessionState.conf.numShufflePartitions
      assert(ran.size == 1 && ran.head.stages == 1 && ran.head.tasks == n &&
        ran.head.shuffleRead == 0, ran.mkString("\n"))
    } finally spark.sparkContext.removeSparkListener(jobs)
  }

  test("hamming histogram counts pairs without the sort's range exchange") {
    // the histogram counts off simhashPairs' own d1-owned tasks: no
    // exchange is keyed on a pair column, neither for a cross-band
    // distinct nor for a hamming group-by
    val p = plan("q_hamming_hist")
    val pairCols = """\b(d1|d2|hamming)#""".r
    val keyed = p.linesIterator.filter(l => l.contains("Exchange ") &&
      (l.contains("rangepartitioning(") || l.contains("hashpartitioning(")) &&
      pairCols.findFirstIn(l).isDefined).toSeq
    assert(keyed.isEmpty, p.take(3000))
  }

  test("stratified sample is a pure scan+filter: no join, no aggregate") {
    val p = plan("q_stratified_sample")
    // the md5-bucket filter is row-local — any join/aggregate here
    // means the zero-shuffle sampling contract broke (the only
    // exchange allowed is the presentation sort's range partitioning)
    assert(!p.contains("Join") && !p.contains("HashAggregate"), p.take(2000))
  }

  test("per-source quality cap scores row-locally: no join") {
    val p = plan("q_quality_cap")
    assert(!p.contains("Join"), p.take(2000))
  }

  test("decontamination broadcasts the eval shingle set") {
    val p = plan("q_decontam")
    // the train corpus must hash-join against a BROADCAST eval set —
    // a shuffled join here would shuffle the 100 TB side
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("salted sum aggregates on (key, salt) before the key combine") {
    val p = plan("q_skew_salted")
    assert(p.contains("_salt"), p.take(2000))
    // two-phase: a partial+final pair per groupBy = 4 HashAggregates,
    // the first pair keyed by (hot_key, _salt)
    assert("HashAggregate".r.findAllIn(p).size >= 4, p.take(2000))
  }

  test("asof join is the merge formulation: union + window, zero joins") {
    val p = plan("q_asof_join")
    // the naive encodings (range self-join + max, or per-key
    // collect_list) reappear as a Join — the union-tag merge never
    // joins, so the plan's cost is one exchange + per-key sort
    assert(!p.contains("Join"), p.take(2000))
    assert(p.contains("last("), p.take(2000))
  }

  test("sessionize reuses one user_id exchange end-to-end") {
    val p = plan("q_sessionize")
    // lag + running-sum windows and the (user, session) aggregate all
    // cluster by user_id: HashPartitioning(user_id) satisfies the
    // aggregate's (user_id, session_ix) requirement, so exactly one
    // hash exchange (plus the presentation sort's range exchange) may
    // appear — a second hash exchange means the window chain broke
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p.take(3000))
  }

  test("tfidf broadcasts the vocabulary-sized df and n_docs sides") {
    val p = plan("q_tfidf")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("reach rollup is a single Expand into one aggregate chain") {
    val p = plan("q_reach_rollup")
    // ROLLUP = one Expand; the exact-distinct adds aggregate phases,
    // not more Expands. Two Expands means the hierarchy is being
    // recomputed per level again (the reference's per-level jobs).
    assert("Expand".r.findAllIn(p).size == 1, p.take(3000))
  }

  test("multi-dimension reach scans once and stacks its dimensions") {
    val p = plan("q_reach_multi")
    // one pass for every dimension: a per-dimension pipeline scans the
    // events once per dimension and runs dedup, flag window and
    // aggregate exchanges for each; stacked, the dedup, the
    // (household, dimension) window, the (dimension, value) aggregate
    // and the final sort take at most one exchange each
    assert("FileScan parquet".r.findAllIn(p).size == 1, p.take(4000))
    assert("Exchange ".r.findAllIn(p).size <= 4, p.take(4000))
  }

  test("range join plans as an equi-join on (key, bin), never nested-loop") {
    val p = plan("q_range_join")
    // a raw inequality join degenerates to BroadcastNestedLoopJoin /
    // CartesianProduct — O(|L|·|R|) per key; the banding must keep it
    // an ordinary hash-partitioned equi-join with a residual filter
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("AQE splits the planted skewed join at runtime") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{when, lit, concat, length, sum}
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // 100k of 101k rows land on key 0 → one shuffle partition holds
      // ~99% of the build side; AQE must split it into subpartitions
      val left = spark.range(0, 101000)
        .select(when($"id" % 101 =!= 0, lit(0L)).otherwise($"id").as("k"),
          concat(lit("payload-payload-payload-"), $"id").as("v"))
      val right = spark.range(0, 2000).select(($"id" % 50).as("k"), $"id".as("w"))
      // a global aggregate has no distribution requirement downstream
      // of the join — a groupBy(k) there would PIN the join's hash
      // partitioning and (correctly) forbid AQE from splitting it.
      // Summing over the payload keeps it from being pruned away (a
      // constant-key long column compresses below any skew threshold)
      val j = left.join(right, "k").agg(sum(length($"v")))
      // collect() drives j's OWN queryExecution, so the adaptive plan
      // below is the final one (a write re-plans a copy)
      j.collect()
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"), p.take(3000))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("cohort retention is join-free: one user exchange + calendar frames") {
    val p = plan("q_cohort")
    assert(!p.contains("Join"), p.take(2000))
    // full-data exchange on user_id, then only calendar-bounded frames
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      p.take(2000))
  }

  test("funnel joins stay shuffled equi-joins on user_id, never nested-loop") {
    val p = plan("q_funnel_steps")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p.take(2000))
  }

  test("semantic dedup reuses one cached assignment frame on both sides") {
    val p = plan("q_semantic_dedup")
    assert("InMemoryTableScan".r.findAllIn(p).size >= 3, p.take(2000))
  }

  test("props health aggregates partially before its only exchange") {
    val p = plan("q_props_health")
    assert(!p.contains("Join"))
    // two-phase hash aggregate: partial_ before the exchange means the
    // JSON payload column itself never shuffles
    assert(p.contains("partial_count") || p.contains("partial_min"),
      p.take(2000))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p.take(2000))
  }

  test("search top-k is TakeOrdered with broadcast df sides") {
    val p = plan("q_search")
    // distributed per-partition heaps, never a global sort
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("best-copy dedup is join-free: score and fingerprint share one projection") {
    assert(!plan("q_dedup_best").contains("Join"))
  }

  test("sketch WAU aggregates sketches, never re-expands user-days") {
    val p = plan("q_active_users_approx")
    // the whole point of the twin: per-day HLL sketches union across
    // the trailing window — day-count-sized rows after the first
    // aggregate. The exact operator's contribute-forward explode of
    // the USER-day frame must not appear above a corpus-sized input:
    // the only explode here fans out day-sketch rows (post-aggregate)
    assert(p.contains("hll_sketch_agg") && p.contains("hll_union_agg"),
      p.take(2000))
    // no window operator anywhere — both counts are plain aggregates
    assert(!p.contains("Window"), p.take(2000))
  }

  test("fixed sample ranks only broadcast-selected candidate buckets") {
    val p = plan("q_sample_fixed")
    // two-phase: the ranking window must consume the candidate join
    // (corpus ⋈ broadcast contributing-bucket list), never the raw
    // scan — a Window directly over the scan means the
    // one-reducer-per-stratum full-stratum sort is back
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    val wix = p.indexOf("Window")
    val jix = p.indexOf("BroadcastHashJoin")
    assert(wix >= 0 && jix >= 0 && wix < jix,
      "ranking Window must sit above the candidate broadcast join\n" +
        p.take(2000))
  }

  test("cdc apply broadcasts the change batch; no full-outer join") {
    val p = plan("q_cdc_apply")
    // updates/deletes resolve against a broadcast of latest-per-key;
    // a FullOuter here means the snapshot is shuffling again
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("FullOuter"), p.take(2000))
  }

  test("entity match joins on the block key, never nested-loop") {
    val p = plan("q_entity_match")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p.take(2000))
  }

  test("split assignment is row-local: no join, no window, one aggregate") {
    val p = plan("q_split")
    // the broadcast total is the only join-like node allowed
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"),
      p.take(2000))
  }

  test("winsorize clip stats rejoin the cents grain via broadcast") {
    val p = plan("q_winsorize")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("basket pairs: both legs read the cached session-set frame") {
    val p = plan("q_basket_pairs")
    // pair leg + broadcast total leg share ONE cached (user, session)
    // type-set frame — without it the total branch re-runs the session
    // windows end-to-end (a second full user_id exchange)
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("agg merge reads partials, not raw rows, in the outer rollup") {
    val p = plan("q_agg_merge")
    // two-level aggregate: partial_ aggregates appear on both grains,
    // and no window/join sneaks into the chain
    assert(!p.contains("Window") && !p.contains("Join"), p.take(2000))
  }

  test("shard plan ranks inside bucket partitions, corpus frame cached") {
    val p = plan("q_shard_plan")
    // the corpus-sized ranking window must be PARTITIONED by bucket —
    // 'windowspecdefinition(bucket' present; a global row_number
    // (single-reducer corpus sort) shows an empty partition spec on
    // the big frame. The tiny ≤buckets-row offsets window is the only
    // unpartitioned one.
    assert(p.contains("windowspecdefinition(bucket"), p.take(2000))
    // stats/offsets/totals legs read the cached (doc_id, n_toks)
    // frame instead of re-tokenizing the corpus
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2, p.take(2000))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("topk aggregate plans with no window and no sort before exchange") {
    val p = plan("q_topk_orders")
    // the whole point: partial ObjectHashAggregate heaps combine
    // map-side; a Window or a Sort under the exchange means the
    // per-group full sort is back
    assert(p.contains("ObjectHashAggregate"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
  }

  test("bloom join filters the fact scan before the join") {
    val p = plan("q_bloom_join")
    val fix = p.indexOf("graft_bloom_contains")
    // the executed plan prints children below parents, so the prune
    // filter must appear AFTER (deeper than) the join node
    val jix = math.max(p.indexOf("SortMergeJoin"),
      p.indexOf("BroadcastHashJoin"))
    assert(fix >= 0, p.take(2000))
    assert(jix >= 0 && jix < fix,
      "bloom prune must sit under the exact join\n" + p.take(2000))
  }

  test("boilerplate strips row-locally off one broadcast frequent set") {
    val p = plan("q_boilerplate")
    // the frequent set rejoins as a broadcast one-row array — doc text
    // must never go through a SortMergeJoin or corpus-sized window
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"),
      p.take(2000))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("rfm scores at broadcast thresholds: no window, no sort-exchange") {
    val p = plan("q_rfm")
    // quartiles come from one exact-percentile aggregate broadcast
    // back — a Window/ntile here means the global-sort scorer is back
    assert(!p.contains("Window"), p.take(2000))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    // every leg reads the cached per-user frame (each InMemoryRelation
    // prints its cached child's FileScan, so equal counts == no live
    // uncached scan leg)
    assert("InMemoryTableScan".r.findAllIn(p).size >= 3, p.take(2000))
    assert("FileScan parquet".r.findAllIn(p).size ==
      "InMemoryTableScan".r.findAllIn(p).size, p.take(2000))
  }

  test("dq rules run as ONE aggregate scan, no join, no shuffle fan-out") {
    val p = plan("q_dq_rules")
    assert(!p.contains("Join"), p.take(2000))
    // one source scan: k rules must not become k passes
    assert("FileScan parquet".r.findAllIn(p).size == 1, p.take(2000))
  }

  test("user features: one user-keyed aggregate, as-of joins broadcast") {
    val p = plan("q_user_features")
    assert(!p.contains("Window") && !p.contains("SortMergeJoin"),
      p.take(2000))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    // the as-of leg reads the cached per-user frame (cached-child
    // FileScan prints make the counts equal iff no live scan leaks)
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2, p.take(2000))
    assert("FileScan parquet".r.findAllIn(p).size ==
      "InMemoryTableScan".r.findAllIn(p).size, p.take(2000))
  }

  test("source vocab overlap: both join legs read the cached dedup frame") {
    val p = plan("q_source_overlap")
    // the (source, term) distinct frame feeds sizes + both self-join
    // sides from cache — without it each leg re-tokenizes the corpus
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("next-event matrix: one event scan; totals never re-run the lead") {
    val p = plan("q_next_event")
    // the per-from total is a window over the types^2 aggregate — a
    // join-based total would re-scan events as its second input leg
    assert("FileScan parquet".r.findAllIn(p).size == 1, p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
  }

  test("record dedup joins on the blocking key, never the cross product") {
    val p = plan("q_record_dedup")
    // the whole point of blocking: candidates come from an equi-join
    // on blk — a nested-loop/cartesian here means the verify predicate
    // is running over the full pair space
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("dedup sweep: one shingle-frame build feeds pairs and sizes") {
    val p = plan("q_dedup_sweep")
    // same caching contract as jaccardPairs: the tokenize→shingle
    // chain must come from the persisted frame on every leg
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("inverted index: heap-aggregate postings, no window, one scan") {
    val p = plan("q_inverted_index")
    // graft_topk keeps postings bounded map-side; a Window here means
    // the per-term full sort is back on hot stopword terms
    assert(p.contains("ObjectHashAggregate"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
    assert("FileScan parquet".r.findAllIn(p).size == 1, p.take(2000))
  }

  test("ship priority: pushed date filters and a top-k, no global sort") {
    val p = plan("q_ship_priority")
    // both date predicates must reach the scans; the final top-10 is
    // a TakeOrdered, not a full Sort of the aggregate
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate"),
      p.take(3000))
  }

  test("late suppliers: semi+anti joins, late frame computed once") {
    val p = plan("q_late_suppliers")
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"), p.take(2000))
    // the late join feeds both the probe and the anti side from cache
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("k-anonymity is one aggregate scan, no join, no window") {
    val p = plan("q_k_anon")
    assert(!p.contains("Join") && !p.contains("Window"), p.take(2000))
    assert("FileScan parquet".r.findAllIn(p).size == 1, p.take(2000))
  }

  test("forecast joins the persisted daily aggregate to itself") {
    val p = plan("q_forecast_naive")
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2, p.take(2000))
    assert("FileScan parquet".r.findAllIn(p).size ==
      "InMemoryTableScan".r.findAllIn(p).size, p.take(2000))
  }

  test("span dedup: cached seed frame feeds both legs, no cross product") {
    val p = plan("q_span_dedup")
    // the all-pairs regime must never exist — membership is a hash
    // join on the seed md5, never a nested-loop pairing
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    // df aggregate + membership join both read the persisted seed
    // frame; FileScan == InMemoryTableScan iff no live scan leaks
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2, p.take(2000))
    assert("FileScan parquet".r.findAllIn(p).size ==
      "InMemoryTableScan".r.findAllIn(p).size, p.take(2000))
  }

  test("seed novelty: same cached-seed shape as span dedup") {
    val p = plan("q_novelty")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("compression ratio is a pure per-row map: no join, no window") {
    val p = plan("q_compress_ratio")
    assert(p.contains("graft_deflate_len"), p.take(2000))
    assert(!p.contains("Join") && !p.contains("Window"), p.take(2000))
  }

  test("ooo audit: bucketed prefix max, offsets broadcast, no live scan") {
    val p = plan("q_ooo_audit")
    // the corpus-sized window is PARTITIONED by bkt; the only global
    // window runs on the #buckets-sized aggregate, and the offsets
    // rejoin must broadcast — a SortMergeJoin here re-shuffles the
    // corpus on bkt a second time
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
    // both legs (main + offsets) read the persisted bucketed frame;
    // cached-child FileScan prints make the counts equal iff no live
    // uncached scan leaks
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2, p.take(2000))
    assert("FileScan parquet".r.findAllIn(p).size ==
      "InMemoryTableScan".r.findAllIn(p).size, p.take(2000))
  }

  test("item similarity: in-task pairs, bounded-heap cut, cached rejoin") {
    val p = plan("q_item_similarity")
    // pair generation explodes per-order sorted sets in-task — a
    // nested-loop join here means the (order, item) stream is being
    // self-joined into the m×n explosion this shape exists to avoid
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      p.take(2000))
    assert(p.contains("graft_topk"), p.take(2000))
    // the topk cut and the count-recovery join both read the persisted
    // scored frame
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("pagerank: rounds run off-plan, final read is a sorted topN of driver ranks") {
    val p = plan("q_pagerank")
    // every value-iteration round runs on the held half-edge RDD
    // before the frame is built — the final plan reads ONLY the
    // driver's rank rows (no live parquet scan, no replay of the
    // rounds) and cuts them with one sorted topN
    assert(!p.contains("FileScan parquet"), p.take(2000))
    assert(p.contains("LocalTableScan"), p.take(2000))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("chi2 grid: one cached corpus aggregate feeds all marginal legs") {
    val p = plan("q_chi2_independence")
    // obs + row/col/total marginals all read the persisted (type, dow)
    // frame; the marginals rejoin as broadcasts
    assert("InMemoryTableScan".r.findAllIn(p).size >= 4, p.take(2000))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("autocorr: both day-lag legs read the cached daily aggregate") {
    val p = plan("q_autocorr")
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("freshness: one corpus aggregate, broadcast frontier, no rescan") {
    val p = plan("q_freshness")
    // the daily grain is cached; the as-of frontier and the trailing
    // counts both read it — a second parquet scan here means the
    // corpus is being re-read for the frontier
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2, p.take(2000))
    assert("FileScan parquet".r.findAllIn(p).size ==
      "InMemoryTableScan".r.findAllIn(p).size, p.take(2000))
  }

  test("pairwise sketch overlap: per-value sketches, no membership join") {
    val p = plan("q_pairwise_approx")
    // the corpus collapses to one sketch per dim value; the only join
    // is the values²-sized pair merge — a SortMergeJoin here means the
    // exact path's corpus-sized membership self-join crept back
    assert(p.contains("hll_sketch_agg"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("q5 local volume: date filter pushed to the orders scan, dims broadcast") {
    val p = plan("q_local_volume")
    // the year window must reach the parquet footer, not a post-scan
    // Filter; all four dimension sides broadcast
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p.take(2000))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4, p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("Q4 order-priority: EXISTS is a semi join with the window pushed") {
    val p = plan("q_order_priority")
    assert(p.contains("LeftSemi"), p.take(2000))
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("Q7 nation trade: nation-filtered dims ride broadcasts") {
    val p = plan("q_nation_trade")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("Q8 market share: one aggregate, semi-filtered region customers") {
    val p = plan("q_market_share")
    assert(p.contains("LeftSemi"), p.take(2000))
    // numerator+denominator in ONE aggregate: exactly one grouping
    // column set on o_year, no self-join union of two aggregates
    assert("HashAggregate".r.findAllIn(p).size <= 4, p.take(2000))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p.take(2000))
  }

  test("Q19 disjunctive revenue: quantity legs prune the lineitem scan") {
    val p = plan("q_disjunctive_rev")
    // the OR of the three quantity bands must reach the scan as an
    // Or pushed filter, not evaluate post-join
    assert(p.contains("PushedFilters: [IsNotNull(l_partkey), Or("), p.take(3000))
  }

  test("bm25 search: broadcast stat sides, TakeOrdered k-cut") {
    val p = plan("q_search_bm25")
    // df/avgdl are term- and single-row-sized: they must broadcast,
    // and the k-cut must be TakeOrdered, never a global sort
    assert(p.contains("BroadcastExchange"), p.take(2000))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("ann recall: broadcast query sides, no cartesian product") {
    val p = plan("q_ann_recall")
    // the fixed query set broadcasts into both legs (brute leg is a
    // BroadcastNestedLoop by design); a CartesianProduct here means a
    // corpus x corpus expansion crept in
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("dedup index stats: join-free, one band shuffle then histogram") {
    val p = plan("q_dedup_index_stats")
    // scan → row-local minhash+band explode → bucket agg → size
    // histogram → output sort: a Join here means the histogram
    // re-derived something the capped bucket rows already carry; more
    // than 3 exchanges (bucket hash, histogram hash, order range)
    // means a stage stopped chaining
    assert(!p.contains("Join"), p.take(2000))
    assert("Exchange".r.findAllIn(p).size <= 3, p.take(2000))
  }

  test("corpus card reads the corpus exactly once") {
    val p = plan("q_corpus_card")
    // every signal projects off ONE staged scan — a card that costs
    // three corpus scans would be three cards at 100 TB
    assert("Scan parquet|FileScan parquet".r.findAllIn(p).size == 1,
      p.take(3000))
  }

  test("dead stock: never-ordered parts via an anti join, no cartesian") {
    val p = plan("q_dead_stock")
    assert(p.contains("LeftAnti"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("corr matrix: ALL moments from one aggregate over one scan") {
    val p = plan("q_corr_matrix")
    // one pass: a per-pair or per-moment re-scan would multiply the
    // 100 TB cost by the number of audited columns
    assert("Scan parquet|FileScan parquet".r.findAllIn(p).size == 1,
      p.take(3000))
    assert(!p.contains("Window"), p.take(2000))
  }

  test("embedding outliers broadcast the centroid grid back to vectors") {
    val p = plan("q_embed_outliers")
    // the labels×dim centroid frame must come back as a broadcast —
    // a shuffled join here would re-exchange the n·dim explode
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("heaps fit: ONE corpus scan feeds cached frames, no global sort") {
    // buckets are row-local integer arithmetic off a collected 1-row
    // min/max; the tokenized frame and the B-row cum frame persist for
    // their multiple consumers. The naive formulation (broadcast ids
    // crossJoin, nothing persisted) re-scanned the corpus 10×, once
    // per derived branch — this pin is what caught it. Formatted mode
    // prints each node once, so the count is of DISTINCT scan nodes
    // (the tree-string repr echoes the same node inside every
    // InMemoryRelation definition).
    val p = SparkEntry.queries("q_heaps")(spark, "/root/testdata/sf0.001")
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).size
    assert(scans == 1, s"documents has $scans distinct scan nodes:\n" + p.take(3000))
    assert(p.contains("InMemoryTableScan"), p.take(2000))
  }

  test("reconcile: one fact aggregate, key-grain left join, no window") {
    val p = plan("q_reconcile")
    assert(!p.contains("Window"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  // Round-8 second-session pins: every new multi-consumer operator
  // frame must come from cache — a missing persist re-runs the
  // corpus-sized aggregate once per consumer (the q_heaps 10×-scan
  // class). InMemoryTableScan counts are lower bounds so an extra
  // cached leg can't fail the pin.

  test("price index: series, per-part base and global base read cache") {
    val p = plan("q_price_index")
    assert("InMemoryTableScan".r.findAllIn(p).size >= 3, p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("brand affinity: one fan-out pass feeds pairs, items and total") {
    val p = plan("q_brand_affinity")
    // total/items/pairs all filter the ONE held vocabulary²-sized
    // grid — a regression to separate aggregates re-creates the 3
    // serial cache passes + broadcast stalls the 100× probe measured
    assert("InMemoryTableScan".r.findAllIn(p).size >= 3, p.take(3000))
    // ...and the fan-out marker structs sit INSIDE the cached plan
    // (the grid carries total/item markers, not separate aggregates)
    assert(p.contains("InMemoryTableScan [b1#"), p.take(3000))
  }

  test("concurrency: started/ended/spine read the cached session frame") {
    val p = plan("q_concurrency")
    assert("InMemoryTableScan".r.findAllIn(p).size >= 3, p.take(3000))
  }

  test("retention days: cohort mins and horizon join read the cached distinct") {
    val p = plan("q_retention_days")
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2, p.take(3000))
  }

  test("pmi bigrams: tokenize and unigram frames feed every leg from cache") {
    val p = plan("q_pmi_bigrams")
    assert("InMemoryTableScan".r.findAllIn(p).size >= 5, p.take(3000))
  }

  test("aov trend: fit and output both read the cached quarter grid") {
    val p = plan("q_aov_trend")
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2, p.take(3000))
  }

  test("attribution fl: purchases and the paired frame feed from cache") {
    val p = plan("q_attribution_fl")
    assert("InMemoryTableScan".r.findAllIn(p).size >= 3, p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("ngram coverage: total and head cut read the cached pair counts") {
    val p = plan("q_ngram_coverage")
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2, p.take(3000))
  }

  test("assortativity: both degree joins read the held degree frame") {
    val p = plan("q_assortativity")
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2, p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    graft.operators.Affinity.clearCache()
  }

  test("fisher index: all four weighted legs read the cached panel") {
    val p = plan("q_fisher_index")
    assert("InMemoryTableScan".r.findAllIn(p).size >= 3, p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("part vintage: intro aggregate and ramp join read the cache") {
    val p = plan("q_part_vintage")
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2, p.take(3000))
  }

  test("ivf balance: histogram and global stats read the cell cache") {
    val p = plan("q_ivf_balance")
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2, p.take(3000))
  }

  test("mixture temp: one source-grain aggregate, ordered-fold normalizer") {
    val p = plan("q_mixture_temp")
    // the Σ√share normalizer must be the sorted collect_list fold, not
    // a bare double window sum (order-dependent result)
    assert(p.contains("array_sort") && p.contains("collect_list"),
      p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("effective tokens: fingerprint family join, no cartesian") {
    val p = plan("q_effective_tokens")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // doc text never survives past the first projection: the family
    // join and source rollup move (fingerprint, n_toks) only
    assert(!p.contains("text#") || p.indexOf("text#") > p.indexOf("md5"),
      p.take(3000))
  }

  test("trending terms: topk tau-prune, no corpus-vocab window funnel") {
    val p = plan("q_trending_terms")
    // the bounded-heap aggregate computes τ; the row_number window
    // runs only on the pruned ≥τ survivors (filter sits below it)
    assert(p.contains("graft_topk"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("quality scan is the one-pass native expression, no regex") {
    // the quality frame feeds the whole curation family; a regression
    // back to the composed tokens()+stopwordHits+regexp_replace form
    // triples the per-row text passes on the family's hot scan.
    // (q_quality_filter is NOT pinned: the Gopher signals consume the
    // materialized token array itself, so its one tokens() pass is
    // already shared across signals.)
    for (q <- Seq("q_text_quality", "q_quality_norm")) {
      val p = plan(q)
      assert(p.contains("graft_quality_counts"), s"$q: ${p.take(3000)}")
      assert(!p.contains("regexp_replace(lower("), s"$q: ${p.take(3000)}")
    }
  }

  test("quality norm: one ntile window partitioned by source, no single partition") {
    val p = plan("q_quality_norm")
    // the plain window the oracle runs (the two-phase groupedRank form
    // ran 10 jobs against 4 and was slower warm at sf0.1 and ×10): the
    // banding is one ntile window keyed by source, never a global
    // window over a SinglePartition exchange
    assert(!p.contains("Exchange SinglePartition"), p.take(3000))
    assert("ntile\\(10\\) windowspecdefinition\\(source#\\d+, quality_score#".r
      .findAllIn(p).size == 1, p.take(3000))
  }

  test("pq topk cuts via graft_topk tau-prune, not a corpus window") {
    // the ADC frame is corpus × queries grain: the per-query cut must
    // be the bounded-heap τ + pruned row_number (the 11.9× sf10 tail
    // was the bare query-partitioned window sorting corpus-sized
    // partitions); both PQ queries share nearestByApproxDist
    for (q <- Seq("q_ann_pq", "q_ann_pq_rerank")) {
      val p = plan(q)
      assert(p.contains("graft_topk"), s"$q: ${p.take(3000)}")
      assert(p.contains("BroadcastHashJoin"), s"$q: ${p.take(3000)}")
    }
  }

  test("ivf-pq composes the cell cut as a broadcast join ahead of the ADC fold") {
    val p = plan("q_ann_ivfpq")
    // the (query, cell) probe list must broadcast INTO the corpus
    // codes on the cell key — a regression to flat PQ (no cell join)
    // or to shuffling the codes re-creates the per-query corpus scan
    assert("BroadcastHashJoin \\[cell#\\d+L?\\], \\[cell#\\d+L?\\]".r
      .findFirstIn(p).isDefined, p.take(3000))
    // bounded-heap argmax assignment + τ-prune top-k stay typed-imperative
    assert(p.contains("graft_topk"), p.take(3000))
    assert(!p.contains("ntile("), p.take(3000))
  }

  test("user concentration: two-phase rank off the user-grain frame") {
    val p = plan("q_user_concentration")
    // the user-grain rank window partitions by the (−n_ev, id-cell)
    // bucket; an ntile window here funnels the user universe (and its
    // heavy n_ev=1 tie tail) through one reducer
    assert(!p.contains("ntile("), p.take(3000))
    assert("windowspecdefinition\\(gr_bucket#\\d+".r
      .findFirstIn(p).isDefined, p.take(3000))
  }

  test("decompose: grid-sized frames after one corpus aggregate") {
    val p = plan("q_decompose")
    // seasonal leg + final leg read the held (type, day) frame
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2, p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("lloyd-trained IVF keeps the graft_topk assignment in training") {
    // (the name predates the native assignment) the trained-centroid
    // chain adds a SECOND assignment pass — the Lloyd step, executed
    // while the query is built (centroids are trained once and
    // collected) — and BOTH passes must stay on graft_cell_argmax with
    // no corpus × centroids fan-out
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.{Seconds, Span}
    val lloyd = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        if (f == "localCheckpoint") lloyd.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // train inside this test, not in whichever suite ran first
    SparkEntry.clearSessionMemos()
    spark.listenerManager.register(listener)
    val exec =
      try {
        val df = SparkEntry.queries("q_ann_recall_curve")(spark,
          "/root/testdata/sf0.001")
        eventually(timeout(Span(30, Seconds)))(assert(!lloyd.isEmpty))
        df.queryExecution.executedPlan
      } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    lloyd.asScala.foreach { step =>
      val s = step.toString
      assert(s.contains("graft_cell_argmax("), s.take(3000))
      // the Lloyd pass has no query side: any nested-loop join in it
      // is the corpus × centroids expansion
      assert(!s.contains("BroadcastNestedLoopJoin"), s.take(3000))
      assertNoCorpusCentroidFanOut(step)
    }
    assert(exec.toString.contains("graft_cell_argmax("), exec.toString.take(3000))
    assertNoCorpusCentroidFanOut(exec)
  }

  test("probe cost: broadcast cells join, query-partitioned window") {
    val p = plan("q_ann_probe_cost")
    // the index-sized cells frame must broadcast into the tiny probe
    // frame (a SortMergeJoin here shuffles the probe side), and the
    // cumulative-scan window must partition by query_id — a global
    // (unpartitioned) window would mean the corpus-grain frame got
    // windowed instead
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(p.contains("windowspecdefinition(query_id"), p.take(3000))
  }

  test("lsh curve: exact leg reuses the cached shingle frame, no pow") {
    val p = plan("q_lsh_curve")
    // the theoretical S-curve is the squaring chain — POWER would mean
    // a libm pow snuck back into a hash-gated expression
    assert(!p.toLowerCase.contains("power("), p.take(3000))
    assert("InMemoryTableScan".r.findAllIn(p).size >= 1, p.take(3000))
  }

  test("pack fragmentation: grid stage reads the bins-grain cache") {
    val p = plan("q_pack_frag")
    // grid + total both read the persisted per-bin frame — without it
    // the packer's prefix-sum pass (and its collect) runs twice
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2, p.take(3000))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p.take(3000))
  }

  // ---- round-13 fused-expression pins: these guard the JIT-cliff
  // fixes (CAPS.md round-13 table). The composed forms are CORRECT,
  // so only a plan assertion can catch a revert — the oracle gate
  // would stay green while the 100× cost silently returns.

  test("SRP sign pass is the fused graft_srp_sigs, never per-plane dot columns") {
    // the ANALYZED plan: the operator's internal persist substitutes
    // an InMemoryRelation into the executed plan, hiding the cached
    // fragment's expressions from the string audit
    def analyzed(name: String): String =
      SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
        .queryExecution.analyzed.toString
    // per-plane graft_dot columns regrow the whole-stage consume
    // method past HotSpot's JIT limit at derived plane counts
    // (29.8 s codegen'd vs 0.4 s interpreted at the 100× probe); the
    // only legitimate graft_dot left in these plans is the exact
    // cosine verify (one per pair side), so the count must stay tiny
    // legitimate graft_dot survivors: the norm self-dots and the
    // exact cosine verify — all take COLUMN arguments; the per-plane
    // cliff form dots the embedding against a LITERAL array
    val perPlane = """graft_dot\([^,)]+, \[""".r
    val p = analyzed("q_embed_lsh")
    assert(p.contains("graft_srp_sigs"), p.take(3000))
    assert(perPlane.findFirstIn(p).isEmpty, p.take(3000))
    val g = analyzed("q_srp_bucket_stats")
    assert(g.contains("graft_srp_sigs") && perPlane.findFirstIn(g).isEmpty,
      g.take(3000))
  }

  test("PQ encode uses fused sub-dots with self-dots hoisted off the pair frame") {
    val p = plan("q_ann_pq")
    assert(p.contains("graft_pq_subdots"), p.take(3000))
    // slice(embedding, …) inside the encode projection means the
    // 2m-arrays-per-pair-row form is back
    assert(!p.contains("slice(embedding"), p.take(3000))
  }

  test("minhash verify scores candidates with graft_jaccard, not intersect/union arrays") {
    val p = plan("q_minhash_dedup")
    assert(p.contains("graft_jaccard"), p.take(3000))
    assert(!p.contains("array_intersect"), p.take(3000))
  }

  test("shingles and per-shingle hashes are the fused expressions, not HOF chains") {
    val p = plan("q_minhash_dedup")
    assert(p.contains("graft_shingles"), p.take(3000))
    assert(p.contains("graft_rolling_hashes"), p.take(3000))
    // a lambda over the shingle array means the interpreted
    // per-element dispatch is back
    assert(!p.contains("transform(sh"), p.take(3000))
  }

  test("min-cost supplier: dims broadcast, pair frame cached, no window") {
    val p = plan("q_min_cost_supplier")
    // region suppliers + part slice prune via broadcast probes; the
    // argmin is groupBy-min + join-back on the held candidate frame
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(p.contains("InMemoryTableScan"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
    // the report cut is a bounded TakeOrdered, never a global sort
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
  }

  test("important stock: scalar-subquery total via broadcast, no window") {
    val p = plan("q_important_stock")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
  }

  test("cms: probe joins the grid broadcast; no per-key state growth") {
    val p = plan("q_cms_freq")
    // the ≤ d·w-row sketch grid must ride a broadcast into the probe
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    // top-N cut is a bounded TakeOrdered
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
  }

  test("silhouette: centroid grid broadcasts into the candidate frame") {
    val p = plan("q_silhouette")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    // all downstream grains are label/vector-sized aggregates
    assert(!p.contains("Window"), p.take(3000))
  }
}
