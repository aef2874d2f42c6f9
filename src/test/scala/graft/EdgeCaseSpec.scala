package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.{NearDup, Reach, ValueMapping}

class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  test("reach drops null dimension values before dedup") {
    val df = Seq(
      (1L, Some("tv"), 1.0), (1L, None, 1.0), (2L, None, 2.0)
    ).toDF("household_id", "etype", "projfact")
    val r = Reach.reachCount(df, "household_id", Some("etype"), Some("projfact"))
      .collect()
    // household 2 only has null dims → disappears entirely
    assert(r.length == 1)
    assert(r.head.getString(1) == "tv" && r.head.getDouble(2) == 1.0)
  }

  test("span family tolerates null/empty/short texts") {
    val df = Seq(
      (1L, null.asInstanceOf[String]), (2L, ""), (3L, "two tokens"),
      (4L, "alpha beta gamma delta epsilon zeta eta theta shared tail x"),
      (5L, "alpha beta gamma delta epsilon zeta eta theta other close y")
    ).toDF("doc_id", "text")
    // docs 4/5 share an 8-token prefix → one span each; 1/2/3 silent
    val spans = NearDup.spanDedup(df, 8).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(spans.toSeq == Seq((4L, 0, 8), (5L, 0, 8)))
    val strip = NearDup.spanStrip(df, 8).collect()
      .map(r => (r.getLong(0), (r.getInt(1), r.getInt(2), r.getInt(3),
        r.getString(4)))).toMap
    assert(strip(1L) == ((0, 0, 0, "")))   // null text = empty doc
    assert(strip(2L) == ((0, 0, 0, "")))
    assert(strip(3L) == ((0, 2, 0, "two tokens")))
    assert(strip(4L) == ((1, 11, 8, "shared tail x")))
    val nov = NearDup.seedNovelty(df, 8).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(nov(1L) == ((0L, 0L)) && nov(2L) == ((0L, 0L)))
    assert(nov(4L)._1 == 4L && nov(4L)._2 == 3L) // 1 shared, 3 unique
  }

  test("normText/tokens handle punctuation-only and empty strings") {
    val df = Seq((1L, "!!! ??? ..."), (2L, ""), (3L, "a-b c_d")).toDF("doc_id", "text")
    val t = df.select(col("doc_id"), TextFunctions.tokens(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(t(1L).isEmpty)
    assert(t(2L).isEmpty)
    assert(t(3L) == Seq("a", "b", "c", "d"))
  }

  test("attribution with no purchases at all returns an empty report") {
    import graft.operators.Temporal
    val e = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"),
      1L, "view", 0.0))
      .toDF("user_id", "ts", "event_id", "event_type", "value")
    assert(Temporal.attribution(e, 3).collect().isEmpty)
  }

  test("nextEventMatrix on single-event users is empty") {
    import graft.operators.Journey
    val e = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"),
      1L, "view"), (2L, java.sql.Timestamp.valueOf("2024-01-02 10:00:00"),
      2L, "click"))
      .toDF("user_id", "ts", "event_id", "event_type")
    assert(Journey.nextEventMatrix(e).collect().isEmpty)
  }

  test("rfmSegments with one user puts them in the all-1 cell") {
    import graft.operators.Journey
    val e = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 5.0))
      .toDF("user_id", "ts", "value")
    val out = Journey.rfmSegments(e).collect()
    assert(out.length == 1)
    val r = out.head
    // all thresholds equal the single value -> no strict exceedance
    assert(r.getInt(0) == 1 && r.getInt(1) == 1 && r.getInt(2) == 1)
    assert(r.getLong(3) == 1L && r.getDouble(4) == 5.0)
  }

  test("sessionPaths single-event sessions are length-1 paths") {
    import graft.operators.Temporal
    val e = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"),
      1L, "view"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val out = Temporal.sessionPaths(e, 30).collect()
    assert(out.length == 1 && out.head.getString(0) == "view" &&
      out.head.getDouble(2) == 1.0)
  }

  test("bpeTrain on an empty corpus learns nothing") {
    import graft.operators.TextAnalysis
    val df = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(TextAnalysis.bpeTrain(df, 3).collect().isEmpty)
  }

  test("sourceVocabOverlap ignores NULL text rows") {
    import graft.operators.TextAnalysis
    val df = Seq((1L, Some("a b"), "s1"), (2L, None, "s1"),
      (3L, Some("a"), "s2")).toDF("doc_id", "text", "source")
    val out = TextAnalysis.sourceVocabOverlap(df).collect()
    assert(out.length == 1)
    assert(out.head.getLong(2) == 2L && out.head.getLong(3) == 1L &&
      out.head.getDouble(5) == 0.5)
  }

  test("boilerplateStrip with no frequent lines is a no-op on text") {
    import graft.operators.Curation
    val df = Seq((1L, "only one\nof each line"), (2L, "different\nlines"))
      .toDF("doc_id", "text")
    // threshold 1-in-1: a line must appear in EVERY doc — none does
    val out = Curation.boilerplateStrip(df, maxDocEvery = 1).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getInt(2) == 0 &&
      out(1L).getString(3) == "only one\nof each line")
    assert(out(2L).getInt(2) == 0)
  }

  test("shardPlan with fewer docs than shards fills low shards first") {
    import graft.operators.Curation
    val df = Seq((1L, "a b c"), (2L, "a b")).toDF("doc_id", "text")
    val out = Curation.shardPlan(df, shards = 8, buckets = 4).collect()
    // ranks 0,1 -> shards 0,1 on the first (even) pass
    assert(out.map(_.getInt(0)).toSeq == Seq(0, 1))
    assert(out.map(_.getLong(2)).toSeq == Seq(3L, 2L))
  }

  test("lifecycle of a single-week corpus is all new, no churn") {
    import graft.operators.Journey
    val df = Seq((1L, java.sql.Timestamp.valueOf("2024-01-02 10:00:00")),
      (2L, java.sql.Timestamp.valueOf("2024-01-03 11:00:00")))
      .toDF("user_id", "ts")
    val out = Journey.lifecycle(df).collect()
    assert(out.length == 1)
    assert(out.head.getString(1) == "new" && out.head.getLong(2) == 2L)
  }

  test("quantizeReport drops unhealthy vectors instead of poisoning stats") {
    import graft.operators.VectorSearch
    val df = Seq(
      (1L, Array(1.0f, 2.0f)),
      (2L, Array(Float.NaN, 0.0f)),        // nonfinite -> dropped
      (3L, Array(100.0f, 200.0f, 3.0f)))   // wrong dim -> dropped
      .toDF("vec_id", "embedding")
    val out = VectorSearch.quantizeReport(df, expectedDim = 2).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L))
    // sole healthy vector: degenerate ranges, exact reconstruction
    assert(out.head.getDouble(2) == 0.0)
  }

  test("fingerprints are case/punctuation invariant") {
    val df = Seq((1L, "Hello, World!"), (2L, "hello   world"), (3L, "hello worlds"))
      .toDF("doc_id", "text")
    val fp = graft.operators.TextAnalysis.fingerprints(df)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L))
  }

  test("assignDenseIds = dense ids in value order across many partitions") {
    val vals = (0 until 500).map(i => f"v${(i * 37) % 500}%03d")
    val df = vals.toDF("value").distinct().repartition(7)
    val out = ValueMapping.assignDenseIds(df, "value")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = vals.distinct.sorted.zipWithIndex
      .map { case (v, i) => v -> (i + 1L) }.toMap
    assert(out == expected)
  }

  test("jaccard dfCap drops hot shingles but keeps strong pairs") {
    // docs 1/2 share many shingles; the hot shingle appears in all docs
    val hot = "x y z"
    val df = Seq(
      (1L, s"$hot a b c d e f g h"),
      (2L, s"$hot a b c d e f g k"),
      (3L, s"$hot q w r t u i o p"),
      (4L, s"$hot m n l j v s d a")
    ).toDF("doc_id", "text")
    val capped = NearDup.jaccardPairs(df, 3, 0.3, dfCap = NearDup.FixedDfCap(3)).collect()
    assert(capped.map(r => (r.getLong(0), r.getLong(1))).contains((1L, 2L)))
  }

  test("minhash bucketCap bounds pair generation from a degenerate bucket") {
    // 10 identical docs share EVERY band bucket — uncapped that is one
    // 45-pair bucket per band; capped at 4 only the sorted id prefix
    // pairs, so the blowup from a single task is bounded by cap²/2
    val docs = (0L until 10L).map(i => (i, "the quick brown fox jumps over dogs"))
      .toDF("doc_id", "text")
    val capped = NearDup.minhashDedup(docs, bucketCap = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // first 4 docs cluster to rep 0 with 3 partners each; the rest
    // were dropped from every (identical) bucket and stay singletons
    assert(capped.filter(_._1 < 4).forall(t => t._2 == 0L && t._3 == 3L))
    assert(capped.filter(_._1 >= 4).forall(t => t._2 == t._1 && t._3 == 0L))
    // default cap: all 10 cluster together
    val full = NearDup.minhashDedup(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(full.forall(t => t._2 == 0L && t._3 == 9L))
  }

  test("dedupClusters propagates reps transitively along chains") {
    val docs = (1L to 6L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("d1", "d2")
    val out = NearDup.dedupClusters(docs, edges).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // 3 reaches 1 only through 2 — the one-hop summary can't do this
    assert(out == Map(
      1L -> ((1L, 3L)), 2L -> ((1L, 3L)), 3L -> ((1L, 3L)),
      4L -> ((4L, 1L)), 5L -> ((5L, 2L)), 6L -> ((5L, 2L))))
  }

  test("dedupClusters fails loud when a chain outruns maxIter") {
    val docs = (1L to 4L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("d1", "d2")
    intercept[graft.operators.GraftDataException] {
      NearDup.dedupClusters(docs, chain, maxIter = 1)
    }
  }

  test("dedupClusters completes when diameter exactly equals maxIter") {
    // path 1-2-3 has diameter 2: round 2 still changes a label, so the
    // loop never sees a quiet round — the extra verification step must
    // accept the (complete) labels instead of throwing
    val docs = (1L to 3L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val chain = Seq((1L, 2L), (2L, 3L)).toDF("d1", "d2")
    val out = NearDup.dedupClusters(docs, chain, maxIter = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("zero-norm vectors are excluded from IVF assignment") {
    val emb = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0f, 1f)),
      (2L, Array(0f, 0f)) // no defined cosine — must not be indexed
    ).toDF("vec_id", "embedding")
    val assigned = graft.operators.VectorSearch
      .assignCells(emb, emb.where(col("vec_id") < 2))
      .select("vec_id").collect().map(_.getLong(0)).sorted
    assert(assigned.toSeq == Seq(0L, 1L))
  }

  test("minhash dedup on an empty-ish corpus returns one row per doc") {
    val df = Seq((1L, "a"), (2L, "b c")).toDF("doc_id", "text") // no shingles at all
    val m = NearDup.minhashDedup(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(1L -> 1L, 2L -> 2L))
  }

  test("jaccard df-cap drops are observable, zero when the cap is slack") {
    val hot = "x y z"
    val df = Seq(
      (1L, s"$hot a b c d e f g h"),
      (2L, s"$hot a b c d e f g k"),
      (3L, s"$hot q w r t u i o p"),
      (4L, s"$hot m n l j v s d a")
    ).toDF("doc_id", "text")
    val capped = NearDup.jaccardPairs(df, 3, 0.3, dfCap = NearDup.FixedDfCap(3))
    capped.collect()
    val dropped = capped.queryExecution.observedMetrics("graft_jaccard_dfcap")
      .getAs[Long]("dropped_hot_shingles")
    assert(dropped == 1L) // only the planted df=4 shingle binds
    val slack = NearDup.jaccardPairs(df, 3, 0.3) // derived cap (slack here)
    slack.collect()
    // nothing flows through the observe node when the cap is slack, so
    // the metric is absent (no task ever updates the accumulator) —
    // absent and [0] both mean "nothing dropped"
    assert(slack.queryExecution.observedMetrics
      .get("graft_jaccard_dfcap")
      .forall(_.getAs[Long]("dropped_hot_shingles") == 0L))
  }

  test("dedupClusters frees per-round checkpoints as it iterates") {
    val docs = (1L to 8L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val chain = (1L to 7L).map(i => (i, i + 1)).toDF("d1", "d2")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = NearDup.dedupClusters(docs, chain) // 7 propagation rounds
    assert(out.collect().forall(_.getLong(1) == 1L))
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
    // only the final label checkpoint survives (the result plan reads
    // it); the old shape leaked one checkpoint per round plus edges
    assert(leaked.size <= 2, s"leaked checkpoint RDDs: $leaked")
    leaked.foreach(id => spark.sparkContext.getPersistentRDDs(id)
      .unpersist(blocking = false))
  }

  test("simhashPairs finds identical docs and rejects hamming-far ones") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dogs again today"),
      (2L, "the quick brown fox jumps over the lazy dogs again today"),
      (3L, "zzz qqq www rrr ttt uuu iii ooo ppp xxx vvv nnn mmm kkk")
    ).toDF("doc_id", "text")
    val pairs = NearDup.simhashPairs(df)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    // identical text → identical fingerprint → hamming 0
    assert(pairs.get((1L, 2L)).contains(0))
    // the far doc shares no tokens; its fingerprint is far from both
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("simhashPairs bucketCap bounds a degenerate all-identical bucket") {
    // identical docs share every band key — uncapped that is one
    // 45-pair bucket per band; capped at 4 only the sorted prefix pairs
    val docs = (0L until 10L).map(i => (i, "the quick brown fox jumps"))
      .toDF("doc_id", "text")
    val capped = NearDup.simhashPairs(docs, bucketCap = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(capped.toSet == (for (a <- 0L until 4L; b <- a + 1 until 4L)
      yield (a, b)).toSet)
  }

  test("srpParamsFor keeps expected bucket occupancy at or below target") {
    import graft.operators.VectorSearch.srpParamsFor
    for (n <- Seq(10000L, 1000000L, 100000000L)) {
      val (planes, bands) = srpParamsFor(n)
      assert(planes % bands == 0)
      val expected = n.toDouble / (1L << (planes / bands))
      assert(expected <= 64.0, s"n=$n planes=$planes expected=$expected")
      // and it never over-shards into single-occupancy vanity buckets:
      // one fewer bit per band would blow the target
      assert(n.toDouble / (1L << (planes / bands - 1)) > 64.0 ||
        planes / bands == 2)
    }
    // derived parameters grow with the corpus
    assert(srpParamsFor(1000000L)._1 > srpParamsFor(10000L)._1)
    assert(srpParamsFor(100000000L)._1 > srpParamsFor(1000000L)._1)
  }

  test("srpNearDup excludes zero-norm vectors from buckets and output") {
    val dim = 64
    def vec(seed: Int) = Array.tabulate(dim)(i => if (i % 7 == seed % 7) 1f else 0.1f)
    val emb = Seq(
      (0L, vec(1)), (1L, vec(1)),          // near-identical pair
      (2L, Array.fill(dim)(0f)), (3L, Array.fill(dim)(0f)) // degenerate
    ).toDF("vec_id", "embedding")
    val out = graft.operators.VectorSearch.srpNearDup(emb, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // the zero vectors would otherwise co-bucket everywhere and emit a
    // NULL-cosine (or NaN) pair; they must simply be absent
    assert(out.toSeq == Seq((0L, 1L)))
  }

  test("semanticDedup dups within a cell, blind across cells, min-id rep") {
    import graft.operators.VectorSearch
    def emb(rows: (Long, Array[Float])*) =
      rows.toDF("vec_id", "embedding")
    val e = emb(
      1L -> Array(1f, 0f),        // cell A
      2L -> Array(0.99f, 0.01f),  // cell A, near-dup of 1
      3L -> Array(0.98f, 0.02f),  // cell A, near-dup of 1 and 2
      4L -> Array(0f, 1f),        // cell B
      5L -> Array(0.01f, 0.99f),  // cell B, near-dup of 4
      6L -> Array(-1f, 0.6f),     // cell B by cosine, far from 4/5
      7L -> Array(0f, 0f))        // zero-norm: excluded
    val cents = emb(100L -> Array(1f, 0f), 200L -> Array(0f, 1f))
    val out = VectorSearch.semanticDedup(e, cents, 0.95)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L), "zero-norm excluded")
    assert(out(1L).getInt(2) == 0, "lowest id survives")
    assert(out(2L).getInt(2) == 1 && out(2L).getLong(3) == 1L)
    assert(out(3L).getInt(2) == 1 && out(3L).getLong(3) == 1L,
      "dup_of is the SMALLEST qualifying lower id")
    assert(out(4L).getInt(2) == 0)
    assert(out(5L).getInt(2) == 1 && out(5L).getLong(3) == 4L)
    assert(out(6L).getInt(2) == 0, "same cell but below threshold")
    assert(out(1L).getLong(1) == 100L && out(4L).getLong(1) == 200L)
  }

  test("semanticCentroidCountFor scales cells with the corpus") {
    import graft.operators.VectorSearch.semanticCentroidCountFor
    assert(semanticCentroidCountFor(10000L) == 10)
    assert(semanticCentroidCountFor(1000000L) == 977)
    assert(semanticCentroidCountFor(100000000L) == 97657)
    // per-cell work stays ~targetCell² no matter the corpus
    assert(semanticCentroidCountFor(500L) == 1)
    assert(semanticCentroidCountFor(1L, 1) == 1)
  }

  test("nearDupRecall scores the banded path against the exact baseline") {
    import graft.operators.VectorSearch
    val out = VectorSearch.nearDupRecall(
      spark.read.parquet(s"${sf("x")}/embeddings.parquet"), 0.4).collect()
    assert(out.length == 1)
    val r = out.head
    val (nExact, nApprox, nBoth) =
      (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nExact > 0, "exact baseline finds pairs on the test corpus")
    assert(nBoth <= nExact && nBoth <= nApprox)
    // SRP candidates are verified by exact cosine, so precision is 1
    // by construction — any false positive means the verify broke
    assert(r.getDouble(3) == 1.0)
    assert(r.getDouble(4) > 0.0 && r.getDouble(4) <= 1.0)
  }

  test("clusterBest keeps the cleanest member of a near-dup chain") {
    import graft.operators.NearDup
    // docs 1-2 near-identical; doc 2 is noisier raw text (lower
    // quality), doc 1 cleaner — but give doc 3 the chain link so the
    // min-label rep and the best-quality member can differ
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val df = Seq(
      (5L, base + " tail"),
      (9L, base.toUpperCase + "!!! ??? !!!"),  // same shingles post-norm, noisy
      (7L, "completely different content here entirely"))
      .toDF("doc_id", "text")
    val out = NearDup.clusterBest(df, NearDup.minhashPairs(df))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(5L).getLong(1) == 5L && out(9L).getLong(1) == 5L,
      "min-label rep")
    assert(out(5L).getLong(4) == 5L && out(9L).getLong(4) == 5L,
      "doc 5 is both rep and best (cleaner text)")
    assert(out(9L).getInt(5) == 1 && out(5L).getInt(5) == 0)
    assert(out(7L).getInt(5) == 0 && out(7L).getLong(2) == 1L)
  }

  test("fixedSample two-phase: quota over stratum size keeps every row") {
    import graft.operators.Curation
    // 3-doc stratum, quota 10: every bucket contributes, all rows
    // selected with dense 1..3 ranks — the boundary-bucket logic must
    // not drop or double-rank when the histogram never reaches quota
    val df = Seq((1L, "en"), (2L, "en"), (3L, "en"), (4L, "fr"))
      .toDF("doc_id", "lang")
    val out = Curation.fixedSample(df, 10, "lang").collect()
    assert(out.count(_.getString(1) == "en") == 3)
    assert(out.filter(_.getString(1) == "en").map(_.getInt(2)).sorted
      .toSeq == Seq(1, 2, 3))
    assert(out.count(_.getString(1) == "fr") == 1)
  }

  test("plantPii propagates NULL text and plants only on period docs") {
    import graft.operators.Privacy
    val df = Seq((0L, Some("alpha beta")), (7L, None),
      (3L, Some("plain text"))).toDF("doc_id", "text")
    val out = Privacy.piiRedact(Privacy.plantPii(df)).collect()
      .map(r => r.getLong(0) -> r).toMap
    // doc 0 (0 % 7 == 0): one of each planted class, all redacted
    assert(out(0L).getLong(1) == 1 && out(0L).getLong(2) == 1 &&
      out(0L).getLong(3) == 1)
    val red = out(0L).getString(5)
    assert(red.contains("<EMAIL>") && red.contains("<PHONE>") &&
      red.contains("<IP>") && !red.contains("@example.com"))
    // NULL text stays NULL through planting, counting and redaction
    assert(out(7L).isNullAt(1) && out(7L).isNullAt(5))
    // off-period doc: untouched, zero counts
    assert(out(3L).getLong(4) == 0 && out(3L).getString(5) == "plain text")
  }

  test("vectorHealth classifies null/wrong-dim/nonfinite/zero vectors") {
    import spark.implicits._
    import graft.operators.VectorSearch
    val rows = Seq(
      (1L, Array(3.0f, 4.0f)),             // healthy, norm2 = 25
      (2L, Array(1.0f, 0.0f)),             // healthy, norm2 = 1
      (3L, null.asInstanceOf[Array[Float]]),
      (4L, Array(1.0f, 2.0f, 3.0f)),       // wrong dim
      (5L, Array(Float.NaN, 1.0f)),        // nonfinite
      (6L, Array(Float.PositiveInfinity, 1.0f)), // nonfinite
      (7L, Array(0.0f, 0.0f)))             // zero norm
      .toDF("vec_id", "embedding")
    val r = VectorSearch.vectorHealth(rows, 2).collect()(0)
    assert(r.getLong(0) == 7L && r.getLong(1) == 1L && r.getLong(2) == 1L)
    assert(r.getLong(3) == 2L && r.getLong(4) == 1L)
    assert(r.getDouble(5) == 0.0 && r.getDouble(6) == 25.0)
  }

  test("xlsx colRef covers the multi-letter column range") {
    import graft.sources.Xlsx
    assert(Xlsx.colRef(0) == "A" && Xlsx.colRef(25) == "Z")
    assert(Xlsx.colRef(26) == "AA" && Xlsx.colRef(27) == "AB")
    assert(Xlsx.colRef(26 * 27 - 1) == "ZZ" && Xlsx.colRef(26 * 27) == "AAA")
  }

  test("affinity family tolerates empty and singleton order sets") {
    import graft.operators.Affinity
    val empty = Seq.empty[(Long, Long)].toDF("l_orderkey", "l_partkey")
    assert(Affinity.coPairs(empty).collect().isEmpty)
    assert(Affinity.itemSimilarity(empty).collect().isEmpty)
    assert(Affinity.pageRank(empty).collect().isEmpty)
    assert(Affinity.graphStats(empty).collect().isEmpty)
    // singleton orders yield no pairs -> no graph, empty everywhere
    val singles = Seq((1L, 10L), (2L, 20L)).toDF("l_orderkey", "l_partkey")
    assert(Affinity.itemSimilarity(singles).collect().isEmpty)
    assert(Affinity.pageRank(singles).collect().isEmpty)
  }

  test("new QA ops tolerate an empty event log") {
    import graft.operators.DataChecks
    val e = Seq.empty[(java.sql.Timestamp, String)].toDF("ts", "event_type")
    assert(DataChecks.chi2Independence(e).collect().isEmpty)
    assert(DataChecks.autocorr(e, Seq(1)).collect().isEmpty)
    assert(DataChecks.changepoint(e).collect().isEmpty)
    assert(DataChecks.freshness(e).collect().isEmpty)
    assert(DataChecks.seasonality(e).collect().isEmpty)
  }

  test("bigramLmScore drops null and sub-2-token docs silently") {
    import graft.operators.TextAnalysis
    val df = Seq((1L, null.asInstanceOf[String]), (2L, ""), (3L, "one"),
      (4L, "two words")).toDF("doc_id", "text")
    val out = TextAnalysis.bigramLmScore(df).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(4L))
  }

  test("linkByKeys: everyone isolated when no keys are shared") {
    val recs = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "k")
    val out = operators.Entity.linkByKeys(recs, "id",
      Seq("k" -> col("k"))).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 1L, 1L), (2L, 2L, 1L), (3L, 3L, 1L)))
  }

  test("bm25 handles absent terms, empty docs, and short corpora") {
    import graft.operators.TextAnalysis
    val df = Seq(
      (1L, "the spark engine streams the window"),
      (2L, ""), (3L, null.asInstanceOf[String]),
      (4L, "no match here at all")).toDF("doc_id", "text")
    // only doc 1 matches; absent terms contribute nothing, empty/null
    // docs never surface, and k larger than the hit set is safe
    val out = TextAnalysis.searchBm25(df, Seq("spark", "window", "zzz"), 10)
      .collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L))
    assert(out.head.getLong(1) == 2L, "two of three terms matched")
    assert(out.head.getDouble(3) > 0.0)
    // no query term anywhere -> empty result, not a failure
    assert(TextAnalysis.searchBm25(df, Seq("zzz"), 5).collect().isEmpty)
  }

  test("quality-dup calibration bands NULL scores as NULL, not top band") {
    import graft.operators.TextAnalysis
    val good = (1 to 120).map(i => s"the and of to is a word$i").mkString(" ")
    val df = Seq(1L -> good, 2L -> good, 3L -> "").toDF("doc_id", "text")
    val out = TextAnalysis.qualityDupCalibration(df).collect()
      .map(r => (if (r.isNullAt(0)) -1 else r.getInt(0)) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    // the empty doc lands in the NULL band (alpha_ratio null), never 9
    assert(out.contains(-1) && out(-1) == ((1L, 0L)))
    // the duplicated good doc's band carries exactly one dup
    assert(out.exists { case (b, (n, d)) => b >= 0 && n == 2L && d == 1L })
  }

  test("increment probe against an empty corpus marks everything new") {
    val corpus = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val inc = Seq(1L -> "some brand new document text here",
      2L -> "").toDF("doc_id", "text")
    val idx = NearDup.buildIncrementIndex(corpus)
    val out = NearDup.dedupIncrementAgainst(inc, idx).collect()
      .map(r => (r.getLong(0), r.isNullAt(1), r.isNullAt(2), r.getBoolean(3)))
    assert(out.toSeq == Seq((1L, true, true, true), (2L, true, true, true)))
    // and the index health report of an empty corpus is an empty
    // histogram, not a failure
    assert(NearDup.indexStats(corpus).collect().isEmpty)
    idx.release()
  }

  test("session-new planners tolerate empty inputs") {
    import graft.operators.{Analytics, Curation, DataChecks, Privacy}
    val emptyDocs = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "text", "source")
    // curriculum over nothing: no tiers, no divide-by-zero
    assert(Curation.curriculumPlan(emptyDocs, buckets = 4).count() == 0)
    // water-filling over nothing: no sources, no 0/0
    assert(Curation.tokenBudgetPlan(emptyDocs, lit(1L)).count() == 0)
    // advisor over empty sides: no keys, no rows
    val e2 = Seq.empty[Long].toDF("k")
    assert(DataChecks.joinSkewAdvisor(e2, e2, "k", "k").count() == 0)
    // t-closeness over nothing: no classes
    val eg = Seq.empty[(String, Long)].toDF("grp", "band")
    assert(Privacy.tCloseness(eg, Seq("grp" -> col("grp")),
      "band" -> col("band"), 0.2).count() == 0)
    // gini over nothing: no nations
    val eo = Seq.empty[(Long, Double)].toDF("o_custkey", "o_totalprice")
    val ec = Seq.empty[(Long, Int)].toDF("c_custkey", "c_nationkey")
    assert(Analytics.giniByNation(eo, ec).count() == 0)
  }

  test("kCore on an empty and a coreless graph returns empty") {
    import graft.operators.Affinity
    val empty = Seq.empty[(Long, Long)].toDF("l_orderkey", "l_partkey")
    assert(Affinity.kCore(empty).count() == 0)
    // a pure path graph (support-2) peels away entirely at k=2
    val path = Seq(
      (1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L),   // edge 1-2 (cooc 2)
      (3L, 2L), (3L, 3L), (4L, 2L), (4L, 3L))   // edge 2-3 (cooc 2)
      .toDF("l_orderkey", "l_partkey")
    assert(Affinity.kCore(path, minSupport = 2).count() == 0)
  }
}
