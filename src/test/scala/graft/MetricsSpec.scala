package graft

import org.apache.spark.sql.functions._
import graft.operators._

/** Unit semantics of the household metrics over a hand-built panel:
  * 3 households, 2 media types, household 3 single-type. */
class MetricsSpec extends SparkSpec {
  import spark.implicits._

  // (household_id, etype, week, projfact)
  private lazy val media = Seq(
    (1L, "tv", "2024-01-01", 2.0),
    (1L, "tv", "2024-01-01", 2.0),   // duplicate exposure
    (1L, "web", "2024-01-08", 2.0),
    (2L, "tv", "2024-01-08", 3.0),
    (2L, "web", "2024-01-08", 3.0),
    (3L, "web", "2024-01-15", 1.0)
  ).toDF("household_id", "etype", "week_s", "projfact")
    .withColumn("week", to_date(col("week_s")))

  test("reach: count/unique/duplicates per dimension value") {
    val r = Reach.reachCount(media, "household_id", Some("etype"), Some("projfact"))
      .collect().map(r => r.getString(1) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    // tv: hh1(2.0)+hh2(3.0)=5, unique: none (both have 2 types) → 0, dup 5
    assert(r("tv") == ((5.0, 0.0, 5.0)))
    // web: hh1+hh2+hh3 = 6, unique: hh3 only → 1, dup 5
    assert(r("web") == ((6.0, 1.0, 5.0)))
  }

  test("frequency: capped distribution with pct of total") {
    val f = Frequency.freqDistribution(media, None)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // hh3: 1 exposure (pf 1), hh2: 2 (pf 3), hh1: 3 (pf 2) — total 6
    assert(f(1L)._1 == 1L && f(2L)._1 == 3L && f(3L)._1 == 2L)
    assert(math.abs(f(2L)._2 - 0.5) < 1e-12)
  }

  test("pairwise overlap: projection-weighted pair counts + pcts") {
    val p = Pairwise.pairwiseOverlap(media, "etype").collect()
    assert(p.length == 1)
    val r = p.head
    // hh1 (2.0) and hh2 (3.0) have both → overlap 5; tv total 5, web total 6
    assert(r.getAs[Double]("overlapping_households") == 5.0)
    assert(math.abs(r.getAs[Double]("pct_of_media_type_1") - 1.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("pct_of_media_type_2") - 5.0 / 6.0) < 1e-12)
  }

  test("weekly incremental reach equals first-week counts + cumsum") {
    val w = ReachWeek.weeklyReach(media)
      .collect().map(r => r.getDate(0).toString -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(w("2024-01-01") == ((2.0, 2.0)))  // hh1 first seen wk1
    assert(w("2024-01-08") == ((3.0, 5.0)))  // hh2
    assert(w("2024-01-15") == ((1.0, 6.0)))  // hh3
  }

  test("projection ratio: per-type and overall") {
    val pr = ProjectionRatio.projectionRatios(media)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // tv: 3 exposures / (2+2+3)=7 ; web: 3 / (2+3+1)=6 ; all: 6/13
    assert(math.abs(pr("tv") - 3.0 / 7.0) < 1e-12)
    assert(math.abs(pr("web") - 3.0 / 6.0) < 1e-12)
    assert(math.abs(pr("all") - 6.0 / 13.0) < 1e-12)
  }

  test("salted sum equals direct groupBy sum") {
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 4.0))
      .toDF("k", "v").withColumn("row", monotonically_increasing_id())
    val salted = Skew.saltedSum(df, Seq("k"), "v", col("row"), 4)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(salted == Map("a" -> 6.0, "b" -> 4.0))
  }

  test("multi-dimension reach reports every dimension in one table") {
    val r = Reach.reachByDimensions(
      media.withColumn("week_s", col("week").cast("string")),
      "household_id", Seq("etype", "week_s"), Some("projfact"))
    val dims = r.select("dimension").distinct().as[String].collect().toSet
    assert(dims == Set("etype", "week_s"))
  }

  test("grouping diff: outer join with diff/pct_diff") {
    val log = Seq(("a", 1), ("a", 2), ("b", 3)).toDF("k", "v")
    val ad = Seq(("a", 9), ("c", 9)).toDF("k", "v")
    val g = DailyQA.groupingDiff(log, ad, Seq("k")).collect()
      .map(r => r.getString(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(g("a") == ((Some(2L), Some(1L))))
    assert(g("b")._2.isEmpty)   // no adserver rows
    assert(g("c")._1.isEmpty)   // no log rows
  }

  test("skewReport surfaces the hot key with its share") {
    import graft.operators.Skew
    val df = (1L to 90L).map(i => ("hot", i)).toDF("k", "v")
      .unionAll((1L to 10L).map(i => (s"k$i", i)).toDF("k", "v"))
    val out = Skew.skewReport(df, "k", 3).collect()
    assert(out.length == 3)
    assert(out.head.getString(0) == "hot" && out.head.getLong(1) == 90L)
    assert(out.head.getLong(2) == 100L && out.head.getDouble(3) == 0.9)
    // deterministic tiebreak among the singleton keys
    assert(out.drop(1).map(_.getString(0)).toSeq == Seq("k1", "k10"))
  }

  test("skewReportApprox: MG bound holds and small-cardinality is exact") {
    import graft.operators.Skew
    // 900 hot rows + 100 singletons, k=16: any key with true count
    // > n/(k+1) = 1000/17 must survive, estimates are lower bounds
    // within that margin
    val df = ((1L to 900L).map(_ => 0L) ++ (1L to 100L))
      .toDF("k").repartition(8)
    val top = Skew.skewReportApprox(df, "k", 3, k = 16).collect()
    assert(top.head.getLong(0) == 0L)
    val est = top.head.getLong(1)
    assert(est <= 900L && est >= 900L - (1000L / 17 + 1), s"est=$est")
    assert(top.head.getLong(2) == 1000L)
    // distinct keys ≤ k: no decrement ever fires, estimates are exact
    val small = Seq(1L, 1L, 1L, 2L, 2L, 3L).toDF("k").repartition(4)
    val ex = Skew.skewReportApprox(small, "k", 10, k = 16).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ex == Map(1L -> 3L, 2L -> 2L, 3L -> 1L))
  }

  test("cmsFreqReport: upper bounds, exactness sans collisions, " +
      "merge-order independence") {
    import graft.operators.Skew
    // 600 hot rows + keys 1..200 once each, across 8 partitions
    val df = ((1L to 600L).map(_ => 0L) ++ (1L to 200L))
      .toDF("k").repartition(8)
    val out = Skew.cmsFreqReport(df, "k", 5).collect()
    assert(out.length == 5)
    assert(out.head.getLong(0) == 0L && out.head.getLong(1) == 600L)
    // CMS never undercounts, and the hot key's row can only gain
    out.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1),
        s"CMS undercounted key ${r.getLong(0)}")
      assert(r.getLong(3) == r.getLong(2) - r.getLong(1))
      assert(r.getLong(4) == 800L)
    }
    // merge-order independence: a different task split yields the
    // SAME estimates bit-for-bit (counters are commutative sums) —
    // the property that lets the DuckDB oracle replay the sketch
    val out2 = Skew.cmsFreqReport(df.repartition(3), "k", 5).collect()
    assert(out.map(_.toSeq).toSeq == out2.map(_.toSeq).toSeq)
    // 201 distinct keys in 512 buckets x 4 rows: the min over rows
    // is exact unless some key collides with the hot key in EVERY
    // row — verify estimates are the true counts here
    val over = out.map(_.getLong(3)).sum
    assert(over == 0L, s"unexpected full-depth collisions: $over")
  }

  test("graft_topk aggregate equals the ranking window exactly") {
    import graft.operators.Analytics
    // 40 customers x 25 orders with heavy score ties (score = i % 7),
    // spread over 9 partitions so partial heaps must merge; ties
    // break by lower orderkey in both paths
    val rows = for { c <- 0L until 40L; i <- 0L until 25L }
      yield (c, c * 100 + i, (i % 7).toDouble)
    val df = rows.toDF("o_custkey", "o_orderkey", "o_totalprice")
      .repartition(9)
    val agg = Analytics.topOrdersPerCustomerAgg(df, n = 3).collect()
    val win = Analytics.topOrdersPerCustomer(df, n = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val aggT = agg.map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(aggT.toSeq == win.toSeq,
      "bounded-heap top-k must match the window bit-for-bit")
    assert(aggT.length == 40 * 3)
    // groups smaller than k emit all their rows, still ranked
    val tiny = Seq((1L, 10L, 5.0), (1L, 11L, 7.0))
      .toDF("o_custkey", "o_orderkey", "o_totalprice")
    val t = Analytics.topOrdersPerCustomerAgg(tiny, n = 3).collect()
    assert(t.map(_.getLong(1)).toSeq == Seq(11L, 10L))
  }

  test("reachVariance: exact DAGJK on hand-computable replicates") {
    import graft.operators.Reach
    // G=2: ids {2,4} -> group 0, {1,3} -> group 1. Weights 3,1,0,0?
    // use hh1 w=3 (g1), hh2 w=1 (g0): T=4, theta_g = (T-s_g)*2 - T
    // -> dev0 = (4-1)*2-4 = 2, dev1 = (4-3)*2-4 = -2,
    // v = (1/2)*(4+4) = 4
    val df = Seq((1L, 3.0), (1L, 3.0), (2L, 1.0))
      .toDF("household_id", "projfact")
    val r = Reach.reachVariance(df, "household_id", "projfact", 2)
      .collect().head
    assert(r.getDouble(0) == 4.0 && r.getLong(1) == 2 && r.getInt(2) == 2)
    assert(r.getDouble(3) == 4.0)
    // empty replicate group still contributes: ids 0,2 both in g0,
    // g1 empty -> dev0 = (T-T)*2-T = -T, dev1 = (T-0)*2-T = T
    // -> v = (1/2)*(T² + T²) = T² with T=2
    val df2 = Seq((0L, 1.0), (2L, 1.0)).toDF("household_id", "projfact")
    val r2 = Reach.reachVariance(df2, "household_id", "projfact", 2)
      .collect().head
    assert(r2.getDouble(0) == 2.0 && r2.getDouble(3) == 4.0)
    // balanced groups -> zero variance
    val df3 = Seq((1L, 1.0), (2L, 1.0)).toDF("household_id", "projfact")
    assert(Reach.reachVariance(df3, "household_id", "projfact", 2)
      .collect().head.getDouble(3) == 0.0)
  }

  test("reachVarianceByDim gives each value its own replicates") {
    import graft.operators.Reach
    // value a: hh1 w=3 (g1), hh2 w=1 (g0) -> var 4 (as the overall
    // case); value b: balanced -> var 0; a household in both values
    // contributes to each value's replicate independently
    val df = Seq(
      (1L, "a", 3.0), (2L, "a", 1.0),
      (1L, "b", 1.0), (2L, "b", 1.0))
      .toDF("household_id", "etype", "projfact")
    val out = Reach.reachVarianceByDim(df, "household_id", "etype",
      "projfact", 2).collect().map(r => r.getString(0) -> r).toMap
    assert(out("a").getDouble(1) == 4.0 && out("a").getDouble(3) == 4.0)
    assert(out("b").getDouble(1) == 2.0 && out("b").getDouble(3) == 0.0)
  }

  test("pairwiseOverlapApprox tracks exact distinct overlaps on real data") {
    val media = Tables.media(spark, "/root/testdata/sf0.001")
    val m = media.select(col("household_id"), col("etype"))
      .distinct()
    val exactPair = m.as("a").join(m.as("b"),
        col("a.household_id") === col("b.household_id") &&
          col("a.etype") < col("b.etype"))
      .groupBy(col("a.etype").as("v1"), col("b.etype").as("v2"))
      .agg(count(lit(1)).as("overlap"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val exactSide = m.groupBy(col("etype")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = graft.operators.Pairwise
      .pairwiseOverlapApprox(media, "etype").collect()
    // the sketch twin emits EVERY value pair (zero-overlap pairs
    // included — sketches can't know an intersection is empty), where
    // the exact self-join omits them; on this fixture every pair
    // overlaps, so the row sets coincide — assert that precondition
    // explicitly rather than crashing on a regenerated fixture
    val nVals = exactSide.size
    assert(approx.length == nVals * (nVals - 1) / 2)
    approx.foreach { r =>
      val (v1, v2) = (r.getString(0), r.getString(1))
      val (n1, n2) = (exactSide(v1), exactSide(v2))
      assert(math.abs(r.getLong(2) - n1) <= math.max(2L, (0.05 * n1).toLong),
        s"$v1 side estimate ${r.getLong(2)} vs $n1")
      assert(math.abs(r.getLong(3) - n2) <= math.max(2L, (0.05 * n2).toLong))
      // inclusion–exclusion compounds three sketch errors — bound the
      // intersection against the UNION's magnitude, not its own;
      // a pair absent from the exact map genuinely has zero overlap
      val ex = exactPair.getOrElse((v1, v2), 0L)
      val union = n1 + n2 - ex
      assert(math.abs(r.getLong(4) - ex) <= math.max(3L, (0.08 * union).toLong),
        s"($v1,$v2) overlap est ${r.getLong(4)} vs exact $ex")
    }
  }
}
