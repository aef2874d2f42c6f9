package graft

import graft.operators.Affinity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class AffinitySpec extends SparkSpec {
  import spark.implicits._

  /** (order, part) memberships as a minimal lineitem; order 3 lists
    * part 10 twice — membership must count once. */
  private def li(rows: (Long, Long)*): DataFrame =
    rows.map { case (o, p) => (o, p) }.toDF("l_orderkey", "l_partkey")

  private val baskets = li(
    (1L, 10L), (1L, 20L), (1L, 30L),
    (2L, 10L), (2L, 20L),
    (3L, 10L), (3L, 10L), (3L, 40L),
    (4L, 50L))

  test("coPairs and itemSimilarity count distinct-order co-memberships with both counts") {
    val pairs = Affinity.coPairs(baskets).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(x => (x._1, x._2))
    val counts = Affinity.itemSimilarity(baskets, topN = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(3), r.getLong(4))).toMap
    val out = pairs.map { case (a, b, cooc) =>
      val (na, nb) = counts((a, b))
      assert(counts((b, a)) == ((nb, na)), s"($b, $a) does not mirror ($a, $b)")
      (a, b, na, nb, cooc)
    }
    // (part_a, part_b, n_a, n_b, cooc); order counts 10→3, 20→2,
    // 30/40→1; the duplicated (3, 10) line adds no pair
    assert(out.toSeq == Seq(
      (10L, 20L, 3L, 2L, 2L),
      (10L, 30L, 3L, 1L, 1L),
      (10L, 40L, 3L, 1L, 1L),
      (20L, 30L, 2L, 1L, 1L)))
    assert(counts.size == 2 * out.length)
  }

  test("itemSimilarity ranks by cosine with id-asc ties at the cut") {
    val out = Affinity.itemSimilarity(baskets, topN = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(5), r.getInt(6)))
    val for10 = out.filter(_._1 == 10L)
    // part 10's candidates: 20 at 2/sqrt(6), then 30 and 40 tied at
    // 1/sqrt(3) — the id-asc tie keeps 30 and cuts 40
    assert(for10.map(x => (x._2, x._4)).toSeq == Seq((20L, 1), (30L, 2)))
    assert(math.abs(for10(0)._3 - 2.0 / math.sqrt(6.0)) < 1e-15)
    assert(math.abs(for10(1)._3 - 1.0 / math.sqrt(3.0)) < 1e-15)
    // singleton part 50 has no neighbors at all
    assert(!out.exists(_._1 == 50L))
  }

  test("triangleStats: one triangle, wedges from degrees, transitivity") {
    // support 1: edges 10-20, 10-30, 10-40, 20-30 -> triangle
    // {10,20,30}; degrees (3,2,2,1) -> wedges C(3,2)+1+1 = 5 -> 0.6
    val r = Affinity.triangleStats(baskets, minSupport = 1).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      == ((4L, 4L, 5L, 1L)))
    assert(r.getDouble(4) == 0.6)
    // the default support floor drops the once-seen pairs: only
    // (10, 20) co-occurs twice -> a single edge, no wedge, no
    // triangle, NULL transitivity
    val r2 = Affinity.triangleStats(baskets).collect().head
    assert((r2.getLong(0), r2.getLong(1), r2.getLong(2), r2.getLong(3))
      == ((2L, 1L, 0L, 0L)))
    assert(r2.isNullAt(4))
  }

  test("wedgeRecommendations: open wedges only, existing edges excluded") {
    // support-1 graph 10-20, 10-30, 10-40, 20-30: open wedges via 10
    // are (20,40) and (30,40); (20,30)/(10,x) candidates are already
    // edges and must anti-join away. Center 10 has degree 3, so each
    // wedge scores 10⁶ div 3 resource-allocation micro-units.
    val out = Affinity.wedgeRecommendations(baskets, minSupportFloor = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // the 4-pair histogram is far under the default edge budget, so
    // the derived support stays at the floor (= 1) and is emitted
    assert(out.toSeq == Seq(
      (20L, 40L, 1L, 333333L, 1L), (30L, 40L, 1L, 333333L, 1L)))
  }

  test("wedgeSupportFor: floor when in budget, raised exactly past it") {
    // in budget at the floor -> floor wins
    assert(Affinity.wedgeSupportFor(Seq((1L, 50L), (2L, 10L)),
      floor = 2, edgeBudget = 100L) == 2)
    // ge(1)=60 > 40 but ge(2)=10 <= 40 -> smallest in-budget support
    // is 2 (the floor); with floor 1 the derivation must still raise
    // to 2, not stay at 1
    assert(Affinity.wedgeSupportFor(Seq((1L, 50L), (2L, 10L)),
      floor = 1, edgeBudget = 40L) == 2)
    // dense regime: ge(3)=70 > 64, ge(4)=30 <= 64 -> 4
    assert(Affinity.wedgeSupportFor(
      Seq((1L, 1000L), (2L, 200L), (3L, 40L), (4L, 20L), (7L, 10L)),
      floor = 2, edgeBudget = 64L) == 4)
    // even the heaviest multiplicity exceeds the budget -> support
    // lands past it (empty graph is the in-budget answer)
    assert(Affinity.wedgeSupportFor(Seq((5L, 100L)),
      floor = 2, edgeBudget = 10L) == 6)
    // empty histogram (no pairs at all) -> floor
    assert(Affinity.wedgeSupportFor(Nil, floor = 2,
      edgeBudget = 10L) == 2)
  }

  /** The operator's integer recurrence re-implemented driver-side —
    * the spec proves the distributed loop computes exactly this. */
  private def refPageRank(edges: Seq[(Long, Long)],
                          iters: Int): Map[Long, Long] = {
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val nodes = edges.map(_._1).distinct
    var rank = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to iters) {
      val inflow = scala.collection.mutable.Map[Long, Long]()
        .withDefaultValue(0L)
      for ((s, d) <- edges)
        inflow(d) += (rank(s) * 17L / 20L) / deg(s)
      rank = nodes.map(n => n -> (150000L + inflow(n))).toMap
    }
    rank
  }

  test("graphStats buckets degrees by decimal magnitude") {
    // degrees: 10→3, 20→2, 30→2, 40→1 — all single-digit, one bucket
    val out = Affinity.graphStats(baskets).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(0) == 1L && r.getLong(1) == 4L)
    assert(r.getLong(2) == 1L && r.getLong(3) == 3L)   // deg min/max
    assert(r.getLong(4) == 8L)                          // sum of degrees
    assert(r.getDouble(5) == 1.0)
  }

  test("pageRank equals the integer recurrence bit-for-bit") {
    val undirected = Seq((10L, 20L), (10L, 30L), (10L, 40L), (20L, 30L))
    val edges = undirected ++ undirected.map(_.swap)
    val expected = refPageRank(edges, iters = 3)
    val out = Affinity.pageRank(baskets, iters = 3, topN = 100).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toMap == expected)
    // hub 10 (degree 3) outranks the leaves, and ranks are DESC
    assert(out.head._1 == 10L)
    assert(out.map(_._2).toSeq == out.map(_._2).sortBy(-_).toSeq)
  }

  test("kCore peels the pendant, keeps the triangle, derives k") {
    // support-2 graph: triangle 1-2-3 plus pendant edge 3-4
    // (4 edges / 4 nodes → derived k = max(2, ceil(1)) = 2)
    val rows = li(
      (1L, 1L), (1L, 2L), (1L, 3L),
      (2L, 1L), (2L, 2L), (2L, 3L),
      (3L, 3L), (3L, 4L),
      (4L, 3L), (4L, 4L))
    val out = Affinity.kCore(rows, minSupport = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(out.toSeq == Seq((1L, 2L, 2), (2L, 2L, 2), (3L, 2L, 2)))
  }

  test("kCoreKFor: floor in sparse regimes, half-average-degree in dense") {
    assert(Affinity.kCoreKFor(3573L, 5922L) == 2)  // sparse: floor
    assert(Affinity.kCoreKFor(2324L, 200L) == 12)  // dense: ceil(e/n)
    assert(Affinity.kCoreKFor(0L, 0L) == 2)        // empty graph
    assert(Affinity.kCoreKFor(4L, 4L) == 2)
  }

  test("degreeAssortativity: a support-2 star is exactly -1") {
    // each leaf pair co-occurs with the hub in two orders (support 2);
    // leaf-leaf pairs never repeat, so the kept graph is the 10-star
    // and Newman r over a star is -1 by the closed form
    val star = li(
      (1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L),
      (3L, 10L), (3L, 30L), (4L, 10L), (4L, 30L),
      (5L, 10L), (5L, 40L), (6L, 10L), (6L, 40L))
    val r = Affinity.degreeAssortativity(star, minSupport = 2)
      .collect().head
    assert(r.getLong(0) == 4L && r.getLong(1) == 3L)
    assert(r.getDouble(2) == -1.0)
    Affinity.clearCache()
  }
}

object AffinitySpec {

  /** The co-purchase pair build [[Affinity.coPairs]] replaced:
    * undirected pairs with both sides' order counts, (part_a < part_b,
    * n_a, n_b, cooc), the counts attached before the per-order set
    * aggregation; memoized for the run. */
  def coPurchasePairs(lineitem: DataFrame): DataFrame =
    Caches.memo(lineitem, "affinity.coPurchasePairs") {
      val op = lineitem
        .select(col("l_orderkey").as("okey"), col("l_partkey").as("part"))
        .distinct()
        .transform(Caches.hold)
      val cnt = op.groupBy(col("part")).agg(count(lit(1)).as("cnt"))
      val sets = op.join(cnt, "part")
        .groupBy(col("okey"))
        .agg(sort_array(collect_set(struct(col("part"), col("cnt")))).as("ps"))
      val res = sets.where(size(col("ps")) >= 2)
        .select(explode(call_function("graft_pairs", col("ps"))).as("p"))
        .groupBy(col("p.a.part").as("part_a"), col("p.b.part").as("part_b"),
          col("p.a.cnt").as("n_a"), col("p.b.cnt").as("n_b"))
        .agg(count(lit(1)).as("cooc"))
        .transform(Caches.hold)
      res.count()
      Caches.release(op)
      res
    }
}
