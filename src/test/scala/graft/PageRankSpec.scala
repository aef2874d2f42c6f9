package graft

import graft.operators.Affinity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}

/** [[Affinity.pageRank]] against the DataFrame value iteration it
  * replaced, and the job shape of its rounds. */
class PageRankSpec extends SparkSpec {
  import spark.implicits._

  private def li(rows: Seq[(Long, Long)]): DataFrame =
    rows.toDF("l_orderkey", "l_partkey")

  /** One order per pair edge (a, b). */
  private def graph(edges: Seq[(Long, Long)]): DataFrame =
    li(edges.zipWithIndex.flatMap { case ((a, b), i) =>
      Seq((i.toLong, a), (i.toLong, b))
    })

  private def path(n: Int): Seq[(Long, Long)] =
    (1 until n).map(i => (i.toLong, i + 1L))

  /** Schema and rows of `pageRank` and of the reference, with the
    * first difference named; the reference's checkpoints end here. */
  private def compare(lineitem: DataFrame, iters: Int,
                      topN: Int): Option[String] =
    try {
      val got = Affinity.pageRank(lineitem, iters, topN)
      val want = PageRankSpec.reference(lineitem, iters, topN)
      val (g, w) = (got.collect().toSeq, want.collect().toSeq)
      if (got.schema != want.schema) Some(s"schema ${got.schema} vs ${want.schema}")
      else if (g != w) Some(s"${g.size} vs ${w.size} rows, first difference " +
        g.zipAll(w, null, null).find { case (a, b) => a != b })
      else None
    } finally Caches.endQuery()

  test("pageRank equals the DataFrame value iteration on fixed graphs") {
    val cases = Seq(
      "empty" -> li(Nil),
      "singleton orders" -> li(Seq((1L, 10L), (2L, 20L), (3L, 10L))),
      "star" -> graph((2L to 9L).map(1L -> _)),
      "long path" -> graph(path(40)),
      "two components" -> graph(path(5) ++ Seq((20L, 21L), (21L, 22L), (20L, 22L))),
      "sf0.001 lineitem" -> Tables.lineitem(spark, sf("lineitem")))
    for ((name, g) <- cases; (iters, topN) <- Seq((3, 100), (5, 7))) {
      val diff = compare(g, iters, topN)
      assert(diff.isEmpty, s"$name iters=$iters topN=$topN: ${diff.mkString}")
    }
  }

  test("pageRank equals the DataFrame value iteration on random baskets") {
    // (order, part) lines over few parts: multi-item orders, repeated
    // pairs and rank ties are common
    val baskets = Gen.listOf(Gen.zip(Gen.choose(1L, 12L), Gen.choose(1L, 9L)))
    val prop = Prop.forAllNoShrink(baskets, Gen.choose(0, 4), Gen.choose(1, 10)) {
      (rows, iters, topN) =>
        val diff = compare(li(rows), iters, topN)
        Prop(diff.isEmpty) :| s"rows=$rows iters=$iters topN=$topN: $diff"
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(25)
      .withInitialSeed(20261019L), prop)
    assert(res.passed, res.status.toString)
  }

  test("each rank round is one single-stage job with no shuffle read") {
    val g = graph(path(8) ++ Seq((20L, 21L), (21L, 22L), (20L, 22L)))
    val iters = 4
    Affinity.coPairs(g).count() // the memoized pair frame is shared input
    val jobs = new KCoreSpec.JobLog
    spark.sparkContext.addSparkListener(jobs)
    try {
      Affinity.pageRank(g, iters)
      val built = jobs.settled()
      // the half-edge build: its shuffle plus the degree fold
      assert(built.head.stages == 2 && built.head.shuffleRead > 0, built.head)
      val rounds = built.tail
      assert(rounds.size == iters, rounds.mkString("\n"))
      assert(rounds.forall(j => j.stages == 1 && j.shuffleRead == 0),
        rounds.mkString("\n"))
    } finally {
      spark.sparkContext.removeSparkListener(jobs)
      Caches.clear()
    }
  }
}

object PageRankSpec {

  /** The DataFrame value iteration `pageRank` replaced: the edge and
    * node frames repartitioned on node and persisted, then per round a
    * shuffle-hash join to the ranks, an inflow aggregate, a left join
    * back to every node and a checkpoint. */
  def reference(lineitem: DataFrame, iters: Int, topN: Int): DataFrame = {
    val pairs = Affinity.coPairs(lineitem).select(col("part_a"), col("part_b"))
    val edges = pairs.unionAll(
      pairs.select(col("part_b"), col("part_a"))).toDF("src", "dst")
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val p = lineitem.sparkSession.sessionState.conf.numShufflePartitions
    val edgesDeg = Caches.hold(edges.join(deg, "src")
      .repartition(p, col("src")))
    val nodes = Caches.hold(deg.select(col("src").as("node"))
      .repartition(p, col("node")))
    edgesDeg.select(col("src"))
      .unionAll(nodes.select(col("node"))).count()
    var ranks = nodes.select(col("node"), lit(1000000L).as("rank_micro"))
    for (_ <- 1 to iters) {
      val inflow = edgesDeg
        .join(ranks.hint("SHUFFLE_HASH"), edgesDeg("src") === ranks("node"))
        .select(col("dst"), expr("((rank_micro * 17) div 20) div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("inflow"))
      ranks = nodes.join(inflow.hint("SHUFFLE_HASH"),
          nodes("node") === inflow("dst"), "left")
        .select(col("node"),
          (lit(150000L) + coalesce(col("inflow"), lit(0L))).as("rank_micro"))
      ranks = Caches.checkpoint(ranks)
    }
    ranks.orderBy(col("rank_micro").desc, col("node")).limit(topN)
      .select(col("node").as("part"), col("rank_micro"))
  }
}
