package graft

import scala.collection.mutable

import graft.operators.Affinity
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}

/** [[Affinity.kCore]] against the DataFrame peel it replaced, and the
  * job shape of its rounds. */
class KCoreSpec extends SparkSpec {
  import spark.implicits._

  private def li(rows: Seq[(Long, Long)]): DataFrame =
    rows.toDF("l_orderkey", "l_partkey")

  /** Baskets holding exactly the pair edges (a, b), each in `support`
    * orders of its own. */
  private def graph(edges: Seq[(Long, Long)], support: Int = 2): DataFrame =
    li(edges.zipWithIndex.flatMap { case ((a, b), i) =>
      (0 until support).flatMap(j => Seq(
        ((i * support + j).toLong, a), ((i * support + j).toLong, b)))
    })

  private def path(n: Int): Seq[(Long, Long)] =
    (1 until n).map(i => (i.toLong, i + 1L))

  /** Schema and rows of `kCore` and of the reference, with the first
    * difference named; the reference's checkpoints end here. */
  private def compare(lineitem: DataFrame, minSupport: Int): Option[String] =
    try {
      val got = Affinity.kCore(lineitem, minSupport)
      val (want, _) = KCoreSpec.reference(lineitem, minSupport)
      val (g, w) = (got.collect().toSeq, want.collect().toSeq)
      if (got.schema != want.schema) Some(s"schema ${got.schema} vs ${want.schema}")
      else if (g != w) Some(s"${g.size} vs ${w.size} rows, first difference " +
        g.zipAll(w, null, null).find { case (a, b) => a != b })
      else None
    } finally Caches.endQuery()

  test("kCore equals the checkpoint-and-count reference on fixed graphs") {
    val clique = for (a <- 1L to 5L; b <- a + 1 to 5L) yield (a, b)
    val cases = Seq(
      "empty" -> li(Nil),
      "coreless path" -> graph(path(6)),
      "clique" -> graph(clique),
      // 60 nodes at k=2 peel two ends per round: 30 rounds, so both
      // engines stop at the cap with the path's middle still standing
      "capped path" -> graph(path(60)),
      "path and triangle" -> graph(path(8) ++ Seq((20L, 21L), (21L, 22L), (20L, 22L))),
      "sf0.001 lineitem" -> Tables.lineitem(spark, sf("lineitem")))
    cases.foreach { case (name, g) =>
      val diff = compare(g, minSupport = 2)
      assert(diff.isEmpty, s"$name: ${diff.mkString}")
    }
    try assert(Affinity.kCore(graph(path(60))).count() ==
      60 - 2 * Affinity.KCoreMaxPeels, "the capped path is not depth-limited")
    finally Caches.endQuery()
  }

  test("kCore equals the checkpoint-and-count reference on random baskets") {
    // (order, part) lines over few parts, so support-2 pairs and
    // multi-round peels are common
    val baskets = Gen.listOf(Gen.zip(Gen.choose(1L, 12L), Gen.choose(1L, 9L)))
    val prop = Prop.forAllNoShrink(baskets, Gen.choose(1, 2)) { (rows, minSupport) =>
      val diff = compare(li(rows), minSupport)
      Prop(diff.isEmpty) :| s"rows=$rows minSupport=$minSupport: $diff"
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(25)
      .withInitialSeed(20261018L), prop)
    assert(res.passed, res.status.toString)
  }

  test("each peel round is one single-stage job with no shuffle read") {
    // the path peels two ends a round for 4 rounds, a 5th finds
    // nothing; the triangle stays
    val g = graph(path(8) ++ Seq((20L, 21L), (21L, 22L), (20L, 22L)))
    val (_, rounds) = KCoreSpec.reference(g, 2)
    Caches.endQuery()
    assert(rounds == 5)
    Affinity.coPairs(g).count() // the memoized pair frame is shared input
    val jobs = new KCoreSpec.JobLog
    spark.sparkContext.addSparkListener(jobs)
    try {
      val out = Affinity.kCore(g, 2)
      val built = jobs.settled()
      val rows = out.collect()
      val all = jobs.settled()
      assert(rows.map(_.getLong(0)).toSeq == Seq(20L, 21L, 22L))
      // the half-edge build: partitionBy's shuffle plus the k fold
      assert(built.head.stages == 2 && built.head.shuffleRead > 0, built.head)
      val construct = built.tail
      assert(construct.size == rounds, construct)
      val afterBuild = all.tail.init
      assert(afterBuild.forall(j => j.stages == 1 && j.shuffleRead == 0),
        afterBuild.mkString("\n"))
      assert(afterBuild.size <= rounds + 2, afterBuild.mkString("\n"))
    } finally {
      spark.sparkContext.removeSparkListener(jobs)
      Caches.clear()
    }
  }
}

object KCoreSpec {

  /** The DataFrame peel `kCore` replaced: per round a node-degree
    * aggregate, two left-semi joins and a checkpoint, stopping when a
    * round keeps every edge (its count) or at the cap. Returns the
    * result and the number of rounds run. */
  def reference(lineitem: DataFrame, minSupport: Int,
                kFloor: Int = 2): (DataFrame, Int) = {
    val pairs0 = AffinitySpec.coPurchasePairs(lineitem)
      .where(col("cooc") >= minSupport)
      .select(col("part_a"), col("part_b"))
    val st = pairs0
      .select(explode(array(col("part_a"), col("part_b"))).as("node"))
      .agg(count(lit(1)).as("e2"), countDistinct(col("node")).as("n"))
      .head()
    var curCount = st.getLong(0) / 2
    val k = Affinity.kCoreKFor(curCount, st.getLong(1), kFloor)
    var cur = Caches.checkpoint(pairs0)
    var stable = curCount == 0L
    var round = 0
    while (!stable && round < Affinity.KCoreMaxPeels) {
      val good = cur
        .select(explode(array(col("part_a"), col("part_b"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
        .where(col("deg") >= k).select(col("node"))
      val next = cur
        .join(good.select(col("node").as("part_a")), Seq("part_a"), "left_semi")
        .join(good.select(col("node").as("part_b")), Seq("part_b"), "left_semi")
        .transform(Caches.checkpoint)
      val nextCount = next.count()
      stable = nextCount == curCount
      cur = next
      curCount = nextCount
      round += 1
    }
    val out = cur.select(explode(array(col("part_a"), col("part_b"))).as("part"))
      .groupBy(col("part")).agg(count(lit(1)).as("core_deg"))
      .select(col("part"), col("core_deg"), lit(k).cast("int").as("k"))
      .orderBy(col("part"))
    (out, round)
  }

  case class Job(id: Int, stages: Int, shuffleRead: Long)

  /** Submitted stages and shuffle-read bytes per job, in job order;
    * skipped stages (shuffle output reused) never count. */
  class JobLog extends SparkListener {
    private val stageJob = mutable.Map[Int, Int]()
    private val jobs = mutable.LinkedHashMap[Int, Job]()

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      e.stageIds.foreach(stageJob(_) = e.jobId)
      jobs(e.jobId) = Job(e.jobId, 0, 0L)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized {
        stageJob.get(e.stageInfo.stageId).foreach { j =>
          jobs(j) = jobs(j).copy(stages = jobs(j).stages + 1)
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics))
        jobs(j) = jobs(j).copy(shuffleRead = jobs(j).shuffleRead +
          m.shuffleReadMetrics.totalBytesRead)
    }

    /** The jobs so far, once the listener bus has delivered their
      * events. */
    def settled(): Seq[Job] = {
      val bus = classOf[org.apache.spark.SparkContext]
        .getMethod("listenerBus").invoke(SparkSpec.session.sparkContext)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      synchronized(jobs.values.toSeq)
    }
  }
}
