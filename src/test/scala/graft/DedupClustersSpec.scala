package graft

import graft.operators.{GraftDataException, NearDup}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalacheck.{Gen, Prop, Test}

/** [[NearDup.dedupClusters]] against the DataFrame label loop it
  * replaced, and the job shape of its rounds. */
class DedupClustersSpec extends SparkSpec {
  import spark.implicits._

  private def docs(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, s"doc $i")).toDF("doc_id", "text")

  private def edges(es: Seq[(Option[Long], Option[Long])]): DataFrame =
    es.toDF("d1", "d2")

  private def some(es: (Long, Long)*): DataFrame =
    edges(es.map { case (a, b) => (Some(a), Some(b)) })

  private def path(n: Int): Seq[(Long, Long)] =
    (1 until n).map(i => (i.toLong, i + 1L))

  /** Schema and rows, or the non-convergence message. */
  private def outcome(f: => DataFrame): Either[String, (StructType, Seq[Row])] =
    try {
      val df = f
      Right((df.schema, df.collect().toSeq))
    } catch { case e: GraftDataException => Left(e.getMessage) }

  /** `dedupClusters` and the reference on the same input, with the
    * first difference named; the reference's checkpoints end here. */
  private def compare(d: DataFrame, e: DataFrame, maxIter: Int): Option[String] =
    try {
      val got = outcome(NearDup.dedupClusters(d, e, maxIter))
      val want = outcome(DedupClustersSpec.reference(d, e, maxIter))
      (got, want) match {
        case (g, w) if g == w => None
        case (Right((gs, g)), Right((ws, w))) if gs == ws =>
          Some(s"${g.size} vs ${w.size} rows, first difference " +
            g.zipAll(w, null, null).find { case (a, b) => a != b })
        case (g, w) => Some(s"$g vs $w")
      }
    } finally Caches.endQuery()

  test("dedupClusters equals the checkpoint-and-count reference on fixed graphs") {
    val star = (2L to 9L).map(1L -> _)
    val cases = Seq(
      "empty" -> (docs(Nil), some()),
      "no edges" -> (docs(1L to 4L), some()),
      "chain" -> (docs(1L to 6L), some(path(6): _*)),
      "two chains" -> (docs(1L to 9L), some(path(4) ++ Seq((9L, 8L), (8L, 7L)): _*)),
      "star" -> (docs(1L to 10L), some(star: _*)),
      "end outside docs" -> (docs(1L to 4L), some((1L, 2L), (2L, 99L), (99L, 3L))),
      "null end" -> (docs(1L to 4L),
        edges(Seq((Some(1L), None), (None, Some(2L)), (Some(3L), Some(4L))))),
      "self-loop" -> (docs(1L to 4L), some((2L, 2L), (3L, 4L))))
    for ((name, (d, e)) <- cases; maxIter <- Seq(1, 2, 20)) {
      val diff = compare(d, e, maxIter)
      assert(diff.isEmpty, s"$name maxIter=$maxIter: ${diff.mkString}")
    }
  }

  test("dedupClusters equals the checkpoint-and-count reference on random graphs") {
    // ids 0..9 against docs 1..n: ends outside docs, NULL ends,
    // self-loops, repeated and reversed edges all occur
    val end = Gen.frequency(9 -> Gen.choose(0L, 9L).map(Option(_)), 1 -> Gen.const(None))
    val graphs = Gen.zip(Gen.choose(0, 8), Gen.listOf(Gen.zip(end, end)))
    val prop = Prop.forAllNoShrink(graphs, Gen.choose(1, 4)) { case ((n, es), maxIter) =>
      val diff = compare(docs(1L to n.toLong), edges(es), maxIter)
      Prop(diff.isEmpty) :| s"n=$n edges=$es maxIter=$maxIter: $diff"
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(25)
      .withInitialSeed(20261020L), prop)
    assert(res.passed, res.status.toString)
  }

  test("each label round is one single-stage job with no shuffle read") {
    // the 5-chain lowers labels for 4 rounds; a 5th finds nothing
    val (d, e) = (docs(1L to 7L), some(path(5): _*))
    val jobs = new KCoreSpec.JobLog
    spark.sparkContext.addSparkListener(jobs)
    try {
      val out = NearDup.dedupClusters(d, e)
      val built = jobs.settled()
      // the half-edge build ends with the node collect, which reads
      // the build shuffle
      val build = built.lastIndexWhere(_.shuffleRead > 0)
      assert(build >= 0 && built(build).stages == 2, built.mkString("\n"))
      val rounds = built.drop(build + 1)
      assert(rounds.size == 5, rounds.mkString("\n"))
      assert(rounds.forall(j => j.stages == 1 && j.shuffleRead == 0),
        rounds.mkString("\n"))
      assert(out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
        (1L to 5L).map(i => (i, 1L, 5L)) ++ Seq((6L, 6L, 1L), (7L, 7L, 1L)))
    } finally {
      spark.sparkContext.removeSparkListener(jobs)
      Caches.endQuery()
    }
  }
}

object DedupClustersSpec {

  /** The label loop `dedupClusters` replaced: per round a join and a
    * min-aggregate on a checkpointed label frame, a convergence join
    * with a count, and a release of the previous round. */
  def reference(docs: DataFrame, edges: DataFrame, maxIter: Int): DataFrame = {
    val ids = docs.select(col("doc_id").cast("long"))
    val sym = Caches.checkpoint(edges
      .select(col("d1").cast("long").as("a"), col("d2").cast("long").as("b"))
      .select(explode(array(
        struct(col("a"), col("b")),
        struct(col("b").as("a"), col("a").as("b")))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b")))
    val verts = ids.join(
      sym.select(col("a").as("doc_id")).distinct(), Seq("doc_id"),
      "left_semi")
    var labels = Caches.checkpoint(verts.select(col("doc_id"), col("doc_id").as("rep")))
    def step(cur: DataFrame): (DataFrame, Long) = {
      val nbrMin = sym
        .join(cur.select(col("doc_id").as("a"), col("rep").as("nrep")), "a")
        .groupBy(col("b").as("doc_id"))
        .agg(min(col("nrep")).as("nbr_min"))
      val next = Caches.checkpoint(cur
        .join(nbrMin, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          least(col("rep"), coalesce(col("nbr_min"), col("rep"))).as("rep")))
      val changed = next.as("n")
        .join(cur.select(col("doc_id"), col("rep").as("old")), "doc_id")
        .where(col("rep") =!= col("old"))
        .count()
      (next, changed)
    }
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val (next, changed) = step(labels)
      Caches.release(labels)
      labels = next
      converged = changed == 0
      iter += 1
    }
    if (!converged) {
      val (verify, stillChanging) = step(labels)
      Caches.release(verify)
      if (stillChanging > 0)
        throw new GraftDataException(
          s"dedupClusters did not converge within $maxIter iterations — " +
            "a component has diameter exceeding the budget; raise maxIter")
    }
    Caches.release(sym)
    val sizes = labels.groupBy(col("rep")).agg(count(lit(1)).as("cluster_size"))
    val clustered = labels.join(sizes, "rep")
      .select(col("doc_id"), col("rep").as("rep_id"), col("cluster_size"))
    val singletons = ids
      .join(labels.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("rep_id"),
        lit(1L).as("cluster_size"))
    clustered.unionByName(singletons).orderBy(col("doc_id"))
  }
}
