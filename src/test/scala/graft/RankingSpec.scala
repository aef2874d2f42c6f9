package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Ranking

/** The two-phase rank machinery must be BIT-identical to the window
  * forms it replaces — q_user_concentration keeps its ntile-replay
  * oracle, so any divergence here is a silent
  * correctness bug, not a perf regression. Sizes straddle every
  * ntile remainder case (n % k = 0, < k, n < k). */
class RankingSpec extends SparkSpec {
  import spark.implicits._

  test("ntileExpr matches the ntile window on every remainder shape") {
    for (n <- Seq(1, 3, 7, 10, 20, 23); k <- Seq(1, 2, 3, 5, 10, 13)) {
      val df = (1 to n).map(i => (i.toLong, n.toLong)).toDF("rank", "n_grp")
      val got = df.select(col("rank"),
        Ranking.ntileExpr("rank", "n_grp", k).as("tile"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val want = df.select(col("rank"),
        ntile(k).over(Window.orderBy(col("rank"))).as("tile"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got == want, s"n=$n k=$k: $got vs $want")
    }
  }

  test("groupedRank equals the per-group sort window, ties included") {
    // deterministic pseudo-random scores with heavy ties (score % 7)
    // across 3 groups of uneven size; bucket = the score itself is
    // trivially monotone, exercising multi-row cells via the ties
    val rows = (1L to 200L).map { i =>
      (if (i % 5 == 0) "a" else if (i % 3 == 0) "b" else "c",
        i, (i * 2654435761L % 7).toDouble)
    }.toDF("g", "id", "score")
    val got = Ranking.groupedRank(rows, Seq("g"),
        col("score").cast("int"), Seq(col("score"), col("id")))
      .select(col("g"), col("id"), col("rank"), col("n_grp"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    val w = Window.partitionBy(col("g")).orderBy(col("score"), col("id"))
    val wn = Window.partitionBy(col("g"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val want = rows
      .select(col("g"), col("id"),
        row_number().over(w).cast("long").as("rank"),
        count(lit(1)).over(wn).as("n_grp"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(got == want)
  }

  test("interpolatedMedian is bit-equal to percentile(v, 0.5, cnt)") {
    // adversarial frequency frames: irrational-ish doubles, heavy
    // ties, even/odd expanded totals, single value, negative values —
    // any last-ulp divergence from the built-in's interpolation
    // breaks the quantile_cont-replay oracle downstream
    val shapes = Seq(
      (1L to 101L).map(i => (math.sqrt(i.toDouble * 7), 1L + i % 3)),
      (1L to 100L).map(i => (math.sqrt(i.toDouble * 7), 1L + i % 3)),
      (1L to 50L).map(i => ((i % 7).toDouble - 3.0, 1L + i % 5)),
      Seq((42.5, 9L)),
      (1L to 64L).map(i => (1.0 / i, 2L))
    )
    shapes.zipWithIndex.foreach { case (rows, ix) =>
      val df = rows.toDF("v", "cnt")
      val want = df.select(expr("percentile(v, 0.5D, cnt)").as("p"))
        .collect().head.getDouble(0)
      val got = Ranking.interpolatedMedian(df, "v", "cnt")
        .collect().head.getDouble(0)
      assert(java.lang.Double.doubleToLongBits(got) ==
        java.lang.Double.doubleToLongBits(want),
        s"shape $ix: got $got want $want")
    }
    // all-NULL / empty column → NULL, like the aggregate
    val empty = Seq((Option.empty[java.lang.Double], 3L)).toDF("v", "cnt")
    assert(Ranking.interpolatedMedian(empty, "v", "cnt")
      .collect().head.isNullAt(0))
  }

  test("groupedRank with no group is the global rank; empty input ok") {
    val rows = (1L to 50L).map(i => (i, (50 - i) / 10)).toDF("id", "v")
    val got = Ranking.groupedRank(rows, Nil, col("v"),
        Seq(col("v"), col("id")))
      .select(col("id"), col("rank")).as[(Long, Long)].collect().toMap
    val want = rows.select(col("id"),
        row_number().over(Window.orderBy(col("v"), col("id"))).cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(got == want && got.size == 50)
    val empty = Ranking.groupedRank(rows.limit(0), Seq("v"), col("id"),
      Seq(col("id")))
    assert(empty.count() == 0)
    assert(empty.columns.toSet ==
      Set("id", "v", "n_grp", "rank"), empty.columns.toSeq)
  }
}
