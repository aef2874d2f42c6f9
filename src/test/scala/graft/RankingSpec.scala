package graft

import scala.jdk.CollectionConverters._

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

  /** The Wilson bound in plain Scala, in the expression's order. */
  private def wilson(s: Long, n: Long, z: Double): Double = {
    val nD = n.toDouble
    val p = s.toDouble / nD
    val z2 = z * z
    (p + z2 / (nD * 2) - z * math.sqrt(p * (1.0 - p) / nD +
      z2 / (nD * nD * 4))) / (1.0 + z2 / nD)
  }

  test("wilsonLower equals the Scala closed form bit for bit, NULL at n = 0") {
    def lb(s: Long, n: Long, z: Double) = Seq((s, n)).toDF("s", "n")
      .select(Ranking.wilsonLower(col("s"), col("n"), z)).head()
    // the last three are counts where a reassociated chain rounds
    // differently in the final bit
    for ((s, n, z) <- Seq((0L, 1L, 1.96), (1L, 2L, 1.96), (90L, 100L, 1.96),
        (3L, 7L, 1.0), (999L, 1000L, 2.576), (5L, 5L, 1.645),
        (123456L, 9876543L, 1.96), (28065L, 668866L, 2.576),
        (76797L, 175556L, 1.0), (951L, 16918L, 1.645))) {
      assert(java.lang.Double.doubleToLongBits(lb(s, n, z).getDouble(0)) ==
        java.lang.Double.doubleToLongBits(wilson(s, n, z)), s"s=$s n=$n z=$z")
    }
    assert(lb(0L, 0L, 1.96).isNullAt(0))
  }

  test("olsMoments equal a Scala left fold in sorted order, bit for bit") {
    // magnitudes far apart make the double sums order-sensitive: any
    // other fold order would change the last bits
    val rnd = new scala.util.Random(11)
    val pts = (1 to 60).map { i =>
      (if (i % 3 == 0) "a" else "b", i.toLong,
        rnd.nextDouble() * math.pow(10, rnd.nextInt(12) - 4),
        rnd.nextGaussian() * math.pow(10, rnd.nextInt(10) - 3))
    }
    val df = rnd.shuffle(pts).toDF("g", "i", "x", "y").repartition(4)
    def fold(ps: Seq[(String, Long, Double, Double)]): Seq[Double] = {
      val s = ps.sortBy(_._2)
      def sum(f: ((String, Long, Double, Double)) => Double) =
        s.foldLeft(0.0)((ac, p) => ac + f(p))
      Seq(s.size.toDouble, sum(_._3), sum(_._4), sum(p => p._3 * p._4),
        sum(p => p._3 * p._3), sum(p => p._4 * p._4))
    }
    def row(r: org.apache.spark.sql.Row, from: Int): Seq[Double] =
      r.getLong(from).toDouble +: (from + 1 to from + 5).map(r.getDouble)
    val point = struct(col("i"), col("x"), col("y"))
    val grouped = Ranking.olsMoments(df, Seq("g"), point,
        _.getField("x"), _.getField("y"))
      .collect().map(r => r.getString(0) -> row(r, 1)).toMap
    assert(grouped.keySet == Set("a", "b"))
    pts.groupBy(_._1).foreach { case (g, ps) =>
      assert(grouped(g).map(java.lang.Double.doubleToLongBits) ==
        fold(ps).map(java.lang.Double.doubleToLongBits), s"group $g")
    }
    val global = Ranking.olsMoments(df, Nil, point,
      _.getField("x"), _.getField("y")).collect()
    assert(global.length == 1)
    assert(row(global(0), 0).map(java.lang.Double.doubleToLongBits) ==
      fold(pts).map(java.lang.Double.doubleToLongBits))
  }

  test("each shared fixed-shape step is written once under src/main") {
    // the session window, the Wilson chain, the OLS fold and the
    // attribution pairing each have one definition; a second copy
    // is a second place to fix
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 20, s"source scan found only ${files.size} files under $root")
    val text = files.map(f => f -> new String(java.nio.file.Files.readAllBytes(f)))
    for (marker <- Seq("""withColumn("new_sess"""", "sqrt(p * (lit(1.0) - p)",
        """aggregate(col("a"), lit(0.0)""", "rangeJoin(purchases, exposures")) {
      val hits = text.flatMap { case (f, t) =>
        Iterator.iterate(t.indexOf(marker))(i => t.indexOf(marker, i + 1))
          .takeWhile(_ >= 0).map(_ => f.getFileName.toString)
      }
      assert(hits.size == 1, s"$marker found in: ${hits.mkString(", ")}")
    }
  }
}
