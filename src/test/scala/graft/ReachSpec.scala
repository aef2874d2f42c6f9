package graft

import graft.operators.Reach
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}

/** [[Reach.reachCount]] and [[Reach.reachByDimensions]] against the
  * per-dimension pipelines they replaced: the stacked pass must give
  * the same schema and the same rows in the same order. */
class ReachSpec extends SparkSpec {
  import spark.implicits._

  /** Schema and rows of `got` and `want`, with the first difference
    * named. */
  private def diff(got: DataFrame, want: DataFrame): Option[String] = {
    val (g, w) = (got.collect().toSeq, want.collect().toSeq)
    if (got.schema != want.schema) Some(s"schema ${got.schema} vs ${want.schema}")
    else if (g != w) Some(s"${g.size} vs ${w.size} rows, first difference " +
      g.zipAll(w, null, null).find { case (a, b) => a != b })
    else None
  }

  private def multi(df: DataFrame, dims: Seq[String], proj: Option[String]) =
    diff(Reach.reachByDimensions(df, "household_id", dims, proj),
      ReachSpec.reachByDimensions(df, "household_id", dims, proj))

  private def single(df: DataFrame, dim: Option[String], proj: Option[String]) =
    diff(Reach.reachCount(df, "household_id", dim, proj),
      ReachSpec.reachCount(df, "household_id", dim, proj))

  // (household_id, etype, week_s, n, day, projfact): household 3 has a
  // null etype, household 4 only nulls; projfact is per household
  private lazy val panel = Seq(
    (1L, Some("tv"), Some("2024-01-01"), Some(1), Some("2024-01-01"), 2.0),
    (1L, Some("tv"), Some("2024-01-01"), Some(1), Some("2024-01-01"), 2.0),
    (1L, Some("web"), Some("2024-01-08"), Some(2), Some("2024-01-02"), 2.0),
    (2L, Some("tv"), Some("2024-01-08"), Some(2), Some("2024-01-02"), 3.0),
    (2L, Some("web"), None, Some(3), None, 3.0),
    (3L, None, Some("2024-01-15"), None, Some("2024-01-03"), 1.0),
    (3L, Some("web"), Some("2024-01-15"), Some(3), Some("2024-01-03"), 1.0),
    (4L, None, None, None, None, 5.0)
  ).toDF("household_id", "etype", "week_s", "n", "day_s", "projfact")
    .withColumn("day", to_date(col("day_s")))

  test("stacked reach equals the per-dimension union on a fixed panel") {
    val cases = Seq(
      "strings with nulls" -> (Seq("etype", "week_s"), Some("projfact")),
      "int dimension" -> (Seq("etype", "n"), Some("projfact")),
      "date dimension" -> (Seq("day", "week_s"), Some("projfact")),
      "no projection" -> (Seq("etype", "week_s", "n"), None),
      "one dimension" -> (Seq("day"), Some("projfact")))
    cases.foreach { case (name, (dims, proj)) =>
      val d = multi(panel, dims, proj)
      assert(d.isEmpty, s"$name: ${d.mkString}")
    }
    Seq(None, Some("etype"), Some("n"), Some("day")).foreach { dim =>
      Seq(None, Some("projfact")).foreach { proj =>
        val d = single(panel, dim, proj)
        assert(d.isEmpty, s"reachCount($dim, $proj): ${d.mkString}")
      }
    }
  }

  test("floating-point dimensions: -0.0 groups with 0.0 and NaN is dropped") {
    val df = Seq(
      (1L, Some(0.0), Some(1.5f)), (1L, Some(-0.0), Some(-0.0f)),
      (2L, Some(-0.0), Some(Float.NaN)), (2L, Some(Double.NaN), None),
      (3L, None, Some(0.0f)), (3L, Some(1.5), Some(1.5f))
    ).toDF("household_id", "x", "y").withColumn("projfact", lit(1.0))
    assert(multi(df, Seq("x", "y"), Some("projfact")).isEmpty)
    val r = Reach.reachCount(df, "household_id", Some("x"), None)
      .select("value").as[String].collect().toSet
    assert(r == Set("0.0", "1.5"))
  }

  test("a dimension with no one-to-one string form is rejected by name") {
    val df = Seq((1L, Array[Byte](1, 2))).toDF("household_id", "b")
    val e = intercept[IllegalArgumentException](
      Reach.reachByDimensions(df, "household_id", Seq("b"), None))
    assert(e.getMessage.contains("reach dimension b has type binary"))
  }

  test("reachCount feeds the pass a plain projection: no Generate") {
    val one = Reach.reachCount(panel, "household_id", Some("etype"), None)
      .queryExecution.optimizedPlan
    assert(one.collect { case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g }
      .isEmpty, one)
  }

  test("stacked reach equals the per-dimension union on random panels") {
    val row = for {
      hh <- Gen.choose(1L, 6L)
      a <- Gen.option(Gen.oneOf("tv", "web", "radio"))
      b <- Gen.option(Gen.choose(0, 3))
      c <- Gen.option(Gen.oneOf(-0.0, 0.0, 2.5, Double.NaN))
    } yield (hh, a, b, c, (hh % 3 + 1).toDouble)
    val dims = Gen.oneOf(Seq("a"), Seq("a", "b"), Seq("b", "c", "a"))
    val prop = Prop.forAllNoShrink(Gen.listOf(row), dims, Gen.oneOf(None, Some("w"))) {
      (rows, ds, proj) =>
        val df = rows.toDF("household_id", "a", "b", "c", "w")
        val d = multi(df, ds, proj)
        Prop(d.isEmpty) :| s"rows=$rows dims=$ds proj=$proj: $d"
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(25)
      .withInitialSeed(20261019L), prop)
    assert(res.passed, res.status.toString)
  }

  test("the household key's table equals the reference on sf0.001") {
    val media = Tables.media(spark, sf("events"))
      .withColumn("week_s", col("week").cast("string"))
    assert(multi(media, Seq("etype", "week_s"), Some("projfact")).isEmpty)
    assert(single(media, None, Some("projfact")).isEmpty)
  }
}

object ReachSpec {

  /** The per-dimension pipeline the stacked pass replaced: distinct
    * (cntCol, dim) pairs plus `unique` = 1.0 if the cntCol entity has
    * exactly one distinct dim value, else 0.0
    * (hh_reach.add_uniq_col). */
  def addUniqCol(df: DataFrame, cntCol: String, dim: String): DataFrame = {
    val dd = df.na.drop(Seq(dim)).dropDuplicates(cntCol, dim)
    val w = Window.partitionBy(cntCol)
    dd.withColumn(
      "unique",
      when(count(lit(1)).over(w) > 1, lit(0.0)).otherwise(lit(1.0)))
  }

  /** One dimension's reach table (hh_reach.reach_count). */
  def reachCount(df: DataFrame, cntCol: String, dimOpt: Option[String],
                 projOpt: Option[String]): DataFrame = {
    val (proj, df0) = projOpt match {
      case Some(p) => (p, df)
      case None => ("projfact", df.withColumn("projfact", lit(1.0)))
    }
    val (dim, df1) = dimOpt match {
      case Some(d) => (d, df0.na.drop(Seq(d)))
      case None => ("all", df0.withColumn("all", lit("")))
    }
    addUniqCol(df1, cntCol, dim)
      .groupBy(col(dim))
      .agg(
        round(sum(col(proj))).as("count"),
        round(sum(col("unique") * col(proj))).as("unique"))
      .withColumn("duplicates", col("count") - col("unique"))
      .select(
        lit(dim).as("dimension"),
        col(dim).cast("string").as("value"),
        col("count"),
        col("unique"),
        col("duplicates"))
      .orderBy(desc("count"), asc("value"))
  }

  /** One reach frame per dimension, unioned. */
  def reachByDimensions(df: DataFrame, cntCol: String, dims: Seq[String],
                        proj: Option[String]): DataFrame =
    dims.map(d => reachCount(df, cntCol, Some(d), proj))
      .reduce(_.unionAll(_))
      .orderBy(asc("dimension"), desc("count"), asc("value"))
}
