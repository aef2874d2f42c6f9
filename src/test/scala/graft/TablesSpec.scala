package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** [[Tables.parquet]] infers a table's schema once and reads it with
  * that schema afterwards, and re-infers it when the table changes. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-tables").toString

  /** Spark jobs run by `f`, once the listener bus has delivered them. */
  private def jobsOf(f: => Unit): Int = {
    val log = new KCoreSpec.JobLog
    spark.sparkContext.addSparkListener(log)
    try {
      f
      log.settled().size
    } finally spark.sparkContext.removeSparkListener(log)
  }

  test("a second load of the same table runs no Spark job") {
    val dir = tmp()
    Seq((1L, "a"), (2L, "b")).toDF("r_regionkey", "r_name")
      .write.parquet(s"$dir/region.parquet")
    assert(jobsOf(Tables.region(spark, dir)) >= 1, "the first load infers")
    assert(jobsOf(Tables.region(spark, dir)) == 0)
    val df = Tables.region(spark, dir)
    assert(df.schema == spark.read.parquet(s"$dir/region.parquet").schema)
    assert(df.orderBy("r_regionkey").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b")))
  }

  test("a table rewritten with another schema at the same path is read with the new schema") {
    val path = s"${tmp()}/t.parquet"
    Seq((1, "x")).toDF("a", "b").write.parquet(path)
    assert(Tables.parquet(spark, path).schema.map(_.name) == Seq("a", "b"))
    Seq((2L, 0.5)).toDF("a", "c").write.mode("overwrite").parquet(path)
    val df = Tables.parquet(spark, path)
    assert(df.schema == spark.read.parquet(path).schema)
    assert(df.schema("a").dataType == LongType)
    assert(df.as[(Long, Double)].collect().toSeq == Seq((2L, 0.5)))
  }

  /** A copy of the test resource: parquet written without Spark's
    * schema metadata, so the inference confs shape what is inferred
    * (user_id int64, ts timestamp[ns], tag binary). */
  private def nanosEvents(): String = {
    val dir = tmp()
    Files.copy(Paths.get(getClass.getResource("/events_ts_nanos.parquet").toURI),
      Paths.get(s"$dir/events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    dir
  }

  test("a change of an inference conf infers the schema again") {
    val path = s"${nanosEvents()}/events.parquet"
    assert(Tables.parquet(spark, path).schema("tag").dataType == BinaryType)
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try {
      val df = Tables.parquet(spark, path)
      assert(df.schema("tag").dataType == StringType)
      assert(df.orderBy("user_id").select("tag").as[String].collect().toSeq ==
        Seq("hi", "yo"))
    } finally spark.conf.unset("spark.sql.parquet.binaryAsString")
    assert(Tables.parquet(spark, path).schema("tag").dataType == BinaryType)
  }

  test("both events.ts encodings normalize to a UTC timestamp, cached or not") {
    // timestamp[ns], read as Long nanos under nanosAsLong
    val nanos = nanosEvents()
    // timestamp[us] with isAdjustedToUTC=false, read as TIMESTAMP_NTZ
    val ntz = tmp()
    Seq((1L, "2024-01-01 00:00:00.123456"), (2L, "2024-01-02 00:00:00.000001"))
      .toDF("user_id", "s")
      .select(col("user_id"), to_timestamp_ntz(col("s")).as("ts"))
      .write.parquet(s"$ntz/events.parquet")
    assert(spark.read.parquet(s"$nanos/events.parquet").schema("ts").dataType == LongType)
    assert(spark.read.parquet(s"$ntz/events.parquet").schema("ts").dataType ==
      TimestampNTZType)
    val want = Seq(1L -> "2024-01-01 00:00:00.123456", 2L -> "2024-01-02 00:00:00.000001")
    for (dir <- Seq(nanos, ntz); read <- 1 to 2) {
      val ev = Tables.events(spark, dir)
      assert(ev.schema("ts").dataType == TimestampType, s"$dir read $read")
      val got = ev.orderBy("user_id")
        .select(col("user_id"), date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
        .as[(Long, String)].collect().toSeq
      assert(got == want, s"$dir read $read")
    }
  }
}
