package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.Sources

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val tmp = Files.createTempDirectory("graft-sources").toString

  test("csv and json round-trip preserves data") {
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "name", "v")
    Sources.writeCsv(df, s"$tmp/csv")
    val back = Sources.csv(spark, s"$tmp/csv").orderBy("id")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2)))
    assert(back.toSeq == Seq((1, "a", 1.5), (2, "b", 2.5)))
  }

  test("partitioned write prunes partitions on read") {
    val df = Seq((1L, "2024-01-01", 1.0), (2L, "2024-01-02", 2.0),
      (3L, "2024-01-02", 3.0)).toDF("id", "date", "v")
    Sources.writePartitioned(df, s"$tmp/part", Seq("date"))
    // partition dirs exist
    assert(new java.io.File(s"$tmp/part/date=2024-01-01").exists())
    val read = Sources.parquet(spark, s"$tmp/part").where(col("date") === "2024-01-02")
    assert(read.count() == 2)
    // the filter must reach the scan as a partition filter (pruning)
    val scan = read.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("date#"), scan)
  }

  test("a hive-partitioned read through the schema resolver equals a plain read") {
    val df = Seq((1L, "2024-01-01", 3, 1.0), (2L, "2024-01-02", 4, 2.0),
      (3L, "2024-01-02", 3, 3.0)).toDF("id", "date", "hour", "v")
    Sources.writePartitioned(df, s"$tmp/hive", Seq("date", "hour"))
    val plain = spark.read.parquet(s"$tmp/hive")
    // twice: the second read takes the resolver's remembered schema
    (1 to 2).foreach { i =>
      val read = Sources.parquet(spark, s"$tmp/hive")
      assert(read.schema == plain.schema, s"read $i")
      assert(read.orderBy("id").collect().toSeq == plain.orderBy("id").collect().toSeq,
        s"read $i")
    }
  }

  test("jdbc round-trip against embedded Derby") {
    val url = "jdbc:derby:memory:graftdb;create=true"
    val props = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5)).toDF("id", "name", "v")
    Sources.writeJdbc(df, url, "graft_rt", props)
    val back = Sources.jdbc(spark, url, "graft_rt", props).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(back.toSeq == Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5)))
    // pushdown-subquery form + range-partitioned parallel read
    val part = Sources.jdbc(spark, url,
      "(SELECT * FROM graft_rt WHERE \"id\" > 1) t", props,
      partitionColumn = Some(("id", 1L, 4L, 2)))
    assert(part.rdd.getNumPartitions == 2)
    assert(part.count() == 2)
  }

  test("publishTable registers an overwritable partitioned catalog table") {
    val df = Seq((1L, "2024-01-01", 1.0), (2L, "2024-01-02", 2.0),
      (3L, "2024-01-02", 3.0)).toDF("id", "date", "v")
    Sources.publishTable(df, "graft_pub", Seq("date"))
    assert(spark.catalog.tableExists("graft_pub"))
    assert(spark.table("graft_pub").count() == 3)
    // overwrite on re-publish (the per-run refresh the reference does)
    Sources.publishTable(df.where(col("id") =!= 1L), "graft_pub", Seq("date"))
    assert(spark.table("graft_pub").count() == 2)
    // a date filter prunes to one partition on the table read
    val read = spark.table("graft_pub").where(col("date") === "2024-01-02")
    val scan = read.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters"), scan)
  }

  test("orc round-trips and pushes filters to the scan") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft-orc").toString
    val df = Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
    Sources.writeOrc(df, s"$dir/li")
    val back = Sources.orc(spark, s"$dir/li")
    assert(back.count() == df.count())
    assert(back.schema == df.schema)
    // predicate pushdown must reach the ORC scan like parquet
    val scan = back.where(col("l_returnflag") === "R")
      .queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters") && scan.contains("l_returnflag"),
      scan.take(500))
  }

  test("json-lines sink round-trips rows") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft-json").toString
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    Sources.writeJson(df, s"$dir/j")
    val back = Sources.json(spark, s"$dir/j")
    assert(back.count() == 2 &&
      back.collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("v")))
        .toSet == Set((1L, "a"), (2L, "b")))
  }

  test("publishWorkbook writes one csv per sheet plus a manifest") {
    import java.nio.file.{Files, Paths}
    val out = Files.createTempDirectory("graft-workbook").toString
    val reach = Seq(("tv", 10L), ("web", 7L)).toDF("value", "count")
    val freq = Seq((1, 5L), (2, 3L)).toDF("frequency", "hh")
    Sources.publishWorkbook(spark, Seq("reach" -> reach, "frequency" -> freq), out)
    assert(Sources.csv(spark, s"$out/reach").count() == 2)
    assert(Sources.csv(spark, s"$out/frequency").count() == 2)
    val manifest = new String(
      Files.readAllBytes(Paths.get(out, "_manifest.json")), "UTF-8")
    assert(manifest.indexOf("\"reach\"") >= 0 &&
      manifest.indexOf("\"reach\"") < manifest.indexOf("\"frequency\""))
    intercept[IllegalArgumentException] {
      Sources.publishWorkbook(spark, Seq("a" -> reach, "a" -> freq), out)
    }
  }

  test("publishWorkbook emits a real xlsx that round-trips sheets and cells") {
    import java.nio.file.{Files, Paths}
    import java.util.zip.ZipFile
    import javax.xml.parsers.DocumentBuilderFactory
    val out = Files.createTempDirectory("graft-xlsx").toString
    val reach = Seq(("tv", 10L), ("web", 7L)).toDF("value", "count")
    val freq = Seq((1, 5L), (2, 3L)).toDF("frequency", "hh")
    Sources.publishWorkbook(spark, Seq("reach" -> reach, "frequency" -> freq), out)
    val zf = new ZipFile(Paths.get(out, "workbook.xlsx").toFile)
    try {
      def xml(p: String) = {
        val e = zf.getEntry(p)
        assert(e != null, s"missing xlsx part $p")
        DocumentBuilderFactory.newInstance().newDocumentBuilder()
          .parse(zf.getInputStream(e))
      }
      // workbook part names the sheets in publish order
      val sheets = xml("xl/workbook.xml").getElementsByTagName("sheet")
      val names = (0 until sheets.getLength).map(i =>
        sheets.item(i).getAttributes.getNamedItem("name").getNodeValue)
      assert(names == Seq("reach", "frequency"))
      // sheet 1: header text cells + a real numeric cell value
      val s1 = xml("xl/worksheets/sheet1.xml")
      val texts = s1.getElementsByTagName("t")
      val textVals = (0 until texts.getLength).map(i =>
        texts.item(i).getTextContent)
      assert(textVals.take(2) == Seq("value", "count"))
      assert(textVals.contains("tv") && textVals.contains("web"))
      val nums = s1.getElementsByTagName("v")
      val numVals = (0 until nums.getLength).map(i =>
        nums.item(i).getTextContent)
      assert(numVals.toSet == Set("10", "7"),
        s"numeric cells should carry real numbers, got $numVals")
    } finally zf.close()
    // Excel sheet-name rules enforced, not silently truncated
    intercept[IllegalArgumentException] {
      Sources.publishWorkbook(spark, Seq("bad[name]" -> reach), out)
    }
  }

  test("publishWorkbook appends to an existing workbook, replacing by name") {
    import java.nio.file.{Files, Paths}
    val out = Files.createTempDirectory("graft-xlsx-append").toString
    val reach = Seq(("tv", 10L), ("web", 7L)).toDF("value", "count")
    val freq = Seq((1, 5L), (2, 3L)).toDF("frequency", "hh")
    val reach2 = Seq(("tv", 11L)).toDF("value", "count")
    // publish A, then B: workbook holds both in publish order
    Sources.publishWorkbook(spark, Seq("reach" -> reach), out)
    Sources.publishWorkbook(spark, Seq("frequency" -> freq), out)
    def readBack() = {
      val in = Files.newInputStream(Paths.get(out, "workbook.xlsx"))
      try sources.Xlsx.read(in) finally in.close()
    }
    val merged = readBack()
    assert(merged.map(_._1) == Seq("reach", "frequency"))
    assert(merged.head._2 == Seq("value", "count"))
    assert(merged.head._3 == Seq(
      Seq(Right("tv"), Left(10.0)), Seq(Right("web"), Left(7.0))))
    // manifest lists the merged order, and the first publish's csv
    // is still readable at its manifest path
    val manifest = new String(
      Files.readAllBytes(Paths.get(out, "_manifest.json")), "UTF-8")
    assert(manifest.indexOf("\"reach\"") >= 0 &&
      manifest.indexOf("\"reach\"") < manifest.indexOf("\"frequency\""))
    assert(Sources.csv(spark, s"$out/reach").count() == 2)
    // re-publishing an existing name replaces that sheet IN PLACE
    Sources.publishWorkbook(spark, Seq("reach" -> reach2), out)
    val replaced = readBack()
    assert(replaced.map(_._1) == Seq("reach", "frequency"))
    assert(replaced.head._3 == Seq(Seq(Right("tv"), Left(11.0))))
    assert(replaced(1)._3 == Seq(
      Seq(Left(1.0), Left(5.0)), Seq(Left(2.0), Left(3.0))))
    // a failed publish (invalid sheet name) must NOT destroy the
    // existing workbook it was appending to
    intercept[IllegalArgumentException] {
      Sources.publishWorkbook(spark, Seq("bad[name]" -> reach), out)
    }
    assert(readBack().map(_._1) == Seq("reach", "frequency"))
  }

  test("makeMap: friendly mapping falls back to dimension id/name") {
    val ka = Seq((1L, "part_id", "TYPE", "B1"), (2L, "part_id", "TYPE", "B2"))
      .toDF("id", "id_type", "key", "value")
    val dm = Seq(("partid", 1L, "dig", 101L), ("partid", 99L, "dig", 199L))
      .toDF("dimension", "label", "etype", "id")
    val m = operators.ValueMapping.makeMap(ka, dm)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[String]("key"), r.getAs[Long]("val_id"))).toMap
    assert(m(101L) == (("type", 1L)))      // matched: normalized ka key
    assert(m(199L) == (("partid", 199L)))  // unmatched: falls back to dim/id
  }

  test("compact rewrites a fragmented directory into few files, same rows") {
    import graft.sources.Sources
    val dir = java.nio.file.Files.createTempDirectory("graft-compact").toString
    // 40 tiny files
    spark.range(0, 4000).selectExpr("id", "id * 2 AS v")
      .repartition(40).write.mode("overwrite").parquet(dir)
    def files = new java.io.File(dir).listFiles
      .count(f => f.getName.endsWith(".parquet"))
    assert(files >= 40)
    val n = Sources.compact(spark, dir, targetFileMB = 128)
    assert(n == 1 && files == 1, "tiny table compacts to one file")
    val back = spark.read.parquet(dir)
    assert(back.count() == 4000)
    assert(back.agg(org.apache.spark.sql.functions.sum("v")).head.getLong(0)
      == 2L * 4000 * 3999 / 2)
    assert(!new java.io.File(dir + "._compact_tmp").exists, "tmp dir swapped away")
  }

  test("compact survives a trailing-slash dir (temp is a sibling, not a child)") {
    import graft.sources.Sources
    val dir = java.nio.file.Files.createTempDirectory("graft-compact2").toString
    spark.range(0, 100).repartition(8).write.mode("overwrite").parquet(dir)
    // a trailing-slash path used to nest the temp dir INSIDE the
    // source, so the pre-swap delete destroyed the fresh output
    val n = Sources.compact(spark, dir + "/", targetFileMB = 128)
    assert(n == 1)
    assert(spark.read.parquet(dir).count() == 100, "table intact after swap")
    assert(!new java.io.File(dir + "._compact_old").exists, "backup cleaned")
  }
}
