package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Source/sink surface of the engine. The reference reads Hive tables
  * and Redshift via SQL (dataQA/dailyConnection.py:1-14, tasks'
  * hc.table) and writes Hive tables + csv exports
  * (metrics/helpers/pdf_to_table_excel.py). The Spark-native analog:
  * columnar parquet as the primary format, csv/json for interchange,
  * a JDBC reader for the warehouse-connection path, hive-style
  * partitioned writes so downstream scans prune on the partition key,
  * and catalog-table publishing for downstream SQL consumers.
  */
object Sources {

  def parquet(spark: SparkSession, path: String): DataFrame =
    graft.Tables.parquet(spark, path)

  def csv(spark: SparkSession, path: String, header: Boolean = true): DataFrame =
    spark.read.option("header", header.toString).option("inferSchema", "true").csv(path)

  def json(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  /** ORC source/sink — the Hive-native columnar format the
    * reference's warehouse tables (hc.table) actually live in.
    * Spark's ORC reader pushes predicates and prunes columns exactly
    * like parquet (SourcesSpec pins the pushdown reaching the scan);
    * parquet stays the engine's primary format, ORC is the
    * interchange path for Hive-era estates. (Avro would be the row
    * format counterpart, but the spark-avro connector isn't on this
    * classpath — zero-egress environment.) */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** JSON-lines sink (one object per row) — the interchange format
    * for downstream tools that speak neither parquet nor ORC. */
  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Small-files compaction: rewrite a parquet directory into
    * ~`targetFileMB`-sized files. Streaming micro-batches, per-day
    * incremental appends and over-parallel writers all leave thousands
    * of KB-scale files whose open/footer overhead eventually dominates
    * scans (the classic small-files problem); compaction is the
    * housekeeping pass every long-lived 100 TB table needs. File count
    * = ceil(on-disk bytes / target) from the real file sizes (parquet
    * encoding is preserved, so on-disk size is the honest estimate);
    * the rewrite is one coalesce — no shuffle, each output task
    * concatenates whole input splits — and lands in a temp dir first
    * so a mid-rewrite crash never destroys the source (the swap is
    * the only non-atomic step — on rename-as-copy object stores run
    * compaction against a snapshot/staging prefix instead). FLAT
    * directories only: reading a hive-partitioned tree would lift the
    * partition columns into the data and write them back flattened —
    * compact each leaf partition directory instead.
    * Returns the output file count. */
  def compact(spark: SparkSession, dir: String,
              targetFileMB: Int = 128): Int = {
    require(targetFileMB > 0, s"targetFileMB must be positive")
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(path).getLength
    val nFiles = math.max(1,
      math.ceil(bytes.toDouble / (targetFileMB * 1024L * 1024L)).toInt)
    // Temp and backup dirs are SIBLINGS derived via the Path API — a
    // string-concat temp path with a trailing-slash `dir` becomes a
    // CHILD of the source, and the old delete-the-source step would
    // then delete the freshly-written output before the rename.
    val parent = path.getParent
    val tmp = new org.apache.hadoop.fs.Path(parent, path.getName + "._compact_tmp")
    val old = new org.apache.hadoop.fs.Path(parent, path.getName + "._compact_old")
    fs.delete(tmp, true) // stale leftovers from a prior crash
    fs.delete(old, true)
    parquet(spark, dir).coalesce(nFiles)
      .write.mode("overwrite").parquet(tmp.toString)
    // Rename the source ASIDE (not delete-first): if the swap-in fails
    // the source is restored, so there is no window where the table is
    // absent at its path with no copy anywhere.
    if (!fs.rename(path, old))
      throw new java.io.IOException(s"compact: rename $path -> $old failed")
    if (!fs.rename(tmp, path)) {
      fs.rename(old, path)
      throw new java.io.IOException(s"compact: rename $tmp -> $path failed (source restored)")
    }
    fs.delete(old, true)
    nFiles
  }

  /** Hive-style partitioned parquet write. At 100 TB the partition
    * column is the pruning key (e.g. date) — readers with a filter on
    * it scan only matching directories. */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** JDBC table/query source — the engine's analog of the reference's
    * live warehouse connection (dailyConnection.py builds one psycopg2
    * conn that every pd.read_sql shares). `table` may be a table name
    * or a `(SELECT …) alias` pushdown subquery. When `partitionColumn`
    * bounds are given the read is split into `numPartitions` parallel
    * range-bounded queries — without them a JDBC scan is a single
    * task, which at warehouse scale means one executor doing all the
    * I/O. */
  def jdbc(spark: SparkSession, url: String, table: String,
           properties: Map[String, String] = Map.empty,
           partitionColumn: Option[(String, Long, Long, Int)] = None): DataFrame = {
    val base = spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .options(properties)
    partitionColumn.fold(base) { case (colName, lower, upper, n) =>
      base.option("partitionColumn", colName)
        .option("lowerBound", lower)
        .option("upperBound", upper)
        .option("numPartitions", n)
    }.load()
  }

  /** JDBC sink (the reference's table write-back path). */
  def writeJdbc(df: DataFrame, url: String, table: String,
                properties: Map[String, String] = Map.empty,
                mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .options(properties)
      .mode(mode)
      .save()

  /** Publish a result as a catalog table (the analog of the
    * reference's pdf_to_table_excel Hive publishing,
    * create_hh_metrics_task.py:70-71): parquet-backed managed table,
    * optionally partitioned, overwritten per run so downstream SQL
    * reads the current round. */
  def publishTable(df: DataFrame, name: String,
                   partitionCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite).format("parquet")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .saveAsTable(name)
  }

  /** Publish a SET of result frames as one artifact — the engine
    * analog of the reference's shared xlsx workbook
    * (metrics/helpers/pdf_to_table_excel.py:16-32 writes every metrics
    * table as a sheet of one workbook, used at
    * create_hh_metrics_task.py:70-71). Emits BOTH surfaces:
    *  - a real multi-sheet `workbook.xlsx` (via [[Xlsx]], zero
    *    dependencies) — the artifact the reference's consulting
    *    consumer actually opens;
    *  - one single-header csv per "sheet" plus a `_manifest.json`
    *    naming the sheets in publish order — the machine-readable
    *    interchange downstream jobs consume instead of globbing.
    * Incremental: if `workbook.xlsx` already exists at `path` it is
    * loaded and the new sheets MERGED in (replace-by-name in place,
    * new names appended) — the reference's load_workbook append
    * behavior (pdf_to_table_excel.py:25-29).
    * The xlsx path collects each sheet to the driver BY DESIGN (and
    * caps at [[Xlsx.MaxRows]], Excel's own ceiling): workbook sheets
    * are human-audience small tables (metrics summaries), never fact
    * data — publish fact-sized frames with [[writePartitioned]].
    * Numeric columns become real numeric cells (bigints beyond 2^53
    * would round — metrics summaries never carry them); everything
    * else is rendered as inline text, NULL as empty. */
  def publishWorkbook(spark: SparkSession,
                      sheets: Seq[(String, DataFrame)], path: String): Unit = {
    import org.apache.hadoop.fs.Path
    require(sheets.map(_._1).distinct.size == sheets.size,
      s"duplicate sheet names: ${sheets.map(_._1).mkString(", ")}")
    sheets.foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite")
        .option("header", "true").csv(s"$path/$name")
    }
    val xlsxSheets = sheets.map { case (name, df) =>
      import org.apache.spark.sql.types._
      val numeric = df.schema.fields.map(_.dataType match {
        case _: NumericType => true
        case _ => false
      })
      val rows = df.collect().toSeq.map { row =>
        row.toSeq.zipWithIndex.map { case (v, i) =>
          val cell: Xlsx.Cell =
            if (v == null) Right("")
            else if (numeric(i)) Left(v.asInstanceOf[Number].doubleValue())
            else Right(v.toString)
          cell
        }
      }
      (name, df.columns.toSeq, rows)
    }
    val xlsxTarget = new Path(path, "workbook.xlsx")
    val xfs = xlsxTarget.getFileSystem(spark.sessionState.newHadoopConf())
    // Reference semantics (pdf_to_table_excel.py:25-29): an existing
    // workbook is LOADED and the new sheets merged in — same name
    // replaces that sheet in place, new names append in publish
    // order — so incremental runs accumulate one workbook instead of
    // each run clobbering the last. Republishing is idempotent.
    val existing =
      if (xfs.exists(xlsxTarget)) {
        val in = xfs.open(xlsxTarget)
        try Xlsx.read(in) finally in.close()
      } else Seq.empty
    val newByName = xlsxSheets.map(s => s._1 -> s).toMap
    val merged = existing.map(s => newByName.getOrElse(s._1, s)) ++
      xlsxSheets.filterNot(s => existing.exists(_._1 == s._1))
    // serialize BEFORE truncating the target: a sheet-name/row-limit
    // validation failure inside Xlsx.write must not destroy the
    // existing workbook it was meant to append to
    val buf = new java.io.ByteArrayOutputStream()
    Xlsx.write(merged, buf)
    val xout = xfs.create(xlsxTarget, true)
    try xout.write(buf.toByteArray) finally xout.close()
    // JSON string escape — a sheet name with a quote/backslash/control
    // char would otherwise produce a manifest no parser accepts,
    // breaking the read-the-manifest contract above
    def jq(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // manifest lists the MERGED workbook order — retained sheets'
    // csv dirs from earlier publishes are still on disk at
    // `path/<name>`, so the manifest contract (every listed sheet
    // readable at its path) holds across incremental runs
    val manifest = merged.map { case (name, _, _) =>
      s"""{"sheet": ${jq(name)}, "path": ${jq(name)}}"""
    }.mkString("[\n  ", ",\n  ", "\n]")
    val target = new Path(path, "_manifest.json")
    val fs = target.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(target, true)
    try out.write(manifest.getBytes("UTF-8")) finally out.close()
  }
}
