package graft

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Table loaders over the driver-generated parquet testdata, plus the
  * derived "media" view that maps the generic `events` table onto the
  * reference's exposure-log schema (see SURVEY.md §3; reference schema
  * usage: /root/reference/metrics/helpers/make_media.py:27-46).
  *
  * `projfact` is a deterministic synthetic projection factor
  * (`1 + user_id % 7`, integer-valued double) so that all
  * projection-weighted sums are exact in IEEE double and identical in
  * the DuckDB oracles regardless of summation order.
  */
object Tables {

  /** Parquet read confs that change the schema Spark infers from a
    * footer: the same files read under other values of these infer
    * other types. */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  /** What a schema was inferred from: (name, length, modification
    * time) of every file under the path, and the values of
    * [[InferenceConfs]]. */
  private type Stamp = (Seq[(String, Long, Long)], Seq[Option[String]])

  /** The last inferred schema per path, with its stamp. */
  private val schemas = mutable.Map[String, (Stamp, StructType)]()

  /** The schema of the parquet data at `path`, inferred once per
    * (path, files, inference confs) and then served from memory.
    * Spark's schema inference runs a job on every `spark.read.parquet`,
    * and the household queries read the same few tables on every pass:
    * a traced warm pass of them ran 5 eager jobs before this cache and
    * 2 with it. A table rewritten at its
    * path lists other files and is inferred again, and so is a session
    * whose inference confs changed. None for a path that is not there
    * as given (a glob, a missing path): Spark resolves and reports
    * those itself. */
  private def parquetSchema(spark: SparkSession, path: String): Option[StructType] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a plain listStatus walk: `listFiles` builds LocatedFileStatus,
    // whose permission fields make the local file system stat every
    // file again (about 0.2 s of construction per read of a 64-file
    // ScaleUp table)
    def files(st: FileStatus): Seq[(String, Long, Long)] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(files)
      else Seq((st.getPath.toString, st.getLen, st.getModificationTime))
    if (!fs.exists(p)) None
    else {
      val stamp: Stamp = (files(fs.getFileStatus(p)).sorted,
        InferenceConfs.map(spark.conf.getOption))
      synchronized(schemas.get(path)).collect { case (`stamp`, s) => s }
        .orElse {
          val s = spark.read.parquet(path).schema
          synchronized(schemas(path) = (stamp, s))
          Some(s)
        }
    }
  }

  /** The one parquet reader: `spark.read.parquet(path)` with the
    * schema from [[parquetSchema]], so only the first read of a table
    * pays Spark's inference job. The schemas are metadata, not
    * persisted frames: [[Caches.clear]] leaves them, because a table's
    * schema does not change with the run that reads it, and a changed
    * table is caught by its file stamp. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    parquetSchema(spark, path).fold(spark.read.parquet(path))(
      spark.read.schema(_).parquet(path))

  /** The `name` table of a testdata directory. Every `Tables` loader,
    * and so every query key, reads through here ([[parquet]]). */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  /** The driver has shipped `events.ts` in two parquet encodings:
    * timestamp[ns] (read as Long under
    * `spark.sql.legacy.parquet.nanosAsLong=true`, set by
    * [[GraftSession]]) and timestamp[us] with isAdjustedToUTC=false
    * (read as TIMESTAMP_NTZ). Normalize both to a session-TZ
    * TIMESTAMP: the engine's temporal operators use
    * `unix_micros`/watermarks, which require the LTZ type. The session
    * runs in UTC, so the NTZ→LTZ cast preserves wall-clock instants
    * bit-for-bit (and matches DuckDB, which reads the same column as a
    * naive timestamp). The nanos path divides with integer `div` (ns
    * since epoch exceeds 2^53, so double division would lose
    * precision). */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")

  /** Documents with a PARALLELISM FLOOR — for the regex/shingle-heavy
    * SINGLE-PASS operators only (quality scoring + filter, repetition,
    * language ID, PII redaction, the jaccard/containment index
    * build). The
    * testdata ships one single-row-group parquet file, and parquet
    * can't split below a row group, so those operators' row-local CPU
    * (the engine's heaviest) would serialize on 1 core of 32 until
    * the first shuffle; when the scan yields fewer partitions than
    * cores, redistribute once. At real scale a 100 TB corpus arrives
    * as thousands of row groups and this is a no-op.
    *
    * Deliberately NOT the default documents loader: the floor's
    * upfront full-text exchange costs ~0.3 s at sf0.1, so the ~40
    * lighter documents queries would pay more in shuffle tax than
    * they win in parallelism (measured: global floor moved the
    * 84-query bench 61.8 s → 66.2 s, while these single-pass CPU
    * operators individually won 30–40%). Hash-gate-safe where
    * applied: each floored operator emits row-local columns or
    * integer aggregates, so results are independent of partitioning. */
  def documentsFloored(s: SparkSession, d: String): DataFrame = {
    val raw = documents(s, d)
    val cores = s.sparkContext.defaultParallelism
    val scanParts = raw.rdd.getNumPartitions
    if (scanParts >= cores) raw
    else {
      // SIZE-adaptive floor (round 14): one partition per FLOOR_MB of
      // compressed input, capped at the core count — not one per core.
      // A flat `repartition(cores)` 32-tasks kilobyte corpora: at
      // sf0.1 (0.6 MB parquet) every floored operator paid 32 task
      // launches plus a 32×32 shuffle-file matrix to parallelize
      // ~46 KB/task of text, measured as the round-13 32-core inverse
      // scaling (q_chunks 8c/32c ratio 0.27). Deriving the count from
      // bytes keeps per-task CPU real, reaches full fan-out exactly
      // when the data can feed it, and stays a no-op at real scale
      // where thousands of row groups already out-partition the
      // cores. Default 0.125 MB compressed (~0.3 MB raw text,
      // ~50-200 ms of single-pass CPU per task) from the round-14
      // A/B at sf0.1/32c: 0.125 beat both 0.25 (q_ngram_jaccard 1.95
      // vs 3.08 s, q_quality_filter 0.78 vs 1.15 s) and the old
      // per-core floor (q_chunks 0.77 → 0.52 s, q_ngram_jaccard
      // 2.74 → 1.95 s); the knob only ever applies below
      // cores × 0.125 MB of input, so a cluster deployment never
      // sees it.
      val floorBytes = 0.125 * 1024 * 1024
      val bytes = raw.queryExecution.optimizedPlan.stats.sizeInBytes
      val want = math.ceil(bytes.toDouble / floorBytes).toInt
      val target = math.min(cores, math.max(scanParts, want))
      if (target > scanParts) raw.repartition(target) else raw
    }
  }
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Exposure-log view of `events` in the reference's media schema:
    * household_id, etype, date, week, projfact (+ passthrough cols).
    * Column pruning still reaches the scan because this is a pure
    * projection. */
  def media(s: SparkSession, d: String): DataFrame =
    events(s, d).select(
      col("user_id").as("household_id"),
      col("event_type").as("etype"),
      to_date(col("ts")).as("date"),
      date_trunc("week", col("ts")).cast("date").as("week"),
      (lit(1.0) + (col("user_id") % 7).cast("double")).as("projfact"),
      col("value"),
      col("ts"),
      col("event_id"))
}
