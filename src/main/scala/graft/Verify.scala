package graft
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional extra args = dump only the named queries (local
    // iteration); the driver always invokes with exactly two args and
    // gets the full set.
    val only = args.drop(2).toSet
    require(only.subsetOf(SparkEntry.queries.keySet),
      s"unknown queries: ${(only -- SparkEntry.queries.keySet).mkString(", ")}")
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(only).toMap
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    dump(spark, sfDir, outDir, selected.keys)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val oracles =
      if (only.isEmpty) SparkEntry.oracleSql
      else SparkEntry.oracleSql.view.filterKeys(only).toMap
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Caches.clear()
    spark.stop()
  }

  /** Writes each named query to `<outDir>/<name>` as one parquet file,
    * releasing the query's frames once its write ends; a failing query
    * is reported on stderr and the dump goes on. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           names: Iterable[String]): Unit =
    names.foreach { name =>
      try SparkEntry.queries(name)(spark, sfDir).coalesce(1).write
        .mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally Caches.endQuery()
    }
}
