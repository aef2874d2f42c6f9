package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.keys._
import graft.operators.Analytics

/** Driver contract — see SURVEY.md §2 for the inventory. Every query
  * key is declared once, in its family's registry under `graft.keys`
  * ([[graft.keys.Key]]), with a same-named DuckDB oracle or the reason
  * it is a rows-only slot. Column names/types are aligned between both
  * sides (the driver's compare sorts columns by name and hashes
  * values). This object concatenates the registries.
  */
object SparkEntry {

  /** The registries, in bench order. */
  private[graft] val families: Seq[Family] = Seq(CommerceKeys,
    HouseholdKeys, QualityKeys, TextKeys, CurationKeys, NearDupKeys,
    VectorKeys, EventKeys, GraphKeys)

  /** Every key of `families` in declaration order. A `Map` keeps the
    * last of two same-named entries without a word, so a key declared
    * twice, in one family or two, fails here with its declarers. */
  private[graft] def declared(families: Seq[Family]): Seq[Key] = {
    val all = families.flatMap(f => f.keys.map(f.name -> _))
    val twice = all.groupBy(_._2.name).collect {
      case (k, ds) if ds.size > 1 => s"$k (${ds.map(_._1).mkString(", ")})"
    }
    if (twice.nonEmpty) throw new IllegalArgumentException(
      s"query key declared more than once: ${twice.toSeq.sorted.mkString("; ")}")
    all.map(_._2)
  }

  val registry: Seq[Key] = declared(families)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(k => k.name -> k.build).toMap

  /** Built on first read: the query path builds no oracle text. */
  lazy val oracleSql: Map[String, String] =
    registry.collect { case Key(n, _, Key.Sql(sql), _) => n -> sql() }.toMap

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Analytics.pricingSummary(Tables.lineitem(spark, "/root/testdata/sf0.001"))

  /** Drops the per-data-dir session memos of the vector keys (IVF
    * centroids, corpus counts); Bench calls it between timed trials. */
  def clearSessionMemos(): Unit = VectorKeys.clearSessionMemos()
}
