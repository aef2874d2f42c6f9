package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Value-id mapping: normalize key columns and assign a dense integer
  * id per distinct value, then join the ids back onto the rows.
  *
  * Semantics: /root/reference/metrics/lib/hh_mapping.py:4-13
  * (`filter_to_relevant`): lower-case the key, rewrite `_id` → `id` in
  * the id-type column, build a distinct-value → id map, join back.
  *
  * Spark-first notes: the reference uses `monotonically_increasing_id`
  * for the value ids — nondeterministic across partitionings and
  * re-runs, which breaks reproducible pipelines and any downstream
  * equality join on the id. Here the ids are dense 1..N in ascending
  * value order, assigned two-phase ([[assignDenseIds]]) so no single
  * task ever sees the whole value domain. The join back carries no
  * broadcast hint — AQE broadcasts when the domain is small and falls
  * back to a shuffle join when it is not.
  */
object ValueMapping {

  /** Dense ids 1..N in ascending `column` order — the semantics of
    * `dense_rank() OVER (ORDER BY column)` on a distinct frame, but
    * scalable: a global-window rank funnels every distinct value
    * through one task, while this range-repartitions (phase 1: global
    * order across partitions), sorts within each partition, and
    * zipWithIndex-es (phase 2: one small per-partition-count job
    * computes each partition's exclusive offset; indices are assigned
    * locally). Input rows must already be distinct on `column`.
    * NULLS sort LAST — matching the DuckDB/ANSI default the oracles
    * rank with, not Spark's asc-nulls-first window default (a single
    * NULL value would otherwise shift every id by one between the
    * engines). */
  def assignDenseIds(distinctVals: DataFrame, column: String): DataFrame = {
    val spark = distinctVals.sparkSession
    val sorted = distinctVals
      .repartitionByRange(col(column).asc_nulls_last)
      .sortWithinPartitions(col(column).asc_nulls_last)
    val schema = sorted.schema.add("val_id", org.apache.spark.sql.types.LongType,
      nullable = false)
    // zipWithIndex runs its offset-count job over this RDD and the
    // main query then reads it again — persist so the distinct+sort
    // executes once, not twice
    val base = graft.Caches.holdRdd(sorted.rdd)
    val rdd = base.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i + 1L))
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Input must have columns (id, id_type, key, value). Output adds
    * normalized key/id_type and a dense `val_id` per distinct value. */
  def mapValues(df: DataFrame): DataFrame = {
    val normalized = df
      .withColumn("key", lower(col("key")))
      .withColumn("id_type", regexp_replace(col("id_type"), "_id", "id"))
    val valMap = assignDenseIds(normalized.select(col("value")).distinct(), "value")
    normalized
      .join(valMap, Seq("value"))
      .select(col("id"), col("id_type"), col("key"), col("value"), col("val_id"))
      .orderBy(col("id"))
  }

  /** Re-label a column through a (value → friendly_name) lookup,
    * falling back to the original value when unmapped. Mirrors
    * name_mapping.dimension_to_friendlyname
    * (/root/reference/metrics/helpers/name_mapping.py:44-50), which
    * applies a pandas lookup per cell; here it is a broadcast
    * left-join + coalesce (case-insensitive like the reference). A
    * case-insensitively duplicated dimension resolves to the MIN
    * friendly_name — deterministic, unlike dropDuplicates' arbitrary
    * row, and mirrored by the oracle SQL. */
  def toFriendly(df: DataFrame, column: String, mapping: DataFrame): DataFrame = {
    val m = mapping
      .select(lower(col("dimension")).as("_dim_key"), col("friendly_name"))
      .groupBy(col("_dim_key"))
      .agg(min(col("friendly_name")).as("friendly_name"))
    df.join(broadcast(m), lower(col(column)) === col("_dim_key"), "left_outer")
      .withColumn(column, coalesce(col("friendly_name"), col(column)))
      .drop("_dim_key", "friendly_name")
  }

  /** Friendly-name map assembly: normalized key-attribute rows
    * right-outer-joined onto the dimension metadata, with key/val_id
    * falling back to the dimension's own name/id where the attribute
    * side has no match. Mirrors hh_mapping.make_map
    * (/root/reference/metrics/lib/hh_mapping.py:16-23); the ka side's
    * val_id assignment reuses [[mapValues]]'s dense_rank (the
    * reference's monotonically_increasing_id is nondeterministic).
    * The dimension-meta side is small — broadcast from the ka
    * perspective would be wrong (ka is the fact-sized side), so the
    * join keys stay as-is and AQE picks the build side. */
  def makeMap(ka: DataFrame, dm: DataFrame): DataFrame = {
    val ka2 = mapValues(ka)
      .withColumnRenamed("id", "id_value")
      .withColumn("etype2", lit("dig"))
    ka2.join(dm,
      dm("dimension") === ka2("id_type") &&
        dm("label") === ka2("id_value") &&
        dm("etype") === ka2("etype2"),
      "right_outer")
      .withColumn("key", coalesce(col("key"), col("dimension")))
      .withColumn("val_id", coalesce(col("val_id"), col("id")))
      .select(col("etype"), col("key"), col("dimension"), col("label"),
        col("id"), col("value"), col("val_id"))
      .orderBy(col("id"), col("val_id"))
  }
}
