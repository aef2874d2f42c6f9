package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Test-data amplifier for scale probes: replicates a testdata
  * directory `factor`× with disjoint entity keys, so a bench run at
  * 10× the gate scale can catch superlinear surprises (bucket caps
  * binding, window skew, broadcast limits) before the 100× claims are
  * trusted. Fact tables replicate with key shifts that preserve
  * referential integrity (orders↔customer↔lineitem, events.user_id);
  * dimension tables (region/nation/part/supplier) stay fixed — at
  * scale the dims don't grow with the facts, per-dim row counts do.
  * Document text and embedding copies are PERTURBED per copy so the
  * copies are NOT near-dups of each other — a verbatim (or
  * epsilon-shifted) 10× corpus would turn every doc into a 10-member
  * near-dup cluster and blow the pair queries up QUADRATICALLY in
  * the copy count, measuring an artifact of the amplifier, not the
  * engine. Text: a copy-distinct marker token inserted after every
  * 2nd word, so every word 3-gram (the shingle size) contains the
  * marker — zero shingle overlap across copies, while doc A ≈ doc B
  * near-dup structure WITHIN a copy is preserved (both get the same
  * insertion). Embeddings: rotate the vector by `copy` positions —
  * cross-copy cosine collapses to ~0 (high-dim), while every planted
  * pair rotates identically, so per-copy pair structure replicates
  * exactly. Key shifts use the table's own max+1 as stride, so ids
  * stay dense-ish and positive.
  *
  * Usage: runMain graft.ScaleUp <inDir> <outDir> <factor>
  */
object ScaleUp {

  private def stride(df: DataFrame, key: String): Long =
    df.agg(max(col(key))).head().getLong(0) + 1L

  /** Cross the table with `factor` copy indices and shift `keys` (all
    * sharing one stride from `keys.head`) by copy·stride. */
  private def replicate(df: DataFrame, factor: Int, keys: Seq[String],
                        strideBy: Long): DataFrame = {
    val copies = df.sparkSession.range(factor).select(col("id").as("_copy"))
    val crossed = df.crossJoin(broadcast(copies))
    keys.foldLeft(crossed) { (acc, k) =>
      acc.withColumn(k, col(k) + col("_copy") * strideBy)
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleUp <inDir> <outDir> <factor>")
    val Array(inDir, outDir, factorS) = args
    val factor = factorS.toInt
    require(factor >= 1)
    val spark = GraftSession.local()
    def in(t: String) = Tables.load(spark, inDir, t)
    // Facts ship as 64 files, not as one: the input is a single small
    // file, so the crossJoin inherits ONE partition and a plain write
    // emits one fat single-row-group file — unsplittable, so every
    // downstream scan of the amplified data runs on one core and the
    // probe measures the amplifier's layout, not the engine (the
    // round-9 sf10 probe read 100× ratios on linear operators from
    // exactly this). Real corpora at these volumes arrive as many
    // files; 64 ≈ 2× local cores keeps every scan parallel.
    def out(df: DataFrame, t: String, parts: Int = 64): Unit =
      df.drop("_copy").repartition(parts)
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")

    // dims: fixed (and small — one file each)
    Seq("region", "nation", "part", "supplier").foreach(t =>
      out(in(t), t, parts = 1))

    val cust = in("customer")
    val custStride = stride(cust, "c_custkey")
    // names rebuilt from the SHIFTED key (the testdata invariant
    // c_name = Customer#%09d(c_custkey), asserted cheap below): a
    // verbatim name copy would hand the record-linkage queries 10
    // identical names per original customer — C(10,2) exact-dup pairs
    // each, quadratic in the copy factor — measuring the amplifier,
    // not the engine (the same artifact class the doc/embedding
    // perturbations below exist to avoid).
    require(cust.where(col("c_name") =!=
      format_string("Customer#%09d", col("c_custkey"))).isEmpty,
      "customer names deviate from Customer#%09d — rewrite rule invalid")
    out(replicate(cust, factor, Seq("c_custkey"), custStride)
      .withColumn("c_name", format_string("Customer#%09d", col("c_custkey"))),
      "customer")

    val orders = in("orders")
    val orderStride = stride(orders, "o_orderkey")
    out(replicate(orders, factor, Seq("o_orderkey"), orderStride)
      .withColumn("o_custkey", col("o_custkey") + col("_copy") * custStride),
      "orders")

    out(replicate(in("lineitem"), factor, Seq("l_orderkey"), orderStride),
      "lineitem")

    // events.ts passes through untouched in whichever encoding the
    // driver shipped (int64 nanos under nanosAsLong, or timestamp[us]
    // NTZ) — Tables.events normalizes both on read
    val ev = in("events")
    val userStride = stride(ev, "user_id")
    out(replicate(ev, factor, Seq("event_id"), stride(ev, "event_id"))
      .withColumn("user_id", col("user_id") + col("_copy") * userStride),
      "events")

    val docs = in("documents")
    out(replicate(docs, factor, Seq("doc_id"), stride(docs, "doc_id"))
      .withColumn("text",
        when(col("_copy") === 0, col("text"))
          .otherwise(array_join(flatten(expr(
            "transform(split(text, ' '), (w, i) -> " +
              "IF((i + 1) % 2 = 0, array(w, concat('cv', _copy)), array(w)))")),
            " ")))
      .withColumn("n_chars", length(col("text")).cast("long")),
      "documents")

    // rotation has only dim distinct values, so factors past the
    // dimensionality (64) would collide copies into exact duplicates
    // (and the raw `slice(…, size - _copy)` turned negative-length
    // and failed outright at factor 100): rotate by _copy mod dim and
    // add a sign flip as a second axis — dim × 2 distinct isometries,
    // each preserving within-copy pair structure exactly while
    // cross-copy cosine stays ~0 (rotation) or negative (flip).
    require(factor <= 128,
      "embedding perturbation supports at most 128 distinct copies " +
        "(64 rotations x 2 signs)")
    val emb = in("embeddings")
    out(replicate(emb, factor, Seq("vec_id"), stride(emb, "vec_id"))
      .withColumn("embedding", expr(
        """CASE WHEN _copy = 0 THEN embedding ELSE
           transform(
             IF(_copy % size(embedding) = 0, embedding,
               concat(
                 slice(embedding,
                   CAST(_copy % size(embedding) AS INT) + 1,
                   size(embedding) - CAST(_copy % size(embedding) AS INT)),
                 slice(embedding, 1, CAST(_copy % size(embedding) AS INT)))),
             x -> IF(_copy DIV size(embedding) % 2 = 1, -x, x))
           END""")),
      "embeddings")

    spark.stop()
  }
}
