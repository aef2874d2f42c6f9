package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.NearDup

/** Kernel microbench: each session-registered `graft_*` function,
  * called through SQL `selectExpr` (or `agg` for graft_topk) on the
  * run's generated documents and embeddings, written to the noop sink.
  * Inputs are replicated to at least [[MinDocs]]/[[MinVecs]] rows and
  * cached first, so each timing is the kernel plus one cached scan.
  * Reports rows/s per function. */
object Kernels {
  val MinDocs = 20000
  val MinVecs = 10000
  val MinSeconds = 0.1
  val Reps = 3

  private def amplified(df: DataFrame, min: Long, cores: Int): DataFrame = {
    val n = df.count()
    val copies = math.max(1L, (min + n - 1) / n)
    df.crossJoin(df.sparkSession.range(copies).withColumnRenamed("id", "_copy"))
      .drop("_copy").repartition(cores)
  }

  private def cached(df: DataFrame): (DataFrame, Long) = {
    val c = df.cache()
    (c, c.count())
  }

  /** Median seconds of `Reps` noop writes of `f()`, after one warm-up. */
  private def time(f: () => DataFrame): Double = {
    f().write.format("noop").mode("overwrite").save()
    val ts = (1 to Reps).map { _ =>
      val t0 = System.nanoTime()
      var n = 0
      while ((System.nanoTime() - t0) / 1e9 < MinSeconds || n == 0) {
        f().write.format("noop").mode("overwrite").save(); n += 1
      }
      (System.nanoTime() - t0) / 1e9 / n
    }.sorted
    ts(ts.size / 2)
  }

  /** (rows/s per kernel, input row counts) */
  def run(spark: SparkSession, data: String): (Seq[(String, Double)], Seq[(String, Double)]) = {
    val cores = spark.sparkContext.defaultParallelism
    val (docs, nDocs) = cached(amplified(Tables.documents(spark, data), MinDocs, cores)
      .selectExpr("doc_id", "text", "graft_tokens(text) AS toks")
      .where("size(toks) >= 4")
      .selectExpr("*", "graft_shingles(toks, 3) AS sh",
        "graft_shingles(slice(toks, 2, size(toks)), 3) AS sh2")
      .selectExpr("*", "graft_rolling_hashes(sh) AS h0s", "graft_simhash(toks) AS sim"))
    // buckets of ~16 (doc_id, simhash) structs, sorted — the pair kernels' input
    val nBuckets = math.max(1L, nDocs / 16)
    val (buckets, nBucketRows) = cached(docs
      .groupBy((monotonically_increasing_id() % nBuckets).as("b"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("sim")))).as("ids")))
    val emb = Tables.embeddings(spark, data)
    val (vecs, nVecs) = cached(amplified(emb, MinVecs, cores)
      .selectExpr("vec_id", "label", "embedding", "reverse(embedding) AS e2"))
    val dim = vecs.selectExpr("size(embedding)").head().getInt(0)
    val coef = NearDup.minhashCoefficients(32)
    val aLit = coef.map(_._1).mkString("array(", "L, ", "L)")
    val bLit = coef.map(_._2).mkString("array(", "L, ", "L)")
    val sel = (df: DataFrame, e: String) => () => df.selectExpr(e)
    val kernels: Seq[(String, () => DataFrame, Long)] = Seq(
      ("graft_tokens", sel(docs, "graft_tokens(text)"), nDocs),
      ("graft_shingles", sel(docs, "graft_shingles(toks, 3)"), nDocs),
      ("graft_minhash", sel(docs, s"graft_minhash(h0s, $aLit, $bLit)"), nDocs),
      ("graft_simhash", sel(docs, "graft_simhash(toks)"), nDocs),
      ("graft_pairs", sel(buckets, "graft_pairs(ids)"), nBucketRows),
      ("graft_hamming_pairs", sel(buckets, "graft_hamming_pairs(ids, 20)"), nBucketRows),
      ("graft_jaccard", sel(docs, "graft_jaccard(sh, sh2)"), nDocs),
      ("graft_quality_counts",
        sel(docs, "graft_quality_counts(text, 'the', 'a', 'and')"), nDocs),
      ("graft_srp_sigs", sel(vecs, s"graft_srp_sigs(embedding, 16, 4, $dim)"), nVecs),
      ("graft_dot", sel(vecs, "graft_dot(embedding, e2)"), nVecs),
      ("graft_topk", () => vecs.groupBy("label")
        .agg(expr("graft_topk(CAST(embedding[0] AS DOUBLE), vec_id, 10)")), nVecs))
    val rates = kernels.map { case (name, f, rows) =>
      s"kernel.$name.rows_per_s" -> rows / time(f)
    }
    Seq(docs, buckets, vecs).foreach(_.unpersist(blocking = true))
    (rates, Seq("documents" -> nDocs.toDouble, "buckets" -> nBucketRows.toDouble,
      "embeddings" -> nVecs.toDouble))
  }
}
