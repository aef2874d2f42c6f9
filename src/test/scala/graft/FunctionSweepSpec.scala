package graft

import org.apache.spark.sql.Row

/** Robustness sweep over every session-registered `graft_*` function:
  * each is called from SQL with a typed NULL in each non-literal
  * argument position and with an empty array in each array position,
  * compiled and interpreted. Each call must give the composed form's
  * result (or a named `IllegalArgumentException` where a row says so),
  * never an NPE or an index error. */
class FunctionSweepSpec extends SparkSpec {

  /** An argument's SQL sample value; a literal is a shape parameter
    * that the builder folds, so it is never swept. */
  private case class Arg(sample: String, literal: Boolean = false,
                         array: Boolean = false)
  private def arr(sample: String) = Arg(sample, array = true)
  private def lit(sample: String) = Arg(sample, literal = true)

  /** One row per function. A NULL argument gives NULL (every composed
    * form propagates it), or for an aggregate the result over no rows
    * (a NULL row is skipped). `empty` maps each array position to the
    * composed form's result on an empty array, as SQL, or to [[Iae]]. */
  private case class Fn(name: String, args: Seq[Arg],
                        empty: Map[Int, String] = Map.empty,
                        aggregate: Boolean = false)

  /** The call fails with an `IllegalArgumentException` naming it. */
  private val Iae = "named IllegalArgumentException"

  private val str = Arg("'Ab cD é'")
  private val toks = arr("array('a', 'b', 'c')")
  private val vec = arr("array(1.0F, -2.0F, 0.5F, 4.0F)")
  private val blob = "(SELECT graft_bloom_agg(xxhash64(1L), 64, 3))"

  private val table = Seq(
    Fn("graft_dot", Seq(vec, vec), Map(0 -> "0.0D", 1 -> "0.0D")),
    Fn("graft_rolling_hash", Seq(str)),
    // an empty hash array has no minimum: NULL, as array_min; the
    // coefficient arrays pair up element by element, so one emptied
    // alone no longer matches the other
    Fn("graft_minhash", Seq(arr("array(5L, 9L)"), arr("array(3L, 7L)"),
      arr("array(1L, 2L)")), Map(0 -> "NULL", 1 -> Iae, 2 -> Iae)),
    Fn("graft_simhash", Seq(toks), Map(0 -> "0L")),
    Fn("graft_bloom_agg", Seq(Arg("xxhash64(1L)"), lit("64"), lit("3")),
      aggregate = true),
    Fn("graft_topk", Seq(Arg("1.5D"), Arg("7L"), lit("3")), aggregate = true),
    Fn("graft_nfc", Seq(str)),
    Fn("graft_heavy_agg", Seq(Arg("7L"), lit("4")), aggregate = true),
    Fn("graft_match_mask", Seq(str, lit("'cD'"), lit("'x'"))),
    Fn("graft_seed_hashes", Seq(toks, lit("2")),
      Map(0 -> "CAST(array() AS array<string>)")),
    Fn("graft_deflate_len", Seq(str)),
    Fn("graft_tokens", Seq(str)),
    Fn("graft_quality_counts", Seq(str, lit("'the'"))),
    Fn("graft_bloom_contains", Seq(Arg(blob), Arg("xxhash64(1L)"))),
    Fn("graft_shingles", Seq(toks, lit("2")),
      Map(0 -> "CAST(array() AS array<string>)")),
    Fn("graft_rolling_hashes", Seq(toks),
      Map(0 -> "CAST(array() AS array<bigint>)")),
    Fn("graft_pairs", Seq(arr("array(1L, 2L, 3L)")),
      Map(0 -> "CAST(array() AS array<struct<a: bigint, b: bigint>>)")),
    Fn("graft_hamming_pairs", Seq(arr(
      "array(named_struct('doc_id', 1L, 'simhash', 3L), " +
        "named_struct('doc_id', 2L, 'simhash', 7L))"), lit("3")),
      Map(0 -> "CAST(array() AS array<struct<d1: bigint, d2: bigint, hamming: int>>)")),
    Fn("graft_jaccard", Seq(toks, toks), Map(0 -> "0.0D", 1 -> "0.0D")),
    // each subspace folds no elements
    Fn("graft_pq_subdots", Seq(vec, vec, lit("2"), lit("2")),
      Map(0 -> "array(0.0D, 0.0D)", 1 -> "array(0.0D, 0.0D)")),
    // every projection of an empty vector is 0, whose sign bit is '1'
    Fn("graft_srp_sigs", Seq(vec, lit("4"), lit("2"), lit("4")),
      Map(0 -> "array('1,1', '1,1')")))

  test("the sweep table names every registered graft_* function") {
    assert(table.map(_.name).sorted ==
      GraftSession.Functions.map(_._1).sorted)
    assert(table.size == 21)
  }

  /** The call with argument `pos` replaced by `value` (NULL or an empty
    * array), made non-foldable so the expression itself runs. */
  private def call(fn: Fn, pos: Int, value: String): String = {
    val args = fn.args.zipWithIndex.map {
      case (a, `pos`) => s"IF(id < 0, ${a.sample}, $value)"
      case (a, _) => if (a.literal) a.sample else s"IF(id < 0, NULL, ${a.sample})"
    }
    s"${fn.name}(${args.mkString(", ")})"
  }

  private def namedIae(e: Throwable): Option[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case i: IllegalArgumentException => i.getMessage }

  private def outcome(sql: String): Either[Exception, Any] =
    try Right(spark.sql(sql).head().get(0))
    catch { case e: Exception => Left(e) }

  private def sweep(): Seq[String] = table.flatMap { fn =>
    val swept = fn.args.indices.filterNot(fn.args(_).literal)
    val cases = swept.map(i => (i, "NULL")) ++
      swept.filter(fn.args(_).array).map(i => (i, "array()"))
    cases.flatMap { case (i, value) =>
      val got = outcome(s"SELECT ${call(fn, i, value)} FROM range(1)")
      val want =
        if (value == "NULL" && fn.aggregate)
          outcome(s"SELECT ${call(fn, -1, "")} FROM range(0)")
            .left.map(_.toString)
        else if (value == "NULL") Right(null)
        else if (fn.empty(i) == Iae) Left(Iae)
        else outcome(s"SELECT ${fn.empty(i)}").left.map(_.toString)
      val label = s"${fn.name} arg $i = $value"
      (got, want) match {
        case (Right(g), Right(w)) if Row(g) == Row(w) => None
        case (Left(e), Left(Iae)) if namedIae(e).exists(_.contains(fn.name)) =>
          None
        case (_, Left(e)) if e != Iae => Some(s"$label: expected form failed: $e")
        case (Right(g), w) => Some(s"$label: got $g, want ${w.merge}")
        case (Left(e), w) =>
          Some(s"$label: want ${w.merge}, got ${e.getClass.getName}: ${e.getMessage}")
      }
    }
  }

  test("every graft_* function takes NULLs and empty arrays, compiled") {
    val bad = sweep()
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("every graft_* function takes NULLs and empty arrays, interpreted") {
    val confs = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val before = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val bad = sweep()
      assert(bad.isEmpty, bad.mkString("\n"))
    } finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
