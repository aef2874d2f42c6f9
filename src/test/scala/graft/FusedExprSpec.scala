package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column

/** Dedicated specs for the round-13 fused expressions — each is
  * raced bit-for-bit against the composed Spark formulation it
  * replaced, on adversarial inputs the corpus never produces
  * (duplicates, shared nulls, short arrays, empty arrays), so the
  * "bit-identical by construction" claims are pinned, not asserted.
  */
class FusedExprSpec extends SparkSpec {

  import org.apache.spark.sql.Row
  import org.apache.spark.sql.types._

  private def jac(a: Column, b: Column): Column =
    call_function("graft_jaccard", a, b)

  test("graft_jaccard equals size(intersect)/size(union) on adversarial arrays") {
    val rows = Seq[(Seq[String], Seq[String])](
      (Seq("a", "b", "c"), Seq("b", "c", "d")),
      (Seq("a", "a", "b"), Seq("a", "b", "b")),          // duplicates
      (Seq("a"), Seq("z")),                              // disjoint
      (Seq("x", "y"), Seq("x", "y")),                    // equal
      (Seq(), Seq("a")),                                 // one empty
      (Seq("πφ", "東京"), Seq("東京", "a")),              // non-ascii
      (Seq("a", null), Seq(null, "b")),                  // shared null
      (Seq(null, null), Seq(null)),                      // null-only
      (Seq(), Seq()))                                    // union empty -> NULL
    val schema = StructType(Seq(
      StructField("a", ArrayType(StringType, containsNull = true)),
      StructField("b", ArrayType(StringType, containsNull = true))))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r => Row(r._1, r._2)): _*), schema)
    val raced = df.select(
      jac(col("a"), col("b")).as("fused"),
      (size(array_intersect(col("a"), col("b"))).cast("double") /
        size(array_union(col("a"), col("b")))).as("composed"))
      .collect()
    raced.foreach { r =>
      val f = if (r.isNullAt(0)) null else java.lang.Double.valueOf(r.getDouble(0))
      val c = if (r.isNullAt(1)) null else java.lang.Double.valueOf(r.getDouble(1))
      assert(f == c, s"fused=$f composed=$c")
    }
    // NULL input propagates
    val n = df.select(jac(lit(null).cast("array<string>"), col("b")))
      .collect()
    assert(n.forall(_.isNullAt(0)))
  }

  test("graft_pq_subdots element j equals dot(slice_j(a), slice_j(b)), clamps included") {
    val rnd = new scala.util.Random(7)
    def vec(n: Int): Seq[Float] = Seq.fill(n)(rnd.nextFloat() * 2 - 1)
    // full-length, short (slice clamp), very short (empty tail slices)
    val rows = Seq(
      (vec(64), vec(64)), (vec(64), vec(40)), (vec(7), vec(64)),
      (vec(3), vec(3)), (vec(0), vec(64)))
    val schema = StructType(Seq(
      StructField("a", ArrayType(FloatType, containsNull = false)),
      StructField("b", ArrayType(FloatType, containsNull = false))))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r => Row(r._1, r._2)): _*), schema)
    val m = 4; val subLen = 16
    def sub(c: Column, j: Int): Column = slice(c, j * subLen + 1, subLen)
    val cols = (0 until m).flatMap { j =>
      Seq(
        element_at(call_function("graft_pq_subdots", col("a"), col("b"),
          lit(m), lit(subLen)), j + 1).as(s"f$j"),
        call_function("graft_dot", sub(col("a"), j), sub(col("b"), j))
          .as(s"c$j"))
    }
    df.select(cols: _*).collect().foreach { r =>
      (0 until m).foreach { j =>
        val f = r.getDouble(2 * j)
        val c = r.getDouble(2 * j + 1)
        assert(java.lang.Double.doubleToLongBits(f) ==
          java.lang.Double.doubleToLongBits(c),
          s"subspace $j: fused=$f composed=$c")
      }
    }
  }

  test("graft_shingles equals array_distinct(transform(sequence, concat_ws(slice))); graft_rolling_hashes equals transform(rollingHash)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val toks = docs.select(col("doc_id"),
      call_function("graft_tokens", col("text")).as("toks"))
    val n = 3
    def composedShingles(t: Column): Column =
      when(size(t) >= n,
        array_distinct(transform(
          sequence(lit(1), size(t) - (n - 1)),
          i => concat_ws(" ", slice(t, i, lit(n))))))
        .otherwise(array().cast("array<string>"))
    val raced = toks.select(
      graft.functions.TextFunctions.shingles(col("toks"), n).as("fused"),
      composedShingles(col("toks")).as("composed"))
    // ORDER matters (first-occurrence dedup contract), so compare the
    // arrays themselves, not set membership
    assert(raced.where(not(col("fused") === col("composed"))).isEmpty)
    assert(raced.where(size(col("fused")) > 0).count() > 0)
    // short/empty token arrays take the empty-array branch
    import spark.implicits._
    val shorts = Seq(Seq("a", "b"), Seq("x"), Seq[String]())
      .toDF("toks")
      .select(graft.functions.TextFunctions.shingles(col("toks"), n).as("s"))
      .collect()
    assert(shorts.forall(_.getSeq[String](0).isEmpty))
    val hashes = toks
      .withColumn("sh", graft.functions.TextFunctions.shingles(col("toks"), n))
      .select(
        call_function("graft_rolling_hashes", col("sh")).as("fused"),
        transform(col("sh"),
          s => graft.functions.TextFunctions.rollingHash(s)).as("composed"))
    assert(hashes.where(not(col("fused") === col("composed"))).isEmpty)
  }

  test("graft_pairs equals the nested-transform fan-out, order included") {
    import spark.implicits._
    // strings (brand/basket grain): duplicates, singletons, empties
    val sdf = Seq(
      Seq("a", "b", "c", "d"), Seq("a", "a", "b"), Seq("x", "y"),
      Seq("only"), Seq[String]()).toDF("ids")
    def composed(c: Column): Column =
      when(size(c) >= 2, flatten(transform(
        sequence(lit(1), size(c) - 1),
        i => transform(sequence(i + 1, size(c)),
          j => struct(element_at(c, i).as("a"), element_at(c, j).as("b"))))))
        .otherwise(array().cast("array<struct<a:string,b:string>>"))
    val raced = sdf.select(
      call_function("graft_pairs", col("ids")).as("fused"),
      composed(col("ids")).as("composed"))
    // ORDER matters (flatten order is the contract), so compare arrays
    assert(raced.where(not(col("fused") === col("composed"))).isEmpty)
    assert(raced.where(size(col("fused")) > 0).count() > 0)
    // longs (graph/bucket grain), including the C(n,2) count
    val ldf = Seq(Seq(5L, 9L, 2L, 9L), Seq(1L, 2L)).toDF("ids")
    val lp = ldf.select(call_function("graft_pairs", col("ids")).as("p"))
      .collect()
    assert(lp(0).getSeq[Row](0).size == 6 && lp(1).getSeq[Row](0).size == 1)
    assert(lp(0).getSeq[Row](0).head == Row(5L, 9L))
    // struct elements (the (part, cnt) carrier): fields pass through
    val stdf = Seq((Seq((10L, 3L), (20L, 4L)))).toDF("ids")
    val sp = stdf.select(explode(call_function("graft_pairs", col("ids")))
      .as("p"))
      .select(col("p.a._1"), col("p.b._2")).collect()
    assert(sp.head == Row(10L, 4L))
    // NULL array propagates
    assert(sdf.select(call_function("graft_pairs",
      lit(null).cast("array<string>"))).collect().forall(_.isNullAt(0)))
  }

  test("graft_hamming_pairs equals the filtered nested-transform chain") {
    val schema = StructType(Seq(StructField("ids", ArrayType(StructType(Seq(
      StructField("doc_id", LongType), StructField("simhash", LongType)))))))
    def frame(rows: Seq[Seq[(java.lang.Long, java.lang.Long)]]) =
      spark.createDataFrame(java.util.Arrays.asList(rows.map(r =>
        Row(if (r == null) null else r.map {
          case null => null
          case (id, sig) => Row(id, sig)
        })): _*), schema)
    def el(id: java.lang.Long, sig: java.lang.Long) = (id, sig)
    val maxHamming = 3
    val fused = call_function("graft_hamming_pairs", col("ids"), lit(maxHamming))
    // size guard as in production (simhashPairs filters buckets of
    // size > 1 before the fan-out): sequence(1, 0) steps DOWNWARD,
    // so the unguarded composed form emits junk on short arrays
    val composed = expr(
      s"""CASE WHEN ids IS NULL THEN NULL WHEN size(ids) >= 2 THEN
         flatten(transform(sequence(1, size(ids) - 1),
         i -> filter(transform(sequence(i + 1, size(ids)),
           j -> struct(ids[i-1].doc_id AS d1, ids[j-1].doc_id AS d2,
             cast(bit_count(ids[i-1].simhash ^ ids[j-1].simhash) AS int)
               AS hamming)),
           x -> x.hamming <= $maxHamming)))
         ELSE array() END""")
    val rows = Seq(
      Seq(el(1L, 0L), el(2L, 1L), el(3L, 7L), el(4L, 0L)),  // mixed distances
      Seq(el(9L, 255L), el(10L, 0L)),                       // all filtered out
      Seq(el(5L, 42L)), Seq(),                              // singleton, empty
      null,                                                 // NULL array
      Seq(el(1L, null), el(3L, 0L)),                        // NULL simhash
      Seq(null, el(2L, 1L), el(3L, 0L)),                    // NULL element
      Seq(el(1L, 0L), el(2L, null), null, el(3L, 1L), el(4L, null)),
      Seq(el(null, 255L), el(3L, 0L)),                      // NULL id, no pair
      Seq(el(null, null), el(3L, 0L), el(4L, 1L)))          // NULL id and simhash
    val raced = frame(rows).select(fused.as("fused"), composed.as("composed"))
    assert(raced.where(not(col("fused") <=> col("composed"))).isEmpty)
    assert(raced.where(size(col("fused")) > 0).count() > 0)
    // a NULL doc_id in a surviving pair: the composed form emits a NULL
    // d1 or d2, which the native output declares non-nullable
    for (row <- Seq(Seq(el(null, 0L), el(3L, 0L)), Seq(el(2L, 5L), el(null, 4L)))) {
      val df = frame(Seq(row))
      assert(df.select(composed).head().getSeq[Row](0)
        .exists(p => p.isNullAt(0) || p.isNullAt(1)), row)
      val e = intercept[Exception](df.select(fused).collect())
      val named = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case i: IllegalArgumentException => i.getMessage }
      assert(named.exists(m => m.contains("graft_hamming_pairs") &&
        m.contains("NULL doc_id")), e.toString)
    }
  }

  test("graft_pairs refuses a fan-out past Int.MaxValue instead of corrupting") {
    // 65537 elements → 2 147 516 416 pairs, just past Int.MaxValue:
    // the round-13 Int arithmetic overflowed to a negative array size
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val big = new GenericArrayData(
      Array.tabulate(65537)(i => i.toLong.asInstanceOf[Any]))
    val e = intercept[IllegalArgumentException] {
      graft.functions.Pairs.compute(big, LongType)
    }
    assert(e.getMessage.contains("Int.MaxValue"))
    // one below the cliff still sizes correctly (no allocation blowup
    // concern: n=3 sanity value)
    val small = new GenericArrayData(Array[Any](1L, 2L, 3L))
    assert(graft.functions.Pairs.compute(small, LongType).numElements() == 3)
  }

  test("graft_hamming_pairs refuses a survivor count past Int.MaxValue") {
    // 65537 identical signatures: every one of the 2 147 516 416 pairs
    // survives, one past Int.MaxValue — an Int survivor count wraps to
    // a negative output size
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    val big = new GenericArrayData(Array.tabulate(65537)(i =>
      new GenericInternalRow(Array[Any](i.toLong, 42L)).asInstanceOf[Any]))
    val e = intercept[IllegalArgumentException] {
      graft.functions.HammingPairs.compute(big, 0)
    }
    assert(e.getMessage.contains("graft_hamming_pairs") &&
      e.getMessage.contains("Int.MaxValue"), e.getMessage)
    val small = new GenericArrayData(Array.tabulate(3)(i =>
      new GenericInternalRow(Array[Any](i.toLong, 42L)).asInstanceOf[Any]))
    assert(graft.functions.HammingPairs.compute(small, 0).numElements() == 3)
  }

  test("graft_cell_argmax and graft_pq_codes order NaN like their composed forms") {
    import org.apache.spark.sql.GraftExpressionBridge.{column, expression}
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val nan = Float.NaN
    def norm(v: Seq[Float]) = math.sqrt(v.map(x => x.toDouble * x).sum)
    val vecs = Seq(Seq(1f, 0f, 0f, 1f), Seq(0f, 1f, 1f, 0f), Seq(2f, 1f, 0f, 3f))
    val vdf = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v, norm(v)) }
      .toDF("vec_id", "embedding", "nrm")
    // the NaN row sits in the first slot of one table and in a later
    // slot of the other; NaN only in subspace 0 for the PQ codes
    val rows = Seq(5L -> Seq(nan, 0f, 1f, 1f), 2L -> Seq(1f, 0f, 0f, 1f),
      7L -> Seq(0f, 1f, 0f, 2f))
    val m = 2; val subLen = 2
    for (table <- Seq(rows, rows.tail.head +: rows.head +: rows.drop(2))) {
      val ids = table.map(_._1).toArray
      val cents = table.map(_._2.toArray).toArray
      val cdf = table.map { case (id, c) => (id, c, norm(c)) }.toDF("cid", "ce", "cn")
      val fused = vdf.select(col("vec_id"),
        column(graft.functions.CellArgmax(expression(col("embedding")),
          expression(col("nrm")), ids, cents, table.map(t => norm(t._2)).toArray))
          .as("cell"),
        column(graft.functions.PqCodebookCodes(expression(col("embedding")),
          ids, cents, m, subLen)).as("codes"))
      // composed: the window top-1 graft_topk replaced (score desc, id
      // asc) and pqCodes' per-subspace min_by(id, struct(d_j, id))
      val pairs = vdf.crossJoin(cdf)
        .withColumn("score", call_function("graft_dot", col("embedding"),
          col("ce")) / (col("nrm") * col("cn")))
        .withColumn("es", call_function("graft_pq_subdots", col("embedding"),
          col("embedding"), lit(m), lit(subLen)))
        .withColumn("cs", call_function("graft_pq_subdots", col("ce"), col("ce"),
          lit(m), lit(subLen)))
        .withColumn("xd", call_function("graft_pq_subdots", col("embedding"),
          col("ce"), lit(m), lit(subLen)))
      val cell = pairs.withColumn("rn", row_number().over(Window
          .partitionBy(col("vec_id")).orderBy(col("score").desc, col("cid").asc)))
        .where(col("rn") === 1).select(col("vec_id"), col("cid").as("cell"))
      val codes = pairs.groupBy(col("vec_id")).agg(array((0 until m).map { j =>
        val d = element_at(col("es"), j + 1) + element_at(col("cs"), j + 1) -
          lit(2.0) * element_at(col("xd"), j + 1)
        min_by(col("cid"), struct(d, col("cid")))
      }: _*).as("codes"))
      val composed = cell.join(codes, "vec_id")
      val got = fused.orderBy("vec_id").collect().toSeq
      val want = composed.select("vec_id", "cell", "codes").orderBy("vec_id")
        .collect().toSeq
      assert(got == want, s"table ${ids.mkString(",")}")
    }
  }

  test("graft_topk orders NaN and -0.0 like the row_number window") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // (grp, s, id): NaN sorts above every number, -0.0 ties 0.0 and
    // falls to the lower id; each group is fed in both row orders, so
    // the NaN sits in the first slot and in a later one
    val rows = Seq(
      (1, Double.NaN, 1L), (1, 1.0, 2L),
      (2, 1.0, 1L), (2, Double.NaN, 2L), (2, 2.0, 3L),
      (3, 0.0, 2L), (3, -0.0, 1L),
      (4, 0.0, 3L), (4, -0.0, 1L), (4, 0.0, 2L), (4, -1.0, 0L))
    for (order <- Seq(rows, rows.reverse); k <- Seq(1, 2)) {
      // one partition: the aggregate sees the rows in exactly this order
      val df = order.toDF("grp", "s", "id").coalesce(1)
      val got = df.groupBy(col("grp"))
        .agg(call_function("graft_topk", col("s"), col("id"), lit(k)).as("t"))
        .select(col("grp"), posexplode(col("t")).as(Seq("pos", "e")))
        .select(col("grp"), (col("pos") + 1).as("rk"), col("e.score"), col("e.id"))
        .orderBy("grp", "rk").collect().toSeq
      val want = df.withColumn("rk", row_number().over(Window
          .partitionBy(col("grp")).orderBy(col("s").desc, col("id").asc)))
        .where(col("rk") <= k)
        .select(col("grp"), col("rk"), col("s"), col("id"))
        .orderBy("grp", "rk").collect().toSeq
      assert(got == want, s"k=$k, order ${order.map(_._3).mkString(",")}")
    }
  }

  test("int-literal builder args accept bigint literals and foldables") {
    import spark.implicits._
    val df = Seq(Seq((1L, 0L), (2L, 3L))).toDF("ids")
      .select(col("ids").cast("array<struct<d1:bigint,s:bigint>>").as("ids"))
    df.createOrReplaceTempView("hp_in")
    // 3L arrives as a LongType literal; 1 + 2 is a foldable expression
    val viaLong = spark.sql(
      "SELECT graft_hamming_pairs(ids, 3L) AS p FROM hp_in").collect()
    val viaFold = spark.sql(
      "SELECT graft_hamming_pairs(ids, 1 + 2) AS p FROM hp_in").collect()
    val viaInt = spark.sql(
      "SELECT graft_hamming_pairs(ids, 3) AS p FROM hp_in").collect()
    assert(viaLong.toSeq == viaInt.toSeq && viaFold.toSeq == viaInt.toSeq)
    val bad = intercept[Exception] {
      spark.sql("SELECT graft_hamming_pairs(ids, ids) FROM hp_in").collect()
    }
    assert(bad.getMessage.contains("integral literal"))
  }

  test("graft_srp_sigs equals the per-plane dot-sign concat_ws chain") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val nPlanes = 48; val bands = 4; val rows = nPlanes / bands
    val p = graft.operators.VectorSearch.srpPlanes(nPlanes, 64)
    def planeLit(i: Int): Column = array(p(i).toIndexedSeq.map(lit(_)): _*)
    val composed = emb.select(
      Seq(col("vec_id")) ++ (0 until nPlanes).map(i =>
        (call_function("graft_dot", col("embedding"), planeLit(i)) >= 0)
          .cast("int").as(s"b$i")): _*)
      .select(col("vec_id") +: (0 until bands).map(b =>
        concat_ws(",", (b * rows until (b + 1) * rows).map(i =>
          col(s"b$i").cast("string")): _*).as(s"s$b")): _*)
    val fused = emb.select(
      col("vec_id") +: (0 until bands).map(b =>
        element_at(call_function("graft_srp_sigs", col("embedding"),
          lit(nPlanes), lit(rows), lit(64)), b + 1).as(s"s$b")): _*)
    assert(composed.exceptAll(fused).isEmpty &&
      fused.exceptAll(composed).isEmpty)
    // prefix stability: plane i identical whatever the total
    assert(graft.operators.VectorSearch.srpPlanes(16, 64).map(_.toSeq) ==
      graft.operators.VectorSearch.srpPlanes(64, 64).take(16).map(_.toSeq))
  }

  /** The IllegalArgumentException message in `e`'s cause chain. */
  private def namedIae(e: Throwable): Option[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case i: IllegalArgumentException => i.getMessage }

  test("graft_seed_hashes equals md5(concat_ws(slice)) on NULL tokens and short arrays") {
    // concat_ws skips a NULL token (and its separator); a window of
    // only NULLs joins to the empty string
    val k = 2
    val raced = spark.sql(
      s"""SELECT graft_seed_hashes(t, $k) AS fused,
         CASE WHEN t IS NULL THEN NULL WHEN size(t) < $k THEN array()
           ELSE transform(sequence(0, size(t) - $k),
             i -> md5(concat_ws(' ', slice(t, i + 1, $k)))) END AS composed
         FROM VALUES (array('a', NULL, 'b', 'c')), (array(NULL, 'a')),
           (array(NULL, NULL, NULL)), (array('a', 'b')), (array('a')),
           (array()), (array('é', NULL, 'ü')), (CAST(NULL AS array<string>)) AS v(t)""")
    assert(raced.count() == 8)
    assert(raced.where(not(col("fused") <=> col("composed"))).isEmpty,
      raced.collect().mkString("\n"))
    val e = intercept[Exception](spark.sql(
      "SELECT graft_seed_hashes(array('a'), 0)").collect())
    assert(namedIae(e).exists(_.contains("graft_seed_hashes")), e.toString)
  }

  test("graft_heavy_agg names a NULL, fractional or string k") {
    val keys = "FROM VALUES (1L), (1L), (2L) AS v(x)"
    assert(spark.sql(s"SELECT graft_heavy_agg(x, 2) $keys").head().getSeq[Row](0)
      .map(r => (r.getLong(0), r.getLong(1))) == Seq((1L, 2L), (2L, 1L)))
    // an integral literal of any width is k, as for the other builders
    assert(spark.sql(s"SELECT graft_heavy_agg(x, 2L) $keys").head().getSeq[Row](0)
      .size == 2)
    for (k <- Seq("NULL", "CAST(NULL AS int)", "2.5", "CAST(2 AS decimal(10, 0))", "'2'")) {
      val e = intercept[Exception](spark.sql(s"SELECT graft_heavy_agg(x, $k) $keys").collect())
      assert(namedIae(e).exists(m => m.contains("graft_heavy_agg") && m.contains(" k ")),
        s"k=$k: $e")
    }
  }

  test("graft_nfc: NULL, empty, already-NFC and decomposed input") {
    import java.text.Normalizer
    import spark.implicits._
    val inputs = Seq(null, "", "plain ascii", "caf\u00e9", "cafe\u0301",
      "\u1100\u1161\u11a8", "A\u030a\u0301 \u212b", "e\u0301\u0323")
    val df = inputs.map(Tuple1(_)).toDF("s")
    df.createOrReplaceTempView("nfc_in")
    for (sql <- Seq("SELECT s, graft_nfc(s) FROM nfc_in",
                    "SELECT s, graft_nfc(s) FROM nfc_in WHERE length(coalesce(s, 'x')) >= 0")) {
      val got = spark.sql(sql).collect().map(r => (r.getString(0), r.getString(1)))
      assert(got.toSeq == inputs.map(s =>
        (s, if (s == null) null else Normalizer.normalize(s, Normalizer.Form.NFC))), sql)
    }
    // already-NFC input comes back unchanged, decomposed input composes
    assert(spark.sql("SELECT graft_nfc('cafe\u0301') = 'caf\u00e9'").head().getBoolean(0))
  }
}
