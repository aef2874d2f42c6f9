package graft

import graft.operators.NearDup
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test}

/** [[NearDup.simhashPairs]] and [[NearDup.hammingHist]] against the
  * two-exchange shape they replaced ([[SimhashPairsSpec.reference]]):
  * equal schema and equal rows in order. */
class SimhashPairsSpec extends SparkSpec {
  import spark.implicits._

  private def docs(texts: Seq[String]): DataFrame =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  private def docsAt(ids: Seq[java.lang.Long], texts: Seq[String]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(
      ids.zip(texts).map { case (i, t) => Row(i, t) }: _*),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))

  private def same(got: DataFrame, want: DataFrame): Option[String] = {
    val (g, w) = (got.collect().toSeq, want.collect().toSeq)
    if (got.schema != want.schema) Some(s"schema ${got.schema} vs ${want.schema}")
    else if (g != w) Some(s"${g.size} vs ${w.size} rows, first difference " +
      g.zipAll(w, null, null).find { case (a, b) => a != b })
    else None
  }

  private def compare(d: DataFrame, maxHamming: Int, bucketCap: Int): Option[String] =
    same(NearDup.simhashPairs(d, maxHamming, bucketCap),
      SimhashPairsSpec.reference(d, maxHamming, bucketCap))

  private def withShufflePartitions[T](n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val was = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, was)
  }

  /** (band, key) of each of a fingerprint's four 10-bit bands. */
  private def bandKeys(d: DataFrame): Map[Long, Seq[(Int, Long)]] =
    NearDup.simhash(d).collect().map(r => r.getLong(0) ->
      (0 until 4).map(b => (b, r.getLong(2 + b)))).toMap

  test("simhashPairs equals the two-exchange reference when pairs share 2-4 bands") {
    val base = "alpha bravo charlie delta echo foxtrot golf hotel " +
      "india juliet kilo lima mike november oscar papa"
    val d = docs(Seq(base, base,
      base.replaceFirst("alpha", "bravo"),
      base.replaceFirst("charlie", "bravo"),
      "zulu yankee xray whiskey victor uniform"))
    val keys = bandKeys(d)
    val shared = (1L to 3L).map(i => keys(0L).intersect(keys(i)).size)
    assert(shared == Seq(4, 3, 2), shared)
    val diff = compare(d, 3, NearDup.DefaultBucketCap)
    assert(diff.isEmpty, diff.mkString)
    assert(NearDup.simhashPairs(d).where(col("d1") === 0L).count() == 3)
  }

  test("simhashPairs equals the two-exchange reference when the cap binds in some bands") {
    val words = Seq("alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "hotel")
    val d = docs(for (a <- words; b <- words) yield s"$a $b")
    val cap = 8
    val largest = bandKeys(d).values.flatten.groupBy(identity).toSeq
      .map { case ((band, _), members) => band -> members.size }
      .groupMapReduce(_._1)(_._2)(math.max)
    assert(largest.values.exists(_ > cap) && largest.values.exists(m => m >= 2 && m <= cap),
      largest)
    for (maxHamming <- 0 to 3) {
      val diff = compare(d, maxHamming, cap)
      assert(diff.isEmpty, s"maxHamming=$maxHamming: ${diff.mkString}")
    }
    assert(NearDup.simhashPairs(d, 3, cap).count() <
      NearDup.simhashPairs(d, 3, NearDup.DefaultBucketCap).count())
  }

  test("simhashPairs equals the two-exchange reference on random corpora") {
    // few words and short docs: fingerprints collide in whole bands,
    // so buckets fill, caps bind and pairs repeat across bands;
    // token-less docs drop out before banding
    val text = Gen.listOfN(3, Gen.oneOf("ab", "cd", "ef", "gh", "ij"))
      .flatMap(ws => Gen.choose(0, 3).map(n => ws.take(n).mkString(" ")))
    val corpora = Gen.choose(0, 24).flatMap(Gen.listOfN(_, text))
    val prop = Prop.forAllNoShrink(corpora, Gen.choose(0, 3), Gen.choose(1, 6)) {
      (texts, maxHamming, bucketCap) =>
        val diff = compare(docs(texts), maxHamming, bucketCap).orElse(
          same(NearDup.hammingHist(docs(texts), maxHamming, bucketCap),
            SimhashPairsSpec.referenceHist(docs(texts), maxHamming, bucketCap)))
        Prop(diff.isEmpty) :| s"texts=$texts maxHamming=$maxHamming cap=$bucketCap: $diff"
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(25)
      .withInitialSeed(20261019L), prop)
    assert(res.passed, res.status.toString)
  }

  test("simhashPairs equals the reference at the ends of the Long range") {
    val base = "alpha bravo charlie delta echo foxtrot golf hotel " +
      "india juliet kilo lima mike november oscar papa"
    val texts = Seq(base, base.replaceFirst("alpha", "bravo"),
      base.replaceFirst("charlie", "bravo"), base.replaceFirst("delta", "bravo"))
    val ids = Seq(Long.MinValue, Long.MinValue + 1, -(1L << 62), -3L, -1L, 0L,
      1L << 62, Long.MaxValue - 1, Long.MaxValue)
    val d = docsAt(ids.map(Long.box), ids.indices.map(i => texts(i % texts.size)))
    for (maxHamming <- Seq(0, 3)) {
      val diff = compare(d, maxHamming, NearDup.DefaultBucketCap)
      assert(diff.isEmpty, s"maxHamming=$maxHamming: ${diff.mkString}")
    }
    val got = NearDup.simhashPairs(d).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.contains((Long.MinValue, Long.MaxValue)) &&
      got.contains((Long.MinValue + 1, 1L << 62)) && got.contains((-(1L << 62), -3L)),
      got.mkString(" "))
  }

  test("simhashPairs of a corpus with no shared bucket is empty, with the exact schema") {
    // long words: a short word's rolling hash leaves the top band 0
    val words = Seq("internationalization", "counterrevolutionaries",
      "electroencephalograph", "uncharacteristically", "disproportionately")
    val keys = bandKeys(docs(words))
    val apart = for (i <- words.indices; j <- i + 1 until words.size
      if keys(i.toLong).intersect(keys(j.toLong)).isEmpty) yield Seq(words(i), words(j))
    assert(apart.nonEmpty, keys)
    val d = docs(apart.head :+ "")
    for (c <- Seq(d, docs(Nil), docs(Seq("", "  ")))) {
      val diff = compare(c, 3, NearDup.DefaultBucketCap)
      assert(diff.isEmpty, diff.mkString)
      assert(NearDup.simhashPairs(c).isEmpty && NearDup.hammingHist(c).isEmpty)
      val hist = same(NearDup.hammingHist(c), SimhashPairsSpec.referenceHist(c, 3,
        NearDup.DefaultBucketCap))
      assert(hist.isEmpty, hist.mkString)
    }
  }

  test("simhashPairs cuts a degenerate cap-sized bucket between tasks") {
    // identical docs share all four band keys: four cap-sized buckets
    // with the same members, every member a d1 of each
    val cap = 12
    val d = docs(Seq.fill(cap + 5)("the quick brown fox jumps"))
    val diff = compare(d, 3, cap)
    assert(diff.isEmpty, diff.mkString)
    val perTask = NearDup.simhashPairs(d, 3, cap).rdd
      .mapPartitions(it => Iterator(it.map(_.getLong(0)).toSeq)).collect()
    assert(perTask.length == spark.sessionState.conf.numShufflePartitions &&
      perTask.forall(_.nonEmpty), perTask.mkString(" "))
    // each d1 in one task, tasks in d1 order
    assert(perTask.sliding(2).forall { case Array(a, b) => a.last < b.head },
      perTask.mkString(" "))
    assert(perTask.map(_.size).sum == cap * (cap - 1) / 2)
  }

  test("simhashPairs with more shuffle partitions than d1 values") {
    val base = "alpha bravo charlie delta echo foxtrot golf hotel"
    val d = docs(Seq(base, base, base, "zulu yankee xray"))
    withShufflePartitions(16) {
      val diff = compare(d, 3, NearDup.DefaultBucketCap)
      assert(diff.isEmpty, diff.mkString)
      val perTask = NearDup.simhashPairs(d).rdd
        .mapPartitions(it => Iterator(it.size)).collect()
      // d1 0 and d1 1 own a task each, the rest are empty
      assert(perTask.toSeq == Seq(2, 1) ++ Seq.fill(14)(0), perTask.mkString(" "))
    }
  }

  test("simhashPairs: a NULL doc_id that would pair is a named error, else it pairs with nothing") {
    val base = "alpha bravo charlie delta echo foxtrot golf hotel"
    val far = "zulu yankee xray whiskey victor uniform tango sierra"
    val bad = docsAt(Seq(null, 1L, 2L), Seq(base, base, far))
    val e = intercept[IllegalArgumentException](NearDup.simhashPairs(bad))
    assert(e.getMessage.contains("NULL doc_id"), e.getMessage)
    val ref = intercept[Exception](SimhashPairsSpec.reference(bad, 3, 1000).collect())
    assert(Iterator.iterate[Throwable](ref)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains("NULL doc_id")), ref.toString)
    val ok = docsAt(Seq(null, 1L, 2L), Seq(far, base, base))
    val diff = compare(ok, 3, NearDup.DefaultBucketCap)
    assert(diff.isEmpty, diff.mkString)
    assert(NearDup.simhashPairs(ok).count() == 1)
  }

  test("balancedCuts: contiguous ranges of about equal weight, none empty with enough items") {
    val rnd = new scala.util.Random(7)
    for (g <- 0 to 12; n <- 1 to 6) {
      val w = Seq.fill(g)(rnd.nextInt(50).toLong)
      val c = NearDup.balancedCuts(w, n)
      assert(c.length == n + 1 && c.head == 0 && c.last == g, (w, n, c.toSeq))
      if (g >= n) assert(c.sliding(2).forall(p => p(0) < p(1)), (w, n, c.toSeq))
      else assert(c.toSeq == (0 to n).map(math.min(_, g)), (w, n, c.toSeq))
    }
    assert(NearDup.balancedCuts(Seq.fill(100)(1L), 4).toSeq == Seq(0, 25, 50, 75, 100))
    // one heavy item sits alone; the light ones share the other ranges
    assert(NearDup.balancedCuts(Seq(1L, 1L, 100L, 1L, 1L, 1L), 3).toSeq == Seq(0, 2, 3, 6))
  }
}

object SimhashPairsSpec {

  /** The shape `simhashPairs` replaced: the bucket aggregate on an
    * explicit (band, key) hash exchange with `graft_hamming_pairs`
    * behind it, then one range exchange on (d1, d2) for the
    * cross-band `distinct` and the sort. */
  def reference(docs: DataFrame, maxHamming: Int, bucketCap: Int): DataFrame =
    verifiedPairs(docs, maxHamming, bucketCap)
      .repartitionByRange(col("d1"), col("d2"))
      .distinct()
      .orderBy(col("d1"), col("d2"))

  /** The histogram `hammingHist` replaced: the distinct pairs grouped
    * by hamming, each count's share over a whole-frame window. */
  def referenceHist(docs: DataFrame, maxHamming: Int, bucketCap: Int): DataFrame = {
    val wAll = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    verifiedPairs(docs, maxHamming, bucketCap).distinct()
      .groupBy(col("hamming")).agg(count(lit(1)).as("n_pairs"))
      .withColumn("pair_share",
        col("n_pairs").cast("double") / sum(col("n_pairs")).over(wAll))
      .orderBy(col("hamming"))
  }

  /** The verified (d1, d2, hamming) rows of every band, before the
    * cross-band `distinct`: a pair sharing k bands appears k times. */
  private def verifiedPairs(docs: DataFrame, maxHamming: Int,
                            bucketCap: Int): DataFrame = {
    val bandStructs = (0 until 4).map(b =>
      struct(lit(b).as("band"), col(s"b$b").as("key")))
    NearDup.simhash(docs)
      .select(col("doc_id"), col("simhash"),
        explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("simhash"),
        col("bs.band").as("band"), col("bs.key").as("key"))
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions,
        col("band"), col("key"))
      .groupBy(col("band"), col("key"))
      .agg(slice(sort_array(collect_list(struct(col("doc_id"), col("simhash")))),
        1, bucketCap).as("ids"))
      .where(size(col("ids")) > 1)
      .select(explode(call_function("graft_hamming_pairs",
        col("ids"), lit(maxHamming))).as("p"))
      .select(col("p.d1").as("d1"), col("p.d2").as("d2"),
        col("p.hamming").as("hamming"))
  }
}
