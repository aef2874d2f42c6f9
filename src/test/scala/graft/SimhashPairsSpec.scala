package graft

import graft.operators.NearDup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}

/** [[NearDup.simhashPairs]] against the two-exchange shape it
  * replaced: equal schema and equal rows in order. */
class SimhashPairsSpec extends SparkSpec {
  import spark.implicits._

  private def docs(texts: Seq[String]): DataFrame =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  private def compare(d: DataFrame, maxHamming: Int, bucketCap: Int): Option[String] = {
    val got = NearDup.simhashPairs(d, maxHamming, bucketCap)
    val want = SimhashPairsSpec.reference(d, maxHamming, bucketCap)
    val (g, w) = (got.collect().toSeq, want.collect().toSeq)
    if (got.schema != want.schema) Some(s"schema ${got.schema} vs ${want.schema}")
    else if (g != w) Some(s"${g.size} vs ${w.size} rows, first difference " +
      g.zipAll(w, null, null).find { case (a, b) => a != b })
    else None
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
        val diff = compare(docs(texts), maxHamming, bucketCap)
        Prop(diff.isEmpty) :| s"texts=$texts maxHamming=$maxHamming cap=$bucketCap: $diff"
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(25)
      .withInitialSeed(20261019L), prop)
    assert(res.passed, res.status.toString)
  }
}

object SimhashPairsSpec {

  /** The shape `simhashPairs` replaced: the bucket aggregate on AQE's
    * coalesced shuffle, then a hash exchange for the cross-band
    * `distinct` and a range exchange for the sort. */
  def reference(docs: DataFrame, maxHamming: Int, bucketCap: Int): DataFrame = {
    val bandStructs = (0 until 4).map(b =>
      struct(lit(b).as("band"), col(s"b$b").as("key")))
    NearDup.simhash(docs)
      .select(col("doc_id"), col("simhash"),
        explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("simhash"),
        col("bs.band").as("band"), col("bs.key").as("key"))
      .groupBy(col("band"), col("key"))
      .agg(slice(sort_array(collect_list(struct(col("doc_id"), col("simhash")))),
        1, bucketCap).as("ids"))
      .where(size(col("ids")) > 1)
      .select(explode(call_function("graft_hamming_pairs",
        col("ids"), lit(maxHamming))).as("p"))
      .select(col("p.d1").as("d1"), col("p.d2").as("d2"),
        col("p.hamming").as("hamming"))
      .distinct()
      .orderBy(col("d1"), col("d2"))
  }
}
