package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.keys.{Family, Key}

/** The query-key registry: one declaration per key, an oracle or a
  * reason, and the bench lists derived from the same declarations. */
class RegistrySpec extends AnyFunSuite {

  private def rowsOnly(k: Key) = k.oracle.isInstanceOf[Key.RowsOnly]

  test("319 keys: 312 with oracle SQL, 7 rows-only") {
    assert(SparkEntry.registry.size == 319)
    assert(SparkEntry.queries.size == 319)
    assert(SparkEntry.oracleSql.size == 312)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.registry.count(rowsOnly) == 7)
  }

  test("310 headline keys and the 9 excluded ones with their reasons") {
    val excluded = Map(
      "q_ann_topk" -> ("quadratic-by-design exact eval baseline " +
        "(brute-force top-k; the benched scale paths are ivf/pq/sq)"),
      "q_embed_neardup" -> ("quadratic-by-design exact eval baseline " +
        "(all-pairs cosine; the benched scale path is q_embed_lsh)"),
      "q_dedup_recall" -> ("runs the quadratic exact leg to score the " +
        "approximate one; at scale it runs on a held-out sample"),
      "q_frequency_dedup" -> "dim-frame variant of the benched q_frequency",
      "q_friendly_join" -> ("dim-frame assembly (right-outer coalesce " +
        "of the tiny friendly map)"),
      "q_friendly_rename" -> "dim-frame relabeling over the tiny friendly map",
      "q_media_projection" -> ("dim-frame assembly over the benched " +
        "reach/projection legs"),
      "q_qa_hourshift" -> ("parameter variant of the benched q_qa_daily " +
        "(hour shift + trailing period)"),
      "q_reach_multi" -> ("multi-dimension variant of the benched " +
        "q_reach_by_type (one stacked reach pass)"))
    assert(Bench.excluded == excluded)
    assert(Bench.headline.size == 310)
    assert(Bench.headline.distinct.size == 310)
    assert(Bench.headline.toSet ++ excluded.keySet == SparkEntry.queries.keySet)
  }

  test("every rows-only and bench-exclusion reason is non-empty") {
    val blank = SparkEntry.registry.collect {
      case k if k.benchExcluded.exists(_.trim.isEmpty) => k.name
      case k @ Key(_, _, Key.RowsOnly(r), _) if r.trim.isEmpty => k.name
    }
    assert(blank.isEmpty, blank.mkString(", "))
  }

  test("a key declared by two families fails with its name and declarers") {
    def fam(n: String, ks: String*): Family = new Family {
      val keys = ks.map(k => Key(k, (s, _) => s.emptyDataFrame,
        Key.RowsOnly("test")))
      override def name = n
    }
    val e = intercept[IllegalArgumentException] {
      SparkEntry.declared(Seq(fam("A", "q_x", "q_y"), fam("B", "q_z", "q_x")))
    }
    assert(e.getMessage.contains("q_x (A, B)"), e.getMessage)
    assert(!e.getMessage.contains("q_y"))
    val within = intercept[IllegalArgumentException] {
      SparkEntry.declared(Seq(fam("A", "q_x", "q_x")))
    }
    assert(within.getMessage.contains("q_x (A, A)"), within.getMessage)
    assert(SparkEntry.declared(Seq(fam("A", "q_x"), fam("B", "q_y")))
      .map(_.name) == Seq("q_x", "q_y"))
  }

  test("declaring keys builds no oracle text") {
    var built = 0
    val f = new Family {
      val keys = Seq(key("q_x", (s, _) => s.emptyDataFrame) {
        built += 1
        "SELECT 1"
      })
    }
    val ks = SparkEntry.declared(Seq(f))
    ks.map(k => k.name -> k.build).toMap
    assert(built == 0)
    val Key.Sql(sql) = ks.head.oracle: @unchecked
    assert(sql() == "SELECT 1" && built == 1)
  }
}
