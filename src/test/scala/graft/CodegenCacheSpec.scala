package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics

/** Repeated queries reuse their compiled stages: Spark's generated-code
  * cache is sized to graft's working set
  * ([[GraftSession.CodegenCacheMaxEntries]]) and generated class names
  * carry no stage id, so a second run of the same keys in one session
  * finds its classes in the cache instead of compiling them again. */
class CodegenCacheSpec extends SparkSpec {

  /** The benchmark's query keys (household and corpus_graph). */
  private val keys = Seq("q_reach_multi", "q_frequency", "q_qa_multigroup",
    "q_simhash_pairs", "q_k_core")

  test("a warm pass of the benchmark keys compiles almost nothing") {
    assert(spark.sessionState.conf.codegenCacheMaxEntries ==
      GraftSession.CodegenCacheMaxEntries)
    // stage ids vary with AQE's re-planning order; in a class name they
    // would make the same fragment miss the cache on a later run
    assert(!spark.sessionState.conf.wholeStageUseIdInClassName)
    val out = Files.createTempDirectory("graft-codegen-cache").toString
    def pass(p: Int): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      keys.foreach { k =>
        assert(Runner.runOne(spark, sf("sf0.001"), s"$out/p$p", k,
          force = true) == "written")
      }
      Caches.clear()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    val cold = pass(0)
    val warm = pass(1)
    assert(cold > 0)
    assert(warm <= cold * 5 / 100, s"cold pass compiled $cold units, warm $warm")
  }
}
