package graft

import java.lang.management.ManagementFactory
import java.nio.file.Files

/** A long-lived session does not accumulate per-pass state: Spark's
  * status store keeps a bounded tail of finished executions, jobs and
  * stages ([[GraftSession.RetainedExecutions]] and its siblings), and
  * repeated passes of the household keys, with the run-scoped frames
  * released between them, leave the retained heap nearly flat. */
class HeapGrowthSpec extends SparkSpec {

  /** The benchmark's household keys. */
  private val keys = Seq("q_reach_multi", "q_frequency", "q_qa_multigroup")

  private def drainListenerBus(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** Heap in use after a full GC, in MB, once it has settled: full GCs
    * repeat until a reading moves less than 0.1 MB from the one before,
    * so asynchronous cleanup still in flight (unpersists, the context
    * cleaner freeing earlier suites' shuffles and broadcasts) does not
    * count as growth or shrinkage of these passes. */
  private def retainedMb(): Double = {
    def read(): Double = {
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var (prev, cur, n) = (Double.MaxValue, read(), 1)
    while (math.abs(prev - cur) >= 0.1 && n < 15) {
      prev = cur
      cur = read()
      n += 1
    }
    math.min(prev, cur)
  }

  test("the status store retention bounds are the session's") {
    val conf = spark.sparkContext.getConf
    assert(conf.get("spark.sql.ui.retainedExecutions").toInt ==
      GraftSession.RetainedExecutions)
    assert(conf.get("spark.ui.retainedJobs").toInt == GraftSession.RetainedJobs)
    assert(conf.get("spark.ui.retainedStages").toInt == GraftSession.RetainedStages)
  }

  test("five household passes grow the retained heap by at most 1 MB a pass") {
    val out = Files.createTempDirectory("graft-heap-growth").toString
    def pass(p: Int): Unit = {
      keys.foreach { k =>
        assert(Runner.runOne(spark, sf("events"), s"$out/p$p", k,
          force = true) == "written")
      }
      Caches.clear()
    }
    // the first pass fills the codegen cache and the status store's
    // tail; growth is measured over the four passes after it
    pass(0)
    drainListenerBus()
    val first = retainedMb()
    (1 to 4).foreach(pass)
    drainListenerBus()
    val perPass = (retainedMb() - first) / 4
    info(f"retained heap grew $perPass%.2f MB per pass")
    val store = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.statusStore
    assert(store.executionsCount() <= GraftSession.RetainedExecutions)
    assert(perPass <= 1.0, f"retained heap grew $perPass%.2f MB per pass")
  }
}
