package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame

/** Scratch dev main — per-query stage-metric decomposition, not part
  * of the library. Usage: DevProbe <query names...> with
  * SPARK_GRAFT_SF_DIR; each query runs twice (cold + warm), each run
  * with its wall time, compiled code units, Spark jobs (eager
  * construction jobs included) and, split out, the construction time
  * and the eager jobs run while the frame was built; the warm one
  * with per-stage wall/cpu/gc/spill/shuffle breakdowns. */
object DevProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val sc = spark.sparkContext
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val s = e.stageInfo
        val ms = for {
          a <- s.submissionTime; b <- s.completionTime
        } yield b - a
        stages.add(f"stage ${s.stageId}%4d tasks=${s.numTasks}%5d " +
          f"wall=${ms.getOrElse(-1L) / 1000.0}%8.1fs " +
          f"cpu=${s.taskMetrics.executorCpuTime / 1e9}%8.1fs " +
          f"gc=${s.taskMetrics.jvmGCTime / 1e3}%7.1fs " +
          f"spill=${s.taskMetrics.diskBytesSpilled / 1e6}%8.1fMB " +
          f"shW=${s.taskMetrics.shuffleWriteMetrics.bytesWritten / 1e6}%8.1fMB " +
          s.name.take(60))
      }
    })
    // same trial hygiene as Bench.runOnce: the warm run must pay
    // its own ANN training, or the probe measures the memo
    def clear(): Unit = {
      Caches.clear()
      SparkEntry.clearSessionMemos()
    }
    // the listener bus delivers job events asynchronously; drain it
    // (Spark-private, so by reflection) before reading the count
    def drain(): Unit = {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    }
    def time1(label: String, detail: Boolean)(f: => DataFrame): Unit = {
      stages.clear()
      jobs.set(0)
      // code units compiled (codegen-cache misses): a warm run that
      // still compiles names a plan whose generated source changes
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      val df = f
      val construct = (System.nanoTime() - t0) / 1e9
      // jobs run while the frame was built; the drain is off the clock
      drain()
      val eager = jobs.get
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val wall = construct + (System.nanoTime() - t1) / 1e9
      drain()
      println(f"[probe] $label $wall%.2f s " +
        s"compiled=${CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0} " +
        f"jobs=${jobs.get} construct=$construct%.2f eager=$eager")
      if (detail) stages.forEach(s => println("[probe]   " + s))
      clear()
    }
    args.foreach { q =>
      val fn = SparkEntry.queries(q)
      time1(s"$q cold", detail = false)(fn(spark, dir))
      time1(s"$q warm", detail = true)(fn(spark, dir))
    }
    spark.stop()
  }
}
