package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.{Caches, GraftSession, Runner, SparkEntry, Tables}

/** One benchmark JVM. Drives the engine only through its public entry
  * points (GraftSession.local, SparkEntry.queries via Runner.runOne,
  * Caches) and writes a JSON result file; perfbench/run.py owns the
  * inputs, the oracle check and reporting.
  *
  * Modes:
  *  - `oracles <out.json> <key...>`: dump SparkEntry.oracleSql for keys.
  *  - `run <data> <outDir> <result.json> <warm> <trace 0|1> <key...>`:
  *    set-up, one cold pass, `warm` warm passes, forced GC and retained
  *    heap. The warm pass count is fixed, not timed: warm passes keep
  *    getting faster for many passes (JIT), so every run measures the
  *    same positions on that curve whatever the machine's speed. Each pass
  *    writes every key as a Runner parquet target under
  *    `<outDir>/p<pass>`. With trace=1, listeners record per-layer
  *    counters and spans; untraced warm passes interleave with the
  *    traced ones so the tracing overhead is measured in the same JVM,
  *    and the kernel microbench runs after the passes.
  */
object Main {
  def epochS(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond + i.getNano / 1e9
  }

  def writeFile(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes(StandardCharsets.UTF_8))

  /** Session build + one tiny scan: the set-up every run pays. */
  def setup(data: String): (SparkSession, Map[String, Double]) = {
    val t0 = System.nanoTime()
    val spark = GraftSession.local()
    val t1 = System.nanoTime()
    Tables.region(spark, data).count()
    val t2 = System.nanoTime()
    (spark, Map(
      "ready_epoch_s" -> epochS(),
      "jvm_start_epoch_s" ->
        ManagementFactory.getRuntimeMXBean.getStartTime / 1000.0,
      "session.build_s" -> (t1 - t0) / 1e9,
      "session.first_scan_s" -> (t2 - t1) / 1e9))
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "oracles" :: out :: keys =>
      writeFile(out, Json.obj(keys.map(k => k -> Json.str(SparkEntry.oracleSql(k)))))
    case "run" :: data :: outDir :: result :: warm :: trace :: keys =>
      run(data, outDir, result, warm.toInt, trace == "1", keys)
    case _ =>
      System.err.println("usage: graftbench.Main oracles|run ...")
      sys.exit(2)
  }

  final case class Exec(pass: Int, key: String, seconds: Double,
                        error: Option[String])

  def run(data: String, outDir: String, result: String, warm: Int,
          trace: Boolean, keys: Seq[String]): Unit = {
    val (spark, setupTimes) = setup(data)
    val tracer = if (trace) Some(new Tracer(spark, setupTimes)) else None
    val execs = ArrayBuffer[Exec]()
    val passWall = ArrayBuffer[(Int, Boolean, Double)]()

    def pass(p: Int, traced: Boolean): Double = {
      tracer.foreach(_.beginPass(p, traced))
      val t0 = System.nanoTime()
      keys.foreach { k =>
        tracer.foreach(_.beginQuery(k))
        val q0 = System.nanoTime()
        val err =
          try { Runner.runOne(spark, data, s"$outDir/p$p", k, force = true); None }
          catch { case NonFatal(e) => Some(e.toString) }
        val q1 = System.nanoTime()
        tracer.foreach(_.endQuery())
        execs += Exec(p, k, (q1 - q0) / 1e9, err)
      }
      // a pass is one Runner run: end it with the release that
      // Runner.runAll does after its queries (run-scoped shared frames);
      // keep the two in step
      Caches.clear()
      graft.operators.Affinity.clearCache()
      val wall = (System.nanoTime() - t0) / 1e9
      tracer.foreach(_.endPass(wall))
      passWall += ((p, traced, wall))
      wall
    }

    val first = pass(0, traced = trace)
    // trace runs interleave untraced and traced warm passes as
    // U T T U, repeated whole, so both kinds sit at the same mean
    // position in the JIT warm-up and their difference is the tracing
    // overhead; each kind gets at least `warm` passes
    for (p <- 1 to (if (trace) 4 * ((warm + 1) / 2) else warm))
      pass(p, traced = trace && Set(1, 2)((p - 1) % 4))

    // retained heap: what survives a forced full GC once the run is
    // done; the least of a few GCs, so an asynchronous unpersist still
    // in flight at the first one does not count as retained
    val heapMb = (1 to 5).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

    val (layers, kernelRows) = tracer.map(_.summary(data)).getOrElse((Nil, Nil))
    val out = Json.obj(Seq(
      "setup" -> Json.obj(setupTimes.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "cores" -> Json.num(spark.sparkContext.defaultParallelism.toDouble),
      "first_pass_s" -> Json.num(first),
      "passes" -> Json.arr(passWall.toSeq.map { case (i, traced, w) =>
        Json.obj(Seq("pass" -> Json.num(i.toDouble),
          "traced" -> Json.bool(traced), "seconds" -> Json.num(w)))
      }),
      "execs" -> Json.arr(execs.toSeq.map { e =>
        Json.obj(Seq("pass" -> Json.num(e.pass.toDouble), "key" -> Json.str(e.key),
          "seconds" -> Json.num(e.seconds)) ++
          e.error.map(m => "error" -> Json.str(m)))
      }),
      "heap_retained_mb" -> Json.num(heapMb),
      "layers" -> Json.obj(layers.map { case (k, v) => k -> Json.num(v) }),
      "kernel_rows" -> Json.obj(kernelRows.map { case (k, v) => k -> Json.num(v) })))
    tracer.foreach(t => writeFile(result.stripSuffix(".json") + ".spans.json", t.spansJson))
    writeFile(result, out)
    spark.stop()
  }
}

/** Minimal JSON writer (the harness has no JSON dependency of its own). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
