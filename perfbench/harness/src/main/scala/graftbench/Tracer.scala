package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** A span at one layer boundary: run → setup → pass → query →
  * {construct, execute} → plan. Times are epoch seconds; `counts`
  * carries the listener and JMX counters read at the same boundary;
  * `pass` is -1 outside the passes. */
final case class Span(id: Int, parent: Int, pass: Int, name: String,
                      start: Double, end: Double,
                      counts: Map[String, Double] = Map.empty,
                      labels: Map[String, String] = Map.empty)

/** Task- and job-level counters from a SparkListener, plus SQL
  * execution start/end times. Read only after the listener bus drained. */
final class ExecListener extends SparkListener {
  var jobs, stages, tasks, emptyTasks, failedTasks = 0L
  var runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill = 0L
  val jobStarts = ArrayBuffer[Double]()
  /** (executionId, start epoch s, is the Runner's parquet write) */
  val execStarts = ArrayBuffer[(Long, Double, Boolean)]()
  val execEnds = scala.collection.mutable.Map[Long, Double]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1; jobStarts += e.time / 1000.0
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (e.reason != org.apache.spark.Success) failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      if (m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead == 0)
        emptyTasks += 1
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execStarts += ((s.executionId, s.time / 1000.0,
        s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand")))
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      execEnds(s.executionId) = s.time / 1000.0
    }
    case _ =>
  }

  def counters: Map[String, Double] = synchronized(Map(
    "exec.jobs" -> jobs.toDouble, "exec.stages" -> stages.toDouble,
    "exec.tasks" -> tasks.toDouble, "exec.empty_tasks" -> emptyTasks.toDouble,
    "exec.failed_tasks" -> failedTasks.toDouble,
    "exec.task_run_s" -> runMs / 1e3, "exec.task_cpu_s" -> cpuNs / 1e9,
    "exec.gc_s" -> gcMs / 1e3, "exec.shuffle_write_mb" -> shuffleWrite / 1048576.0,
    "exec.shuffle_read_mb" -> shuffleRead / 1048576.0,
    "exec.spill_mb" -> spill / 1048576.0))
}

/** One query execution seen by the QueryExecutionListener: Catalyst
  * phase intervals (epoch s), final (AQE) plan shape counts and, for
  * the write, the sink's row and byte counts. */
final case class PlanRec(phases: Seq[(String, Double, Double)],
                         shape: Map[String, Double], shapeString: String,
                         sink: Option[(Double, Double)])

final class PlanListener extends QueryExecutionListener {
  val recs = ArrayBuffer[PlanRec]()

  private def children(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case r: ReusedExchangeExec => Seq(r.child)
    case o => o.children ++ o.subqueries
  }

  /** Every node of the final plan; a reused exchange is not descended
    * into, so it counts once. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case _: ReusedExchangeExec => Nil
    case _ => children(p).flatMap(nodes)
  })

  /** Shape of the final plan as nested node names: expression ids,
    * paths and sizes never enter it, so equal shapes mean "plan
    * identical". */
  private def shapeString(p: SparkPlan): String =
    p.nodeName + children(p).map(shapeString).mkString("(", ",", ")")

  private def record(qe: QueryExecution): Unit = {
    val plan = qe.executedPlan
    val all = nodes(plan)
    val phases = Seq("analysis", "optimization", "planning").flatMap(ph =>
      qe.tracker.phases.get(ph).map(s => (ph, s.startTimeMs / 1e3, s.endTimeMs / 1e3)))
    val shape = Map(
      "plan.exchanges" -> all.count(_.isInstanceOf[Exchange]).toDouble,
      "plan.sort_merge_joins" -> all.count(_.isInstanceOf[SortMergeJoinExec]).toDouble,
      "plan.bnl_joins" -> all.count(_.isInstanceOf[BroadcastNestedLoopJoinExec]).toDouble,
      "plan.unpartitioned_windows" -> all.count {
        case w: WindowExec => w.partitionSpec.isEmpty
        case _ => false
      }.toDouble)
    val sink = all.collectFirst { case w: DataWritingCommandExec =>
      (w.metrics.get("numOutputRows").map(_.value.toDouble).getOrElse(0.0),
        w.metrics.get("numOutputBytes").map(_.value / 1048576.0).getOrElse(0.0))
    }
    synchronized { recs += PlanRec(phases, shape, shapeString(plan), sink) }
  }

  override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
}

/** Records spans and per-layer counters. Listeners are attached only
  * for traced passes; every query boundary drains the listener bus
  * first, so counters read there belong to the query that just ran.
  * Spans stay in memory until [[spansJson]]. */
final class Tracer(spark: SparkSession, setupTimes: Map[String, Double]) {
  private val sc = spark.sparkContext
  private val exec = new ExecListener
  private val plans = new PlanListener
  private val jit = ManagementFactory.getCompilationMXBean
  private var attached = false
  private val spans = ArrayBuffer[Span]()

  private def add(s: Span): Int = { spans += s.copy(id = spans.size + 1); spans.size }
  private def close(id: Int): Unit = spans(id - 1) = spans(id - 1).copy(end = Main.epochS())

  private val jvmStart = setupTimes("jvm_start_epoch_s")
  private val runId = add(Span(0, 0, -1, "run", jvmStart, Double.NaN))
  private val setupId = {
    val ready = setupTimes("ready_epoch_s")
    val scan = setupTimes("session.first_scan_s")
    val build = setupTimes("session.build_s")
    val id = add(Span(0, runId, -1, "setup", jvmStart, ready))
    add(Span(0, id, -1, "session.build", ready - scan - build, ready - scan))
    add(Span(0, id, -1, "session.first_scan", ready - scan, ready))
    id
  }

  private def attach(): Unit = if (!attached) {
    sc.addSparkListener(exec); spark.listenerManager.register(plans); attached = true
  }
  private def detach(): Unit = if (attached) {
    org.apache.spark.BusDrain.drain(sc)
    sc.removeSparkListener(exec); spark.listenerManager.unregister(plans); attached = false
  }

  private def snapshot(): Map[String, Double] = {
    org.apache.spark.BusDrain.drain(sc)
    exec.counters ++ Map(
      "codegen.compile_ms" -> CodeGenerator.compileTime / 1e6,
      "codegen.classes" ->
        CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount.toDouble,
      "jit.compile_ms" -> jit.getTotalCompilationTime.toDouble)
  }

  private final case class Pass(no: Int, traced: Boolean, span: Int,
                                queries: ArrayBuffer[Map[String, Double]],
                                var wall: Double = 0.0)
  private val passes = ArrayBuffer[Pass]()
  private var open: (String, Double, Map[String, Double], Int, Int, Int) = _

  def beginPass(no: Int, traced: Boolean): Unit = {
    if (traced) attach() else detach()
    passes += Pass(no, traced, add(Span(0, runId, no, "pass", Main.epochS(), Double.NaN,
      labels = Map("traced" -> traced.toString))), ArrayBuffer())
  }

  def endPass(wall: Double): Unit = {
    passes.last.wall = wall
    close(passes.last.span)
  }

  def beginQuery(key: String): Unit = if (passes.last.traced) {
    val before = snapshot()
    open = (key, Main.epochS(), before, exec.jobStarts.size, exec.execStarts.size,
      plans.recs.size)
  }

  def endQuery(): Unit = if (passes.last.traced) {
    val after = snapshot()
    val end = Main.epochS()
    val (key, start, before, jobs0, starts0, recs0) = open
    val pass = passes.last
    val (starts, jobTimes, ends) = exec.synchronized {
      (exec.execStarts.drop(starts0).toSeq, exec.jobStarts.drop(jobs0).toSeq,
        exec.execEnds.toMap)
    }
    val recs = plans.synchronized(plans.recs.drop(recs0).toSeq)
    // the query's last parquet write is the Runner's sink; everything
    // before it (eager jobs included) is DataFrame construction
    val write = starts.reverse.find(_._3)
    val writeStart = write.map(_._2).getOrElse(end)
    val writeEnd = write.flatMap(w => ends.get(w._1)).getOrElse(end)
    val phaseSum = (p: String) =>
      recs.flatMap(_.phases).collect { case (`p`, s, e) => e - s }.sum
    val shape = recs.map(_.shape).foldLeft(Map.empty[String, Double]) { (acc, m) =>
      m.foldLeft(acc) { case (a, (k, v)) => a.updated(k, a.getOrElse(k, 0.0) + v) }
    }
    val sink = recs.flatMap(_.sink).lastOption.getOrElse((0.0, 0.0))
    val persistedMb = sc.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0
    val counts = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) } ++
      shape ++ Map(
        "construct.s" -> (writeStart - start),
        "construct.eager_jobs" -> jobTimes.count(_ < writeStart).toDouble,
        "plan.analysis_s" -> phaseSum("analysis"),
        "plan.optimization_s" -> phaseSum("optimization"),
        "plan.planning_s" -> phaseSum("planning"),
        "caches.tracked_frames" -> graft.Caches.tracked.size.toDouble,
        "caches.persisted_mb" -> persistedMb,
        "sink.output_rows" -> sink._1,
        "sink.output_mb" -> sink._2)
    pass.queries += counts
    val hash = f"${recs.map(_.shapeString).mkString(";").hashCode}%08x"
    val qId = add(Span(0, pass.span, pass.no, "query", start, end, counts,
      Map("key" -> key, "plan_hash" -> hash)))
    val cId = add(Span(0, qId, pass.no, "construct", start, writeStart))
    val eId = add(Span(0, qId, pass.no, "execute", writeStart, writeEnd))
    // eager executions plan inside construct; the write is optimized
    // and planned after its execution has started, inside execute
    recs.flatMap(_.phases).foreach { case (ph, s, e) =>
      add(Span(0, if ((s + e) / 2 < writeStart) cId else eId, pass.no, "plan", s, e,
        labels = Map("phase" -> ph)))
    }
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Self time of every span: its duration minus the part of its
    * interval that its children cover (children of one parent do not
    * overlap). */
  private def selfTimes: Map[Int, Double] = {
    val byParent = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = byParent.getOrElse(s.id, Nil).map { c =>
        math.max(0.0, math.min(c.end, s.end) - math.max(c.start, s.start))
      }.sum
      s.id -> (s.end - s.start - covered)
    }.toMap
  }

  /** Per-layer metrics: warm traced passes' medians of per-pass sums
    * (maxima for the cache gauges), the cold pass's codegen and JIT,
    * self times, tracing overhead and the kernel microbench; second,
    * the microbench's input row counts. */
  def summary(data: String): (Seq[(String, Double)], Seq[(String, Double)]) = {
    detach()
    close(runId)
    val cores = sc.defaultParallelism.toDouble
    val gauges = Set("caches.tracked_frames", "caches.persisted_mb")
    def totals(p: Pass): Map[String, Double] =
      p.queries.flatMap(_.keys).distinct.map { k =>
        val vs = p.queries.map(_.getOrElse(k, 0.0)).toSeq
        k -> (if (gauges(k)) vs.max else vs.sum)
      }.toMap + ("pass_s" -> p.wall)
    val warm = passes.filter(p => p.no > 0 && p.traced).toSeq
    val warmTotals = warm.map(totals)
    val plainWall = passes.filter(p => p.no > 0 && !p.traced).map(_.wall).toSeq
    def med(f: Map[String, Double] => Double) = median(warmTotals.map(f))
    val cold = passes.find(_.no == 0).map(totals).getOrElse(Map.empty)
    val self = selfTimes
    def selfMed(name: String): Double = median(warm.map { p =>
      spans.filter(s => s.name == name && s.pass == p.no).map(s => self(s.id)).sum
    })
    val counts = Seq(
      "construct.s", "construct.eager_jobs",
      "plan.analysis_s", "plan.optimization_s", "plan.planning_s",
      "plan.exchanges", "plan.sort_merge_joins", "plan.bnl_joins",
      "plan.unpartitioned_windows",
      "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s",
      "exec.task_cpu_s", "exec.gc_s", "exec.shuffle_write_mb",
      "exec.shuffle_read_mb", "exec.spill_mb", "exec.failed_tasks",
      "caches.tracked_frames", "caches.persisted_mb",
      "sink.output_rows", "sink.output_mb").map(k => k -> med(_.getOrElse(k, 0.0)))
    val derived = Seq(
      "exec.empty_task_frac" -> med(m =>
        m.getOrElse("exec.empty_tasks", 0.0) / math.max(1.0, m.getOrElse("exec.tasks", 0.0))),
      "exec.core_busy_frac" -> med(m => m.getOrElse("exec.task_run_s", 0.0) /
        (m("pass_s") * cores)),
      "codegen.compile_ms" -> cold.getOrElse("codegen.compile_ms", 0.0),
      "codegen.classes" -> cold.getOrElse("codegen.classes", 0.0),
      "jit.compile_ms" -> cold.getOrElse("jit.compile_ms", 0.0),
      "trace.pass_s" -> med(_("pass_s")),
      "trace.overhead_s" -> (med(_("pass_s")) - median(plainWall)))
    val selfs = Seq(
      "self.run_s" -> self(runId),
      "self.setup_s" -> self(setupId)) ++
      Seq("pass", "query", "construct", "plan", "execute").map(n =>
        s"self.${n}_s" -> selfMed(n))
    val setup = Seq("session.build_s", "session.first_scan_s")
      .map(k => k -> setupTimes(k))
    val (rates, rows) = Kernels.run(spark, data)
    (setup ++ counts ++ derived ++ selfs ++ rates, rows)
  }

  def spansJson: String = Json.arr(spans.toSeq.map { s =>
    Json.obj(Seq("id" -> Json.num(s.id), "parent" -> Json.num(s.parent),
      "pass" -> Json.num(s.pass), "name" -> Json.str(s.name),
      "start" -> Json.num(s.start), "end" -> Json.num(s.end)) ++
      (if (s.counts.isEmpty) Nil else Seq("counts" -> Json.obj(s.counts.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Json.num(v) }))) ++
      (if (s.labels.isEmpty) Nil else Seq("labels" -> Json.obj(s.labels.toSeq
        .map { case (k, v) => k -> Json.str(v) }))))
  })
}
