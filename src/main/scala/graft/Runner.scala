package graft

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Thin pipeline runner: execute named engine queries against one sf
  * directory and write each result as a parquet output with Luigi-like
  * target semantics — an output that already exists (its `_SUCCESS`
  * marker) is skipped, so a re-run after a partial failure only
  * executes the missing pieces — and Luigi-like `requires()`
  * dependencies: a query's dependencies run (or skip, when their
  * targets are satisfied) before it does.
  *
  * This is the engine-side analog of the reference's task layer
  * (/root/reference/metrics/tasks/create_hh_metrics_task.py:12-77 —
  * Luigi tasks whose `output()` targets gate `run()`, and
  * consulting_metrics_supertask.py:32-34 / projtables_task.py:33-35 —
  * `requires()` DAG edges), kept deliberately thin: scheduling and
  * retries stay with whatever runs the JVM; the runner contributes
  * idempotent targets, dependency ordering and a machine-readable
  * per-query status line.
  *
  * Caching contract: every frame a query persists or checkpoints is
  * owned by [[Caches]]. Query-scoped frames ([[Caches.hold]],
  * [[Caches.checkpoint]]: minhash signatures, QA cubes, zipWithIndex
  * base RDDs) end with the query — [[runOne]] calls
  * [[Caches.endQuery]] after the write, on failure too, or a crashed
  * query's frames would squeeze every later one. Run-scoped artifacts
  * ([[Caches.memo]]: the span family's seed frame, the affinity pair
  * frames) survive it, so the next query of the run reuses one build;
  * [[runAll]] releases them at the end of the run. A host
  * application's own cached frames are never touched.
  *
  * Usage: runMain graft.Runner <sfDir> <outDir> [query,query,…|all]
  * [--force]
  */
object Runner {

  /** Reference-shaped default DAG (consulting_metrics_supertask.py's
    * `requires()` edges re-expressed over this engine's queries): the
    * cluster step follows pair generation, exceedance flags follow the
    * daily diff, the contingency table follows the before/after build.
    * Queries are self-contained (a dependency's OUTPUT is not read
    * back), so the edges order work and gate on targets exactly like
    * the reference's task graph. */
  val defaultDependencies: Map[String, Seq[String]] = Map(
    "q_dedup_clusters" -> Seq("q_minhash_dedup"),
    "q_qa_flags" -> Seq("q_qa_daily"),
    "q_contingency" -> Seq("q_before_after"),
    // the ranking evals run after the ranking itself is built
    "q_search_eval" -> Seq("q_search_bm25"),
    "q_search_ndcg" -> Seq("q_search_bm25"),
    // graph preflight before the peel (and the shared pair-frame memo
    // means the ordering also reuses one build)
    "q_k_core" -> Seq("q_graph_stats"))

  /** Requested names expanded with their transitive dependencies, in
    * dependency-first order; fails loud on a cycle. */
  def resolveOrder(names: Seq[String],
                   deps: Map[String, Seq[String]]): Seq[String] = {
    val order = mutable.LinkedHashSet[String]()
    val visiting = mutable.LinkedHashSet[String]()
    def visit(n: String): Unit = {
      if (!order.contains(n)) {
        require(!visiting.contains(n),
          s"dependency cycle: ${visiting.mkString(" -> ")} -> $n")
        visiting += n
        deps.getOrElse(n, Nil).foreach(visit)
        visiting -= n
        order += n
      }
    }
    names.foreach(visit)
    order.toSeq
  }

  def runOne(spark: SparkSession, sfDir: String, outDir: String,
             name: String, force: Boolean): String = {
    // Hadoop FS, not java.nio: outDir may be hdfs://, s3a://, file:/ —
    // the target probe must see the same filesystem the write targets
    val target = new Path(outDir, name)
    val success = new Path(target, "_SUCCESS")
    val fs = target.getFileSystem(spark.sessionState.newHadoopConf())
    if (!force && fs.exists(success)) "skipped (target exists)"
    else
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.mode("overwrite").parquet(target.toString)
        "written"
      } finally Caches.endQuery()
  }

  /** Run `names` (dependencies first) against `sfDir`, one target per
    * query under `outDir`. Returns (name, status) in execution order;
    * a failed query reports `FAILED: …` and does not stop later
    * queries (they may not depend on it). Fatal JVM errors are NOT
    * caught — continuing in a corrupted JVM would report misleading
    * per-query failures. */
  def runAll(spark: SparkSession, sfDir: String, outDir: String,
             names: Seq[String], force: Boolean,
             deps: Map[String, Seq[String]] = defaultDependencies
            ): Seq[(String, String)] = {
    val statuses = resolveOrder(names, deps).map { name =>
      val status =
        try runOne(spark, sfDir, outDir, name, force)
        catch { case NonFatal(e) => s"FAILED: $e" }
      name -> status
    }
    // the run-scoped memos end with the run — a host that wants them
    // warm across runs re-pays one build
    Caches.clear()
    statuses
  }

  /** Every non-flag arg past <outDir> is a name list — flag position
    * doesn't matter ("--force q1" must not silently mean "all"). */
  def parseNames(args: Array[String]): Seq[String] = {
    val nameArgs = args.drop(2).filterNot(_.startsWith("--"))
      .flatMap(_.split(',')).filterNot(_.isEmpty).toSeq
    if (nameArgs.isEmpty || nameArgs == Seq("all"))
      SparkEntry.queries.keys.toSeq.sorted
    else nameArgs
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: graft.Runner <sfDir> <outDir> [names|all] [--force]")
    val sfDir = args(0)
    val outDir = args(1)
    val force = args.contains("--force")
    val names = parseNames(args)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = GraftSession.local()
    val statuses = runAll(spark, sfDir, outDir, names, force)
    statuses.foreach { case (name, status) =>
      println(s"[runner] $name: $status")
    }
    QaLog.append(spark, outDir, statuses.map { case (name, status) =>
      (if (status.startsWith("FAILED")) "ERROR" else "INFO",
        s"$name: $status")
    })
    spark.stop()
    if (statuses.exists(_._2.startsWith("FAILED"))) sys.exit(1)
  }
}

/** Persistent QA log artifact — the engine analog of the reference's
  * file-teed QA logger (/root/reference/dataQA/dailyLogger.py:1-12:
  * every dataQA run logs to console AND appends `qa_log.txt`), so an
  * operator can audit what past runs did without scrollback. Lines
  * use the reference formatter's shape
  * (`timestamp - name - LEVEL - message`). The runner's console
  * status lines stay as-is; this adds the durable tee.
  *
  * Written through Hadoop FS so `outDir` may be any filesystem the
  * run targets; appended as read-then-rewrite because
  * LocalFileSystem (checksummed) rejects `append()` — the log is
  * run-status sized, never fact data, so the rewrite is trivially
  * small. One write per RUN, not per query: a crashed JVM loses at
  * most the in-flight run's lines, and the per-query `_SUCCESS`
  * targets (not the log) are what gate re-execution. */
object QaLog {

  val LogName = "qa_log.txt"

  private def timestamp(): String =
    java.time.LocalDateTime.now()
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss"))

  /** Append `(level, message)` lines to `<dir>/qa_log.txt`. */
  def append(spark: SparkSession, dir: String,
             lines: Seq[(String, String)],
             name: String = "graft.runner"): Unit = {
    if (lines.nonEmpty) {
      val target = new Path(dir, LogName)
      val fs = target.getFileSystem(spark.sessionState.newHadoopConf())
      val existing =
        if (fs.exists(target)) {
          val in = fs.open(target)
          try new String(in.readAllBytes(), "UTF-8") finally in.close()
        } else ""
      val ts = timestamp()
      val block = lines.map { case (level, msg) =>
        s"$ts - $name - $level - $msg\n"
      }.mkString
      val out = fs.create(target, true)
      try out.write((existing + block).getBytes("UTF-8"))
      finally out.close()
    }
  }
}
