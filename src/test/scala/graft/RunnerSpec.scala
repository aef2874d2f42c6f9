package graft

import java.nio.file.{Files, Paths}

class RunnerSpec extends SparkSpec {

  test("runner writes targets once and skips existing ones") {
    val out = Files.createTempDirectory("graft-runner").toString
    val sfDir = "/root/testdata/sf0.001"
    assert(Runner.runOne(spark, sfDir, out, "q_reach_overall", force = false)
      == "written")
    assert(Files.exists(Paths.get(out, "q_reach_overall", "_SUCCESS")))
    assert(spark.read.parquet(s"$out/q_reach_overall").count() == 1)
    // second run: Luigi-style target semantics
    assert(Runner.runOne(spark, sfDir, out, "q_reach_overall", force = false)
      == "skipped (target exists)")
    // force re-executes
    assert(Runner.runOne(spark, sfDir, out, "q_reach_overall", force = true)
      == "written")
  }

  test("dependencies run first, satisfied targets skip, cycles fail") {
    val deps = Map("b" -> Seq("a"), "c" -> Seq("b", "a"))
    assert(Runner.resolveOrder(Seq("c"), deps) == Seq("a", "b", "c"))
    assert(Runner.resolveOrder(Seq("c", "a"), deps) == Seq("a", "b", "c"))
    intercept[IllegalArgumentException] {
      Runner.resolveOrder(Seq("x"), Map("x" -> Seq("y"), "y" -> Seq("x")))
    }
    // end-to-end: requesting only the dependent runs its dependency
    // first; a re-run skips both via their satisfied targets
    val out = Files.createTempDirectory("graft-runner-deps").toString
    val sfDir = "/root/testdata/sf0.001"
    val first = Runner.runAll(spark, sfDir, out, Seq("q_qa_flags"),
      force = false, deps = Map("q_qa_flags" -> Seq("q_qa_daily")))
    assert(first == Seq("q_qa_daily" -> "written", "q_qa_flags" -> "written"))
    val second = Runner.runAll(spark, sfDir, out, Seq("q_qa_flags"),
      force = false, deps = Map("q_qa_flags" -> Seq("q_qa_daily")))
    assert(second.forall(_._2 == "skipped (target exists)"))
  }

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Buffer-RDD ids behind the materialized caches of `Caches.tracked`. */
  private def trackedBufferIds: Set[Int] = {
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    Caches.tracked.flatMap(df =>
      cm.lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]))
      .map(_.cachedRepresentation.cacheBuilder)
      .filter(_.isCachedColumnBuffersLoaded)
      .map(_.cachedColumnBuffers.id).toSet
  }

  /** Plans registered in the session's CacheManager, read from its
    * private `cachedData` field (Spark has no public listing). */
  private def cachedPlans: Seq[AnyRef] = {
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val f = cm.getClass.getDeclaredField("cachedData")
    f.setAccessible(true)
    f.get(cm).asInstanceOf[IndexedSeq[Product]].toSeq
      .map(_.productElement(0).asInstanceOf[AnyRef])
  }

  test("runOne unpersists only the RDDs the query itself created") {
    val out = Files.createTempDirectory("graft-runner-cache").toString
    val sfDir = "/root/testdata/sf0.001"
    // one key per way a query persists: a held frame, local
    // checkpoints, an early release, a raw RDD persist, a memo — and
    // whether the key leaves a run-scoped memo behind (q_k_core holds
    // its half-edge RDD over the memoized co-purchase pairs;
    // q_dedup_clusters holds its half-edge RDD only)
    val forms = Seq(
      ("q_minhash_dedup", "hold", false),
      ("q_k_core", "rdd + memo", true),
      ("q_qa_multigroup", "checkpoint", false),
      ("q_dedup_clusters", "rdd", false),
      ("q_shingle_stats", "release", false),
      ("q_value_mapping", "rdd", false),
      ("q_span_dedup", "memo", true))
    Caches.clear()
    val hostFrame = spark.range(0, 10).persist()
    hostFrame.count() // materialize the host application's cache
    val hostIds = persistedIds
    assert(hostIds.nonEmpty)
    forms.foreach { case (key, form, memo) =>
      // the form is real: the query persists something while it runs
      SparkEntry.queries(key)(spark, sfDir).write.format("noop")
        .mode("overwrite").save()
      assert((persistedIds -- hostIds).nonEmpty, s"$key ($form) persisted nothing")
      Caches.clear()
      assert(persistedIds == hostIds, s"$key ($form): clear left RDDs behind")

      Runner.runOne(spark, sfDir, out, key, force = true)
      // the query's own frames are gone, the host's and the run's
      // memos survive
      val memoIds = trackedBufferIds
      assert(persistedIds == hostIds ++ memoIds, s"$key ($form)")
      assert(memo == memoIds.nonEmpty, s"$key ($form): memos $memoIds")
      Runner.runAll(spark, sfDir, out, Nil, force = true)
      assert(persistedIds == hostIds, s"$key ($form): runAll kept RDDs")
    }
    assert(hostFrame.storageLevel.useMemory, "host cache was clobbered")
    hostFrame.unpersist()
  }

  test("Verify releases each dumped query's frames after its write") {
    val out = Files.createTempDirectory("graft-verify-cache").toString
    Caches.clear()
    val before = persistedIds
    Verify.dump(spark, sf("events"), out,
      Seq("q_minhash_dedup", "q_qa_multigroup"))
    assert(Files.exists(Paths.get(out, "q_qa_multigroup", "_SUCCESS")))
    // both keys hold or checkpoint frames while they run; only the
    // run-scoped memos may outlive their dump
    assert(persistedIds == before ++ trackedBufferIds,
      s"left behind: ${persistedIds -- before -- trackedBufferIds}")
    Caches.clear()
    assert(persistedIds == before)
  }

  test("runOne removes its CacheManager entries, not just the RDDs") {
    val out = Files.createTempDirectory("graft-runner-cm").toString
    val hostFrame = spark.range(0, 7).toDF("h").persist()
    hostFrame.count()
    val beforePlans = cachedPlans
    assert(beforePlans.nonEmpty, "reflective CacheManager enumeration broke")
    Runner.runOne(spark, "/root/testdata/sf0.001", out, "q_minhash_dedup",
      force = true)
    // a stale entry with unpersisted buffers would be a DEAD cache: the
    // next query persisting the same signature-frame plan would no-op
    // ("already cached") and recompute the chain once per consumer
    val afterPlans = cachedPlans
    assert(afterPlans.size == beforePlans.size,
      s"leaked ${afterPlans.size - beforePlans.size} CacheManager entries")
    assert(hostFrame.storageLevel.useMemory, "host cache was clobbered")
    hostFrame.unpersist()
  }

  test("shared seed artifact is run-scoped: survives runOne, released by runAll") {
    val out = Files.createTempDirectory("graft-runner-shared").toString
    val sfDir = "/root/testdata/sf0.001"
    Caches.clear()
    val beforeIds = persistedIds
    assert(Runner.runOne(spark, sfDir, out, "q_span_dedup", force = true)
      == "written")
    // the memoized seed frame survived the per-query cleanup with its
    // buffers intact — q_span_strip/q_novelty in the same run reuse
    // one tokenize+hash corpus scan instead of paying their own
    val kept = Caches.tracked.filter(df =>
      df.storageLevel.useMemory || df.storageLevel.useDisk)
    assert(kept.nonEmpty, "seed frame was dropped by query-scoped cleanup")
    val statuses = Runner.runAll(spark, sfDir, out,
      Seq("q_novelty", "q_span_strip"), force = true, deps = Map.empty)
    assert(statuses.forall(_._2 == "written"), statuses.toString)
    // end of run: the shared artifacts are gone, RDD-level too
    assert(persistedIds == beforeIds)
  }

  test("name parsing is flag-position independent") {
    val all = SparkEntry.queries.keys.toSeq.sorted
    assert(Runner.parseNames(Array("sf", "out")) == all)
    assert(Runner.parseNames(Array("sf", "out", "all")) == all)
    assert(Runner.parseNames(Array("sf", "out", "all", "--force")) == all)
    assert(Runner.parseNames(Array("sf", "out", "q1,q2")) == Seq("q1", "q2"))
    // the bug this guards: flag before the name must NOT mean "all"
    assert(Runner.parseNames(Array("sf", "out", "--force", "q1")) == Seq("q1"))
  }

  test("qa_log.txt accumulates status lines across runs, reference format") {
    import java.nio.file.{Files, Paths}
    val out = Files.createTempDirectory("graft-qalog").toString
    QaLog.append(spark, out, Seq("INFO" -> "q_x: written"))
    QaLog.append(spark, out, Seq(
      "ERROR" -> "q_y: FAILED: boom",
      "INFO" -> "q_z: skipped (target exists)"))
    val lines = new String(
      Files.readAllBytes(Paths.get(out, QaLog.LogName)), "UTF-8")
      .split("\n").toSeq
    assert(lines.length == 3, s"two appends must accumulate, got $lines")
    // dailyLogger.py formatter shape: timestamp - name - LEVEL - message
    assert(lines.head.matches(
      """\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2} - graft\.runner - INFO - q_x: written"""),
      lines.head)
    assert(lines(1).contains(" - ERROR - q_y: FAILED: boom"))
    assert(lines(2).contains(" - INFO - q_z: skipped (target exists)"))
  }
}
