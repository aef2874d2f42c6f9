package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.storage.StorageLevel

class CachesSpec extends SparkSpec {
  import spark.implicits._

  test("hold persists and clear releases exactly the tracked frames") {
    Caches.clear()
    val a = Seq(1, 2, 3).toDF("x").transform(Caches.hold)
    val b = Seq(4).toDF("y").transform(Caches.hold)
    a.count(); b.count()
    assert(a.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(b.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(Caches.heldCount == 2)
    // an untracked caller-persisted frame must survive the clear
    val mine = Seq(9).toDF("z").persist(StorageLevel.MEMORY_AND_DISK)
    mine.count()
    Caches.clear()
    assert(Caches.heldCount == 0)
    assert(a.storageLevel == StorageLevel.NONE)
    assert(b.storageLevel == StorageLevel.NONE)
    assert(mine.storageLevel == StorageLevel.MEMORY_AND_DISK)
    // a released frame still computes (recompute, not error)
    assert(a.count() == 3)
    mine.unpersist()
  }

  test("memo builds once per (input, kind) and re-registers after a drop") {
    Caches.clear()
    val in = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    var builds = 0
    val f1 = Caches.memo(in, "spec") { builds += 1; in.select("id") }
    val f2 = Caches.memo(in, "spec") { builds += 1; in.select("id") }
    assert((f1 eq f2) && builds == 1)
    // a different kind over the same input is a different artifact
    Caches.memo(in, "spec2") { builds += 1; in.select("v") }
    assert(builds == 2)
    // external scoped cleanup drops the buffers -> lookup re-registers
    // the SAME frame without rebuilding the plan
    f1.unpersist(blocking = true)
    assert(f1.storageLevel == StorageLevel.NONE)
    val f3 = Caches.memo(in, "spec") { builds += 1; in.select("id") }
    assert((f3 eq f1) && builds == 2)
    assert(f1.storageLevel == StorageLevel.MEMORY_AND_DISK)
    Caches.clear()
  }

  test("operators still answer after a mid-session clear") {
    val docs = Tables.documents(spark, sf("documents"))
    val before = operators.TextAnalysis.tfidf(docs, 3).count()
    Caches.clear()
    assert(operators.TextAnalysis.tfidf(docs, 3).count() == before)
  }

  test("span family shares ONE seed frame per corpus across all three ops") {
    import graft.operators.NearDup
    Caches.clear()
    val planted = NearDup.plantSpans(
      Tables.documents(spark, sf("documents")))
    assert(NearDup.spanDedup(planted, 8).count() > 0)
    // the seed frame spanDedup built is memoized under the corpus
    // plan — a second consumer must get a memo HIT, not rebuild the
    // tokenize+hash scan (the round-6 3-scans-for-one-artifact cost)
    var rebuilt = false
    Caches.memo(planted, "neardup.seeds.8") { rebuilt = true; planted }
    assert(!rebuilt,
      "spanStrip/seedNovelty would rebuild the seed frame — memo key drifted")
    val trackedBefore = Caches.tracked.size
    NearDup.spanStrip(planted, 8).count()
    NearDup.seedNovelty(planted, 8).count()
    assert(Caches.tracked.size == trackedBefore,
      "strip/novelty registered extra seed frames instead of sharing")
    Caches.clear()
  }

  test("a host frame persisted between a hold and endQuery survives endQuery") {
    Caches.clear()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val held = Seq(1, 2).toDF("x").transform(Caches.hold)
    held.count()
    Caches.checkpoint(Seq(3, 4).toDF("c"))
    val rdd = Caches.holdRdd(sc.parallelize(Seq(5, 6)))
    rdd.count()
    val in = Seq(7L).toDF("m")
    val memo = Caches.memo(in, "spec.endQuery")(in.select("m"))
    memo.count()
    // the host persists its own frame while the query's frames are live
    val host = Seq(8).toDF("h").persist(StorageLevel.MEMORY_AND_DISK)
    host.count()
    val live = sc.getPersistentRDDs.keySet -- before
    assert(live.size == 5, s"expected 5 new persisted RDDs, got $live")

    Caches.endQuery()
    assert(held.storageLevel == StorageLevel.NONE)
    assert(!sc.getPersistentRDDs.contains(rdd.id))
    assert(host.storageLevel == StorageLevel.MEMORY_AND_DISK,
      "endQuery released a host frame")
    assert(memo.storageLevel == StorageLevel.MEMORY_AND_DISK,
      "endQuery released a run-scoped memo")
    // what is left is exactly the memo's and the host's buffers
    assert((sc.getPersistentRDDs.keySet -- before).size == 2)
    Caches.clear()
    assert(memo.storageLevel == StorageLevel.NONE)
    assert(host.storageLevel == StorageLevel.MEMORY_AND_DISK)
    host.unpersist()
  }

  test("release frees one hold or checkpoint early and ignores foreign frames") {
    Caches.clear()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val a = Seq(1).toDF("a").transform(Caches.hold)
    val c = Caches.checkpoint(Seq(2).toDF("c"))
    a.count()
    assert((sc.getPersistentRDDs.keySet -- before).size == 2)
    Caches.release(a)
    assert(a.storageLevel == StorageLevel.NONE && Caches.heldCount == 0)
    Caches.release(c)
    assert(sc.getPersistentRDDs.keySet == before)
    // a frame Caches does not own is not its to release
    val host = Seq(3).toDF("h").persist(StorageLevel.MEMORY_AND_DISK)
    Caches.release(host)
    assert(host.storageLevel == StorageLevel.MEMORY_AND_DISK)
    // nor does hold take over a plan that is already cached
    Caches.hold(host)
    assert(Caches.heldCount == 0)
    Caches.endQuery()
    assert(host.storageLevel == StorageLevel.MEMORY_AND_DISK)
    host.unpersist()
  }

  test("operator code persists and checkpoints only through Caches") {
    // the invariant that lets Runner release a query's frames without
    // diffing the session's cache state: nothing else persists, and
    // nothing outside Caches sweeps the session's caches either
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val allowed = Set("Caches.scala")
    val banned = ("""\.persist\(|\.cache\(\)|\.localCheckpoint\(|""" +
      """getPersistentRDDs|catalog\.clearCache""").r
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 20, s"source scan found only ${files.size} files under $root")
    val hits = for {
      f <- files if !allowed(f.getFileName.toString)
      (line, i) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      if banned.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
