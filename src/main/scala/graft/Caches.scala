package graft

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one owner of every frame graft persists or checkpoints. Operator
  * code never calls `persist`/`localCheckpoint` itself; each call site
  * names one of two lifetimes instead:
  *
  *  - QUERY-scoped: [[hold]] persists a frame an operator reads more
  *    than once ([[holdRdd]] the same for a raw RDD), [[checkpoint]]
  *    local-checkpoints a frame to cut an iteration's lineage. All of
  *    them end with the query: [[endQuery]] releases them, and
  *    [[Runner.runOne]] calls it once the query's write has finished
  *    (or failed). [[release]] frees one early, inside a loop.
  *  - RUN-scoped: [[memo]] builds a shared artifact once — a frame
  *    several queries of one run read (the span family's seed frame,
  *    the affinity pair frames). It survives [[endQuery]]; [[clear]]
  *    releases it with everything else, at the end of a
  *    [[Runner.runAll]] run or between pipelines of a long-lived host
  *    session.
  *
  * Because every graft persist goes through here, cleanup releases
  * exactly what graft created: a host application's own cached frames
  * are never touched. The rule that remains is one graft query at a
  * time per JVM — [[endQuery]] releases every query-scoped frame,
  * whichever query held it.
  */
object Caches {

  private val Level = StorageLevel.MEMORY_AND_DISK

  private val held = mutable.ListBuffer[DataFrame]()

  /** Query-scoped RDDs: [[holdRdd]] persists and the blocks behind
    * [[checkpoint]]ed frames. */
  private val rdds = mutable.ListBuffer[RDD[_]]()

  /** Run-scoped artifacts, keyed by (session, input plan, builder tag). */
  private val memos = mutable.Map[(Int, Int, String), DataFrame]()

  /** Persist `df` until the end of the query. A plan that is already
    * cached (a memo, a host frame) stays with its owner. */
  def hold(df: DataFrame): DataFrame = synchronized {
    if (df.storageLevel == StorageLevel.NONE) held += df.persist(Level)
    df
  }

  /** [[hold]] for a raw RDD. */
  def holdRdd[T](rdd: RDD[T]): RDD[T] = synchronized {
    if (rdd.getStorageLevel == StorageLevel.NONE) rdds += rdd.persist(Level)
    rdd
  }

  /** `df.localCheckpoint()`, with the checkpoint's blocks released at
    * the end of the query. */
  def checkpoint(df: DataFrame): DataFrame = {
    val out = df.localCheckpoint()
    synchronized(rdds ++= checkpointRdd(out))
    out
  }

  /** Release a [[hold]] or [[checkpoint]] frame before the query ends
    * (a loop freeing the previous round). Frames this registry does
    * not own are left alone. */
  def release(df: DataFrame): Unit = synchronized {
    if (held.contains(df)) {
      held -= df
      quietly(df.unpersist(blocking = false))
    }
    checkpointRdd(df).filter(rdds.contains).foreach { r =>
      rdds -= r
      quietly(r.unpersist(blocking = false))
    }
  }

  /** Build-once lookup for a run-scoped artifact: the first call per
    * (session, `input` plan, `kind`) persists `build`'s result — a
    * frame `build` already [[hold]]s (to materialize it early) moves
    * from query to run scope — and later calls return the SAME frame,
    * re-persisting it if its cache was dropped meanwhile. */
  def memo(input: DataFrame, kind: String)
          (build: => DataFrame): DataFrame = synchronized {
    val key = (System.identityHashCode(input.sparkSession),
      input.queryExecution.analyzed.semanticHash(), kind)
    val df = memos.getOrElseUpdate(key, {
      val b = build
      held -= b
      b
    })
    if (df.storageLevel == StorageLevel.NONE) df.persist(Level)
    df
  }

  /** Every persisted frame currently owned: the query's [[hold]]s and
    * the run's [[memo]]s. */
  def tracked: Seq[DataFrame] = synchronized((held ++ memos.values).toSeq)

  /** How many [[hold]] frames are currently tracked (diagnostics). */
  def heldCount: Int = synchronized(held.size)

  /** Release every query-scoped frame and RDD; [[memo]]s stay. */
  def endQuery(): Unit = synchronized {
    held.foreach(df => quietly(df.unpersist(blocking = false)))
    rdds.foreach(r => quietly(r.unpersist(blocking = false)))
    held.clear()
    rdds.clear()
  }

  /** Release everything, [[memo]]s included. A held frame released
    * while a query still reads it recomputes; a released checkpoint
    * cannot, so call this (like [[endQuery]]) between queries. */
  def clear(): Unit = synchronized {
    endQuery()
    memos.values.foreach(df => quietly(df.unpersist(blocking = false)))
    memos.clear()
  }

  /** The checkpointed RDD when `df` is a checkpoint's result (its
    * plan IS the LogicalRDD; a frame merely reading one is not). */
  private def checkpointRdd(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.logical match {
      case r: LogicalRDD => Some(r.rdd)
      case _ => None
    }

  private def quietly(f: => Unit): Unit =
    try f catch { case NonFatal(_) => () }
}
