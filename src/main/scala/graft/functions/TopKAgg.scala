package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._

/** Exact bounded-heap top-k per group: `graft_topk(score, id, k)` →
  * array<struct<score double, id bigint>> sorted by (score desc, id
  * asc). The scale-first twin of the `row_number() OVER (PARTITION BY
  * key ORDER BY score DESC) <= k` idiom: a window must shuffle and
  * SORT every row of every group, while this aggregate keeps a k-entry
  * min-heap per group, combines map-side, and ships one ≤k summary per
  * task — per-row cost O(log k), shuffle volume groups×k instead of
  * all rows, and no sort anywhere. Unlike the sketch aggregates this
  * is EXACT (top-k under a total order is mergeable without error:
  * the global top-k is contained in the union of partial top-ks), so
  * its queries hash-match the window oracle bit-for-bit. Scores compare
  * under Spark's own double ordering (NaN above every number, -0.0
  * equal to 0.0, as in the window's ORDER BY), and ties break by lower
  * id, making the result independent of row order. Rows with a NULL
  * score or id are skipped.
  */
case class TopKAgg(scoreExpr: Expression, idExpr: Expression,
                   kExpr: Expression,
                   mutableAggBufferOffset: Int = 0,
                   inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.PriorityQueue[(Double, Long)]] {

  private lazy val k: Int = kExpr.eval(null).asInstanceOf[Number].intValue()

  /** Heap order puts the WORST kept entry at the head so it can be
    * evicted in O(log k): "greater" = worse = lower score, then higher
    * id. Sorting ASCENDING under this same ordering therefore yields
    * best-first — reused in [[eval]]. */
  private val worstFirst: Ordering[(Double, Long)] =
    new Ordering[(Double, Long)] {
      override def compare(a: (Double, Long), b: (Double, Long)): Int = {
        val c = SQLOrderingUtil.compareDoubles(b._1, a._1)
        if (c != 0) c else java.lang.Long.compare(a._2, b._2)
      }
    }

  override def children: Seq[Expression] = Seq(scoreExpr, idExpr, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("id", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_topk"

  override def checkInputDataTypes(): TypeCheckResult =
    if (scoreExpr.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_topk expects a DOUBLE score, got ${scoreExpr.dataType.simpleString}")
    else if (idExpr.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_topk expects a BIGINT id, got ${idExpr.dataType.simpleString}")
    else if (!kExpr.foldable)
      TypeCheckResult.TypeCheckFailure("graft_topk k must be a literal")
    else if (k <= 0)
      TypeCheckResult.TypeCheckFailure(s"graft_topk needs k > 0, got $k")
    else TypeCheckResult.TypeCheckSuccess

  override def createAggregationBuffer(): mutable.PriorityQueue[(Double, Long)] =
    mutable.PriorityQueue.empty[(Double, Long)](worstFirst)

  /** True when a beats b under (score desc, id asc). */
  private def beats(a: (Double, Long), b: (Double, Long)): Boolean =
    worstFirst.compare(a, b) < 0

  private def offer(buf: mutable.PriorityQueue[(Double, Long)],
                    e: (Double, Long)): Unit =
    if (buf.size < k) buf.enqueue(e)
    else if (beats(e, buf.head)) { buf.dequeue(); buf.enqueue(e) }

  override def update(buf: mutable.PriorityQueue[(Double, Long)],
                      input: InternalRow): mutable.PriorityQueue[(Double, Long)] = {
    val s = scoreExpr.eval(input)
    val i = idExpr.eval(input)
    if (s != null && i != null)
      offer(buf, (s.asInstanceOf[Double], i.asInstanceOf[Long]))
    buf
  }

  override def merge(buf: mutable.PriorityQueue[(Double, Long)],
                     other: mutable.PriorityQueue[(Double, Long)]): mutable.PriorityQueue[(Double, Long)] = {
    other.foreach(offer(buf, _))
    buf
  }

  override def eval(buf: mutable.PriorityQueue[(Double, Long)]): Any = {
    val entries = buf.toArray
    java.util.Arrays.sort(entries, worstFirst)
    new GenericArrayData(entries.map { case (s, i) =>
      new GenericInternalRow(Array[Any](s, i))
    })
  }

  override def serialize(buf: mutable.PriorityQueue[(Double, Long)]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.size * 16)
    bb.putInt(buf.size)
    buf.foreach { case (s, i) => bb.putDouble(s).putLong(i) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[(Double, Long)] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) { buf.enqueue((bb.getDouble(), bb.getLong())); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKAgg =
    copy(scoreExpr = newChildren(0), idExpr = newChildren(1),
      kExpr = newChildren(2))
}
