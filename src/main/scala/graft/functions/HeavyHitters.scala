package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Misra–Gries heavy-hitters sketch: `graft_heavy_agg(key, k)` →
  * array<struct<key bigint, est bigint>> sorted by (est desc, key asc).
  * The fixed-state twin of the exact key-frequency aggregate behind
  * [[graft.operators.Skew.skewReport]]: the buffer holds at most `k`
  * counters however many rows or distinct keys flow through, and
  * partial buffers merge by count-sum + decrement (Agarwal et al.'s
  * mergeable-summaries rule), so map-side combine ships one k-entry
  * summary per task. Guarantees (the classic MG bound): every key with
  * true count > n/(k+1) survives, and each reported estimate is a
  * LOWER bound within n/(k+1) of the true count. Estimates (not true
  * counts) depend on merge order, so the operator is rows-only at the
  * gate with a spec bounding it against the exact aggregate — the same
  * contract as the HLL reach and KLL percentile sketches. The SQL
  * builder passes `k` as an int literal: it accepts any integral
  * literal and names a NULL, fractional or string `k` with an
  * `IllegalArgumentException`.
  */
case class MisraGriesAgg(child: Expression, kExpr: Expression,
                         mutableAggBufferOffset: Int = 0,
                         inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.LongMap[Long]] {

  private lazy val k: Int = kExpr.eval(null).asInstanceOf[Number].intValue()

  override def children: Seq[Expression] = Seq(child, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("key", LongType, nullable = false),
    StructField("est", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_heavy_agg"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_heavy_agg expects a BIGINT key, got ${child.dataType.simpleString}")
    else if (!kExpr.foldable)
      TypeCheckResult.TypeCheckFailure("graft_heavy_agg k must be a literal")
    else if (k <= 0)
      TypeCheckResult.TypeCheckFailure(s"graft_heavy_agg needs k > 0, got $k")
    else TypeCheckResult.TypeCheckSuccess

  override def createAggregationBuffer(): mutable.LongMap[Long] =
    mutable.LongMap.empty[Long]

  override def update(buf: mutable.LongMap[Long],
                      input: InternalRow): mutable.LongMap[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val key = v.asInstanceOf[Long]
      if (buf.contains(key)) buf(key) += 1L
      else if (buf.size < k) buf(key) = 1L
      else {
        // full and key absent: decrement every counter (this is the
        // "ignore one occurrence of each of k+1 distinct keys" step
        // that yields the n/(k+1) error bound), dropping zeros
        val dead = mutable.ArrayBuffer.empty[Long]
        buf.foreachEntry { (kk, cnt) =>
          if (cnt == 1L) dead += kk else buf(kk) = cnt - 1L
        }
        dead.foreach(buf.remove)
      }
    }
    buf
  }

  override def merge(buf: mutable.LongMap[Long],
                     other: mutable.LongMap[Long]): mutable.LongMap[Long] = {
    other.foreachEntry { (kk, cnt) =>
      buf(kk) = buf.getOrElse(kk, 0L) + cnt
    }
    if (buf.size > k) {
      // subtract the (k+1)-th largest count from everything and drop
      // non-positives — the merged summary keeps ≤ k counters and the
      // per-merge error adds at most that subtracted count
      val counts = buf.values.toArray
      java.util.Arrays.sort(counts)
      val cut = counts(counts.length - (k + 1))
      val dead = mutable.ArrayBuffer.empty[Long]
      buf.foreachEntry { (kk, cnt) =>
        if (cnt - cut <= 0L) dead += kk else buf(kk) = cnt - cut
      }
      dead.foreach(buf.remove)
    }
    buf
  }

  override def eval(buf: mutable.LongMap[Long]): Any = {
    val entries = buf.toArray.sortBy { case (kk, cnt) => (-cnt, kk) }
    new GenericArrayData(entries.map { case (kk, cnt) =>
      new GenericInternalRow(Array[Any](kk, cnt))
    })
  }

  override def serialize(buf: mutable.LongMap[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.size * 16)
    bb.putInt(buf.size)
    buf.foreachEntry { (kk, cnt) => bb.putLong(kk).putLong(cnt) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.LongMap[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val buf = mutable.LongMap.empty[Long]
    var i = 0
    while (i < n) { buf(bb.getLong()) = bb.getLong(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MisraGriesAgg =
    copy(child = newChildren(0), kExpr = newChildren(1))
}
