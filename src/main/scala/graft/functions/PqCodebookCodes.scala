package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** Native PQ encoder: the m per-subspace nearest codebook entries of
  * one vector, as `array<bigint>` — the plan-time-codebook sibling of
  * [[CellArgmax]].
  *
  * Replaces pqCodes' broadcast cross join (corpus × |codebook| rows,
  * a per-pair fused sub-dot, then m min_by argmins under a
  * sort-aggregate over the fan-out). The fan-out was quadratic-ish
  * work by itself, and worse: whole-stage codegen evaluates upstream
  * projected columns LAZILY at their first use, so any expensive
  * column riding the fan-out (the IVF cell id) was re-evaluated per
  * PAIR, not per row — measured as 4 × ~80 s stages for one ANN query
  * at the 100× probe. Here every vector computes its m argmins in one
  * row-local pass over the primitive codebook rows: zero fan-out
  * rows, zero aggregate, nothing shuffled.
  *
  * Bit-equality with the composed form: per (entry, subspace) the
  * distance is `(eself_j + cself_j) - 2.0 · xd_j` in exactly that
  * association order, each sub-dot the same left-to-right double fold
  * with the same slice clamp as [[PqSubDots.compute]] (cself_j is
  * precomputed at construction with the identical fold — same JVM
  * arithmetic the Spark column ran), and the argmin applies min_by's
  * `struct(d_j, centroid_id)` order (d asc, id asc ties) under Spark's
  * double ordering (NaN above every number, NaNs equal) —
  * order-independent, so scanning the codebook in any order
  * reproduces the aggregate, NaN distances included. */
case class PqCodebookCodes(child: Expression,
                           ids: Array[Long], cents: Array[Array[Float]],
                           m: Int, subLen: Int)
    extends UnaryExpression {

  require(ids.nonEmpty && ids.length == cents.length,
    s"PqCodebookCodes: ${ids.length} ids / ${cents.length} rows")
  require(m > 0 && subLen > 0, s"PqCodebookCodes: m=$m subLen=$subLen")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_pq_codes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_pq_codes expects array<float>, got ${other.simpleString}")
  }

  /** cself_j per codebook entry — [[PqSubDots.compute]]'s self-dot,
    * precomputed once at plan time with the identical fold. */
  private val cself: Array[Array[Double]] = cents.map { c =>
    val out = new Array[Double](m)
    var j = 0
    while (j < m) {
      val off = j * subLen
      val n = math.min(subLen, math.max(0, c.length - off))
      var acc = 0.0
      var k = 0
      while (k < n) {
        acc += c(off + k).toDouble * c(off + k).toDouble
        k += 1
      }
      out(j) = acc
      j += 1
    }
    out
  }

  def compute(emb: ArrayData): GenericArrayData = {
    val la = emb.numElements()
    // eself_j: self sub-dots of the vector (per-row, m folds)
    val eself = new Array[Double](m)
    var j = 0
    while (j < m) {
      val off = j * subLen
      val n = math.min(subLen, math.max(0, la - off))
      var acc = 0.0
      var k = 0
      while (k < n) {
        val v = emb.getFloat(off + k).toDouble
        acc += v * v
        k += 1
      }
      eself(j) = acc
      j += 1
    }
    val bestD = new Array[Double](m)
    val bestId = new Array[Long](m)
    var i = 0
    while (i < ids.length) {
      val c = cents(i)
      val lb = c.length
      val cs = cself(i)
      val id = ids(i)
      j = 0
      while (j < m) {
        val off = j * subLen
        val n = math.min(subLen,
          math.min(math.max(0, la - off), math.max(0, lb - off)))
        var acc = 0.0
        var k = 0
        while (k < n) {
          acc += emb.getFloat(off + k).toDouble * c(off + k).toDouble
          k += 1
        }
        val d = (eself(j) + cs(j)) - 2.0 * acc
        val ord = SQLOrderingUtil.compareDoubles(d, bestD(j))
        if (i == 0 || ord < 0 || (ord == 0 && id < bestId(j))) {
          bestD(j) = d
          bestId(j) = id
        }
        j += 1
      }
      i += 1
    }
    new GenericArrayData(bestId.map(_.asInstanceOf[Any]))
  }

  override def nullSafeEval(a: Any): Any =
    compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqCodes", this,
      classOf[PqCodebookCodes].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqCodebookCodes =
    copy(child = newChild)
}
