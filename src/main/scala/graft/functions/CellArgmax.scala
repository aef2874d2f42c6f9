package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Native IVF cell assignment: `CellArgmax(embedding, nrm)` over a
  * plan-time centroid table (ids + float rows + norms, carried as
  * reference objects — the [[SrpBandSigs]] plane-table pattern)
  * returns the centroid id maximizing `graft_dot(e, c) / (nrm · cn)`
  * with the `graft_topk(ccos, id, 1)` tie rule (score desc, id asc).
  *
  * Why: the composed assignment was a broadcast cross join fanning
  * every vector out to |centroids| rows, a per-pair `graft_dot`
  * through the megamorphic ArrayData interface, a topk hash aggregate
  * over the √n-times-corpus-sized fan-out, and a corpus-keyed
  * self-join to re-attach the embedding — at the 100× probe the two
  * assignment stages alone burned ~80 s CPU each per ANN query. Here
  * the argmax runs where the row lives: one pass over k primitive
  * float rows, zero fan-out rows, zero joins, nothing shuffled.
  *
  * Bit-equality with the composed form: the dot is the same
  * left-to-right double fold over min(|e|, |c|) elements as
  * [[DotProduct]], the cosine the same single double division by
  * (nrm · cn), and the comparison the order of the `score DESC, id
  * ASC` window top-1 that `graft_topk(ccos, id, 1)` stands for:
  * scores compare under Spark's double ordering (NaN above every
  * number, NaNs equal), so argmax-with-tie-rule is
  * evaluation-order-independent and scanning the centroid table in
  * any order gives the window's pick, NaN included. Callers exclude
  * zero-norm vectors and centroids. */
case class CellArgmax(left: Expression, right: Expression,
                      ids: Array[Long], cents: Array[Array[Float]],
                      norms: Array[Double])
    extends BinaryExpression {

  require(ids.nonEmpty && ids.length == cents.length &&
    ids.length == norms.length,
    s"CellArgmax: ${ids.length} ids / ${cents.length} centroids / " +
      s"${norms.length} norms")

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_cell_argmax"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_cell_argmax expects (array<float>, double), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }

  def compute(emb: ArrayData, nrm: Double): Long = {
    val ne = emb.numElements()
    var bestScore = 0.0
    var bestId = 0L
    var first = true
    var j = 0
    while (j < ids.length) {
      val c = cents(j)
      val n = math.min(ne, c.length)
      var acc = 0.0
      var i = 0
      while (i < n) {
        acc += emb.getFloat(i).toDouble * c(i).toDouble
        i += 1
      }
      val score = acc / (nrm * norms(j))
      val ord = SQLOrderingUtil.compareDoubles(score, bestScore)
      if (first || ord > 0 || (ord == 0 && ids(j) < bestId)) {
        bestScore = score
        bestId = ids(j)
        first = false
      }
      j += 1
    }
    bestId
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cellArgmax", this,
      classOf[CellArgmax].getName)
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = $ref.compute($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CellArgmax =
    copy(left = newLeft, right = newRight)
}
