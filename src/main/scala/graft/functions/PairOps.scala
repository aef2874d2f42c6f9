package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expression: every unordered index pair (i < j) of
  * an array, as `array<struct<a, b>>` in the same nested order as the
  * composed form it replaces —
  * `flatten(transform(sequence(1, size-1), i ->
  * transform(sequence(i+1, size), j -> struct(arr[i-1], arr[j-1]))))`.
  *
  * Why: higher-order-function lambdas never reach whole-stage codegen,
  * so the composed fan-out walks an interpreted expression tree PER
  * PAIR and allocates a sequence array plus a GenericArrayData per
  * outer index before flatten re-copies the lot. Every bucketed
  * pair-generation site pays it — the LSH bucket candidates (minhash /
  * SRP / jaccard postings), the co-purchase graph family, the basket /
  * brand-affinity fan-outs — measured as the dominant CPU of the
  * whole graph family at sf0.1 (coPairs' two explode stages: ~22 s CPU
  * to shuffle 7 MB). Here the double loop runs once per row in
  * compiled code and writes each pair straight into its slot in the
  * output array. Element type is generic (long ids, string brands,
  * struct (part, cnt) carriers all flow through unchanged). */
case class Pairs(child: Expression) extends UnaryExpression {

  private lazy val elem: ArrayType = child.dataType.asInstanceOf[ArrayType]

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("a", elem.elementType, elem.containsNull),
      StructField("b", elem.elementType, elem.containsNull))),
    containsNull = false)

  override def prettyName: String = "graft_pairs"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: ArrayType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_pairs expects an array, got ${other.simpleString}")
  }

  override def nullSafeEval(a: Any): Any =
    Pairs.compute(a.asInstanceOf[ArrayData], elem.elementType)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val et = ctx.addReferenceObj("elemType", elem.elementType,
      classOf[DataType].getName)
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.Pairs.compute($a, $et);")
  }

  override protected def withNewChildInternal(newChild: Expression): Pairs =
    copy(child = newChild)
}

object Pairs {
  /** All (i < j) element pairs in the composed form's flatten order.
    * n·(n-1)/2 output structs — callers bound n (bucket caps, basket
    * grain), exactly as they bounded the composed fan-out. */
  def compute(arr: ArrayData, et: DataType): GenericArrayData = {
    val n = arr.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    // n·(n-1)/2 in Long first: at n ≥ 65537 the Int product overflows
    // (negative array size / silent corruption). Engine callers cap
    // bucket/basket sizes far below this, but graft_pairs is
    // registered session-wide for arbitrary SQL.
    val cnt = n.toLong * (n - 1) / 2
    require(cnt <= Int.MaxValue,
      s"graft_pairs: $n elements fan out to $cnt pairs (> Int.MaxValue); " +
        "cap the array (bucket/group size) before pairing")
    val vals = arr.toObjectArray(et)
    val out = new Array[Any](cnt.toInt)
    var k = 0
    var i = 0
    while (i < n - 1) {
      val a = vals(i)
      var j = i + 1
      while (j < n) {
        out(k) = new GenericInternalRow(Array[Any](a, vals(j)))
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Native Catalyst expression: the simhash bucket verify —
  * `graft_hamming_pairs(ids, maxHamming)` over a sorted
  * `array<struct<doc_id bigint, simhash bigint>>` emits
  * `array<struct<d1, d2, hamming>>` for exactly the (i < j) pairs with
  * `bit_count(s_i ^ s_j) <= maxHamming`, in the composed form's order:
  * `flatten(transform(sequence(1, size-1), i ->
  * filter(transform(sequence(i+1, size), j -> struct(..bit_count..)),
  * x -> x.hamming <= max)))`.
  *
  * Why: a degenerate cap-sized bucket evaluates cap²/2 candidate
  * pairs; interpreted per-pair tree-walking made that single-task
  * stage the whole query (q_simhash_pairs: 4.5 s CPU in one task at
  * sf0.1). Here the signatures are unpacked into two long arrays once
  * and the loop is two jumps and a popcount per pair, materializing
  * only survivors.
  *
  * NULLs: a NULL array yields NULL. An element whose struct or
  * simhash is NULL pairs with nothing, as in the composed form, where
  * `bit_count(NULL)` fails the filter. A surviving pair with a NULL
  * doc_id is an `IllegalArgumentException` naming the function: the
  * composed form would emit it with a NULL d1 or d2, which this
  * output declares non-nullable. */
case class HammingPairs(child: Expression, maxHamming: Int)
    extends UnaryExpression {

  require(maxHamming >= 0, s"graft_hamming_pairs: maxHamming=$maxHamming")

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("d1", LongType, nullable = false),
      StructField("d2", LongType, nullable = false),
      StructField("hamming", IntegerType, nullable = false))),
    containsNull = false)

  override def prettyName: String = "graft_hamming_pairs"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(Array(
      StructField(_, LongType, _, _), StructField(_, LongType, _, _))), _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      "graft_hamming_pairs expects array<struct<bigint, bigint>>, got " +
        other.simpleString)
  }

  override def nullSafeEval(a: Any): Any =
    HammingPairs.compute(a.asInstanceOf[ArrayData], maxHamming)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.HammingPairs.compute($a, $maxHamming);")

  override protected def withNewChildInternal(newChild: Expression): HammingPairs =
    copy(child = newChild)
}

object HammingPairs {
  def compute(arr: ArrayData, maxHamming: Int): GenericArrayData = {
    val len = arr.numElements()
    val ids = new Array[Long](len)
    val sigs = new Array[Long](len)
    val nullIds = new Array[Boolean](len)
    // only the elements with a struct and a simhash can pair
    var n = 0
    var i = 0
    while (i < len) {
      val row = if (arr.isNullAt(i)) null else arr.getStruct(i, 2)
      if (row != null && !row.isNullAt(1)) {
        nullIds(n) = row.isNullAt(0)
        if (!nullIds(n)) ids(n) = row.getLong(0)
        sigs(n) = row.getLong(1)
        n += 1
      }
      i += 1
    }
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    // two passes — count survivors, then fill an exact-size array
    // (the Pairs.compute discipline): the growable ArrayBuffer this
    // replaces re-allocated and copied its boxed backing array ~log n
    // times per row, and 32 concurrent tasks of that allocation churn
    // showed up as the 32-core inverse scaling of the simhash family
    // (round-13 verdict item 2). The popcount pass is two array reads
    // and one XOR per candidate — re-running it is cheaper than one
    // growth copy.
    // counted in Long: identical signatures in a bucket of 65 537 make
    // more survivors than an Int holds (the Pairs.compute bound)
    var cnt = 0L
    i = 0
    while (i < n - 1) {
      val sigI = sigs(i)
      var j = i + 1
      while (j < n) {
        if (java.lang.Long.bitCount(sigI ^ sigs(j)) <= maxHamming) cnt += 1
        j += 1
      }
      i += 1
    }
    require(cnt <= Int.MaxValue,
      s"graft_hamming_pairs: $n signatures yield $cnt pairs (> Int.MaxValue); " +
        "cap the bucket size before pairing")
    val out = new Array[Any](cnt.toInt)
    var k = 0
    i = 0
    while (i < n - 1) {
      val idI = ids(i)
      val sigI = sigs(i)
      var j = i + 1
      while (j < n) {
        val h = java.lang.Long.bitCount(sigI ^ sigs(j))
        if (h <= maxHamming) {
          require(!nullIds(i) && !nullIds(j),
            "graft_hamming_pairs: a NULL doc_id in a pair within hamming " +
              s"$maxHamming; d1 and d2 are non-nullable")
          out(k) = new GenericInternalRow(Array[Any](idI, ids(j), h))
          k += 1
        }
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}
