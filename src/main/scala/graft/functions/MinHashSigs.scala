package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

object MinHashSigs {
  /** 2^40 — must equal NearDup.HashMod (asserted at the call site). */
  val Mod: Long = 1L << 40

  /** Coefficient i is the pair (a(i), b(i)): arrays of different
    * lengths have no such pairing, and a shorter `b` would be read
    * past its end. */
  def checkCoefficients(a: Array[Long], b: Array[Long]): Unit =
    require(a.length == b.length, s"graft_minhash: coefficient arrays " +
      s"differ in length (a: ${a.length}, b: ${b.length})")
}

/** Native Catalyst expression: all k minhash signature values of a
  * shingle-hash array in ONE pass. The higher-order-function
  * formulation (`array_min(transform(h0s, h -> pmod(h*aᵢ+b mod)))` per
  * coefficient) walks the hash array k times through interpreted
  * lambda dispatch — the dominant cost of the signature stage at
  * k = 32. This emits a tight two-level primitive loop (rows × k)
  * with no per-element boxing and no intermediate arrays.
  *
  * Bit-identical to the HOF formulation and the DuckDB oracle: the
  * affine step uses Java wrapping long arithmetic (exactly Spark's
  * non-ANSI `*`/`+`) and pmod's always-nonnegative remainder; min is
  * order-independent, so per-row-then-per-coefficient accumulation
  * equals per-coefficient-then-per-row. An EMPTY hash array yields
  * NULL (array_min of an empty array), preserving the shingle-less
  * document contract downstream.
  */
case class MinHashSigs(hashes: Expression, a: Expression, b: Expression)
    extends TernaryExpression {

  override def first: Expression = hashes
  override def second: Expression = a
  override def third: Expression = b

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash"

  override def checkInputDataTypes(): TypeCheckResult = {
    // The hash array's element type is array<bigint> with
    // containsNull = true at the TYPE level even when no element is
    // ever null (transform() output is nullable-element). A null
    // element therefore can't be rejected at analysis; eval/codegen
    // NULL-propagate the whole signature instead (below) — silently
    // reading it as a 0-valued hash would bake a wrong signature with
    // no error. The coefficient arrays are engine-built literals and
    // must have non-null elements.
    def ok(t: DataType) = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    def lit(t: DataType) = t match {
      case ArrayType(LongType, false) => true
      case _ => false
    }
    if (ok(hashes.dataType) && lit(a.dataType) && lit(b.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_minhash expects (array<bigint>, array<bigint> non-null " +
        s"elements, array<bigint> non-null elements), got " +
        s"(${hashes.dataType.simpleString}, ${a.dataType.simpleString}, " +
        s"${b.dataType.simpleString})")
  }

  override def nullSafeEval(h: Any, av: Any, bv: Any): Any = {
    val hs = h.asInstanceOf[ArrayData]
    val n = hs.numElements()
    if (n == 0) return null
    val aa = av.asInstanceOf[ArrayData].toLongArray()
    val ba = bv.asInstanceOf[ArrayData].toLongArray()
    MinHashSigs.checkCoefficients(aa, ba)
    val k = aa.length
    val out = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      // null element → NULL signature (a 0-valued read would be a
      // silently wrong hash); mirrors NULL-propagating arithmetic in
      // the HOF formulation this expression replaced
      if (hs.isNullAt(i)) return null
      val hv = hs.getLong(i)
      var j = 0
      while (j < k) {
        val m0 = (hv * aa(j) + ba(j)) % MinHashSigs.Mod
        val m = if (m0 < 0) m0 + MinHashSigs.Mod else m0
        if (m < out(j)) out(j) = m
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (h, av, bv) => {
      val n = ctx.freshName("n")
      val k = ctx.freshName("k")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val hv = ctx.freshName("hv")
      val m = ctx.freshName("m")
      val aa = ctx.freshName("aa")
      val ba = ctx.freshName("ba")
      val out = ctx.freshName("out")
      val mod = MinHashSigs.Mod
      s"""
         |int $n = $h.numElements();
         |if ($n == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  long[] $aa = $av.toLongArray();
         |  long[] $ba = $bv.toLongArray();
         |  graft.functions.MinHashSigs.checkCoefficients($aa, $ba);
         |  int $k = $aa.length;
         |  long[] $out = new long[$k];
         |  java.util.Arrays.fill($out, Long.MAX_VALUE);
         |  for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
         |    // null element -> NULL signature (matches nullSafeEval)
         |    if ($h.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    long $hv = $h.getLong($i);
         |    for (int $j = 0; $j < $k; $j++) {
         |      long $m = ($hv * $aa[$j] + $ba[$j]) % ${mod}L;
         |      if ($m < 0) $m += ${mod}L;
         |      if ($m < $out[$j]) $out[$j] = $m;
         |    }
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): MinHashSigs =
    copy(hashes = newFirst, a = newSecond, b = newThird)
}
