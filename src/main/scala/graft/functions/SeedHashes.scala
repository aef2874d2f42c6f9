package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** All seed-window md5 hashes of a token array in ONE codegen'd pass:
  * element i is md5 of tokens[i..i+seedLen) joined by a single space —
  * byte-for-byte `md5(concat_ws(' ', slice(toks, i+1, seedLen)))`, so
  * the DuckDB span-family oracles replay unchanged (MessageDigest MD5
  * over UTF-8 bytes is the same function both engines expose). The
  * HOF formulation (transform → slice → concat_ws → md5) paid
  * per-element lambda dispatch plus a fresh slice array and joined
  * string per position — ~1.2 µs/seed at the sf1 probe; this pass
  * reuses one digest instance and feeds token bytes directly, no
  * intermediate slice or joined string. Same native-over-HOF move as
  * [[MinHashSigs]]. Arrays shorter than `seedLen` yield an empty
  * result; NULL input propagates NULL. A NULL token is skipped with its
  * separator, as `concat_ws` skips it (a window of only NULLs hashes
  * the empty string).
  */
case class SeedHashes(child: Expression, seedLen: Int)
    extends UnaryExpression {

  require(seedLen >= 1, "graft_seed_hashes needs seedLen >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_seed_hashes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_seed_hashes expects array<string>, got ${other.simpleString}")
  }

  private val HexDigits = "0123456789abcdef".toCharArray

  def run(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n < seedLen) return new GenericArrayData(Array.empty[Any])
    val toks = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) toks(i) = arr.getUTF8String(i).getBytes
      i += 1
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Any](n - seedLen + 1)
    var p = 0
    while (p <= n - seedLen) {
      md.reset()
      var joined = false
      var j = 0
      while (j < seedLen) {
        val t = toks(p + j)
        if (t != null) {
          if (joined) md.update(' '.toByte)
          md.update(t)
          joined = true
        }
        j += 1
      }
      val dig = md.digest()
      val hex = new Array[Char](32)
      var b = 0
      while (b < 16) {
        hex(b * 2) = HexDigits((dig(b) >> 4) & 0xf)
        hex(b * 2 + 1) = HexDigits(dig(b) & 0xf)
        b += 1
      }
      out(p) = UTF8String.fromString(new String(hex))
      p += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    run(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("seedHashes", this, classOf[SeedHashes].getName)
    defineCodeGen(ctx, ev, c => s"$ref.run($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
