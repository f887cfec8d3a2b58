package graft.plans

import java.security.MessageDigest

import graft.functions.TextFunctions.{MinhashA, MinhashB, MinhashP}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native MinHash signature of one document: `text → array<bigint>` of
  * length `k`, computed in one per-row pass inside whole-stage codegen.
  *
  * Per row it tokenizes exactly as `TextFunctions.tokens` does
  * ([[TextExpressions.tokens]]), hashes every window of `shingleK`
  * consecutive tokens joined by single spaces with the 60-bit md5 prefix of
  * `TextFunctions.hash64`, reduces it mod `shingleSpace` and then mod P, and
  * keeps the `k` minima of `(A_i·h + B_i) mod P`. A minimum ignores repeats,
  * so the shingle set needs no dedup. NULL text, or text with fewer than
  * `shingleK` tokens, has no shingles and yields NULL.
  *
  * `eval` and `doGenCode` both call [[TextExpressions.minhash]], so
  * interpreted and compiled plans agree. The oracle replays it with
  * `TextFunctions.sql.minhashSignature` over `TextFunctions.sql.shingles`.
  */
case class MinhashSignature(child: Expression, k: Int, shingleK: Int, shingleSpace: Long)
    extends UnaryExpression {

  require(k >= 1 && k <= MinhashA.length, s"graft_minhash: k must be in 1..${MinhashA.length}, got $k")
  require(shingleK >= 1, s"graft_minhash: shingleK must be >= 1, got $shingleK")
  require(shingleSpace >= 1, s"graft_minhash: shingleSpace must be >= 1, got $shingleSpace")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_minhash requires a string input, got ${child.dataType.catalogString}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = true

  override protected def nullSafeEval(text: Any): Any =
    TextExpressions.minhash(text.asInstanceOf[UTF8String], k, shingleK, shingleSpace)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernels = TextExpressions.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev, t =>
      s"""
         |${ev.value} = $kernels.minhash($t, $k, $shingleK, ${shingleSpace}L);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_minhash"
}

object TextExpressions {
  private val Whitespace = UTF8String.fromString("\\s+")

  /** Whitespace tokens with Spark's semantics, the one tokenizer of the
    * native text expressions: `UTF8String.trim` strips spaces only (not
    * tabs or newlines), then a limit -1 split on `\s+` keeps leading and
    * trailing empty tokens — exactly `split(trim(text), "\\s+")`, i.e.
    * `TextFunctions.tokens`, and the oracle's `string_split_regex(trim(…))`. */
  def tokens(text: UTF8String): Array[UTF8String] = text.trim().split(Whitespace, -1)

  private val A: Array[Long] = MinhashA.toArray
  private val B: Array[Long] = MinhashB.toArray
  private val md5 = ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))

  /** The [[MinhashSignature]] kernel: NULL when `text` has fewer than
    * `shingleK` tokens, else the `k` minima as an array of longs. */
  def minhash(text: UTF8String, k: Int, shingleK: Int, shingleSpace: Long): ArrayData = {
    val toks = tokens(text)
    val windows = toks.length - shingleK + 1
    if (windows < 1) null
    else {
      val bytes = toks.map(_.getBytes)
      val md = md5.get()
      val mins = Array.fill(k)(Long.MaxValue)
      var i = 0
      while (i < windows) {
        var j = 0
        while (j < shingleK) {
          if (j > 0) md.update(' '.toByte)
          md.update(bytes(i + j))
          j += 1
        }
        // hash64: the first 15 hex digits of the md5 = its first 60 bits
        val d = md.digest()
        var h60 = 0L
        var b = 0
        while (b < 8) { h60 = (h60 << 8) | (d(b) & 0xffL); b += 1 }
        val h = ((h60 >>> 4) % shingleSpace) % MinhashP
        var f = 0
        while (f < k) {
          val v = (A(f) * h + B(f)) % MinhashP
          if (v < mins(f)) mins(f) = v
          f += 1
        }
        i += 1
      }
      UnsafeArrayData.fromPrimitiveArray(mins)
    }
  }

  /** Column-level handle for the native MinHash signature. */
  def minhashSignature(text: Column, k: Int = 16, shingleK: Int = 3,
                       shingleSpace: Long = MinhashP): Column =
    ColumnBridge.column(MinhashSignature(ColumnBridge.expression(text), k, shingleK, shingleSpace))
}
