package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** 60-bit SimHash fingerprint of a token array, as a native Catalyst
  * expression with whole-stage codegen (preference order (b) of the build
  * contract: a codegen'd `Expression` beats a Scala UDF — no
  * serialization, no codegen fence around the hot loop).
  *
  * Per-token hash = the top 60 bits of md5 (exactly
  * `conv(substring(md5(token), 1, 15), 16, 10)`), so the whole fingerprint
  * is reproducible in any engine with md5 — the DuckDB oracle recomputes
  * it relationally (token × bit explode) and must agree bit-for-bit.
  * Bit b of the result is 1 iff the sum of ±1 votes from each token's bit
  * b is > 0 (duplicate tokens vote multiple times — natural frequency
  * weighting).
  *
  * Usage: SQL function `simhash64`, installed by [[GraftExtensions]].
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"simhash64 requires array<string>, got ${other.simpleString}")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any =
    SimHash64.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash64.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** The engine's base string hash as ONE codegen'd expression:
  * md5-60-bit(s) ≡ `conv(substring(md5(s), 1, 15), 16, 10)` — the top 60
  * bits of the digest read directly from the first 8 bytes. The chained
  * built-in form allocates a 32-char hex string, a 15-char substring, and
  * a base-16 parse per evaluation; on the shingle pipeline (one eval per
  * shingle — the hot path of every dedup query) this fuses all of it
  * into a digest + shift. Value-identical to the chain, so every oracle
  * keeps hashing in the same domain. SQL name: `md5_base60`.
  */
case class Md5Base60(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"md5_base60 requires string, got ${other.simpleString}")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_base60"

  override def nullSafeEval(input: Any): Any =
    SimHash64.tokenHash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash64.tokenHash($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5Base60 =
    copy(child = newChild)
}

object SimHash64 {
  private val Bits = 60

  /** Static entry point shared by interpreted eval and generated code. */
  def compute(tokens: ArrayData): Long = {
    val votes = new Array[Int](Bits)
    var i = 0
    val n = tokens.numElements()
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val h = tokenHash(tokens.getUTF8String(i))
        var b = 0
        while (b < Bits) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < Bits) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  // One MessageDigest per thread: getInstance runs a provider lookup per
  // call, and this hash executes once per shingle/token — the hottest
  // scalar in the engine. digest() resets the instance after each use.
  private val mdLocal: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** Top 60 bits of md5(token) — first 8 digest bytes big-endian, shifted
    * right 4, identical to parsing the first 15 hex chars base-16.
    */
  def tokenHash(s: UTF8String): Long = {
    val d = mdLocal.get().digest(s.getBytes)
    var top = 0L
    var i = 0
    while (i < 8) { top = (top << 8) | (d(i) & 0xffL); i += 1 }
    top >>> 4
  }
}
