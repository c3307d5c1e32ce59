package org.apache.spark.sql.graftfns

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd derandomized-sampling hot path (see
  * VectorExpressions.scala for the shim-package rationale).
  *
  * The Poisson-bootstrap / hash-sampling family derives its uniform
  * draws from the SQL chain sha2(key, 256) → substring(·, 1, nHex) →
  * conv(·, 16, 10) — digest, hex-ENCODE the 32 bytes to a string,
  * SUBSTRING the first nHex chars, then string-PARSE them back to the
  * integer they encode.
  * The three string trips cost more than the digest itself (measured
  * ~2.4× on the bootstrap's ×16-draws-per-row projection); this
  * expression computes the identical value straight from the digest
  * bytes (hex char i = nibble i, big-endian), so the SQL chain's value
  * is reproduced bit-for-bit while the hex round trip disappears. The
  * DuckDB oracle keeps the spelled-out conv/substring form — same
  * integers by construction.
  */
case class Sha256PrefixBits(child: Expression, nHex: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(nHex >= 1 && nHex <= 15,
    s"nHex $nHex outside the exact-long range 1..15")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "sha256_prefix_bits"
  // NULL in, NULL out, like the chain: a filter over the draw lets the
  // optimizer infer (and push) IsNotNull on the key, as it does for conv
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(in: Any): Any =
    Sha256PrefixBits.prefix(in.asInstanceOf[UTF8String], nHex)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => s"""
       |${ev.value} = org.apache.spark.sql.graftfns.Sha256PrefixBits
       |  .prefix($in, $nHex);
     """.stripMargin)

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object Sha256PrefixBits {
  // MessageDigest is stateful; one instance per thread amortizes the
  // getInstance lookup the built-in sha2 pays per row
  private val md = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("SHA-256")
  }

  private[graftfns] def threadDigest(): MessageDigest = md.get()

  /** First `nHex` hex digits of sha256(bytes of s) as the integer they
    * spell — exactly the SQL chain above, as a long. */
  def prefix(s: UTF8String, nHex: Int): Long = {
    val d = md.get()
    d.reset()
    val h = d.digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < nHex) {
      val nib =
        if ((i & 1) == 0) (h(i >> 1) & 0xf0) >>> 4
        else h(i >> 1) & 0x0f
      v = (v << 4) | nib
      i += 1
    }
    v
  }
}

/** All `reps` derandomized draws of the Poisson-bootstrap family in ONE
  * call: element b = the 52-bit sha256 prefix of `key ++ ":" ++ b` —
  * exactly the 13-digit SQL chain over concat(key, ':', b) per
  * replicate. One expression invocation per row digests all
  * replicates off a shared key-byte buffer (the per-draw concat →
  * UTF8String → hex round trips of the spelled-out form are the
  * dominant cost, not the digests). */
case class Sha256Prefix52Seq(child: Expression, reps: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(reps >= 1 && reps <= 1000, s"reps $reps outside 1..1000")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def prettyName: String = "sha256_prefix52_seq"

  override def nullSafeEval(in: Any): Any =
    Sha256Prefix52Seq.draws(in.asInstanceOf[UTF8String], reps)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => s"""
       |${ev.value} = org.apache.spark.sql.graftfns.Sha256Prefix52Seq
       |  .draws($in, $reps);
     """.stripMargin)

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object Sha256Prefix52Seq {
  def draws(key: UTF8String, reps: Int)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val d = Sha256PrefixBits.threadDigest()
    val base = key.getBytes
    val out = new Array[Long](reps)
    var b = 0
    while (b < reps) {
      d.reset()
      d.update(base)
      d.update(':'.toByte)
      // ASCII digits of b, most significant first (b ≤ 1000)
      if (b >= 100) d.update(('0' + b / 100 % 10).toByte)
      if (b >= 10) d.update(('0' + b / 10 % 10).toByte)
      d.update(('0' + b % 10).toByte)
      val h = d.digest()
      out(b) = ((h(0) & 0xffL) << 44) | ((h(1) & 0xffL) << 36) |
        ((h(2) & 0xffL) << 28) | ((h(3) & 0xffL) << 20) |
        ((h(4) & 0xffL) << 12) | ((h(5) & 0xffL) << 4) |
        ((h(6) & 0xffL) >>> 4)
      b += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }
}

object HashFunctions {
  /** The one sha-prefix draw every query uses: the first `nHex` hex
    * digits of sha256(key) as a long ([[Sha256PrefixBits]]); the DuckDB
    * oracle spells out the same chain. */
  def sha256_prefix(key: Column, nHex: Int): Column =
    ExpressionUtils.column(
      Sha256PrefixBits(ExpressionUtils.expression(key), nHex))

  def sha256_prefix52_seq(key: Column, reps: Int): Column =
    ExpressionUtils.column(
      Sha256Prefix52Seq(ExpressionUtils.expression(key), reps))
}
