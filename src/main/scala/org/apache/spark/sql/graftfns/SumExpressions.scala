package org.apache.spark.sql.graftfns

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Exact 128-bit sum of scaled-long inputs, read out as the double the
  * equivalent decimal sum would cast to (§7.5.21's device lifted into
  * an aggregate).
  *
  * The problem it solves (q_agg_deming, r19 "left alone" note): a
  * power sum like Σ y·y over 2-dp money values is EXACT per row in a
  * long (y·100² products stay ≤ ~1.2e18), but the SUM outgrows int64
  * with the row count, and Spark's decimal-division typing cannot
  * rebuild a scale-8 decimal from a scaled-long sum losslessly
  * (division result scale is capped at 6 once precision overflows 38).
  * A decimal SUM is exact but pays Decimal128 casts and adds per row.
  *
  * This aggregate keeps the per-row path in pure codegen'd long
  * arithmetic — the accumulator is a (hi, lo) pair in base 10¹⁸, so
  * update and merge are an add, an integral divide and a remainder —
  * and only the ONCE-PER-GROUP readout touches BigDecimal: it rebuilds
  * the exact unscaled value hi·10¹⁸ + lo at the declared `scale` and
  * converts with the same `BigDecimal.doubleValue` that
  * `Cast(decimalSum AS DOUBLE)` uses, so the emitted double is
  * bit-identical to the decimal-sum-then-cast chain it replaces.
  *
  * Contract: inputs are NON-NEGATIVE longs ≤ [[Sum128Eval.MaxInput]]
  * (~8.2e18, so lo + child cannot overflow and remainder/divide are
  * plain non-negative ops); any other input fails the query with
  * [[Sum128InputOutOfRange]] instead of wrapping the accumulator. Null
  * inputs are skipped and an all-null (or empty) group reads
  * null — SQL sum semantics. Capacity: hi counts 10¹⁸-chunks, so the
  * true sum may reach ~9.2e36 — far past any 100 TB power sum. */
case class Sum128(child: Expression, scale: Int)
    extends DeclarativeAggregate with ImplicitCastInputTypes
    with UnaryLike[Expression] {
  require(scale >= 0 && scale <= 18, s"scale $scale outside 0..18")

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "sum128"

  private lazy val hi =
    AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo =
    AttributeReference("lo", LongType, nullable = false)()
  private lazy val seen =
    AttributeReference("seen", BooleanType, nullable = false)()

  private def base = Literal(Sum128Eval.Base)

  override lazy val aggBufferAttributes
      : Seq[AttributeReference] = Seq(hi, lo, seen)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(false))

  override lazy val updateExpressions: Seq[Expression] = {
    val checked = StaticInvoke(Sum128Eval.getClass, LongType, "checked",
      Seq(child), Seq(LongType), returnNullable = false)
    val t = Add(lo, checked)
    Seq(
      If(IsNull(child), hi, Add(hi, IntegralDivide(t, base))),
      If(IsNull(child), lo, Remainder(t, base)),
      Or(seen, IsNotNull(child)))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    // both los are < 10¹⁸ by invariant, so their plain add is safe
    val t = Add(lo.left, lo.right)
    Seq(
      Add(Add(hi.left, hi.right), IntegralDivide(t, base)),
      Remainder(t, base),
      Or(seen.left, seen.right))
  }

  override lazy val evaluateExpression: Expression =
    If(Not(seen), Literal(null, DoubleType),
      StaticInvoke(Sum128Eval.getClass, DoubleType, "exactDouble",
        Seq(hi, lo, Literal(scale)),
        Seq(LongType, LongType, IntegerType),
        returnNullable = false))

  override protected def withNewChildInternal(c: Expression): Sum128 =
    copy(child = c)
}

object Sum128Eval {
  val Base: Long = 1000000000000000000L // 10^18
  private val BaseBig = java.math.BigInteger.valueOf(Base)

  /** Largest input: lo < 10¹⁸, so lo + MaxInput ≤ Long.MaxValue. */
  val MaxInput: Long = Long.MaxValue - (Base - 1)

  /** `v`, or [[Sum128InputOutOfRange]] when it breaks the contract. */
  def checked(v: Long): Long =
    if (v >= 0 && v <= MaxInput) v else throw new Sum128InputOutOfRange(v)

  /** Exact double of the decimal (hi·10¹⁸ + lo)·10^-scale — the same
    * value path as Spark's Decimal.toDouble (java BigDecimal
    * doubleValue on the identical unscaled value and scale). */
  def exactDouble(hi: Long, lo: Long, scale: Int): Double =
    new java.math.BigDecimal(
      java.math.BigInteger.valueOf(hi).multiply(BaseBig)
        .add(java.math.BigInteger.valueOf(lo)), scale).doubleValue()
}

/** A [[Sum128]] input outside 0..[[Sum128Eval.MaxInput]]: summing it
  * would silently wrap the (hi, lo) accumulator. */
class Sum128InputOutOfRange(val value: Long) extends ArithmeticException(
  s"sum128 input $value is outside 0..${Sum128Eval.MaxInput}")

/** Column bridge (same shim rationale as [[VectorFunctions]]). */
object SumFunctions {
  /** Exact sum of non-negative scaled longs, read out as the double of
    * the scale-`scale` decimal it represents (see [[Sum128]]). */
  def sum128(c: Column, scale: Int): Column =
    ExpressionUtils.column(
      Sum128(ExpressionUtils.expression(c), scale).toAggregateExpression())
}
