package org.apache.spark.sql.graftfns

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Opening-hours string → its open intervals, in one compiled pass (the
  * reference's `parse_hours`, `database/parse_and_upload_to_db.py:58-81`;
  * grammar and semantics in [[graft.ops.HoursParser]]).
  *
  * Returns `array<struct<open_time: bigint, close_time: bigint>>` in
  * seconds since midnight, text order: `"Closed"` → empty,
  * `"Open 24 hours"` → [(0, 86399)], a string matching
  * [[ParseHours.grammar]] → one interval per `T - T` range, anything
  * else (and null) → NULL.
  *
  * Replaces `regexp_extract_all` + `filter(transform(..))` over the
  * tokens: those higher-order functions are CodegenFallback, so every
  * time token paid an interpreted lambda frame. Here validation is one
  * `find` of the anchored grammar (exactly `rlike`'s semantics, `$`
  * accepting a trailing line terminator) and the time tokens of the
  * validated string are read by one hand-written scan. The struct fields
  * are nullable so the warehouse's `open_hours` schema is the one the
  * array-pair form wrote. */
case class ParseHours(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ParseHours.dataType
  override def nullable: Boolean = true
  override def prettyName: String = "parse_hours"

  override def nullSafeEval(in: Any): Any =
    ParseHours.parse(in.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => s"""
       |${ev.value} =
       |  org.apache.spark.sql.graftfns.ParseHours.parse($in);
       |${ev.isNull} = ${ev.value} == null;
     """.stripMargin)

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object ParseHours {
  val dataType: ArrayType = ArrayType(StructType(Seq(
    StructField("open_time", LongType),
    StructField("close_time", LongType))), containsNull = false)

  /** A strict 12-hour time: hour 1–12, minute 00–59, minutes optional
    * (the reference's fallback format `"%I %p"`,
    * `parse_and_upload_to_db.py:54-55`, accepts `"11 AM"`). */
  private val timeStrict = "(?:1[0-2]|[1-9])(?::[0-5][0-9])? [AP]M"

  /** Full-string grammar for a non-sentinel hours value: one or more
    * glued `T - T` ranges, optional `" (Next day)"` suffix. Anchored
    * whole-string matching is essential: token-level checks let a
    * malformed prefix re-tokenize into a shorter valid token (e.g.
    * `"1:5 PM"` → token `"5 PM"`) and fabricate intervals from garbage
    * the reference's strptime raises on. */
  val grammar: Pattern = Pattern.compile(
    s"^(?:$timeStrict - $timeStrict)+(?: \\(Next day\\))?$$")

  private val closed = UTF8String.fromString("Closed")
  private val open24 = UTF8String.fromString("Open 24 hours")

  private def interval(open: Long, close: Long): InternalRow =
    new GenericInternalRow(Array[Any](open, close))

  def parse(hours: UTF8String): ArrayData = {
    if (hours == closed) return new GenericArrayData(Array.empty[Any])
    // 24 h closes at 23:59:59 (reference `parse_and_upload_to_db.py:74`)
    if (hours == open24)
      return new GenericArrayData(Array[Any](interval(0L, 86399L)))
    val s = hours.toString
    if (!grammar.matcher(s).find()) return null
    // s matches the grammar, so its only ASCII digits are the times'
    // and every time is `h[h][:mm] AM|PM`; a time is at least 4 chars
    val secs = new Array[Long](s.length / 4 + 1)
    var n = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c >= '0' && c <= '9') {
        var h = c - '0'
        i += 1
        if (s.charAt(i) != ':' && s.charAt(i) != ' ') {
          h = h * 10 + (s.charAt(i) - '0')
          i += 1
        }
        var m = 0
        if (s.charAt(i) == ':') {
          m = (s.charAt(i + 1) - '0') * 10 + (s.charAt(i + 2) - '0')
          i += 3
        }
        // s.charAt(i) is the space before AM/PM
        val h24 = if (s.charAt(i + 1) == 'P') h % 12 + 12 else h % 12
        secs(n) = h24 * 3600L + m * 60L
        n += 1
        i += 3
      } else i += 1
    }
    val out = new Array[Any](n / 2)
    var k = 0
    while (k < out.length) {
      out(k) = interval(secs(2 * k), secs(2 * k + 1))
      k += 1
    }
    new GenericArrayData(out)
  }
}

/** Column bridge (same shim rationale as [[VectorFunctions]]). */
object HoursFunctions {
  def parse_hours(hours: Column): Column =
    ExpressionUtils.column(ParseHours(ExpressionUtils.expression(hours)))
}
