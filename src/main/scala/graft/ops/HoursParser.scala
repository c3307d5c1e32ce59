package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftfns.HoursFunctions.parse_hours

/** Opening-hours string parser — the reference's one domain-specific
  * "function" (`database/parse_and_upload_to_db.py:58-81`), as one
  * codegen'd Catalyst expression ([[org.apache.spark.sql.graftfns.ParseHours]],
  * SQL `parse_hours`): no UDF and no higher-order function, so the parse
  * compiles into the surrounding whole-stage code like any built-in
  * (SURVEY.md §7.3). Validity, opening and closing times are all
  * projections of that one parse.
  *
  * Grammar (reference docstring, `parse_and_upload_to_db.py:64-74`):
  *  - `"Closed"`                                      → no intervals
  *  - `"Open 24 hours"`                               → [(0, 86399)]
  *  - `"11:00 AM - 3:00 PM"`                          → [(39600, 54000)]
  *  - glued multi-range `"11:00 AM - 3:00 PM4:30 PM - 10:00 PM"`
  *                                                    → two intervals
  *  - `"4:00 PM - 12:00 AM (Next day)"` suffix is cosmetic: close < open
  *    already encodes the overnight interval            → [(57600, 0)]
  *  - anything else fails the anchored full-string grammar
  *    ([[org.apache.spark.sql.graftfns.ParseHours.grammar]]): hour 1–12,
  *    minute 00–59, minutes optional — the reference's strptime raises
  *    on it.
  *
  * Times are seconds-since-midnight longs (the engine's TIME
  * representation, SURVEY.md §7.4.1).
  */
object HoursParser {

  /** `array<struct<open_time, close_time>>` of the string's intervals in
    * text order; NULL when it fails the grammar (the reference raises
    * ValueError on garbage, `parse_and_upload_to_db.py:78-79`; the
    * open_hours table drops the NULL set-wise instead). */
  def parse(hoursStr: Column): Column = parse_hours(hoursStr)

  /** Opening times of each range, text order. */
  def opens(hoursStr: Column): Column = parse(hoursStr).getField("open_time")

  /** Closing times of each range, text order. */
  def closes(hoursStr: Column): Column =
    parse(hoursStr).getField("close_time")

  /** Minutes until close from `nowSec`, rolling past midnight when the
    * close time is "tomorrow" — the reference's one client-side pandas
    * apply (`database/app.py:217-226`), folded into the plan as
    * arithmetic. */
  def minutesUntilClose(closeSec: Column, nowSec: Column): Column =
    (((closeSec - nowSec) + 86400) % 86400) / 60
}
