package graft.queries

import graft.Tables
import graft.ops.{Aggregators, HoursParser}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** §2.L — the reference's domain functions, Spark-first.
  *
  * Hours strings are synthesized deterministically from `events.ts`
  * (SURVEY.md §2.L: format ints → string → parse back), covering all
  * parser branches: sentinels, single range, glued multi-range. */
object HoursQueries {
  type Q = (SparkSession, String) => DataFrame

  private def h12(h: Column): Column = when(h % 12 === 0, 12).otherwise(h % 12)
  private def ap(h: Column): Column = when(h < 12, "AM").otherwise("PM")
  private def fmt(h: Column, m: Column): Column =
    format_string("%d:%02d %s", h12(h), m, ap(h))

  /** events + synthesized `hours_str` exercising every grammar branch
    * (reference corpus `database/parse_and_upload_to_db.py:64-74`). */
  private[graft] def withHoursStr(df: DataFrame): DataFrame = {
    val h = hour(col("ts"))
    val m = minute(col("ts"))
    val one = concat(fmt(h, m), lit(" - "), fmt((h + 3) % 24, m))
    val glued = concat(one, fmt((h + 5) % 24, lit(30)), lit(" - "),
      fmt((h + 8) % 24, lit(45)))
    df.withColumn("hours_str",
      when(col("event_id") % 10 === 0, "Closed")
        .when(col("event_id") % 10 === 1, "Open 24 hours")
        .when(col("event_id") % 10 === 2, glued)
        .otherwise(one))
  }

  /** q_udf_parse_hours — hours-string → open/close second lists via the
    * compiled parser ([[HoursParser]]; ref `parse_hours`
    * `database/parse_and_upload_to_db.py:58-81`). */
  private val parseHours: Q = (s, dir) =>
    // same single-split lift as hoursExplode below: the parse is this
    // query's per-row work and otherwise sits in the one-split scan stage
    // BELOW the presentation sort's range exchange, on one core (r19
    // bench: the whole 2.4 s quiet cost was that one serial stage)
    withHoursStr(Tables.parallelized(Tables.load(s, dir, "events")))
      // the parser returns BIGINT arrays; the final projection serializes
      // them to '|'-joined strings only so the driver's scalar comparator
      // can hash them (q_udtf_hours_explode covers the array form)
      .withColumn("opens",
        concat_ws("|", HoursParser.opens(col("hours_str")).cast("array<string>")))
      .withColumn("closes",
        concat_ws("|", HoursParser.closes(col("hours_str")).cast("array<string>")))
      .select("event_id", "hours_str", "opens", "closes")
      .orderBy("event_id")

  /** q_udtf_hours_explode — one row per open interval (ref nested
    * insert loop `database/parse_and_upload_to_db.py:111-118`); generator
    * = explode over the parser's interval array, no custom Generator
    * needed (SURVEY.md §7.3). */
  private val hoursExplode: Q = (s, dir) =>
    // the parse is the per-row work — lift the single-split scan to full
    // parallelism before it, or the whole stage runs on one core
    // (round-3 bench)
    withHoursStr(Tables.parallelized(Tables.load(s, dir, "events")))
      // posexplode_OUTER + pos-not-null ≡ inner posexplode, but dodges
      // InferFiltersFromGenerate: the inner form infers `size(parse)>0`,
      // and predicate pushdown drags that filter — with the parse
      // inlined — below the repartition exchange into the single-split
      // scan task, re-running the whole parse serially (measured: ~70% of
      // this query's round-3 bench cost, with the interpreted parser)
      .select(col("event_id"),
        posexplode_outer(HoursParser.parse(col("hours_str"))))
      .filter(col("pos").isNotNull)
      .select(col("event_id"), col("pos").cast("long").as("range_idx"),
        col("col.open_time").as("open_sec"),
        col("col.close_time").as("close_sec"))
      .orderBy("event_id", "range_idx")

  /** q_udaf_wavg — weighted average via the typed Aggregator surface
    * ([[Aggregators.WeightedAvg]]). */
  private val wavg: Q = (s, dir) => {
    val wavgUdf = udaf(new Aggregators.WeightedAvg(),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaDouble,
        org.apache.spark.sql.Encoders.scalaDouble))
    Tables.load(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(wavgUdf(col("l_extendedprice"), col("l_quantity")).as("wavg_price"))
      .orderBy("l_returnflag")
  }

  /** q_udf_time_until_close — the reference's client-side pandas apply
    * (`database/app.py:217-226`) folded into plan arithmetic
    * ([[HoursParser.minutesUntilClose]]); "now" is the fixed anchor
    * 12:00:00 (SURVEY.md §7.5.3 — never the clock). */
  private val timeUntilClose: Q = (s, dir) => {
    val closeSec = ScalarQueries.secOfDay(col("ts"))
    Tables.load(s, dir, "events")
      .withColumn("close_sec", closeSec)
      .withColumn("mins_until_close",
        HoursParser.minutesUntilClose(col("close_sec"), lit(43200L))
          .cast("long"))
      .select("event_id", "close_sec", "mins_until_close")
      .orderBy("event_id")
  }

  val all: Map[String, Q] = Map(
    "q_udf_parse_hours" -> parseHours,
    "q_udtf_hours_explode" -> hoursExplode,
    "q_udaf_wavg" -> wavg,
    "q_udf_time_until_close" -> timeUntilClose)
}
