package graft.queries

import graft.Tables
import graft.ops.Relational
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2.E window functions. Partitioned windows shuffle once on the
  * partition key and sort within partitions — the scalable shape. The two
  * global-order operators (surrogate keys, pagination) go through
  * [[Relational.globalRowNumber]]: range-partitioned local ranks plus
  * per-partition count offsets, so no single task ever owns the total
  * order. */
object WindowQueries {
  type Q = (SparkSession, String) => DataFrame

  /** q_win_rownum — deterministic surrogate-key assignment (ref
    * autoincrement PKs `database/yelp_db/yelp_db/model.py:11`;
    * SURVEY.md §7.5.4: row_number over a natural unique key, never
    * monotonically_increasing_id, which is partition-layout-dependent).
    * Ids come from [[Relational.globalRowNumber]]: range-partitioned
    * local ranks + per-partition offsets — no single-partition window. */
  private val winRownum: Q = (s, dir) =>
    Relational.globalRowNumber(Tables.load(s, dir, "customer"),
        Seq(col("c_custkey")), rankCol = "id")
      .select("id", "c_custkey", "c_name")
      .orderBy("id")

  /** q_win_rank — rank + dense_rank per partition (ref search `ranking`
    * `web_scraper/web_scraping.py:96,107` + category bridges). Ranking by
    * a low-cardinality key keeps ties deterministic: equal inputs get
    * equal ranks in both engines. */
  private val winRank: Q = (s, dir) => {
    val w = Window.partitionBy("o_orderstatus").orderBy("o_orderpriority")
    Tables.load(s, dir, "orders")
      .withColumn("rnk", rank().over(w).cast("long"))
      .withColumn("drnk", dense_rank().over(w).cast("long"))
      .select("o_orderkey", "o_orderstatus", "o_orderpriority", "rnk", "drnk")
      .orderBy("o_orderkey")
  }

  /** q_win_lag — lag/lead over event time per user (ref previous-weekday
    * lookup `database/app.py:157-160`). */
  private val winLag: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.load(s, dir, "events")
      .withColumn("prev_value", lag("value", 1).over(w))
      .withColumn("next_value", lead("value", 1).over(w))
      .select("event_id", "user_id", "value", "prev_value", "next_value")
      .orderBy("event_id")
  }

  /** q_win_running — running aggregate with explicit frame
    * (rows unbounded preceding → current). */
  private val winRunning: Q = (s, dir) => {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.load(s, dir, "orders")
      // decimal accumulation: exact prefix sums, oracle-stable (§7.5.2)
      .withColumn("running_spend",
        round(sum(col("o_totalprice").cast("decimal(18,2)")).over(w), 4)
          .cast("double"))
      .select("o_orderkey", "o_custkey", "running_spend")
      .orderBy("o_orderkey")
  }

  /** q_win_topk_group — top-3 orders per customer by price
    * ([[Relational.topKPerGroup]]; ref per-category pagination
    * `database/app.py:74-82`). */
  private val winTopkGroup: Q = (s, dir) =>
    Relational.topKPerGroup(Tables.load(s, dir, "orders"),
        Seq(col("o_custkey")),
        Seq(col("o_totalprice").desc, col("o_orderkey")), 3)
      .withColumn("rn", col("rn").cast("long"))
      .select("o_custkey", "o_orderkey", "rn")
      .orderBy("o_custkey", "rn")

  /** q_win_ntile — percentile bucketing per language: ntile quartiles +
    * percent_rank + cume_dist over doc length — the corpus-curation step
    * that keeps a quality percentile per language (the training-data
    * analog of the reference's `ranking` ordering
    * `web_scraper/web_scraping.py:96,107`). The (n_chars, doc_id) order
    * key is total, so every rank function is deterministic (§7.5). */
  private val winNtile: Q = (s, dir) => {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n_chars"), col("doc_id"))
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        ntile(4).over(w).cast("long").as("quartile"),
        round(percent_rank().over(w), 6).as("pr"),
        round(cume_dist().over(w), 6).as("cd"))
      .orderBy("doc_id")
  }

  /** q_win_locf — forward fill (last observation carried forward): nulls
    * in a sensor-style series take the most recent non-null value within
    * the key's timeline — the gap-repair step of time-series feature
    * pipelines. Nulls are synthesized deterministically (every 5th
    * event); the frame is running (unbounded preceding → current), so
    * per-partition state is one value and the window never materializes
    * the tail. The (ts, event_id) order key is total (§7.5). */
  private val winLocf: Q = (s, dir) => {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.load(s, dir, "events")
      .withColumn("v_sparse",
        when(col("event_id") % 5 === 0, lit(null)).otherwise(col("value")))
      .select(col("event_id"), col("user_id"), col("v_sparse"),
        last("v_sparse", ignoreNulls = true).over(w).as("v_filled"))
      .orderBy("event_id")
  }

  /** q_win_moving — bounded-frame moving aggregate (7-row trailing mean
    * per user): the rolling-feature primitive of event featurization.
    * The ROWS frame is O(1) incremental state per partition; both
    * engines sum the same 7 values in the same frame order, so the
    * float mean is bit-identical before the defensive round. */
  private val winMoving: Q = (s, dir) => {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id")).rowsBetween(-6, 0)
    Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"),
        round(avg("value").over(w), 4).as("mov_avg"),
        count(lit(1)).over(w).as("n_frame"))
      .orderBy("event_id")
  }

  /** q_win_range_frame — time-based RANGE frame (trailing 1 hour per
    * user): the value-bounded twin of q_win_moving's row-bounded frame.
    * A ROWS frame answers "last 7 events"; features like "spend in the
    * last hour" need the frame bounded by the ORDER-BY VALUE — peers at
    * the same second share one frame regardless of row count. Ordered
    * by integer epoch-seconds (not raw timestamps) so the frame
    * arithmetic is exact integer comparison in both engines; decimal
    * accumulation keeps the windowed sum oracle-stable (§7.5.2). Same
    * one-shuffle shape as every §2.E window; the running frame holds a
    * deque bounded by the hour's event count, not the partition. */
  private val winRangeFrame: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy("sec")
      .rangeBetween(-3600L, 0L)
    Tables.load(s, dir, "events")
      .withColumn("sec", expr("unix_micros(ts) div 1000000"))
      .select(col("event_id"), col("user_id"), col("sec"),
        count(lit(1)).over(w).as("n_1h"),
        round(sum(col("value").cast("decimal(18,2)")).over(w), 4)
          .cast("double").as("sum_1h"))
      .orderBy("event_id")
  }

  /** q_win_sessionize — batch gap-sessionization (30-minute idle gap
    * starts a new session) via [[Relational.sessionize]] (lag →
    * boundary flag → running sum), then one aggregate per (user,
    * session) — the composition every event pipeline builds sessions
    * from when the data is at rest (the streaming twin is
    * q_stream_session's session_window). Gap arithmetic is integer µs;
    * both windows are running (O(1) state); two shuffles total (user
    * window, then the two-phase session aggregate). */
  private val winSessionize: Q = (s, dir) =>
    Relational.sessionize(
        Tables.load(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("ts")),
        keyCol = "user_id", tsCol = "ts", idCol = "event_id",
        gapUs = 30L * 60 * 1000000L)
      .groupBy("user_id", "sess_idx")
      .agg(count(lit(1)).as("n_events"),
        min("event_id").as("first_event"),
        expr("unix_micros(max(ts)) - unix_micros(min(ts))").as("dur_us"))
      .orderBy("user_id", "sess_idx")

  /** q_win_streak — longest consecutive-day activity streak per user:
    * the gaps-and-islands idiom (row_number difference trick — a run of
    * consecutive days shares `day − rn`, which names its island)
    * applied to engagement analytics. Distinct-day reduction first, so
    * the windows rank days, never raw events; all arithmetic is integer
    * date math; ties on streak length break on earliest start. Same
    * one-shuffle-per-window shape as every §2.E operator, plus the
    * WindowGroupLimit top-1. */
  private val winStreak: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy("day")
    val top = Window.partitionBy("user_id")
      .orderBy(col("len").desc, col("start_day"))
    Tables.load(s, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .withColumn("rn", row_number().over(w))
      .withColumn("island", expr("date_sub(day, rn)"))
      .groupBy("user_id", "island")
      .agg(count(lit(1)).as("len"),
        min("day").as("start_day"), max("day").as("end_day"))
      .withColumn("k", row_number().over(top))
      .filter(col("k") === 1)
      .select(col("user_id"), col("len"), col("start_day"),
        col("end_day"))
      .orderBy(col("user_id").asc_nulls_first)
  }

  /** q_win_paginate — page 3 of 20 over a total order
    * ([[Relational.paginate]]; ref offset pagination
    * `database/app.py:74-82`). */
  private val winPaginate: Q = (s, dir) =>
    Relational.paginate(Tables.load(s, dir, "customer"),
        Seq(col("c_custkey")), page = 3, pageSize = 20)
      .withColumn("rn", col("rn").cast("long"))
      .select("rn", "c_custkey", "c_name")
      .orderBy("rn")

  /** q_win_pctrank — relative standing within a group: percent_rank
    * (rank−1)/(n−1) and cume_dist (≤x count)/n per order within its
    * customer's orders — the distributional companions to rank that the
    * reference's ranking field implies (`web_scraping.py:336-340`).
    * Both are rational functions of integer window state (rank, count) —
    * bit-deterministic, same one-shuffle shape as every §2.E window. */
  private val winPctrank: Q = (s, dir) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    Tables.load(s, dir, "orders")
      .filter(col("o_custkey") < 200)
      .select(col("o_custkey"), col("o_orderkey"),
        round(percent_rank().over(w), 4).as("pct_rank"),
        round(cume_dist().over(w), 4).as("cume"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** q_win_interval_merge — coalesce overlapping intervals per key:
    * validity ranges (start, end) merge wherever they overlap or
    * touch a running predecessor, yielding per-key merged spans with
    * their component counts — the interval dual of q_win_sessionize
    * (that merges POINT events within a gap; this merges RANGES that
    * overlap), and the maintenance primitive under SCD validity
    * repair, availability/downtime stitching, and booking-window
    * coalescing. Intervals are synthesized deterministically from
    * orders (start = order date, length = orderkey % 20 + 1 days —
    * integer date arithmetic, exact on both engines). Shape: ONE
    * shuffle on the key; the island detector is the running
    * `max(end) OVER (... 1 PRECEDING)` — O(1) state — a new island
    * starts where start > that max (or at the first row), and the
    * island id is a running sum of the flags; the merged-span
    * aggregate is two-phase. The (start, end, orderkey) order key is
    * total, so island numbering is engine-identical. */
  private val winIntervalMerge: Q = (s, dir) => {
    val iv = Tables.load(s, dir, "orders")
      .select(col("o_custkey").as("k"),
        to_date(col("o_orderdate")).as("start_d"),
        date_add(to_date(col("o_orderdate")),
          (col("o_orderkey") % 20 + 1).cast("int")).as("end_d"),
        col("o_orderkey"))
    val ord = Window.partitionBy("k")
      .orderBy("start_d", "end_d", "o_orderkey")
    val prevMax = max("end_d")
      .over(ord.rowsBetween(Window.unboundedPreceding, -1))
    iv.withColumn("flag",
        when(prevMax.isNull || col("start_d") > prevMax, 1).otherwise(0))
      .withColumn("island", sum("flag")
        .over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("k"), col("island"))
      .agg(min("start_d").as("merged_start"),
        max("end_d").as("merged_end"),
        count(lit(1)).as("n_intervals"))
      .select(col("k").as("custkey"), col("island").cast("long").as("island"),
        col("merged_start"), col("merged_end"), col("n_intervals"))
      .orderBy(col("custkey").asc_nulls_first, col("merged_start"))
  }

  /** q_win_ema — truncated exponential moving average of event values
    * per user (α = 0.5, depth 8): the smoothing pass behind "current
    * engagement level" features, where recent events dominate and the
    * influence horizon is explicit. The textbook EMA is an infinite
    * recursion no batch window can stream; truncating at 8 lags (weight
    * 0.5⁸ ≈ 0.4% — below the output's rounding grid) turns it into ONE
    * window pass with a FIXED frame: eight `lag` reads per row, O(1)
    * state, no UNBOUNDED FOLLOWING trap (the q_evt_abandon lesson).
    * Weights renormalize over the lags that exist, so partition heads
    * average over their real history instead of leaking zeros. Float
    * parity is exact, not approximate: powers of 0.5 are exact binary
    * doubles, and both engines evaluate the same ≤8-term sum written
    * in the same literal order — bit-identical before the round.
    * Ordering parity: µs-truncated ts + event_id, the shared total
    * order (§7.5.9). */
  private val winEma: Q = (s, dir) => {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_us"), col("event_id"))
    Tables.load(s, dir, "events")
      .filter(col("value").isNotNull)
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("ema", round(TimeSeriesQueries.ema(w, col("value")), 4))
      .select("event_id", "user_id", "value", "ema")
      .orderBy("event_id")
  }

  /** q_win_median — 7-row trailing moving MEDIAN per user: the robust
    * twin of q_win_moving's mean — one outlier spike pollutes a
    * trailing mean for 7 rows but moves the median by at most one rank
    * step, which is why monitoring smoothers prefer it. Spark computes
    * `percentile(v, 0.5)` as a bounded-frame window aggregate: one key
    * shuffle, per-frame state is the ≤7-row buffer (the frame bound is
    * the memory bound — an UNBOUNDED median would buffer whole
    * partitions). DuckDB's `quantile_cont` interpolates identically at
    * p=0.5 over the same explicit frame; (ts, event_id) ordering makes
    * frames engine-identical. At 100 TB swap exact for an approx
    * sketch only if the frame grows unbounded — bounded frames keep
    * exact cheap. */
  private val winMedian: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(-6, Window.currentRow)
    Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        round(expr("percentile(value, 0.5)").over(w), 4).as("med7"))
      .orderBy("user_id", "event_id")
  }

  /** q_win_zscore — rolling self-baseline standardization: each event's
    * value scored against ITS USER's trailing-7 window (current row
    * excluded — the baseline must not contain the point it judges), the
    * per-key online twin of q_evt_anomaly's global z-score (a $500 cart
    * is an anomaly for a $20 user and noise for a $480 one). One key
    * shuffle; frame state is the ≤7-row buffer. Determinism is the
    * §7.5.2 discipline: the frame's Σv and Σv² accumulate as DECIMALS
    * (2-dp values ⇒ exact 4-dp squares), variance/z evaluate in double
    * with expression structure mirrored in the oracle — never
    * `stddev().over(...)`, whose internal Welford updates aren't
    * guaranteed to match another engine's at the last bit. Rows need a
    * ≥3-event baseline with spread (sd > 0) to score. */
  private val winZscore: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(-7, -1)
    val dec = col("value").cast("decimal(18,2)")
    val events = Tables.load(s, dir, "events")
      .withColumn("s1", sum(dec).over(w).cast("double"))
      .withColumn("s2", sum(dec * dec).over(w).cast("double"))
      .withColumn("cnt", count(lit(1)).over(w).cast("double"))
    val variance = (col("s2") - col("s1") * col("s1") / col("cnt")) /
      (col("cnt") - lit(1.0))
    events
      .withColumn("sd", sqrt(variance))
      .filter(col("cnt") >= 3 && col("sd") > 0)
      .select(col("event_id"), col("user_id"),
        // + 0.0: signed-zero normalization (§7.5.20, sf0.1 class)
        (round((col("value") - col("s1") / col("cnt")) / col("sd"), 4)
          + lit(0.0)).as("z"),
        (abs((col("value") - col("s1") / col("cnt")) / col("sd")) > 3.0)
          .as("is_outlier"))
      .orderBy("event_id")
  }

  /** q_win_skyline — Pareto frontier (skyline) of the part catalog on
    * (minimize retail price, maximize size): every (price, size) pair
    * no other pair dominates — the multi-criteria "best tradeoffs"
    * operator (cheapest-per-capability shortlists, model-selection
    * frontiers) that SQL engines ship as a dedicated SKYLINE clause
    * and Spark composes from a sweep. Algorithm: contract to DISTINCT
    * (price, size) pairs first (the sweep's input is bounded by the
    * attribute grid, not the corpus), sort (price asc, size desc),
    * keep a pair iff its size strictly exceeds the running max size
    * of all STRICTLY EARLIER pairs (ROWS … 1 PRECEDING) — which is
    * exactly non-strict dominance filtering, price ties included
    * (equal-price smaller-size pairs see the bigger size in the
    * running max). All comparisons integer/decimal; first row keeps
    * via the NULL frame. The sweep itself is DISTRIBUTED
    * ([[graft.ops.PrefixSweep]]): range-partition on (price, size
    * desc), per-partition exclusive running max, broadcast
    * earlier-partition maxima added back — no single-partition sort
    * even when the attribute grid grows with the catalog. */
  private val winSkyline: Q = (s, dir) => {
    val pairs = Tables.load(s, dir, "part")
      .select(expr("CAST(p_retailprice AS DECIMAL(18,2))").as("price"),
        col("p_size"))
      .groupBy("price", "p_size")
      .agg(count(lit(1)).as("n_parts"))
    // distributed exclusive running max over the (price, size desc)
    // total order (pairs are distinct) — PrefixSweep, no global sort
    graft.ops.PrefixSweep.sweep(pairs,
        Seq(col("price"), col("p_size").desc),
        runMaxExcl = Seq((col("p_size"), "runmax")))
      .filter(col("runmax").isNull || col("p_size") > col("runmax"))
      .select(expr("CAST(price AS DOUBLE)").as("price"), col("p_size"),
        col("n_parts"))
      .orderBy("price", "p_size")
  }

  /** q_win_concurrency — peak concurrent sessions per day: each event
    * opens a 5-minute session [ts, ts+300s); the day's peak is the
    * classic sweep-line — +1 at every start, −1 at every end, running
    * sum in time order, max — the capacity question ("how many
    * simultaneous users must we serve") that a per-interval count
    * cannot answer (overlap is a property of the ARRANGEMENT, not of
    * any row). Exactness: boundaries are integer microseconds, deltas
    * integers, the running sum sequential in a total order
    * (time, delta, event_id — ends sort BEFORE starts at the same
    * instant via delta asc, so back-to-back sessions don't
    * double-count), and the daily argmax reads integer peaks. The
    * sweep partitions by day (boundaries clipped to their start's
    * day — sessions here are minutes, days are the report grain), so
    * the window never globalizes. */
  private val winConcurrency: Q = (s, dir) => {
    val ev = Tables.load(s, dir, "events")
      .select(col("event_id"), unix_micros(col("ts")).as("st"),
        to_date(col("ts")).as("d"))
    val marks = ev.select(col("d"), col("st").as("t"), lit(1).as("delta"),
      col("event_id"))
      .unionAll(ev.select(col("d"), (col("st") + lit(300000000L)).as("t"),
        lit(-1).as("delta"), col("event_id")))
    val wRun = Window.partitionBy("d").orderBy(col("t"), col("delta"),
      col("event_id")).rowsBetween(Window.unboundedPreceding, 0)
    val swept = marks.withColumn("conc", sum("delta").over(wRun))
    swept.groupBy("d")
      .agg(max("conc").as("peak_concurrency"),
        (count(lit(1)) / 2).cast("long").as("n_sessions"))
      .orderBy("d")
  }

  /** q_win_ohlc — daily OHLC bars per event type: open/close are the
    * FIRST/LAST value in (ts, event_id) order, high/low the extremes,
    * n the tick count — the bar-aggregation primitive every metrics/
    * trading pipeline runs to turn a tick stream into a chartable
    * series (and the general "first/last by total order within group"
    * pattern, which has no direct aggregate in portable SQL).
    * Exactness: selections only — row_number against the partition
    * count picks open/close deterministically (ties broken by
    * event_id), min/max pick extremes; no arithmetic on values at
    * all. Scale: one shuffle on (type, day); the two window passes
    * share the partitioning, and the same-key groupBy that follows is
    * shuffle-free. */
  private val winOhlc: Q = (s, dir) => {
    val keyW = Window.partitionBy("event_type", "d")
      .orderBy(col("ts"), col("event_id"))
    val partW = Window.partitionBy("event_type", "d")
    Tables.load(s, dir, "events")
      .select(col("event_type"), to_date(col("ts")).as("d"), col("ts"),
        col("event_id"), col("value"))
      .withColumn("rn", row_number().over(keyW))
      .withColumn("cnt", count(lit(1)).over(partW))
      .groupBy("event_type", "d")
      .agg(count(lit(1)).as("n"),
        max(when(col("rn") === 1, col("value"))).as("open"),
        max("value").as("high"),
        min("value").as("low"),
        max(when(col("rn") === col("cnt"), col("value"))).as("close"))
      .orderBy(col("event_type").asc_nulls_first, col("d"))
  }

  /** q_win_ema_time — TIME-DECAY exponential moving average per user
    * (τ = 1 h): weight exp(−Δt/τ) by the ACTUAL gap to each prior
    * event, truncated at 8 lags — the irregular-series correction to
    * q_win_ema's per-row decay (row-count decay treats a 10-second
    * burst and a 3-week gap as the same "one step back"; under bursty
    * event streams that makes engagement features depend on sampling
    * rate, not time — the classic feature-store bug). Same fixed-frame
    * single window pass, O(1) state; weights renormalize over the lags
    * that exist. Float parity: each exp(Δµs/3.6e9) weight is
    * 8-dp-rounded (the libm term rule), Δt is exact integer µs, and
    * both engines evaluate the same ≤8-term sums in the same literal
    * order. Plan shape (r19): each lag i fetches ONE struct-packed
    * lag(struct(value, ts_us), i) — 8 offset frames in the single
    * WindowExec pass instead of the 16 the per-column lags cost (the
    * two getFields of a lag dedupe onto one window expression);
    * values are bit-identical to the per-column form, so the oracle
    * is untouched. */
  private val winEmaTime: Q = (s, dir) => {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_us"), col("event_id"))
    val terms = (0 to 7).map { i =>
      if (i == 0) (col("value"), lit(1.0))
      else {
        val st = lag(struct(col("value").as("v"),
          col("ts_us").as("t")), i).over(w)
        (st.getField("v"),
          round(exp((st.getField("t") - col("ts_us"))
            .cast("double") / lit(3.6e9)), 8))
      }
    }
    // coalesce, not when(isNotNull): value is filtered non-null below
    // and ts is the fixture's non-null time axis (the window's orderBy
    // would be ill-defined otherwise), so l, t and wt are null exactly
    // when the lag row is missing — the coalesce forms compute the
    // same sums — and keeping wt in an always-evaluated position lets
    // codegen's subexpression elimination compute each
    // round(exp(...)) ONCE per row instead of twice (a `when` branch
    // is conditionally evaluated and excluded from CSE; the duplicated
    // BigDecimal rounds were ~45 % of this query's r19 quiet cost)
    val num = terms.map { case (l, wt) =>
      coalesce(l * wt, lit(0.0)) }.reduce(_ + _)
    val den = terms.map { case (_, wt) =>
      coalesce(wt, lit(0.0)) }.reduce(_ + _)
    Tables.load(s, dir, "events")
      .filter(col("value").isNotNull)
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("ema_t", round(num / den, 4))
      .select("event_id", "user_id", "value", "ema_t")
      .orderBy("event_id")
  }

  /** q_win_ema_cross — fast/slow EMA crossover detector per event
    * type's daily series: fast = the q_win_ema 8-lag α=0.5 chain,
    * slow = the same chain at α=0.25 (weights (3/4)^k — exact binary
    * doubles like the 0.5 family), state = fast above slow, and the
    * census counts CROSSINGS — the classic signal-line device
    * (golden/dead cross) that q_ts_hysteresis's fixed thresholds
    * can't express: a crossover adapts to level drift, firing on
    * momentum REVERSALS rather than band exits (trend-following
    * monitors, spend pacing, capacity ramps). Exactness: both EMA
    * chains are ≤8-term sums of exact binary weights in the same
    * literal order both engines; the state is one double comparison
    * on identical values; crossings/last-state/shares are integers
    * and one division. Scale: one corpus contraction to the daily
    * grid; two O(1)-state windows per type. */
  private val winEmaCross: Q = (s, dir) => {
    val w = Window.partitionBy("event_type").orderBy("d")
    def ema(alpha: Double): org.apache.spark.sql.Column =
      TimeSeriesQueries.ema(w, col("y").cast("double"), alpha)
    val st = Tables.load(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("y"))
      .withColumn("state",
        when(ema(0.5) > ema(0.25), 1).otherwise(0))
      .withColumn("prev", lag(col("state"), 1).over(w))
      .withColumn("cross",
        col("prev").isNotNull && col("prev") =!= col("state"))
    st.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        count(when(col("cross"), 1)).as("nx"),
        max(when(col("cross"), col("d"))).as("lastx"),
        max(when(col("d").isNotNull, struct(col("d"), col("state"))))
          .as("last"),
        sum("state").as("above"))
      .select(col("event_type"),
        col("n_days").cast("long").as("n_days"),
        col("nx").cast("long").as("n_crossings"),
        // driver protocol: no null dates — epoch sentinel for
        // never-crossed types (§7.5.8)
        coalesce(col("lastx"), lit("1970-01-01").cast("date"))
          .as("last_cross_day"),
        col("last").getField("state").cast("int").as("fast_above"),
        round(col("above").cast("double") / col("n_days"), 4)
          .as("share_days_above"))
      .orderBy(col("event_type").asc_nulls_first)
  }

  val all: Map[String, Q] = Map(
    "q_win_ema_cross" -> winEmaCross,
    "q_win_ema_time" -> winEmaTime,
    "q_win_ohlc" -> winOhlc,
    "q_win_concurrency" -> winConcurrency,
    "q_win_skyline" -> winSkyline,
    "q_win_zscore" -> winZscore,
    "q_win_median" -> winMedian,
    "q_win_ema" -> winEma,
    "q_win_interval_merge" -> winIntervalMerge,
    "q_win_streak" -> winStreak,
    "q_win_sessionize" -> winSessionize,
    "q_win_range_frame" -> winRangeFrame,
    "q_win_pctrank" -> winPctrank,
    "q_win_rownum" -> winRownum,
    "q_win_rank" -> winRank,
    "q_win_lag" -> winLag,
    "q_win_running" -> winRunning,
    "q_win_topk_group" -> winTopkGroup,
    "q_win_ntile" -> winNtile,
    "q_win_locf" -> winLocf,
    "q_win_moving" -> winMoving,
    "q_win_paginate" -> winPaginate)
}
