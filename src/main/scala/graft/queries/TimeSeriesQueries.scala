package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** §2.S time-series diagnostics over the daily event stream.
  *
  * Scale discipline: every operator here CONTRACTS FIRST — the corpus
  * collapses to a (event_type, day) daily series in one two-phase
  * aggregate (types·days rows, domain-bounded, independent of corpus
  * size), and all window passes, seasonal profiles, and cumulative
  * scans run on that contracted table. At 100 TB the only corpus-sized
  * stage is the initial count; the analysis itself is broadcast-sized.
  *
  * Float parity discipline (the q_evt_anomaly / q_agg_bootstrap rule):
  * the daily series is INTEGER (counts), so moving sums, running sums,
  * and detrended residuals stay integer-exact as long as possible —
  * each operator divides exactly once per readout, with expression
  * structure shared literally with its DuckDB oracle, then rounds to
  * the 4-dp grid.
  */
object TimeSeriesQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Contracted daily count series per event type: the shared input of
    * every operator in this file. One corpus shuffle, types·days rows. */
  private def dailySeries(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("y"))

  /** q_ts_decompose — classical additive decomposition of the daily
    * event-count series per type: y = trend + seasonal + remainder.
    * Trend is the centered 7-day moving average (full windows only —
    * the standard edge rule: the 3 head/tail days carry no trend);
    * seasonal is the mean detrended residual per ISO day-of-week
    * (period 7, the dominant cycle in event telemetry); remainder is
    * what anomaly scans should run on AFTER this split (a Monday spike
    * is signal against the Monday baseline, not the global one —
    * q_evt_anomaly without decomposition flags every weekend).
    * Integer-exactness: y and the 7-day moving SUM are integers, so
    * the detrended residual is carried ×7 (y·7 − movsum — integer!)
    * and the seasonal mean divides once: CAST(Σdet7 AS DOUBLE)/(7·n).
    * Trend divides once (movsum/7.0). Both engines share every
    * division's literal structure; remainder = y − trend − seasonal
    * evaluates left-to-right identically. The seasonal profile is a
    * ≤ types·7-row broadcast joined back onto the series. */
  /** Shared decomposition core: the daily series with (unrounded)
    * trend and seasonal columns attached — q_ts_decompose's readout
    * and q_ts_anomaly's input. */
  private def decomposed(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("d")
      .rowsBetween(-3, 3)
    val trended = dailySeries(s, dir)
      .withColumn("movsum", sum("y").over(w))
      .withColumn("movn", count(lit(1)).over(w))
      .filter(col("movn") === 7)
      .withColumn("trend", col("movsum").cast("double") / lit(7.0))
      .withColumn("det7", col("y") * lit(7) - col("movsum"))
      .withColumn("dow", weekday(col("d")) + lit(1)) // ISO: Mon=1
    val seasonal = trended.groupBy("event_type", "dow")
      .agg((sum("det7").cast("double") /
        (lit(7.0) * count(lit(1)))).as("seasonal"))
    trended.join(broadcast(seasonal), Seq("event_type", "dow"))
  }

  private val tsDecompose: Q = (s, dir) =>
    decomposed(s, dir)
      .select(col("event_type"), col("d"), col("y"),
        round(col("trend"), 4).as("trend"),
        round(col("seasonal"), 4).as("seasonal"),
        round(col("y").cast("double") - col("trend") - col("seasonal"), 4)
          .as("remainder"))
      .orderBy(col("event_type").asc_nulls_first, col("d"))

  /** q_ts_anomaly — seasonal-aware outlier scan: the q_agg_mad
    * median/MAD modified-z profile (Iglewicz–Hoaglin, |z| > 3.5) run
    * on the DECOMPOSE REMAINDER instead of the raw series — exactly
    * the composition q_ts_decompose's doc promises ("anomaly scans
    * should run on the remainder"): a Monday spike is judged against
    * the Monday baseline, and a robust profile is unmoved by the
    * outliers it hunts. Input determinism: the remainder is the
    * 4-dp-ROUNDED decompose output (both engines agree bit-for-bit
    * before any percentile), so the exact interpolated median/MAD
    * and every z are engine-identical. try_divide guards MAD = 0
    * (≡ DuckDB x/0 → NULL, the q_agg_mad rule); a NULL z flags 0 via
    * the CASE's ELSE on both sides. All profile tables are ≤types-row
    * broadcasts; the corpus is touched only by the daily count. */
  private val tsAnomaly: Q = (s, dir) => {
    val rem = decomposed(s, dir)
      .withColumn("rem",
        round(col("y").cast("double") - col("trend") - col("seasonal"), 4))
      .select("event_type", "d", "y", "rem")
    val med = rem.groupBy("event_type")
      .agg(expr("percentile(rem, 0.5)").as("med"))
    val dev = rem.join(broadcast(med), "event_type")
      .withColumn("dev", abs(col("rem") - col("med")))
    val mad = dev.groupBy("event_type")
      .agg(expr("percentile(dev, 0.5)").as("mad"))
    dev.join(broadcast(mad), "event_type")
      .withColumn("z",
        round(lit(0.6745) * try_divide(col("rem") - col("med"),
          col("mad")), 4))
      .withColumn("is_outlier",
        when(abs(col("z")) > 3.5, 1).otherwise(0))
      .select(col("event_type"), col("d"), col("y"), col("rem"),
        col("z"), col("is_outlier"))
      .orderBy(col("event_type").asc_nulls_first, col("d"))
  }

  /** The lag-pair ACF terms of the daily event-count series per type,
    * for lags k ∈ 1..maxLag (q_ts_autocorr, q_ts_ljung_box): one row
    * per (event_type, k) with the pair count m, the series length n,
    * and r_k's numerator `num` and denominator `den`, so r_k =
    * num/den. Every SUM is over INTEGERS — Σy_t·y_{t+k} (s1),
    * Σ(y_t+y_{t+k}) (s2), Σy² (ss) — and num = CAST(s1) − μ·s2 + m·μ·μ,
    * den = CAST(ss) − n·μ·μ are closed-form doubles shared literally
    * with the oracle. Pairs join on the calendar day d+k, so gap days
    * pair with nothing. The series is localCheckpoint'd so its three
    * readers (stats, both join sides) do not re-scan the corpus. */
  private def lagPairs(s: SparkSession, dir: String,
                       maxLag: Int): DataFrame = {
    val daily = dailySeries(s, dir).localCheckpoint()
    val stats = daily.groupBy("event_type")
      .agg(sum("y").as("tot"), count(lit(1)).as("n"),
        sum(col("y") * col("y")).as("ss"))
    val lags = daily
      .withColumn("k", explode(sequence(lit(1), lit(maxLag))))
    val rhs = daily.select(col("event_type").as("et2"),
      col("d").as("d2"), col("y").as("y2"))
    lags.join(rhs,
        col("event_type") === col("et2") &&
          col("d2") === date_add(col("d"), col("k")))
      .groupBy("event_type", "k")
      .agg(sum(col("y") * col("y2")).as("s1"),
        sum(col("y") + col("y2")).as("s2"),
        count(lit(1)).as("m"))
      .join(broadcast(stats), "event_type")
      .withColumn("mu", col("tot").cast("double") / col("n"))
      .withColumn("num", col("s1").cast("double") -
        col("mu") * col("s2") + col("m") * col("mu") * col("mu"))
      .withColumn("den", col("ss").cast("double") -
        col("n") * col("mu") * col("mu"))
  }

  /** q_ts_autocorr — ACF at lags 1..7 of the daily event-count series
    * per type: r_k = Σ_{t≤n−k}(y_t−μ)(y_{t+k}−μ) / Σ(y_t−μ)² — the
    * "is there a weekly cycle" diagnostic that justifies
    * q_ts_decompose's period-7 seasonal (a spike at k = 7 is the
    * signature). Exactness is the q_agg_moments trick done lag-wise:
    * expand the numerator so every SUM is over INTEGERS — Σy_t·y_{t+k}
    * (s1), Σ(y_t+y_{t+k}) (s2), pair count m — and evaluate
    * CAST(s1) − μ·s2 + m·μ·μ in one closed-form double expression
    * shared literally with the oracle (never a float sum whose order
    * could drift). Denominator likewise: CAST(Σy²) − n·μ·μ. The lag
    * pairing is a self-join of the contracted series on d+k (generated
    * k ∈ 1..7); the series is localCheckpoint'd so its three readers
    * (stats, both join sides) do not re-scan the corpus. */
  private val tsAutocorr: Q = (s, dir) => {
    lagPairs(s, dir, 7)
      .select(col("event_type"), col("k"), col("m"),
        round(try_divide(col("num"), col("den")), 4).as("acf"))
      .orderBy(col("event_type").asc_nulls_first, col("k"))
  }

  /** q_ts_changepoint — CUSUM changepoint location on the daily
    * event-count series per type: s_i = Σ_{j≤i}(y_j − μ) and the
    * changepoint estimate is argmax |s_i| — the classic
    * mean-shift detector (Page 1954 family): if the level jumps at
    * day k, the cumulative deviation peaks exactly there. Run per
    * deployment metric, this is the "when did behavior change" scan
    * behind regression triage. Exactness: the running sum of integer
    * y is integer, so s_i = CAST(runsum AS DOUBLE) − k·μ performs
    * ONE multiply and one subtract per row (never a running float
    * sum); μ = CAST(tot AS DOUBLE)/n divides integers once. The
    * argmax ranks on the ROUNDED |s| (4 dp) with the date as
    * tie-break — the q_evt_anomaly boundary discipline: row identity
    * near a tie must sit on the same grid both engines compare on.
    * Plan: contracted series → ≤types-row broadcast of (tot, n) →
    * one window pass → rank-1 filter. */
  private val tsChangepoint: Q = (s, dir) => {
    val daily = dailySeries(s, dir)
    val stats = daily.groupBy("event_type")
      .agg(sum("y").as("tot"), count(lit(1)).as("n"))
    val wRun = Window.partitionBy("event_type").orderBy("d")
      .rowsBetween(Window.unboundedPreceding, 0)
    val cus = daily.join(broadcast(stats), "event_type")
      .withColumn("mu", col("tot").cast("double") / col("n"))
      .withColumn("runsum", sum("y").over(wRun))
      .withColumn("k", count(lit(1)).over(wRun))
      .withColumn("cusum",
        col("runsum").cast("double") - col("k") * col("mu"))
      .withColumn("abs_s", round(abs(col("cusum")), 4))
    val wPick = Window.partitionBy("event_type")
      .orderBy(col("abs_s").desc, col("d"))
    cus.withColumn("rn", row_number().over(wPick))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("n").as("n_days"),
        round(col("mu"), 4).as("mu"), col("d").as("cp_date"),
        round(col("cusum"), 4).as("cusum"))
      .orderBy(col("event_type").asc_nulls_first)
  }

  /** q_ts_forecast_snaive — seasonal-naive forecast backtest on the
    * daily count series per type: ŷ(d) = y(d−7) (the weekly-cycle
    * baseline q_ts_autocorr justifies) scored against the naive
    * ŷ(d) = y(d−1), on every day where both forecasts exist. This is
    * the honest forecasting floor: a model that cannot beat
    * seasonal-naive on MAE/WMAPE has learned nothing, and the backtest
    * is the readout every capacity-planning pipeline publishes.
    * Metric exactness: MAE = Σ|y−ŷ|/n and WMAPE = Σ|y−ŷ|/Σy keep
    * both numerator and denominator INTEGER (counts), dividing once
    * (per-row |err|/y ratios — classic MAPE — would float-sum in
    * engine-dependent order; WMAPE is also the industry fix for
    * zero-count days). The winner flag compares the two integer
    * absolute-error sums — no float in the decision. Lag pairing
    * joins the localCheckpoint'd contracted series on d−7 / d−1 by
    * DATE (not row offset: a gap day must not silently shift the
    * season). */
  private val tsForecastSnaive: Q = (s, dir) => {
    val daily = dailySeries(s, dir).localCheckpoint()
    val f7 = daily.select(col("event_type").as("et7"),
      date_add(col("d"), 7).as("d7"), col("y").as("y7"))
    val f1 = daily.select(col("event_type").as("et1"),
      date_add(col("d"), 1).as("d1"), col("y").as("y1"))
    daily
      .join(f7, col("event_type") === col("et7") && col("d") === col("d7"))
      .join(f1, col("event_type") === col("et1") && col("d") === col("d1"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_eval"),
        sum(abs(col("y") - col("y7"))).as("sae7"),
        sum(abs(col("y") - col("y1"))).as("sae1"),
        sum("y").as("sy"))
      .select(col("event_type"), col("n_eval"),
        round(col("sae7").cast("double") / col("n_eval"), 4)
          .as("mae_snaive"),
        round(col("sae1").cast("double") / col("n_eval"), 4)
          .as("mae_naive"),
        round(col("sae7").cast("double") / col("sy"), 4)
          .as("wmape_snaive"),
        round(col("sae1").cast("double") / col("sy"), 4)
          .as("wmape_naive"),
        when(col("sae7") < col("sae1"), 1).otherwise(0)
          .as("snaive_wins"))
      .orderBy(col("event_type").asc_nulls_first)
  }

  /** q_ts_drawdown — worst peak-to-trough activity drop per type:
    * running peak of the daily count, drawdown = peak − y, and the
    * maximum drawdown with its trough date (ties → earliest) plus the
    * fractional form dd/peak — the "how far did engagement fall from
    * its high-water mark" readout behind incident retrospectives and
    * seasonality-stripped health checks (the financial max-drawdown
    * statistic applied to activity series). Everything is INTEGER —
    * running max of integer counts, integer subtraction, integer
    * argmax — until the single dd/peak division (peak ≥ 1 always, no
    * guard needed); the tie-break ranks on the integer dd itself, so
    * no rounding-grid boundary exists at all. One window pass over
    * the contracted daily series. */
  private val tsDrawdown: Q = (s, dir) => {
    val wRun = Window.partitionBy("event_type").orderBy("d")
      .rowsBetween(Window.unboundedPreceding, 0)
    val dd = dailySeries(s, dir)
      .withColumn("peak", max("y").over(wRun))
      .withColumn("dd", col("peak") - col("y"))
    val wPick = Window.partitionBy("event_type")
      .orderBy(col("dd").desc, col("d"))
    dd.withColumn("rn", row_number().over(wPick))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("d").as("trough_date"),
        col("peak"), col("y").as("trough_y"),
        col("dd").as("max_drawdown"),
        round(col("dd").cast("double") / col("peak"), 4).as("dd_frac"))
      .orderBy(col("event_type").asc_nulls_first)
  }

  /** q_ts_wow — week-over-week growth report: weekly event volume and
    * decimal revenue, WoW growth rates, and the 4-week moving average
    * of volume — the top-of-dashboard BI readout (q_ts_forecast_snaive
    * asks "can we predict it"; this asks "which way is it moving and
    * how fast"). Exactness: weekly counts INTEGER and revenue DECIMAL
    * from one corpus contraction; WoW = (cur − prev)/prev divides
    * integer (or decimal-cast-double) quantities once with
    * oracle-identical structure (try_divide ≡ x/0 NULL for a zero
    * prior week); the moving average requires a FULL 4-week frame
    * (count = 4) and divides the integer frame sum by 4.0 once. Lag
    * pairing is by the ordered weekly grid (weeks are dense here;
    * by-date joins are the gap-safe variant, q_ts_forecast_snaive). */
  private val tsWow: Q = (s, dir) => {
    val weekly = Tables.load(s, dir, "events")
      .groupBy(to_date(date_trunc("week", col("ts"))).as("week"))
      .agg(count(lit(1)).as("n"),
        expr("sum(CAST(value AS DECIMAL(18,2)))").as("rev"))
    val wOrd = Window.orderBy("week")
    val wMa = Window.orderBy("week").rowsBetween(-3, 0)
    weekly
      .withColumn("pn", lag("n", 1).over(wOrd))
      .withColumn("prev", lag("rev", 1).over(wOrd))
      .withColumn("ma_n", sum("n").over(wMa))
      .withColumn("ma_c", count(lit(1)).over(wMa))
      .select(col("week"), col("n"),
        expr("CAST(round(rev, 4) AS DOUBLE)").as("revenue"),
        round(try_divide((col("n") - col("pn")).cast("double"),
          col("pn")), 4).as("wow_n_pct"),
        round(try_divide(
          expr("CAST(rev - prev AS DOUBLE)"),
          expr("CAST(prev AS DOUBLE)")), 4).as("wow_rev_pct"),
        when(col("ma_c") === 4,
          round(col("ma_n").cast("double") / lit(4.0), 4))
          .as("ma4_n"))
      .orderBy("week")
  }

  /** q_ts_interpolate — linear gap interpolation on a sparsified
    * daily series: the observed series keeps only every third day
    * (d mod 3 = 0 — a deterministic sparsification that prices the
    * operator; real feeds arrive with real gaps), and every dropped
    * day is rebuilt as the linear interpolation between its
    * neighboring observations — the gap-fill primitive time-series
    * stores ship natively (InfluxDB/Timescale `interpolate`) and the
    * honest alternative to q_win_locf's step-fill when the metric
    * trends. Mechanics: the dense day spine comes from a per-type
    * sequence() (generated, not shuffled), prev/next observations
    * attach via one last_value/first_value window pass each
    * (IGNORE NULLS over the spine), and the interpolation weight
    * (d−d₀)/(d₁−d₀) is an INTEGER day-difference ratio — one double
    * division and one multiply-add per filled day, identical
    * structure both engines. The spine spans [first, last]
    * observation per type, so every filled day is a true
    * interpolation — extrapolation beyond the observed span is
    * structurally impossible, not just guarded. */
  private val tsInterpolate: Q = (s, dir) => {
    val obs = dailySeries(s, dir)
      .filter(dayofmonth(col("d")) % 3 === 0)
    val span = obs.groupBy("event_type")
      .agg(min("d").as("d0"), max("d").as("d1"))
    val spine = span.select(col("event_type"),
      explode(expr("sequence(d0, d1, interval 1 day)")).as("d"))
    val joined = spine.join(obs, Seq("event_type", "d"), "left")
    val wPrev = Window.partitionBy("event_type").orderBy("d")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wNext = Window.partitionBy("event_type").orderBy("d")
      .rowsBetween(0, Window.unboundedFollowing)
    joined
      .withColumn("pd", last(when(col("y").isNotNull, col("d")), true)
        .over(wPrev))
      .withColumn("py", last(col("y"), true).over(wPrev))
      .withColumn("nd", first(when(col("y").isNotNull, col("d")), true)
        .over(wNext))
      .withColumn("ny", first(col("y"), true).over(wNext))
      .withColumn("y_fill",
        when(col("y").isNotNull, col("y").cast("double"))
          .otherwise(col("py") +
            (col("ny") - col("py")).cast("double") *
              (datediff(col("d"), col("pd")).cast("double") /
                datediff(col("nd"), col("pd")))))
      .select(col("event_type"), col("d"),
        col("y").isNotNull.cast("int").as("observed"),
        round(col("y_fill"), 4).as("y_fill"))
      .orderBy(col("event_type").asc_nulls_first, col("d"))
  }

  /** q_ts_cusum — one-sided CUSUM drift detection per event type on
    * the daily count series: S_t = max(0, S_{t−1} + (y_t − ȳ)), the
    * classic Page (1954) change detector, with the peak S, its day,
    * and a 4σ̂ alarm — the "has this metric's LEVEL shifted" monitor
    * (q_ts_changepoint locates one split; CUSUM accumulates small
    * sustained drifts a single-split scan dilutes). The recurrence is
    * NOT a window function — the op uses the prefix-min closed form
    * S_t = P_t − min(0, min_{j≤t} P_j) with P_t = Σ(y_i − ȳ), which
    * IS two cumulative windows. Exactness: deviations carry ×D
    * (y·D − T — pure integers in decimal(38), no float mean anywhere),
    * so P, the running min, and S are EXACT and the argmax day is a
    * deterministic integer sort; readouts divide the exact S by D
    * once, and σ̂ comes from integer co-moments via one shared closed
    * form; the alarm compares ROUNDED values. Scale: windows run on
    * the types·days contracted grid, partitioned BY TYPE — the corpus
    * never sorts, each type's series scans independently. */
  private val tsCusum: Q = (s, dir) => {
    val wt = Window.partitionBy("event_type")
    val wc = Window.partitionBy("event_type").orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val g = dailySeries(s, dir)
      .withColumn("dd", count(lit(1)).over(wt).cast("decimal(38,0)"))
      .withColumn("tt", sum("y").over(wt).cast("decimal(38,0)"))
      .withColumn("sy2",
        sum(col("y").cast("decimal(38,0)") * col("y")).over(wt))
      .withColumn("dev",
        col("y").cast("decimal(38,0)") * col("dd") - col("tt"))
      .withColumn("p", sum("dev").over(wc))
      .withColumn("runmin",
        least(min("p").over(wc), lit(0).cast("decimal(38,0)")))
      .withColumn("ss", col("p") - col("runmin"))
    g.withColumn("rn", row_number().over(
        Window.partitionBy("event_type")
          .orderBy(col("ss").desc, col("d"))))
      .filter(col("rn") === 1)
      .select(col("event_type"),
        col("dd").cast("long").as("n_days"),
        round(col("tt").cast("double") / col("dd").cast("double"), 4)
          .as("mean_daily"),
        round(col("ss").cast("double") / col("dd").cast("double"), 4)
          .as("cusum_max"),
        col("d").as("peak_day"),
        round(sqrt((col("dd") * col("sy2") - col("tt") * col("tt"))
          .cast("double") /
          (col("dd") * (col("dd") - 1)).cast("double")), 4)
          .as("sigma"))
      .withColumn("alarm", when(col("cusum_max") >
        round(lit(4.0) * col("sigma"), 4), 1).otherwise(0))
      .orderBy(col("event_type").asc_nulls_first)
  }

  /** q_ts_survival — Kaplan–Meier survival curve over CUSTOMER
    * lifetimes (days between a customer's first and last order), with
    * right censoring: a customer whose last order is within 90 days of
    * the corpus's final order date is censored (still alive), not
    * churned — THE retention estimator (q_evt_retention's cohort grid
    * treats silence as churn; KM is what churn models and clinical
    * trials actually fit, and ignoring censoring biases survival
    * DOWN). S(t) = Π_{tᵢ≤t}(1 − dᵢ/nᵢ) over the distinct-lifetime
    * grid: deaths d, censorings c, and the at-risk count n
    * (N − prefix-sum of prior departures) are ALL integers from two
    * window passes on the grid; the product is exp(Σ ln(1 − d/n)) — an
    * ORDERED prefix sum, so both engines fold identical doubles in the
    * identical order, and ln/exp appear only in the 4-dp-rounded
    * output (§7.5.10). The d = n last-row edge (DuckDB ln(0) ERRORS,
    * Spark returns −∞) is closed identically on both engines by
    * greatest(·, 1e-300), whose exp underflows to the same 0.0.
    * Scale: the corpus collapses to one row per customer map-side,
    * then to the lifetime grid; windows run on the grid only. */
  private val tsSurvival: Q = (s, dir) => {
    val o = Tables.load(s, dir, "orders")
    val life = o.groupBy("o_custkey")
      .agg(min("o_orderdate").as("f"), max("o_orderdate").as("l"))
      .crossJoin(broadcast(o.agg(max("o_orderdate").as("endd"))))
      .select(datediff(col("l"), col("f")).as("lifetime"),
        when(datediff(col("endd"), col("l")) >= 90, 1).otherwise(0)
          .as("event"))
    val grid = life.groupBy("lifetime")
      .agg(count(when(col("event") === 1, 1)).as("n_event"),
        count(when(col("event") === 0, 1)).as("n_censored"))
    val wPrev = Window.orderBy("lifetime")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy("lifetime")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .withColumn("n_risk",
        sum(col("n_event") + col("n_censored")).over(Window.partitionBy())
          - coalesce(sum(col("n_event") + col("n_censored")).over(wPrev),
            lit(0L)))
      .withColumn("survival", round(exp(sum(
        log(greatest(lit(1.0) -
          col("n_event").cast("double") / col("n_risk"), lit(1e-300))))
        .over(wCum)), 4))
      .select("lifetime", "n_risk", "n_event", "n_censored", "survival")
      .orderBy("lifetime")
  }

  /** q_ts_mann_kendall — Mann–Kendall trend test per event type on the
    * daily series: S = Σ_{i<j} sign(yⱼ − yᵢ), the tie-corrected
    * variance, and the continuity-corrected Z with the ±1.96 trend
    * call — the nonparametric "is this metric drifting" test
    * (q_ts_cusum finds WHERE a shift happened; MK decides WHETHER a
    * monotone trend exists, robust to outliers and any monotone
    * transform of y). Exactness: S is an integer pair sum; the tie
    * term Σt(t−1)(2t+5) and n(n−1)(2n+5) are decimal(38) products (a
    * ten-year daily series cubed still fits); Var(S) divides once and
    * Z is one shared closed form with the ROUNDED value driving the
    * trend bucket. Scale: the pair join runs on the types·days GRID
    * (the corpus contracted first) and is co-partitioned per type —
    * O(days²) per type is the test's intrinsic cost and days is
    * bounded; the corpus itself is touched once. */
  private val tsMannKendall: Q = (s, dir) => {
    val daily = dailySeries(s, dir)
    val sTab = daily.as("a").join(daily.as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("a.d") < col("b.d"))
      .groupBy(col("a.event_type").as("event_type"))
      .agg(sum(when(col("b.y") > col("a.y"), 1)
        .when(col("b.y") < col("a.y"), -1).otherwise(0)).as("s"))
    val ties = daily.groupBy("event_type", "y")
      .agg(count(lit(1)).cast("decimal(38,0)").as("t"))
      .groupBy("event_type")
      .agg(sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5))
        .as("tie_adj"),
        sum("t").as("n"))
    sTab.join(broadcast(ties), Seq("event_type"))
      .withColumn("var_s",
        (col("n") * (col("n") - 1) * (lit(2) * col("n") + 5) -
          col("tie_adj")).cast("double") / 18.0)
      .withColumn("z", round(
        when(col("s") > 0,
          (col("s") - 1).cast("double") / sqrt(col("var_s")))
          .when(col("s") < 0,
            (col("s") + 1).cast("double") / sqrt(col("var_s")))
          .otherwise(0.0), 4))
      .select(col("event_type"), col("n").cast("long").as("n_days"),
        col("s").cast("long").as("s"),
        round(col("var_s"), 4).as("var_s"), col("z"),
        when(col("z") > 1.96, "increasing")
          .when(col("z") < -1.96, "decreasing")
          .otherwise("none").as("trend"))
      .orderBy(col("event_type").asc_nulls_first)
  }

  /** q_ts_hampel — Hampel-filter outlier scan per event type: a day is
    * an outlier when |y − rolling median₇| > 3·1.4826·rolling MAD₇ —
    * the robust rolling detector (a global z-score is dragged by the
    * very spikes it hunts, and even q_ts_anomaly's per-type MAD is
    * GLOBAL per type; Hampel localizes the baseline to the
    * surrounding week, so a level-shifted series doesn't flag its
    * whole tail). Full 7-day windows only (the decompose edge rule).
    * Exactness: the frame median and the MAD are IN-ROW order
    * statistics of a 7-element integer array (collect over the frame
    * → array_sort → element 4) — pure integers; the fence is one
    * double product of the integer MAD, and the comparison |y−m| >
    * fence runs on engine-identical values. Scale: the frame collect
    * is bounded (7) and the window partitions by type on the
    * contracted grid — no corpus sort, no quadratic. */
  private val tsHampel: Q = (s, dir) => {
    val w = Window.partitionBy("event_type").orderBy("d")
      .rowsBetween(-3, 3)
    val g = dailySeries(s, dir)
      .withColumn("arr", array_sort(collect_list("y").over(w)))
      .filter(size(col("arr")) === 7)
      .withColumn("m", element_at(col("arr"), 4))
      .withColumn("mad", element_at(expr(
        "array_sort(transform(arr, v -> abs(v - m)))"), 4))
      .withColumn("dev", abs(col("y") - col("m")))
      .withColumn("outlier", when(col("dev").cast("double") >
        lit(3.0) * lit(1.4826) * col("mad"), 1).otherwise(0))
    g.groupBy("event_type")
      .agg(count(lit(1)).as("n_checked"),
        sum("outlier").as("n_outliers"),
        max("dev").as("max_dev"),
        min(when(col("outlier") === 1, col("d"))).as("first_outlier"))
      .orderBy(col("event_type").asc_nulls_first)
  }

  /** q_ts_rolling_corr — rolling 14-day Pearson correlation between
    * the purchase and view daily-count series: the co-movement monitor
    * (a stable funnel keeps the two series locked; decoupling —
    * traffic up, purchases flat — is the incident signal a single
    * series' anomaly scan can't see; q_agg_corr is the STATIC version
    * of this readout). Exactness: the day grid carries both counts as
    * integers, the 14-row frame sums (n, Σx, Σy, Σxy, Σx², Σy²) are
    * pure integer window aggregates, and r is the textbook closed form
    * evaluated once per day — no float enters before the final
    * division. Full frames only (the decompose edge rule). Scale: the
    * windows run on the CALENDAR grid (days rows — metadata); the
    * corpus contracts in one two-phase count. */
  private val tsRollingCorr: Q = (s, dir) => {
    val grid = Tables.load(s, dir, "events")
      .filter(col("event_type").isin("purchase", "view"))
      .groupBy(to_date(col("ts")).as("d"))
      .agg(count(when(col("event_type") === "purchase", 1)).as("x"),
        count(when(col("event_type") === "view", 1)).as("y"))
    val w = Window.orderBy("d").rowsBetween(-13, 0)
    grid
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", sum("x").over(w))
      .withColumn("sy", sum("y").over(w))
      .withColumn("sxy", sum(col("x") * col("y")).over(w))
      .withColumn("sxx", sum(col("x") * col("x")).over(w))
      .withColumn("syy", sum(col("y") * col("y")).over(w))
      .filter(col("n") === 14)
      .select(col("d"), col("x"), col("y"),
        round(try_divide(
          (col("n") * col("sxy") - col("sx") * col("sy")).cast("double"),
          sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
            .cast("double")) *
            sqrt((col("n") * col("syy") - col("sy") * col("sy"))
              .cast("double"))), 4).as("corr14"))
      .orderBy("d")
  }

  /** q_ts_backtest — rolling-origin backtest of the seasonal-naive
    * forecast (ŷ_t = y_{t−7}) per event type: MAE, RMSE, bias, and
    * MAPE over every day with a 7-back observation — the eval harness
    * q_ts_forecast_snaive needs before anyone trusts it (a forecast
    * op without a backtest is a guess with a column name; this is the
    * q_agg_logloss discipline applied to forecasting). Exactness:
    * errors are INTEGERS (count − lagged count), so MAE/RMSE/bias are
    * integer sums ÷ count with one closed-form readout each; MAPE's
    * per-row rational |e|/y rounds to 8 dp and accumulates as
    * decimal(20,8) — the distributed-mean rule. Scale: one lag window
    * per type on the contracted grid. */
  private val tsBacktest: Q = (s, dir) => {
    val w = Window.partitionBy("event_type").orderBy("d")
    val e = dailySeries(s, dir)
      .withColumn("yhat", lag("y", 7).over(w))
      .filter(col("yhat").isNotNull)
      .withColumn("err", col("y") - col("yhat"))
      .withColumn("ape", round(abs(col("err")).cast("double") /
        col("y"), 8).cast("decimal(20,8)"))
    e.groupBy("event_type")
      .agg(count(lit(1)).as("n_eval"),
        round(sum(abs(col("err"))).cast("double") / count(lit(1)), 4)
          .as("mae"),
        round(sqrt(sum(col("err") * col("err")).cast("double") /
          count(lit(1))), 4).as("rmse"),
        round(sum("err").cast("double") / count(lit(1)), 4).as("bias"),
        round(sum("ape").cast("double") / count(lit(1)), 4).as("mape"))
      .orderBy(col("event_type").asc_nulls_first)
  }

  /** q_ts_strength — trend and seasonality STRENGTH indices per type
    * (Hyndman's F_T = max(0, 1 − Var(R)/Var(T+R)) and
    * F_S = max(0, 1 − Var(R)/Var(S+R)) over the classical
    * decomposition) — the one-number-per-series summary that turns
    * q_ts_decompose's row-per-day output into a rankable catalog
    * ("which of our 10k metrics are strongly seasonal?" is a
    * strength-index sort, not a human reading 10k charts).
    * Exactness: the three component series round to the same 4-dp
    * grid the decompose op publishes, so their decimal co-moment sums
    * are exact and order-free; each strength is one shared
    * closed-form double (the n·Σx²−(Σx)² numerators — the n(n−1)
    * denominators cancel in the ratio). Scale: rides the decompose
    * contraction; everything after is a ≤types-row readout. */
  private val tsStrength: Q = (s, dir) => {
    val base = decomposed(s, dir)
      .filter(col("trend").isNotNull)
      .withColumn("r4", round(col("y").cast("double") - col("trend") -
        col("seasonal"), 4).cast("decimal(18,4)"))
      .withColumn("ds4", round(col("y").cast("double") -
        col("seasonal"), 4).cast("decimal(18,4)"))
      .withColumn("dt4", round(col("y").cast("double") - col("trend"),
        4).cast("decimal(18,4)"))
    def varNum(sx: Column, sxx: Column, n: Column): Column =
      n.cast("double") * sxx.cast("double") -
        sx.cast("double") * sx.cast("double")
    base.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum("r4").as("sr"), sum(col("r4") * col("r4")).as("srr"),
        sum("ds4").as("sds"), sum(col("ds4") * col("ds4")).as("sdsds"),
        sum("dt4").as("sdt"), sum(col("dt4") * col("dt4")).as("sdtdt"))
      .select(col("event_type"), col("n_days"),
        round(greatest(lit(0.0), lit(1.0) -
          varNum(col("sr"), col("srr"), col("n_days")) /
            varNum(col("sds"), col("sdsds"), col("n_days"))), 4)
          .as("f_trend"),
        round(greatest(lit(0.0), lit(1.0) -
          varNum(col("sr"), col("srr"), col("n_days")) /
            varNum(col("sdt"), col("sdtdt"), col("n_days"))), 4)
          .as("f_seasonal"))
      .orderBy(col("event_type").asc_nulls_first)
  }

  /** The first 10 Fourier harmonics of each type's mean-centered
    * daily series (q_ts_periodogram, q_ts_spectral_entropy): one row
    * per (event_type, k, n) with the cosine and sine sums sc, ss over
    * the series' n observed days. Each term ydev·cos/sin(2πkt/n)
    * rounds the trig value and then the product to 8 dp and sums as
    * a decimal, so the folds are engine-identical. */
  private def harmonicSums(s: SparkSession, dir: String): DataFrame = {
    val base = dailySeries(s, dir)
    val w = Window.partitionBy("event_type").orderBy("d")
    val ts = base
      .withColumn("t", row_number().over(w) - lit(1))
      .withColumn("n", count(lit(1))
        .over(Window.partitionBy("event_type")))
      .withColumn("ybar", sum("y")
        .over(Window.partitionBy("event_type")).cast("double") / col("n"))
      .withColumn("ydev", col("y") - col("ybar"))
    val grid = ts
      .withColumn("k", explode(sequence(lit(1), lit(10))))
      .withColumn("theta",
        lit(2.0) * lit(math.Pi) * col("k") * col("t") / col("n"))
      .withColumn("tc", round(col("ydev") * round(cos(col("theta")), 8), 8)
        .cast("decimal(24,8)"))
      .withColumn("tsn", round(col("ydev") * round(sin(col("theta")), 8), 8)
        .cast("decimal(24,8)"))
    grid.groupBy(col("event_type"), col("k"), col("n"))
      .agg(sum("tc").as("sc"), sum("tsn").as("ss"))
  }

  /** q_ts_periodogram — discrete-Fourier periodogram of the daily
    * event-count series per type at harmonics k = 1..10:
    * I(k) = (Σŷ·cos θ)² + (Σŷ·sin θ)²) / n with θ = 2πkt/n and
    * ŷ = y − ȳ, plus the implied period n/k in days and a peak flag —
    * the SPECTRAL seasonality detector (q_ts_autocorr asks "does lag
    * 7 correlate?"; this asks "which cycle carries the energy?"
    * without naming the period up front — a ~weekly peak confirms the
    * decompose/strength period-7 assumption from an independent
    * angle). Shape: the corpus contracts to the shared types·days
    * series ONCE; the k-grid is a 10-row generated dimension crossed
    * onto it (types·days·10 rows — still broadcast-sized), and each
    * (type,k) collapses in one grouped fold. Float parity: t and n
    * are integers and ȳ = one division, so θ is bit-identical; cos/sin
    * round to 8 dp BEFORE the product (absorbing any libm last-ulp
    * skew between JVM and C math), each term rounds to an 8-dp decimal
    * before the fold (logloss rule), and the peak flag ranks the
    * ROUNDED power so both engines agree on ties. */
  private val tsPeriodogram: Q = (s, dir) => {
    val pw = harmonicSums(s, dir)
      .select(col("event_type"), col("k"), col("n"),
        round(col("n").cast("double") / col("k"), 2).as("period_days"),
        round((col("sc").cast("double") * col("sc").cast("double") +
          col("ss").cast("double") * col("ss").cast("double")) /
          col("n"), 4).as("power"))
    val pk = Window.partitionBy("event_type")
      .orderBy(col("power").desc, col("k"))
    pw.withColumn("is_peak",
      when(row_number().over(pk) === 1, 1).otherwise(0))
      .select(col("event_type"), col("k"), col("n").cast("long")
        .as("n_days"), col("period_days"), col("power"), col("is_peak"))
      .orderBy(col("event_type").asc_nulls_first, col("k"))
  }

  /** q_ts_granger — Granger-style lagged-predictive screen between
    * the daily click and purchase count series: does yesterday's
    * clicks improve today's purchase prediction beyond purchases' own
    * lag (and symmetrically, the reverse)? The F statistic compares
    * RSS of the restricted OLS (y ~ y₋₁) against the unrestricted
    * (y ~ y₋₁ + x₋₁), both in CLOSED FORM from one co-moment
    * aggregate: the daily grid is integers, so Σu, Σu², Σuv, … are
    * exact decimal(38) products, and the centered co-moments use the
    * n·Σxy − Σx·Σy device (q_graph_assortativity's). The 2-regressor
    * normal equations solve by Cramer's rule — b = (Suy·Svv −
    * Svy·Suv)/det — so the whole test is one grid contraction + one
    * closed-form double row per direction, shared verbatim with the
    * oracle. Lags ride the OBSERVED day sequence (gap days don't
    * exist in either engine's grid — documented; a calendar-spine
    * variant would first q_etl_resample). F(1, n−3) crit 0.05 ≈ 3.9.
    * This is the SCREEN, not causality: it finds which series lead
    * which, subject to the usual Granger caveats. */
  private val tsGranger: Q = (s, dir) => {
    val daily = Tables.load(s, dir, "events")
      .groupBy(to_date(col("ts")).as("d"))
      .agg(count(when(col("event_type") === "click", 1)).as("x"),
        count(when(col("event_type") === "purchase", 1)).as("y"))
    val wd = Window.orderBy("d")
    val lagged = daily
      .withColumn("xl", lag(col("x"), 1).over(wd))
      .withColumn("yl", lag(col("y"), 1).over(wd))
      .filter(col("xl").isNotNull)
      .select(col("x").cast("decimal(38,0)").as("x"),
        col("y").cast("decimal(38,0)").as("y"),
        col("xl").cast("decimal(38,0)").as("xl"),
        col("yl").cast("decimal(38,0)").as("yl"))
    val m = lagged.agg(count(lit(1)).as("n"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum("xl").as("sxl"), sum("yl").as("syl"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"),
      sum(col("xl") * col("xl")).as("sxlxl"),
      sum(col("yl") * col("yl")).as("sylyl"),
      sum(col("xl") * col("yl")).as("sxlyl"),
      sum(col("y") * col("yl")).as("syyl"),
      sum(col("y") * col("xl")).as("syxl"),
      sum(col("x") * col("xl")).as("sxxl"),
      sum(col("x") * col("yl")).as("sxyl"))
    // centered co-moments (× n) as doubles; one F per direction
    def c(sab: String, sa: String, sb: String): Column =
      (col("n") * col(sab) - col(sa) * col(sb)).cast("double")
    def fStat(syyC: Column, suu: Column, svv: Column, suv: Column,
              suy: Column, svy: Column): Column = {
      val det = suu * svv - suv * suv
      val bU = (suy * svv - svy * suv) / det
      val cU = (svy * suu - suy * suv) / det
      val rssU = syyC - bU * suy - cU * svy
      val rssR = syyC - suy * suy / suu
      (rssR - rssU) / (rssU / (col("n").cast("double") - 3.0))
    }
    // purchase ~ own lag (+ click lag): u = yl, v = xl, response y
    val fCp = fStat(c("syy", "sy", "sy"), c("sylyl", "syl", "syl"),
      c("sxlxl", "sxl", "sxl"), c("sxlyl", "sxl", "syl"),
      c("syyl", "sy", "syl"), c("syxl", "sy", "sxl"))
    // click ~ own lag (+ purchase lag): u = xl, v = yl, response x
    val fPc = fStat(c("sxx", "sx", "sx"), c("sxlxl", "sxl", "sxl"),
      c("sylyl", "syl", "syl"), c("sxlyl", "sxl", "syl"),
      c("sxxl", "sx", "sxl"), c("sxyl", "sx", "syl"))
    m.select(col("n").cast("long").as("n_days"),
      round(fCp, 4).as("f_click_to_purchase"),
      round(fPc, 4).as("f_purchase_to_click"),
      when(fCp > 3.9, 1).otherwise(0).as("sig_click_to_purchase"),
      when(fPc > 3.9, 1).otherwise(0).as("sig_purchase_to_click"))
  }

  /** q_ts_spectral_entropy — normalized Shannon entropy of the
    * periodogram (harmonics k = 1..10) per event type: ≈1 for white
    * noise (energy spread flat), →0 when one cycle carries the
    * energy — the single-number "how forecastable is this series"
    * screen (q_ts_periodogram names the peak; this scores its
    * dominance; low entropy + weekly peak = trust q_ts_forecast_snaive,
    * high entropy = don't). Reuses the periodogram's exact machinery
    * verbatim — same 8-dp-rounded cos/sin terms, same decimal fold —
    * then: powers round to a 4-dp decimal grid so their total is
    * partition-order-free, shares p_k divide once, the p·ln p terms
    * round to 8-dp decimals (logloss rule), and the ln(10)
    * normalizer is a shared LITERAL (2.302585092994046) so no libm
    * call sits outside a rounded term. Zero-power harmonics
    * contribute 0 by the entropy convention (CASE-pinned on both
    * engines). Dominant k picks by the (power desc, k) total order. */
  private val tsSpectralEntropy: Q = (s, dir) => {
    val pw = harmonicSums(s, dir)
      .select(col("event_type"), col("k"), col("n"),
        round((col("sc").cast("double") * col("sc").cast("double") +
          col("ss").cast("double") * col("ss").cast("double")) /
          col("n"), 4).cast("decimal(20,4)").as("power"))
    val tot = pw.groupBy(col("event_type"), col("n"))
      .agg(sum("power").as("p_tot"))
    val wk = Window.partitionBy("event_type")
      .orderBy(col("power").desc, col("k"))
    val terms = pw.join(tot, Seq("event_type", "n"))
      // try_divide (§7.5.12): p_tot is data-derived; a constant daily
      // series would zero every power, and the NULL share then takes
      // the CASE's 0 branch instead of aborting the scan
      .withColumn("p_k", expr(
        "try_divide(CAST(power AS DOUBLE), CAST(p_tot AS DOUBLE))"))
      .withColumn("ent_term",
        when(col("p_k") > 0.0,
          round(-col("p_k") * log(col("p_k")), 8).cast("decimal(20,8)"))
          .otherwise(lit(0.0).cast("decimal(20,8)")))
      .withColumn("rk", row_number().over(wk))
    terms.groupBy(col("event_type"), col("n"))
      .agg(sum("ent_term").as("ent_d"),
        max(when(col("rk") === 1, col("k"))).as("dom_k"))
      .select(col("event_type"), col("n").cast("long").as("n_days"),
        round(col("ent_d").cast("double") / lit(2.302585092994046), 4)
          .as("spectral_entropy"),
        col("dom_k").cast("long").as("dominant_k"),
        round(col("n").cast("double") / col("dom_k"), 2)
          .as("dominant_period_days"))
      .orderBy(col("event_type").asc_nulls_first)
  }

  /** q_ts_ljung_box — Ljung–Box portmanteau test per event type: is
    * the daily series white noise, or is there ANY autocorrelation
    * left in lags 1..10? Q = n(n+2)·Σ ρ²_k/(n−k) vs χ²(10) — the
    * residual-diagnostics gate run after any fit (snaive backtest,
    * decompose remainder): a model whose residuals flunk Ljung–Box is
    * leaving signal on the table. ρ_k comes from q_ts_autocorr's
    * calendar-lag machinery verbatim (pairs join on d+k, so gap days
    * pair with nothing — same convention); each ρ²/(n−k) term rounds
    * to an 8-dp decimal before the 10-row fold (logloss rule), and
    * the χ² scale n(n+2) multiplies once at readout. */
  private val tsLjungBox: Q = (s, dir) => {
    val terms = lagPairs(s, dir, 10)
      .withColumn("rho", try_divide(col("num"), col("den")))
      .withColumn("lb_term",
        round(col("rho") * col("rho") / (col("n") - col("k")), 8)
          .cast("decimal(20,8)"))
    terms.groupBy(col("event_type"), col("n"))
      .agg(sum("lb_term").as("t_d"))
      .select(col("event_type"), col("n").cast("long").as("n_days"),
        round(col("n") * (col("n") + 2) * col("t_d").cast("double"), 4)
          .as("q_lb"),
        lit(10L).as("df"),
        when(col("n") * (col("n") + 2) * col("t_d").cast("double")
          > 18.307, 1).otherwise(0).as("significant"))
      .orderBy(col("event_type").asc_nulls_first)
  }

  /** q_ts_dickey_fuller — Dickey–Fuller unit-root screen per event
    * type: regress Δy_t on y_{t−1} (with intercept) over the observed
    * day sequence and report β̂ and its t statistic against the DF
    * 5% critical value −2.86 — "is this series mean-reverting or a
    * random walk?", the stationarity precondition q_ts_autocorr /
    * q_ts_forecast_snaive readouts implicitly assume. Same
    * closed-form-OLS discipline as q_ts_granger: integer daily
    * counts → decimal(38) raw moments of (y_{t−1}, Δy) → centered
    * co-moments via n·Σxy − Σx·Σy → β̂ = Sxy/Sxx, t = β̂·√(Sxx/s²)
    * with s² = (Syy − β̂·Sxy)/(n−2), all shared verbatim with the
    * oracle. (The un-augmented DF: lag-1 only — the right screen for
    * short daily panels; ADF's extra Δ-lags are the same machinery
    * with more co-moment columns.) */
  private val tsDickeyFuller: Q = (s, dir) => {
    val w = Window.partitionBy("event_type").orderBy("d")
    val lagged = dailySeries(s, dir)
      .withColumn("yl", lag(col("y"), 1).over(w))
      .filter(col("yl").isNotNull)
      .select(col("event_type"),
        col("yl").cast("decimal(38,0)").as("u"),
        (col("y") - col("yl")).cast("decimal(38,0)").as("v"))
    val m = lagged.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("u").as("su"), sum("v").as("sv"),
        sum(col("u") * col("u")).as("suu"),
        sum(col("u") * col("v")).as("suv"),
        sum(col("v") * col("v")).as("svv"))
    val sxx = (col("n") * col("suu") - col("su") * col("su"))
      .cast("double")
    val sxy = (col("n") * col("suv") - col("su") * col("sv"))
      .cast("double")
    val syy = (col("n") * col("svv") - col("sv") * col("sv"))
      .cast("double")
    val beta = sxy / sxx
    val s2 = (syy - beta * sxy) / (col("n").cast("double") - 2.0)
    val tStat = beta * sqrt(sxx / s2)
    m.select(col("event_type"), col("n").cast("long").as("n_days"),
        round(beta, 6).as("beta"),
        round(tStat, 4).as("t_stat"),
        when(tStat < -2.86, 1).otherwise(0).as("stationary"))
      .orderBy(col("event_type").asc_nulls_first)
  }

  /** q_ts_hod_circular — circular statistics of event time-of-day per
    * type: the mean hour as a CIRCULAR mean (23:00 and 01:00 average
    * to midnight, not noon — the bug every linear hour-mean has) and
    * the resultant length R ∈ [0,1] as the concentration score (R→1:
    * sharply peaked daily habit; R→0: uniform around the clock) — the
    * readout behind load forecasting, send-time optimization, and
    * bot detection (machines are R≈1 at odd hours). One corpus
    * contraction to per-(type, minute-of-day) counts (≤1440 grid
    * rows), cos/sin of the pinned θ = 2π·mod/1440 rounded to 8-dp
    * decimals BEFORE the weighted fold (the periodogram rule), atan2
    * and sqrt only in rounded outputs. */
  private val tsHodCircular: Q = (s, dir) => {
    val grid = Tables.load(s, dir, "events")
      .groupBy(col("event_type"),
        (hour(col("ts")) * 60 + minute(col("ts"))).as("mod"))
      .agg(count(lit(1)).as("n"))
      .withColumn("theta",
        lit(2.0) * lit(math.Pi) * col("mod") / lit(1440.0))
      .withColumn("tc", round(cos(col("theta")), 8)
        .cast("decimal(20,8)") * col("n"))
      .withColumn("tsn", round(sin(col("theta")), 8)
        .cast("decimal(20,8)") * col("n"))
    grid.groupBy("event_type")
      .agg(sum("n").as("n"), sum("tc").as("sc"), sum("tsn").as("ss"))
      .select(col("event_type"), col("n").cast("long").as("n_events"),
        round((atan2(col("ss").cast("double"), col("sc").cast("double"))
          / (lit(2.0) * lit(math.Pi)) * 24.0 + 24.0) % 24.0, 4)
          .as("mean_hour"),
        round(sqrt(col("sc").cast("double") * col("sc").cast("double") +
          col("ss").cast("double") * col("ss").cast("double")) /
          col("n"), 4).as("resultant"),
        when(sqrt(col("sc").cast("double") * col("sc").cast("double") +
          col("ss").cast("double") * col("ss").cast("double")) /
          col("n") > 0.5, 1).otherwise(0).as("concentrated"))
      .orderBy(col("event_type").asc_nulls_first)
  }

  /** q_ts_runs_test — Wald–Wolfowitz runs test on the SIGN of
    * day-over-day change per type: too few runs = trending/sticky,
    * too many = oscillating; |z| ≤ 1.96 is what "random fluctuation"
    * actually looks like — the nonparametric randomness gate that
    * says whether q_ts_changepoint/q_ts_anomaly findings sit on noise
    * or structure. Zero-change days are dropped (the pinned
    * convention — ties carry no direction). Signs and run breaks are
    * two grid windows; R, n⁺, n⁻ are integers and μ, σ², z one shared
    * closed form. */
  private val tsRunsTest: Q = (s, dir) => {
    val w = Window.partitionBy("event_type").orderBy("d")
    val signs = dailySeries(s, dir)
      .withColumn("dy", col("y") - lag(col("y"), 1).over(w))
      .filter(col("dy").isNotNull && col("dy") =!= 0)
      .withColumn("sgn", when(col("dy") > 0, 1).otherwise(-1))
    val runs = signs
      .withColumn("brk",
        when(lag(col("sgn"), 1).over(w).isNull ||
          col("sgn") =!= lag(col("sgn"), 1).over(w), 1).otherwise(0))
      .groupBy("event_type")
      .agg(sum("brk").as("r"),
        count(when(col("sgn") === 1, 1)).as("n_up"),
        count(when(col("sgn") === -1, 1)).as("n_dn"))
    val n1 = col("n_up").cast("double")
    val n2 = col("n_dn").cast("double")
    val mu = lit(2.0) * n1 * n2 / (n1 + n2) + lit(1.0)
    val sig2 = lit(2.0) * n1 * n2 * (lit(2.0) * n1 * n2 - n1 - n2) /
      ((n1 + n2) * (n1 + n2) * (n1 + n2 - lit(1.0)))
    val z = (col("r").cast("double") - mu) / sqrt(sig2)
    runs.select(col("event_type"),
        col("r").cast("long").as("n_runs"),
        col("n_up").cast("long").as("n_up"),
        col("n_dn").cast("long").as("n_dn"),
        round(z, 4).as("z"),
        when(abs(z) > 1.96, 1).otherwise(0).as("non_random"))
      .orderBy(col("event_type").asc_nulls_first)
  }

  /** q_ts_theil_sen — Theil–Sen robust trend per event type on the
    * daily series: slope = median of all pairwise day-slopes
    * (yⱼ−yᵢ)/(dⱼ−dᵢ), intercept via the Conover form
    * median(y) − slope·median(d) — the estimator that survives up to
    * ~29% arbitrary outliers where OLS (q_agg_regression) is dragged
    * by one bad day; the robust line behind q_ts_mann_kendall's
    * "trend exists" verdict (MK decides WHETHER, Theil–Sen says HOW
    * STEEP). Exactness: each pair slope is one double division of
    * exact integer deltas, 8-dp-rounded BEFORE the median (the
    * logloss rule — ranking and interpolation then run on an
    * engine-identical multiset); `percentile`/`quantile_cont` share
    * the p·(n−1) interpolation; day medians interpolate integers.
    * Scale: the corpus contracts to the types·days grid first
    * (q_ts_mann_kendall's shape); the O(days²) pair join is the
    * estimator's intrinsic cost, co-partitioned per type, days
    * bounded — the corpus is touched once. */
  private val tsTheilSen: Q = (s, dir) => {
    val daily = dailySeries(s, dir)
      .withColumn("x", datediff(col("d"), lit("1970-01-01")))
    val pairs = daily.as("a").join(daily.as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("a.x") < col("b.x"))
      .select(col("a.event_type").as("event_type"),
        round((col("b.y") - col("a.y")).cast("double") /
          (col("b.x") - col("a.x")).cast("double"), 8).as("sl"))
    val slope = pairs.groupBy("event_type")
      .agg(count(lit(1)).as("n_pairs"),
        expr("percentile(sl, 0.5)").as("slope_r"))
    val meds = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        expr("percentile(y, 0.5)").as("my"),
        expr("percentile(x, 0.5)").as("mx"))
    slope.join(meds, Seq("event_type"))
      .select(col("event_type"), col("n_days"),
        col("n_pairs").cast("long").as("n_pairs"),
        round(col("slope_r"), 4).as("slope"),
        round(col("my") - col("slope_r") * col("mx"), 4)
          .as("intercept"))
      .orderBy(col("event_type").asc_nulls_first)
  }

  /** The α-EMA truncated at 8 lags over window `w` (q_win_ema,
    * q_win_ema_cross, q_ts_des, q_ts_holt_winters, q_ts_croston,
    * q_ts_ewma_var): Σ (1−α)ⁱ·c[t−i] over the non-NULL lags, divided
    * by their weight sum, so partition heads average over their real
    * history. The callers' decays (0.5, 0.75) have exact binary
    * powers and the terms sum in one literal order, so both engines
    * agree bit for bit. try_divide: a row whose 8 lags are all NULL
    * has weight sum 0 and gets NULL, not an ANSI divide error. */
  private[graft] def ema(w: WindowSpec, c: Column,
                         alpha: Double = 0.5): Column = {
    val lags = (0 to 7).map(i => if (i == 0) c else lag(c, i).over(w))
    val wts = (0 to 7).map(i => math.pow(1.0 - alpha, i))
    val num = lags.zip(wts).map { case (l, wt) =>
      when(l.isNotNull, l * lit(wt)).otherwise(lit(0.0)) }
      .reduce(_ + _)
    val den = lags.zip(wts).map { case (l, wt) =>
      when(l.isNotNull, lit(wt)).otherwise(lit(0.0)) }
      .reduce(_ + _)
    try_divide(num, den)
  }

  /** q_ts_des — Brown's double exponential smoothing per event type
    * (α = 0.5, the q_win_ema truncation device at 8 lags): S′ = EMA(y),
    * S″ = EMA(S′), level = 2S′−S″, trend = (α/(1−α))(S′−S″) = S′−S″,
    * 7-day-ahead forecast = level + 7·trend — the level-AND-trend
    * smoother q_ts_forecast_snaive (pure seasonality) and q_win_ema
    * (level only) both stop short of: a steadily growing series
    * forecast WITHOUT a model fit. Truncating both recursions at 8
    * lags (weight 0.5⁸ ≈ 0.4%) makes each a FIXED-frame window pass —
    * O(1) state, two grid-side partitioned windows, zero iteration.
    * Float parity is exact: powers of 0.5 are exact binary doubles
    * and both engines evaluate the same ≤8-term sums in the same
    * literal order, twice. Readout = the LAST day per type. */
  private val tsDes: Q = (s, dir) => {
    val w = Window.partitionBy("event_type").orderBy("d")
    val s1 = dailySeries(s, dir)
      .withColumn("s1", ema(w, col("y").cast("double")))
    val s2 = s1.withColumn("s2", ema(w, col("s1")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_type").orderBy(col("d").desc)))
      .filter(col("rn") === 1)
    s2.select(col("event_type"), col("d").as("last_day"),
        col("y").as("last_y"),
        round(lit(2.0) * col("s1") - col("s2"), 4).as("level"),
        round(col("s1") - col("s2"), 4).as("trend"),
        round(lit(2.0) * col("s1") - col("s2") +
          lit(7.0) * (col("s1") - col("s2")), 4).as("forecast_7d"))
      .orderBy(col("event_type").asc_nulls_first)
  }

  /** q_ts_holt_winters — additive Holt–Winters (level + trend +
    * SEASONAL) per event type: the day-of-week index from the
    * q_ts_decompose device (mean per dow − overall mean, exact
    * integer-sum divisions rounded once), Brown's double smoothing
    * (the q_ts_des 8-lag truncated-EMA device, same literal term
    * order both engines) run on the DESEASONALIZED series, and the
    * 7-day-ahead forecast level + 7·trend + s(dow) — landing on the
    * SAME weekday, so the seasonal re-add is the last row's own
    * index. Completes the smoothing family: snaive = season only,
    * win_ema/ema_time = level only, des = level+trend, THIS = all
    * three — the forecast a weekly-cycled ops series actually needs
    * (des on raw counts chases the weekend dip as if it were trend).
    * Shape: one corpus contraction to the daily grid, dow/type means
    * as broadcast dims, two O(1)-state partitioned windows. */
  private val tsHoltWinters: Q = (s, dir) => {
    val base = dailySeries(s, dir)
      .withColumn("dow", dayofweek(col("d")))
    val dm = base.groupBy("event_type", "dow")
      .agg(sum("y").as("sy"), count(lit(1)).as("cy"))
    val tm = base.groupBy("event_type")
      .agg(sum("y").as("ty"), count(lit(1)).as("tc"))
    val seas = dm.join(tm, "event_type")
      .select(col("event_type"), col("dow"),
        round(col("sy").cast("double") / col("cy") -
          col("ty").cast("double") / col("tc"), 4).as("sdow"))
    val w = Window.partitionBy("event_type").orderBy("d")
    val adj = base.join(broadcast(seas), Seq("event_type", "dow"))
      .withColumn("yadj", col("y").cast("double") - col("sdow"))
    val s1 = adj.withColumn("s1", ema(w, col("yadj")))
    val s2 = s1.withColumn("s2", ema(w, col("s1")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_type").orderBy(col("d").desc)))
      .filter(col("rn") === 1)
    s2.select(col("event_type"), col("d").as("last_day"),
        col("sdow").as("seasonal"),
        round(lit(2.0) * col("s1") - col("s2"), 4).as("level"),
        round(col("s1") - col("s2"), 4).as("trend"),
        round(lit(2.0) * col("s1") - col("s2") +
          lit(7.0) * (col("s1") - col("s2")) + col("sdow"), 4)
          .as("forecast_7d"))
      .orderBy(col("event_type").asc_nulls_first)
  }

  /** q_ts_islands — calendar coverage census per event type: maximal
    * runs of consecutive active days (islands) and the silent spans
    * between them (gaps) via the classic d − row_number grouping key —
    * the "did this feed actually deliver every day" screen behind
    * freshness SLAs (q_etl_freshness reads the LAST arrival; this
    * reads the whole history's holes — a feed can be fresh today and
    * have dropped three weekends last month). Exactness: pure integer
    * day arithmetic end-to-end. Scale: one corpus contraction to the
    * grid; the island window partitions per type; islands are ≤ grid
    * rows. */
  private val tsIslands: Q = (s, dir) => {
    val g = dailySeries(s, dir)
      .withColumn("x", datediff(col("d"), lit("1970-01-01")))
      .withColumn("grp", col("x") - row_number().over(
        Window.partitionBy("event_type").orderBy("x")))
    val islands = g.groupBy("event_type", "grp")
      .agg(count(lit(1)).as("len"), min("x").as("st"), max("x").as("en"))
    val gapped = islands.withColumn("gap_before",
      col("st") - lag(col("en"), 1).over(
        Window.partitionBy("event_type").orderBy("st")) - 1)
    gapped.groupBy("event_type")
      .agg(count(lit(1)).as("n_islands"),
        sum("len").as("n_days"),
        (max("en") - min("st") + 1).as("span_days"),
        max("len").as("longest_island"),
        max("gap_before").as("longest_gap"))
      .select(col("event_type"),
        col("n_islands").cast("long").as("n_islands"),
        col("n_days").cast("long").as("n_days"),
        col("span_days").cast("long").as("span_days"),
        col("longest_island").cast("long").as("longest_island"),
        coalesce(col("longest_gap"), lit(0)).cast("long")
          .as("longest_gap"),
        round(col("n_days").cast("double") / col("span_days"), 4)
          .as("coverage"))
      .orderBy(col("event_type").asc_nulls_first)
  }

  /** q_ts_ewma_var — exponentially weighted mean AND variance per
    * type (α = 0.5, the q_win_ema/q_ts_des truncation device): at the
    * last day, m = EMA(y), v = EMA(y²) − m², volatility = √v — the
    * adaptive-baseline volatility every alerting threshold should use
    * instead of the all-history variance (a level shift three months
    * ago still inflates q_agg_stats' σ; the EW form forgets it at a
    * controlled rate). One fixed-frame window pass computing both
    * weighted sums over the SAME lags; exact binary 0.5 weights, same
    * literal term order both engines; sqrt in the rounded output
    * only. */
  private val tsEwmaVar: Q = (s, dir) => {
    val w = Window.partitionBy("event_type").orderBy("d")
    // y and y² are NULL on the same lags, so both EMAs divide by the
    // same weight sum
    val y = col("y").cast("double")
    val scored = dailySeries(s, dir)
      .withColumn("m", ema(w, y))
      .withColumn("m2", ema(w, y * y))
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_type").orderBy(col("d").desc)))
      .filter(col("rn") === 1)
    scored.select(col("event_type"), col("d").as("last_day"),
        col("y").as("last_y"),
        round(col("m"), 4).as("ew_mean"),
        round(col("m2") - col("m") * col("m"), 4).as("ew_var"),
        round(sqrt(col("m2") - col("m") * col("m")), 4)
          .as("ew_vol"))
      .orderBy(col("event_type").asc_nulls_first)
  }

  /** q_ts_rolling_ols — rolling 14-day OLS slope of the daily count
    * per type: the windowed trend line under "is this metric
    * accelerating" panels — q_agg_regression fits ONE line over all
    * history, this fits one per day over the trailing fortnight, so a
    * trend change shows up as the slope series crossing zero instead
    * of being averaged away. Exactness: the four power sums
    * (Σx/Σy/Σxy/Σx²) are frame-bounded EXACT decimal window
    * aggregates over integer day/count values; the closed-form slope
    * divides once per row (n·Σxy−ΣxΣy)/(n·Σx²−(Σx)²); full frames
    * only (the decompose edge rule). Scale: frame-bounded window
    * state on the contracted grid — O(1) per row, no corpus sort. */
  private val tsRollingOls: Q = (s, dir) => {
    val w = Window.partitionBy("event_type").orderBy("d")
      .rowsBetween(-13, Window.currentRow)
    val g = dailySeries(s, dir)
      .withColumn("x", datediff(col("d"), lit("1970-01-01")))
    val scored = g
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", sum(col("x").cast("decimal(38,0)")).over(w))
      .withColumn("sy", sum(col("y").cast("decimal(38,0)")).over(w))
      .withColumn("sxy",
        sum((col("x") * col("y")).cast("decimal(38,0)")).over(w))
      .withColumn("sxx",
        sum((col("x") * col("x")).cast("decimal(38,0)")).over(w))
      .filter(col("n") === 14)
    scored.select(col("event_type"), col("d"),
        col("y").cast("long").as("y"),
        round((col("n") * col("sxy") - col("sx") * col("sy"))
          .cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx"))
            .cast("double"), 4).as("slope14"))
      .orderBy(col("event_type").asc_nulls_first, col("d"))
  }

  /** q_ts_kpss — KPSS level-stationarity test per event type: under
    * H₀ the daily count series is stationary around a level, and
    * η = Σ S_t² / (n²·σ̂²_lrv) stays small (S_t = partial sums of the
    * demeaned series, σ̂² the Bartlett long-run variance at lag 4);
    * η > 0.463 rejects at 5%. The designed COMPLEMENT of
    * q_ts_dickey_fuller, whose H₀ is a unit root: run both and the
    * four verdict cells separate "stationary" / "unit root" /
    * "not enough data to tell" / "contradiction = structural break" —
    * one test alone cannot make that call (the KPSS paper's own
    * framing, J.Econometrics '92). Exactness: EVERYTHING up to the
    * final division is INTEGER — the demeaned value is carried ×n
    * (y·n − Σy), partial sums and autocovariances stay ×n-scaled, and
    * the Bartlett weights (1−j/5) clear denominators through a ×5:
    * η = 5·Σ(S·n)² / (n·(5G₀+8G₁+6G₂+4G₃+2G₄)) with G_j = Σ eₙ·lag_j(eₙ)
    * — decimal(38) sums, ONE try_divide (σ̂²=0 ⇔ constant series →
    * NULL on both engines). Scale: one corpus contraction to the
    * (type, day) grid; per-type windows are grid-sized. */
  private val tsKpss: Q = (s, dir) =>
    kpssSums(dailySeries(s, dir))
      .select(col("event_type"),
        col("n").cast("long").as("n_days"),
        kpssEta.as("eta"),
        when(kpssEta > 0.463, 0).otherwise(1).as("level_stationary"))
      .orderBy(col("event_type").asc_nulls_first)

  /** The KPSS sums per type of the daily series `daily` (event_type,
    * d, y), as (event_type, n, num, g0..g4): num = Σ(S·n)² and G_j =
    * Σ eₙ·lag_j(eₙ), the demeaned value carried ×n so that every sum
    * is an integer (q_ts_kpss, q_pipe_ts_profile). */
  private def kpssSums(daily: DataFrame): DataFrame = {
    val tot = daily.groupBy("event_type")
      .agg(sum("y").as("sy"), count(lit(1)).as("nn"))
    // e_t × n as a narrow decimal: |en| ≤ y·n, decimal(16) holds it
    // to SF ~10⁴; the squares/products below stay inside (38,0)
    val e = daily.join(broadcast(tot), "event_type")
      .withColumn("en",
        (col("y") * col("nn") - col("sy")).cast("decimal(16,0)"))
    val w = Window.partitionBy("event_type").orderBy("d")
    val sn = e.withColumn("snn",
      sum("en").over(w).cast("decimal(18,0)"))
    val lagged = (1 to 4).foldLeft(sn)((df, j) =>
      df.withColumn(s"l$j", lag(col("en"), j).over(w)))
    lagged.groupBy("event_type")
      .agg(max("nn").as("n"),
        sum(col("snn") * col("snn")).as("num"),
        sum(col("en") * col("en")).as("g0"),
        sum(col("en") * col("l1")).as("g1"),
        sum(col("en") * col("l2")).as("g2"),
        sum(col("en") * col("l3")).as("g3"),
        sum(col("en") * col("l4")).as("g4"))
  }

  /** KPSS η over [[kpssSums]], rounded to 4 dp: the Bartlett weights
    * (1−j/5) clear denominators through a ×5, so
    * η = 5·num / (n·(5G₀+8G₁+6G₂+4G₃+2G₄)); one try_divide makes a
    * constant series NULL. */
  private def kpssEta: Column = {
    val d = lit(5) * col("g0") + lit(8) * coalesce(col("g1"), lit(0)) +
      lit(6) * coalesce(col("g2"), lit(0)) +
      lit(4) * coalesce(col("g3"), lit(0)) +
      lit(2) * coalesce(col("g4"), lit(0))
    round(try_divide((lit(5) * col("num")).cast("double"),
      (col("n") * d).cast("double")), 4)
  }

  /** q_ts_croston — Croston's method for INTERMITTENT demand per
    * event type: the extreme-value days (any event over 240 — the
    * ~1% tail) form a sparse demand series, and the classic smoother
    * runs TWO EMAs — one over nonzero demand SIZES, one over the
    * INTER-DEMAND INTERVALS — with forecast = ẑ/p̂ demand per day.
    * The smoothing family's missing member for sparse series: on a
    * mostly-zero series des/holt_winters chase zeros toward a
    * meaningless sub-unit level, while Croston separates "how much
    * when it happens" from "how often it happens" (the spare-parts /
    * incident-volume standard since Croston '72). Exactness: sizes
    * and intervals are integers; both EMAs are the q_ts_des 8-lag
    * α=0.5 truncation (exact binary weights, same literal term order
    * both engines); the interval chain's first row has an EMPTY
    * window — try_divide/NULLIF pins the NULL identically. Scale:
    * the tail filter pushes to the scan; one contraction to demand
    * days; per-type windows are demand-grid-sized. */
  private val tsCroston: Q = (s, dir) => {
    val demand = Tables.load(s, dir, "events")
      .filter(col("value") > 240.0)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("z"))
    val w = Window.partitionBy("event_type").orderBy("d")
    val sm = demand
      .withColumn("p", datediff(col("d"), lag(col("d"), 1).over(w)))
      .withColumn("zh", ema(w, col("z").cast("double")))
      .withColumn("ph", ema(w, col("p").cast("double")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_type").orderBy(col("d").desc)))
      .filter(col("rn") === 1)
    val tot = demand.groupBy("event_type")
      .agg(count(lit(1)).as("nd"), min("d").as("d0"), max("d").as("d1"))
    sm.join(tot, "event_type")
      .select(col("event_type"),
        col("nd").cast("long").as("n_demand_days"),
        col("d").as("last_demand_day"),
        round(col("zh"), 4).as("z_hat"),
        round(col("ph"), 4).as("p_hat"),
        round(col("zh") / col("ph"), 4).as("forecast_per_day"),
        round(col("nd").cast("double") /
          (datediff(col("d1"), col("d0")) + 1), 4).as("demand_rate"))
      .orderBy(col("event_type").asc_nulls_first)
  }

  /** q_ts_sax — SAX symbolization (PAA + Gaussian-breakpoint
    * alphabet) of the daily series per type: the observed sequence
    * splits into 5-day segments, each segment's mean z-normalizes
    * against the series, and the quartile breakpoints (±0.6745, 0)
    * map segments to letters a–d — the symbolic sketch under motif
    * mining, seasonality eyeballing, and cross-series pattern joins
    * (Lin et al., DMKD'07: compare WORDS, not wiggles — two series
    * with the same word shape alike at segment resolution). Exactness:
    * segment means and series mean/sd derive from exact integer/
    * decimal power sums with shared closed-form double readouts; the
    * letter CASE compares identical doubles (no rounding needed — no
    * arithmetic divergence exists to round away); constant series
    * (sd = 0) pin to 'b' via the identical NULL CASE. Scale: one
    * corpus contraction to the (type, day) grid; segment windows are
    * grid-sized and partitioned; the word folds ≤ ⌈days/5⌉ letters
    * via sort_array(collect_list), deterministic by segment index. */
  private val tsSax: Q = (s, dir) => {
    val daily = dailySeries(s, dir)
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_type").orderBy("d")))
      .withColumn("seg", ((col("rn") - 1) / lit(5)).cast("long"))
    val stats = meanSd(daily)
    val paa = daily.groupBy("event_type", "seg")
      .agg(sum("y").as("ssum"), count(lit(1)).as("sc"))
      .join(broadcast(stats), "event_type")
      .withColumn("z", try_divide(
        col("ssum").cast("double") / col("sc") - col("m"), col("sd")))
      .withColumn("letter",
        when(col("z").isNull, "b")
          .when(col("z") < -0.6745, "a")
          .when(col("z") < 0.0, "b")
          .when(col("z") < 0.6745, "c")
          .otherwise("d"))
    paa.groupBy("event_type")
      .agg(max("n").cast("long").as("n_days"),
        count(lit(1)).cast("long").as("n_segments"),
        array_join(transform(
          sort_array(collect_list(struct(col("seg"), col("letter")))),
          x => x.getField("letter")), "").as("sax_word"))
      .orderBy(col("event_type").asc_nulls_first)
  }

  /** Per type of `daily` (event_type, d, y): n, the exact sums sy and
    * sy2, the mean m and the sample sd (NULL for one day), both shared
    * closed-form doubles (q_ts_sax, q_ts_hysteresis). */
  private def meanSd(daily: DataFrame): DataFrame =
    daily.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("y").as("sy"),
        sum(col("y") * col("y")).as("sy2"))
      .withColumn("m", col("sy").cast("double") / col("n"))
      .withColumn("sd", sqrt(try_divide(
        col("sy2").cast("double") - col("n") * col("m") * col("m"),
        (col("n") - 1).cast("double"))))

  /** The hysteresis alert episodes of `daily` (event_type, d, y) under
    * per-type thresholds `stats` (event_type, m, sd): a day RAISES when
    * y > m + sd and CLEARS when y < m, the state is the last crossing
    * (not alerting before the first), and each maximal run of
    * alerting days is one row (event_type, grp, len) — the islands
    * rn-difference device (q_ts_hysteresis, q_pipe_ts_profile). */
  private def alertRuns(daily: DataFrame, stats: DataFrame): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("d")
    daily.join(broadcast(stats), "event_type")
      .withColumn("crossing",
        when(col("y") > col("m") + col("sd"), 1)
          .when(col("y") < col("m"), 0))
      .withColumn("alert", coalesce(
        last(col("crossing"), ignoreNulls = true)
          .over(w.rowsBetween(Window.unboundedPreceding, 0)), lit(0)))
      .withColumn("rn", row_number().over(w))
      .filter(col("alert") === 1)
      .withColumn("grp", col("rn") - row_number().over(w))
      .groupBy("event_type", "grp").agg(count(lit(1)).as("len"))
  }

  /** q_ts_hysteresis — two-threshold alert state machine per type:
    * RAISE when the daily count exceeds μ+σ, CLEAR only when it falls
    * back below μ — the debounce every production alert needs (a
    * single-threshold rule flaps on every noisy re-cross; hysteresis
    * fires once per genuine excursion). q_evt_anomaly flags DAYS;
    * this counts EPISODES and their durations, which is what pages
    * on-call. Exactness: μ and σ from exact integer power sums
    * (shared closed-form doubles); the state machine is
    * last(crossing) IGNORE NULLS over the ordered grid — O(1) window
    * state, pinned identically in both engines; pre-first-crossing
    * days pin to not-alerting via the same coalesce. Episode runs use
    * the islands rn-difference device on sequence positions — pure
    * integer. Scale: one corpus contraction to the grid; all windows
    * partition per type. */
  private val tsHysteresis: Q = (s, dir) => {
    val stats = meanSd(dailySeries(s, dir))
      .select(col("event_type"), col("m"), col("sd"))
    val eps = alertRuns(dailySeries(s, dir), stats).groupBy("event_type")
      .agg(count(lit(1)).as("n_episodes"),
        sum("len").as("n_alert_days"), max("len").as("longest_run"))
    dailySeries(s, dir).groupBy("event_type")
      .agg(count(lit(1)).as("n_days"))
      .join(eps, Seq("event_type"), "left")
      .select(col("event_type"),
        col("n_days").cast("long").as("n_days"),
        coalesce(col("n_alert_days"), lit(0L)).cast("long")
          .as("n_alert_days"),
        coalesce(col("n_episodes"), lit(0L)).cast("long")
          .as("n_episodes"),
        coalesce(col("longest_run"), lit(0L)).cast("long")
          .as("longest_run"))
      .orderBy(col("event_type").asc_nulls_first)
  }

  /** q_ts_coint — Engle–Granger cointegration test between the click
    * and view daily-count series: OLS hedge ratio view = a + b·click
    * over the day grid, then a Dickey–Fuller regression (no constant)
    * on the RESIDUAL — φ̂ = Σr₋₁Δr/Σr₋₁², t = φ̂/se, cointegrated if
    * t < −3.37 (EG 5%). Two trending series can both be
    * nonstationary (q_ts_kpss/dickey_fuller per-series verdicts) yet
    * move TOGETHER — cointegration is the pairs-trading /
    * metric-coupling test that correlation can't answer (correlation
    * of trending series is spuriously ~1). Exactness: the OLS fit is
    * a closed form over INTEGER sums; residuals are shared doubles
    * rounded to 6-dp decimals, so Δr/r₋₁ products are exact decimals
    * and the three DF sums are partition-order-immune; consecutive-day
    * pairs come from a self-JOIN on day+1 (no window at all); two
    * try_divides guard degenerate grids. Scale: one corpus
    * contraction to the day grid; everything after is grid-sized. */
  private val tsCoint: Q = (s, dir) => {
    val daily = dailySeries(s, dir)
    val x = daily.filter(col("event_type") === "click")
      .select(col("d"), col("y").as("x"))
    val yv = daily.filter(col("event_type") === "view")
      .select(col("d"), col("y").as("yy"))
    val grid = x.join(yv, "d").localCheckpoint()
    // decimal(16) counts: x·x products stay inside precision 38 to
    // SF ~10⁴ (the kpss width discipline) where long sums overflow
    val xd = col("x").cast("decimal(16,0)")
    val yd = col("yy").cast("decimal(16,0)")
    val fit = grid.agg(count(lit(1)).as("n"),
        sum(xd).as("sx"), sum(yd).as("sy"),
        sum(xd * xd).as("sx2"),
        sum(xd * yd).as("sxy"))
      .withColumn("b", try_divide(
        (col("n") * col("sxy") - col("sx") * col("sy")).cast("double"),
        (col("n") * col("sx2") - col("sx") * col("sx")).cast("double")))
      .withColumn("a",
        col("sy").cast("double") / col("n") -
          col("b") * (col("sx").cast("double") / col("n")))
    val resid = grid.crossJoin(broadcast(fit.select("n", "a", "b")))
      .select(col("d"), col("n"),
        // decimal(12,6): |r| is bounded by the daily counts, and the
        // narrow width keeps the rp·dr products inside precision 38
        // (§7.5.16)
        round(col("yy") - col("a") - col("b") * col("x"), 6)
          .cast("decimal(12,6)").as("r"))
    val prev = resid.select(date_add(col("d"), 1).as("d"),
      col("r").as("rp"))
    val pairs = resid.join(prev, "d")
      .select(col("n"), col("rp"), (col("r") - col("rp")).as("dr"))
    pairs.agg(max("n").as("n_days"), count(lit(1)).as("np"),
        sum(col("rp") * col("dr")).as("ssa"),
        sum(col("rp") * col("rp")).as("ssb"),
        sum(col("dr") * col("dr")).as("ssc"))
      .withColumn("phi", try_divide(col("ssa").cast("double"),
        col("ssb").cast("double")))
      .withColumn("rss",
        col("ssc").cast("double") - col("phi") *
          col("ssa").cast("double"))
      .withColumn("t_df", try_divide(col("phi"),
        sqrt(try_divide(
          try_divide(col("rss"), (col("np") - 2).cast("double")),
          col("ssb").cast("double")))))
      .crossJoin(broadcast(fit.select(round(col("b"), 4).as("beta"))))
      .select(col("n_days").cast("long").as("n_days"),
        col("np").cast("long").as("n_pairs"),
        col("beta"),
        round(col("phi"), 4).as("phi"),
        round(col("t_df"), 4).as("t_df"),
        when(round(col("t_df"), 4) < -3.37, 1).otherwise(0)
          .as("cointegrated"))
  }

  /** q_pipe_ts_profile — the time-series shelf composed as ONE fused
    * per-type profile (the q_pipe_curate discipline, fifth shelf):
    * a single corpus contraction to the (type, day) grid
    * (localCheckpointed) feeds every column — calendar coverage
    * (q_ts_islands' simple form), the per-day OLS trend slope
    * (q_agg_regression's integer-sum closed form), day-of-week
    * seasonality R² (how much of the variance the weekly cycle
    * explains — the "should I even deseasonalize" number), the KPSS
    * stationarity verdict (q_ts_kpss's ×n-carried integer statistic,
    * verbatim), and the hysteresis alert-episode count
    * (q_ts_hysteresis's state machine, verbatim). This is the
    * per-metric triage panel an observability pipeline renders:
    * trending? weekly-cycled? stationary? how often did it page?
    * Exactness: every column is a proven per-op device over the same
    * integer grid; the dow R² folds 8-dp pre-rounded decimal terms
    * over the 7-row dow grid (grid rule). Scale: ONE corpus scan;
    * all windows partition per type; output is types-sized.
    * PipeShowcaseSpec pins the KPSS and episode columns bit-equal to
    * the standalone ops. */
  private val pipeTsProfile: Q = (s, dir) => {
    val daily = dailySeries(s, dir).localCheckpoint()
    val base = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n"), min("d").as("d0"), max("d").as("d1"),
        sum("y").as("sy"), sum(col("y") * col("y")).as("sy2"))
    // trend: per-day OLS slope over (epoch-day, y) — decimal sums
    val xd = datediff(col("d"), lit("1970-01-01")).cast("decimal(16,0)")
    val yd = col("y").cast("decimal(16,0)")
    val tr = daily.groupBy("event_type")
      .agg(count(lit(1)).as("tn"), sum(xd).as("tsx"), sum(yd).as("tsy"),
        sum(xd * xd).as("tsx2"), sum(xd * yd).as("tsxy"))
      .select(col("event_type"), round(try_divide(
        (col("tn") * col("tsxy") - col("tsx") * col("tsy"))
          .cast("double"),
        (col("tn") * col("tsx2") - col("tsx") * col("tsx"))
          .cast("double")), 4).as("trend_slope"))
    // dow seasonality R²: 1 − SSw/SST from integer sums; the per-dow
    // terms pre-round to 8-dp decimals before the 7-row fold
    val dowTerms = daily
      .withColumn("dow", dayofweek(col("d")))
      .groupBy("event_type", "dow")
      .agg(sum("y").as("sd"), count(lit(1)).as("nd"))
      .withColumn("term",
        round((col("sd").cast("decimal(22,0)") * col("sd"))
          .cast("double") / col("nd"), 8)
          .cast("decimal(24,8)"))
      .groupBy("event_type").agg(sum("term").as("ssd"))
    val dow = base.join(dowTerms, "event_type")
      .select(col("event_type"), round(lit(1.0) - try_divide(
        col("sy2").cast("double") - col("ssd").cast("double"),
        col("sy2").cast("double") -
          (col("sy").cast("decimal(22,0)") * col("sy")).cast("double")
            / col("n")), 4)
        .as("dow_r2"))
    val kpss = kpssSums(daily).select(col("event_type"),
      kpssEta.as("kpss_eta"),
      when(kpssEta > 0.463, 0).otherwise(1).as("level_stationary"))
    // hysteresis verbatim → episode count
    val hstats = base.select(col("event_type"),
      (col("sy").cast("double") / col("n")).as("m"),
      sqrt(try_divide(
        col("sy2").cast("double") - col("n") *
          (col("sy").cast("double") / col("n")) *
          (col("sy").cast("double") / col("n")),
        (col("n") - 1).cast("double"))).as("sd"))
    val eps = alertRuns(daily, hstats)
      .groupBy("event_type").agg(count(lit(1)).as("n_episodes"))
    base.select(col("event_type"),
        col("n").cast("long").as("n_days"),
        round(col("n").cast("double") /
          (datediff(col("d1"), col("d0")) + 1), 4).as("coverage"))
      .join(tr, "event_type")
      .join(dow, "event_type")
      .join(kpss, "event_type")
      .join(eps, Seq("event_type"), "left")
      .select(col("event_type"), col("n_days"), col("coverage"),
        col("trend_slope"), col("dow_r2"), col("kpss_eta"),
        col("level_stationary"),
        coalesce(col("n_episodes"), lit(0L)).cast("long")
          .as("alert_episodes"))
      .orderBy(col("event_type").asc_nulls_first)
  }

  /** q_ts_ccf — cross-correlation function between the click and
    * view daily series at lags −3..+3: r_k = corr(click_t, view_{t+k})
    * — the LEAD-LAG detector (q_ts_rolling_corr tracks same-time
    * co-movement over time; the CCF asks WHICH SERIES MOVES FIRST —
    * a peak at k=+1 means clicks lead views by a day, the causal-
    * direction hint every funnel/capacity model wants). Exactness:
    * per-lag pairs come from a calendar date-shift equi-join (the
    * q_ts_autocorr device — a gap day must not shift the alignment);
    * every moment sum is integer in decimal(38); one closed-form r
    * per lag with try_divide on degenerate overlaps. Scale: one
    * corpus contraction to the day grid, 7 lag keys exploded over it
    * — the join is grid×lags metadata. */
  private val tsCcf: Q = (s, dir) => {
    val daily = dailySeries(s, dir)
    val x = daily.filter(col("event_type") === "click")
      .select(col("d"), col("y").cast("long").as("xv"))
    val yv = daily.filter(col("event_type") === "view")
      .select(col("d").as("dy"), col("y").cast("long").as("yv"))
    val lags = s.range(1)
      .select(explode(sequence(lit(-3), lit(3))).as("k"))
    val pairs = x.crossJoin(broadcast(lags))
      .withColumn("dy", expr("date_add(d, k)"))
      .join(yv, "dy")
    def d38(c: Column) = c.cast("decimal(38,0)")
    val g = pairs.groupBy("k")
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(d38(col("xv"))).as("sx"), sum(d38(col("yv"))).as("sy"),
        sum(d38(col("xv") * col("xv"))).as("sx2"),
        sum(d38(col("yv") * col("yv"))).as("sy2"),
        sum(d38(col("xv") * col("yv"))).as("sxy"))
    g.select(col("k").cast("int").as("lag"),
        col("n").cast("long").as("n_pairs"),
        round(try_divide(
          (col("n") * col("sxy")).cast("double") -
            (col("sx") * col("sy")).cast("double"),
          sqrt((col("n") * col("sx2")).cast("double") -
            (col("sx") * col("sx")).cast("double")) *
            sqrt((col("n") * col("sy2")).cast("double") -
              (col("sy") * col("sy")).cast("double"))), 4).as("r"))
      .orderBy("lag")
  }

  /** q_ts_peaks — local-maximum census per type: a peak is a day
    * strictly above its predecessor and at least its successor (the
    * pinned tie rule), its prominence the rise over the taller
    * neighbor — peak COUNT, max prominence, and mean inter-peak
    * spacing per type. The LOCAL-shape complement of q_evt_anomaly's
    * global threshold (a metric can set a local peak every Monday
    * without ever crossing a global band — release-cadence and
    * batch-job signatures live here, not in z-scores). Exactness:
    * neighbor comparisons and prominence are pure integers; spacing
    * is one exact integer ratio (first-to-last peak span over
    * peak-count−1), NULL below two peaks via try_divide. Scale: one
    * grid contraction; lag/lead are O(1)-state per-type windows. */
  private val tsPeaks: Q = (s, dir) => {
    val w = Window.partitionBy("event_type").orderBy("d")
    val g = dailySeries(s, dir)
      .withColumn("pv", lag(col("y"), 1).over(w))
      .withColumn("nx", lead(col("y"), 1).over(w))
      .withColumn("isPeak",
        col("pv").isNotNull && col("nx").isNotNull &&
          col("y") > col("pv") && col("y") >= col("nx"))
      .withColumn("prom",
        when(col("isPeak"), col("y") - greatest(col("pv"), col("nx"))))
    g.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        count(when(col("isPeak"), 1)).as("np"),
        max("prom").as("maxp"),
        min(when(col("isPeak"), col("d"))).as("p0"),
        max(when(col("isPeak"), col("d"))).as("p1"))
      .select(col("event_type"),
        col("n_days").cast("long").as("n_days"),
        col("np").cast("long").as("n_peaks"),
        coalesce(col("maxp"), lit(0L)).cast("long")
          .as("max_prominence"),
        round(try_divide(datediff(col("p1"), col("p0"))
          .cast("double"), (col("np") - 1).cast("double")), 4)
          .as("avg_spacing_days"))
      .orderBy(col("event_type").asc_nulls_first)
  }

  /** q_ts_hurst — rescaled-range (R/S) Hurst exponent per type:
    * blocks of m ∈ {5,10,15} days, per block R = range of cumulative
    * deviations and S = population std, H = OLS slope of
    * ln(mean R/S) on ln(m) — the LONG-MEMORY detector (H ≈ 0.5
    * random walk, H > 0.5 persistent trends, H < 0.5 mean-reverting;
    * autocorr sees ONE lag at a time, Hurst integrates the whole
    * dependence structure — the difference between "yesterday
    * predicts today" and "shocks echo for weeks", which decides
    * whether naive capacity extrapolation is safe). Exactness: the
    * cumulative deviation is carried ×m (y·m − block-sum — INTEGER),
    * so R·m is integer and R/S = R·m/√(m·Σy² − (Σy)²) divides exact
    * integers once per block; per-block R/S and the two ln legs
    * round to 8-dp decimals before their grid folds (grid rule);
    * constant blocks NULL via try_divide and drop from the mean.
    * Scale: one corpus contraction; blocks/windows are grid-sized
    * per (type, m); the fit is 3 points per type. */
  private val tsHurst: Q = (s, dir) => {
    val daily = dailySeries(s, dir)
    val w = Window.partitionBy("event_type").orderBy("d")
    val withRn = daily.withColumn("rn", row_number().over(w))
      .localCheckpoint()
    val ms = withRn.crossJoin(broadcast(s.range(1)
        .select(explode(typedLit(Seq(5, 10, 15))).as("m"))))
      .withColumn("blk", expr("(rn - 1) DIV m"))
    val blocks = ms.groupBy("event_type", "m", "blk")
      .agg(count(lit(1)).as("bn"), sum("y").as("bs"),
        sum(col("y") * col("y")).as("bs2"))
      .filter(col("bn") === col("m"))
    val withBs = ms.join(blocks, Seq("event_type", "m", "blk"))
      .withColumn("devm", col("y") * col("m") - col("bs"))
      .withColumn("cum", sum("devm").over(
        Window.partitionBy("event_type", "m", "blk").orderBy("d")))
    val rstats = withBs.groupBy("event_type", "m", "blk")
      .agg(max("cum").as("cmax"), min("cum").as("cmin"),
        max("bs").as("tbs"), max("bs2").as("tbs2"))
      // decimal(22) products: m·Σy² and (Σy)² overflow long past
      // SF ~10³ (§7.5.16)
      .withColumn("rs", try_divide(
        (col("cmax") - col("cmin")).cast("double"),
        sqrt((col("m").cast("decimal(22,0)") * col("tbs2") -
          col("tbs").cast("decimal(22,0)") * col("tbs"))
          .cast("double"))))
      .withColumn("rs8", round(col("rs"), 8).cast("decimal(20,8)"))
    val perM = rstats.groupBy("event_type", "m")
      .agg(sum("rs8").as("srs"),
        count(when(col("rs8").isNotNull, 1)).as("nb"))
      .withColumn("mean_rs", try_divide(col("srs").cast("double"),
        col("nb").cast("double")))
      .withColumn("lx",
        round(log(col("m").cast("double")), 8).cast("decimal(20,8)"))
      .withColumn("ly",
        round(log(col("mean_rs")), 8).cast("decimal(20,8)"))
      .localCheckpoint()
    val fit = perM.filter(col("ly").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("np"), sum("lx").as("fx"),
        sum("ly").as("fy"), sum(col("lx") * col("lx")).as("fx2"),
        sum(col("lx") * col("ly")).as("fxy"))
      .withColumn("h", round(try_divide(
        (col("np") * col("fxy").cast("double") -
          col("fx").cast("double") * col("fy").cast("double")),
        (col("np") * col("fx2").cast("double") -
          col("fx").cast("double") * col("fx").cast("double"))), 4))
    val wide = perM.groupBy("event_type")
      .agg(min(when(col("m") === 5, round(col("mean_rs"), 4)))
          .as("rs_m5"),
        min(when(col("m") === 10, round(col("mean_rs"), 4)))
          .as("rs_m10"),
        min(when(col("m") === 15, round(col("mean_rs"), 4)))
          .as("rs_m15"))
    fit.join(wide, "event_type")
      .select(col("event_type"), col("np").cast("long").as("n_scales"),
        col("rs_m5"), col("rs_m10"), col("rs_m15"), col("h"),
        when(col("h") > 0.6, lit("persistent"))
          .when(col("h") < 0.4, lit("mean_reverting"))
          .otherwise(lit("random_walk")).as("regime"))
      .orderBy(col("event_type").asc_nulls_first)
  }

  val all: Map[String, Q] = Map(
    "q_ts_hurst" -> tsHurst,
    "q_ts_ccf" -> tsCcf,
    "q_ts_peaks" -> tsPeaks,
    "q_pipe_ts_profile" -> pipeTsProfile,
    "q_ts_coint" -> tsCoint,
    "q_ts_sax" -> tsSax,
    "q_ts_hysteresis" -> tsHysteresis,
    "q_ts_kpss" -> tsKpss,
    "q_ts_croston" -> tsCroston,
    "q_ts_ewma_var" -> tsEwmaVar,
    "q_ts_rolling_ols" -> tsRollingOls,
    "q_ts_theil_sen" -> tsTheilSen,
    "q_ts_des" -> tsDes,
    "q_ts_holt_winters" -> tsHoltWinters,
    "q_ts_islands" -> tsIslands,
    "q_ts_hod_circular" -> tsHodCircular,
    "q_ts_runs_test" -> tsRunsTest,
    "q_ts_ljung_box" -> tsLjungBox,
    "q_ts_dickey_fuller" -> tsDickeyFuller,
    "q_ts_spectral_entropy" -> tsSpectralEntropy,
    "q_ts_granger" -> tsGranger,
    "q_ts_periodogram" -> tsPeriodogram,
    "q_ts_strength" -> tsStrength,
    "q_ts_rolling_corr" -> tsRollingCorr,
    "q_ts_backtest" -> tsBacktest,
    "q_ts_cusum" -> tsCusum,
    "q_ts_survival" -> tsSurvival,
    "q_ts_mann_kendall" -> tsMannKendall,
    "q_ts_hampel" -> tsHampel,
    "q_ts_decompose" -> tsDecompose,
    "q_ts_changepoint" -> tsChangepoint,
    "q_ts_anomaly" -> tsAnomaly,
    "q_ts_autocorr" -> tsAutocorr,
    "q_ts_forecast_snaive" -> tsForecastSnaive,
    "q_ts_drawdown" -> tsDrawdown,
    "q_ts_wow" -> tsWow,
    "q_ts_interpolate" -> tsInterpolate)
}
