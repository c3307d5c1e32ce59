package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2.D aggregations. All group-bys are Spark's default two-phase
  * HashAggregate (partial map-side combine → final), which is the shape
  * that scales: the shuffle carries one row per (partition, group), not per
  * input row. Float sums are rounded to 4 decimals for oracle parity
  * (SURVEY.md §7.5.2).
  */
object AggQueries {
  type Q = (SparkSession, String) => DataFrame

  /** q_agg_count — global count over a join (ref count round-trip
    * `database/app.py:66-72,195-201`; here it is the *same* plan as the
    * page query, not a second execution — SURVEY.md §3.1). */
  private val aggCount: Q = (s, dir) =>
    Tables.load(s, dir, "lineitem")
      .join(Tables.load(s, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .agg(count(lit(1)).as("n"))

  /** q_agg_group — hash group-by count (ref per-endpoint counts
    * `database/app.py:66-72`). */
  private val aggGroup: Q = (s, dir) =>
    Tables.load(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")

  /** q_agg_multi — sum/avg/min/max in one pass (ref numeric analytics over
    * price tiers `web_scraper/web_scraping.py:242`). */
  /* Money sums go through exact DECIMAL(18,2) accumulation, then round →
   * double: a double sum is addition-order-dependent (partition layout,
   * AQE) and its rounding can diverge from the oracle on half-cases. min/
   * max stay double — selection, not arithmetic. */
  private val aggMulti: Q = (s, dir) =>
    Tables.load(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        expr("CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 4) AS DOUBLE)")
          .as("sum_qty"),
        expr("""round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                      AS DOUBLE) / count(1), 4)""").as("avg_price"),
        round(min("l_discount"), 4).as("min_disc"),
        round(max("l_tax"), 4).as("max_tax"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** q_agg_distinct — count(DISTINCT) (ref dim cardinality implied by
    * `get_or_create` dedup `database/parse_and_upload_to_db.py:31-47`).
    * Catalyst rewrites to a two-level aggregate (RewriteDistinctAggregates). */
  private val aggDistinct: Q = (s, dir) =>
    Tables.load(s, dir, "orders")
      .groupBy("o_orderstatus")
      .agg(countDistinct(col("o_custkey")).as("n_cust"))
      .orderBy("o_orderstatus")

  /** q_dedup_distinct — distinct row set = dim build
    * (`database/parse_and_upload_to_db.py:37-44` at set level). */
  private val dedupDistinct: Q = (s, dir) =>
    Tables.load(s, dir, "customer")
      .select("c_mktsegment").distinct()
      .orderBy("c_mktsegment")

  /** q_agg_approx — HLL distinct (scale extension of q_agg_distinct: exact
    * distinct at 100 TB shuffles every key; HLL ships a constant-size
    * sketch per group). The HLL++ estimate has no DuckDB twin, so the
    * registered readout is SELF-CERTIFYING: it carries the exact
    * distinct count (the anchor both engines compute identically) plus
    * the 3·rsd bound verdict on the estimate — the oracle asserts the
    * verdict is literally TRUE, which flips this row from `no_oracle`
    * to a checked BOUND without pretending bit-parity exists. (The
    * exact leg is demo-affordable; at 100 TB only the sketch runs and
    * the certification moves to a sampled audit.) HLL++ is
    * deterministic given the data, so the verdict cannot flap. */
  private val aggApprox: Q = (s, dir) =>
    // r19: both legs fold over the (flag, partkey) DISTINCT
    // contraction — HLL registers are max-folds over hashed values,
    // so duplicates never move the estimate, and the exact leg is the
    // contraction's group count; this replaces the mixed
    // distinct+non-distinct aggregate's Expand (×2 row inflation +
    // double aggregate layer) with one map-side-combining distinct
    Tables.load(s, dir, "lineitem")
      .select("l_returnflag", "l_partkey").distinct()
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_parts"),
        approx_count_distinct(col("l_partkey"), 0.02).as("apx"))
      .select(col("l_returnflag"), col("n_parts"),
        (abs(col("apx") - col("n_parts")).cast("double") <=
          lit(3 * 0.02) * col("n_parts").cast("double"))
          .as("within_rsd"))
      .orderBy("l_returnflag")

  /** q_agg_rollup — hierarchical subtotals region→nation (ref dim hierarchy
    * `nation.n_regionkey`; category dims `model.py:35-38`). */
  private val aggRollup: Q = (s, dir) =>
    Tables.load(s, dir, "customer")
      .join(broadcast(Tables.load(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.load(s, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .select("r_name", "n_name", "c_acctbal")
      // Dataset.rollup on a post-join frame trips Spark 4.1's
      // ambiguous-self-join detector (Expand duplicates the grouping
      // attributes); GROUP BY ROLLUP builds the identical logical plan
      // without the false positive. The view name is unique per invocation:
      // a session-global fixed name would let concurrent runs clobber each
      // other between createOrReplaceTempView and sql().
      .transform { j =>
        val view = s"rollup_in_${java.util.UUID.randomUUID().toString.replace("-", "")}"
        j.createOrReplaceTempView(view)
        try j.sparkSession.sql(
          s"""SELECT r_name, n_name, count(*) AS n_cust,
                    CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 4)
                         AS DOUBLE) AS sum_bal
             FROM $view GROUP BY ROLLUP (r_name, n_name)
             ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""")
        finally j.sparkSession.catalog.dropTempView(view)
      }

  /** q_agg_cube — all grouping sets (same family as rollup). */
  private val aggCube: Q = (s, dir) =>
    Tables.load(s, dir, "orders")
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"),
        expr("CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 4) AS DOUBLE)")
          .as("sum_price"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  /** q_agg_gsets — explicit GROUPING SETS ((flag,status),(flag),()) —
    * the general form that rollup/cube specialize (same reporting family
    * as q_agg_rollup; ref dim hierarchy `database/model.py:35-38`).
    * `grouping()` flags disambiguate subtotal rows from genuine NULL
    * groups, which also makes the output order total (§7.5). */
  private val aggGsets: Q = (s, dir) =>
    Tables.load(s, dir, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        expr("CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 4) AS DOUBLE)")
          .as("sum_qty"),
        grouping(col("l_returnflag")).cast("long").as("g_flag"),
        grouping(col("l_linestatus")).cast("long").as("g_status"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first, col("g_flag"), col("g_status"))

  /** q_agg_countmin — count-min sketch frequency estimation: the
    * heavy-hitters counterpart to q_agg_sketch's HLL (how OFTEN is a
    * term seen, not how MANY distinct) — at 100 TB "how frequent is
    * token X in the corpus" must come from a fixed-size sketch, never
    * a full vocabulary count. Sketch = d×w counter grid (d=4 hash
    * rows, w=1024 buckets): each token increments one bucket per row
    * (`xxhash64(row_seed, term) mod w`), estimate = min over rows.
    * The corpus is tokenized ONCE into vocabulary counts (two-phase
    * groupBy(term): map-side partials collapse each partition to its
    * local vocabulary before the shuffle); the sketch is then derived
    * from the vocab — a cell's counter is Σ n_exact over the terms
    * hashing into it, identical by construction to incrementing per
    * token — and the exact top-20 reads the same vocab. The vocab is
    * persist()'d (MEMORY_AND_DISK) rather than left to Catalyst's
    * ReuseExchange: r10's bench showed the reuse firing on some samples
    * (1.0 s) and not others (4.3 s) — AQE re-optimization can rewrite
    * one branch's exchange until it no longer canonicalizes equal to
    * the other's, silently doubling the corpus pass. The cache pins
    * only the VOCABULARY (≤ distinct-term rows, KBs–MBs at any corpus
    * size — never the token stream), CacheManager dedupes re-persists
    * of the same plan across bench samples, and the eager count()
    * populates it exactly once before either branch runs (r9 flagged
    * the original shape: two independent corpus scans, one per branch;
    * at 100 TB that's a doubled corpus pass for no information gain).
    * The final sketch
    * (≤ d·w = 4096 rows) broadcasts to the probe join. Counters are
    * plain sums, so the sketch is mergeable across partitions/days by
    * construction. The query reports the exact top-20 terms with their
    * estimates so the CMS over-count guarantee (est ≥ exact, est ≤
    * exact + εN deterministically checked) is visible in the output.
    * Q-tier: xxhash64 has no DuckDB twin; bounds + determinism gated
    * in SinksAndApproxSpec. (Ref: the reference counts category
    * frequencies client-side in pandas, `database/app.py:214-226` —
    * this is that capability made sublinear.) */
  private[graft] val aggCountminFull: Q = (s, dir) => {
    val d = 4
    val w = 1024
    def cell(i: Int, t: org.apache.spark.sql.Column) =
      struct(lit(i).as("row"), pmod(xxhash64(lit(i), t), lit(w)).as("bucket"))
    val termCounts = Tables.parallelized(Tables.load(s, dir, "documents"))
      .select(explode(graft.ops.TextSim.tokens(col("text"))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("term").agg(count(lit(1)).as("n_exact"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    termCounts.count() // eager: one corpus pass fills the vocab cache
    val sketch = termCounts
      .select(explode(array((0 until d).map(i => cell(i, col("term"))): _*))
        .as("c"), col("n_exact"))
      .groupBy(col("c.row").as("row"), col("c.bucket").as("bucket"))
      .agg(sum("n_exact").as("cnt"))
    val top = termCounts
      .orderBy(col("n_exact").desc, col("term")).limit(20)
    top
      .select(col("term"), col("n_exact"),
        explode(array((0 until d).map(i => cell(i, col("term"))): _*))
          .as("c"))
      .select(col("term"), col("n_exact"),
        col("c.row").as("row"), col("c.bucket").as("bucket"))
      .join(broadcast(sketch), Seq("row", "bucket"))
      .groupBy("term", "n_exact")
      .agg(min(col("cnt")).as("n_est"))
      // n_tok (total token count = Σ vocab counts, read from the SAME
      // persisted vocabulary — no second corpus pass) rides along for
      // the registered bound readout
      .crossJoin(broadcast(termCounts.agg(sum("n_exact").as("n_tok"))))
      .orderBy(col("n_exact").desc, col("term"))
  }

  /** Registered readout of [[aggCountminFull]] — self-certifying BOUND
    * form (the q_agg_approx device): exact top-20 term counts (DuckDB
    * recomputes them — tokenization is the shared zipf convention)
    * plus the CMS verdict `est ≥ exact AND est ≤ exact + 3εN` (ε =
    * e/w; fixed seeds make it deterministic). The estimate values stay
    * ScalaTest-pinned in SinksAndApproxSpec via [[aggCountminFull]]. */
  private val aggCountmin: Q = (s, dir) =>
    aggCountminFull(s, dir)
      .select(col("term"), col("n_exact"),
        (col("n_est") >= col("n_exact") &&
          (col("n_est") - col("n_exact")).cast("double") <=
            lit(3.0 * math.E / 1024.0) * col("n_tok").cast("double"))
          .as("cms_bounds_ok"))
      .orderBy(col("n_exact").desc, col("term"))

  /** q_agg_sketch — MERGEABLE distinct-count sketches (Apache
    * DataSketches HLL): per-day sketches built once, then unioned into a
    * per-type rolling estimate — the incremental-stats pattern at
    * 100 TB, where "distinct users last N days" must come from merging
    * N daily sketches (constant bytes each), never from re-scanning N
    * days of raw events. `hll_sketch_agg` → binary sketch column
    * (persistable to the warehouse); `hll_union_agg` merges without
    * precision loss. Sketch internals have no DuckDB parity, so the
    * registered readout is the self-certifying BOUND form (the
    * q_agg_approx device): exact n_days + exact distinct users as the
    * oracle anchors, plus the 5% (≈3·rsd at lgK = 12) verdict on the
    * merged estimate; the estimate VALUES and merge-invariance stay
    * ScalaTest-pinned in SinksAndApproxSpec via [[aggSketchMerged]]. */
  private[graft] val aggSketchMerged: Q = (s, dir) =>
    Tables.load(s, dir, "events")
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(hll_sketch_agg(col("user_id"), 12).as("sk"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        hll_sketch_estimate(hll_union_agg(col("sk"), false))
          .cast("long").as("apx_users"))
      .orderBy("event_type")

  private val aggSketch: Q = (s, dir) => {
    val exact = Tables.load(s, dir, "events")
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_users"))
    aggSketchMerged(s, dir).join(exact, "event_type")
      .select(col("event_type"), col("n_days"), col("n_users"),
        (abs(col("apx_users") - col("n_users")).cast("double") <=
          lit(0.05) * col("n_users").cast("double"))
          .as("hll_within_bound"))
      .orderBy("event_type")
  }

  /** q_agg_quantile — exact interpolated percentiles per group (the
    * distribution profile behind curation cutoffs — "drop the bottom
    * quartile by quality" needs the quartile first; ref numeric analytics
    * over price tiers `web_scraper/web_scraping.py:242`). Both engines
    * use linear interpolation at position p·(n−1), so values agree
    * exactly; rounded to 4 dp because the interpolation arithmetic is
    * float. Exact percentile sorts within each group — at 100 TB, swap
    * to `approx_percentile` (t-digest sketch, constant memory/group) and
    * keep this as the small-group/audit path. */
  private val aggQuantile: Q = (s, dir) =>
    Tables.load(s, dir, "events")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(expr("percentile(value, 0.25)"), 4).as("p25"),
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.75)"), 4).as("p75"),
        round(expr("percentile(value, 0.9)"), 4).as("p90"))
      .orderBy("event_type")

  /** q_agg_quantile_approx — the SCALE TWIN of q_agg_quantile:
    * `approx_percentile` (Greenwald–Khanna sketch, constant memory per
    * group, mergeable partials) instead of the exact per-group sort.
    * This is the variant that actually runs at 100 TB — q_agg_quantile's
    * scaladoc claims the swap is one function name; this query EXECUTES
    * that claim so the plan shape (two-phase ObjectHashAggregate over
    * sketch partials) is driver-run every round, not just asserted.
    * The sketch's error model is implementation-specific (no DuckDB
    * value parity), so the registered readout is the self-certifying
    * RANK-ERROR form: for each approximate percentile, the verdict
    * that its rank among the group's non-null values sits within the
    * Greenwald–Khanna tolerance n/accuracy (+2 interpolation slack) of
    * the target rank — the exact guarantee the sketch advertises,
    * checked with two conditional counts per quantile. The oracle
    * anchors on the exact group count and asserts every verdict TRUE;
    * the approximate VALUES stay ScalaTest-pinned in
    * SinksAndApproxSpec via [[aggQuantileApproxRaw]]. */
  private[graft] val aggQuantileApproxRaw: Q = (s, dir) =>
    Tables.load(s, dir, "events")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(expr("approx_percentile(value, 0.25, 10000)"), 4).as("p25"),
        round(expr("approx_percentile(value, 0.5, 10000)"), 4).as("p50"),
        round(expr("approx_percentile(value, 0.75, 10000)"), 4).as("p75"),
        round(expr("approx_percentile(value, 0.9, 10000)"), 4).as("p90"))
      .orderBy("event_type")

  private val aggQuantileApprox: Q = (s, dir) => {
    // unrounded sketch answers for the rank check (the 4-dp rounding in
    // the raw readout is display-grade; rank verification needs the
    // value the sketch actually returned)
    val apx = Tables.load(s, dir, "events")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), count(col("value")).as("n_val"),
        expr("approx_percentile(value, 0.25, 10000)").as("a25"),
        expr("approx_percentile(value, 0.5, 10000)").as("a50"),
        expr("approx_percentile(value, 0.75, 10000)").as("a75"),
        expr("approx_percentile(value, 0.9, 10000)").as("a90"))
    val ev = Tables.load(s, dir, "events").select("event_type", "value")
    def okCol(p: Double, a: String): org.apache.spark.sql.Column = {
      // n_val is constant per group but not a grouping key — read it
      // through max() so every reference sits inside an aggregate
      val nv = max(col("n_val")).cast("double")
      val tol = nv / 10000.0 + 2.0
      val target = lit(p) * nv
      (sum(when(col("value") <= col(a), 1).otherwise(0)).cast("double") >=
        target - tol) &&
        (sum(when(col("value") < col(a), 1).otherwise(0)).cast("double") <=
          target + tol)
    }
    ev.join(broadcast(apx), "event_type")
      .groupBy("event_type")
      .agg(max(col("n")).as("n"),
        okCol(0.25, "a25").as("ok_p25"), okCol(0.5, "a50").as("ok_p50"),
        okCol(0.75, "a75").as("ok_p75"), okCol(0.9, "a90").as("ok_p90"))
      .orderBy("event_type")
  }

  /** q_agg_stats — second-moment statistics per group: sample
    * stddev/variance and the quantity↔price correlation/covariance
    * (textbook definitions shared by both engines; single-pass co-moment
    * accumulation, order-independent up to float rounding → 4 dp).
    * Everything is one two-phase HashAggregate — moments compose from
    * (n, Σx, Σx², Σxy) partials, so the shuffle carries four numbers per
    * group regardless of corpus size. */
  private val aggStats: Q = (s, dir) =>
    Tables.load(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
        round(var_samp(col("l_quantity")), 4).as("var_qty"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6)
          .as("corr_qty_price"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4)
          .as("covar_qty_price"))
      .orderBy("l_returnflag")

  /** q_agg_histogram — fixed-width binning of order totals (the
    * distribution-sketch dual of q_agg_quantile: constant bin edges, one
    * group-by; price histogram analog of the reference's price-tier
    * analytics `web_scraper/web_scraping.py:242`). Bin math is integer
    * floor division — exact in both engines. */
  private val aggHistogram: Q = (s, dir) =>
    Tables.load(s, dir, "orders")
      .groupBy(floor(col("o_totalprice") / 20000).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"),
        round(min("o_totalprice"), 4).as("lo"),
        round(max("o_totalprice"), 4).as("hi"))
      .withColumn("bin_lo", col("bin") * 20000)
      .orderBy("bin")

  /** q_agg_collect — order-stable list rebuild, the denormalization dual of
    * explode (ref nested arrays `README.md:95-103`). The list is serialized
    * to a '|'-joined string in the final projection ONLY so the driver's
    * scalar comparator can hash it; the aggregation under test is
    * collect_list. */
  private val aggCollect: Q = (s, dir) =>
    Tables.load(s, dir, "lineitem")
      .groupBy("l_orderkey")
      .agg(concat_ws("|",
        sort_array(collect_list(col("l_linenumber"))).cast("array<string>"))
        .as("lines"))
      .orderBy("l_orderkey")

  /** q_agg_pivot — long→wide amenity-matrix pattern
    * (`database/parse_and_upload_to_db.py:159-171`). Explicit pivot values:
    * an unbounded pivot would need an extra distinct-collect job. */
  private val aggPivot: Q = (s, dir) =>
    Tables.load(s, dir, "events")
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      // fill ONLY the pivot count columns: a blanket fill would also
      // rewrite a NULL user_id grouping key to 0 and diverge from the
      // oracle's CASE-count formulation
      .na.fill(0L, Seq("click", "error", "purchase", "signup", "view"))
      .orderBy(col("user_id").asc_nulls_first)

  /** q_agg_mode — most-frequent value per group with a deterministic
    * tie rule (count desc, value asc): the categorical summary the
    * reference's pandas post-processing reaches for with `.mode()`
    * (`database/app.py:214-226` family). Two-phase (group, value) count
    * then a per-group top-1 window — the shuffle carries one row per
    * distinct (user, event_type), never the event stream, and the rank
    * filter compiles to WindowGroupLimit (state = 1 row per group). */
  private val aggMode: Q = (s, dir) => {
    val counts = Tables.load(s, dir, "events")
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id")
      .orderBy(col("n").desc, col("event_type"))
    counts.withColumn("rn", row_number().over(win))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("mode_event"), col("n"))
      .orderBy("user_id")
  }

  /** q_agg_maxby — latest/earliest record per key in ONE aggregation
    * pass (`max_by`/`min_by` on the unique event_id): the "current
    * state per entity" read the reference's latest-wins upsert implies
    * (`database/parse_and_upload_to_db.py:31-47`), without the window
    * formulation's per-partition sort — partial max_by state is one
    * (value, ordering) pair per key per task, so map-side combine
    * collapses the stream before the shuffle (q_agg_mode pays a
    * (key, value)-pair shuffle + WindowGroupLimit for the same
    * question; max_by is the cheaper plan when the "top 1 by a unique
    * key" is all that's asked). event_id is unique → deterministic;
    * BOTH payloads (event_type and value) are coalesced identically on
    * both sides because DuckDB's arg_max skips NULL payloads where
    * Spark's max_by returns them — the value sentinel is 0.0 (no nulls
    * exist in the fixture, asserted in RelationalOpsSpec, so the
    * sentinel never surfaces; it exists to keep the engines aligned if
    * that ever changes). */
  private val aggMaxby: Q = (s, dir) =>
    Tables.load(s, dir, "events")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        max("event_id").as("last_id"),
        max_by(coalesce(col("event_type"), lit("none")), col("event_id"))
          .as("last_type"),
        round(max_by(coalesce(col("value"), lit(0.0)), col("event_id"))
          .cast("double"), 4).as("last_value"),
        min_by(coalesce(col("event_type"), lit("none")), col("event_id"))
          .as("first_type"))
      .orderBy(col("user_id").asc_nulls_first)

  /** q_agg_ttest — A/B experiment summary (Welch's t statistic per
    * event_type, treatment = odd user_id): the readout query of every
    * experimentation pipeline. One aggregation pass — both arms'
    * moments come from conditional aggregates over the same scan, no
    * self-join of the two cohorts; the t statistic composes mergeable
    * moments, so the shape is identical at any corpus size. Float
    * discipline matches q_agg_stats: engine aggregate algorithms agree
    * to ~1e-10 at these magnitudes and sqrt is IEEE-correctly-rounded,
    * so the 4-dp round is a tolerance for summation order, not for
    * algorithmic divergence. (The t→p mapping needs the incomplete
    * beta function — that final scalar lookup belongs client-side, not
    * in the scan.) */
  private val aggTtest: Q = (s, dir) => {
    val t = col("user_id") % 2 === 1
    val c = col("user_id") % 2 === 0
    val vT = when(t, col("value"))
    val vC = when(c, col("value"))
    Tables.load(s, dir, "events")
      .groupBy("event_type")
      .agg(
        count(when(t, 1)).as("n_t"),
        count(when(c, 1)).as("n_c"),
        round(avg(vT), 4).as("mean_t"),
        round(avg(vC), 4).as("mean_c"),
        // try_divide, not `/`: two CONSTANT arms (var 0, n ≥ 2) make
        // the denominator exactly 0, which under ANSI mode throws
        // DIVIDE_BY_ZERO and kills the job on one degenerate group at
        // scale — try_divide yields NULL, and the oracle pins the same
        // NULL with nullif(sqrt(...), 0) so the engines agree on every
        // DuckDB version (pinned in PipelinePatternSpec). The inner
        // var/count divisions never throw: count = 0 ⇒ var is NULL,
        // and Divide checks the NULL dividend before the zero-throw.
        round(try_divide(avg(vT) - avg(vC),
          sqrt(var_samp(vT) / count(when(t, 1)) +
            var_samp(vC) / count(when(c, 1)))), 4).as("t_welch"))
      .orderBy(col("event_type").asc_nulls_first)
  }

  /** q_agg_chisq — chi-squared test of independence over a categorical
    * contingency table (event_type × user cohort): the
    * categorical×categorical counterpart of q_agg_ttest's two-arm mean
    * test — "does event mix differ by cohort" is the first question of
    * every segmentation/guardrail readout. Shape: ONE corpus-sized
    * two-phase count into the ≤ |types|·|cohorts| cell table (map-side
    * combine collapses the scan; the shuffle carries cells, not
    * events), then every downstream step — row/column marginals,
    * expected counts, the Σ(o−e)²/e fold — is cell-level arithmetic on
    * a ~20-row relation with broadcast joins. Float discipline: counts
    * stay integers until the closed-form double readout, whose
    * expression structure ((o−e)·(o−e)/e, marginals cast to double
    * before the product so no int64 overflow at corpus scale) is
    * IDENTICAL in the oracle; the 4-dp round is a tolerance for the
    * ~20-term summation order only. (The χ²→p mapping needs the
    * incomplete gamma — client-side, like t→p in q_agg_ttest.) */
  private val aggChisq: Q = (s, dir) => {
    val cells = Tables.load(s, dir, "events")
      .select(col("event_type"), (col("user_id") % 4).as("cohort"))
      .groupBy("event_type", "cohort")
      .agg(count(lit(1)).as("o"))
    val rowm = cells.groupBy("event_type").agg(sum("o").as("r"))
    val colm = cells.groupBy("cohort").agg(sum("o").as("c"))
    val tot = cells.agg(sum("o").as("n"))
    cells
      .join(broadcast(rowm), "event_type")
      .join(broadcast(colm), "cohort")
      .crossJoin(broadcast(tot))
      .withColumn("e",
        col("r").cast("double") * col("c") / col("n"))
      .agg(
        round(sum((col("o") - col("e")) * (col("o") - col("e")) / col("e")),
          4).as("chi2"),
        ((countDistinct("event_type") - 1) * (countDistinct("cohort") - 1))
          .as("dof"),
        max("n").as("n"))
  }

  /** q_agg_mde — experiment power analysis from the live corpus: the
    * minimum detectable effect at the CURRENT per-arm size, and the
    * required per-arm n for 1pp and 0.5pp absolute lifts (α = 0.05
    * two-sided, 80% power — z 1.96/0.8416) — the question asked BEFORE
    * q_agg_ab_ztest's verdict ("can this experiment even see the
    * effect we care about?"); an A/B readout without it reports noise
    * as "not significant". Exactness: two integers (users, converters)
    * leave the corpus via the same per-user map-side collapse as
    * ab_ztest; MDE = (z_α+z_β)·√(2p̂(1−p̂)/n_arm) and
    * n_req = ⌈(z_α+z_β)²·2p̂(1−p̂)/δ²⌉ are shared closed-form doubles;
    * ceil runs on engine-identical doubles. */
  private val aggMde: Q = (s, dir) => {
    val zsum = 1.96 + 0.8416
    val users = Tables.load(s, dir, "events")
      .groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase" &&
        col("value") > 90, 1).otherwise(0)).as("conv"))
    users.agg(count(lit(1)).as("n_users"), sum("conv").as("n_conv"))
      .withColumn("p_base",
        col("n_conv").cast("double") / col("n_users"))
      .withColumn("n_per_arm",
        floor(col("n_users") / lit(2)).cast("long"))
      .withColumn("pq",
        lit(2.0) * col("p_base") * (lit(1.0) - col("p_base")))
      .select(col("n_users"), col("n_conv"),
        round(col("p_base"), 4).as("p_base"), col("n_per_arm"),
        round(lit(zsum) * sqrt(col("pq") / col("n_per_arm")), 4)
          .as("mde"),
        ceil(lit(zsum * zsum) * col("pq") / lit(0.01 * 0.01))
          .cast("long").as("n_req_1pp"),
        ceil(lit(zsum * zsum) * col("pq") / lit(0.005 * 0.005))
          .cast("long").as("n_req_05pp"))
  }

  /** q_agg_logloss — model-evaluation metrics for a propensity score:
    * log-loss, Brier score, and a calibration-by-decile table for the
    * naive propensity p̂(user) = historical purchase share, evaluated
    * against the high-value-purchase outcome — the eval harness every
    * training pipeline runs on held-out scores (a model readout needs
    * no model: any score column slots in). Float discipline for
    * DISTRIBUTED means: p̂ rounds to a 6-dp decimal per user, the ln
    * terms round to 8 dp per user, and squared errors are exact
    * decimal products — every per-decile mean is then a decimal sum ÷
    * count, immune to partition order (a naive avg(double) would
    * drift run-to-run); the ε-clamp at 1e-6 closes ln(0) identically
    * on both engines. Shape: one per-user map-side collapse, then a
    * 10-row decile grid — the corpus is touched once. */
  private val aggLogloss: Q = (s, dir) => {
    val users = Tables.load(s, dir, "events")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_ev"),
        sum(when(col("event_type") === "purchase", 1).otherwise(0))
          .as("n_purch"),
        max(when(col("event_type") === "purchase" &&
          col("value") > 90, 1).otherwise(0)).as("y"))
    val scored = users
      .withColumn("p6", round(col("n_purch").cast("double") /
        col("n_ev"), 6).cast("decimal(10,6)"))
      .withColumn("pc", least(greatest(col("p6"),
        lit(0.000001).cast("decimal(10,6)")),
        lit(0.999999).cast("decimal(10,6)")))
      .withColumn("decile",
        least(floor(col("p6") * 10).cast("long"), lit(9L)))
      .withColumn("ll", round(-(col("y") *
        log(col("pc").cast("double")) + (lit(1) - col("y")) *
        log(lit(1.0) - col("pc").cast("double"))), 8)
        .cast("decimal(20,8)"))
      .withColumn("sq", (col("p6") - col("y")) * (col("p6") - col("y")))
    scored.groupBy("decile")
      .agg(count(lit(1)).as("n"),
        round(sum("p6").cast("double") / count(lit(1)), 4).as("mean_p"),
        round(sum("y").cast("double") / count(lit(1)), 4).as("mean_y"),
        round(sum("sq").cast("double") / count(lit(1)), 4).as("brier"),
        round(sum("ll").cast("double") / count(lit(1)), 4).as("logloss"))
      .orderBy("decile")
  }

  /** q_agg_hill — Hill tail-index estimator on the order-price upper
    * tail: α̂ = k / Σᵢ₌₁..k ln(x₍ᵢ₎/x₍k₊₁₎) over the top-1% order
    * statistics — the power-law heaviness readout behind capacity
    * planning and whale-risk (q_text_zipf fits term frequencies;
    * Hill fits a CONTINUOUS metric's tail, and is the standard
    * estimator). Determinism: the order statistics come from ONE
    * descending sort with the orderkey tiebreak (row_number total);
    * each ln(xᵢ/x_min) rounds to 8 dp and accumulates as
    * decimal(20,8), so the tail sum is partition-order-free; α̂ and
    * its bias-corrected standard error α̂/√k are shared closed forms.
    * Scale: the corpus NEVER sorts globally — an approx-98.5th-
    * percentile pre-filter (rank error ≤ 1e-4·n at accuracy 10⁴, so
    * ≥ 1.49%·n ≥ k+1 rows survive for any n ≥ 205) contracts to the
    * tail first, and the tail ranks via the DISTRIBUTED
    * [[graft.ops.PrefixSweep]] (the tail grows linearly with the
    * corpus, so even it never single-partitions). A declarative guard
    * (OR survivors <
    * k+1) keeps tiny fixtures exact without a driver round-trip; the
    * cut value's run-to-run wobble cannot change the answer because
    * the top k+1 rows are a strict subset of any valid survivor
    * set. */
  private val aggHill: Q = (s, dir) => {
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    val n = o.agg(count(lit(1)).as("n"),
      expr("approx_percentile(CAST(o_totalprice AS DOUBLE), 0.985, 10000)")
        .as("cut"))
    val meta = o.crossJoin(broadcast(n))
      .withColumn("k", floor(col("n") / lit(100)).cast("long"))
    val surv = meta
      .filter(col("o_totalprice").cast("double") >= col("cut"))
      .agg(count(lit(1)).as("n_surv"))
    // distributed rank over the surviving tail (PrefixSweep): the
    // ~1.5% pre-filter bounds the sort INPUT, but that tail still
    // grows linearly with the corpus — range-partitioned ranking keeps
    // it multi-partition at any scale
    val ranked = graft.ops.PrefixSweep.sweep(
        meta.crossJoin(broadcast(surv))
          .filter(col("o_totalprice").cast("double") >= col("cut") ||
            col("n_surv") < col("k") + 1),
        Seq(col("o_totalprice").desc, col("o_orderkey")),
        rankCol = Some("rn"))
      .filter(col("rn") <= col("k") + 1)
    val xmin = ranked.filter(col("rn") === col("k") + 1)
      .select(col("o_totalprice").as("x_min"))
    ranked.filter(col("rn") <= col("k")).crossJoin(broadcast(xmin))
      .select(col("n"), col("k"), col("x_min"),
        round(log(col("o_totalprice") / col("x_min")), 8)
          .cast("decimal(20,8)").as("lterm"))
      .groupBy("n", "k", "x_min")
      .agg(sum("lterm").as("lsum"))
      .select(col("n"), col("k"),
        round(col("x_min"), 2).as("x_min"),
        round(col("k").cast("double") / col("lsum").cast("double"), 4)
          .as("alpha"),
        round((col("k").cast("double") / col("lsum").cast("double")) /
          sqrt(col("k").cast("double")), 4).as("alpha_se"))
  }

  /** q_agg_mannwhitney — Mann–Whitney U (Wilcoxon rank-sum) test on
    * order prices between finished and open orders: U from mid-rank
    * sums, the tie-corrected normal approximation z, and the ±1.96
    * call — the nonparametric LOCATION test pairing q_agg_ks_test's
    * SHAPE test (KS asks "same distribution?"; MW asks "is one
    * stochastically larger?" — the robust alternative to the t-test
    * at corpus scale where outliers are guaranteed). Exactness: the
    * pooled mid-ranks come DOUBLED from the distinct-value grid
    * (2·cum − cnt + 1 — pure integers, the spearman device), so
    * 2U = Σcf·r2 − n₁(n₁+1) is exact decimal(38) arithmetic; the tie
    * term Σ(t³−t) is decimal too; z is one shared closed form and the
    * flag compares the ROUNDED z. Scale: everything after the grid
    * contraction is window-on-domain — the corpus never sorts. */
  private val aggMannwhitney: Q = (s, dir) => {
    val grid = Tables.load(s, dir, "orders")
      .filter(col("o_orderstatus").isin("F", "O"))
      .groupBy("o_totalprice")
      .agg(count(when(col("o_orderstatus") === "F", 1))
        .cast("decimal(38,0)").as("cf"),
        count(when(col("o_orderstatus") === "O", 1))
          .cast("decimal(38,0)").as("co"))
      .withColumn("cnt", col("cf") + col("co"))
    // distributed prefix sum over the value grid (grid keys are
    // distinct, hence a total order) — no single-partition window
    val r = graft.ops.PrefixSweep.sweep(grid, Seq(col("o_totalprice")),
        runSums = Seq((col("cnt"), "cum")))
      .withColumn("r2", lit(2) * col("cum") - col("cnt") + 1)
    r.agg(
      sum("cf").as("n1"), sum("co").as("n2"),
      sum(col("cf") * col("r2")).as("r1x2"),
      sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("tsum"))
      .select(col("n1").cast("long").as("n_f"),
        col("n2").cast("long").as("n_o"),
        ((col("r1x2") - col("n1") * (col("n1") + 1)).cast("double") /
          lit(2.0)).as("u"),
        col("n1"), col("n2"), col("r1x2"), col("tsum"))
      .withColumn("nn", col("n1") + col("n2"))
      .withColumn("var_u",
        (col("n1") * col("n2")).cast("double") / 12.0 *
          ((col("nn") + 1).cast("double") -
            col("tsum").cast("double") /
              (col("nn") * (col("nn") - 1)).cast("double")))
      .withColumn("z", round(
        (col("u") - (col("n1") * col("n2")).cast("double") / 2.0) /
          sqrt(col("var_u")), 4))
      .select(col("n_f"), col("n_o"), round(col("u"), 1).as("u"),
        col("z"),
        when(abs(col("z")) > 1.96, 1).otherwise(0).as("significant"))
  }

  /** q_agg_kendall — Kendall's τ-b between quantity and discount per
    * return flag: concordant/discordant pair counts with the tie-b
    * correction — the third rank-association statistic (Pearson =
    * linear, Spearman = monotone-by-rank; Kendall = pairwise
    * order-agreement, the most robust and the one with a direct
    * probabilistic reading P(concordant) − P(discordant)). The naive
    * form is O(n²) pairs over the corpus; BOTH variables here are
    * low-cardinality, so the op contracts to the (x, y) CELL GRID
    * first and counts pair products over cell pairs — O(cells²) on
    * metadata, never the corpus (the mann_kendall pricing rule).
    * Exactness: C, D, the tie terms n₀/n₁/n₂ are decimal(38) integer
    * arithmetic (cell products ≤ corpus², hence decimal); τ-b is one
    * shared closed-form double. */
  private val aggKendall: Q = (s, dir) => {
    val cells = Tables.load(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_quantity").as("x"),
        col("l_discount").as("y"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("c"))
    val cd = cells.as("a").join(cells.as("b"),
        col("a.l_returnflag") === col("b.l_returnflag") &&
          col("a.x") < col("b.x"))
      .groupBy(col("a.l_returnflag").as("l_returnflag"))
      .agg(
        sum(when(col("a.y") < col("b.y"),
          col("a.c") * col("b.c")).otherwise(lit(0))).as("conc"),
        sum(when(col("a.y") > col("b.y"),
          col("a.c") * col("b.c")).otherwise(lit(0))).as("disc"))
    val ties = cells.groupBy("l_returnflag")
      .agg(sum("c").as("n"))
    val tx = cells.groupBy("l_returnflag", "x")
      .agg(sum("c").as("t"))
      .groupBy("l_returnflag")
      .agg(sum(col("t") * (col("t") - 1)).as("n1x2"))
    val ty = cells.groupBy("l_returnflag", "y")
      .agg(sum("c").as("t"))
      .groupBy("l_returnflag")
      .agg(sum(col("t") * (col("t") - 1)).as("n2x2"))
    cd.join(broadcast(ties), Seq("l_returnflag"))
      .join(broadcast(tx), Seq("l_returnflag"))
      .join(broadcast(ty), Seq("l_returnflag"))
      .select(col("l_returnflag"), col("n").cast("long").as("n"),
        col("conc").cast("long").as("conc"),
        col("disc").cast("long").as("disc"),
        round((col("conc") - col("disc")).cast("double") /
          (sqrt((col("n") * (col("n") - 1) - col("n1x2"))
            .cast("double") / 2.0) *
            sqrt((col("n") * (col("n") - 1) - col("n2x2"))
              .cast("double") / 2.0)), 4).as("tau_b"))
      .orderBy("l_returnflag")
  }

  /** q_agg_cramers_v — Cramér's V effect size between order priority
    * and order status: χ² from the contingency table normalized to
    * [0,1] by n·min(r−1, c−1) — the readout q_agg_chisq's raw χ²
    * cannot give (χ² grows with n, so at corpus scale EVERYTHING is
    * "significant"; V answers "how strong", the question a feature-
    * association matrix actually asks). Same scale shape as chisq: ONE
    * two-phase count into the ≤r·c cell table, then cell-level
    * arithmetic with broadcast marginals. Float discipline: integers
    * until the closed-form double fold; V is derived from the
    * 4-dp-ROUNDED χ² (so the ~15-term summation-order tolerance cannot
    * leak into V's rounding), and the strength bucket compares the
    * ROUNDED V. */
  private val aggCramersV: Q = (s, dir) => {
    val cells = Tables.load(s, dir, "orders")
      .groupBy("o_orderpriority", "o_orderstatus")
      .agg(count(lit(1)).as("o"))
    val rowm = cells.groupBy("o_orderpriority").agg(sum("o").as("r"))
    val colm = cells.groupBy("o_orderstatus").agg(sum("o").as("c"))
    val tot = cells.agg(sum("o").as("n"))
    cells
      .join(broadcast(rowm), "o_orderpriority")
      .join(broadcast(colm), "o_orderstatus")
      .crossJoin(broadcast(tot))
      .withColumn("e", col("r").cast("double") * col("c") / col("n"))
      .agg(
        round(sum((col("o") - col("e")) * (col("o") - col("e")) /
          col("e")), 4).as("chi2"),
        countDistinct("o_orderpriority").as("n_rows"),
        countDistinct("o_orderstatus").as("n_cols"),
        max("n").as("n"))
      .withColumn("cramers_v", round(sqrt(col("chi2") /
        (col("n").cast("double") *
          least(col("n_rows") - 1, col("n_cols") - 1))), 4))
      .withColumn("strength",
        when(col("cramers_v") < 0.1, "negligible")
          .when(col("cramers_v") < 0.3, "weak")
          .when(col("cramers_v") < 0.5, "moderate")
          .otherwise("strong"))
  }

  /** q_agg_bootstrap — Poisson-bootstrap confidence interval for the
    * per-type mean, fully deterministic: the distributed bootstrap.
    * Classical resampling ("draw n rows with replacement, B times")
    * cannot run on a cluster — it needs n known up front and a global
    * shuffle per replicate. The Poisson trick replaces it with a
    * PER-ROW weight: replicate b counts row i `Poisson(1)`-many times,
    * approximating multinomial resampling with no coordination — one
    * scan carries all B replicates. Here even the Poisson draw is
    * derandomized: u = sha256(event_id:b) scaled to [0,1) (the
    * q_sample_hash arithmetic) through the Poisson(1) inverse-CDF
    * ladder — identical literals in the oracle, so BOTH engines
    * produce the same weights, the same replicate means, and the same
    * interval. Shape (r19 — was explode ×B): all B weights fold
    * IN-ROW — one projection computes the B per-replicate weights per
    * row, one aggregation sums 2·B decimal/long accumulators per
    * type, so the corpus passes the aggregate machinery ONCE at its
    * own row count (the ×B row inflation through the map-side combine
    * is gone; the B hash draws per row are the semantics and remain).
    * The types·B replicate table is then re-derived by posexploding
    * the B sums per type — a |types|-row operation — and the final
    * count/avg/percentile expressions are untouched, so every readout
    * is value-identical to the exploded form and the oracle. */
  private val aggBootstrap: Q = (s, dir) => {
    val reps = 16
    // all 16 draws come from ONE codegen'd digest-loop call per row
    // (Sha256Prefix52Seq); the 16 element_at references dedupe onto a
    // single evaluation via codegen subexpression elimination
    def wcol(b: Int): Column = {
      val u = element_at(col("pfx"), b + 1)
        .cast("double") / lit(4503599627370496.0) // 16^13 = 2^52
      when(u < 0.36787944117144233, 0L)
        .when(u < 0.7357588823428847, 1L)
        .when(u < 0.9196986029286058, 2L)
        .when(u < 0.9810118431238463, 3L)
        .when(u < 0.9963401531726563, 4L)
        .when(u < 0.9994058151824183, 5L)
        .when(u < 0.999916758850712, 6L)
        .when(u < 0.9999897508033253, 7L)
        .otherwise(8L)
    }
    // exact-integer accumulators (§7.5.21): value is an exact 2-dp
    // money column bounded by the catalog (≤ ~560), so w·cents is a
    // long ≤ 8·56021 and Σ w·cents stays ~30× under int64 even at
    // 6·10¹¹ rows — the 16 per-row decimal multiplies + decimal sum
    // buffers become codegen'd long arithmetic. The readout rebuilds
    // the old decimal sum EXACTLY (swv_c/100 at scale 6 is an exact
    // division) before the same cast-to-double, so every rep_mean —
    // and the percentile interval — is bit-identical.
    val withW = Tables.load(s, dir, "events")
      .withColumn("pfx", org.apache.spark.sql.graftfns.HashFunctions
        .sha256_prefix52_seq(col("event_id").cast("string"), reps))
      .select(col("event_type") +:
        expr("CAST(rint(value * 100) AS BIGINT)").as("vc") +:
        (0 until reps).map(b => wcol(b).as(s"w$b")): _*)
    val sums = (0 until reps).flatMap(b => Seq(
      sum(col(s"w$b") * col("vc")).as(s"swv$b"),
      sum(col(s"w$b")).as(s"sw$b")))
    val byType = withW.groupBy("event_type")
      .agg(sums.head, sums.tail: _*)
    val repMeans = byType.select(col("event_type"),
      posexplode(array((0 until reps).map(b =>
        try_divide((col(s"swv$b").cast("decimal(20,0)") / lit(100))
          .cast("double"), col(s"sw$b"))): _*))
        .as(Seq("b", "rep_mean")))
    repMeans.groupBy("event_type")
      .agg(count(lit(1)).as("b_reps"),
        round(avg("rep_mean"), 4).as("mean_boot"),
        round(expr("percentile(rep_mean, 0.025)"), 4).as("ci_lo"),
        round(expr("percentile(rep_mean, 0.975)"), 4).as("ci_hi"))
      .orderBy(col("event_type").asc_nulls_first)
  }

  /** q_agg_winsorize — robust per-group mean via winsorized clamping:
    * values outside the group's exact [p05, p95] band are clamped to
    * the band edge before averaging — the outlier-resistant location
    * estimate curation thresholds should use where a raw mean follows
    * one bot row (and the policy counterpart of q_agg_mad's robust
    * SPREAD). Two-phase: exact interpolated percentiles per group
    * (both engines share the p·(n−1) interpolation — the
    * q_agg_quantile parity), broadcast the ≤|types|-row band table
    * back onto the scan, clamp with least/greatest, aggregate. The
    * clamp is per-row arithmetic; both aggregation passes collapse
    * map-side, so the shuffle carries group rows only. 4-dp round =
    * summation-order tolerance (q_agg_stats discipline). */
  private val aggWinsorize: Q = (s, dir) => {
    val ev = Tables.load(s, dir, "events")
      .select(col("event_type"), col("value"))
    val bands = ev.groupBy("event_type")
      .agg(expr("percentile(value, 0.05)").as("p05"),
        expr("percentile(value, 0.95)").as("p95"))
    ev.join(broadcast(bands), "event_type")
      .withColumn("v_w", least(greatest(col("value"), col("p05")),
        col("p95")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(avg("value"), 4).as("mean_raw"),
        round(avg("v_w"), 4).as("mean_winsor"),
        round(max("p05"), 4).as("p05"),
        round(max("p95"), 4).as("p95"))
      .orderBy(col("event_type").asc_nulls_first)
  }

  /** q_agg_gini — Gini coefficient of customer revenue concentration
    * per market segment: the inequality readout behind "is this
    * segment carried by whales" (0 = revenue spread evenly, →1 = one
    * customer is the segment). Uses the exact sort-based closed form
    * G = Σᵢ(2i − n − 1)·xᵢ / (n·Σx) with xᵢ ascending — no pairwise
    * |xᵢ−xⱼ| cross join (that is O(n²); the rank form is one window
    * sort). Decimal-exact numerator AND denominator: per-customer
    * revenue is a decimal sum (2-dp inputs), the integer rank
    * coefficient times decimal stays decimal, so both engines divide
    * two exact quantities once (the q_agg_bootstrap discipline). Rank
    * ties on revenue are broken by custkey, which cannot change the
    * sum (equal xᵢ commute under any coefficient assignment within
    * their run) but pins row identity. Plan: contract orders per
    * custkey FIRST (the q_sql_report rule), join the customer dim
    * co-keyed, one window sort per segment, one aggregate. */
  private val aggGini: Q = (s, dir) => {
    val rev = Tables.load(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(expr("sum(CAST(o_totalprice AS DECIMAL(18,2)))").as("rev"))
    val seg = rev.join(
      Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment")),
      col("o_custkey") === col("c_custkey"))
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("rev"), col("o_custkey"))
    val wAll = Window.partitionBy("c_mktsegment")
    seg.withColumn("i", row_number().over(w))
      .withColumn("n", count(lit(1)).over(
        wAll.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .groupBy(col("c_mktsegment"))
      .agg(max("n").as("n_customers"),
        expr("CAST(round(sum(rev), 4) AS DOUBLE)").as("revenue"),
        round(
          expr("CAST(sum((2*i - n - 1) * rev) AS DOUBLE)") /
            (max("n") * expr("CAST(sum(rev) AS DOUBLE)")), 4).as("gini"))
      .orderBy(col("c_mktsegment").asc_nulls_first)
  }

  /** q_agg_hhi — Herfindahl–Hirschman concentration of customer
    * revenue per market segment: HHI = Σ shareᵢ² and the effective
    * competitor count 1/HHI — the antitrust-style "how many customers
    * does this segment effectively have" companion to q_agg_gini
    * (Gini measures inequality of the distribution; HHI measures how
    * concentrated the MASS is — a segment can be equal-and-tiny or
    * unequal-and-dominated and the two readouts split those cases).
    * Float discipline: shares are never materialized — HHI is
    * computed as Σrevᵢ² / (Σrev)² with BOTH sums decimal-exact
    * (rev clamps to DECIMAL(18,2) first so rev² is DECIMAL(37,4),
    * inside bounds on both engines; summing per-row share² would
    * float-sum in engine order). Two divisions total, identical
    * structure. Same contract-orders-first shape as q_agg_gini,
    * without the window sort. */
  private val aggHhi: Q = (s, dir) => {
    val rev = Tables.load(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(expr("CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))")
        .as("rev"))
    rev.join(
      Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment")),
      col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_customers"),
        expr("sum(rev * rev)").as("s2"),
        expr("sum(rev)").as("s1"))
      .withColumn("hhi_d",
        expr("CAST(s2 AS DOUBLE) / (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))"))
      .select(col("c_mktsegment"), col("n_customers"),
        expr("CAST(round(s1, 4) AS DOUBLE)").as("revenue"),
        round(col("hhi_d"), 4).as("hhi"),
        round(lit(1.0) / col("hhi_d"), 4).as("effective_n"))
      .orderBy(col("c_mktsegment").asc_nulls_first)
  }

  /** q_agg_weighted_median — weight-aware central price per return
    * flag: the lower weighted median of l_extendedprice under
    * l_quantity weights — the "median dollar", not the median ROW
    * (a line selling 50 units counts 50×; the unweighted median is
    * blind to volume, which is why monitoring and pricing pipelines
    * weight their quantiles). Semantics pinned exactly: sort by
    * (price, orderkey, linenumber), running weight sum W_i, pick the
    * FIRST row with 2·W_i ≥ W_total — every comparison INTEGER
    * (quantities are integral, carried as long ×2 to avoid any /2),
    * prices decimal, zero float anywhere in the selection.
    *
    * Scale shape (two-pass bucket refine — no group ever sorts its
    * full row set): pass 1 bins each row by the integer price bucket
    * `floor(price) DIV 64` and aggregates weight per (flag, bin) — a
    * map-side-combining groupBy, corpus-sized but sort-free; a window
    * over the ~1.6 k bins per flag finds the STRADDLING bin (first
    * with 2·cum ≥ W_total) plus the exact integer weight before it;
    * pass 2 sorts ONLY that bin's rows (corpus/n_bins of one flag)
    * and applies the pinned pick with the carried-in prefix weight.
    * Bin id is monotone in price and integer-exact, so the two-pass
    * pick row is IDENTICAL to the full-sort spec the oracle runs. */
  private val aggWeightedMedian: Q = (s, dir) => {
    val l = Tables.load(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        expr("CAST(l_extendedprice AS DECIMAL(18,2))").as("price"),
        col("l_quantity").cast("long").as("qty"))
      .withColumn("bin", expr("CAST(floor(price) AS BIGINT) DIV 64"))
    val binW = l.groupBy("l_returnflag", "bin").agg(sum("qty").as("bw"))
    val wBin = Window.partitionBy("l_returnflag").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wTot = Window.partitionBy("l_returnflag")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val strad = binW
      .withColumn("cum", sum("bw").over(wBin))
      .withColumn("tw", sum("bw").over(wTot))
      .filter(col("cum") * 2 >= col("tw"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("l_returnflag").orderBy("bin")))
      .filter(col("rn") === 1)
      .select(col("l_returnflag"), col("bin"),
        (col("cum") - col("bw")).as("w_before"), col("tw"))
    val wOrd = Window.partitionBy("l_returnflag")
      .orderBy("price", "l_orderkey", "l_linenumber")
      .rowsBetween(Window.unboundedPreceding, 0)
    l.join(broadcast(strad), Seq("l_returnflag", "bin"))
      .withColumn("cw", col("w_before") + sum("qty").over(wOrd))
      .filter(col("cw") * 2 >= col("tw"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("l_returnflag")
          .orderBy("price", "l_orderkey", "l_linenumber")))
      .filter(col("rn") === 1)
      .select(col("l_returnflag"), col("tw").as("total_weight"),
        expr("CAST(price AS DOUBLE)").as("wmedian_price"))
      .orderBy(col("l_returnflag").asc_nulls_first)
  }

  /** q_agg_benford — Benford's-law first-digit audit of order totals:
    * observed leading-digit distribution vs the Benford expectation
    * P(d) = log₁₀(1 + 1/d), with per-digit deviation and a χ²
    * statistic — the forensic screen audit pipelines run over
    * financial columns (fabricated or capped values flunk the
    * first-digit law long before a human sees them; flat-uniform
    * digits are the classic synthetic-data tell). Exactness: the
    * leading digit is STRING arithmetic on the decimal rendering
    * (never log-of-value float classification); counts are integers;
    * the nine Benford probabilities are shared literal doubles; the
    * χ² readout is one closed-form double expression per digit,
    * summed over exactly 9 rows via a second tiny aggregate whose
    * inputs are rounded to the 4-dp grid first — identical addition
    * order is irrelevant once every term sits on the grid with ≤9
    * terms (drift bound 9·1e-5·ulp ≪ grid). */
  private val aggBenford: Q = (s, dir) => {
    // >= 1, not > 0: a value in (0, 1) renders with leading digit '0',
    // which the 9-digit Benford dim would silently drop from p_obs
    // while the total still counted it — excluded explicitly (and
    // identically in the oracle) so the dropped mass can't skew the law
    val d = Tables.load(s, dir, "orders")
      .filter(col("o_totalprice") >= 1)
      .withColumn("digit",
        substring(col("o_totalprice").cast("decimal(18,2)").cast("string"),
          1, 1).cast("int"))
    val counts = d.groupBy("digit").agg(count(lit(1)).as("n"))
    val total = d.agg(count(lit(1)).as("tot"))
    val benford = Seq(1 -> 0.3010299956639812, 2 -> 0.17609125905568124,
      3 -> 0.12493873660829993, 4 -> 0.09691001300805642,
      5 -> 0.07918124604762482, 6 -> 0.06694678963061322,
      7 -> 0.05799194697768673, 8 -> 0.05115252244738129,
      9 -> 0.04575749056067514)
    import d.sparkSession.implicits._
    val exp = benford.toDF("digit", "p_benford")
    counts.join(broadcast(exp), "digit")
      .crossJoin(broadcast(total))
      .withColumn("p_obs",
        round(col("n").cast("double") / col("tot"), 4))
      .withColumn("expected", col("p_benford") * col("tot"))
      .withColumn("chi_term", round(
        (col("n") - col("expected")) * (col("n") - col("expected")) /
          col("expected"), 4))
      .select(col("digit"), col("n"), col("p_obs"),
        round(col("p_benford"), 4).as("p_benford"), col("chi_term"))
      .orderBy("digit")
  }

  /** q_agg_lorenz — the Lorenz curve behind q_agg_gini's scalar:
    * customers ranked by revenue into deciles (ntile(10) over the
    * ascending order), each decile's revenue share and the cumulative
    * share — the "bottom 50% hold X%, top 10% hold Y%" readout that
    * makes concentration legible where a single Gini number is not
    * (two very different curves can share a Gini). Decimal-exact:
    * per-decile revenue sums stay decimal, the cumulative sum runs
    * over the 10-row grid, and each share divides the decimal total
    * once; ntile ties resolve by the same (rev, custkey) total order
    * as q_agg_gini, so decile membership is engine-identical. */
  private val aggLorenz: Q = (s, dir) => {
    val rev = Tables.load(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(expr("sum(CAST(o_totalprice AS DECIMAL(18,2)))").as("rev"))
    // decile membership from a DISTRIBUTED global rank (PrefixSweep)
    // + the closed-form ntile bucket formula — the entity-grain sort
    // never single-partitions; tie-broken total order (rev, custkey)
    // keeps boundaries engine-identical
    val nTot = rev.agg(count(lit(1)).as("n_cust"))
    val deciles = graft.ops.PrefixSweep
      .sweep(rev, Seq(col("rev"), col("o_custkey")),
        rankCol = Some("rnk"))
      .crossJoin(broadcast(nTot))
      .withColumn("decile", graft.ops.PrefixSweep
        .ntileOf(col("rnk"), col("n_cust"), 10).cast("int"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_customers"), expr("sum(rev)").as("drev"))
    val total = deciles.agg(expr("sum(drev)").as("trev"))
    // cumulative share over the 10-row decile grid: triangular
    // broadcast self-join (bounded metadata) instead of a window
    deciles
      .join(broadcast(deciles.select(col("decile").as("bd"),
        col("drev").as("bdrev"))), col("bd") <= col("decile"))
      .groupBy(col("decile"), col("n_customers"), col("drev"))
      .agg(sum(col("bdrev")).as("crev"))
      .crossJoin(broadcast(total))
      .select(col("decile"), col("n_customers"),
        expr("CAST(round(drev, 4) AS DOUBLE)").as("revenue"),
        round(expr("CAST(drev AS DOUBLE)") / expr("CAST(trev AS DOUBLE)"),
          4).as("share"),
        round(expr("CAST(crev AS DOUBLE)") / expr("CAST(trev AS DOUBLE)"),
          4).as("cum_share"))
      .orderBy("decile")
  }

  /** q_agg_iqr — Tukey-fence outlier audit per event type: exact
    * interpolated Q1/Q3, the IQR, the 1.5·IQR fences, and counts
    * outside each fence — the boxplot rule, the third member of the
    * robust-profile family (q_agg_mad: median-centered; q_agg_winsorize:
    * clamp-and-average; this: the classic fence counts dashboards
    * draw). Fences are doubles derived from the exact interpolated
    * quantiles via one shared expression (q1 − 1.5·iqr / q3 + 1.5·iqr,
    * identical literals); the per-row fence comparisons then operate
    * on engine-identical doubles, so the counts match without any
    * boundary rounding. ≤types-row broadcast back onto one scan. */
  private val aggIqr: Q = (s, dir) => {
    val ev = Tables.load(s, dir, "events")
      .select(col("event_type"), col("value"))
    val q = ev.groupBy("event_type")
      .agg(expr("percentile(value, 0.25)").as("q1"),
        expr("percentile(value, 0.75)").as("q3"))
      .withColumn("iqr", col("q3") - col("q1"))
      .withColumn("lo", col("q1") - lit(1.5) * col("iqr"))
      .withColumn("hi", col("q3") + lit(1.5) * col("iqr"))
    ev.join(broadcast(q), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        count(when(col("value") < col("lo"), 1)).as("n_below"),
        count(when(col("value") > col("hi"), 1)).as("n_above"),
        round(max("q1"), 4).as("q1"), round(max("q3"), 4).as("q3"),
        round(max("iqr"), 4).as("iqr"))
      .orderBy(col("event_type").asc_nulls_first)
  }

  /** q_agg_ab_ztest — two-proportion z-test between experiment arms
    * (user_id parity as the assignment — deterministic, the hash-split
    * stand-in): arm conversion = "user made ≥1 purchase", pooled-SE
    * z = (p₁−p₂)/√(p̂(1−p̂)(1/n₁+1/n₂)) with the |z| > 1.96 call —
    * THE A/B readout (q_agg_ttest compares means of a metric;
    * q_evt_conversion_ci intervals one rate; this decides between two
    * rates). Exactness: four integers (per-arm users and converters)
    * leave the corpus — the per-user conversion flag collapses
    * map-side — and every derived quantity is one closed-form double
    * expression shared literally with the oracle; the significance
    * flag compares the ROUNDED z against 1.96 (boundary discipline). */
  private val aggAbZtest: Q = (s, dir) => {
    val users = Tables.load(s, dir, "events")
      .groupBy("user_id")
      // conversion = a HIGH-VALUE purchase (value > 90): with ~700
      // events/user at demo scale, "any purchase" converts everyone
      // and p_pool→1 degenerates the pooled SE to 0 — the rare-event
      // definition keeps both arms strictly inside (0,1), and
      // try_divide guards the degenerate case anyway (NULL z → flag 0
      // via the CASE, identically in DuckDB).
      .agg(max(when(col("event_type") === "purchase" &&
        col("value") > 90, 1).otherwise(0)).as("conv"))
      .withColumn("arm", col("user_id") % 2)
    users.agg(
      count(when(col("arm") === 0, 1)).as("n_a"),
      sum(when(col("arm") === 0, col("conv"))).as("c_a"),
      count(when(col("arm") === 1, 1)).as("n_b"),
      sum(when(col("arm") === 1, col("conv"))).as("c_b"))
      .withColumn("p_a", col("c_a").cast("double") / col("n_a"))
      .withColumn("p_b", col("c_b").cast("double") / col("n_b"))
      .withColumn("p_pool",
        (col("c_a") + col("c_b")).cast("double") /
          (col("n_a") + col("n_b")))
      .withColumn("z", round(
        try_divide(col("p_a") - col("p_b"),
          sqrt(col("p_pool") * (lit(1.0) - col("p_pool")) *
            (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))), 4))
      .select(col("n_a"), col("c_a"), round(col("p_a"), 4).as("p_a"),
        col("n_b"), col("c_b"), round(col("p_b"), 4).as("p_b"),
        col("z"),
        when(abs(col("z")) > 1.96, 1).otherwise(0).as("significant"))
  }

  /** q_agg_ks_test — two-sample Kolmogorov–Smirnov test on the order
    * price distribution between finished ('F') and open ('O') orders:
    * D = max |F₁(x) − F₂(x)| over the pooled support, the KS statistic
    * √(n₁n₂/(n₁+n₂))·D, and the α=0.05 reject call (c(α)=1.358) — THE
    * nonparametric distribution-shift detector (q_agg_ab_ztest compares
    * two rates, q_agg_ttest two means; this compares two whole
    * DISTRIBUTIONS, the drift monitor between a training corpus and
    * production traffic). Exactness: contract to the distinct-value
    * grid first (counts per 2-dp price), then ONE window over the grid
    * builds both empirical CDFs as integer cumulative counts, and the
    * sup-gap maximizes the INTEGER |cum₁·n₂ − cum₂·n₁| — D's numerator
    * never touches a float, so the max is exact; the single division
    * and the √ readout are one closed-form double shared literally with
    * the oracle, and the reject flag compares ROUNDED values (boundary
    * discipline). Scale: the window sorts the distinct-value grid, not
    * the corpus (a price domain is bounded; the corpus contraction is
    * the map-side combine) — the cross products are decimal(38) so two
    * 10-figure sample sizes cannot overflow the integer numerator. */
  private val aggKsTest: Q = (s, dir) => {
    val o = Tables.load(s, dir, "orders")
      .filter(col("o_orderstatus").isin("F", "O"))
    val grid = o.groupBy("o_totalprice")
      .agg(count(when(col("o_orderstatus") === "F", 1)).as("cf"),
        count(when(col("o_orderstatus") === "O", 1)).as("co"))
    // both ECDFs from ONE distributed prefix sweep over the price grid
    // (PrefixSweep — no single-partition window); the totals come from
    // a 1-row aggregate broadcast, not an every-row window
    val totals = grid.agg(
      sum("cf").cast("decimal(38,0)").as("tf"),
      sum("co").cast("decimal(38,0)").as("to"))
    val gaps = graft.ops.PrefixSweep.sweep(grid, Seq(col("o_totalprice")),
        runSums = Seq((col("cf"), "cum_f0"), (col("co"), "cum_o0")))
      .withColumn("cum_f", col("cum_f0").cast("decimal(38,0)"))
      .withColumn("cum_o", col("cum_o0").cast("decimal(38,0)"))
      .crossJoin(broadcast(totals))
    gaps.agg(
      max("tf").cast("long").as("n_f"),
      max("to").cast("long").as("n_o"),
      max(abs(col("cum_f") * col("to") -
        col("cum_o") * col("tf"))).as("d_num"))
      .select(col("n_f"), col("n_o"),
        round(col("d_num").cast("double") /
          (col("n_f").cast("double") * col("n_o").cast("double")), 6)
          .as("d_stat"))
      .withColumn("ks_stat", round(
        col("d_stat") * sqrt(lit(1.0) /
          (lit(1.0) / col("n_f") + lit(1.0) / col("n_o"))), 4))
      .withColumn("reject", when(col("d_stat") >
        round(lit(1.358) * sqrt(lit(1.0) / col("n_f") +
          lit(1.0) / col("n_o")), 6), 1).otherwise(0))
  }

  /** q_agg_spearman — Spearman rank correlation between quantity and
    * extended price per return flag: mid-rank (average-rank) ties,
    * then Pearson on the ranks — the monotone-association readout
    * robust to the outliers and nonlinearity that sink q_agg_corr's
    * Pearson (feature screening runs BOTH; a large gap between them is
    * itself the signal). Exactness: mid-ranks are half-integers, so the
    * op carries DOUBLED ranks (2·rank() + count(ties) − 1 from the two
    * rank windows — pure integers), accumulates the five co-moment sums
    * in decimal(38) (exact at any corpus size), and evaluates the
    * textbook rho = (nΣxy−ΣxΣy)/(√(nΣx²−(Σx)²)·√(nΣy²−(Σy)²)) as one
    * closed-form double shared literally with the oracle — the ×2 rank
    * scaling cancels. Scale: two per-group window sorts over the corpus
    * (ranking IS a sort — same bound as q_agg_weighted_median); the
    * co-moment reduction collapses map-side to five decimals per
    * group. */
  /* r19 plan rewrite (guide §2.5): the old form ran FOUR full-corpus
   * window passes (rank + tie count per axis, each with its own sort)
   * partitioned by the 3-value return flag. Two changes, values
   * untouched:
   *   x side — l_quantity is a bounded integer domain (~50 values per
   *     flag at ANY scale), so its doubled mid-ranks fold on a
   *     metadata-sized contraction (rank = rows-before + 1 ⇒
   *     rx2 = 2·cumBefore + cnt + 1) and BROADCAST back: the corpus
   *     never sorts by quantity at all.
   *   y side — the tie count rides the SAME sort as rank() via a
   *     RANGE(currentRow, currentRow) frame (peer rows ≡ the (flag,
   *     price) partition count): one window pass, one sort, instead
   *     of two.
   * Net: 4 corpus sorts → 1 (the price ranking, which IS a sort —
   * same documented skew bound as q_agg_weighted_median). rx2/ry2 are
   * the same integers, the decimal moment sums and the closed-form
   * rho are unchanged expressions.
   *
   * r20 re-probe of the last sort (A/B, back-to-back solo benches):
   * folding the y ranks on the (flag, price) grid via PrefixSweep +
   * RFM block offsets + a shuffle-hash rank attach — the form that
   * would lift the |flags|-way parallelism ceiling — measured 3.78 s
   * vs 3.01 s for this form at sf0.1 (and 4.65 s with the unhinted
   * sort-merge attach): the grid build + sweep + co-keyed join cost
   * more than the skewed sort at any demo SF. Kept as the documented
   * scale fallback: at a scale where one flag's partition no longer
   * sorts in acceptable time, that sweep form is the drop-in (its
   * ry2 = 2·cumBefore + cnt + 1 integers are proven identical). */
  private val aggSpearman: Q = (s, dir) => {
    val li = Tables.load(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity"),
        col("l_extendedprice"))
    val wq = Window.partitionBy("f").orderBy("q")
      .rowsBetween(Window.unboundedPreceding, -1)
    val qr = li.groupBy(col("l_returnflag").as("f"),
        col("l_quantity").as("q"))
      .agg(count(lit(1)).as("cq"))
      .withColumn("rx2",
        (lit(2) * coalesce(sum("cq").over(wq), lit(0L)) + col("cq") + 1)
          .cast("decimal(38,0)"))
    val wy = Window.partitionBy("l_returnflag")
      .orderBy("l_extendedprice")
    val wyt = wy.rangeBetween(Window.currentRow, Window.currentRow)
    val ranked = li
      .join(broadcast(qr.select(col("f"), col("q"), col("rx2"))),
        col("l_returnflag") === col("f") &&
          col("l_quantity") === col("q"))
      .withColumn("ry2", (lit(2) * rank().over(wy) +
        count(lit(1)).over(wyt) - 1).cast("decimal(38,0)"))
    ranked.groupBy("l_returnflag")
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum("rx2").as("sx"), sum("ry2").as("sy"),
        sum(col("rx2") * col("rx2")).as("sxx"),
        sum(col("ry2") * col("ry2")).as("syy"),
        sum(col("rx2") * col("ry2")).as("sxy"))
      .select(col("l_returnflag"), col("n").cast("long").as("n"),
        round((col("n") * col("sxy") - col("sx") * col("sy"))
          .cast("double") /
          (sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
            .cast("double")) *
            sqrt((col("n") * col("syy") - col("sy") * col("sy"))
              .cast("double"))), 4).as("rho"))
      .orderBy("l_returnflag")
  }

  /** q_agg_basket — market-basket association rules over order
    * contents: brand pairs co-purchased in the same order, with
    * support / confidence / lift and a 1% min-support cut — the
    * A-Priori first step (and the co-occurrence analysis behind
    * "frequently bought together"). Shape is the scale story: the
    * corpus contracts to DISTINCT (order, brand) first; the A-Priori
    * monotonicity prune (an infrequent ITEM cannot be in a frequent
    * PAIR) broadcast-filters items before the pair join; the self-join
    * is co-partitioned ON ORDER KEY (each order pairs locally — no
    * cross-order work), and pair counts collapse map-side. Exactness:
    * every statistic is a ratio of integers evaluated as one shared
    * closed-form double; the support cut compares the ROUNDED value
    * (boundary discipline). */
  private val aggBasket: Q = (s, dir) => {
    // ONE shuffle builds per-order brand SETS; pairing then happens
    // IN-ROW (a basket has a handful of brands — its pairs are a local
    // product, never a self-join shuffle). The set table is
    // localCheckpointed for its three readers (tot / item counts /
    // pairs): re-measured in r19, one materialized contraction beats
    // three recomputes 1.6 s vs 2.1 s (the opposite held in the round
    // that wrote the old recompute note, when the contraction was
    // cheaper than the checkpoint write).
    val sets = Tables.load(s, dir, "lineitem")
      .join(Tables.load(s, dir, "part"),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_orderkey").as("okey"))
      .agg(sort_array(collect_set(col("p_brand"))).as("brands"))
      .localCheckpoint()
    val tot = sets.agg(count(lit(1)).as("n_orders"))
    val bcount = sets
      .select(explode(col("brands")).as("brand"))
      .groupBy("brand").agg(count(lit(1)).as("n_item"))
      .crossJoin(broadcast(tot))
      .filter(round(col("n_item").cast("double") / col("n_orders"), 6)
        >= 0.01)
    val freqArr = bcount.agg(sort_array(collect_list("brand"))
      .as("freq_brands"))
    val pairs = sets.crossJoin(broadcast(freqArr))
      // brands is sort_array'd and array_intersect preserves first-arg
      // order, so (x before y) ≡ (x < y) — the pair orientation the
      // oracle's self-join spells as a.brand < b.brand
      .select(expr("array_intersect(brands, freq_brands)").as("fb"))
      .select(explode(expr(
        """flatten(transform(fb, (x, i) -> transform(
             slice(fb, i + 2, size(fb)),
             y -> struct(x AS brand_a, y AS brand_b))))"""))
        .as("p"))
      .groupBy(col("p.brand_a").as("brand_a"),
        col("p.brand_b").as("brand_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(bcount.select(col("brand").as("brand_a"),
        col("n_item").as("n_a"))), "brand_a")
      .join(broadcast(bcount.select(col("brand").as("brand_b"),
        col("n_item").as("n_b"))), "brand_b")
      .crossJoin(broadcast(tot))
      .withColumn("support",
        round(col("n_ab").cast("double") / col("n_orders"), 6))
      .filter(col("support") >= 0.01)
      .withColumn("confidence",
        round(col("n_ab").cast("double") / col("n_a"), 4))
      .withColumn("lift", round(
        (col("n_ab").cast("double") * col("n_orders")) /
          (col("n_a").cast("double") * col("n_b")), 4))
      .select(col("brand_a"), col("brand_b"), col("n_ab"),
        col("support"), col("confidence"), col("lift"))
      .orderBy("brand_a", "brand_b")
  }

  /** q_agg_corr — bivariate relationship profile per group: Pearson
    * corr, sample covariance, and the OLS regression line
    * (slope/intercept/R²) of extendedprice on quantity per return
    * flag — the feature-vs-target readout a feature store computes for
    * every candidate column pair. ONE aggregation pass: all five
    * statistics are rational functions of the same co-moment state
    * (n, Σx, Σy, Σxy, Σx², Σy²), which merges associatively, so
    * map-side partials collapse the scan and the shuffle carries one
    * 6-number state per (group × partition) — the q_agg_ttest shape.
    * Rounding is scale-aware: corr/slope/R² are O(1)-O(10) → 4 dp;
    * covariance and intercept are O(10³)-O(10⁵), where a 4-dp grid
    * would sit inside the engines' ~1e-10 relative aggregate
    * divergence → 2 dp keeps the round a tolerance, not a coin flip
    * (the q_agg_stats float discipline). */
  private val aggCorr: Q = (s, dir) => {
    // Composed from the null-safe moment builtins + try_divide rather
    // than corr()/regr_*(): under ANSI mode the builtins THROW
    // DIVIDE_BY_ZERO on a degenerate group (n = 1, or a zero-variance
    // column) — one constant-valued group would kill a 100 TB job.
    // This formulation reproduces the Postgres/DuckDB NULL semantics
    // the oracle's regr_* functions implement natively (n=1 → all
    // NULL; var(x)=0 → corr/slope/intercept/r2 NULL; var(y)=0 with
    // var(x)>0 → corr NULL, slope 0, r2 = 1 by the Postgres
    // ssyy-degenerate rule), pinned per-branch in RelationalOpsSpec.
    // Catalyst dedups the repeated moment aggregates: still ONE pass.
    val x = col("l_quantity"); val y = col("l_extendedprice")
    val cv = covar_samp(y, x)
    val vx = var_samp(x); val vy = var_samp(y)
    Tables.load(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        round(try_divide(cv, stddev_samp(y) * stddev_samp(x)), 4)
          .as("corr_pq"),
        round(cv, 2).as("covar_pq"),
        round(try_divide(cv, vx), 4).as("slope"),
        round(avg(y) - try_divide(cv, vx) * avg(x), 2).as("intercept"),
        round(
          when(vx.isNull || vx === 0, lit(null).cast("double"))
            .when(vy === 0, lit(1.0))
            .otherwise(try_divide(cv * cv, vx * vy)), 4).as("r2"))
      .orderBy("l_returnflag")
  }

  /** q_agg_entropy — categorical-distribution health per group:
    * Shannon entropy (nats) and Gini impurity of the language mix
    * within each document source — the class-balance audit a
    * training-data pipeline runs per shard/source before sampling
    * (collapsed entropy ⇒ a source went monolingual; the
    * information-theoretic sibling of q_agg_histogram's raw counts).
    * Two chained two-phase aggregates: (source, lang) counts — the
    * only scan-sized shuffle — then a window for the per-source total
    * over the tiny distinct-pair set and a per-source reduce. All
    * post-scan state is category-cardinality-bounded, independent of
    * corpus size. Per-term p·ln p summands are O(1) and ≤ ~10² terms
    * per group → the 4-dp round dwarfs summation-order drift. */
  private val aggEntropy: Q = (s, dir) => {
    val c = Tables.load(s, dir, "documents")
      .groupBy("source", "lang").agg(count(lit(1)).as("cnt"))
      .withColumn("tot", sum("cnt").over(Window.partitionBy("source")))
    c.groupBy("source")
      .agg(sum("cnt").cast("long").as("n_docs"),
        count(lit(1)).cast("long").as("n_langs"),
        round(-sum((col("cnt") / col("tot")) *
          log(col("cnt") / col("tot"))), 4).as("entropy"),
        round(lit(1.0) - sum(pow(col("cnt") / col("tot"), 2)), 4)
          .as("gini"))
      .orderBy("source")
  }

  /** q_agg_mad — robust outlier profile per group: median + MAD (median
    * absolute deviation) of `value` per event type, and the count of
    * rows whose modified z-score 0.6745·|x−med|/MAD exceeds 3.5 (the
    * Iglewicz–Hoaglin rule). The robust companion of q_evt_anomaly's
    * mean/σ z-score: a handful of extreme rows inflate σ and hide
    * themselves, while the median/MAD profile is unmoved by anything
    * short of 50% contamination — the difference that matters when the
    * outliers ARE the signal (fraud, sensor faults, bot traffic).
    * Two-phase shape: per-type median, broadcast the k-row profile back
    * onto the stream for deviations, per-type MAD, broadcast again for
    * the flag count. Exact `percentile` ≡ DuckDB `quantile_cont`
    * (q_agg_quantile parity); at 100 TB swap to `approx_percentile`
    * exactly as q_agg_quantile documents. `try_divide` guards the
    * MAD=0 degenerate group (>50% of a type at one value): NULL z ⇒
    * not flagged, DuckDB's x/0 NULL does the same (§7.5.12). */
  private val aggMad: Q = (s, dir) => {
    val base = Tables.load(s, dir, "events")
      .filter(col("value").isNotNull)
      .select("event_type", "value")
    val med = base.groupBy("event_type")
      .agg(expr("percentile(value, 0.5)").as("med"))
    val dev = base.join(broadcast(med), Seq("event_type"))
      .withColumn("dev", abs(col("value") - col("med")))
    val mad = dev.groupBy("event_type")
      .agg(expr("percentile(dev, 0.5)").as("mad"))
    dev.join(broadcast(mad), Seq("event_type"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        count(when(expr("try_divide(0.6745 * dev, mad)") > 3.5, lit(1)))
          .as("n_outliers"),
        round(max("med"), 4).as("med"),
        round(max("mad"), 4).as("mad"))
      .orderBy("event_type")
  }

  /** q_agg_bitmap — EXACT distinct counting via mergeable bitmap
    * chunks: weekly active users per event type, where each (group,
    * id DIV 32) chunk aggregates to one BIGINT bitmap via `bit_or` and
    * the distinct count is `sum(bit_count(chunk))` — the roaring-lite
    * layout warehouse engines use when approximate (q_agg_approx /
    * q_agg_sketch) is not acceptable but a COUNT(DISTINCT) expand
    * (q_agg_distinct's shape) shuffles too much. The shuffle carries
    * one 8-byte word per POPULATED chunk per group — for dense id
    * spaces that is 64× less than distinct (id, group) pairs, partials
    * OR-combine map-side, and chunks re-merge under any regrouping
    * (bit_or is idempotent ∨ associative ∨ commutative). 32-bit chunks
    * (not 64): DuckDB's `<<` range-checks the sign bit, so 1<<63 is an
    * error there — both engines stay in non-negative BIGINT territory.
    * Week = days-since-epoch DIV 7 — pure integer, no calendar. */
  private val aggBitmap: Q = (s, dir) => {
    val ev = Tables.load(s, dir, "events")
      .select(col("event_type"),
        expr("CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)" +
          " DIV 7").as("week"),
        col("user_id"))
    ev.groupBy(col("event_type"), col("week"),
        expr("user_id DIV 32").as("chunk"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), " +
        "CAST(user_id % 32 AS INT)))").as("bm"))
      .groupBy("event_type", "week")
      .agg(sum(bit_count(col("bm"))).cast("long").as("n_users"),
        count(lit(1)).as("n_chunks"))
      .orderBy(col("event_type").asc_nulls_first, col("week"))
  }

  /** q_agg_heavy_hitters — Misra-Gries frequency summary
    * ([[graft.ops.Aggregators.MisraGries]], k = 8) over the event
    * stream: the DETERMINISTIC heavy-hitter sketch next to
    * q_agg_countmin's randomized grid — fixed k-entry memory, partials
    * that merge under ANY merge tree (Spark guarantees no order), and
    * a hard bound: every key with count > n/(k+1) survives, estimates
    * undershoot by ≤ n/(k+1). The registered run has 5 distinct types
    * ≤ k, so no cancellation fires and the summary is EXACT — which is
    * what makes it oracle-checkable (plain GROUP BY counts); the
    * eviction regime (domain ≫ k) is gated against exact counts in
    * AnalyticsOpsSpec. */
  private val aggHeavyHitters: Q = (s, dir) => {
    val mg = udaf(new graft.ops.Aggregators.MisraGries(8),
      org.apache.spark.sql.Encoders.STRING)
    Tables.load(s, dir, "events")
      .agg(mg(col("event_type")).as("summary"))
      .select(explode(col("summary")).as(Seq("event_type", "est")))
      .orderBy("event_type")
  }

  /** q_agg_moments — higher-moment distribution profile (mean,
    * variance, skewness) per return flag from DECIMAL-EXACT power sums:
    * the shape detector behind drift monitors (a moving mean says
    * "shifted", a flipped skew says "the tail changed sides" — a
    * different upstream bug). The §7.5.2 discipline applied to third
    * moments: Σx, Σx², Σx³ accumulate as decimals (2-decimal inputs ⇒
    * 6-decimal cubes, exact; Spark's built-in `skewness` accumulates
    * DOUBLE partials whose merge order drifts run to run), and only the
    * closed-form readout m₃/m₂^1.5 runs in double — identical algebra
    * on both engines. One two-phase aggregate; three extra decimal
    * columns per group is the entire shuffle delta. */
  private val aggMoments: Q = (s, dir) => {
    Tables.load(s, dir, "lineitem")
      .groupBy(col("l_returnflag").as("flag"))
      .agg(count(lit(1)).as("n"),
        expr("CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)")
          .as("s1"),
        expr("CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * " +
          "CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)").as("s2"),
        expr("CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * " +
          "CAST(l_quantity AS DECIMAL(18,2)) * " +
          "CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)").as("s3"))
      .select(col("flag"), col("n"),
        round(col("s1") / col("n"), 4).as("mean"),
        round(col("s2") / col("n") -
          (col("s1") / col("n")) * (col("s1") / col("n")), 4)
          .as("variance"),
        // + 0.0 normalizes a rounded −0.0 (an exactly-symmetric group
        // skews to −0.0 in one engine and +0.0 in the other — the
        // §7.5.20 signed-zero class, hit at sf0.001)
        (round((col("s3") / col("n") -
          lit(3) * (col("s1") / col("n")) * (col("s2") / col("n")) +
          lit(2) * (col("s1") / col("n")) * (col("s1") / col("n")) *
            (col("s1") / col("n"))) /
          pow(col("s2") / col("n") -
            (col("s1") / col("n")) * (col("s1") / col("n")), 1.5), 4)
          + lit(0.0)).as("skew"))
      .orderBy("flag")
  }

  /** q_agg_delta_method — A/B test on a RATIO metric (revenue per
    * event) via the delta method: per arm, R = Σx/Σy with
    * Var(R) ≈ (σ²_x − 2Rσ_xy + R²σ²_y)/(n·ȳ²), z on the difference —
    * the statistically CORRECT experiment readout for per-user ratio
    * metrics (a naive t-test on per-user ratios weights a 1-event
    * user equally with a 1000-event user and is simply wrong;
    * ab_ztest handles binary conversion, ttest handles means — this
    * handles the revenue-per-session class every growth team actually
    * ships). Exactness: per-user x (decimal spend) and y (event
    * count) collapse map-side; the five co-moment sums per arm are
    * exact decimals; R, both variances, and z are shared closed-form
    * doubles; the flag compares the ROUNDED z. */
  private val aggDeltaMethod: Q = (s, dir) => {
    val users = Tables.load(s, dir, "events")
      .groupBy("user_id")
      .agg(sum(when(col("event_type") === "purchase",
        col("value").cast("decimal(18,2)"))
        .otherwise(lit(0).cast("decimal(18,2)"))).as("x"),
        count(lit(1)).as("y"))
      .withColumn("arm", col("user_id") % 2)
    val g = users.groupBy("arm")
      .agg(count(lit(1)).as("n"),
        expr("CAST(sum(x) AS DOUBLE)").as("sx"),
        expr("CAST(sum(y) AS DOUBLE)").as("sy"),
        expr("CAST(sum(x * x) AS DOUBLE)").as("sxx"),
        expr("CAST(sum(CAST(y AS DECIMAL(18,0)) * y) AS DOUBLE)")
          .as("syy"),
        expr("CAST(sum(x * y) AS DOUBLE)").as("sxy"))
      .withColumn("r", col("sx") / col("sy"))
      .withColumn("ybar", col("sy") / col("n"))
      .withColumn("vx", (col("sxx") - col("sx") * col("sx") / col("n"))
        / (col("n") - 1))
      .withColumn("vy", (col("syy") - col("sy") * col("sy") / col("n"))
        / (col("n") - 1))
      .withColumn("vxy", (col("sxy") - col("sx") * col("sy") / col("n"))
        / (col("n") - 1))
      .withColumn("var_r",
        (col("vx") - lit(2) * col("r") * col("vxy") +
          col("r") * col("r") * col("vy")) /
          (col("n") * col("ybar") * col("ybar")))
    val a = g.filter(col("arm") === 0)
      .select(col("n").as("n_a"), col("r").as("r_a"),
        col("var_r").as("v_a"))
    val b = g.filter(col("arm") === 1)
      .select(col("n").as("n_b"), col("r").as("r_b"),
        col("var_r").as("v_b"))
    a.crossJoin(b)
      .withColumn("z", round((col("r_b") - col("r_a")) /
        sqrt(col("v_a") + col("v_b")), 4))
      .select(col("n_a"), round(col("r_a"), 4).as("r_a"),
        col("n_b"), round(col("r_b"), 4).as("r_b"),
        round(col("r_b") - col("r_a"), 4).as("diff"), col("z"),
        when(abs(col("z")) > 1.96, 1).otherwise(0).as("significant"))
  }

  /** q_agg_sprt — Wald SPRT trace for a conversion experiment: the
    * daily cumulative log-likelihood ratio for the DESIGN hypotheses
    * p₁ = 0.05 vs p₀ = 0.04 (α = β = 0.05 → boundaries ±ln 19), and
    * each day's decision state — the sequential-testing readout
    * ("when could we have stopped?") that fixed-horizon q_agg_ab_ztest
    * cannot give, and the honest alternative to peeking at it daily.
    * Determinism: daily trials/conversions are integers and the two
    * ln CONSTANTS round to 8-dp DECIMALS once (libm ln is ±1 ulp —
    * rounding the constant, not each term, makes every LLR term an
    * exact integer×decimal product), so the cumulative LLR and both
    * boundary compares are pure decimal arithmetic — no float
    * anywhere in the decision path. Scale: one (day, user)
    * contraction, then windows on the day grid. */
  private val aggSprt: Q = (s, dir) => {
    val daily = Tables.load(s, dir, "events")
      .groupBy(to_date(col("ts")).as("d"), col("user_id"))
      .agg(max(when(col("event_type") === "purchase" &&
        col("value") > 90, 1).otherwise(0)).as("conv"))
      .groupBy("d")
      .agg(count(lit(1)).as("n_users"), sum("conv").as("n_conv"))
    def dec8(x: Double): Column =
      lit(BigDecimal(x).setScale(8, BigDecimal.RoundingMode.HALF_UP)
        .toString).cast("decimal(12,8)")
    val cUp = dec8(math.log(0.05 / 0.04))
    val cDown = dec8(math.log(0.95 / 0.96))
    val bound = BigDecimal(math.log(19.0))
      .setScale(8, BigDecimal.RoundingMode.HALF_UP)
    val w = Window.orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("llr8", (col("n_conv") * cUp +
        (col("n_users") - col("n_conv")) * cDown)
        .cast("decimal(20,8)"))
      .withColumn("cum_llr", sum("llr8").over(w))
      .select(col("d"), col("n_users"), col("n_conv"),
        col("cum_llr").cast("double").as("cum_llr"),
        when(col("cum_llr") > lit(bound.toString).cast("decimal(20,8)"),
          "accept_h1")
          .when(col("cum_llr") <
            lit((-bound).toString).cast("decimal(20,8)"), "accept_h0")
          .otherwise("continue").as("decision"))
      .orderBy("d")
  }

  /** q_agg_tost — equivalence test (TOST) between the experiment
    * arms: two one-sided z-tests against the ±1pp margin,
    * equivalent iff BOTH reject (min(z_low, z_high) > 1.645 at
    * α=0.05) — the INVERSE question of q_agg_ab_ztest ("did it
    * change?" vs "is it safely the SAME?"), and the statistically
    * honest form of every no-regression launch check (absence of
    * significance is NOT evidence of equivalence — TOST is).
    * Exactness: the same four integers as ab_ztest leave the corpus;
    * the unpooled SE, both z's, and the margin arithmetic are shared
    * closed-form doubles with the margin in DOUBLE arithmetic (the
    * mde literal rule); the verdict compares ROUNDED z's. */
  private val aggTost: Q = (s, dir) => {
    val users = Tables.load(s, dir, "events")
      .groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase" &&
        col("value") > 90, 1).otherwise(0)).as("conv"))
      .withColumn("arm", col("user_id") % 2)
    users.agg(
      count(when(col("arm") === 0, 1)).as("n_a"),
      sum(when(col("arm") === 0, col("conv"))).as("c_a"),
      count(when(col("arm") === 1, 1)).as("n_b"),
      sum(when(col("arm") === 1, col("conv"))).as("c_b"))
      .withColumn("p_a", col("c_a").cast("double") / col("n_a"))
      .withColumn("p_b", col("c_b").cast("double") / col("n_b"))
      .withColumn("se", sqrt(
        col("p_a") * (lit(1.0) - col("p_a")) / col("n_a") +
          col("p_b") * (lit(1.0) - col("p_b")) / col("n_b")))
      .withColumn("diff", col("p_b") - col("p_a"))
      .withColumn("z_low",
        round((col("diff") + lit(0.01)) / col("se"), 4))
      .withColumn("z_high",
        round((lit(0.01) - col("diff")) / col("se"), 4))
      .select(col("n_a"), col("n_b"),
        round(col("p_a"), 4).as("p_a"), round(col("p_b"), 4).as("p_b"),
        round(col("diff"), 4).as("diff"),
        col("z_low"), col("z_high"),
        when(least(col("z_low"), col("z_high")) > 1.645, 1)
          .otherwise(0).as("equivalent"))
  }

  /** q_agg_anova — one-way ANOVA of lineitem quantity across the
    * twelve ship months: between/within mean squares and the F
    * statistic with the α=0.05 call (F crit df1=11, df2→∞ ≈ 1.79) —
    * "does order size drift seasonally", the k-group
    * generalization of q_agg_ttest ("do ANY of the groups differ?"
    * asked once, instead of 21 pairwise t-tests at an inflated false-
    * positive rate). Exactness: quantity is integral, so the per-group
    * (n, Σx, Σx²) triple chains exact DECIMAL sums (the jarque_bera
    * width discipline); the ≤7 group rows join the 1-row grand totals
    * broadcast, every per-group mean-square term is ONE closed-form
    * double shared literally with the oracle, rounded to an 8-dp
    * decimal BEFORE the final ≤12-row sum (the logloss rule — the
    * cross-group fold is partition-order-free), and the verdict
    * compares the ROUNDED F. Shape: one corpus-sized two-phase
    * aggregate; everything after it is cell arithmetic. */
  private val aggAnova: Q = (s, dir) => {
    val q = "CAST(l_quantity AS DECIMAL(9,0))"
    val g = Tables.load(s, dir, "lineitem")
      .groupBy(month(col("l_shipdate")).as("grp"))
      .agg(count(lit(1)).as("n_g"),
        expr(s"sum($q)").as("s1"),
        expr(s"sum($q * $q)").as("s2"))
    val tot = g.agg(count(lit(1)).as("k"), sum("n_g").as("n"),
      sum("s1").as("s"))
    val terms = g.crossJoin(broadcast(tot))
      .withColumn("m_g", col("s1").cast("double") / col("n_g"))
      .withColumn("m", col("s").cast("double") / col("n"))
      .withColumn("bt", round(col("n_g") * (col("m_g") - col("m")) *
        (col("m_g") - col("m")) / (col("k") - lit(1)), 8)
        .cast("decimal(20,8)"))
      .withColumn("wt", round((col("s2").cast("double") -
        col("n_g") * col("m_g") * col("m_g")) /
        (col("n") - col("k")), 8).cast("decimal(20,8)"))
    terms.groupBy(col("k"), col("n"), round(col("m"), 4).as("grand_mean"))
      .agg(sum("bt").as("msb_d"), sum("wt").as("msw_d"))
      .select(col("k"), col("n").cast("long").as("n"), col("grand_mean"),
        round(col("msb_d").cast("double"), 4).as("msb"),
        round(col("msw_d").cast("double"), 4).as("msw"),
        round(col("msb_d").cast("double") /
          col("msw_d").cast("double"), 4).as("f"),
        when(round(col("msb_d").cast("double") /
          col("msw_d").cast("double"), 4) > 1.79, 1)
          .otherwise(0).as("reject"))
  }

  /** q_agg_capture_recapture — Chapman capture–recapture estimate of
    * the corpus population from two INDEPENDENT cheap samples (two
    * different sha-derived 20% buckets): N̂ = (n₁+1)(n₂+1)/(m+1) − 1
    * from the overlap m — the census trick for "how big is the true
    * population" when a full scan is off the table (dedup-cluster
    * counts, crawl-frontier size, leaked-document estimation), made
    * SELF-VALIDATING here: the fixture's true count is known, so the
    * op reports its own estimation error. Independence comes from
    * hashing (id) vs (id‖salt) — pure row functions, rerun-stable.
    * Integers + one closed form; the corpus is touched once. */
  private val aggCaptureRecapture: Q = (s, dir) => {
    val d = Tables.load(s, dir, "documents")
      .withColumn("ba",
        conv(substring(sha2(col("doc_id").cast("string"), 256), 1, 7),
          16, 10).cast("long") % 100 < 20)
      .withColumn("bb",
        conv(substring(sha2(concat(col("doc_id").cast("string"),
          lit("salt")), 256), 1, 7), 16, 10).cast("long") % 100 < 20)
    d.agg(count(lit(1)).as("n_total"),
      count(when(col("ba"), 1)).as("n1"),
      count(when(col("bb"), 1)).as("n2"),
      count(when(col("ba") && col("bb"), 1)).as("m"))
      .withColumn("n_hat", round(
        ((col("n1") + 1) * (col("n2") + 1)).cast("double") /
          (col("m") + 1) - lit(1.0), 2))
      .withColumn("err_pct", round(
        (col("n_hat") - col("n_total")) * lit(100.0) / col("n_total"),
        2))
  }

  /** q_agg_theil — Theil T inequality of customer revenue with the
    * between/within-nation DECOMPOSITION: T = (1/N)Σ(r/μ)ln(r/μ),
    * split into Σs_g·ln(μ_g/μ) (between) + Σs_g·T_g (within) — the
    * property gini/lorenz/hhi lack: Theil is additively decomposable,
    * so "how much inequality is EXPLAINED by nation" is a number, not
    * a chart (the variance-decomposition of inequality analysis).
    * Float discipline: every ln-bearing term rounds to 8 dp and
    * accumulates as decimal (the logloss rule — per-customer terms
    * for T and the T_g's, per-nation terms for between/within), so
    * all three sums are partition-order-free; revenues and means are
    * exact decimal sums with one division each. Shape: orders
    * collapse to a customer-revenue table once; nation means are a
    * ≤25-row broadcast. */
  private val aggTheil: Q = (s, dir) => {
    val rev = Tables.load(s, dir, "orders")
      .groupBy("o_custkey")
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("r"))
      .join(Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey").as("nat"), col("r"))
      .localCheckpoint()
    val tot = rev.agg(count(lit(1)).as("n"),
      sum("r").as("rtot"))
    val gm = rev.groupBy("nat")
      .agg(count(lit(1)).as("n_g"), sum("r").as("r_g"))
    val withMu = rev.crossJoin(broadcast(tot))
      .join(broadcast(gm), Seq("nat"))
      .withColumn("mu", col("rtot").cast("double") / col("n"))
      .withColumn("mu_g", col("r_g").cast("double") / col("n_g"))
      .withColumn("t_term", round((col("r").cast("double") / col("mu"))
        * log(col("r").cast("double") / col("mu")), 8)
        .cast("decimal(20,8)"))
      .withColumn("tg_term", round((col("r").cast("double") /
        col("mu_g")) * log(col("r").cast("double") / col("mu_g")), 8)
        .cast("decimal(20,8)"))
    val tTotal = withMu.agg((expr("CAST(sum(t_term) AS DOUBLE)") /
      max("n")).as("theil"))
    val groups = withMu.groupBy("nat")
      .agg(max("n_g").as("n_g"), max("r_g").as("r_g"),
        max("rtot").as("rtot"), max("n").as("n"),
        max("mu").as("mu"), max("mu_g").as("mu_g"),
        expr("CAST(sum(tg_term) AS DOUBLE)").as("tg_sum"))
      .withColumn("share", col("r_g").cast("double") / col("rtot")
        .cast("double"))
      .withColumn("b_term", round(col("share") *
        log(col("mu_g") / col("mu")), 8).cast("decimal(20,8)"))
      .withColumn("w_term", round(col("share") *
        (col("tg_sum") / col("n_g")), 8).cast("decimal(20,8)"))
    tTotal.crossJoin(groups.agg(
      count(lit(1)).as("n_nations"),
      expr("CAST(sum(b_term) AS DOUBLE)").as("between"),
      expr("CAST(sum(w_term) AS DOUBLE)").as("within")))
      .select(col("n_nations"), round(col("theil"), 4).as("theil"),
        round(col("between"), 4).as("between"),
        round(col("within"), 4).as("within"))
  }

  /** q_agg_extreme — extreme-value capacity planning per event type:
    * weekly block maxima of the daily count, a method-of-moments
    * Gumbel fit (β = s·√6/π, μ = m̄ − γβ), and the 100-week return
    * level μ − β·ln(−ln(1 − 1/100)) — the "what peak should we
    * provision for" readout (q_agg_cvar prices the OBSERVED tail;
    * extreme-value theory extrapolates BEYOND it, which is the actual
    * capacity question). Exactness: block maxima are integer window
    * maxima; their mean/std come from decimal sums; √6/π is a ratio
    * of a correctly-rounded sqrt and both engines' nearest-double π;
    * γ enters as a shared double literal; ln appears only in the
    * 4-dp-rounded output. Scale: daily grid → weekly grid → one
    * ≤types-row closed-form readout. */
  private val aggExtreme: Q = (s, dir) => {
    val weekly = Tables.load(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("y"))
      .groupBy(col("event_type"),
        date_trunc("week", col("d")).cast("date").as("wk"))
      .agg(max("y").as("m"))
    val g = weekly.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        expr("CAST(sum(CAST(m AS DECIMAL(18,0))) AS DOUBLE)").as("s1"),
        expr("CAST(sum(CAST(m AS DECIMAL(18,0)) * m) AS DOUBLE)")
          .as("s2"))
      .withColumn("mbar", col("s1") / col("n"))
      .withColumn("sd", sqrt((col("s2") - col("s1") * col("s1") /
        col("n")) / (col("n") - 1)))
      .withColumn("beta",
        col("sd") * lit(math.sqrt(6.0)) / lit(math.Pi))
      .withColumn("mu", col("mbar") - lit(0.5772156649) * col("beta"))
    g.select(col("event_type"), col("n").cast("long").as("n_weeks"),
      round(col("mbar"), 4).as("max_mean"),
      round(col("sd"), 4).as("max_std"),
      round(col("mu"), 4).as("mu"),
      round(col("beta"), 4).as("beta"),
      round(col("mu") - col("beta") *
        log(-log(lit(1.0) - lit(1.0) / lit(100.0))), 4).as("rl100"))
      .orderBy(col("event_type").asc_nulls_first)
  }

  /** q_agg_jarque_bera — normality test per return flag on the
    * (integral) quantity column: skewness, excess kurtosis, and
    * JB = n/6·(S² + K²/4) with the χ²(2) α=0.05 call (5.99) — the
    * "can I even use a z-test here" gate q_agg_moments stops short of
    * (moments DESCRIBE the shape; JB DECIDES whether the normal
    * approximation is defensible). Exactness: the value is integral
    * 1..50, so the four power sums chain DECIMAL(9,0)
    * multiplications — widths 18/27/36, inside BOTH engines' 38-digit
    * decimals with no precision-loss rewrite (a DECIMAL(18,2)⁴ would
    * overflow DuckDB's width and silently promote to double) — and
    * every central-moment readout is one shared closed-form double;
    * the flag compares the ROUNDED JB. One two-phase aggregate. */
  private val aggJarqueBera: Q = (s, dir) => {
    val q = "CAST(l_quantity AS DECIMAL(9,0))"
    Tables.load(s, dir, "lineitem")
      .groupBy(col("l_returnflag").as("flag"))
      .agg(count(lit(1)).as("n"),
        expr(s"CAST(sum($q) AS DOUBLE)").as("s1"),
        expr(s"CAST(sum($q * $q) AS DOUBLE)").as("s2"),
        expr(s"CAST(sum($q * $q * $q) AS DOUBLE)").as("s3"),
        expr(s"CAST(sum($q * $q * $q * $q) AS DOUBLE)").as("s4"))
      .withColumn("m", col("s1") / col("n"))
      .withColumn("m2", col("s2") / col("n") - col("m") * col("m"))
      .withColumn("m3", col("s3") / col("n") -
        lit(3) * col("m") * (col("s2") / col("n")) +
        lit(2) * col("m") * col("m") * col("m"))
      .withColumn("m4", col("s4") / col("n") -
        lit(4) * col("m") * (col("s3") / col("n")) +
        lit(6) * col("m") * col("m") * (col("s2") / col("n")) -
        lit(3) * col("m") * col("m") * col("m") * col("m"))
      .withColumn("skew", col("m3") / pow(col("m2"), 1.5))
      .withColumn("kurt", col("m4") / (col("m2") * col("m2")) - 3.0)
      .withColumn("jb", round(col("n").cast("double") / 6.0 *
        (col("skew") * col("skew") +
          col("kurt") * col("kurt") / 4.0), 4))
      .select(col("flag"), col("n"),
        // + 0.0: signed-zero normalization (§7.5.20; sf0.001 hits a
        // symmetric group whose skew rounds to −0.0 in one engine)
        (round(col("skew"), 4) + lit(0.0)).as("skew"),
        (round(col("kurt"), 4) + lit(0.0)).as("kurtosis"), col("jb"),
        when(col("jb") > 5.99, 1).otherwise(0).as("reject_normal"))
      .orderBy("flag")
  }

  /** q_agg_cvar — tail-risk profile per event type: the exact P95
    * (VaR₉₅) and the conditional mean BEYOND it (CVaR₉₅ / expected
    * shortfall), plus the tail count — the risk readout that answers
    * "how bad is bad" where a quantile alone answers "where does bad
    * start" (capacity planning and cost-spike budgeting run on
    * expected shortfall, not on P95). Exactness: the threshold is the
    * exact interpolated percentile (engine-identical doubles —
    * quantile_cont ≡ percentile), the strict `>` cut runs on those
    * identical values, and the tail mean is a DECIMAL conditional sum
    * ÷ count (the distributed-mean rule — 2-dp inputs make the sum
    * exact). Two-phase: a ≤types-row threshold broadcast back onto
    * one scan. */
  private val aggCvar: Q = (s, dir) => {
    val ev = Tables.load(s, dir, "events")
      .select(col("event_type"), col("value"))
    val thr = ev.groupBy("event_type")
      .agg(expr("percentile(value, 0.95)").as("var95"))
    ev.join(broadcast(thr), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(max("var95"), 4).as("var95"),
        count(when(col("value") > col("var95"), 1)).as("tail_n"),
        round(expr("CAST(sum(CASE WHEN value > var95 THEN " +
          "CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)") /
          count(when(col("value") > col("var95"), 1)), 4).as("cvar95"))
      .orderBy(col("event_type").asc_nulls_first)
  }

  /** q_agg_regression — per-type least-squares trend of value over
    * time (slope per day + intercept): the drift line behind "is this
    * metric creeping" alerts. Spark ships `regr_slope`, but its DOUBLE
    * moment partials are merge-order-dependent (the §7.5.2 class), so
    * the sums Σx, Σy, Σxy, Σx² accumulate as DECIMALS (x = whole days
    * since epoch, y = 2-dp values ⇒ all products exact) and the
    * closed-form slope/intercept run in double identically on both
    * engines. One two-phase aggregate; four decimal columns per group
    * is the entire shuffle. */
  private val aggRegression: Q = (s, dir) => {
    Tables.load(s, dir, "events")
      .select(col("event_type"),
        expr("CAST(CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') " +
          "AS BIGINT) AS DECIMAL(18,0))").as("x"),
        expr("CAST(value AS DECIMAL(18,2))").as("y"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        expr("CAST(sum(x) AS DOUBLE)").as("sx"),
        expr("CAST(sum(y) AS DOUBLE)").as("sy"),
        expr("CAST(sum(x * y) AS DOUBLE)").as("sxy"),
        expr("CAST(sum(x * x) AS DOUBLE)").as("sxx"))
      .select(col("event_type"), col("n"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("slope"),
        round((col("sy") -
          ((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx"))) * col("sx")) /
          col("n"), 4).as("intercept"))
      .orderBy(col("event_type").asc_nulls_first)
  }

  /** q_agg_topn_share — revenue concentration (the Pareto readout): the
    * top-10 customers ranked by lifetime revenue with each rank's
    * CUMULATIVE share of total revenue — "how much of the book do the
    * whales carry", the concentration-risk number next to
    * q_etl_skew_profile's key-skew twin. Shape: one two-phase
    * per-customer decimal-sum contraction, a TakeOrdered top-10 heap cut
    * (per-partition heaps, never a global sort of the customer table),
    * and a 10-row cumulative window joined against the 1-row total —
    * everything after the contraction is constant-size at any scale.
    * Decimal sums keep the shares §7.5.2-exact; the double division
    * happens once per output row. */
  private val aggTopnShare: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val rev = Tables.load(s, dir, "orders")
      .groupBy("o_custkey")
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
    val tot = rev.agg(sum(col("rev")).as("tot"))
    val ord = Seq(col("rev").desc, col("o_custkey").asc)
    val w = Window.orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rev.orderBy(ord: _*).limit(10)
      .crossJoin(broadcast(tot))
      .select(row_number().over(Window.orderBy(ord: _*)).as("rank"),
        col("o_custkey"), col("rev").cast("double").as("rev"),
        round(sum(col("rev")).over(w).cast("double") /
          col("tot").cast("double"), 4).as("cum_share"))
      .orderBy("rank")
  }

  /** q_agg_mutual_info — mutual information between event type and
    * day-of-week, with the normalized-MI readout MI/√(H_x·H_y) — the
    * dependence screen for categorical pairs (correlation is blind to
    * non-ordinal association; MI is the quantity feature-selection
    * and leakage audits actually rank by). Shape: ONE corpus
    * contraction to the |types|×7 cell grid; margins and the total
    * are tiny re-aggregates of the grid that ride back as broadcast
    * dims, so no window touches anything corpus-sized. Exactness:
    * counts are longs; each p·ln term rounds to 8-dp decimal on the
    * ≤35-cell grid before folding (the logloss rule); MI, H's, and
    * NMI are shared closed-form doubles. */
  private val aggMutualInfo: Q = (s, dir) => {
    val cells = Tables.load(s, dir, "events")
      .groupBy(col("event_type"), dayofweek(col("ts")).as("dow"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val mx = cells.groupBy("event_type").agg(sum("c").as("cx"))
    val my = cells.groupBy("dow").agg(sum("c").as("cy"))
    val nt = cells.agg(sum("c").as("n"))
    val mi = cells.join(broadcast(mx), "event_type")
      .join(broadcast(my), "dow").crossJoin(broadcast(nt))
      .select(round((col("c").cast("double") / col("n")) *
        log(col("c").cast("double") * col("n") /
          (col("cx") * col("cy"))), 8).cast("decimal(20,8)").as("t"))
      .agg(sum("t").as("mi"))
    val hx = mx.crossJoin(broadcast(nt))
      .select(round(-(col("cx").cast("double") / col("n")) *
        log(col("cx").cast("double") / col("n")), 8)
        .cast("decimal(20,8)").as("t"))
      .agg(sum("t").as("hx"))
    val hy = my.crossJoin(broadcast(nt))
      .select(round(-(col("cy").cast("double") / col("n")) *
        log(col("cy").cast("double") / col("n")), 8)
        .cast("decimal(20,8)").as("t"))
      .agg(sum("t").as("hy"))
    nt.crossJoin(mi).crossJoin(hx).crossJoin(hy)
      .select(col("n").cast("long").as("n"),
        round(col("mi").cast("double"), 6).as("mi"),
        round(col("hx").cast("double"), 6).as("h_type"),
        round(col("hy").cast("double"), 6).as("h_dow"),
        round(col("mi").cast("double") /
          sqrt(col("hx").cast("double") * col("hy").cast("double")), 6)
          .as("nmi"))
  }

  /** q_agg_cohen_kappa — inter-rater agreement between the recorded
    * order status and a deterministic price-tercile "rater"
    * (< 170 k → F, < 340 k → O, else P): Cohen's κ corrects raw
    * agreement for the agreement two independent raters would reach
    * by chance — THE label-quality metric when two annotation sources
    * (model vs heuristic, old vs new pipeline) disagree. Shape: one
    * contraction to the 3×3 confusion grid; marginals are grid
    * re-aggregates; p_o, p_e, κ are one shared closed-form double
    * row. The price boundaries compare 2-dp decimals to integer
    * literals — exact on both engines. */
  private val aggCohenKappa: Q = (s, dir) => {
    val r = Tables.load(s, dir, "orders")
      .select(col("o_orderstatus").as("a"),
        when(col("o_totalprice") < 170000, "F")
          .when(col("o_totalprice") < 340000, "O")
          .otherwise("P").as("b"))
    val cells = r.groupBy("a", "b")
      .agg(count(lit(1)).cast("decimal(38,0)").as("c"))
      .localCheckpoint()
    val ra = cells.groupBy("a").agg(sum("c").as("ca"))
    val rb = cells.groupBy("b").agg(sum("c").as("cb"))
    val nt = cells.agg(sum("c").as("n"))
    val agree = cells.filter(col("a") === col("b"))
      .agg(sum("c").as("n_agree"))
    val pe = ra.join(rb, col("a") === col("b"))
      .agg(sum(col("ca") * col("cb")).as("pesum"))
    nt.crossJoin(agree).crossJoin(pe)
      .select(col("n").cast("long").as("n"),
        col("n_agree").cast("long").as("n_agree"),
        round(col("n_agree").cast("double") / col("n"), 6).as("p_o"),
        round(col("pesum").cast("double") /
          (col("n").cast("double") * col("n").cast("double")), 6)
          .as("p_e"),
        round((col("n_agree").cast("double") / col("n") -
          col("pesum").cast("double") /
            (col("n").cast("double") * col("n").cast("double"))) /
          (lit(1.0) - col("pesum").cast("double") /
            (col("n").cast("double") * col("n").cast("double"))), 6)
          .as("kappa"))
  }

  /** q_agg_psi — population stability index of the order-price mix
    * between the even- and odd-orderkey halves, over ten fixed 50 k
    * price bands (capped top band): PSI = Σ (p−q)·ln(p/q) — the
    * model-monitoring drift score (PSI < 0.1 stable, > 0.25 action)
    * computed here between two deterministic cohorts so the oracle
    * is exact. Binning is integer END TO END: pennies = price×100
    * cast to long (integral by construction, so DuckDB's round-on-
    * cast and Spark's truncate-on-cast agree), band = pennies DIV
    * 5 000 000 capped at 9 — no decimal division anywhere near a bin
    * boundary. Laplace-smoothed shares (+0.5 per observed band) keep
    * ln finite when a band is empty on one side; each psi term
    * rounds to 8-dp decimal on the ≤10-row grid before folding. */
  private val aggPsi: Q = (s, dir) => {
    val b = Tables.load(s, dir, "orders")
      .select((col("o_orderkey") % 2).as("grp"),
        expr("least(CAST(o_totalprice * 100 AS BIGINT) DIV 5000000, 9)")
          .as("bin"))
    val cells = b.groupBy("bin")
      .agg(count(when(col("grp") === 0, 1)).as("ca"),
        count(when(col("grp") === 1, 1)).as("cb"))
      .localCheckpoint()
    val tot = cells.agg(sum("ca").as("na"), sum("cb").as("nb"),
      count(lit(1)).as("nbins"))
    val terms = cells.crossJoin(broadcast(tot))
      .withColumn("p", (col("ca") + lit(0.5)) /
        (col("na") + lit(0.5) * col("nbins")))
      .withColumn("q", (col("cb") + lit(0.5)) /
        (col("nb") + lit(0.5) * col("nbins")))
      .withColumn("psi_term",
        round((col("p") - col("q")) * log(col("p") / col("q")), 8)
          .cast("decimal(20,8)"))
      .localCheckpoint()
    val psi = terms.agg(sum("psi_term").as("psi"))
    terms.crossJoin(broadcast(psi))
      .select(col("bin"), col("ca").as("n_even"), col("cb").as("n_odd"),
        round(col("p"), 6).as("p_even"), round(col("q"), 6).as("p_odd"),
        col("psi_term").cast("double").as("psi_term"),
        round(col("psi").cast("double"), 6).as("psi_total"))
      .orderBy("bin")
  }

  /** q_agg_kruskal — Kruskal–Wallis H across the three return flags
    * on line quantity (mid-ranks, tie-corrected): the k-group
    * rank-based location test — the ANOVA alternative when the
    * response is ordinal or heavy-tailed (quantities are integers
    * with massive ties; rank tests are what monitoring actually
    * trusts there). Scale shape is the mann-whitney value-grid rule:
    * the corpus contracts to per-quantity flag counts (~50 grid
    * rows), mid-ranks come from ONE cumulative window over that
    * grid (2·r̄ = 2·cum − cnt + 1 keeps everything integer), and the
    * per-group rank sums are decimal(38) products — the corpus never
    * sorts. H and its tie correction are one shared closed-form
    * double row; χ²₀.₀₅ with df = 2 is the 5.991 literal both
    * engines compare against. */
  private val aggKruskal: Q = (s, dir) => {
    val grid = Tables.load(s, dir, "lineitem")
      .groupBy(col("l_quantity").as("x"))
      .agg(count(when(col("l_returnflag") === "A", 1))
        .cast("decimal(38,0)").as("cA"),
        count(when(col("l_returnflag") === "N", 1))
          .cast("decimal(38,0)").as("cN"),
        count(when(col("l_returnflag") === "R", 1))
          .cast("decimal(38,0)").as("cR"))
      .withColumn("cnt", col("cA") + col("cN") + col("cR"))
    // distributed prefix sum over the quantity grid (PrefixSweep — no
    // single-partition window; grid keys distinct ⇒ total order)
    val r = graft.ops.PrefixSweep.sweep(grid, Seq(col("x")),
        runSums = Seq((col("cnt"), "cum")))
      .withColumn("r2", lit(2) * col("cum") - col("cnt") + 1)
    r.agg(sum("cA").as("nA"), sum("cN").as("nN"), sum("cR").as("nR"),
      sum(col("cA") * col("r2")).as("r2A"),
      sum(col("cN") * col("r2")).as("r2N"),
      sum(col("cR") * col("r2")).as("r2R"),
      sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("tsum"))
      // n_tot, NOT "nn": the analyzer is case-insensitive, so
      // withColumn("nn", ...) would REPLACE the nN group count (the
      // r13 red row — same collision existed in the DuckDB oracle).
      .withColumn("n_tot",
        (col("nA") + col("nN") + col("nR")).cast("double"))
      .withColumn("h",
        lit(3.0) * (col("r2A").cast("double") * col("r2A").cast("double") /
            col("nA").cast("double") +
          col("r2N").cast("double") * col("r2N").cast("double") /
            col("nN").cast("double") +
          col("r2R").cast("double") * col("r2R").cast("double") /
            col("nR").cast("double")) /
          (col("n_tot") * (col("n_tot") + 1.0)) -
          lit(3.0) * (col("n_tot") + 1.0))
      .withColumn("tie_c",
        lit(1.0) - col("tsum").cast("double") /
          (col("n_tot") * col("n_tot") * col("n_tot") - col("n_tot")))
      .select(col("nA").cast("long").as("n_a"),
        col("nN").cast("long").as("n_n"),
        col("nR").cast("long").as("n_r"),
        round(col("h"), 4).as("h"),
        round(col("h") / col("tie_c"), 4).as("h_tie_corrected"),
        lit(2).as("df"),
        when(col("h") / col("tie_c") > 5.991, 1).otherwise(0)
          .as("significant"))
  }

  /** q_agg_cohens_d — standardized effect size between finished (F)
    * and open (O) orders on total price: Cohen's d from the pooled
    * SD plus the Hedges-g small-sample correction — the number an
    * A/B readout reports NEXT TO the p-value (significance says "not
    * noise"; d says "big enough to care"; q_agg_mde is the planning
    * twin). One contraction to per-group decimal sums (Σx as
    * decimal(38,2), Σx² via decimal products — 2-dp inputs make both
    * exact); means, pooled variance, d, and g are one shared
    * closed-form double row. */
  private val aggCohensD: Q = (s, dir) => {
    val g = Tables.load(s, dir, "orders")
      .filter(col("o_orderstatus").isin("F", "O"))
      .select(col("o_orderstatus").as("grp"),
        col("o_totalprice").cast("decimal(18,2)").as("x"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n"), sum("x").as("s1"),
        sum(col("x") * col("x")).as("s2"))
    val f = g.filter(col("grp") === "F")
      .select(col("n").as("nf"), col("s1").as("s1f"), col("s2").as("s2f"))
    val o = g.filter(col("grp") === "O")
      .select(col("n").as("no"), col("s1").as("s1o"), col("s2").as("s2o"))
    f.crossJoin(o)
      .withColumn("mf", col("s1f").cast("double") / col("nf"))
      .withColumn("mo", col("s1o").cast("double") / col("no"))
      .withColumn("ssf", col("s2f").cast("double") -
        col("nf") * col("mf") * col("mf"))
      .withColumn("sso", col("s2o").cast("double") -
        col("no") * col("mo") * col("mo"))
      .withColumn("sp", sqrt((col("ssf") + col("sso")) /
        (col("nf") + col("no") - 2).cast("double")))
      .withColumn("d", (col("mf") - col("mo")) / col("sp"))
      .select(col("nf").as("n_f"), col("no").as("n_o"),
        round(col("mf"), 4).as("mean_f"), round(col("mo"), 4).as("mean_o"),
        round(col("sp"), 4).as("sd_pooled"),
        round(col("d"), 6).as("cohens_d"),
        round(col("d") * (lit(1.0) - lit(3.0) /
          (lit(4.0) * (col("nf") + col("no")).cast("double") - 9.0)), 6)
          .as("hedges_g"))
  }

  /** q_agg_brier — Brier score with the Murphy decomposition
    * (reliability − resolution + uncertainty) for a deterministic
    * per-type forecast of the high-value event (value > 50), forecast
    * probabilities as shared literals per event type — the
    * calibration audit a model-scoring pipeline runs per segment
    * (logloss punishes confident misses; Brier's decomposition says
    * WHY: badly calibrated vs no discrimination). Shape: one corpus
    * contraction to per-type (n, k); every readout term is a
    * closed-form double on the 5-row grid, rounded to 8-dp decimal
    * before the fold (the logloss rule). */
  private val aggBrier: Q = (s, dir) => {
    val p = when(col("event_type") === "click", 0.4)
      .when(col("event_type") === "error", 0.35)
      .when(col("event_type") === "purchase", 0.45)
      .when(col("event_type") === "signup", 0.3)
      .otherwise(0.38)
    val g = Tables.load(s, dir, "events")
      .select(col("event_type"), p.as("p"),
        when(col("value") > 50, 1L).otherwise(0L).as("y"))
      .groupBy("event_type", "p")
      .agg(count(lit(1)).as("n"), sum("y").as("k"))
      .localCheckpoint()
    val tot = g.agg(sum("n").as("nn"), sum("k").as("kk"))
    val terms = g.crossJoin(broadcast(tot))
      .withColumn("ybar", col("kk").cast("double") / col("nn"))
      .withColumn("ybar_t", col("k").cast("double") / col("n"))
      .withColumn("b_term", round((col("k") * (lit(1.0) - col("p")) *
          (lit(1.0) - col("p")) + (col("n") - col("k")) * col("p") *
          col("p")) / col("nn"), 8).cast("decimal(20,8)"))
      .withColumn("rel_term", round(col("n") * (col("p") - col("ybar_t")) *
        (col("p") - col("ybar_t")) / col("nn"), 8).cast("decimal(20,8)"))
      .withColumn("res_term", round(col("n") * (col("ybar_t") - col("ybar")) *
        (col("ybar_t") - col("ybar")) / col("nn"), 8).cast("decimal(20,8)"))
    terms
      .agg(max("nn").as("n"), max("ybar").as("ybar"),
        sum("b_term").as("brier"), sum("rel_term").as("reliability"),
        sum("res_term").as("resolution"))
      .select(col("n").cast("long").as("n"),
        round(col("brier").cast("double"), 6).as("brier"),
        round(col("reliability").cast("double"), 6).as("reliability"),
        round(col("resolution").cast("double"), 6).as("resolution"),
        round(col("ybar") * (lit(1.0) - col("ybar")), 6).as("uncertainty"))
  }

  /** q_agg_levene — Brown–Forsythe variance-homogeneity test across
    * return flags on quantity: one-way ANOVA on |x − median_g|, the
    * robust (median-centered) Levene variant — THE precondition check
    * before trusting q_agg_anova's pooled-variance F (heteroscedastic
    * groups inflate its false-positive rate). ONE corpus pass: the
    * quantity domain is bounded (~50 integers), so the stream folds to
    * the (flag, quantity) count grid and both the exact group medians
    * (cumulative-count interpolation, percentile-identical) and the
    * q_agg_anova deviation machinery run on the grid. Quantities are
    * integers, medians are .0/.5, so deviations are exact multiples of
    * 0.5 — DECIMAL(9,1)/(18,2) sums stay exact on both engines; the
    * F readout mirrors anova's 8-dp term rounding and shares its
    * structure verbatim. F crit at (2, ∞) 0.05 = 3.0. */
  private val aggLevene: Q = (s, dir) => {
    // r20 bounded-domain contraction (the gmean/spearman grid device,
    // §2.3): l_quantity is a ~50-value integer domain, so the corpus
    // folds to the (grp, x) count grid in ONE map-side-combined pass,
    // and BOTH former corpus passes — the `percentile` median (which
    // buffered every group's values in executor memory: the §5 cost
    // the r19 cadence/fertility rewrites removed elsewhere) and the
    // deviation aggregate — become metadata-sized grid work.
    // Median equivalence: percentile(x, 0.5) = a + 0.5·(b − a) with a,
    // b the values at 0-based positions floor/ceil((n−1)/2), recovered
    // here from cumulative grid counts; a and b are small integers, so
    // the interpolation is the identical exact double (odd n: a = b
    // and both forms read a). Deviation equivalence: Σ_rows f(z) =
    // Σ_cells cnt·f(z) exactly — z is a multiple of 0.5 ≤ 50, the
    // decimal products are exact, and only the s1/s2 VALUES (which are
    // unchanged) feed the double readouts below.
    val li = Tables.load(s, dir, "lineitem")
      .select(col("l_returnflag").as("grp"),
        col("l_quantity").cast("double").as("x"))
    val grid = li.groupBy("grp", "x").agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // 3 grid readers: totals, median cells, devs
    val ng = grid.groupBy("grp").agg(sum("cnt").as("n_g"))
    val wCum = Window.partitionBy("grp").orderBy("x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val med = grid.withColumn("cum", sum("cnt").over(wCum))
      .join(broadcast(ng), "grp")
      .withColumn("k1", floor((col("n_g") - 1) / 2) + 1)
      .withColumn("k2", ceil((col("n_g") - 1) / 2) + 1)
      .withColumn("a_val", when(col("cum") >= col("k1"), col("x")))
      .withColumn("b_val", when(col("cum") >= col("k2"), col("x")))
      .groupBy("grp")
      .agg(min("a_val").as("a"), min("b_val").as("b"))
      .select(col("grp"),
        (col("a") + lit(0.5) * (col("b") - col("a"))).as("med"))
    val g = grid.join(broadcast(med), "grp")
      .withColumn("z", abs(col("x") - col("med")))
      .groupBy("grp")
      .agg(sum("cnt").as("n_g"),
        sum(col("z").cast("decimal(9,1)") *
          col("cnt").cast("decimal(19,0)")).as("s1"),
        sum((col("z") * col("z")).cast("decimal(18,2)") *
          col("cnt").cast("decimal(19,0)")).as("s2"))
    val tot = g.agg(count(lit(1)).as("k"), sum("n_g").as("n"),
      sum("s1").as("s"))
    val terms = g.crossJoin(broadcast(tot))
      .withColumn("m_g", col("s1").cast("double") / col("n_g"))
      .withColumn("m", col("s").cast("double") / col("n"))
      .withColumn("bt", round(col("n_g") * (col("m_g") - col("m")) *
        (col("m_g") - col("m")) / (col("k") - lit(1)), 8)
        .cast("decimal(20,8)"))
      .withColumn("wt", round((col("s2").cast("double") -
        col("n_g") * col("m_g") * col("m_g")) /
        (col("n") - col("k")), 8).cast("decimal(20,8)"))
    terms.groupBy(col("k"), col("n"))
      .agg(sum("bt").as("msb_d"), sum("wt").as("msw_d"))
      .select(col("k"), col("n").cast("long").as("n"),
        round(col("msb_d").cast("double"), 4).as("msb"),
        round(col("msw_d").cast("double"), 4).as("msw"),
        round(col("msb_d").cast("double") /
          col("msw_d").cast("double"), 4).as("f_bf"),
        when(round(col("msb_d").cast("double") /
          col("msw_d").cast("double"), 4) > 3.0, 1)
          .otherwise(0).as("heteroscedastic"))
  }

  /** q_agg_friedman — Friedman blocked rank test: do event types
    * differ in typical value consistently ACROSS day-of-week blocks?
    * The repeated-measures complement to q_agg_kruskal — kruskal
    * pools all rows, friedman ranks WITHIN each block, removing the
    * block effect (weekend level shifts can't fake a type effect).
    * The corpus contracts to the 7×|types| cell-mean grid in one
    * pass; ranks are a grid-side window (rank by the 8-dp decimal
    * mean — an exact, engine-identical sort key — with the type name
    * as the pinned deterministic tiebreak, documented: mid-rank tie
    * handling is not implemented because 8-dp mean collisions do not
    * occur on this data); χ²_F = 12·ΣR²/(n·k·(k+1)) − 3n(k+1) is
    * integer arithmetic up to ONE final division. χ²(k−1=4) crit
    * 9.488. */
  private val aggFriedman: Q = (s, dir) => {
    val cells = Tables.load(s, dir, "events")
      .groupBy(expr("dayofweek(ts)").as("dow"),
        col("event_type").as("typ"))
      .agg(count(lit(1)).as("c"),
        sum(col("value").cast("decimal(18,2)")).as("sv"))
      .withColumn("mean_v",
        round(col("sv").cast("double") / col("c"), 8)
          .cast("decimal(20,8)"))
    val wBlock = Window.partitionBy("dow")
      .orderBy(col("mean_v"), col("typ"))
    val ranked = cells.withColumn("r", row_number().over(wBlock))
    val rsums = ranked.groupBy("typ")
      .agg(sum(col("r").cast("long")).as("rj"),
        count(lit(1)).as("n_b"))
    rsums.agg(count(lit(1)).as("k"), max("n_b").as("n"),
      sum(col("rj") * col("rj")).as("r2"))
      .select(col("n").cast("long").as("n_blocks"),
        col("k").cast("long").as("k"),
        round(lit(12.0) * col("r2") /
          (col("n") * col("k") * (col("k") + 1)) -
          lit(3.0) * col("n") * (col("k") + 1), 4).as("chi2_f"),
        (col("k") - 1).cast("long").as("df"),
        when(lit(12.0) * col("r2") /
          (col("n") * col("k") * (col("k") + 1)) -
          lit(3.0) * col("n") * (col("k") + 1) > 9.488, 1)
          .otherwise(0).as("significant"))
  }

  /** q_agg_tukey — Tukey HSD post-hoc pairwise comparison across
    * return flags on quantity: which SPECIFIC group pairs differ,
    * after q_agg_anova's omnibus F says "some do" — running pairwise
    * t-tests instead inflates the family-wise error (3 pairs at α=0.05
    * ≈ 14% false-positive family rate); the studentized-range q
    * statistic is the standard correction. Everything derives from
    * ONE per-group (n, Σx, Σx²) decimal contraction: MSW via the
    * q_agg_anova 8-dp-rounded fold, then the 3-row pair grid
    * (self-join of the 3-row group table — broadcast-sized) computes
    * q = |m_i − m_j| / √(MSW/2 · (1/n_i + 1/n_j)) in one shared
    * closed form. q crit (k=3, df=∞, α=0.05) = 3.314. */
  private val aggTukey: Q = (s, dir) => {
    val q = "CAST(l_quantity AS DECIMAL(9,0))"
    val g = Tables.load(s, dir, "lineitem")
      .groupBy(col("l_returnflag").as("grp"))
      .agg(count(lit(1)).as("n_g"),
        expr(s"sum($q)").as("s1"),
        expr(s"sum($q * $q)").as("s2"))
      .withColumn("m_g", col("s1").cast("double") / col("n_g"))
    val tot = g.agg(count(lit(1)).as("k"), sum("n_g").as("n"))
    val msw = g.crossJoin(broadcast(tot))
      .select(round((col("s2").cast("double") -
        col("n_g") * col("m_g") * col("m_g")) /
        (col("n") - col("k")), 8).cast("decimal(20,8)").as("wt"))
      .agg(sum("wt").as("msw_d"))
    val a = g.select(col("grp").as("grp_a"), col("n_g").as("n_a"),
      col("m_g").as("m_a"))
    val b = g.select(col("grp").as("grp_b"), col("n_g").as("n_b"),
      col("m_g").as("m_b"))
    val qStat = abs(col("m_a") - col("m_b")) /
      sqrt(col("msw_d").cast("double") / 2.0 *
        (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
    a.join(b, col("grp_a") < col("grp_b"))
      .crossJoin(broadcast(msw))
      .select(col("grp_a"), col("grp_b"),
        round(col("m_a"), 4).as("mean_a"),
        round(col("m_b"), 4).as("mean_b"),
        round(col("m_a") - col("m_b"), 4).as("diff"),
        round(qStat, 4).as("q_stat"),
        when(qStat > 3.314, 1).otherwise(0).as("significant"))
      .orderBy("grp_a", "grp_b")
  }

  /** q_agg_auc — exact ROC AUC of "event value predicts a purchase"
    * via the rank formulation AUC = (ΣR₊ − n₊(n₊+1)/2)/(n₊·n₋) with
    * mid-ranks (ties counted half) — THE threshold-free classifier
    * metric, sitting beside q_agg_logloss (calibration) and
    * q_agg_brier (decomposition) in the eval family; identical to the
    * Mann–Whitney U normalization, so it rides q_agg_mannwhitney's
    * value-grid machinery verbatim: the corpus contracts to
    * per-distinct-value (pos, neg) counts, doubled mid-ranks come
    * from ONE cumulative grid window, everything is integer-exact
    * until the single AUC division. Gini = 2·AUC − 1 rides along. */
  private val aggAuc: Q = (s, dir) => {
    // value IS NOT NULL on BOTH engines: a null score carries no rank
    // information for a ranking metric, and the engines disagree on
    // where an ORDER BY places a null group (Spark nulls-first vs
    // DuckDB nulls-last) — filtering is the one convention that cannot
    // diverge (ADVICE r14)
    val grid = Tables.load(s, dir, "events")
      .filter(col("value").isNotNull)
      .groupBy(col("value").as("v"))
      .agg(count(when(col("event_type") === "purchase", 1))
        .cast("decimal(38,0)").as("cp"),
        count(when(col("event_type") =!= "purchase", 1))
          .cast("decimal(38,0)").as("cn"))
    // distributed prefix sum over the score grid (PrefixSweep — no
    // single-partition window; grid keys distinct ⇒ total order)
    val r = graft.ops.PrefixSweep.sweep(
        grid.withColumn("cnt", col("cp") + col("cn")), Seq(col("v")),
        runSums = Seq((col("cnt"), "cum")))
      .withColumn("r2", lit(2) * col("cum") - col("cnt") + 1)
    r.agg(sum("cp").as("np"), sum("cn").as("nneg"),
      sum(col("cp") * col("r2")).as("r2p"))
      .select(col("np").cast("long").as("n_pos"),
        col("nneg").cast("long").as("n_neg"),
        round((col("r2p").cast("double") -
          col("np").cast("double") * (col("np").cast("double") + 1.0)) /
          2.0 / (col("np").cast("double") * col("nneg").cast("double")),
          6).as("auc"),
        round((col("r2p").cast("double") -
          col("np").cast("double") * (col("np").cast("double") + 1.0)) /
          (col("np").cast("double") * col("nneg").cast("double")) -
          lit(1.0), 6).as("gini"))
  }

  /** q_agg_mcc — binary-classification confusion panel between the
    * recorded order state (actual = status 'F') and a fixed
    * price-threshold rater (predicted = total > 150 000): tp/fp/fn/tn
    * plus precision, recall, F1, and the Matthews correlation — the
    * 2×2 twin of q_agg_cohen_kappa (κ chance-corrects agreement; MCC
    * is the balanced correlation that survives class skew, the metric
    * to trust when positives are rare). Four integers leave the
    * corpus; MCC's four marginal factors multiply as doubles (each ≤
    * corpus size — exact; the product would overflow BIGINT, which is
    * why the cast happens per factor); try_divide guards every
    * data-derived denominator (§7.5.12) — a degenerate rater yields
    * NULL metrics on both engines, not a crash. */
  private val aggMcc: Q = (s, dir) => {
    val c = Tables.load(s, dir, "orders")
      .select((col("o_orderstatus") === "F").as("act"),
        (col("o_totalprice") > 150000.0).as("pred"))
      .agg(count(when(col("act") && col("pred"), 1)).as("tp"),
        count(when(!col("act") && col("pred"), 1)).as("fp"),
        count(when(col("act") && !col("pred"), 1)).as("fn"),
        count(when(!col("act") && !col("pred"), 1)).as("tn"))
    val p = expr("try_divide(CAST(tp AS DOUBLE), CAST(tp + fp AS DOUBLE))")
    val rc = expr("try_divide(CAST(tp AS DOUBLE), CAST(tp + fn AS DOUBLE))")
    c.select(col("tp").cast("long").as("tp"),
        col("fp").cast("long").as("fp"),
        col("fn").cast("long").as("fn"),
        col("tn").cast("long").as("tn"),
        round(p, 6).as("precision"),
        round(rc, 6).as("recall"),
        round(expr("try_divide(2.0 * " +
          "try_divide(CAST(tp AS DOUBLE), CAST(tp + fp AS DOUBLE)) * " +
          "try_divide(CAST(tp AS DOUBLE), CAST(tp + fn AS DOUBLE)), " +
          "try_divide(CAST(tp AS DOUBLE), CAST(tp + fp AS DOUBLE)) + " +
          "try_divide(CAST(tp AS DOUBLE), CAST(tp + fn AS DOUBLE)))"), 6)
          .as("f1"),
        round(expr("""try_divide(
            CAST(tp AS DOUBLE) * CAST(tn AS DOUBLE)
              - CAST(fp AS DOUBLE) * CAST(fn AS DOUBLE),
            sqrt(CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE)
              * CAST(tn + fp AS DOUBLE) * CAST(tn + fn AS DOUBLE)))"""), 6)
          .as("mcc"))
  }

  /** q_agg_odds_ratio — 2×2 odds ratio with a Wald 95% CI between the
    * recorded order state (actual = status 'F') and the fixed
    * price-threshold rater (exposed = total > 150 000) — q_agg_mcc's
    * cells read as the epidemiology/experimentation effect measure:
    * OR = ad/bc with a MULTIPLICATIVE confidence band exp(ln OR ±
    * 1.96·SE), SE = √(1/a+1/b+1/c+1/d), plus the "CI excludes 1"
    * significance verdict — what MCC (a correlation) and χ² (a
    * p-value) cannot give: an interpretable effect SIZE with
    * uncertainty. Four integers leave the corpus; per-factor double
    * casts (the mcc product-overflow rule); ln/exp only inside
    * 6-dp-rounded readouts; try_divide + the all-cells-positive CASE
    * guard make a degenerate table yield NULLs identically on both
    * engines, not a crash. */
  private val aggOddsRatio: Q = (s, dir) => {
    val c = Tables.load(s, dir, "orders")
      .select((col("o_orderstatus") === "F").as("act"),
        (col("o_totalprice") > 150000.0).as("exp_"))
      .agg(count(when(col("act") && col("exp_"), 1)).as("a"),
        count(when(!col("act") && col("exp_"), 1)).as("b"),
        count(when(col("act") && !col("exp_"), 1)).as("c"),
        count(when(!col("act") && !col("exp_"), 1)).as("d"))
    val ok = col("a") > 0 && col("b") > 0 && col("c") > 0 && col("d") > 0
    val lnOr = log(col("a").cast("double") * col("d").cast("double") /
      (col("b").cast("double") * col("c").cast("double")))
    val se = sqrt(lit(1.0) / col("a") + lit(1.0) / col("b") +
      lit(1.0) / col("c") + lit(1.0) / col("d"))
    c.select(col("a").cast("long").as("a"),
        col("b").cast("long").as("b"),
        col("c").cast("long").as("c"),
        col("d").cast("long").as("d"),
        round(when(ok, col("a").cast("double") * col("d").cast("double") /
          (col("b").cast("double") * col("c").cast("double"))), 6)
          .as("odds_ratio"),
        round(when(ok, exp(lnOr - lit(1.96) * se)), 6).as("ci_lo"),
        round(when(ok, exp(lnOr + lit(1.96) * se)), 6).as("ci_hi"),
        when(ok && (exp(lnOr - lit(1.96) * se) > 1.0 ||
          exp(lnOr + lit(1.96) * se) < 1.0), 1).otherwise(0)
          .as("significant"))
  }

  /** q_agg_trimmed_mean — 10%-per-side trimmed mean of quantity per
    * return flag, EXACTLY, from the value grid: the robust location
    * estimate between the mean (outlier-fragile) and the median
    * (throws away 98% of the data). Trim counts are integer by the
    * pinned convention lo = n DIV 10 per side (documented — not the
    * fractional-weight variant); each grid row contributes
    * `clamp(cum ∩ [lo, hi])` of its count, so the whole computation
    * is integer/decimal-exact until ONE division by the kept count —
    * no corpus sort, no percentile buffer, just the kruskal grid
    * machinery with an interval-overlap readout. */
  private val aggTrimmedMean: Q = (s, dir) => {
    val grid = Tables.load(s, dir, "lineitem")
      .groupBy(col("l_returnflag").as("grp"),
        col("l_quantity").cast("long").as("v"))
      .agg(count(lit(1)).as("cnt"))
    val wq = Window.partitionBy("grp").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wg = Window.partitionBy("grp")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    grid.withColumn("cum", sum("cnt").over(wq))
      .withColumn("n", sum("cnt").over(wg))
      .withColumn("lo", expr("n DIV 10"))
      .withColumn("hi", col("n") - col("lo"))
      .withColumn("cnt_in",
        greatest(lit(0L), least(col("cum"), col("hi")) -
          greatest(col("cum") - col("cnt"), col("lo"))))
      .groupBy(col("grp"), col("n"), (col("hi") - col("lo")).as("n_kept"))
      .agg(sum(col("v").cast("decimal(38,0)") * col("cnt")).as("s_all"),
        sum(col("v").cast("decimal(38,0)") * col("cnt_in")).as("s_in"))
      .select(col("grp"), col("n").cast("long").as("n"),
        col("n_kept").cast("long").as("n_kept"),
        round(col("s_all").cast("double") / col("n"), 4).as("mean"),
        round(col("s_in").cast("double") / col("n_kept"), 4)
          .as("trimmed_mean"))
      .orderBy("grp")
  }

  /** q_agg_hodges_lehmann — Hodges–Lehmann shift estimate between
    * return flags A and R on quantity: the MEDIAN OF ALL PAIRWISE
    * DIFFERENCES x_A − x_R — the robust effect-size companion to
    * q_agg_mannwhitney (U says "groups differ"; HL says "by how
    * much", immune to outliers where the mean difference is not).
    * The n_A·n_R pair space never materializes: both groups contract
    * to ~50-row value grids, the difference DISTRIBUTION is the
    * 50×50 grid cross (weights multiply — broadcast-sized), and the
    * weighted median over ~99 distinct differences uses
    * q_agg_weighted_median's lower-median convention (first d where
    * 2·cum ≥ total). Integer throughout; n_pairs is decimal(38)
    * products folded exactly. */
  private val aggHodgesLehmann: Q = (s, dir) => {
    val li = Tables.load(s, dir, "lineitem")
    def grid(flag: String, vc: String, cc: String): DataFrame =
      li.filter(col("l_returnflag") === flag)
        .groupBy(col("l_quantity").cast("long").as(vc))
        .agg(count(lit(1)).cast("decimal(38,0)").as(cc))
    val diffs = grid("A", "va", "ca").crossJoin(grid("R", "vr", "cr"))
      .groupBy((col("va") - col("vr")).as("d"))
      .agg(sum(col("ca") * col("cr")).as("wgt"))
    // distributed prefix sum over the difference grid (PrefixSweep);
    // total via a 1-row broadcast; "first d where 2·cum ≥ total" is
    // simply min(d) over the qualifying rows — no window at all for
    // the median pick
    val tot = diffs.agg(sum("wgt").as("tot"))
    graft.ops.PrefixSweep.sweep(diffs, Seq(col("d")),
        runSums = Seq((col("wgt"), "cum")))
      .crossJoin(broadcast(tot))
      .filter(col("cum") * 2 >= col("tot"))
      .agg(max("tot").as("tot_a"), min("d").as("d_a"))
      .select(col("tot_a").cast("long").as("n_pairs"),
        col("d_a").cast("double").as("hl_shift"))
  }

  /** q_agg_fleiss_kappa — Fleiss' κ across THREE deterministic raters
    * (fixed price bands; order-priority class; order-month % 3) each
    * assigning every order one of 3 categories — the multi-rater
    * generalization of q_agg_cohen_kappa, THE agreement statistic for
    * annotation pipelines with >2 labelers. Dataflow: the 3 rater
    * verdicts explode to (order, category) rows, contract to per-item
    * category counts n_ij, and the whole statistic needs only TWO
    * integers off the corpus — Σᵢⱼ n²ᵢⱼ and the N·n grid of category
    * totals: P̄ = (Σn² − N·n)/(N·n·(n−1)) is one division, P̄ₑ = Σ p²ⱼ
    * folds 3 squared shares as 8-dp decimals (logloss rule), κ one
    * shared closed form. 1 − P̄ₑ ≥ 2/3 for 3 categories, so the
    * division is ANSI-safe by construction. */
  private val aggFleissKappa: Q = (s, dir) => {
    val rated = Tables.load(s, dir, "orders")
      .select(col("o_orderkey").as("item"),
        explode(array(
          when(col("o_totalprice") < 100000.0, 0)
            .when(col("o_totalprice") < 200000.0, 1).otherwise(2),
          when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0)
            .when(col("o_orderpriority") === "3-MEDIUM", 1).otherwise(2),
          (month(col("o_orderdate")) % 3).cast("int"))).as("cat"))
    val cells = rated.groupBy("item", "cat")
      .agg(count(lit(1)).as("nij"))
    val itemsN = cells.groupBy("item")
      .agg(sum(col("nij") * col("nij")).as("sq"))
      .agg(count(lit(1)).as("n_items"), sum("sq").as("s2"))
    val pj = cells.groupBy("cat").agg(sum("nij").as("cj"))
    val pe = pj.crossJoin(broadcast(itemsN.select(col("n_items")
        .as("ni2"))))
      .select(round((col("cj").cast("double") /
        (col("ni2") * 3)) * (col("cj").cast("double") /
        (col("ni2") * 3)), 8).cast("decimal(20,8)").as("pj2"))
      .agg(sum("pj2").as("pe_d"))
    itemsN.crossJoin(broadcast(pe))
      .withColumn("p_bar",
        (col("s2").cast("double") - col("n_items") * 3) /
          (col("n_items").cast("double") * 3 * 2))
      .withColumn("p_e", col("pe_d").cast("double"))
      .select(col("n_items").cast("long").as("n_items"),
        round(col("p_bar"), 6).as("p_bar"),
        round(col("p_e"), 6).as("p_e"),
        round((col("p_bar") - col("p_e")) / (lit(1.0) - col("p_e")), 6)
          .as("kappa"))
  }

  /** q_agg_permutation — cluster-randomized permutation test of the
    * user-parity A/B arm difference in mean event value: the
    * distribution-free p-value that q_agg_ab_ztest's normal
    * approximation only approximates, exact under relabeling. The
    * permutations are DETERMINISTIC pseudo-relabelings (q_agg_bootstrap
    * discipline): replicate b relabels USER u to arm sha(u‖b) % 2 —
    * user-level, because randomization was user-level (event-level
    * shuffling would fake independence inside a user). Scale shape:
    * the corpus contracts ONCE to per-user decimal (Σvalue, n); the
    * ×64 replicate explode runs on that user-grid (users × 64 rows,
    * corpus-independent); each replicate's arm-mean difference is a
    * closed form off decimal sums and the p-value counts replicates
    * at least as extreme as observed (both sides compare identically
    * computed doubles). */
  private val aggPermutation: Q = (s, dir) => {
    val reps = 64
    // null users are excluded: they were never assigned an arm, and a
    // third "null arm" would corrupt the two-sample difference
    val perUser = Tables.load(s, dir, "events")
      .filter(col("user_id").isNotNull)
      .groupBy(col("user_id").as("u"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("sv"),
        count(lit(1)).as("cnt"))
      .localCheckpoint()
    val obs = perUser
      .withColumn("arm", (col("u") % 2).cast("int"))
      .groupBy("arm")
      .agg(sum("sv").as("s"), sum("cnt").as("c"))
      .agg(round(
        (sum(when(col("arm") === 0, col("s"))).cast("double") /
          sum(when(col("arm") === 0, col("c")))) -
        (sum(when(col("arm") === 1, col("s"))).cast("double") /
          sum(when(col("arm") === 1, col("c")))), 8).as("obs_diff"),
        sum("c").cast("long").as("n_events"))
    val repDiffs = perUser
      .withColumn("b", explode(sequence(lit(0), lit(reps - 1))))
      .withColumn("arm",
        (conv(substring(sha2(concat(col("u").cast("string"), lit(":"),
          col("b").cast("string")), 256), 1, 7), 16, 10).cast("long") % 2)
          .cast("int"))
      .groupBy("b", "arm")
      .agg(sum("sv").as("s"), sum("cnt").as("c"))
      .groupBy("b")
      .agg(round(
        (sum(when(col("arm") === 0, col("s"))).cast("double") /
          sum(when(col("arm") === 0, col("c")))) -
        (sum(when(col("arm") === 1, col("s"))).cast("double") /
          sum(when(col("arm") === 1, col("c")))), 8).as("d"))
    repDiffs.crossJoin(broadcast(obs))
      .agg(max(col("n_events")).as("n_events"),
        count(lit(1)).as("b_reps"),
        max(col("obs_diff")).as("od"),
        sum(when(abs(col("d")) >= abs(col("obs_diff")), 1L)
          .otherwise(0L)).as("n_extreme"))
      .select(col("n_events"),
        col("b_reps").cast("long").as("b_reps"),
        round(col("od"), 4).as("obs_diff"),
        col("n_extreme").cast("long").as("n_extreme"),
        round(col("n_extreme").cast("double") / col("b_reps"), 4)
          .as("p_value"))
  }

  /** q_agg_bimodality — Sarle's bimodality coefficient per return
    * flag: b = (g₁² + 1) / (g₂ + 3(n−1)²/((n−2)(n−3))), flagged
    * against the 5/9 uniform benchmark — the "is this one population
    * or two" screen q_agg_moments stops short of (a mean and variance
    * describe a mixture of two tight modes as one wide blob; b > 5/9
    * says the histogram q_agg_histogram draws will show two humps —
    * the signature of a mixed data source that should be split before
    * any per-group model). Exactness: the §7.5.2 decimal power-sum
    * discipline extended to FOURTH moments (2-dp inputs ⇒ 8-dp
    * quartics, exact in decimal(38,8)); g₁, g₂, and b are shared
    * closed-form doubles off those sums, rounded once. One two-phase
    * aggregate; four decimal columns per group is the shuffle. */
  private val aggBimodality: Q = (s, dir) => {
    // (8,2) so the quartic product stays inside precision 38 on BOTH
    // engines: (8,2)^4 = (35,8) Spark / (32,8) DuckDB — exact either way
    val q = "CAST(l_quantity AS DECIMAL(8,2))"
    val g = Tables.load(s, dir, "lineitem")
      .groupBy(col("l_returnflag").as("flag"))
      .agg(count(lit(1)).as("n"),
        expr(s"CAST(sum($q) AS DOUBLE)").as("s1"),
        expr(s"CAST(sum($q * $q) AS DOUBLE)").as("s2"),
        expr(s"CAST(sum($q * $q * $q) AS DOUBLE)").as("s3"),
        expr(s"CAST(sum($q * $q * $q * $q) AS DOUBLE)").as("s4"))
    val m = col("s1") / col("n")
    val m2 = col("s2") / col("n") - m * m
    val m3 = col("s3") / col("n") - lit(3) * m * (col("s2") / col("n")) +
      lit(2) * m * m * m
    val m4 = col("s4") / col("n") - lit(4) * m * (col("s3") / col("n")) +
      lit(6) * m * m * (col("s2") / col("n")) - lit(3) * m * m * m * m
    val g1 = m3 / pow(m2, 1.5)
    val g2 = m4 / (m2 * m2) - lit(3.0)
    val nd = col("n").cast("double")
    val corr = lit(3.0) * (nd - 1) * (nd - 1) / ((nd - 2) * (nd - 3))
    g.select(col("flag"), col("n"),
        // + 0.0: signed-zero normalization (§7.5.20, the sf0.001 class)
        (round(g1, 4) + lit(0.0)).as("skew"),
        (round(g2, 4) + lit(0.0)).as("exkurt"),
        round((g1 * g1 + 1) / (g2 + corr), 4).as("b_coef"),
        when(round((g1 * g1 + 1) / (g2 + corr), 4) > 5.0 / 9.0, 1)
          .otherwise(0).as("bimodal"))
      .orderBy(col("flag").asc_nulls_first)
  }

  /** q_agg_dispersion — index-of-dispersion test on daily event counts
    * per type: D = var/mean of the daily series, χ² = (n−1)·D, and the
    * normal-approximation z = (D−1)·√((n−1)/2) with the ±1.96 verdict —
    * the "is arrival Poisson" gate under every rate model (D ≈ 1:
    * Poisson; D ≫ 1: bursty/clumped arrivals — retries, bots, batch
    * replays; D ≪ 1: rate-limited/scheduled). q_evt_interarrival looks
    * at gaps; this looks at per-day count variance — the two catch
    * different failure modes. Exactness: daily counts are integers, so
    * Σy and Σy² are exact decimals; D, χ², z are one shared closed
    * form. Scale: one corpus contraction to the daily grid; everything
    * after is types-sized. */
  private val aggDispersion: Q = (s, dir) => {
    val daily = Tables.load(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("y"))
    val g = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("y").cast("decimal(38,0)")).as("s1"),
        sum((col("y") * col("y")).cast("decimal(38,0)")).as("s2"))
    val nd = col("n").cast("double")
    val mean = col("s1").cast("double") / nd
    val vr = (col("s2").cast("double") -
      nd * mean * mean) / (nd - 1)
    val d = vr / mean
    val z = (d - 1) * sqrt((nd - 1) / 2.0)
    g.select(col("event_type"), col("n").cast("long").as("n_days"),
        round(mean, 4).as("mean_daily"),
        round(d, 4).as("dispersion"),
        round((nd - 1) * d, 4).as("chi2"),
        round(z, 4).as("z"),
        when(round(z, 4) > 1.96, "overdispersed")
          .when(round(z, 4) < -1.96, "underdispersed")
          .otherwise("poisson_consistent").as("verdict"))
      .orderBy(col("event_type").asc_nulls_first)
  }

  /** q_agg_fdr_bh — Benjamini–Hochberg multiple-testing control over
    * the per-type battery "does this event type's mean value differ
    * from the rest" (Welch z per type off one contraction): running k
    * marginal tests at α each inflates false discoveries k-fold — BH
    * is the step-up that caps the EXPECTED false-discovery RATE at q,
    * the correction every per-segment metric scan should apply before
    * paging anyone (q_agg_ab_ztest tests ONE split; this disciplines
    * k of them). The p-values are the Chernoff tail bound
    * exp(−z²/2) ≥ 2(1−Φ(|z|)) — conservative by construction (a BH
    * pass on bounds only under-rejects), engine-exact (one libm exp,
    * 8-dp-rounded — the logloss rule), and pluggable: the OPERATOR is
    * the step-up machinery (rank by p, threshold i·q/m, reject up to
    * the largest qualifying rank). Exactness: decimal sums, one
    * shared closed form per z; ranks sort the 8-dp p with the type
    * name as pinned tiebreak; the step-up maximum broadcasts back —
    * no unpartitioned window. */
  private val aggFdrBh: Q = (s, dir) => {
    val g = Tables.load(s, dir, "events")
      .filter(col("value").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("s1"),
        sum((col("value").cast("decimal(18,2)") *
          col("value").cast("decimal(18,2)"))).as("s2"))
    val tot = g.agg(sum("n").as("tn"), sum("s1").as("ts1"),
      sum("s2").as("ts2"), count(lit(1)).as("m"))
    val nd = col("n").cast("double")
    val rn = (col("tn") - col("n")).cast("double")
    val mt = col("s1").cast("double") / nd
    val mr = (col("ts1") - col("s1")).cast("double") / rn
    val vt = (col("s2").cast("double") - nd * mt * mt) / (nd - 1)
    val vrr = ((col("ts2") - col("s2")).cast("double") - rn * mr * mr) /
      (rn - 1)
    val z = (mt - mr) / sqrt(vt / nd + vrr / rn)
    val scored = g.crossJoin(broadcast(tot))
      .withColumn("z", round(z, 4))
      .withColumn("p_bound",
        round(least(exp(lit(-1.0) * col("z") * col("z") / 2.0),
          lit(1.0)), 8))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("m")
          .orderBy(col("p_bound"), col("event_type").asc_nulls_first)))
      .withColumn("bh_thr",
        round(col("rnk").cast("double") * 0.10 / col("m"), 8))
      .localCheckpoint()
    val cutoff = scored
      .agg(coalesce(max(when(col("p_bound") <= col("bh_thr"),
        col("rnk"))), lit(0)).as("i_max"))
    scored.crossJoin(broadcast(cutoff))
      .select(col("event_type"), col("n").cast("long").as("n"),
        col("z"), col("p_bound"), col("rnk").cast("long").as("rnk"),
        col("bh_thr"),
        when(col("rnk") <= col("i_max"), 1).otherwise(0)
          .as("discovery"))
      .orderBy("rnk")
  }

  /** q_agg_gmean — Pythagorean-mean profile per return flag:
    * arithmetic, geometric, and harmonic means of quantity plus the
    * AM ≥ GM ≥ HM sanity verdict — the mean that matches the
    * question: AM for totals, GM for multiplicative quantities
    * (growth factors, ratios — the mean that doesn't let one 100×
    * outlier own the answer), HM for rates (items per order averaged
    * the way throughput actually composes). Exactness: the theil
    * nested-fold rule — each ln x and 1/x term is 8-dp-rounded ONCE
    * per row then accumulates as an exact decimal, so the fold is
    * merge-order-free; exp and the divisions run once per group in
    * the rounded readout. One two-phase aggregate. */
  private val aggGmean: Q = (s, dir) => {
    // contraction (the q_agg_spearman device): l_quantity is a bounded
    // ~50-value domain, so the stream folds to a (flag, quantity) count
    // grid first (codegen'd long count, map-side combining) and the
    // decimal casts + 8-dp BigDecimal rounds run once per DISTINCT
    // quantity (~150 cells) instead of once per row. Σ round(ln q, 8)
    // over rows ≡ Σ round(ln q, 8)·cnt over cells — decimal products
    // and sums are exact (cnt as DECIMAL(12,0) keeps every product at
    // precision ≤ 33, no scale loss; one cell outgrows 10¹² rows only
    // past ~10 PB per quantity value), so the group sums, and every
    // readout double, are bit-identical to the per-row fold.
    val grid = Tables.load(s, dir, "lineitem")
      .groupBy(col("l_returnflag").as("flag"), col("l_quantity").as("qv"))
      .agg(count(lit(1)).as("cnt"))
    val g = grid
      .select(col("flag"),
        col("cnt"), col("cnt").cast("decimal(12,0)").as("cntd"),
        col("qv").cast("decimal(18,2)").as("q"),
        round(log(col("qv").cast("double")), 8)
          .cast("decimal(20,8)").as("lq"),
        round(lit(1.0) / col("qv").cast("double"), 8)
          .cast("decimal(20,8)").as("iq"))
      .groupBy("flag")
      .agg(sum("cnt").as("n"), sum(col("q") * col("cntd")).as("sq"),
        sum(col("lq") * col("cntd")).as("slq"),
        sum(col("iq") * col("cntd")).as("siq"))
      .select(col("flag"), col("n"),
        round(col("sq").cast("double") / col("n"), 4).as("amean"),
        round(exp(col("slq").cast("double") / col("n")), 4).as("gmean"),
        round(col("n").cast("double") / col("siq").cast("double"), 4)
          .as("hmean"))
    g.select(col("flag"), col("n"), col("amean"), col("gmean"),
        col("hmean"),
        when(col("amean") >= col("gmean") &&
          col("gmean") >= col("hmean"), 1).otherwise(0)
          .as("am_gm_hm_ok"))
      .orderBy(col("flag").asc_nulls_first)
  }

  /** q_agg_welch_anova — Welch's heteroscedastic one-way ANOVA across
    * ship months: the test to run when q_agg_levene REJECTS equal
    * variances and classic q_agg_anova's pooled mean square is no
    * longer valid (unequal group variances + unequal sizes make
    * classic F anti-conservative exactly when the small groups are the
    * noisy ones). Per-group weights w = n/s², variance-weighted grand
    * mean, F_W = A/B with the Welch correction and Satterthwaite df₂.
    * Exactness: per-group (n, Σx, Σx²) decimal triples; every
    * group-level term (w, w·x̄, A- and B-terms) is 8-dp-rounded once
    * and summed as a decimal (the anova bt/wt discipline — the grid
    * fold is merge-order-free); F and df₂ are shared closed-form
    * doubles. Scale: one corpus aggregate; everything after is the
    * 12-row grid. */
  private val aggWelchAnova: Q = (s, dir) => {
    val q = "CAST(l_quantity AS DECIMAL(9,0))"
    val g = Tables.load(s, dir, "lineitem")
      .groupBy(month(col("l_shipdate")).as("grp"))
      .agg(count(lit(1)).as("n_g"),
        expr(s"sum($q)").as("s1"),
        expr(s"sum($q * $q)").as("s2"))
      .withColumn("mean_g", col("s1").cast("double") / col("n_g"))
      .withColumn("var_g", (col("s2").cast("double") -
        col("n_g") * col("mean_g") * col("mean_g")) /
        (col("n_g") - lit(1)))
      .withColumn("w8",
        round(col("n_g").cast("double") / col("var_g"), 8)
          .cast("decimal(20,8)"))
      .withColumn("wm8",
        round((col("n_g").cast("double") / col("var_g")) *
          col("mean_g"), 8).cast("decimal(20,8)"))
      .localCheckpoint()
    val tot = g.agg(count(lit(1)).as("k"), sum("w8").as("bw"),
      sum("wm8").as("bwm"))
    val t2 = g.crossJoin(broadcast(tot))
      .withColumn("mhat",
        col("bwm").cast("double") / col("bw").cast("double"))
      .withColumn("aterm", round(col("w8").cast("double") *
        (col("mean_g") - col("mhat")) * (col("mean_g") - col("mhat")),
        8).cast("decimal(20,8)"))
      .withColumn("bterm", round(
        (lit(1.0) - col("w8").cast("double") /
          col("bw").cast("double")) *
        (lit(1.0) - col("w8").cast("double") /
          col("bw").cast("double")) /
        (col("n_g") - lit(1)).cast("double"), 8)
        .cast("decimal(20,8)"))
    val fw = (col("sa").cast("double") /
      (col("k") - lit(1)).cast("double")) /
      (lit(1.0) + lit(2.0) * (col("k") - lit(2)).cast("double") /
        (col("k") * col("k") - lit(1)).cast("double") *
        col("sb").cast("double"))
    t2.groupBy("k")
      .agg(sum("aterm").as("sa"), sum("bterm").as("sb"))
      .select(col("k").cast("long").as("k"),
        round(fw, 4).as("f_welch"),
        round((col("k") * col("k") - lit(1)).cast("double") /
          (lit(3.0) * col("sb").cast("double")), 4).as("df2"),
        when(round(fw, 4) > 1.79, 1).otherwise(0).as("reject"))
  }

  /** q_agg_ttest_paired — paired t-test of per-user mean event value,
    * first half vs second half of the observation window (the halves
    * derive from the data's own span — no calendar literal): the
    * WITHIN-subject experiment readout q_agg_ttest can't give
    * (independent-samples t on before/after data throws away the
    * pairing and lets between-user variance swamp the shift; the
    * paired form differences it out — same reason q_agg_friedman
    * blocks by day). Exactness: per-user phase means are single
    * divisions off decimal sums, each user's DIFFERENCE is 8-dp
    * rounded once (decimal(18,8) — its square at (37,16) stays inside
    * both engines' precision 38), Σd/Σd² fold exactly, t is one
    * shared closed form. Scale: one per-(user, phase) contraction;
    * everything after is user-count-sized. */
  private val aggTtestPaired: Q = (s, dir) => {
    val ev = Tables.load(s, dir, "events")
      .filter(col("user_id").isNotNull && col("value").isNotNull)
      .withColumn("d", to_date(col("ts")))
    val span = ev.agg(min("d").as("d0"), max("d").as("d1"))
      // floor() explicitly: Spark's cast-to-int truncates but DuckDB's
      // ROUNDS — floor of the double is identical on both
      .select(date_add(col("d0"),
        floor(datediff(col("d1"), col("d0")) / 2).cast("int")).as("mid"))
    val phased = ev.crossJoin(broadcast(span))
      .withColumn("phase", when(col("d") < col("mid"), "a")
        .otherwise("b"))
      .groupBy("user_id", "phase")
      .agg(sum(col("value").cast("decimal(18,2)")).as("sv"),
        count(lit(1)).as("c"))
      .withColumn("m", col("sv").cast("double") / col("c"))
    val a = phased.filter(col("phase") === "a")
      .select(col("user_id"), col("m").as("ma"))
    val b = phased.filter(col("phase") === "b")
      .select(col("user_id"), col("m").as("mb"))
    val diffs = a.join(b, "user_id")
      .select(round(col("ma") - col("mb"), 8).cast("decimal(18,8)")
        .as("dd"))
    diffs.agg(count(lit(1)).as("n"), sum("dd").as("sd"),
        sum(col("dd") * col("dd")).as("sd2"))
      .select(col("n").cast("long").as("n_pairs"),
        round(col("sd").cast("double") / col("n"), 4).as("mean_diff"),
        round((col("sd").cast("double") / col("n")) /
          sqrt(((col("sd2").cast("double") -
            col("n") * (col("sd").cast("double") / col("n")) *
              (col("sd").cast("double") / col("n"))) /
            (col("n") - lit(1))) / col("n")), 4).as("t_paired"),
        when(abs(round((col("sd").cast("double") / col("n")) /
          sqrt(((col("sd2").cast("double") -
            col("n") * (col("sd").cast("double") / col("n")) *
              (col("sd").cast("double") / col("n"))) /
            (col("n") - lit(1))) / col("n")), 4)) > 1.96, 1)
          .otherwise(0).as("significant"))
  }

  /** q_agg_trend_ca — Cochran–Armitage trend test: does the
    * high-value-order RATE rise or fall monotonically across the
    * ORDERED priority classes (1-URGENT … 5-LOW)? The ordered
    * alternative q_agg_chisq's omnibus independence test dilutes —
    * CA spends all its power on the dose-response direction, which is
    * the question when the x-axis has an order (tiers, cohorts,
    * severity bands). Exactness: scores are the priority digits, all
    * five base sums (N, X, Σs·x, Σs·n, Σs²·n) are exact integer
    * decimals off ONE corpus aggregate, z is one shared closed form.
    * */
  private val aggTrendCa: Q = (s, dir) => {
    val g = Tables.load(s, dir, "orders")
      .withColumn("sc", substring(col("o_orderpriority"), 1, 1)
        .cast("decimal(10,0)"))
      .withColumn("hi",
        when(col("o_totalprice") > 150000, 1L).otherwise(0L))
      .agg(count(lit(1)).cast("decimal(38,0)").as("nn"),
        sum("hi").cast("decimal(38,0)").as("x"),
        sum(col("sc") * col("hi")).as("sx"),
        sum(col("sc")).as("sn"),
        sum(col("sc") * col("sc")).as("sn2"))
    val p = col("x").cast("double") / col("nn").cast("double")
    val z = (col("sx").cast("double") -
      p * col("sn").cast("double")) /
      sqrt(p * (lit(1.0) - p) *
        (col("sn2").cast("double") -
          col("sn").cast("double") * col("sn").cast("double") /
            col("nn").cast("double")))
    g.select(col("nn").cast("long").as("n"),
        col("x").cast("long").as("n_high"),
        round(p, 4).as("rate"),
        round(z, 4).as("z"),
        when(round(z, 4) > 1.96, "increasing")
          .when(round(z, 4) < -1.96, "decreasing")
          .otherwise("none").as("trend"))
  }

  /** q_agg_calibration — reliability diagram + expected calibration
    * error for a deterministic pseudo-scorer (score = value/200
    * clamped to [0,1], outcome = is-purchase): per decile bin, mean
    * confidence vs observed rate, and ECE = Σ (n_b/N)·|acc_b −
    * conf_b| — the eval under every "the model says 0.8, is it right
    * 80% of the time" question (q_agg_brier scores sharpness+
    * calibration fused; q_agg_logloss penalizes overconfidence; this
    * LOCATES the miscalibration by bin, which is what you fix).
    * Exactness (§7.5.21 — the r18 tri-SF sweep caught a one-ulp
    * mean_conf row, and the root cause was the PER-ROW
    * round(value/200, 4): Spark rounds the shortest decimal
    * representation of the double while DuckDB rounds its binary
    * value, so the two engines built slightly different confidence
    * multisets that only usually agreed after the mean): the whole
    * chain is restated in int64. value is a 2-dp quantity — casting
    * to DECIMAL(18,2) is exact and engine-identical (no 2-dp double
    * sits near a .005 cast boundary) — so v = value·100 is an exact
    * integer, conf in 1e-4 units is (min(v, 20000) + 1) DIV 2 (the
    * HALF-AWAY device for v/2), the bin is conf_i DIV 1000, and
    * every readout — mean_conf, obs_rate, gap, the 8-dp ECE terms
    * and their 4-dp sum — is a (2·|N| + D) DIV (2·D) fold over
    * integer numerators; signs split off through abs() so integer
    * division never sees a negative operand. The only doubles are
    * the terminal units/1e4 divisions both engines share
    * bit-for-bit. int64 envelope: ece terms carry |N|·10^4 ≤
    * 10^8·n_b, safe to ~9·10^10 rows per bin (documented bound; the
    * events table at 100 TB is ~10^12 rows across 10 bins — move
    * the two products to DECIMAL(38,0) beyond that). One corpus
    * aggregate; everything after is 10 rows. */
  private val aggCalibration: Q = (s, dir) => {
    val ev = Tables.load(s, dir, "events")
      .filter(col("value").isNotNull)
      .withColumn("v",
        (col("value").cast("decimal(18,2)") * 100).cast("long"))
      .withColumn("y",
        when(col("event_type") === "purchase", 1L).otherwise(0L))
    val bins = ev
      .withColumn("conf_i", expr("(least(v, 20000L) + 1) DIV 2"))
      .withColumn("bin",
        least(expr("conf_i DIV 1000"), lit(9)).cast("int"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_b"),
        sum("y").as("x_b"),
        sum("conf_i").as("sci"))
      .localCheckpoint()
    val tot = bins.agg(sum("n_b").as("nn"))
    val terms = bins.crossJoin(broadcast(tot))
      // N = 10^4·x_b − sci is the exact (acc − cf) numerator over the
      // denominator 10^4·n_b; the ECE term is |N|/(10^4·nn) rounded
      // at 8 dp = (2·|N|·10^4 + nn) DIV (2·nn) in 1e-8 units
      .withColumn("ngap", expr("10000 * x_b - sci"))
      .withColumn("t8", expr("(2 * abs(ngap) * 10000 + nn)" +
        " DIV (2 * nn)"))
    val ece = terms.agg(
      (expr("(sum(t8) + 5000) DIV 10000").cast("double") / 1e4)
        .as("ece"))
    terms.crossJoin(broadcast(ece))
      .select(col("bin").cast("long").as("bin"),
        col("n_b").cast("long").as("n_b"),
        (expr("(2 * sci + n_b) DIV (2 * n_b)").cast("double") / 1e4)
          .as("mean_conf"),
        (expr("(2 * x_b * 10000 + n_b) DIV (2 * n_b)").cast("double")
          / 1e4).as("obs_rate"),
        // + 0.0 normalizes −0.0 when |ngap| rounds to zero units
        // (the r18 signed-zero discipline)
        (expr("sign(ngap) * ((2 * abs(ngap) + n_b) DIV (2 * n_b))")
          .cast("double") / 1e4 + lit(0.0)).as("gap"),
        col("ece"))
      .orderBy("bin")
  }

  /** q_agg_mcnemar — McNemar's paired test between two binary raters
    * of the SAME customers: rater A = "whale by spend" (any order
    * above 300k), rater B = "urgency user" (any 1-URGENT order). The
    * 2×2 cell counts answer "how often do the rules agree", but the
    * TEST reads only the discordant cells: χ²_cc = (|b−c|−1)²/(b+c)
    * (Edwards continuity correction, `greatest(|b−c|−1, 0)` so b=c
    * pins to 0 on both engines) — "would switching priority rules
    * reclassify customers SYMMETRICALLY, or does one rule
    * systematically promote more?". The paired-binary member of the
    * test shelf: odds_ratio reads an UNPAIRED 2×2; chisq tests
    * independence; THIS tests marginal homogeneity of paired raters
    * (the correct test when both labels come from the same subject —
    * an unpaired test on paired data overstates n). Exactness: four
    * integer cells off one per-customer contraction; χ² = integer
    * numerator / integer denominator, ONE division; b+c=0 guarded by
    * the identical CASE. Scale: the per-customer max-flag collapse is
    * map-side partial; everything after is one row. */
  private val aggMcnemar: Q = (s, dir) => {
    val flags = Tables.load(s, dir, "orders")
      .groupBy("o_custkey")
      .agg(
        max(when(col("o_totalprice") > 300000.0, 1).otherwise(0))
          .as("ra"),
        max(when(col("o_orderpriority") === "1-URGENT", 1).otherwise(0))
          .as("rb"))
    flags.agg(
        count(lit(1)).as("n"),
        sum(when(col("ra") === 1 && col("rb") === 1, 1).otherwise(0))
          .as("n11"),
        sum(when(col("ra") === 1 && col("rb") === 0, 1).otherwise(0))
          .as("n10"),
        sum(when(col("ra") === 0 && col("rb") === 1, 1).otherwise(0))
          .as("n01"),
        sum(when(col("ra") === 0 && col("rb") === 0, 1).otherwise(0))
          .as("n00"))
      .withColumn("chi2_cc",
        when(col("n10") + col("n01") === 0, lit(0.0)).otherwise(
          round((greatest(abs(col("n10") - col("n01")) - 1, lit(0)) *
            greatest(abs(col("n10") - col("n01")) - 1, lit(0)))
            .cast("double") / (col("n10") + col("n01")), 4)))
      .select(col("n").cast("long").as("n"),
        col("n11").cast("long").as("n11"),
        col("n10").cast("long").as("n10"),
        col("n01").cast("long").as("n01"),
        col("n00").cast("long").as("n00"),
        col("chi2_cc"),
        when(col("chi2_cc") > 3.84, 1).otherwise(0).as("significant"))
  }

  /** q_agg_wilcoxon — Wilcoxon signed-rank test on the SAME pre/post
    * pairs as q_agg_ttest_paired (per-user mean event value in the
    * first vs second half of the span): the rank-based twin that
    * stays valid when the paired differences are heavy-tailed or
    * skewed (the t-test's levene/mannwhitney relationship, replayed
    * for PAIRED data). Zero differences drop (standard Wilcoxon);
    * |d| ranks are doubled mid-ranks off the distinct-|d| grid so
    * every rank quantity is an INTEGER (the mannwhitney r2 device);
    * W⁺ = Σ ranks of positive d; z = (W⁺ − n(n+1)/4) /
    * √(n(n+1)(2n+1)/24 − Σ(t³−t)/48) with the tie correction.
    * Exactness: diffs are 8-dp decimals, the grid sweep is integer,
    * 2W⁺ and the tie sum are decimal(38); z is one shared closed-form
    * double from identical integers. Scale: per-user contraction →
    * distinct-|d| grid → the grid rank runs as a DISTRIBUTED
    * PrefixSweep (value-grain, never a single-partition window). */
  private val aggWilcoxon: Q = (s, dir) => {
    val ev = Tables.load(s, dir, "events")
      .filter(col("user_id").isNotNull && col("value").isNotNull)
      .withColumn("d", to_date(col("ts")))
    val span = ev.agg(min("d").as("d0"), max("d").as("d1"))
      .select(date_add(col("d0"),
        floor(datediff(col("d1"), col("d0")) / 2).cast("int")).as("mid"))
    val phased = ev.crossJoin(broadcast(span))
      .withColumn("phase", when(col("d") < col("mid"), "a")
        .otherwise("b"))
      .groupBy("user_id", "phase")
      .agg(sum(col("value").cast("decimal(18,2)")).as("sv"),
        count(lit(1)).as("c"))
      .withColumn("m", col("sv").cast("double") / col("c"))
    val a = phased.filter(col("phase") === "a")
      .select(col("user_id"), col("m").as("ma"))
    val b = phased.filter(col("phase") === "b")
      .select(col("user_id"), col("m").as("mb"))
    val diffs = a.join(b, "user_id")
      .select(round(col("mb") - col("ma"), 8).cast("decimal(18,8)")
        .as("dd"))
      .filter(col("dd") =!= 0)
    val grid = diffs.groupBy(abs(col("dd")).as("ad"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("cg"),
        count(when(col("dd") > 0, 1)).cast("decimal(38,0)").as("pos"))
    val r = graft.ops.PrefixSweep.sweep(grid, Seq(col("ad")),
        runSums = Seq((col("cg"), "cum")))
      .withColumn("r2", lit(2) * col("cum") - col("cg") + 1)
    r.agg(sum("cg").as("n"),
        sum(col("pos") * col("r2")).as("w2"),
        sum(col("cg") * col("cg") * col("cg") - col("cg")).as("tsum"))
      .withColumn("mu2", (col("n") * (col("n") + 1)).cast("double") / 2.0)
      .withColumn("var4",
        (col("n") * (col("n") + 1) * (col("n") * 2 + 1)).cast("double")
          / 6.0 - col("tsum").cast("double") / 12.0)
      .withColumn("z", round(
        (col("w2").cast("double") - col("mu2")) / sqrt(col("var4")), 4))
      .select(col("n").cast("long").as("n_pairs"),
        round(col("w2").cast("double") / 2.0, 1).as("w_plus"),
        col("z"),
        when(abs(col("z")) > 1.96, 1).otherwise(0).as("significant"))
  }

  /** q_agg_rate_ratio — two-sample Poisson rate comparison between
    * the parity experiment arms: error events per 1000 user-days of
    * exposure, rate ratio, and the Wald CI on ln RR (±1.96·√(1/a +
    * 1/b) — counts only, the classic epidemiology/SRE incidence-rate
    * readout). ab_ztest compares CONVERSION (per-user binary); THIS
    * compares an event RATE against person-time — the right model
    * when a user can contribute many events and exposure differs by
    * arm (error budgets, crash rates, alert volumes). Exactness: a,
    * b, and both exposures are integers off ONE per-(arm, user, day)
    * contraction (events sum + presence row); rate/RR/CI are shared
    * closed-form doubles, ln/exp only inside 6-dp-rounded readouts
    * (odds_ratio rule); zero-count arms guarded by the identical
    * CASE. Scale: the contraction is two-phase, the readout 2 rows. */
  private val aggRateRatio: Q = (s, dir) => {
    val ud = Tables.load(s, dir, "events")
      .filter(col("user_id").isNotNull)
      .groupBy((col("user_id") % 2).as("arm"), col("user_id"),
        to_date(col("ts")).as("d"))
      .agg(count(when(col("event_type") === "error", 1)).as("ne"))
    val arms = ud.groupBy("arm")
      .agg(sum("ne").as("ev"), count(lit(1)).as("pt"))
    val one = arms.agg(
      sum(when(col("arm") === 1, col("ev"))).as("ev_t"),
      sum(when(col("arm") === 1, col("pt"))).as("pt_t"),
      sum(when(col("arm") === 0, col("ev"))).as("ev_c"),
      sum(when(col("arm") === 0, col("pt"))).as("pt_c"))
    val rr = (col("ev_t").cast("double") / col("pt_t")) /
      (col("ev_c").cast("double") / col("pt_c"))
    val half = lit(1.96) * sqrt(lit(1.0) / col("ev_t") +
      lit(1.0) / col("ev_c"))
    one.select(
        col("ev_t").cast("long").as("ev_t"),
        col("pt_t").cast("long").as("pt_t"),
        col("ev_c").cast("long").as("ev_c"),
        col("pt_c").cast("long").as("pt_c"),
        round(col("ev_t").cast("double") / col("pt_t") * 1000, 4)
          .as("rate_t_1k"),
        round(col("ev_c").cast("double") / col("pt_c") * 1000, 4)
          .as("rate_c_1k"),
        when(col("ev_t") === 0 || col("ev_c") === 0, lit(null))
          .otherwise(round(rr, 6)).as("rate_ratio"),
        when(col("ev_t") === 0 || col("ev_c") === 0, lit(null))
          .otherwise(round(exp(log(rr) - half), 6)).as("ci_lo"),
        when(col("ev_t") === 0 || col("ev_c") === 0, lit(null))
          .otherwise(round(exp(log(rr) + half), 6)).as("ci_hi"),
        when(col("ev_t") === 0 || col("ev_c") === 0, lit(0))
          .when(round(exp(log(rr) - half), 6) > 1.0 ||
            round(exp(log(rr) + half), 6) < 1.0, 1)
          .otherwise(0).as("significant"))
  }

  /** q_agg_cochran_q — Cochran's Q test across THREE binary raters of
    * the same customers (whale-by-spend, urgency-user, high-priority
    * user): does ANY rule classify a different share — the k-treatment
    * generalization of q_agg_mcnemar exactly as ANOVA generalizes the
    * t-test (k pairwise McNemars would inflate α; Q asks once, df =
    * k−1, crit 5.99). Exactness: with column totals G_j and row sums
    * L_i the statistic clears every denominator —
    * Q = (k−1)·(k·ΣG_j² − G²)/(k·ΣL_i − ΣL_i²) — INTEGER numerator
    * and denominator, ONE try_divide (denominator 0 ⇔ every block
    * unanimous ⇔ no information, NULL on both engines). Scale: one
    * per-customer max-flag collapse (map-side partial), then a 1-row
    * readout. */
  private val aggCochranQ: Q = (s, dir) => {
    val flags = Tables.load(s, dir, "orders")
      .groupBy("o_custkey")
      .agg(
        max(when(col("o_totalprice") > 300000.0, 1L).otherwise(0L))
          .as("ra"),
        max(when(col("o_orderpriority") === "1-URGENT", 1L)
          .otherwise(0L)).as("rb"),
        max(when(col("o_orderpriority") === "2-HIGH", 1L).otherwise(0L))
          .as("rc"))
      .withColumn("li", col("ra") + col("rb") + col("rc"))
    flags.agg(
        count(lit(1)).as("n"),
        sum("ra").as("g1"), sum("rb").as("g2"), sum("rc").as("g3"),
        sum("li").as("sl"), sum(col("li") * col("li")).as("sl2"))
      .withColumn("q", round(try_divide(
        (lit(2) * (lit(3) * (col("g1") * col("g1") +
          col("g2") * col("g2") + col("g3") * col("g3")) -
          col("sl") * col("sl"))).cast("double"),
        (lit(3) * col("sl") - col("sl2")).cast("double")), 4))
      .select(col("n").cast("long").as("n_blocks"),
        col("g1").cast("long").as("g_spend"),
        col("g2").cast("long").as("g_urgent"),
        col("g3").cast("long").as("g_high"),
        col("q"),
        when(col("q") > 5.99, 1).otherwise(0).as("significant"))
  }

  /** q_agg_quantile_ci — median with a DISTRIBUTION-FREE confidence
    * interval per event type: the order-statistic CI (ranks
    * n/2 ± 1.96·√n/2, the binomial normal approximation) — the
    * uncertainty readout every p50 dashboard omits; q_agg_bootstrap
    * resamples for the MEAN's CI, this reads the median's CI straight
    * from order statistics, no resampling, no distributional
    * assumption (Conover's classic). Exactness: ranks are
    * floor/ceil of engine-identical doubles (the ttest_paired floor
    * rule); the three order statistics are SELECTIONS — min(value
    * WHERE cum ≥ rank) over the distinct-value grid, zero arithmetic
    * on the values themselves. Scale: the corpus contracts to the
    * (type, value) grid first (the weighted_median discipline); the
    * grid window partitions per type; the three selections ride ONE
    * conditional aggregate — no per-rank pass. */
  private val aggQuantileCi: Q = (s, dir) => {
    val grid = Tables.load(s, dir, "events")
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"), col("value").as("v"))
      .agg(count(lit(1)).as("c"))
    val tot = grid.groupBy("event_type").agg(sum("c").as("n"))
      .withColumn("r_med", floor((col("n") + 1) / lit(2.0)).cast("long"))
      .withColumn("r_lo",
        greatest(lit(1L), floor(col("n") / lit(2.0) -
          lit(1.96) * sqrt(col("n").cast("double")) / 2).cast("long")))
      .withColumn("r_hi",
        least(col("n"), (ceil(col("n") / lit(2.0) +
          lit(1.96) * sqrt(col("n").cast("double")) / 2) + 1)
          .cast("long")))
    val wCum = Window.partitionBy("event_type").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.withColumn("cum", sum("c").over(wCum))
      .join(broadcast(tot), "event_type")
      .groupBy("event_type")
      .agg(max("n").cast("long").as("n"),
        min(when(col("cum") >= col("r_lo"), col("v"))).as("ci_lo"),
        min(when(col("cum") >= col("r_med"), col("v"))).as("p50"),
        min(when(col("cum") >= col("r_hi"), col("v"))).as("ci_hi"))
      .select(col("event_type"), col("n"), col("p50"),
        col("ci_lo"), col("ci_hi"),
        round(col("ci_hi") - col("ci_lo"), 2).as("ci_width"))
      .orderBy(col("event_type").asc_nulls_first)
  }

  /** q_agg_holm — Holm step-down multiple-testing correction on the
    * SAME per-type z/p grid as q_agg_fdr_bh: thresholds α/(m−i+1),
    * reject while p ≤ threshold, STOP at the first failure — the
    * family-wise-error-rate companion to BH's FDR (Holm controls "any
    * false positive at all", the regulatory/launch-gate standard; BH
    * controls the false-discovery RATE, the dashboard standard —
    * pipelines need both knobs and they disagree exactly when it
    * matters, on the marginal discoveries). Exactness: identical
    * scored grid as fdr_bh (4-dp z, 8-dp Chernoff p-bound, pinned
    * rank order); the step-down cutoff is min(rank with p > thr) —
    * integer logic; thresholds round to 8 dp. Scale: one corpus
    * contraction; everything after is the m-row grid. */
  private val aggHolm: Q = (s, dir) => {
    val g = Tables.load(s, dir, "events")
      .filter(col("value").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("s1"),
        sum((col("value").cast("decimal(18,2)") *
          col("value").cast("decimal(18,2)"))).as("s2"))
    val tot = g.agg(sum("n").as("tn"), sum("s1").as("ts1"),
      sum("s2").as("ts2"), count(lit(1)).as("m"))
    val nd = col("n").cast("double")
    val rn = (col("tn") - col("n")).cast("double")
    val mt = col("s1").cast("double") / nd
    val mr = (col("ts1") - col("s1")).cast("double") / rn
    val vt = (col("s2").cast("double") - nd * mt * mt) / (nd - 1)
    val vrr = ((col("ts2") - col("s2")).cast("double") - rn * mr * mr) /
      (rn - 1)
    val z = (mt - mr) / sqrt(vt / nd + vrr / rn)
    val scored = g.crossJoin(broadcast(tot))
      .withColumn("z", round(z, 4))
      .withColumn("p_bound",
        round(least(exp(lit(-1.0) * col("z") * col("z") / 2.0),
          lit(1.0)), 8))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("m")
          .orderBy(col("p_bound"), col("event_type").asc_nulls_first)))
      .withColumn("holm_thr",
        round(lit(0.10) / (col("m") - col("rnk") + 1), 8))
      .localCheckpoint()
    val cut = scored
      .agg(min(when(col("p_bound") > col("holm_thr"), col("rnk")))
        .as("first_fail"))
    scored.crossJoin(broadcast(cut))
      .select(col("event_type"), col("n").cast("long").as("n"),
        col("z"), col("p_bound"), col("rnk").cast("long").as("rnk"),
        col("holm_thr"),
        when(col("first_fail").isNull ||
          col("rnk") < col("first_fail"), 1).otherwise(0)
          .as("discovery"))
      .orderBy("rnk")
  }

  /** q_agg_deming — Deming (errors-in-both-variables) regression
    * between TWO MEASUREMENTS of the same line: gross billed price
    * (x = l_extendedprice) vs net collected price (y = x·(1−disc)),
    * per return flag — the method-comparison setting (two meters on
    * one quantity, differing by a noisy factor). OLS of y on x
    * assumes x is error-free and ATTENUATES toward the x axis when
    * it isn't (regression dilution — a calibration line fit by OLS
    * systematically under-corrects); λ=1 Deming treats both axes as
    * noisy and recovers the symmetric line; the dilution gap is the
    * readout, and the slope itself reads as the effective net/gross
    * ratio. Exactness: y is an EXACT scale-4 integer product of the
    * 2-dp money values; all five power sums fold exactly in 128-bit
    * integer space (graftfns.Sum128) and read out the same doubles
    * the decimal sums cast to; both slopes are shared closed-form
    * doubles; S_xy=0 NULLs via try_divide/NULLIF. Scale: one
    * two-phase aggregate to the flag grid. */
  private val aggDeming: Q = (s, dir) => {
    val fns = org.apache.spark.sql.graftfns.SumFunctions
    // r20 exact-integer restatement (§7.5.21 lifted into an aggregate):
    // price and discount are exact 2-dp, so with xc = price·100 and
    // dc = disc·100 (exact BIGINTs via the +0.5 cast on non-negative
    // values), x = xc/10² and y = x·(1−disc) = xc·(100−dc)/10⁴
    // EXACTLY. Every power-sum term is then an exact long product
    // (xc² ≤ 1.2e14, y4² ≤ 1.2e18, xc·y4 ≤ 1.2e16 — all inside
    // Sum128's input contract) and Sum128 folds them in 128-bit
    // integer space, reading out the identical double the old decimal
    // sums cast to (scales 2/4/4/8/6). This is the lossless scale-8
    // reconstruction Spark's decimal-DIVISION typing cannot spell
    // (result scale caps at 6 past precision 38), which is why the
    // r19 round deferred this row; the per-row path is now ~6 long
    // multiplies/adds instead of Decimal128 casts and multiplies.
    val l = Tables.load(s, dir, "lineitem")
      .select(col("l_returnflag"),
        expr("CAST(l_extendedprice * 100 + 0.5 AS BIGINT)").as("xc"),
        expr("CAST(l_discount * 100 + 0.5 AS BIGINT)").as("dc"))
      .withColumn("y4", col("xc") * (lit(100L) - col("dc")))
    val g = l.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        fns.sum128(col("xc"), 2).as("sx"),
        fns.sum128(col("y4"), 4).as("sy"),
        fns.sum128(col("xc") * col("xc"), 4).as("sx2"),
        fns.sum128(col("y4") * col("y4"), 8).as("sy2"),
        fns.sum128(col("xc") * col("y4"), 6).as("sxy"))
    val nd = col("n").cast("double")
    val mx = col("sx") / nd
    val my = col("sy") / nd
    val sxx = (col("sx2") - nd * mx * mx) / (nd - 1)
    val syy = (col("sy2") - nd * my * my) / (nd - 1)
    val sxy = (col("sxy") - nd * mx * my) / (nd - 1)
    val dem = try_divide(
      syy - sxx + sqrt((syy - sxx) * (syy - sxx) +
        lit(4.0) * sxy * sxy),
      lit(2.0) * sxy)
    val ols = try_divide(sxy, sxx)
    g.select(col("l_returnflag"), col("n").cast("long").as("n"),
        round(dem, 4).as("deming_slope"),
        round(my - dem * mx, 2).as("deming_intercept"),
        round(ols, 4).as("ols_slope"),
        round(dem - ols, 4).as("dilution_gap"))
      .orderBy(col("l_returnflag").asc_nulls_first)
  }

  /** q_agg_bayes_beta — Bayesian A/B readout for the parity
    * experiment's conversion: Beta(1+c, 1+n−c) posteriors per arm
    * (uniform prior), posterior means, and the normal-approximation
    * comparison z = (m_B−m_A)/√(v_A+v_B) with the "B better at 95%"
    * call — the Bayesian twin of q_agg_ab_ztest (same contraction,
    * same data; the frequentist z asks "how surprising under H₀",
    * the posterior z reads "how sure are we B is ahead" — the
    * decision framing product teams actually use, and the two
    * disagree exactly at small n where the prior matters).
    * Exactness: two integers per arm; posterior mean/variance are
    * shared closed-form doubles (a,b ≥ 1 so every denominator is
    * provably positive — plain division); the normal approximation
    * is deterministic (no erf/Φ at an engine boundary — the z itself
    * is the readout). Scale: one per-user map-side collapse, 1-row
    * readout. */
  private val aggBayesBeta: Q = (s, dir) => {
    val users = Tables.load(s, dir, "events")
      .filter(col("user_id").isNotNull)
      .groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase" &&
        col("value") > 90, 1).otherwise(0)).as("conv"))
      .withColumn("arm", col("user_id") % 2)
    val one = users.groupBy("arm")
      .agg(count(lit(1)).as("n"), sum("conv").as("c"))
      .agg(sum(when(col("arm") === 1, col("n"))).as("nt"),
        sum(when(col("arm") === 1, col("c"))).as("ct"),
        sum(when(col("arm") === 0, col("n"))).as("nc"),
        sum(when(col("arm") === 0, col("c"))).as("cc"))
    def m(aa: Column, bb: Column) =
      aa.cast("double") / (aa + bb).cast("double")
    def v(aa: Column, bb: Column) =
      (aa * bb).cast("double") /
        (((aa + bb) * (aa + bb)).cast("double") *
          (aa + bb + 1).cast("double"))
    val at = col("ct") + 1; val bt = col("nt") - col("ct") + 1
    val ac = col("cc") + 1; val bc = col("nc") - col("cc") + 1
    val z = (m(at, bt) - m(ac, bc)) / sqrt(v(at, bt) + v(ac, bc))
    one.select(col("nt").cast("long").as("n_t"),
        col("ct").cast("long").as("c_t"),
        col("nc").cast("long").as("n_c"),
        col("cc").cast("long").as("c_c"),
        round(m(at, bt), 4).as("post_mean_t"),
        round(m(ac, bc), 4).as("post_mean_c"),
        round(z, 4).as("z_post"),
        when(round(z, 4) > 1.645, 1).otherwise(0).as("t_better_95"))
  }

  /** q_agg_partial_corr — partial correlation of event value and
    * hour-of-day CONTROLLING for day-of-week, per event type:
    * r_xy·z = (r_xy − r_xz·r_zy)/√((1−r_xz²)(1−r_zy²)) — the
    * confounder-removal primitive (q_agg_corr answers "do value and
    * hour move together"; THIS answers "do they still move together
    * once the weekly rhythm is held fixed" — the difference is the
    * confound every naive correlation dashboard ships). Exactness:
    * all ten moment sums are exact decimals/integers off ONE scan;
    * the three pairwise r's and the partial are shared closed-form
    * doubles; degenerate axes (zero variance, |r|=1 controls) NULL
    * via try_divide on both engines. Scale: one two-phase aggregate
    * to the type grid. */
  private val aggPartialCorr: Q = (s, dir) => {
    // integer centi-units: x_c = value×100 exactly (2-dp input), so
    // every moment sum is an integer in decimal(38,0) — correlation
    // is scale-invariant, the closed forms see identical integers on
    // both engines
    val e = Tables.load(s, dir, "events")
      .filter(col("value").isNotNull)
      .select(col("event_type"),
        (col("value").cast("decimal(18,2)") * 100).cast("long")
          .as("x"),
        hour(col("ts")).cast("long").as("h"),
        dayofweek(col("ts")).cast("long").as("z"))
    def d38(c: Column) = c.cast("decimal(38,0)")
    val g = e.groupBy("event_type")
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(d38(col("x"))).as("sx"), sum(d38(col("h"))).as("sh"),
        sum(d38(col("z"))).as("sz"),
        sum(d38(col("x") * col("x"))).as("sx2"),
        sum(d38(col("h") * col("h"))).as("sh2"),
        sum(d38(col("z") * col("z"))).as("sz2"),
        sum(d38(col("x") * col("h"))).as("sxh"),
        sum(d38(col("x") * col("z"))).as("sxz"),
        sum(d38(col("h") * col("z"))).as("shz"))
    def r(sab: Column, sa: Column, sb: Column,
          sa2: Column, sb2: Column) =
      try_divide(
        (col("n") * sab).cast("double") - (sa * sb).cast("double"),
        sqrt((col("n") * sa2).cast("double") -
          (sa * sa).cast("double")) *
          sqrt((col("n") * sb2).cast("double") -
            (sb * sb).cast("double")))
    val rxh = r(col("sxh"), col("sx"), col("sh"), col("sx2"),
      col("sh2"))
    val rxz = r(col("sxz"), col("sx"), col("sz"), col("sx2"),
      col("sz2"))
    val rhz = r(col("shz"), col("sh"), col("sz"), col("sh2"),
      col("sz2"))
    val part = try_divide(rxh - rxz * rhz,
      sqrt((lit(1.0) - rxz * rxz) * (lit(1.0) - rhz * rhz)))
    g.select(col("event_type"), col("n").cast("long").as("n"),
        round(rxh, 4).as("r_value_hour"),
        round(rxz, 4).as("r_value_dow"),
        round(part, 4).as("r_partial"),
        round(rxh - part, 4).as("confound_gap"))
      .orderBy(col("event_type").asc_nulls_first)
  }

  /** q_agg_cronbach — Cronbach's α over the five event-type daily
    * series treated as test ITEMS scored per day: α = k/(k−1) ·
    * (1 − Σσ²ᵢ/σ²_total) — the internal-consistency statistic
    * ("do these k signals measure one underlying thing") applied to
    * telemetry: high α means the per-type series are redundant
    * readouts of one traffic factor (dashboard consolidation is
    * safe); low α means they carry independent signals. Exactness:
    * per-item and total variances derive from INTEGER power sums with
    * absent (day, type) cells contributing zero exactly (sums skip
    * them, n is the day census); the per-item variance terms round
    * to 8-dp decimals before the k-row fold (grid rule); one
    * try_divide. Scale: one corpus contraction to the (type, day)
    * grid; everything after is k- or day-sized. */
  private val aggCronbach: Q = (s, dir) => {
    val grid = Tables.load(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("y"))
      .localCheckpoint()
    val nDays = grid.select(countDistinct(col("d")).as("nd"))
    val items = grid.groupBy("event_type")
      .agg(sum("y").as("sy"),
        sum(col("y") * col("y")).as("sy2"))
      .crossJoin(broadcast(nDays))
      .withColumn("vi", round(
        (col("sy2").cast("double") -
          (col("sy").cast("decimal(22,0)") * col("sy")).cast("double")
            / col("nd")) / (col("nd") - 1), 8).cast("decimal(24,8)"))
      .agg(count(lit(1)).as("k"), sum("vi").as("svi"))
    val totals = grid.groupBy("d").agg(sum("y").as("t"))
      .agg(count(lit(1)).as("ndt"), sum("t").as("st"),
        sum(col("t") * col("t")).as("st2"))
      .withColumn("vt",
        (col("st2").cast("double") -
          (col("st").cast("decimal(22,0)") * col("st")).cast("double")
            / col("ndt")) / (col("ndt") - 1))
    val alpha = (col("k").cast("double") / (col("k") - 1)) *
      (lit(1.0) - try_divide(col("svi").cast("double"), col("vt")))
    items.crossJoin(broadcast(totals))
      .select(col("k").cast("long").as("k_items"),
        col("ndt").cast("long").as("n_days"),
        round(col("svi").cast("double"), 4).as("sum_item_var"),
        round(col("vt"), 4).as("total_var"),
        round(alpha, 4).as("alpha"),
        when(round(alpha, 4) >= 0.7, 1).otherwise(0).as("reliable"))
  }

  /** q_agg_hoeffding — distribution-free mean CI per event type via
    * Hoeffding's inequality on the pinned [0, 600] value range:
    * half-width = B·√(ln(2/α)/(2n)) — the ASSUMPTION-FREE companion
    * to the CLT interval (q_agg_quantile_ci does this for the
    * median; THIS covers the mean): valid at ANY n and ANY
    * distribution with bounded support, which is what a guardrail on
    * a heavy-tailed metric actually needs — the CLT interval it sits
    * next to understates coverage exactly when the tail is at its
    * worst. The conservatism RATIO (Hoeffding/CLT width) is the
    * readout that says how much certainty the assumption is buying.
    * Exactness: mean/sd from exact decimal power sums; ln(2/0.05) is
    * a shared numeric literal (no libm at an engine boundary); one
    * closed form per type. Scale: one two-phase aggregate. */
  private val aggHoeffding: Q = (s, dir) => {
    val ln40 = 3.6888794541139363 // ln(2/0.05), shared literal
    val g = Tables.load(s, dir, "events")
      .filter(col("value").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("s1"),
        sum(col("value").cast("decimal(18,2)") *
          col("value").cast("decimal(18,2)")).as("s2"))
    val nd = col("n").cast("double")
    val m = col("s1").cast("double") / nd
    val sd = sqrt((col("s2").cast("double") - nd * m * m) / (nd - 1))
    val hh = lit(600.0) * sqrt(lit(ln40) / (lit(2.0) * nd))
    val ch = lit(1.96) * sd / sqrt(nd)
    g.select(col("event_type"), col("n").cast("long").as("n"),
        round(m, 4).as("mean"),
        round(m - hh, 4).as("hoeff_lo"),
        round(m + hh, 4).as("hoeff_hi"),
        round(hh, 4).as("hoeff_half"),
        round(ch, 4).as("clt_half"),
        round(try_divide(hh, ch), 4).as("conservatism"))
      .orderBy(col("event_type").asc_nulls_first)
  }

  val all: Map[String, Q] = Map(
    "q_agg_hoeffding" -> aggHoeffding,
    "q_agg_bayes_beta" -> aggBayesBeta,
    "q_agg_partial_corr" -> aggPartialCorr,
    "q_agg_cronbach" -> aggCronbach,
    "q_agg_holm" -> aggHolm,
    "q_agg_deming" -> aggDeming,
    "q_agg_cochran_q" -> aggCochranQ,
    "q_agg_quantile_ci" -> aggQuantileCi,
    "q_agg_mcnemar" -> aggMcnemar,
    "q_agg_wilcoxon" -> aggWilcoxon,
    "q_agg_rate_ratio" -> aggRateRatio,
    "q_agg_calibration" -> aggCalibration,
    "q_agg_welch_anova" -> aggWelchAnova,
    "q_agg_ttest_paired" -> aggTtestPaired,
    "q_agg_trend_ca" -> aggTrendCa,
    "q_agg_gmean" -> aggGmean,
    "q_agg_bimodality" -> aggBimodality,
    "q_agg_dispersion" -> aggDispersion,
    "q_agg_fdr_bh" -> aggFdrBh,
    "q_agg_fleiss_kappa" -> aggFleissKappa,
    "q_agg_permutation" -> aggPermutation,
    "q_agg_auc" -> aggAuc,
    "q_agg_mcc" -> aggMcc,
    "q_agg_odds_ratio" -> aggOddsRatio,
    "q_agg_trimmed_mean" -> aggTrimmedMean,
    "q_agg_hodges_lehmann" -> aggHodgesLehmann,
    "q_agg_tukey" -> aggTukey,
    "q_agg_levene" -> aggLevene,
    "q_agg_friedman" -> aggFriedman,
    "q_agg_mutual_info" -> aggMutualInfo,
    "q_agg_cohen_kappa" -> aggCohenKappa,
    "q_agg_psi" -> aggPsi,
    "q_agg_kruskal" -> aggKruskal,
    "q_agg_cohens_d" -> aggCohensD,
    "q_agg_brier" -> aggBrier,
    "q_agg_topn_share" -> aggTopnShare,
    "q_agg_regression" -> aggRegression,
    "q_agg_moments" -> aggMoments,
    "q_agg_bitmap" -> aggBitmap,
    "q_agg_heavy_hitters" -> aggHeavyHitters,
    "q_agg_mad" -> aggMad,
    "q_agg_entropy" -> aggEntropy,
    "q_agg_corr" -> aggCorr,
    "q_agg_ttest" -> aggTtest,
    "q_agg_anova" -> aggAnova,
    "q_agg_chisq" -> aggChisq,
    "q_agg_bootstrap" -> aggBootstrap,
    "q_agg_winsorize" -> aggWinsorize,
    "q_agg_gini" -> aggGini,
    "q_agg_hhi" -> aggHhi,
    "q_agg_weighted_median" -> aggWeightedMedian,
    "q_agg_benford" -> aggBenford,
    "q_agg_lorenz" -> aggLorenz,
    "q_agg_iqr" -> aggIqr,
    "q_agg_ab_ztest" -> aggAbZtest,
    "q_agg_tost" -> aggTost,
    "q_agg_ks_test" -> aggKsTest,
    "q_agg_spearman" -> aggSpearman,
    "q_agg_basket" -> aggBasket,
    "q_agg_cramers_v" -> aggCramersV,
    "q_agg_mde" -> aggMde,
    "q_agg_logloss" -> aggLogloss,
    "q_agg_hill" -> aggHill,
    "q_agg_kendall" -> aggKendall,
    "q_agg_mannwhitney" -> aggMannwhitney,
    "q_agg_jarque_bera" -> aggJarqueBera,
    "q_agg_cvar" -> aggCvar,
    "q_agg_delta_method" -> aggDeltaMethod,
    "q_agg_sprt" -> aggSprt,
    "q_agg_extreme" -> aggExtreme,
    "q_agg_capture_recapture" -> aggCaptureRecapture,
    "q_agg_theil" -> aggTheil,
    "q_agg_maxby" -> aggMaxby,
    "q_agg_mode" -> aggMode,
    "q_agg_count" -> aggCount,
    "q_agg_group" -> aggGroup,
    "q_agg_multi" -> aggMulti,
    "q_agg_distinct" -> aggDistinct,
    "q_dedup_distinct" -> dedupDistinct,
    "q_agg_approx" -> aggApprox,
    "q_agg_rollup" -> aggRollup,
    "q_agg_cube" -> aggCube,
    "q_agg_gsets" -> aggGsets,
    "q_agg_sketch" -> aggSketch,
    "q_agg_countmin" -> aggCountmin,
    "q_agg_quantile" -> aggQuantile,
    "q_agg_quantile_approx" -> aggQuantileApprox,
    "q_agg_stats" -> aggStats,
    "q_agg_histogram" -> aggHistogram,
    "q_agg_collect" -> aggCollect,
    "q_agg_pivot" -> aggPivot)
}
