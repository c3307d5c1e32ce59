package graft.queries

import graft.Tables
import graft.etl.Normalize
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftfns.HashFunctions.sha256_prefix

/** §2.O pipeline patterns — multi-stage dataflows a production warehouse
  * runs daily: ordered-funnel attribution over the event stream and the
  * latest-wins upsert merge. Both are single-key dataflows: every
  * shuffle in a query keys on the same column, so Catalyst reuses one
  * hash partitioning across all stages (no re-shuffle between the
  * aggregate, the join, and the next aggregate). */
object PipelineQueries {
  type Q = (SparkSession, String) => DataFrame

  /** q_evt_funnel — strictly-ordered three-stage funnel
    * (view → click → purchase) per user: stage k counts only if it
    * happens AFTER the user's first stage-(k−1) event (the reference's
    * event loop `web_scraper/web_scraping.py:473-534` generalized to
    * the per-entity ordered-progress question). Shape: three
    * filter→min aggregates chained by equi-joins, ALL keyed on
    * user_id — one exchange per stage input, co-partitioned joins, and
    * the filter on event_type is pushed into each parquet scan. At
    * 100 TB this beats the collect_list-per-user formulation, whose
    * per-user event arrays are unbounded (a hot user OOMs the task);
    * here state per user is one timestamp per stage. */
  private val evtFunnel: Q = (s, dir) => {
    val ev = Tables.load(s, dir, "events")
      .select("user_id", "event_type", "ts")
    def stageMin(tpe: String, after: Option[(DataFrame, String)],
                 out: String): DataFrame = {
      val base = ev.filter(col("event_type") === tpe)
      val gated = after match {
        case Some((prev, tcol)) =>
          base.join(prev.select("user_id", tcol), Seq("user_id"))
            .filter(col("ts") > col(tcol))
        case None => base
      }
      gated.groupBy("user_id").agg(min("ts").as(out))
    }
    val v = stageMin("view", None, "t_view")
    val c = stageMin("click", Some((v, "t_view")), "t_click")
    val p = stageMin("purchase", Some((c, "t_click")), "t_purchase")
    v.join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .select(col("user_id"), col("t_view"), col("t_click"),
        col("t_purchase"),
        (lit(1L) + col("t_click").isNotNull.cast("long")
          + col("t_purchase").isNotNull.cast("long")).as("stage"))
      .orderBy("user_id")
  }

  /** q_etl_upsert — latest-wins merge (SCD-1 upsert): a base snapshot
    * overlaid with a batch of updates; update rows win on key collision,
    * unmatched updates insert, unmatched base rows survive (the
    * reference's `get_or_create`-then-overwrite load semantics,
    * `database/parse_and_upload_to_db.py:31-47,99-100`, as one
    * declarative dataflow). Implementation is the union + per-key
    * version window — the formulation that generalizes to N batches and
    * stays a single shuffle on the merge key; a full-outer-join merge
    * needs one join per batch instead. Both inputs here are derived
    * deterministically from `orders` (base = keys ≢ 3 (mod 4); updates =
    * odd keys, re-priced), giving all three merge cases: update,
    * insert-only, base-only. */
  private val etlUpsert: Q = (s, dir) => {
    val orders = Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val base = orders.filter(col("o_orderkey") % 4 =!= 3)
      .withColumn("version", lit(0L))
    // the re-price goes through exact DECIMAL arithmetic (§7.5.2): a
    // double round(x*1.1, 2) can land differently per engine on
    // half-cases, decimal multiply cannot
    val updates = orders.filter(col("o_orderkey") % 2 === 1)
      .withColumn("o_orderstatus", lit("U"))
      .withColumn("o_totalprice",
        expr("""CAST(CAST(o_totalprice AS DECIMAL(18,2))
                     * CAST(1.1 AS DECIMAL(2,1)) AS DOUBLE)"""))
      .withColumn("version", lit(1L))
    val w = Window.partitionBy("o_orderkey").orderBy(col("version").desc)
    base.unionByName(updates)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("o_orderkey", "o_orderstatus", "o_totalprice", "version")
      .orderBy("o_orderkey")
  }

  /** Synthetic scraped-business records derived deterministically from
    * `events` — the ETL input for [[etlNormalize]]. Field grammar (each
    * branch mirrored arithmetically in the DuckDB oracle):
    *   - bizId = "biz-" + lpad(event_id % 997): ~997 businesses, each
    *     scraped many times (the resume-append duplicate case);
    *     zero-padding makes string order equal numeric order so the
    *     oracle's dense_rank over the numeric key reproduces the hub ids.
    *   - ranking = event_id (unique) → dedupKeepFirst keeps the MIN
    *     event_id record per business, so every downstream field is a
    *     pure function of that keeper row.
    *   - price/health_score: valid by construction except event_id %13=0
    *     (price '$$$$$') and %17=0 ('ZZ') — the quarantine split.
    *   - open_hours: ONE day entry, weekday = weekdays[event_id % 7],
    *     hours string from [[HoursQueries.withHoursStr]] (all parser
    *     branches: Closed / 24h sentinel / glued double range / single).
    *   - food_category: 1 name when event_id % 3 = 0 else 2 distinct
    *     names from a 5-value vocabulary (exercises dim dedup + bridge). */
  private def syntheticScraped(s: SparkSession, dir: String): DataFrame = {
    val e = col("event_id")
    HoursQueries.withHoursStr(Tables.load(s, dir, "events"))
      .select(
        concat(lit("biz-"),
          lpad((e % 997).cast("string"), 4, "0")).as("bizId"),
        e.as("ranking"),
        concat(lit("Biz "), (e % 997).cast("string")).as("name"),
        lit(null).cast("string").as("website"),
        lit(null).cast("string").as("phone_number"),
        lit(null).cast("string").as("address"),
        when(e % 13 === 0, lit("$$$$$"))
          .otherwise(expr("repeat('$', CAST(event_id % 4 AS INT) + 1)"))
          .as("price"),
        when(e % 17 === 0, lit("ZZ"))
          .otherwise(
            expr("substr('ABCDEFGH', CAST(event_id % 8 AS INT) + 1, 1)"))
          .as("health_score"),
        array(struct(
          element_at(typedlit(Normalize.weekdays), (e % 7).cast("int") + 1)
            .as("weekday"),
          col("hours_str").as("open_hours"))).as("open_hours"),
        when(e % 3 === 0,
            array(concat(lit("cat"), (e % 5).cast("string"))))
          .otherwise(array(
            concat(lit("cat"), (e % 5).cast("string")),
            concat(lit("cat"), ((e + 1) % 5).cast("string"))))
          .as("food_category"),
        expr("CAST(array() AS ARRAY<STRING>)").as("highlights"),
        expr("CAST(array() AS ARRAY<STRING>)").as("related_search_terms"),
        expr("CAST(array() AS " +
          "ARRAY<STRUCT<amenity: STRING, is_available: BOOLEAN>>)")
          .as("amenities"))
  }

  /** Build the 11-table warehouse for `dir` ONCE per (scale, source
    * content, engine code) and reuse it
    * ([[SourceQueries.stampedFixture]]): the warehouse is a
    * deterministic function of the (immutable) events table, so
    * rebuilding it per invocation would only time sink throughput, and
    * neither a regenerated source nor an edited `Normalize` can be read
    * through a stale warehouse. */
  private def etlWarehouse(s: SparkSession, dir: String): String =
    SourceQueries.stampedFixture("etl_wh", dir, "events", "_DONE") { wh =>
      // NOT underscore-prefixed: Hadoop's hidden-file filter would
      // silently list the dir as empty on read-back (see Normalize.run)
      val input = s"$wh/input.ndjson"
      syntheticScraped(s, dir).write.mode("overwrite").json(input)
      Normalize.run(s, input, wh)
      new java.io.File(s"$wh/_DONE").createNewFile(): Unit
    }

  /** q_etl_normalize — the reference's core lifecycle END TO END
    * (`database/parse_and_upload_to_db.py:89-175`, SURVEY §3.2): scraped
    * NDJSON → validate/quarantine → dedup resume-appends → surrogate-id
    * hub → 11-table warehouse ([[Normalize.run]]) → a join-back aggregate
    * over four of the tables (open-interval facts × weekday dim ×
    * business hub × food-category bridge). The oracle recomputes the
    * same aggregate in DuckDB directly from the flat synthesized
    * records, so the hash check covers the whole composition — the
    * validation regexes, the keep-first dedup, the globalRowNumber id
    * assignment, the hours parse/explode, and the dim/bridge joins —
    * not just each piece in isolation. */
  private val etlNormalize: Q = (s, dir) => {
    val wh = etlWarehouse(s, dir)
    val oh = s.read.parquet(s"$wh/open_hours")
    val wd = s.read.parquet(s"$wh/weekday")
    val biz = s.read.parquet(s"$wh/business")
    val bfc = s.read.parquet(s"$wh/business_food_category")
    val catCnt = bfc.groupBy("business_id").agg(count(lit(1)).as("n_cat"))
    oh.join(broadcast(wd.select(col("id").as("weekday_id"),
        col("name").as("weekday_name"))), Seq("weekday_id"))
      .join(biz.select(col("id").as("business_id"), col("price")),
        Seq("business_id"))
      .join(catCnt, Seq("business_id"))
      .groupBy("weekday_id", "weekday_name")
      .agg(count(lit(1)).as("n_intervals"),
        countDistinct(col("business_id")).as("n_biz"),
        sum(col("business_id")).as("sum_biz_id"),
        sum(col("open_time")).as("sum_open_sec"),
        sum(col("close_time")).as("sum_close_sec"),
        sum(col("n_cat")).as("n_cat_links"),
        sum(length(col("price")).cast("long")).as("sum_price_len"))
      .orderBy("weekday_id")
  }

  /** q_etl_denormalize — the lifecycle's INVERSE direction run on top of
    * [[etlNormalize]]'s warehouse: the 11 normalized tables rebuilt into
    * one nested record per business ([[graft.etl.Denormalize.toNested]],
    * reference `README.md:82-105` — the §1.2 scraped shape the pipeline
    * starts from), then a per-business flatten-back readout so the
    * oracle can recompute every figure FLAT in DuckDB (same synthesized-
    * grammar CTEs as q_etl_normalize's oracle). The readout pins each
    * nested-rebuild mechanism: `n_iv`/`sum_*` the order-stable
    * `sort_array∘collect_list` interval arrays, `first_*` the SORT
    * itself (element 0 must be the min-open interval) plus the weekday
    * dim join-back, `n_cat` the bridge→dim name collect, and
    * `n_empty_side` the empty-collection coalesce (a business with no
    * highlights must round-trip to [], never null). Scale: five
    * broadcast dim joins + collect_list aggregates co-keyed on
    * business_id, then one left-join fold over the hub — every shuffle
    * is business-sized, and the readout is a narrow projection over the
    * nested result (array kernels, no explode-back). */
  private val etlDenormalize: Q = (s, dir) => {
    val wh = etlWarehouse(s, dir)
    val names = Seq("business", "weekday", "open_hours", "food_category",
      "business_food_category", "search_term", "business_search_term",
      "highlight", "business_highlight", "amenity", "business_amenity")
    val nested = graft.etl.Denormalize.toNested(
      names.map(n => n -> s.read.parquet(s"$wh/$n")).toMap)
    val firstIv = get(col("open_hours"), lit(0))
    nested.select(
        col("business_id"),
        size(col("food_category")).cast("long").as("n_cat"),
        size(col("open_hours")).cast("long").as("n_iv"),
        aggregate(col("open_hours"), lit(0L),
          (acc, x) => acc + x.getField("open_time")).as("sum_open_sec"),
        aggregate(col("open_hours"), lit(0L),
          (acc, x) => acc + x.getField("close_time")).as("sum_close_sec"),
        firstIv.getField("open_time").as("first_open"),
        firstIv.getField("weekday").as("first_weekday"),
        length(col("price")).cast("long").as("price_len"),
        (size(col("highlights")) + size(col("related_search_terms")) +
          size(col("amenities"))).cast("long").as("n_empty_side"))
      .orderBy("business_id")
  }

  /** q_etl_scd2 — SCD-2 dimension build ([[graft.ops.Curation.scd2]]):
    * the event stream read as per-user attribute-change records becomes
    * [valid_from, valid_to) history intervals with an open current row
    * (the reference's latest-wins load `parse_and_upload_to_db.py:31-47`
    * widened to keep history). The window orders by the µs-truncated
    * timestamp with event_id tie-break — the same total order the
    * oracle's `CAST(ts AS TIMESTAMP)` yields, so `lead` picks the same
    * successor in both engines. */
  private val etlScd2: Q = (s, dir) =>
    graft.ops.Curation.scd2(
        Tables.load(s, dir, "events")
          .select("user_id", "event_id", "event_type", "ts"),
        keyCol = "user_id", tsCol = "ts", idCol = "event_id")
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("valid_from"),
        // warehouse high-date sentinel for the open interval (range
        // predicates like `BETWEEN valid_from AND valid_to` then need no
        // null branch; also keeps the dumped parquet null-free). The
        // customary 9999-12-31 overflows pandas datetime64[ns] (max
        // 2262-04-11) and splits the driver's hash normalization, so the
        // sentinel is a ns-safe high date instead.
        coalesce(col("valid_to"),
          lit("2200-01-01 00:00:00").cast("timestamp")).as("valid_to"),
        col("is_current"))
      .orderBy("user_id", "valid_from", "event_id")

  /** q_etl_dim_asof — temporal dimension lookup: every fact row joined
    * to the SCD-2 dim version valid AT ITS EVENT TIME (`f.ts ∈
    * [valid_from, valid_to)`), the pattern that makes late-arriving and
    * historical facts reprocessable — re-running last month's facts
    * against today's dim table still yields last month's attributes.
    * The reference serves only latest-wins state
    * (`parse_and_upload_to_db.py:31-47` overwrites on conflict); this is
    * the history-correct read that upsert loses. Dim = [[graft.ops
    * .Curation.scd2]] over the NON-purchase change stream (the user's
    * browsing state — building the dim from the same rows as the facts
    * would make every fact trivially match its own version); facts = the
    * purchase stream, so the join answers "what state was the user in
    * when they bought". Plan shape: ONE shuffle
    * on user_id for the window, then an EQUI-join on user_id with the
    * interval predicate as a post-join filter — at 100 TB the dim is
    * orders-of-magnitude smaller than facts (versions ≪ events), so the
    * join broadcasts or at worst shuffles the dim; never a range-only
    * join (which would plan BNL). Half-open intervals make a tie-stamped
    * version chain unambiguous: a zero-length version matches nothing,
    * identically in both engines. */
  private val etlDimAsof: Q = (s, dir) => {
    val ev = Tables.load(s, dir, "events")
    val dim = graft.ops.Curation.scd2(
        ev.filter(col("event_type") =!= "purchase")
          .select("user_id", "event_id", "event_type", "ts"),
        keyCol = "user_id", tsCol = "ts", idCol = "event_id")
      .select(col("user_id").as("d_user_id"),
        col("event_type").as("state"), col("valid_from"), col("valid_to"))
    val facts = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"))
    facts.join(dim,
        facts("user_id") === dim("d_user_id") &&
          facts("ts") >= dim("valid_from") &&
          (dim("valid_to").isNull || facts("ts") < dim("valid_to")))
      .groupBy("state")
      .agg(count(lit(1)).as("n"),
        expr("CAST(round(sum(CAST(value AS DECIMAL(18,2))), 4) AS DOUBLE)")
          .as("sum_value"))
      .orderBy(col("state").asc_nulls_first)
  }

  /** q_etl_dq — one-pass data-quality profile of `orders` (the ANALYZE
    * TABLE / ingest-gate pattern; ref: the schema the pydantic validator
    * enforces row-by-row at `web_scraper/web_scraping.py:232-247`,
    * re-expressed as a table-level audit): row count, per-column null
    * counts, exact distinct cardinalities, numeric/date ranges — one
    * aggregate job, no joins. The two exact count(DISTINCT) force one
    * Expand (×3 row replication) in exchange for exactness; the 100 TB
    * swap is `approx_count_distinct` (same query shape, constant-size
    * HLL partials — registered separately as q_agg_approx). */
  private val etlDq: Q = (s, dir) =>
    Tables.load(s, dir, "orders")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L))
          .as("custkey_nulls"),
        countDistinct(col("o_custkey")).as("custkey_distinct"),
        sum(when(col("o_totalprice").isNull, 1L).otherwise(0L))
          .as("price_nulls"),
        min("o_totalprice").as("price_min"),
        max("o_totalprice").as("price_max"),
        countDistinct(col("o_orderstatus")).as("status_distinct"),
        min("o_orderdate").as("date_min"),
        max("o_orderdate").as("date_max"))

  /** q_etl_dq_approx — the 100 TB twin of q_etl_dq: same one-pass
    * profile with `approx_count_distinct` (HLL++, rsd 0.05) in place of
    * the two exact count(DISTINCT). The exact profile pays an Expand ×3
    * (every input row replicated per distinct column); the sketch
    * version keeps ONE pass with constant-size partials, which is the
    * profile a petabyte table can actually afford. HLL estimates have
    * no DuckDB-equality oracle, so the REGISTERED readout is the
    * self-certifying bound form (the q_agg_approx device): the exact
    * profile's columns as oracle anchors plus ±3·rsd verdicts on the
    * two estimates; the production no-Expand plan property and the
    * estimate values stay pinned on [[etlDqApproxRaw]] in
    * SinksAndApproxSpec. */
  private[graft] val etlDqApproxRaw: Q = (s, dir) =>
    Tables.load(s, dir, "orders")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L))
          .as("custkey_nulls"),
        approx_count_distinct(col("o_custkey"), rsd = 0.05)
          .as("custkey_distinct_est"),
        sum(when(col("o_totalprice").isNull, 1L).otherwise(0L))
          .as("price_nulls"),
        min("o_totalprice").as("price_min"),
        max("o_totalprice").as("price_max"),
        approx_count_distinct(col("o_orderstatus"), rsd = 0.05)
          .as("status_distinct_est"),
        min("o_orderdate").as("date_min"),
        max("o_orderdate").as("date_max"))

  private val etlDqApprox: Q = (s, dir) => {
    val ests = etlDqApproxRaw(s, dir)
      .select(col("custkey_distinct_est").as("cde"),
        col("status_distinct_est").as("sde"))
    def ok(est: org.apache.spark.sql.Column, exact: String) =
      (abs(est - col(exact)).cast("double") <=
        lit(0.15) * col(exact).cast("double"))
    etlDq(s, dir).crossJoin(broadcast(ests))
      .select(col("n_rows"), col("custkey_nulls"),
        col("custkey_distinct"),
        ok(col("cde"), "custkey_distinct").as("custkey_est_ok"),
        col("price_nulls"), col("price_min"), col("price_max"),
        col("status_distinct"),
        ok(col("sde"), "status_distinct").as("status_est_ok"),
        col("date_min"), col("date_max"))
  }

  /** q_etl_snapshot_diff — table-diff between two warehouse snapshots
    * (the CDC-derivation / data-reconciliation pattern: "what changed
    * between yesterday's load and today's?"): full outer join on the
    * key, rows classified added / removed / changed / unchanged by
    * DIRECT column comparison — never by hashing floats, whose string
    * formatting is engine-specific — then one summary row per class
    * with the exact decimal sum of price deltas. Snapshots derive
    * deterministically from `orders` (the same version grammar as
    * q_etl_upsert). One co-keyed shuffle join + a 4-group aggregate; at
    * 100 TB both sides bucket on the key and the join is
    * exchange-free. */
  private val etlSnapshotDiff: Q = (s, dir) => {
    val o = Tables.load(s, dir, "orders")
    val snapA = o.filter(col("o_orderkey") % 4 =!= 3)
      .select(col("o_orderkey").as("key"),
        col("o_orderstatus").as("status_a"),
        col("o_totalprice").as("price_a"))
    val snapB = o.select(col("o_orderkey").as("key"),
        when(col("o_orderkey") % 2 === 1, lit("U"))
          .otherwise(col("o_orderstatus")).as("status_b"),
        when(col("o_orderkey") % 2 === 1,
          expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) " +
            "* CAST(1.1 AS DECIMAL(2,1)) AS DOUBLE)"))
          .otherwise(col("o_totalprice")).as("price_b"))
    snapA.join(snapB, Seq("key"), "full_outer")
      .withColumn("class",
        when(col("status_a").isNull, "added")
          .when(col("status_b").isNull, "removed")
          .when(col("status_a") =!= col("status_b") ||
            col("price_a") =!= col("price_b"), "changed")
          .otherwise("unchanged"))
      .groupBy("class")
      .agg(count(lit(1)).as("n"),
        min("key").as("min_key"), max("key").as("max_key"),
        // scale-3 decimals: the mutated price is exactly 3-decimal
        // (decimal ×1.1 of a 2-decimal value), so its double sits 1e-13
        // from the 3-decimal grid and the cast recovers it identically
        // in both engines; a scale-2 cast would land on x.xx5 HALF-UP
        // boundaries where the engines' double→decimal rounding differs
        expr("CAST(round(sum(CAST(coalesce(price_b, 0) AS DECIMAL(19,3))" +
          " - CAST(coalesce(price_a, 0) AS DECIMAL(19,3))), 4) AS DOUBLE)")
          .as("sum_delta"))
      .orderBy("class")
  }

  /** Per user, the symbols of its first 50 events under the total
    * (ts, event_id) order, joined by `sep` into column `name`; `symbol`
    * maps each event_type to its symbol (q_evt_paths, q_evt_match).
    * The row_number pre-cap plans as the WindowGroupLimit kernel, so a
    * hot user's tail is dropped before the collect. */
  private def userSequences(s: SparkSession, dir: String, name: String,
                            sep: String)(symbol: Column => Column)
      : DataFrame =
    Tables.load(s, dir, "events")
      .withColumn("rn", row_number().over(
        Window.partitionBy("user_id").orderBy("ts", "event_id")))
      .filter(col("rn") <= 50)
      .groupBy("user_id")
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"),
            col("event_type")))),
          x => symbol(x.getField("event_type"))), sep).as(name))

  /** q_evt_paths — clickstream path analysis: each user's event-type
    * sequence (time order, capped at the first 50 events) becomes a
    * path string, then paths are counted and the top 20 kept — the
    * "what do journeys look like" query behind funnel design. The cap
    * is applied BEFORE the collect: a `row_number() <= 50` window
    * filter (WindowGroupLimit kernel — partial per-partition top-50,
    * no full sort) drops a hot user's tail upstream, so the
    * aggregation buffer holds at most 50 structs per user — a bot key
    * with 10⁸ events costs its partitions a streaming rank, never an
    * in-memory array. The (ts, event_id) order key is total, so the
    * pre-cap selects exactly the events the post-cap slice kept and
    * both engines build the identical string; the path aggregate
    * shuffles ≤50 rows per user, the count one row per distinct path. */
  private val evtPaths: Q = (s, dir) =>
    userSequences(s, dir, "path", ">")(t => t)
      .groupBy("path")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(20)

  /** q_evt_match — MATCH_RECOGNIZE-style sequence pattern matching
    * (complex event processing) over per-user ordered event streams:
    * count each user's non-overlapping conversion episodes —
    * `view`, then anything but a purchase, then `purchase` — and
    * report the corpus distribution of episode counts. The pattern runs
    * as a REGEX over the user's symbolized event sequence (one char per
    * event, first letter of the type — v/c/e/s/p are distinct here),
    * the classical CEP-as-regex reduction: the symbol string is built
    * with q_evt_paths' pre-cap machinery (row_number ≤ 50 under the
    * total (ts, event_id) order — the WindowGroupLimit kernel bounds a
    * hot user's state BEFORE the collect), then ONE codegen'd
    * `regexp_count` per user answers the pattern. The regex stays in
    * the Java∩RE2 portable subset (literal, negated char class, star)
    * so both engines' leftmost non-overlapping scan is identical — the
    * q_text_scrub portability rule. Shape: one shuffle on user_id, ≤50
    * rows per user into the aggregate, then a distribution-sized
    * group-by; at 100 TB the regex scan is embarrassingly parallel over
    * ≤50-char strings. */
  private val evtMatch: Q = (s, dir) =>
    userSequences(s, dir, "seq", "")(t => substring(t, 1, 1))
      .select(
        length(col("seq")).cast("long").as("len"),
        regexp_count(col("seq"), lit("v[^p]*p")).cast("long")
          .as("episodes"))
      .groupBy("episodes")
      .agg(count(lit(1)).as("n_users"), sum("len").as("sum_len"))
      .orderBy("episodes")

  /** q_etl_wap — write-audit-publish round trip
    * ([[graft.etl.Sinks.publishAudited]]): orders staged to a scratch
    * dir, the STAGED FILES audited (row conservation, key non-null,
    * key unique), then atomically renamed to the published path and
    * read back for the summary aggregate — readers can never observe a
    * partial or failed load. The producer-side expected count comes
    * from an [[org.apache.spark.sql.Observation]] riding the staged
    * write itself (the commit-stats pattern) — one scan of the source,
    * not a write plus a second counting scan; at 100 TB the saved scan
    * is the whole point. The oracle aggregates the source table:
    * publish-then-read must be content-neutral. */
  private val etlWap: Q = (s, dir) => {
    val stage = SourceQueries.freshSinkDir("wap_stage")
    val pub = SourceQueries.freshSinkDir("wap_pub")
    val produced = org.apache.spark.sql.Observation()
    Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .observe(produced, count(lit(1)).as("rows"))
      .write.mode("overwrite").parquet(stage)
    graft.etl.Sinks.publishAudited(s, stage, pub,
      keyCol = "o_orderkey",
      expectedRows = produced.get.apply("rows").asInstanceOf[Long])
    // (Observation.get blocks until the write's QueryExecution ends, so
    // the audit always sees the final count)
    s.read.parquet(pub)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        expr("CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 4) " +
          "AS DOUBLE)").as("sum_price"),
        min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))
      .orderBy("o_orderstatus")
  }

  /** q_etl_compact — small-files compaction round trip
    * ([[graft.etl.Sinks.compact]]): events written as 16 deliberate
    * shards, compacted to 2 right-sized files, read back and
    * aggregated — content must survive both rewrites exactly (the
    * oracle aggregates the source parquet). The file-count reduction
    * itself is asserted in SinksAndApproxSpec; at 100 TB this is the
    * nightly maintenance job that keeps scan cost ∝ bytes, not
    * ∝ file count. */
  private val etlCompact: Q = (s, dir) => {
    val small = SourceQueries.freshSinkDir("compact_small")
    val out = SourceQueries.freshSinkDir("compact_out")
    Tables.load(s, dir, "events")
      .select("event_id", "user_id", "event_type", "value")
      .repartition(16)
      .write.mode("overwrite").parquet(small)
    graft.etl.Sinks.compact(s, small, out, targetFiles = 2)
    s.read.parquet(out)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        expr("CAST(round(sum(CAST(value AS DECIMAL(18,2))), 4) AS DOUBLE)")
          .as("sum_value"),
        min("event_id").as("min_id"), max("event_id").as("max_id"))
      .orderBy(col("event_type").asc_nulls_first)
  }

  /** q_etl_schema_evolve — schema-evolution read: a warehouse directory
    * whose older files predate a column (the reference added fields to
    * its scraped schema over time — `web_scraping.py:232-247`'s optional
    * fields are exactly fossilized schema versions). V1 files (no
    * event_type) and V2 files land in one dir; `mergeSchema` unions the
    * footers and back-fills nulls, and the aggregate buckets legacy rows
    * explicitly. At 100 TB this is why columnar evolution beats
    * rewrite-the-table: old files are never touched, the scan pays one
    * footer-union at planning. The oracle rebuilds the same V1/V2 split
    * arithmetically from the source table. */
  private val etlSchemaEvolve: Q = (s, dir) => {
    val out = SourceQueries.freshSinkDir("schema_evolve")
    val ev = Tables.load(s, dir, "events")
    // coalesce(4): the fixture halves are a few MB each — inheriting the
    // session's 32 shuffle partitions wrote ~64 tiny files whose open/
    // close/footer overhead dominated the op (r9: 6.67 s). Four files per
    // schema version still exercises the footer-union path.
    ev.filter(col("event_id") % 2 === 0)
      .select("event_id", "user_id", "value")
      .coalesce(4)
      .write.mode("overwrite").parquet(out)
    ev.filter(col("event_id") % 2 === 1)
      .select("event_id", "user_id", "event_type", "value")
      .coalesce(4)
      .write.mode("append").parquet(out)
    s.read.option("mergeSchema", "true").parquet(out)
      .groupBy(coalesce(col("event_type"), lit("legacy")).as("bucket"))
      .agg(count(lit(1)).as("n"),
        expr("CAST(round(sum(CAST(value AS DECIMAL(18,2))), 4) AS DOUBLE)")
          .as("sum_value"))
      .orderBy("bucket")
  }

  /** q_evt_retention — weekly cohort retention matrix: users are
    * cohorted by the week of their FIRST event; each (cohort_week,
    * week_offset) cell counts the cohort's users still active that many
    * weeks later — the engagement readout behind every growth dashboard
    * (the reference's resume anti-join, `web_scraping.py:513-521`, is
    * the degenerate "seen before?" form of this per-entity-history
    * question). Dataflow: ONE exchange on user_id — `collect_set(week)`
    * dedups, and the same per-user row yields both the cohort
    * (`array_min`) and the grid (`explode`), so there is no separate
    * distinct, no join, and no second shuffle (a distinct-(user,week)
    * grid + join-back plan hashes on (user_id, week), which does NOT
    * satisfy the join's user_id clustering and re-shuffles — verified
    * via EXPLAIN before this rewrite). Per-user state is the user's
    * distinct ACTIVE WEEKS — bounded by the calendar (~52/yr), not by
    * event volume, so a billion-event bot costs the same buffer as a
    * weekly-active human. Week truncation + day arithmetic is
    * integer-exact on both engines (Monday-start weeks in Spark and
    * DuckDB both). */
  private val evtRetention: Q = (s, dir) => {
    Tables.load(s, dir, "events")
      .select(col("user_id"),
        to_date(date_trunc("week", col("ts"))).as("week"))
      .groupBy("user_id")
      .agg(collect_set(col("week")).as("weeks"))
      .select(array_min(col("weeks")).as("cohort_week"),
        explode(col("weeks")).as("week"))
      .groupBy(col("cohort_week"),
        (datediff(col("week"), col("cohort_week")) / 7).cast("int")
          .as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_week", "week_offset")
  }

  /** q_etl_contract — data-contract enforcement audit: a declared rule
    * set (not-null + domain + range policy bounds on orders/lineitem,
    * plus the cross-table temporal invariant ship ≥ order) evaluated
    * in bulk, reporting checked/violation counts and rate per rule —
    * the ingest-gate report a contract-checked lake publishes per
    * batch (q_etl_dq profiles what IS; this judges against what the
    * contract SAYS). Scale shape: ALL single-table rules for a table
    * ride ONE conditional-aggregate scan (violation predicates as
    * `count(CASE ...)` in a single agg — never a scan per rule), the
    * temporal rule is one co-keyed join aggregate, and the per-rule
    * readout is a constant-width unpivot of those 1-row results.
    * NULL handling is explicit in every predicate (NULL violates a
    * not-null'd bound), so both engines count identically; counts are
    * integers, the rate divides once (`try_divide`: an empty table
    * gives a NULL rate, DuckDB's x/0). */
  private val etlContract: Q = (s, dir) => {
    val o = Tables.load(s, dir, "orders")
    val l = Tables.load(s, dir, "lineitem")
    val oAgg = o.agg(count(lit(1)).as("n"),
      count(when(col("o_totalprice").isNull ||
        col("o_totalprice") <= 0 ||
        col("o_totalprice") > 400000, 1)).as("v_price"),
      count(when(col("o_orderdate").isNull ||
        col("o_orderdate") < to_date(lit("1992-01-01")) ||
        col("o_orderdate") > to_date(lit("1998-12-31")), 1)).as("v_date"),
      count(when(col("o_orderstatus").isNull ||
        !col("o_orderstatus").isin("O", "F", "P"), 1)).as("v_status"))
    val lAgg = l.agg(count(lit(1)).as("n"),
      count(when(col("l_quantity").isNull ||
        col("l_quantity") < 1 || col("l_quantity") > 45, 1)).as("v_qty"),
      count(when(col("l_discount").isNull ||
        col("l_discount") < 0 || col("l_discount") > 0.08, 1))
        .as("v_disc"))
    val tAgg = l.select(col("l_orderkey"), col("l_shipdate"))
      .join(o.select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .agg(count(lit(1)).as("n"),
        count(when(col("l_shipdate").isNull ||
          col("l_shipdate") < col("o_orderdate"), 1)).as("v_ship"))
    def row(agg: DataFrame, rule: String, v: String) =
      agg.select(lit(rule).as("rule"), col("n").as("n_checked"),
        col(v).as("n_violations"))
    row(oAgg, "orders.totalprice_in_(0,400000]", "v_price")
      .unionAll(row(oAgg, "orders.orderdate_in_1992_1998", "v_date"))
      .unionAll(row(oAgg, "orders.status_in_OFP", "v_status"))
      .unionAll(row(lAgg, "lineitem.quantity_in_[1,45]", "v_qty"))
      .unionAll(row(lAgg, "lineitem.discount_in_[0,0.08]", "v_disc"))
      .unionAll(row(tAgg, "lineitem.shipdate_gte_orderdate", "v_ship"))
      .withColumn("viol_rate",
        round(try_divide(col("n_violations").cast("double"),
          col("n_checked")), 4))
      .orderBy("rule")
  }

  /** q_evt_lifecycle — weekly growth accounting: every active
    * (user, week) is classified NEW (first-ever week), RETAINED
    * (also active the prior week), or RESURRECTED (returning after a
    * gap), and users active in week w but not w+7 emit a CHURNED row
    * at w+7 — the four counters plus quick ratio
    * ((new+resurrected)/churned) that define every growth dashboard's
    * state-machine view of the user base (q_evt_retention gives the
    * cohort matrix; this gives the flow between states). Dataflow is
    * the retention trick extended: ONE exchange on user_id,
    * `sort_array(collect_set(week))` per user, and first/prev/next
    * week all read from the SAME sorted array via posexplode — no
    * window pass, no self-join, per-user state calendar-bounded
    * (~52/yr). The churn horizon is capped at the corpus max week
    * (a 1-row broadcast) so the final week doesn't emit phantom
    * churn. Week truncation and ±7-day arithmetic are integer-exact
    * and Monday-start on both engines. */
  private val evtLifecycle: Q = (s, dir) => {
    val wk = Tables.load(s, dir, "events")
      .select(col("user_id"),
        to_date(date_trunc("week", col("ts"))).as("week"))
      .groupBy("user_id")
      .agg(sort_array(collect_set(col("week"))).as("wks"))
    val maxw = wk.agg(max(array_max(col("wks"))).as("mw"))
    val grid = wk
      .select(col("wks"), posexplode(col("wks")).as(Seq("i", "w")))
      .withColumn("fw", col("wks").getItem(0))
      .withColumn("pw", when(col("i") > 0, col("wks")(col("i") - 1)))
      .withColumn("nw", when(col("i") < size(col("wks")) - 1,
        col("wks")(col("i") + 1)))
      .crossJoin(broadcast(maxw))
    val states = grid.select(col("w").as("week"),
      when(col("w") === col("fw"), "new")
        .when(col("pw") === date_sub(col("w"), 7), "retained")
        .otherwise("resurrected").as("kind"))
    val churned = grid
      .filter((col("nw").isNull || col("nw") > date_add(col("w"), 7)) &&
        date_add(col("w"), 7) <= col("mw"))
      .select(date_add(col("w"), 7).as("week"), lit("churned").as("kind"))
    states.unionAll(churned)
      .groupBy("week")
      .agg(count(when(col("kind") === "new", 1)).as("n_new"),
        count(when(col("kind") === "retained", 1)).as("n_retained"),
        count(when(col("kind") === "resurrected", 1)).as("n_resurrected"),
        count(when(col("kind") === "churned", 1)).as("n_churned"))
      .withColumn("quick_ratio",
        round(try_divide(
          (col("n_new") + col("n_resurrected")).cast("double"),
          col("n_churned")), 4))
      .orderBy("week")
  }

  /** q_evt_diversity — behavioral diversity profile per user:
    * event count, type richness (distinct types touched), and the
    * Simpson concentration index λ = Σ nᵢ(nᵢ−1) / (n(n−1)) — the
    * "is this account a single-action bot or a broad human" signal
    * bot-filtering and engagement-quality scoring read (λ→1 = all
    * events one type; low λ = spread). Everything is INTEGER — the
    * per-(user, type) counts, the Σnᵢ(nᵢ−1) numerator, the n(n−1)
    * denominator — until ONE division (try_divide: a single-event
    * user has n(n−1)=0, λ undefined → NULL, ≡ DuckDB x/0). Two-phase
    * shape: (user, type) counts collapse map-side, then a user-level
    * rollup; per-user output keeps the readout row-exact (no
    * cross-user float averaging anywhere). */
  private val evtDiversity: Q = (s, dir) =>
    Tables.load(s, dir, "events")
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("c"))
      .groupBy("user_id")
      .agg(sum("c").as("n_events"),
        count(lit(1)).as("richness"),
        sum(col("c") * (col("c") - 1)).as("num"))
      .withColumn("simpson",
        round(try_divide(col("num").cast("double"),
          col("n_events") * (col("n_events") - 1)), 4))
      .select("user_id", "n_events", "richness", "simpson")
      .orderBy("user_id")

  /** q_evt_funnel_time — time-to-convert distribution: latency from
    * each user's FIRST view to their FIRST purchase (counted only
    * when the purchase follows), as interpolated percentiles — the
    * "how long does the funnel take" readout that turns q_evt_funnel's
    * reach counts into an SLA (p90 time-to-convert is what growth and
    * capacity teams actually page on). Exactness: latencies are
    * INTEGER microseconds (unix_micros ≡ DuckDB epoch_us — no float
    * timestamp arithmetic); the exact interpolated percentile over
    * integers is the established quantile parity; ONE division per
    * readout converts to seconds. Two-phase: per-user first-event
    * timestamps collapse map-side (conditional min — one corpus
    * scan), the percentile profile aggregates ≤users rows. */
  private val evtFunnelTime: Q = (s, dir) => {
    val firsts = Tables.load(s, dir, "events")
      .groupBy("user_id")
      .agg(min(when(col("event_type") === "view",
        unix_micros(col("ts")))).as("v_us"),
        min(when(col("event_type") === "purchase",
          unix_micros(col("ts")))).as("p_us"))
    firsts
      .withColumn("lat_us",
        when(col("p_us") > col("v_us"), col("p_us") - col("v_us")))
      .agg(count(lit(1)).as("n_users"),
        count(col("lat_us")).as("n_converted"),
        round(count(col("lat_us")).cast("double") / count(lit(1)), 4)
          .as("conv_rate"),
        round(expr("percentile(lat_us, 0.25)") / lit(1000000.0), 4)
          .as("p25_sec"),
        round(expr("percentile(lat_us, 0.5)") / lit(1000000.0), 4)
          .as("p50_sec"),
        round(expr("percentile(lat_us, 0.75)") / lit(1000000.0), 4)
          .as("p75_sec"),
        round(expr("percentile(lat_us, 0.9)") / lit(1000000.0), 4)
          .as("p90_sec"))
  }

  /** q_evt_seqpairs — ordered co-occurrence mining over user
    * timelines: for every ordered type pair (a, b), how many users
    * did a STRICTLY BEFORE b (∃ tₐ < t_b ⟺ min(tₐ) < max(t_b)) —
    * sequence-pattern support with arbitrary gap, the complement of
    * q_evt_markov's CONSECUTIVE transition counts (markov sees
    * a→x→b as a→x; this still credits a→b). The min/max trick makes
    * gap-tolerant support a CONTRACTION: per-(user, type) min/max
    * timestamps collapse map-side in one corpus scan, and the pair
    * join is a per-user self-join of ≤k rows — k² bounded fan-out,
    * co-keyed, never corpus×corpus. Integer microsecond comparisons
    * only; one division for the support rate among users having
    * both types. */
  private val evtSeqpairs: Q = (s, dir) => {
    val spans = Tables.load(s, dir, "events")
      .groupBy("user_id", "event_type")
      .agg(min(unix_micros(col("ts"))).as("t_min"),
        max(unix_micros(col("ts"))).as("t_max"))
    val a = spans.select(col("user_id"), col("event_type").as("ta"),
      col("t_min").as("amin"))
    val b = spans.select(col("user_id"), col("event_type").as("tb"),
      col("t_max").as("bmax"))
    a.join(b, Seq("user_id"))
      .filter(col("ta") =!= col("tb"))
      .groupBy("ta", "tb")
      .agg(count(lit(1)).as("n_both"),
        count(when(col("amin") < col("bmax"), 1)).as("n_support"))
      .withColumn("support_rate",
        round(col("n_support").cast("double") / col("n_both"), 4))
      .orderBy("ta", "tb")
  }

  /** q_evt_ltv_cohort — cohort lifetime-value curve: users cohorted by
    * first-event week, revenue (event value) accumulated per
    * (cohort, week-offset) cell, reported as cumulative revenue per
    * cohort user — the LTV curve that prices acquisition (q_evt_retention
    * counts WHO comes back; this weighs WHAT they're worth when they
    * do). One corpus exchange on user_id: the same per-user row
    * yields the cohort (min week) and the per-week revenue map — the
    * retention contraction extended with decimal value sums. Cohort
    * sizes join back as a ≤weeks-row broadcast; the cumulative sum
    * runs over the tiny (cohort, offset) grid, decimal-exact, and the
    * per-user readout divides once per cell. */
  private val evtLtvCohort: Q = (s, dir) => {
    val perUser = Tables.load(s, dir, "events")
      .select(col("user_id"),
        to_date(date_trunc("week", col("ts"))).as("week"),
        col("value"))
      .groupBy("user_id", "week")
      .agg(expr("sum(CAST(value AS DECIMAL(18,2)))").as("rev"))
      .groupBy("user_id")
      .agg(min("week").as("cohort_week"),
        collect_list(struct(col("week"), col("rev"))).as("cells"))
    val grid = perUser
      .select(col("user_id"), col("cohort_week"),
        explode(col("cells")).as("cell"))
      .select(col("user_id"), col("cohort_week"),
        (datediff(col("cell.week"), col("cohort_week")) / 7).cast("int")
          .as("week_offset"),
        col("cell.rev").as("rev"))
      .groupBy("cohort_week", "week_offset")
      .agg(expr("sum(rev)").as("rev"))
    val sizes = perUser.groupBy("cohort_week")
      .agg(count(lit(1)).as("cohort_users"))
    val wCum = Window.partitionBy("cohort_week").orderBy("week_offset")
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.join(broadcast(sizes), "cohort_week")
      .withColumn("cum_rev", expr("sum(rev)").over(wCum))
      .select(col("cohort_week"), col("week_offset"), col("cohort_users"),
        expr("CAST(round(rev, 4) AS DOUBLE)").as("rev"),
        round(expr("CAST(cum_rev AS DOUBLE)") / col("cohort_users"), 4)
          .as("ltv_per_user"))
      .orderBy("cohort_week", "week_offset")
  }

  /** q_evt_slo_burn — SLO error-budget burn report: daily error rate
    * vs a declared 20% budget, the burn ratio (rate/budget), and the
    * CUMULATIVE budget consumption (Σerrors / (budget·Σevents)) —
    * the SRE readout that decides "can we ship or are we frozen"
    * (burn > 1 = eating budget faster than the SLO window refills
    * it). Integer discipline: daily and cumulative error/event
    * counts are integer (running sums over the ≤days grid), every
    * rate/ratio is one closed-form division of integer-derived
    * doubles with oracle-identical structure; the burning flag
    * compares the two engines' IDENTICAL division results, so no
    * rounding boundary exists. One corpus scan → daily grid;
    * everything after is grid-sized. */
  private val evtSloBurn: Q = (s, dir) => {
    val budget = 0.2
    val daily = Tables.load(s, dir, "events")
      .groupBy(to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n"),
        count(when(col("event_type") === "error", 1)).as("err"))
    val wCum = Window.orderBy("d")
      .rowsBetween(Window.unboundedPreceding, 0)
    daily
      .withColumn("cum_n", sum("n").over(wCum))
      .withColumn("cum_err", sum("err").over(wCum))
      .select(col("d"), col("n"), col("err"),
        round(col("err").cast("double") / col("n"), 4).as("err_rate"),
        round(col("err").cast("double") / col("n") / lit(budget), 4)
          .as("burn_ratio"),
        when(col("err").cast("double") / col("n") > budget, 1)
          .otherwise(0).as("burning"),
        round(col("cum_err").cast("double") /
          (lit(budget) * col("cum_n")), 4).as("cum_budget_used"))
      .orderBy("d")
  }

  /** q_evt_bot_score — composite bot-likelihood profile per user from
    * four contracted signals: volume (events/active-day), nocturnality
    * (share of events in 00:00–06:00 UTC), monotony (Simpson λ over
    * event types — q_evt_diversity's index), and metronome regularity
    * (coefficient of variation of inter-event gaps: a cron job's
    * σ/μ → 0, a human's ≫ 0, inverted so regular = high) — the
    * user-level curation filter that keeps scripted accounts out of a
    * training corpus. Exactness stack: every signal's numerator and
    * denominator is INTEGER (counts, microsecond gap sums and
    * square-sums via the q_agg_moments expansion) divided once; each
    * signal is ROUNDED to the 4-dp grid and the composite is a fixed
    * literal-weighted sum of exactly four on-grid terms in one
    * left-to-right expression — engine-identical. One exchange on
    * user_id carries all four signals (the gap moments ride a window
    * lag inside the same partitioning); top-20 by (score, user_id). */
  private val evtBotScore: Q = (s, dir) => {
    val ev = Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"),
        to_date(col("ts")).as("d"), hour(col("ts")).as("hr"))
    val wLag = Window.partitionBy("user_id").orderBy("us", "event_id")
    // gaps in integer SECONDS (micros div 10^6): keeps gap² and the
    // moment sums inside BIGINT on both engines (micros² would
    // overflow ANSI long arithmetic at month-scale gaps)
    val gapped = ev
      .withColumn("gap_us", col("us") - lag("us", 1).over(wLag))
      .withColumn("gap", expr("gap_us div 1000000"))
    val base = gapped.groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("d")).as("days"),
        count(when(col("hr") < 6, 1)).as("night"),
        sum("gap").as("gs"),
        sum(col("gap") * col("gap")).as("gs2"),
        count(col("gap")).as("gn"))
    val typed = ev.groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("c"))
      .groupBy("user_id")
      .agg(sum(col("c") * (col("c") - 1)).as("num"),
        sum("c").as("tn"))
    base.join(typed, "user_id")
      .withColumn("rate", round(col("n").cast("double") / col("days"), 4))
      .withColumn("nocturnal",
        round(col("night").cast("double") / col("n"), 4))
      .withColumn("monotony",
        round(try_divide(col("num").cast("double"),
          col("tn") * (col("tn") - 1)), 4))
      // CV² = var/mean² expands to integer sums: (gn·gs2 − gs²)/gs²;
      // regularity = 1/(1+CV²) — 1 for a perfect metronome, →0 for
      // bursty humans. try_divide guards the 1-event user (gs NULL).
      .withColumn("regularity",
        round(try_divide(lit(1.0),
          lit(1.0) + try_divide(
            (col("gn") * col("gs2") - col("gs") * col("gs")).cast("double"),
            (col("gs") * col("gs")).cast("double"))), 4))
      .withColumn("bot_score",
        round(lit(0.3) * col("rate") / lit(20.0) +
          lit(0.2) * col("nocturnal") +
          lit(0.2) * col("monotony") +
          lit(0.3) * col("regularity"), 4))
      .select("user_id", "n", "rate", "nocturnal", "monotony",
        "regularity", "bot_score")
      .orderBy(col("bot_score").desc, col("user_id"))
      .limit(20)
  }

  /** q_evt_heatmap — activity heatmap: event counts per (ISO weekday,
    * hour-of-day) cell plus each cell's share of its weekday — the
    * dashboard grid behind staffing, maintenance-window, and
    * anomaly-baseline decisions ("Tuesday 3 a.m. is quiet" is this
    * query). Integer counts from one two-phase aggregate over the
    * corpus (the 168-cell grid is the contraction); the share is one
    * division against the weekday total attached via a ≤7-row
    * broadcast. weekday(ts)+1 ≡ isodow, hour(ts) ≡ hour — the
    * established calendar parity. */
  private val evtHeatmap: Q = (s, dir) => {
    val cells = Tables.load(s, dir, "events")
      .groupBy((weekday(col("ts")) + lit(1)).as("dow"),
        hour(col("ts")).as("hr"))
      .agg(count(lit(1)).as("n"))
    val dowTot = cells.groupBy("dow").agg(sum("n").as("dn"))
    cells.join(broadcast(dowTot), "dow")
      .select(col("dow"), col("hr"), col("n"),
        round(col("n").cast("double") / col("dn"), 4).as("dow_share"))
      .orderBy("dow", "hr")
  }

  /** q_etl_impute — median imputation audit: values are sparsified
    * deterministically (event_id % 7 = 0 → NULL, the locf/interpolate
    * discipline for pricing a fill operator), each NULL is imputed
    * with its event type's EXACT median of the surviving values, and
    * the audit reports per type: observed/imputed counts, the imputed
    * median, and the mean before vs after — the ML-prep fill step
    * (median, not mean: one whale in the observed slice would drag
    * every imputed row with it). Two-phase: median profile per type
    * (exact interpolated percentile ≡ quantile_cont), ≤types-row
    * broadcast back, coalesce, aggregate. Means are decimal-exact
    * (2-dp values; the imputed median lands on the same grid after a
    * 2-dp round — pinned so the decimal cast is lossless on both
    * engines), divided once. */
  private val etlImpute: Q = (s, dir) => {
    val ev = Tables.load(s, dir, "events")
      .select(col("event_id"), col("event_type"),
        when(col("event_id") % 7 =!= 0, col("value")).as("v"))
    val med = ev.filter(col("v").isNotNull)
      .groupBy("event_type")
      .agg(round(expr("percentile(v, 0.5)"), 2).as("vmed"))
    ev.join(broadcast(med), "event_type")
      .withColumn("v_fill", coalesce(col("v"), col("vmed")))
      .groupBy("event_type")
      .agg(count(col("v")).as("n_observed"),
        count(when(col("v").isNull, 1)).as("n_imputed"),
        round(max("vmed"), 2).as("imputed_value"),
        round(expr("CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE)") /
          count(col("v")), 4).as("mean_observed"),
        round(expr("CAST(sum(CAST(v_fill AS DECIMAL(18,2))) AS DOUBLE)") /
          count(col("v_fill")), 4).as("mean_filled"))
      .orderBy(col("event_type").asc_nulls_first)
  }

  /** q_evt_attribution — last-touch attribution: each purchase is
    * credited to the user's most recent PRECEDING marketing touch
    * (view/click), the conversion-credit query of every funnel report.
    * One window pass: `last(touch, ignoreNulls) OVER (user, ts rows
    * unbounded-preceding → 1 preceding)` carries O(1) running state
    * (the latest touch seen so far) — no per-user collect, no
    * self-join of purchases against touches (which would shuffle the
    * event table twice and skew on hot users). Purchases with no prior
    * touch land in the NULL bucket ("organic"), identically in both
    * engines (DuckDB `IGNORE NULLS` + empty-frame semantics verified
    * empirically, round 8). */
  private val evtAttribution: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.load(s, dir, "events")
      .withColumn("last_touch",
        last(when(col("event_type").isin("view", "click"),
          col("event_type")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .groupBy("last_touch")
      .agg(count(lit(1)).as("n_conversions"),
        expr("CAST(round(sum(CAST(value AS DECIMAL(18,2))), 4) AS DOUBLE)")
          .as("revenue"))
      .orderBy(col("last_touch").asc_nulls_first)
  }

  /** q_evt_anomaly — z-score outlier scan: per-type moments in one
    * aggregate, broadcast back onto the stream, flag |z| > 2.5 — the
    * data-quality tripwire run over every metrics feed (and the scaled
    * form of the reference's regex quarantine `web_scraping.py:242-244`:
    * validate rows against a learned profile instead of a pattern).
    * The corpus NEVER shuffles: the stats side is a 5-row broadcast,
    * the flag is a per-row projection, so cost is two scans of the
    * fact table and the plan is identical at 100 TB. A single-member
    * group has NULL stddev → NULL z → filtered in both engines (NULL
    * comparison rejects). */
  private val evtAnomaly: Q = (s, dir) => {
    val ev = Tables.load(s, dir, "events")
    val stats = ev.groupBy("event_type")
      .agg(avg("value").as("mu"), stddev_samp("value").as("sigma"))
    ev.join(broadcast(stats), Seq("event_type"))
      // try_divide: a zero-variance event_type (every value identical,
      // n ≥ 2) has σ = 0, and a plain `/` under ANSI mode throws
      // DIVIDE_BY_ZERO — one constant-valued group would kill the
      // whole 100 TB scan. try_divide yields NULL z (deviation from a
      // zero-width profile is undefined), which the |z| filter drops —
      // exactly DuckDB's x/0 → NULL behavior, so both engines emit no
      // outliers for such groups.
      // the cut compares the ROUNDED z: row membership near the 2.5
      // boundary must sit on the same 4-dp grid as the output value,
      // or sub-ulp aggregate drift between engines could emit a
      // boundary row on one side only (the only failure rounding the
      // output alone cannot absorb)
      .withColumn("z",
        round(try_divide(col("value") - col("mu"), col("sigma")), 4))
      .filter(abs(col("z")) > 2.5)
      .select(col("event_id"), col("event_type"), col("value"), col("z"))
      .orderBy("event_id")
  }

  /** q_etl_backfill — partition backfill via DYNAMIC partition
    * overwrite: the warehouse is laid out by event_date; a corrected
    * slice (here: day-15 rows, values re-stated ×2) is written with
    * `partitionOverwriteMode=dynamic`, which replaces ONLY the
    * partitions present in the incoming data and leaves every other
    * day's files untouched. This is THE reprocessing primitive at
    * 100 TB — a late-data or bug-fix backfill rewrites one day, not
    * the table (static overwrite mode would truncate all of it — the
    * failure this option exists to prevent). Read-back aggregates per
    * day; the oracle restates the same day-15 correction
    * arithmetically from the source. */
  private val etlBackfill: Q = (s, dir) => {
    val out = SourceQueries.freshSinkDir("backfill")
    val ev = Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("value"),
        to_date(col("ts")).as("event_date"))
    ev.write.partitionBy("event_date").mode("overwrite").parquet(out)
    ev.filter(dayofmonth(col("event_date")) === 15)
      .withColumn("value", col("value") * 2)
      .write.partitionBy("event_date").mode("overwrite")
      .option("partitionOverwriteMode", "dynamic").parquet(out)
    s.read.schema(ev.schema).parquet(out)
      .groupBy("event_date")
      .agg(count(lit(1)).as("n"),
        expr("CAST(round(sum(CAST(value AS DECIMAL(18,2))), 4) AS DOUBLE)")
          .as("sum_value"))
      .orderBy("event_date")
  }

  /** q_etl_anonymize — k-anonymity masking (k=5) over the customer
    * quasi-identifiers (nation, market segment, account-balance band):
    * any row whose QI combination is shared by fewer than k customers
    * gets its QI generalized to '*' — the re-identification guard a
    * training-data pipeline applies before user-derived records leave
    * the trust boundary (the privacy dual of q_text_scrub's PII regex:
    * scrub hides values, k-anonymity hides MEMBERSHIP in small
    * groups). One window count over the QI composite — per-row output,
    * no row is dropped (suppression must be auditable), group state is
    * one counter. The balance band (floor/5000) is integer-exact on
    * both engines; its width is chosen so the k threshold genuinely
    * bifurcates the fixtures (PipelinePatternSpec pins both branches
    * at sf0.01 — and sf0.1 still suppresses rows, so the guard is not
    * a small-data artifact). */
  private val etlAnonymize: Q = (s, dir) => {
    val band = floor(col("c_acctbal") / 5000).cast("long")
    val n = count(lit(1)).over(
      Window.partitionBy(col("c_nationkey"), col("c_mktsegment"), band))
    Tables.load(s, dir, "customer")
      .select(col("c_custkey"),
        col("c_nationkey"), col("c_mktsegment"), band.as("bal_band"),
        (n < 5).as("suppressed"))
      .select(col("c_custkey"),
        when(col("suppressed"), lit("*"))
          .otherwise(col("c_nationkey").cast("string")).as("nation_g"),
        when(col("suppressed"), lit("*"))
          .otherwise(col("c_mktsegment")).as("segment_g"),
        when(col("suppressed"), lit("*"))
          .otherwise(col("bal_band").cast("string")).as("band_g"),
        col("suppressed"))
      .orderBy("c_custkey")
  }

  /** q_evt_markov — first-order event-transition matrix: for every
    * observed (from → to) consecutive event-type pair within a user's
    * timeline, the transition count and row-normalized probability —
    * the Markov-chain readout behind next-action prediction and
    * journey simulation (q_evt_paths' full sequences marginalized to
    * pairwise structure, so it stays O(k²) however long histories
    * get). ONE window pass: `lead(event_type)` over (user, ts,
    * event_id) carries one row of state; the pair aggregate is
    * two-phase (map-side partials collapse the scan) and the
    * probability normalization is a window over the k×k matrix —
    * constant-size whatever the corpus. The (ts, event_id) order key
    * is total, so consecutive pairs are identical on both engines. */
  private val evtMarkov: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.load(s, dir, "events")
      .withColumn("to_type", lead("event_type", 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p",
        round(col("n").cast("double") /
          sum("n").over(Window.partitionBy("from_type")), 4))
      .orderBy(col("from_type").asc_nulls_first, col("to_type"))
  }

  /** q_evt_rfm — RFM segmentation: per user, Recency (last event ts),
    * Frequency (event count) and Monetary (purchase revenue) collapse
    * to quartile scores 1 (best) … 4, concatenated into the segment
    * label ("111" = recent, frequent, high-spend) — the
    * customer-value stratification every lifecycle campaign keys on.
    * The user-grain rollup is one two-phase aggregate (state per user
    * = 3 numbers); scores are exact quartiles over (metric, user_id) —
    * total order, so quartile boundaries are deterministic on both
    * engines. Each quartile comes from a DISTRIBUTED global rank
    * ([[graft.ops.Relational.globalRowNumber]]: range-partition +
    * per-partition counts + local indices) fed into the closed-form ntile
    * bucket formula — no single-partition sort at any user count;
    * beyond exactness requirements, approx-quantile cut points
    * broadcast back (the q_evt_anomaly shape) trade boundary ties for
    * one less shuffle. Monetary sums decimal-exact
    * (summation-order-free), and ranking compares the decimal, never
    * a rounded double. */
  private val evtRfm: Q = (s, dir) => {
    val u = Tables.load(s, dir, "events")
      .groupBy("user_id")
      .agg(max("ts").as("last_ts"),
        count(lit(1)).as("n_events"),
        coalesce(sum(when(col("event_type") === "purchase",
            col("value").cast("decimal(18,2)"))),
          lit(java.math.BigDecimal.ZERO).cast("decimal(18,2)"))
          .as("monetary_d"))
    // three DISTRIBUTED global ranks + the closed-form ntile bucket
    // formula — the entity-grain sorts never single-partition; each
    // order is total via the user_id tiebreak. r19: the three
    // per-metric ranks fold into ONE global row numbering over the
    // 3n-row metric union — each metric's descending order is encoded
    // as an ascending exact decimal (negated micros / count / cents,
    // all lossless in decimal(38,6)), blocks are contiguous in
    // (metric_id, enc, user_id) order and each holds exactly n rows,
    // so per-metric rank = global rank − (metric_id − 1)·n, and n is
    // a third of the numbering's row count. One range shuffle + one
    // offsets pass instead of three chained ones; ranks — and
    // therefore ntile buckets — are unchanged.
    import graft.ops.PrefixSweep
    val tall = u.select(col("user_id"), col("monetary_d"), explode(array(
        struct(lit(1).as("m"),
          (-unix_micros(col("last_ts"))).cast("decimal(38,6)").as("enc")),
        struct(lit(2).as("m"),
          (-col("n_events")).cast("decimal(38,6)").as("enc")),
        struct(lit(3).as("m"),
          (-col("monetary_d")).cast("decimal(38,6)").as("enc"))))
        .as("e"))
      .select(col("user_id"), col("monetary_d"),
        col("e.m").as("m"), col("e.enc").as("enc"))
    val (swept, n3) = graft.ops.Relational.globalRowNumberWithCount(tall,
      Seq(col("m"), col("enc"), col("user_id")), "grk")
    val nU = lit(n3 / 3)
    val ranked = swept
      .withColumn("rk", col("grk") - (col("m") - 1).cast("long") * nU)
      .groupBy("user_id")
      .agg(max(when(col("m") === 1, col("rk"))).as("rrnk"),
        max(when(col("m") === 2, col("rk"))).as("frnk"),
        max(when(col("m") === 3, col("rk"))).as("mrnk"),
        max(col("monetary_d")).as("monetary_d"))
    ranked
      .select(col("user_id"),
        PrefixSweep.ntileOf(col("rrnk"), nU, 4).as("r_score"),
        PrefixSweep.ntileOf(col("frnk"), nU, 4).as("f_score"),
        PrefixSweep.ntileOf(col("mrnk"), nU, 4).as("m_score"),
        col("monetary_d").cast("double").as("monetary"))
      .withColumn("segment",
        concat(col("r_score").cast("string"), col("f_score").cast("string"),
          col("m_score").cast("string")))
      .orderBy("user_id")
  }

  /** q_etl_cdc_apply — ordered changelog application: a stream of
    * keyed upsert/delete operations (op synthesized deterministically:
    * every 10th event_id is a DELETE, the rest UPSERTs) collapses to
    * the final table state — latest op per key wins, keys whose latest
    * op is a delete vanish. This is the materialization primitive
    * under every CDC-fed lake table (Debezium → merge), and it is NOT
    * q_etl_upsert: upsert merges two static sides, this folds an
    * ordered op LOG where later ops shadow earlier ones and deletes
    * erase. One `row_number() = 1` pass over (key, ts DESC, event_id
    * DESC) — plans as WindowGroupLimit (streaming rank, per-key state
    * = one row, the q_evt_paths pre-cap machinery), then the delete
    * filter. The (ts, event_id) order key is total, so "latest" is
    * identical on both engines. */
  private val etlCdcApply: Q = (s, dir) => {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.load(s, dir, "events")
      .withColumn("op",
        when(col("event_id") % 10 === 0, lit("D")).otherwise(lit("U")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") === "U")
      .select(col("user_id"), col("ts").as("last_ts"),
        col("event_type").as("last_type"),
        round(col("value"), 4).as("last_value"))
      .orderBy("user_id")
  }

  /** q_etl_resample — calendar-spine resampling with forward fill:
    * each user's sparse daily activity is projected onto a dense
    * per-user day spine (their own [min, max] date range), missing
    * days LOCF-filled from the last observed day — the gap-free
    * time-series shape feature windows and charting layers require
    * (the dense-grid generalization of q_dt_series' single global
    * spine, and the per-entity use of q_win_locf's fill). Dataflow:
    * decimal-exact per-(user, day) rollup → per-user span aggregate →
    * `sequence()` explode builds the spine WITHOUT a cross join
    * (span rows × span length, generated not shuffled) → co-keyed
    * left join (shares the user_id partitioning) → one LOCF window.
    * Per-user state: one date pair + one running value; spine size is
    * bounded by the observed span, never the calendar. */
  private val etlResample: Q = (s, dir) => {
    val daily = Tables.load(s, dir, "events")
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("day_value"))
    val spine = daily.groupBy("user_id")
      .agg(min("day").as("d0"), max("day").as("d1"))
      .select(col("user_id"),
        explode(sequence(col("d0"), col("d1"))).as("day"))
    spine.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        col("day_value").isNotNull.as("observed"),
        last("day_value", ignoreNulls = true)
          .over(Window.partitionBy("user_id").orderBy("day")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double").as("filled_value"))
      .orderBy("user_id", "day")
  }

  /** q_etl_skew_profile — key-distribution audit: group sizes per key
    * (events.user_id) reduced to the skew statistics that decide a
    * join/agg strategy at 100 TB — key count, max group, exact p50/p99
    * group-size percentiles, max/avg skew ratio, and the hottest key's
    * share of all rows. This is the query you run BEFORE choosing
    * broadcast vs salt vs AQE for any key in SCALE.md — the engine
    * profiling its own data. Two-phase count per key, then a
    * single-row reduce; the percentile buffer holds group SIZES (key
    * cardinality, not rows). Spark's exact `percentile` interpolates
    * identically to DuckDB `quantile_cont` (the q_agg_quantile
    * parity); the ratio divisions are O(1)–O(10³) doubles → 4 dp. */
  private val etlSkewProfile: Q = (s, dir) =>
    Tables.load(s, dir, "events")
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).cast("long").as("n_keys"),
        sum("n").cast("long").as("n_rows"),
        max("n").cast("long").as("max_n"),
        round(expr("percentile(n, 0.5)"), 4).as("p50_n"),
        round(expr("percentile(n, 0.99)"), 4).as("p99_n"),
        round(max("n") / avg("n"), 4).as("skew_ratio"),
        round(max("n").cast("double") / sum("n"), 6).as("top_share"))

  /** q_etl_purge — GDPR/CCPA erasure propagation: a deletion-request
    * list (customers with `c_custkey % 53 = 0` standing in for the
    * request table) cascades through the foreign-key graph — the
    * customer rows themselves, their orders, and those orders'
    * lineitems — and the audit reports purged/kept counts per table,
    * the compliance evidence a deletion run must produce. Scale shape:
    * the request list is regulation-scale (thousands of keys, not
    * billions) → it BROADCASTS, and each fact table streams map-side
    * past a hash probe — no fact shuffle anywhere. The lineitem
    * cascade needs the purged ORDER keys, one extra broadcast hop
    * derived from the same probe (orders × request list, semi); if a
    * deletion wave ever outgrows broadcast, the same plan degrades
    * gracefully to co-keyed shuffle joins. Flag-and-count here (the
    * audit half); the physical rewrite is q_etl_backfill's
    * partition-overwrite pattern applied to the flagged partitions. */
  private val etlPurge: Q = (s, dir) => {
    val requested = col("c_custkey") % 53 === 0
    val customer = Tables.load(s, dir, "customer")
    val del = customer.filter(requested).select(col("c_custkey").as("del_key"))
    val orders = Tables.load(s, dir, "orders")
    val purgedOrders = orders
      .join(broadcast(del), col("o_custkey") === col("del_key"), "semi")
      .select(col("o_orderkey").as("del_order"))
    val custAudit = customer.agg(
      lit("customer").as("tbl"),
      count(when(requested, lit(1))).as("n_purged"),
      count(when(!requested, lit(1))).as("n_kept"))
    val ordAudit = orders
      .join(broadcast(del), col("o_custkey") === col("del_key"), "left")
      .agg(lit("orders").as("tbl"),
        count(when(col("del_key").isNotNull, lit(1))).as("n_purged"),
        count(when(col("del_key").isNull, lit(1))).as("n_kept"))
    val liAudit = Tables.load(s, dir, "lineitem")
      .join(broadcast(purgedOrders),
        col("l_orderkey") === col("del_order"), "left")
      .agg(lit("lineitem").as("tbl"),
        count(when(col("del_order").isNotNull, lit(1))).as("n_purged"),
        count(when(col("del_order").isNull, lit(1))).as("n_kept"))
    custAudit.unionAll(ordAudit).unionAll(liAudit).orderBy("tbl")
  }

  /** q_etl_purge_bloom — the SCALE TWIN of [[etlPurge]]: the same
    * customer → orders → lineitems erasure cascade and audit, for the
    * deletion wave that OUTGROWS broadcast (a billion-key list can't
    * ship as an exact hash relation). Each fact is prefiltered
    * map-side through a distributed-built Bloom filter over the key
    * list, then the surviving sliver finishes with an exact co-keyed
    * semi-join ([[graft.ops.Relational.bloomSemiLong]]) — so the audit
    * is EXACT: no false negatives by Bloom construction, false
    * positives removed by the semi-join (a compliance purge may never
    * touch an innocent row; fpp only inflates the candidate shuffle).
    * The lineitem hop chains a second filter built over the purged
    * ORDER keys. Kept/purged totals come from one pruned count per
    * fact crossed with the purged count — the fact is never scanned
    * twice through the probe. Results are identical to [[etlPurge]]
    * by construction (pinned in PipelinePatternSpec); the oracle is
    * the same exact-membership SQL. */
  private val etlPurgeBloom: Q = (s, dir) => {
    val requested = col("c_custkey") % 53 === 0
    val customer = Tables.load(s, dir, "customer")
    val del = customer.filter(requested)
      .select(col("c_custkey").as("del_key"))
    val orders = Tables.load(s, dir, "orders")
    // localCheckpoint: purgedOrders has THREE consumers (the lineitem
    // hop's bloom build — itself two eager actions —, its audit count,
    // and the exact semi-join's build side in the final readout); an
    // unshared plan re-runs the orders probe chain once per consumer.
    // One materialization of the purged sliver (tiny by construction —
    // it is the deletion wave) feeds all three (guide §5 reuse).
    val purgedOrders = graft.ops.Relational.bloomSemiLong(
      orders.select("o_orderkey", "o_custkey"), "o_custkey",
      del, "del_key").localCheckpoint()
    val lineitem = Tables.load(s, dir, "lineitem")
    val purgedLi = graft.ops.Relational.bloomSemiLong(
      lineitem.select("l_orderkey"), "l_orderkey",
      purgedOrders.select(col("o_orderkey").as("del_order")), "del_order")
    val custAudit = customer.agg(
      lit("customer").as("tbl"),
      count(when(requested, lit(1))).as("n_purged"),
      count(when(!requested, lit(1))).as("n_kept"))
    def audit(tbl: String, total: DataFrame, purged: DataFrame) =
      total.agg(count(lit(1)).as("n_total"))
        .crossJoin(purged.agg(count(lit(1)).as("n_purged")))
        .select(lit(tbl).as("tbl"), col("n_purged"),
          (col("n_total") - col("n_purged")).as("n_kept"))
    custAudit
      .unionAll(audit("orders", orders, purgedOrders))
      .unionAll(audit("lineitem", lineitem, purgedLi))
      .orderBy("tbl")
  }

  /** q_etl_zorder — multi-dimensional clustering layout (the
    * data-skipping primitive behind Delta/Iceberg `OPTIMIZE ZORDER`):
    * rewrite the fact sorted by a Morton interleave of (user_id,
    * day-of-year) so every output file's footer min/max covers a small
    * RECTANGLE of the (user, day) plane instead of a full stripe — a
    * predicate on EITHER dimension then prunes most files at planning
    * time, where a lexicographic sort only ever prunes on its leading
    * key. At 100 TB this is the difference between a point lookup
    * touching ~√F of F files and touching all of them. The z-value is
    * pure codegen'd long arithmetic
    * ([[graft.ops.Relational.zOrder2]], magic-mask bit spreading — no
    * UDF); `repartitionByRange(zv)` gives disjoint per-file z-ranges
    * (the rectangle property, asserted file-by-file in
    * LayoutInvarianceSpec) and ONE range shuffle is the entire
    * clustering cost. The registered readout aggregates per z-bucket
    * stats from the written files; the oracle recomputes the identical
    * Morton arithmetic from the source table — the write round-trip
    * must be value-preserving for them to agree. */
  private val etlZorder: Q = (s, dir) => {
    val out = SourceQueries.freshSinkDir("zorder")
    Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"),
        dayofyear(col("ts")).cast("long").as("doy"))
      .withColumn("zv",
        graft.ops.Relational.zOrder2(col("user_id"), col("doy")))
      .repartitionByRange(8, col("zv"))
      .sortWithinPartitions("zv")
      .write.mode("overwrite").parquet(out)
    s.read.parquet(out)
      .groupBy(shiftright(col("zv"), 8).as("zbucket"))
      .agg(count(lit(1)).as("n"),
        min("user_id").as("min_user"), max("user_id").as("max_user"),
        min("doy").as("min_doy"), max("doy").as("max_doy"))
      .orderBy("zbucket")
  }

  /** q_etl_incr_agg — incremental aggregate refresh (the materialized-
    * view discipline): history lives as STORED per-(day, type) partials
    * — counts and exact decimal sums, never ratios — and a refresh
    * merges the stored state with the new delta's partials by summing,
    * NEVER rescanning history. At 100 TB this is the difference between
    * a daily rollup costing one day of scan and costing the whole
    * table; it works because count/sum are algebraic (merge = sum of
    * partials) while avg is NOT — so the state schema stores (n, sv)
    * and derives avg at read, the one design rule that makes any
    * incremental pipeline correct. The delta deliberately includes
    * LATE rows for historical days (event_id % 101) so the merge
    * exercises the overlapping-key case — a refresh that only appends
    * new days would hide a broken merge. The oracle recomputes the
    * rollup from raw events directly: incremental ≡ full recompute IS
    * the semantic claim. */
  private val etlIncrAgg: Q = (s, dir) => {
    val ev = Tables.load(s, dir, "events")
      .select(col("event_id"), col("event_type"),
        to_date(col("ts")).as("day"),
        col("value").cast("decimal(18,2)").as("v"))
    val late = col("event_id") % 101 === 0
    val tagged = ev.crossJoin(broadcast(ev.agg(max("day").as("max_day"))))
    def partial(df: DataFrame) = df.groupBy("day", "event_type")
      .agg(count(lit(1)).as("n"), sum("v").as("sv"))
    val stateDir = SourceQueries.freshSinkDir("incr_state")
    partial(tagged.filter(col("day") < col("max_day") && !late))
      .coalesce(2).write.mode("overwrite").parquet(stateDir)
    val state = s.read.parquet(stateDir)
    val delta = partial(
      tagged.filter(col("day") === col("max_day") || late))
    state.unionByName(delta)
      .groupBy("day", "event_type")
      .agg(sum("n").as("n"), sum("sv").as("sv"))
      // avg at 4 dp via exact integer HALF-UP ((2·sv·10⁴ + n) DIV 2n;
      // sv is a 2-dp decimal and event values are non-negative by the
      // table contract): round(double(sv)/n, 4) hit a genuine .00005
      // boundary group at sf0.001 where the two engines' double-round
      // paths split by 1e-4 — the §7.5.20 sweep catch. The numerator
      // folds in DECIMAL(38,0), matching the oracle's HUGEINT — an
      // int64 numerator would overflow once a group's sum_value
      // passes ~4.6e14 while the oracle kept going (r18 ADVICE)
      .select(col("day"), col("event_type"), col("n"),
        expr("CAST(round(sv, 4) AS DOUBLE)").as("sum_value"),
        (expr("(2 * CAST(sv * 10000 AS DECIMAL(38,0)) + n)" +
          " DIV (2 * n)")
          .cast("double") / lit(10000.0)).as("avg_value"))
      .orderBy(col("day"), col("event_type").asc_nulls_first)
  }

  /** q_evt_abandon — conversion-window analysis: every `view` event
    * either converts (a purchase by the same user within 7 days) or is
    * abandoned; per-user totals are the funnel-leak readout behind
    * retargeting and UX triage. The "next purchase at-or-after me"
    * lookup is ONE window pass with O(1) running state: partition by
    * user ordered DESCENDING by (ts, event_id), a running `min` over
    * purchase timestamps in rows UNBOUNDED PRECEDING → 1 PRECEDING is
    * exactly the strictly-later minimum — the naive "min over
    * UNBOUNDED FOLLOWING" frame recomputes its aggregate per row
    * (O(n²) per partition in Spark's UnboundedFollowing frame); the
    * reversed running frame streams. Window arithmetic is integer µs
    * (`unix_micros` ≡ DuckDB `epoch_us` after the shared ns→µs
    * truncation), so the 7-day boundary is exact on both engines. */
  private val evtAbandon: Q = (s, dir) => {
    val wRev = Window.partitionBy("user_id")
      .orderBy(col("ts_us").desc, col("event_id").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.load(s, dir, "events")
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("next_purchase_us",
        min(when(col("event_type") === "purchase", col("ts_us"))).over(wRev))
      .filter(col("event_type") === "view")
      .withColumn("converted",
        col("next_purchase_us").isNotNull &&
          col("next_purchase_us") - col("ts_us") <= 604800000000L)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_views"),
        count(when(col("converted"), lit(1))).as("n_converted"),
        count(when(!col("converted"), lit(1))).as("n_abandoned"))
      .orderBy("user_id")
  }

  /** q_etl_partition_overwrite — dynamic partition overwrite: the
    * restatement primitive of a partitioned warehouse. The full events
    * table is laid out hive-style by event_type; a RESTATED slice of
    * one partition (error events with even ids — a "drop the corrupt
    * half" correction) is then written with
    * `partitionOverwriteMode=dynamic`, which replaces ONLY the
    * partitions present in the incoming frame and leaves every other
    * directory untouched — the static mode would silently truncate the
    * whole table to the restatement. The read-back aggregate proves
    * both halves: untouched partitions return their full counts, the
    * restated one returns exactly the restatement. At 100 TB this is
    * THE idempotent daily-restatement shape: the write cost is the
    * restated partition's bytes, never the table's, and re-running the
    * restatement converges to the same state. */
  private val etlPartitionOverwrite: Q = (s, dir) => {
    val out = SourceQueries.freshSinkDir("part_overwrite")
    val ev = Tables.load(s, dir, "events")
      .select("event_id", "user_id", "event_type", "value")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    ev.filter(col("event_type") === "error" && col("event_id") % 2 === 0)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("event_type").parquet(out)
    s.read.schema(ev.schema).parquet(out)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        expr("CAST(round(sum(CAST(value AS DECIMAL(18,2))), 4) " +
          "AS DOUBLE)").as("sum_value"),
        min("event_id").as("min_id"), max("event_id").as("max_id"))
      .orderBy(col("event_type").asc_nulls_first)
  }

  /** q_etl_freshness — per-partition staleness audit (the data-SLA
    * monitor): for each event type, the last event time, row count, and
    * whole hours behind the corpus high-water mark, flagged stale past
    * 24 h — the first dashboard a pipeline on-call reads. Exact integer
    * arithmetic end to end: both engines subtract epoch MICROSECONDS
    * and integer-divide by 3.6e9, so there is no timezone, DST, or
    * float anywhere. One two-phase aggregate over the corpus; the
    * high-water mark rides back as a broadcast 1-row frame, never a
    * driver literal. */
  private val etlFreshness: Q = (s, dir) => {
    val ev = Tables.load(s, dir, "events")
    val perType = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        max(col("ts")).as("last_ts"))
    val hwm = ev.agg(max(col("ts")).as("global_max"))
    perType.crossJoin(broadcast(hwm))
      .withColumn("hours_behind",
        expr("(unix_micros(global_max) - unix_micros(last_ts)) " +
          "DIV 3600000000"))
      .withColumn("stale", col("hours_behind") >= 24)
      .select("event_type", "n_events", "last_ts", "hours_behind", "stale")
      .orderBy(col("event_type").asc_nulls_first)
  }

  /** q_etl_vacuum — retention vacuum of a versioned table
    * ([[graft.etl.Sinks.writeVersioned]]/[[graft.etl.Sinks.vacuumVersions]]):
    * three restatement versions are written (each a wider event slice,
    * pointer flipped per write), then vacuum keep=1 deletes everything
    * but the pointer target — the nightly job that stops version
    * history from growing without bound while the pointer protocol
    * keeps concurrent readers safe (the live version is never deleted).
    * The read-back aggregates the LIVE version and carries the
    * before/after version counts — the oracle pins all of it: 3
    * versions written, 1 surviving, and the survivor's content equal to
    * the v3 slice recomputed from raw events. Cost at scale is a
    * listing + unlink of dead version dirs — no data scan. */
  private val etlVacuum: Q = (s, dir) => {
    val out = SourceQueries.freshSinkDir("vacuum")
    val ev = Tables.load(s, dir, "events")
      .select("event_id", "event_type", "value")
    (1L to 3L).foreach { v =>
      graft.etl.Sinks.writeVersioned(
        ev.filter(col("event_id") % 4 < v), out, v)
    }
    val (before, after) = graft.etl.Sinks.vacuumVersions(out, keep = 1)
    s.read.parquet(s"$out/v3")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        expr("CAST(round(sum(CAST(value AS DECIMAL(18,2))), 4) " +
          "AS DOUBLE)").as("sum_value"))
      .withColumn("versions_before", lit(before))
      .withColumn("versions_after", lit(after))
      .orderBy(col("event_type").asc_nulls_first)
  }

  /** q_etl_ri — referential-integrity audit across the warehouse's FK
    * graph (the check the reference gets implicitly from Postgres FK
    * constraints, `model.py`'s ForeignKey columns — a columnar
    * warehouse has no enforcing engine, so RI must be AUDITED): per
    * relationship, child rows / orphan rows / orphan rate. The supplier
    * dim is deliberately lagged (every 10th key missing — the "dim load
    * behind the facts" incident) so the audit exercises a real
    * violation, not a vacuous all-zeros pass. Each relationship is one
    * LEFT ANTI join: dims broadcast at these sizes (map-side, zero fact
    * shuffle); a dim too big to broadcast swaps in the Bloom-prefiltered
    * semi-join ([[graft.ops.Relational]] bloomSemiLong) — same
    * contract, bounded memory. */
  private val etlRi: Q = (s, dir) => {
    val lineitem = Tables.load(s, dir, "lineitem")
    val orders = Tables.load(s, dir, "orders")
    def audit(name: String, child: DataFrame, key: String,
              dim: DataFrame, dimKey: String): DataFrame = {
      val orphans = child.join(broadcast(dim),
        child(key) === dim(dimKey), "left_anti")
      child.agg(count(lit(1)).as("n_child"))
        .crossJoin(orphans.agg(count(lit(1)).as("n_orphan")))
        .select(lit(name).as("relationship"), col("n_child"),
          col("n_orphan"),
          round(try_divide(col("n_orphan"), col("n_child")), 4)
            .as("orphan_pct"))
    }
    val laggedSupplier = Tables.load(s, dir, "supplier")
      .filter(col("s_suppkey") % 10 =!= 0)
    audit("lineitem->part", lineitem, "l_partkey",
        Tables.load(s, dir, "part"), "p_partkey")
      .unionByName(audit("lineitem->supplier_lagged", lineitem,
        "l_suppkey", laggedSupplier, "s_suppkey"))
      .unionByName(audit("orders->customer", orders, "o_custkey",
        Tables.load(s, dir, "customer"), "c_custkey"))
      .orderBy("relationship")
  }

  /** q_etl_stats_collect — ANALYZE-style column statistics over `orders`
    * (ref: the serving DB relies on Postgres' autovacuum ANALYZE for its
    * query plans — `database/app.py:76-82`'s paged count+select is only
    * cheap because pg keeps row estimates; a parquet warehouse has to
    * COLLECT its stats). Per column: row count, non-null count, exact
    * NDV, canonical min/max — the cost-based-optimizer inputs (join
    * reorder, broadcast decisions key off exactly these numbers). ONE
    * scan: Spark plans the multi-distinct aggregate via Expand (input
    * duplicated once per distinct column, then a single shuffle of
    * partial states, never raw rows twice); at 100 TB you swap exact
    * NDV for `approx_count_distinct` (HLL partials, same single-pass
    * shape) — which is what real ANALYZE implementations store anyway.
    * min/max are canonicalized per type (decimal(18,2) for doubles,
    * date for timestamps) so both engines print identical strings. */
  private val etlStatsCollect: Q = (s, dir) => {
    val t = Tables.load(s, dir, "orders")
    def canon(c: String, tpe: String): Column = tpe match {
      case "double" => col(c).cast("decimal(18,2)")
      case "timestamp" => col(c).cast("date")
      case _ => col(c)
    }
    val cols = Seq("o_orderkey" -> "bigint", "o_custkey" -> "bigint",
      "o_orderstatus" -> "string", "o_totalprice" -> "double",
      "o_orderdate" -> "timestamp", "o_orderpriority" -> "string")
    val aggs = cols.flatMap { case (c, tpe) => Seq(
      count(col(c)).as(s"nn_$c"),
      countDistinct(col(c)).as(s"ndv_$c"),
      min(canon(c, tpe)).cast("string").as(s"min_$c"),
      max(canon(c, tpe)).cast("string").as(s"max_$c")) }
    val one = t.agg(count(lit(1)).as("n_rows"), aggs: _*)
    val perCol = cols.map { case (c, _) =>
      one.select(lit(c).as("column"), col("n_rows"),
        col(s"nn_$c").as("n_nonnull"), col(s"ndv_$c").as("ndv"),
        col(s"min_$c").as("min_val"), col(s"max_$c").as("max_val"))
    }.reduce(_.unionAll(_))
    perCol.orderBy("column")
  }

  /** q_evt_dau_wau — DAU/WAU engagement with the stickiness ratio (the
    * canonical product-health metric a 100 TB event pipeline serves
    * daily; ref the events stream the scraper feeds via
    * `web_scraping.py:221-224`). Two distinct-user contractions — per
    * day and per ISO week — then the day table joins its week's WAU
    * (weeks ≪ days ≪ users: the join side is calendar-sized, broadcast
    * for free). Scale: each count-distinct shuffles (bucket, user)
    * pairs with map-side dedup partials, never the event stream;
    * stickiness = dau/wau is a single exact division rounded 4dp. */
  private val evtDauWau: Q = (s, dir) => {
    val ev = Tables.load(s, dir, "events")
      .select(to_date(col("ts")).as("day"),
        date_trunc("week", col("ts")).cast("date").as("week"), col("user_id"))
    val dau = ev.groupBy("day", "week")
      .agg(countDistinct(col("user_id")).as("dau"))
    val wau = ev.groupBy("week")
      .agg(countDistinct(col("user_id")).as("wau"))
    dau.join(broadcast(wau), "week")
      .select(col("day"), col("dau"), col("wau"),
        round(col("dau") / col("wau"), 4).as("stickiness"))
      .orderBy("day")
  }

  /** q_evt_interarrival — inter-arrival latency profile per event type
    * (p50/p90/mean seconds between consecutive events): the
    * traffic-shape readout behind rate alerting and capacity planning —
    * a p90 collapse means a burst source, a p50 drift means organic
    * growth (ref: the scraper's own inter-request pacing
    * `web_scraping.py:133,154` is the producer-side twin). One window
    * pass (key shuffle on event_type, lag-1 state) computes the gaps as
    * EXACT µs longs; the rollup's mean is sum(long)/count — one
    * division, no double partials (§7.5.2) — and the percentiles
    * interpolate identically to DuckDB's quantile_cont (the q_win_median
    * precedent). Scale: gaps never leave their key's partition; the
    * percentile state is per-group, bounded by the group's gap list —
    * swap `percentile` for `percentile_approx` (t-digest partials) when
    * groups outgrow memory. */
  private val evtInterarrival: Q = (s, dir) => {
    val w = Window.partitionBy("event_type")
      .orderBy(col("ts"), col("event_id"))
    Tables.load(s, dir, "events")
      .select(col("event_type"), col("ts"), col("event_id"))
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .filter(col("prev_us").isNotNull)
      .withColumn("gap_us", unix_micros(col("ts")) - col("prev_us"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"),
        round(expr("percentile(gap_us, 0.5)") / 1e6, 4).as("p50_s"),
        round(expr("percentile(gap_us, 0.9)") / 1e6, 4).as("p90_s"),
        round((sum(col("gap_us")).cast("double") / count(lit(1))) / 1e6, 4)
          .as("mean_s"))
      .orderBy("event_type")
  }

  /** q_evt_conversion_ci — daily conversion rate with a Wilson 95%
    * confidence interval: the statistically honest dashboard readout —
    * a 3-user day showing "67% conversion" is noise, and the Wilson
    * band (which stays inside [0,1] and behaves at small n, unlike the
    * naive normal interval) says so. One aggregation: distinct active
    * users and distinct converters per day share the (day, user)
    * contraction; the interval is closed-form per row (z = 1.96),
    * written with IDENTICAL expression structure on both engines so
    * every IEEE double operation rounds the same way before the 4-dp
    * cut. Scale: the shuffle carries (day, user) pairs with map-side
    * dedup — the per-day CI math is free. */
  private val evtConversionCi: Q = (s, dir) => {
    val z2 = lit(1.96) * lit(1.96)
    val daily = Tables.load(s, dir, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        countDistinct(when(col("event_type") === "purchase",
          col("user_id"))).as("n_conv"))
    val n = col("n_users").cast("double")
    val p = col("n_conv").cast("double") / n
    val denom = lit(1.0) + z2 / n
    val center = (p + z2 / (lit(2.0) * n)) / denom
    val half = lit(1.96) * sqrt(p * (lit(1.0) - p) / n +
      z2 / (lit(4.0) * n * n)) / denom
    daily.select(col("day"), col("n_users"), col("n_conv"),
        round(p, 4).as("rate"),
        round(center - half, 4).as("ci_lo"),
        round(center + half, 4).as("ci_hi"))
      .orderBy("day")
  }

  /** q_etl_bitemporal — bitemporal as-of reconstruction: what did the
    * warehouse SAY on system date S about business state as of valid
    * date V? Orders are updates with valid time = o_orderdate and a
    * synthetic transaction time recorded = orderdate + (orderkey % 3)
    * days — the deterministic stand-in for ingestion lag — so the two
    * axes genuinely diverge and some facts valid by V were NOT YET
    * KNOWN at S (the late-arriving rows every reconciliation fight is
    * about; q_etl_scd2 versions one axis, q_etl_backfill repairs late
    * data — this op QUERIES both axes). Readout per market segment:
    * customers/orders/balance as known at S=1995-07-01 for
    * V=1995-06-30, plus the late-arrival count the S-snapshot missed.
    * Shape: one corpus scan with both filters pushed down, a broadcast
    * dim join, one two-phase aggregate; balances accumulate as
    * decimal(18,2) (exact, partition-order-free). */
  private val etlBitemporal: Q = (s, dir) => {
    val validAsOf = lit("1995-06-30").cast("date")
    val systemAsOf = lit("1995-07-01").cast("date")
    val o = Tables.load(s, dir, "orders")
      .withColumn("recorded", date_add(col("o_orderdate"),
        (col("o_orderkey") % 3).cast("int")))
      .filter(col("o_orderdate") <= validAsOf)
      .withColumn("is_known",
        when(col("recorded") <= systemAsOf, 1).otherwise(0))
    o.join(broadcast(Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(
        countDistinct(when(col("is_known") === 1, col("o_custkey")))
          .as("n_cust"),
        sum("is_known").as("n_orders"),
        round(sum(when(col("is_known") === 1,
          col("o_totalprice").cast("decimal(18,2)"))
          .otherwise(lit(0).cast("decimal(18,2)"))).cast("double"), 2)
          .as("balance"),
        sum(lit(1) - col("is_known")).as("n_late"))
      .orderBy("c_mktsegment")
  }

  /** q_evt_uplift — uplift readout by activity quintile: treatment =
    * the deterministic user_id-parity arm, outcome = the high-value
    * purchase flag, segments = ntile(5) over per-user event counts —
    * per segment the treated/control rates and their difference, THE
    * heterogeneous-treatment-effect table behind targeting decisions
    * (q_agg_ab_ztest answers "did it work on average"; uplift answers
    * "for WHOM did it work" — averages hide sign flips between
    * segments). Determinism: the quintile boundary is ntile over a
    * TOTAL order (n_events, user_id), identical both engines; all
    * rates are integer ratios via shared closed forms, uplift rounds
    * once. Shape: one per-user map-side collapse, then a DISTRIBUTED
    * global rank over the user grid (globalRowNumber — the user table is
    * entity-grain and grows with users, so the old unpartitioned
    * ntile window was the scale bottleneck) + the closed-form ntile
    * bucket formula, a 5-row grid readout. */
  private val evtUplift: Q = (s, dir) => {
    import graft.ops.PrefixSweep
    val u = Tables.load(s, dir, "events")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_ev"),
        AggQueries.highValueConv.as("y"))
      .withColumn("arm", col("user_id") % 2)
    // the numbering's offsets job also counts the users
    val (ranked, nU) = graft.ops.Relational.globalRowNumberWithCount(u,
      Seq(col("n_ev"), col("user_id")), "rnk")
    val users = ranked
      .withColumn("quintile",
        PrefixSweep.ntileOf(col("rnk"), lit(nU), 5).cast("int"))
    users.groupBy("quintile")
      .agg(
        count(when(col("arm") === 1, 1)).as("n_t"),
        sum(when(col("arm") === 1, col("y"))).as("conv_t"),
        count(when(col("arm") === 0, 1)).as("n_c"),
        sum(when(col("arm") === 0, col("y"))).as("conv_c"))
      .withColumn("rate_t",
        round(col("conv_t").cast("double") / col("n_t"), 4))
      .withColumn("rate_c",
        round(col("conv_c").cast("double") / col("n_c"), 4))
      .withColumn("uplift", round(
        col("conv_t").cast("double") / col("n_t") -
          col("conv_c").cast("double") / col("n_c"), 4))
      .orderBy("quintile")
  }

  /** q_evt_transition_time — dwell time per event-type TRANSITION:
    * for every (from → to) pair of consecutive events within a user,
    * the count and the exact p50/p90 dwell — q_evt_markov gives the
    * transition PROBABILITIES, this gives their TEMPO (the "users
    * stall 40 s between search and purchase" readout funnels and
    * timeout tuning run on). Determinism: ordering is (ts, event_id)
    * — total — and gaps are INTEGER MICROSECONDS (unix_micros, the
    * interarrival precedent); percentiles interpolate integers and
    * divide by 1e6 once in the rounded readout. Scale: one per-user
    * window (events co-partitioned by user), then a ≤types²-row
    * percentile grid — swap percentile for percentile_approx when a
    * pair's gap list outgrows memory. */
  private val evtTransitionTime: Q = (s, dir) => {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
    Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"),
        col("event_id"))
      .withColumn("next_type", lead("event_type", 1).over(w))
      .withColumn("next_us", lead(unix_micros(col("ts")), 1).over(w))
      .filter(col("next_type").isNotNull)
      .withColumn("gap_us", col("next_us") - unix_micros(col("ts")))
      .groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"),
        round(expr("percentile(gap_us, 0.5)") / 1e6, 4).as("p50_s"),
        round(expr("percentile(gap_us, 0.9)") / 1e6, 4).as("p90_s"))
      .orderBy("from_type", "to_type")
  }

  /** q_evt_new_returning — weekly active users split into NEW (first
    * week of activity) vs RETURNING — the growth-accounting headline
    * (q_evt_lifecycle classifies month-over-month states; this is the
    * week-grain acquisition/retention split every WAU chart hides).
    * Shape: the corpus contracts to the distinct (user, week) grid
    * ONCE; first weeks come from a groupBy on that grid and join back
    * CO-PARTITIONED ON USER (both sides derive from the same
    * contraction — no second corpus scan, no broadcast of a
    * corpus-sized user dim); the weekly rollup counts integers and
    * divides once for the share. */
  private val evtNewReturning: Q = (s, dir) => {
    val uw = Tables.load(s, dir, "events")
      .select(col("user_id"),
        date_trunc("week", col("ts")).cast("date").as("wk"))
      .distinct()
    val first = uw.groupBy("user_id").agg(min("wk").as("first_wk"))
    uw.join(first, Seq("user_id"))
      .groupBy("wk")
      .agg(count(lit(1)).as("wau"),
        count(when(col("wk") === col("first_wk"), 1)).as("new_users"))
      .withColumn("returning", col("wau") - col("new_users"))
      .withColumn("new_share",
        round(col("new_users").cast("double") / col("wau"), 4))
      .orderBy("wk")
  }

  /** q_etl_debounce — duplicate-burst suppression per (user, type):
    * drop an event when the SAME user fired the SAME type within 60 s
    * before it — the throttle/debounce every client-telemetry ingest
    * needs (double-clicks, retry storms, SDK re-fires inflate every
    * downstream count; q_stream_dedup removes EXACT duplicate ids —
    * this removes rapid semantic repeats). Semantics note, stated
    * precisely: the lag-based form drops rows whose gap to the
    * PREVIOUS RAW event is < 60 s (throttle); the strict debounce
    * ("gap from last KEPT") is a running recurrence — that variant is
    * q_win_sessionize's gap-split machinery with a 60 s threshold.
    * Exactness: integer microsecond gaps on a total (ts, event_id)
    * order; counts integers, one share division. One key shuffle. */
  private val etlDebounce: Q = (s, dir) => {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts"), col("event_id"))
    Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"),
        col("event_id"))
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("kept", when(col("prev_us").isNull ||
        unix_micros(col("ts")) - col("prev_us") >= 60000000L, 1)
        .otherwise(0))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_raw"),
        sum("kept").as("n_kept"),
        round(lit(1.0) - sum("kept").cast("double") / count(lit(1)), 4)
          .as("drop_share"))
      .orderBy(col("event_type").asc_nulls_first)
  }

  /** q_etl_feature_snapshot — point-in-time-correct feature
    * extraction: for each user's LAST purchase, the feature vector as
    * of the moment JUST BEFORE that event (prior event count, prior
    * purchase count, prior spend, days active, seconds since the
    * previous action) — THE train/serve-skew killer (features joined
    * from a table computed "as of now" leak the future into training;
    * point-in-time means every feature window ends strictly before
    * the label event — q_etl_dim_asof does this for dims, this does
    * it for BEHAVIORAL aggregates). Exactness: all features are
    * integer counts / decimal sums over a [unbounded, −1] frame on a
    * total (ts, event_id) order; the label row is row_number = 1 on
    * the reversed order. Scale: ONE shuffle on user feeds every
    * window; no self-join, no per-label re-scan. */
  private val etlFeatureSnapshot: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy(col("ts"),
      col("event_id"))
    val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy("user_id")
    val wDesc = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"),
        col("event_id"), col("value"))
      .withColumn("n_prior", count(lit(1)).over(wPrev))
      .withColumn("n_prior_purch",
        count(when(col("event_type") === "purchase", 1)).over(wPrev))
      .withColumn("spent_prior",
        sum(when(col("event_type") === "purchase",
          col("value").cast("decimal(18,2)"))).over(wPrev))
      .withColumn("first_ts", min("ts").over(wAll))
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("rn", row_number().over(wDesc))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("n_prior"), col("n_prior_purch"),
        round(coalesce(col("spent_prior"),
          lit(0).cast("decimal(18,2)")).cast("double"), 2)
          .as("spent_prior"),
        datediff(to_date(col("ts")), to_date(col("first_ts")))
          .as("days_active"),
        // gap = N µs exactly; 4-dp seconds = N/1e6 rounded HALF-AWAY
        // = (2N + 100) DIV 200 in 1e-4 s units, all int64 — the
        // double chain round(N/1e6, 4) lost a sf0.1 row by one ulp
        // (r18 tri-SF sweep, §7.5.21 restatement)
        (expr("(2 * (unix_micros(ts) - prev_us) + 100) DIV 200")
          .cast("double") / 1e4).as("gap_prev_s"))
      .orderBy("user_id")
  }

  /** q_etl_profile — one-pass multi-column profiler over orders:
    * per column, row count, null count, distinct count, and the most
    * common value with its count — the data-quality LANDING step
    * (before any contract/dq rule exists, the profile is what a
    * human reads to WRITE the rules; q_etl_stats_collect feeds the
    * optimizer, this feeds the engineer). Shape: the table unpivots
    * via `stack` into (column, value) pairs — ONE scan profiles every
    * column, where the naive per-column loop scans the table k times
    * — then a (column, value) two-phase count feeds both the distinct
    * count and the argmax (row_number on the deterministic
    * (count desc, value) order). Values profile through a canonical
    * string cast (a profiler is typeless by design — stated, not
    * hidden). */
  private val etlProfile: Q = (s, dir) => {
    val unpiv = Tables.load(s, dir, "orders")
      .select(expr("""stack(4,
        'o_orderstatus', CAST(o_orderstatus AS STRING),
        'o_orderpriority', CAST(o_orderpriority AS STRING),
        'o_custkey', CAST(o_custkey AS STRING),
        'o_totalprice', CAST(CAST(o_totalprice AS DECIMAL(18,2))
          AS STRING))
        AS (col_name, val)"""))
    val counts = unpiv.groupBy("col_name", "val")
      .agg(count(lit(1)).as("cnt"))
    // r19: the per-column totals fold in a two-phase aggregate (4
    // result rows, map-side combining) broadcast back onto the top-1
    // row instead of three unbounded windows re-materializing the
    // whole counts table at 4-partition parallelism; the argmax
    // filter keeps its WindowGroupLimit shape (partial top-1 per map
    // task). Same counts, same deterministic argmax order.
    val stats = counts.groupBy("col_name")
      .agg(count(when(col("val").isNotNull, 1)).as("n_distinct"),
        sum("cnt").as("n"),
        sum(when(col("val").isNull, col("cnt")).otherwise(lit(0L)))
          .as("n_null"))
    counts
      .withColumn("rn", row_number().over(
        Window.partitionBy("col_name")
          .orderBy(col("cnt").desc, col("val").asc_nulls_last)))
      .filter(col("rn") === 1)
      .join(broadcast(stats), "col_name")
      .select(col("col_name"), col("n"), col("n_null"),
        col("n_distinct"), col("val").as("top_value"),
        col("cnt").as("top_n"))
      .orderBy("col_name")
  }

  /** q_evt_mix_drift — weekly event-type-mix drift: each week's type
    * distribution scored against the PREVIOUS week by Jensen–Shannon
    * divergence, plus the week's own entropy — the
    * distribution-drift monitor for categorical mixes (a mean-based
    * alarm misses "views fell, errors rose, total flat"; JSD is
    * symmetric and bounded, so one threshold works every week, which
    * is why drift monitors use it over raw KL). Exactness: weekly
    * shares are integer-ratio doubles; each ln-bearing JSD/entropy
    * term rounds to 8-dp decimal per (week, type) and the sums are
    * grid-sized (the logloss rule). Shape: one (week, type)
    * contraction, then a DENSE weeks × observed-types grid
    * (zero-filled counts) before the lag — so a type that vanishes
    * this week still contributes its 0.5·prev·ln 2 mass (the CASE
    * computes the one-sided limit exactly), and lag-by-week is truly
    * adjacent-week, never reaching across a gap. Both cross inputs
    * are domain-sized (weeks in range × distinct types), orders of
    * magnitude below the corpus; n_types counts PRESENT types only. */
  private val evtMixDrift: Q = (s, dir) => {
    val wt = Tables.load(s, dir, "events")
      .groupBy(date_trunc("week", col("ts")).cast("date").as("wk"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    // weekly totals ride as a broadcast dim (weeks-in-range rows), so
    // the share needs no window exchange; the dense grid is the cross
    // of that dim with the observed-type dim — both domain-sized
    val wkTot = wt.groupBy("wk").agg(sum("n").as("tot"))
    val grid = wkTot.crossJoin(wt.select("event_type").distinct())
    val dense = grid.join(wt, Seq("wk", "event_type"), "left")
      .withColumn("n0", coalesce(col("n"), lit(0L)))
    val shares = dense
      .withColumn("share", col("n0").cast("double") / col("tot"))
    val lagged = shares
      .withColumn("prev_share",
        lag("share", 1).over(Window.partitionBy("event_type")
          .orderBy("wk")))
      .filter(col("prev_share").isNotNull)
      .withColumn("m", (col("share") + col("prev_share")) / 2.0)
      .withColumn("jsd_term", round(
        when(col("share") > 0,
          lit(0.5) * col("share") * log(col("share") / col("m")))
          .otherwise(0.0) +
        when(col("prev_share") > 0, lit(0.5) * col("prev_share") *
          log(col("prev_share") / col("m"))).otherwise(0.0), 8)
        .cast("decimal(20,8)"))
      .withColumn("ent_term", round(
        when(col("share") > 0,
          -col("share") * log(col("share"))).otherwise(0.0), 8)
        .cast("decimal(20,8)"))
    lagged.groupBy("wk")
      .agg(count(when(col("n0") > 0, 1)).as("n_types"),
        round(expr("CAST(sum(jsd_term) AS DOUBLE)"), 6).as("jsd"),
        round(expr("CAST(sum(ent_term) AS DOUBLE)"), 6).as("entropy"))
      .orderBy("wk")
  }

  /** q_evt_stickiness — DAU/MAU stickiness per calendar month: the
    * engagement-depth ratio ("what share of a month's actives show up
    * on an average day") that separates habit products from
    * once-a-month ones — the companion readout to q_evt_dau_wau's
    * levels and q_evt_retention's cohort curves. ONE corpus
    * contraction to the distinct (day, user) grid feeds BOTH sides:
    * daily actives are a (day) re-aggregate, monthly actives a
    * (month, user)-distinct re-aggregate — the corpus is touched
    * once, everything downstream is grid-sized (days × avg actives).
    * avg_dau divides day-count sums once; stickiness divides the two
    * aggregates once (mau ≥ 1 wherever a month row exists — the
    * denominators are ANSI-safe by construction). */
  private val evtStickiness: Q = (s, dir) => {
    // user_id IS NOT NULL on BOTH engines: without it Spark's
    // count-over-grid MAU counts a null user as an active while
    // DuckDB's COUNT(DISTINCT user_id) drops it — one pinned
    // convention (the q_agg_permutation precedent) beats two
    // engine defaults (ADVICE r14)
    val dayUser = Tables.load(s, dir, "events")
      .filter(col("user_id").isNotNull)
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .distinct()
      .localCheckpoint()
    val dau = dayUser.groupBy("day").agg(count(lit(1)).as("dau"))
      .groupBy(trunc(col("day"), "month").as("month"))
      .agg(count(lit(1)).as("n_days"), sum("dau").as("dau_sum"))
    val mau = dayUser
      .select(trunc(col("day"), "month").as("month"), col("user_id"))
      .distinct()
      .groupBy("month").agg(count(lit(1)).as("mau"))
    dau.join(mau, "month")
      .select(col("month"),
        col("n_days").cast("long").as("n_days"),
        round(col("dau_sum").cast("double") / col("n_days"), 4)
          .as("avg_dau"),
        col("mau").cast("long").as("mau"),
        round(col("dau_sum").cast("double") /
          (col("n_days") * col("mau")), 4).as("stickiness"))
      .orderBy("month")
  }

  /** q_evt_session_stats — the distribution readout over
    * q_win_sessionize's per-session grid (same 30-min idle-gap rule):
    * session count, bounce rate (1-event sessions), mean and exact
    * p50/p90 of events-per-session and of session duration — the
    * product-health panel a funnel review opens with. The corpus
    * contracts to per-(user, session) rows in two O(1)-state windows
    * (sessionize's machinery), and the distribution statistics run on
    * that session-sized grid: the exact `percentile` buffers sessions,
    * not events (documented sketch swap = approx_percentile at
    * 100 TB). Duration is integer µs DIV 1000000 — exact on both
    * engines; divisions are by the session count ≥ 1. */
  private val evtSessionStats: Q = (s, dir) => {
    val byUser = Window.partitionBy("user_id").orderBy("ts")
    val sess = Tables.load(s, dir, "events")
      .select(col("user_id"), col("ts"))
      .withColumn("brk",
        when(lag(col("ts"), 1).over(byUser).isNull ||
          col("ts") >= lag(col("ts"), 1).over(byUser) +
            expr("INTERVAL 30 MINUTES"), 1).otherwise(0))
      .withColumn("sid", sum("brk").over(byUser
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sid")
      .agg(count(lit(1)).as("n_ev"),
        expr("(unix_micros(max(ts)) - unix_micros(min(ts))) div 1000000")
          .as("dur_sec"))
    sess.agg(count(lit(1)).as("n_sessions"),
        count(when(col("n_ev") === 1, 1)).as("n_bounce"),
        sum("n_ev").as("n_events"),
        expr("percentile(n_ev, 0.5)").as("p50_ev"),
        expr("percentile(n_ev, 0.9)").as("p90_ev"),
        expr("percentile(dur_sec, 0.5)").as("p50_dur"),
        expr("percentile(dur_sec, 0.9)").as("p90_dur"))
      .select(col("n_sessions").cast("long").as("n_sessions"),
        round(col("n_bounce").cast("double") / col("n_sessions"), 4)
          .as("bounce_rate"),
        round(col("n_events").cast("double") / col("n_sessions"), 4)
          .as("avg_events"),
        round(col("p50_ev"), 4).as("p50_events"),
        round(col("p90_ev"), 4).as("p90_events"),
        round(col("p50_dur"), 4).as("p50_dur_sec"),
        round(col("p90_dur"), 4).as("p90_dur_sec"))
  }

  /** q_etl_checksum — per-partition reconciliation checksums of the
    * event stream: row count, an order-independent key checksum (sum
    * of a sha-derived 28-bit integer per event_id — the q_sample_hash
    * idiom), an exact decimal value total, and a null-key count, per
    * event day. This is the cross-system audit primitive: after any
    * migration/backfill/replication, comparing this table between
    * source and target localizes drift to a DAY without a row-by-row
    * diff (the reference re-validated its loads by re-querying counts,
    * `database/parse_and_upload_to_db.py:171-175` — this is that
    * check made content-sensitive). Everything is one corpus
    * contraction; the checksum is a SUM, so it is partition-order-free
    * by construction, and days localize drift so a single corrupt
    * partition doesn't force a full re-scan to find. */
  private val etlChecksum: Q = (s, dir) =>
    Tables.load(s, dir, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_rows"),
        sum(sha256_prefix(col("event_id").cast("string"), 7))
          .as("key_checksum"),
        sum(col("value").cast("decimal(18,2)")).as("value_total"),
        count(when(col("user_id").isNull, 1)).as("null_users"))
      .select(col("day"), col("n_rows").cast("long").as("n_rows"),
        col("key_checksum").cast("long").as("key_checksum"),
        col("value_total").cast("double").as("value_total"),
        col("null_users").cast("long").as("null_users"))
      .orderBy("day")

  /** q_evt_perplexity — branching entropy and perplexity of the
    * behavioral transition model: per from-state, H = −Σ p·ln p over
    * q_evt_markov's transition row and PPX = exp(H) — "how
    * predictable is the next action from this state" (PPX ≈ 1: a
    * funnel rail; PPX ≈ k: anyone's guess — the state where
    * recommendations/prefetch pay), plus the corpus-level perplexity
    * as the transition-weighted aggregate — the exact quantity a
    * sequence LM is scored by, computed here for the order-1
    * behavioral LM. Same edge contraction as markov/pagerank/hits;
    * p·ln p terms round to 8-dp decimals before folds at BOTH levels
    * (logloss rule — the q_agg_theil nested-fold precedent); exp is
    * libm-in-rounded-output (q_samp_decay taxonomy). The OVERALL row
    * rides along with from_type '(overall)' so the readout is one
    * table. */
  private val evtPerplexity: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val edges = Tables.load(s, dir, "events")
      .withColumn("to_type", lead("event_type", 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", col("n").cast("double") /
        sum("n").over(Window.partitionBy("from_type")))
      .localCheckpoint()
    val perFrom = edges
      .withColumn("ent_term",
        round(-col("p") * log(col("p")), 8).cast("decimal(20,8)"))
      .groupBy("from_type")
      .agg(sum("n").as("n_trans"), sum("ent_term").as("h_d"))
    val overall = perFrom
      .select(col("n_trans"),
        round(col("n_trans") * col("h_d").cast("double"), 8)
          .cast("decimal(24,8)").as("wh"))
      .agg(sum("n_trans").as("n_trans"), sum("wh").as("swh"))
      .select(lit("(overall)").as("from_type"),
        col("n_trans").cast("long").as("n_trans"),
        round(col("swh").cast("double") / col("n_trans"), 4)
          .as("entropy"),
        round(exp(col("swh").cast("double") / col("n_trans")), 4)
          .as("perplexity"))
    perFrom
      .select(col("from_type"), col("n_trans").cast("long").as("n_trans"),
        round(col("h_d").cast("double"), 4).as("entropy"),
        round(exp(col("h_d").cast("double")), 4).as("perplexity"))
      .unionByName(overall)
      .orderBy(col("from_type").asc_nulls_first)
  }

  /** q_evt_cadence — per-user event cadence profile: median
    * inter-event gap, IQR, and a regularity verdict (IQR < half the
    * median ⇒ metronome-like) — the rhythm screen bot detection and
    * notification tuning both read (humans are bursty: IQR ≈ or ≫
    * median; schedulers and scripts are tight). q_evt_interarrival
    * profiles the GLOBAL gap distribution per type; this profiles
    * each USER's own rhythm. Exactness (§7.5.21 — the r18 tri-SF
    * sweep caught a one-ulp iqr_s row in the double `percentile`
    * chain): gaps are exact integer µs from one lag over the shared
    * (ts, event_id) total order; each quartile at 0-based position
    * K·(n−1)/4 (K = 1, 2, 3) is picked as its two bracketing ORDER
    * STATISTICS via a per-user rank window, then interpolated as the
    * exact integer numK = (4−rK)·lo + rK·hi over the common
    * denominator 4 (rK = (K·(n−1)) mod 4) — quarter-µs rationals,
    * never a double; the 4-dp second readouts fold through the
    * HALF-AWAY device (numK + 200) DIV 400 and the regularity verdict
    * compares integers (2·(num75−num25) < num50). One double appears
    * per row: the terminal units/1e4 both engines share. Scale: one
    * user-keyed window pair (lag, then rank over gaps) + one
    * user-keyed aggregate — no grid, no corpus-wide window, and the
    * old `percentile` per-group buffer is gone. */
  private val evtCadence: Q = (s, dir) => {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_us"), col("event_id"))
    val g = Tables.load(s, dir, "events")
      .filter(col("user_id").isNotNull)
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("gap", col("ts_us") - lag(col("ts_us"), 1).over(w))
      .filter(col("gap").isNotNull)
    val ranked = g.select(col("user_id"), col("gap"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("user_id").orderBy("gap")))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy("user_id")))
    // hiK is NULL when posK+2 > n, which only happens when rK = 0 —
    // coalesce keeps the 0·NULL term from nulling the whole numerator
    def num(k: Int): Column = expr(
      s"""(4 - ($k * (n_gaps - 1)) % 4) * lo$k
          + (($k * (n_gaps - 1)) % 4) * coalesce(hi$k, 0L)""")
    val agg = ranked.groupBy("user_id")
      .agg(max("n").as("n_gaps"),
        max(expr("CASE WHEN rn = (1 * (n-1)) DIV 4 + 1 THEN gap END"))
          .as("lo1"),
        max(expr("CASE WHEN rn = (1 * (n-1)) DIV 4 + 2 THEN gap END"))
          .as("hi1"),
        max(expr("CASE WHEN rn = (2 * (n-1)) DIV 4 + 1 THEN gap END"))
          .as("lo2"),
        max(expr("CASE WHEN rn = (2 * (n-1)) DIV 4 + 2 THEN gap END"))
          .as("hi2"),
        max(expr("CASE WHEN rn = (3 * (n-1)) DIV 4 + 1 THEN gap END"))
          .as("lo3"),
        max(expr("CASE WHEN rn = (3 * (n-1)) DIV 4 + 2 THEN gap END"))
          .as("hi3"))
      .filter(col("n_gaps") >= 4)
      .withColumn("num25", num(1))
      .withColumn("num50", num(2))
      .withColumn("num75", num(3))
    agg.select(col("user_id"), col("n_gaps").cast("long").as("n_gaps"),
        (expr("(num50 + 200) DIV 400").cast("double") / 1e4)
          .as("med_gap_s"),
        (expr("(num75 - num25 + 200) DIV 400").cast("double") / 1e4)
          .as("iqr_s"),
        when(lit(2) * (col("num75") - col("num25")) < col("num50"), 1)
          .otherwise(0).as("regular"))
      .orderBy("user_id")
  }

  /** q_evt_streaks — per-user activity streaks: longest run of
    * consecutive ACTIVE DAYS, streak count, and whether the streak
    * containing the user's last active day is still their longest —
    * the engagement-habit metric every retention team ships (the
    * q_ts_islands island key applied per USER instead of per type;
    * q_win_streak runs over value comparisons, this runs over the
    * calendar). Pure integer day arithmetic; one distinct
    * contraction, two user-keyed windows, one rollup. */
  private val evtStreaks: Q = (s, dir) => {
    val days = Tables.load(s, dir, "events")
      .filter(col("user_id").isNotNull)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01")).as("x"))
      .distinct()
    val g = days.withColumn("grp", col("x") - row_number().over(
      Window.partitionBy("user_id").orderBy("x")))
    val islands = g.groupBy("user_id", "grp")
      .agg(count(lit(1)).as("len"), max("x").as("en"))
    islands.groupBy("user_id")
      .agg(sum("len").as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        max("len").as("longest"),
        max_by(col("len"), col("en")).as("last_len"))
      .select(col("user_id"),
        col("n_active_days").cast("long").as("n_active_days"),
        col("n_streaks").cast("long").as("n_streaks"),
        col("longest").cast("long").as("longest_streak"),
        col("last_len").cast("long").as("current_streak"),
        when(col("last_len") === col("longest"), 1).otherwise(0)
          .as("at_peak"))
      .orderBy("user_id")
  }

  /** q_evt_disorder — out-of-order-arrival audit per event type:
    * treating event_id as arrival order, what share of events carry a
    * timestamp OLDER than something already seen, and by how much
    * (p50/p95/max lateness) — the number a Structured Streaming
    * watermark delay should be SET FROM (every §2.K op takes a delay
    * on faith; this measures the actual disorder: watermark ≥ the p95
    * here keeps 95% of late data out of the drop path, and the max
    * prices exactly-once against completeness). Exactness: the prior
    * running max is one partitioned window over exact integer µs;
    * lateness quantiles interpolate integers; null (on-time) rows
    * drop from the percentile on both engines. */
  private val evtDisorder: Q = (s, dir) => {
    val w = Window.partitionBy("event_type").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val g = Tables.load(s, dir, "events")
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("prior_max", max("ts_us").over(w))
      .withColumn("late_by",
        when(col("prior_max") > col("ts_us"),
          col("prior_max") - col("ts_us")))
    g.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        count(col("late_by")).as("n_late"),
        expr("percentile(late_by, 0.5)").as("p50"),
        expr("percentile(late_by, 0.95)").as("p95"),
        max("late_by").as("mx"))
      .select(col("event_type"), col("n").cast("long").as("n"),
        col("n_late").cast("long").as("n_late"),
        round(col("n_late").cast("double") / col("n"), 4)
          .as("disorder_share"),
        round(col("p50") / 1e6, 4).as("late_p50_s"),
        round(col("p95") / 1e6, 4).as("late_p95_s"),
        round(col("mx").cast("double") / 1e6, 4).as("late_max_s"))
      .orderBy(col("event_type").asc_nulls_first)
  }

  /** q_evt_srm — sample-ratio-mismatch health check per ISO week: the
    * deterministic user_id-parity arms (the q_evt_uplift / q_agg_ab_ztest
    * assignment) should split each week's ACTIVE users ~50/50; a week
    * whose split drifts is a broken randomizer / logging loss / bot
    * infusion, and every downstream experiment readout on that week is
    * garbage — THE pre-test every A/B pipeline runs before looking at
    * outcomes (ab_ztest tests the OUTCOME; SRM tests the ASSIGNMENT).
    * χ² = (n_t − E)²/E + (n_c − E)²/E against the designed 1:1 split
    * (E = (n_t+n_c)/2), df=1, flag at 3.84 (p<0.05). Shape: ONE
    * distinct (week, user) contraction (the stickiness grid at week
    * grain), then a weeks-sized readout; integers to one closed form.
    * NULL users filtered both engines (the stickiness convention). */
  private val evtSrm: Q = (s, dir) => {
    val wu = Tables.load(s, dir, "events")
      .filter(col("user_id").isNotNull)
      .select(trunc(to_date(col("ts")), "week").as("wk"), col("user_id"))
      .distinct()
      .withColumn("arm", col("user_id") % 2)
    wu.groupBy("wk")
      .agg(count(when(col("arm") === 1, 1)).as("n_t"),
        count(when(col("arm") === 0, 1)).as("n_c"))
      // the df=1 equal-split χ² collapses algebraically to
      // (n_t−n_c)²/(n_t+n_c): INTEGER numerator, one division — exact
      // on both engines with no pow/intermediate-E float
      .withColumn("chi2", round(
        ((col("n_t") - col("n_c")) * (col("n_t") - col("n_c")))
          .cast("double") / (col("n_t") + col("n_c")), 4))
      .select(col("wk"),
        col("n_t").cast("long").as("n_t"),
        col("n_c").cast("long").as("n_c"),
        col("chi2"),
        when(col("chi2") > 3.84, 1).otherwise(0).as("srm_flag"))
      .orderBy("wk")
  }

  /** Non-anonymous events (user_id, d, event_type, value) with the
    * span's pre/post split day `mid` ([[AggQueries.withMidSpan]]) —
    * the input of the CUPED experiment readouts (q_evt_cuped,
    * q_pipe_abtest). */
  private def prePostEvents(s: SparkSession, dir: String): DataFrame =
    AggQueries.withMidSpan(Tables.load(s, dir, "events")
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), to_date(col("ts")).as("d"),
        col("event_type"), col("value")))

  /** The per-user CUPED pair over [[prePostEvents]]: `pre` = events
    * before the split (the covariate), `post` = purchase value from
    * the split on (the outcome, exact decimal, 0 for none). */
  private val prePost: Seq[Column] = Seq(
    count(when(col("d") < col("mid"), 1)).as("pre"),
    coalesce(sum(when(col("d") >= col("mid") &&
        col("event_type") === "purchase",
        col("value").cast("decimal(18,2)"))),
      lit(java.math.BigDecimal.ZERO).cast("decimal(18,2)"))
      .as("post"))

  /** CUPED's pooled terms over a per-user (pre, post) table, one row:
    * mp = mean(pre), theta = cov(pre, post)/var(pre) and rho2 =
    * cov²/(var(pre)·var(post)), all from decimal power sums through
    * shared closed forms. try_divide: a constant covariate or outcome
    * gives NULL theta/rho2, not an ANSI divide error. */
  private def cupedPooled(users: DataFrame): DataFrame =
    users.agg(count(lit(1)).as("nn"),
        expr("CAST(sum(pre) AS DOUBLE)").as("tsp"),
        expr("CAST(sum(post) AS DOUBLE)").as("tso"),
        expr("CAST(sum(CAST(pre AS DECIMAL(18,0)) * pre) AS DOUBLE)")
          .as("spp"),
        // post narrows to (14,2) before squaring (r16 advisor note):
        // the square is (29,4), leaving its sum 9 integer digits of
        // headroom inside precision 38 — the raw (18,2) square summed
        // at (38,4) could overflow to NULL at large SF. Exact while
        // one user's purchase sum < 10^12 (per-event value ≤ 600).
        expr("CAST(sum(CAST(post AS DECIMAL(14,2)) * " +
          "CAST(post AS DECIMAL(14,2))) AS DOUBLE)").as("soo"),
        expr("CAST(sum(CAST(pre AS DECIMAL(19,0)) * post) AS DOUBLE)")
          .as("spo"))
      .withColumn("mp", col("tsp") / col("nn"))
      .withColumn("vpre",
        (col("spp") - col("tsp") * col("tsp") / col("nn")) /
          (col("nn") - 1))
      .withColumn("vpost",
        (col("soo") - col("tso") * col("tso") / col("nn")) /
          (col("nn") - 1))
      .withColumn("cv2",
        (col("spo") - col("tsp") * col("tso") / col("nn")) /
          (col("nn") - 1))
      .withColumn("theta", try_divide(col("cv2"), col("vpre")))
      .withColumn("rho2", try_divide(col("cv2") * col("cv2"),
        col("vpre") * col("vpost")))
      .select("mp", "theta", "rho2")

  /** q_evt_cuped — CUPED variance reduction for the parity experiment:
    * pre-period activity (event count before the span midpoint — the
    * q_agg_ttest_paired half-split device) is the covariate; the
    * post-period outcome is per-user purchase value. θ = cov(pre,
    * post)/var(pre) over ALL users, adjusted outcome = post − θ(pre −
    * mean(pre)) — the industry-standard trick that cuts experiment
    * runtime by the ρ² between a user's past and future behaviour
    * (Deng et al., WSDM'13). Per arm: raw vs adjusted mean; pooled:
    * θ and the variance-reduction ratio ρ². EXACTNESS: no per-user
    * double is ever folded — var(adj) collapses algebraically to
    * var(post) − cov²/var(pre), and the per-arm adjusted mean to
    * mean_post − θ(mean_pre − mean_pre_all), so everything derives
    * from decimal power sums (the q_agg_delta_method discipline)
    * through shared closed forms. Shape: one per-user contraction,
    * 2-row arm grid + 1-row pooled broadcast. */
  private val evtCuped: Q = (s, dir) => {
    val users = prePostEvents(s, dir)
      .groupBy("user_id")
      .agg(prePost.head, prePost.tail: _*)
      .withColumn("arm", col("user_id") % 2)
    val pooled = cupedPooled(users)
    users.groupBy("arm")
      .agg(count(lit(1)).as("n_arm"),
        expr("CAST(sum(pre) AS DOUBLE)").as("sp_a"),
        expr("CAST(sum(post) AS DOUBLE)").as("so_a"))
      .crossJoin(broadcast(pooled))
      .select(col("arm").cast("long").as("arm"),
        col("n_arm").cast("long").as("n_users"),
        round(col("so_a") / col("n_arm"), 4).as("mean_post"),
        round(col("so_a") / col("n_arm") -
          col("theta") * (col("sp_a") / col("n_arm") - col("mp")), 4)
          .as("mean_adjusted"),
        round(col("theta"), 4).as("theta"),
        round(col("rho2"), 4).as("var_reduction"))
      .orderBy("arm")
  }

  /** q_evt_switchback — switchback (time-sliced) experiment readout:
    * the span splits into 6-hour windows, consecutive windows
    * alternate arms, the outcome is the WINDOW's mean event value,
    * and inference runs over WINDOW means (the cluster-robust rule:
    * events inside a window are correlated, so user-level n would
    * fake precision — n here is #windows). The experiment shelf's
    * answer to interference: ab_ztest randomizes USERS (assumes no
    * spillover), CUPED cuts variance, SRM audits assignment; a
    * switchback randomizes TIME and is the standard design when
    * treatment leaks across users (pricing, ranking, dispatch — the
    * DoorDash/Lyft design). Exactness: window sums are decimal, each
    * window MEAN is one double division rounded to a 4-dp decimal
    * (gmean term device), so the arm-level power sums fold decimals —
    * partition-order-immune; Welch t over the two arm grids is one
    * shared closed form; 1-window arms NULL via try_divide, pinned by
    * the identical NULLIF. Scale: one corpus contraction to ≤ 4·days
    * windows; everything after is grid-sized. */
  private val evtSwitchback: Q = (s, dir) => {
    val win = Tables.load(s, dir, "events")
      .filter(col("value").isNotNull)
      .groupBy(to_date(col("ts")).as("day"),
        floor(hour(col("ts")) / 6).cast("int").as("blk"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("sv"),
        count(lit(1)).as("c"))
      .withColumn("arm",
        (datediff(col("day"), lit("1970-01-01")) * 4 + col("blk")) % 2)
      .withColumn("m",
        round(col("sv").cast("double") / col("c"), 4)
          .cast("decimal(14,4)"))
    val arms = win.groupBy("arm")
      .agg(count(lit(1)).as("nw"), sum("m").as("sm"),
        sum(col("m") * col("m")).as("sm2"))
    val one = arms.agg(
        sum(when(col("arm") === 1, col("nw"))).as("nw_t"),
        sum(when(col("arm") === 1, col("sm"))).as("sm_t"),
        sum(when(col("arm") === 1, col("sm2"))).as("sm2_t"),
        sum(when(col("arm") === 0, col("nw"))).as("nw_c"),
        sum(when(col("arm") === 0, col("sm"))).as("sm_c"),
        sum(when(col("arm") === 0, col("sm2"))).as("sm2_c"))
      .withColumn("mt", col("sm_t").cast("double") / col("nw_t"))
      .withColumn("mc", col("sm_c").cast("double") / col("nw_c"))
      .withColumn("vt", try_divide(
        col("sm2_t").cast("double") - col("nw_t") * col("mt") * col("mt"),
        (col("nw_t") - 1).cast("double")))
      .withColumn("vc", try_divide(
        col("sm2_c").cast("double") - col("nw_c") * col("mc") * col("mc"),
        (col("nw_c") - 1).cast("double")))
      .withColumn("se",
        sqrt(col("vt") / col("nw_t") + col("vc") / col("nw_c")))
    one.select(
        col("nw_t").cast("long").as("n_win_t"),
        col("nw_c").cast("long").as("n_win_c"),
        round(col("mt"), 4).as("mean_t"),
        round(col("mc"), 4).as("mean_c"),
        round(col("mt") - col("mc"), 4).as("diff"),
        round(col("se"), 4).as("se"),
        round(try_divide(col("mt") - col("mc"), col("se")), 4)
          .as("t_stat"),
        when(abs(round(try_divide(col("mt") - col("mc"), col("se")), 4))
          > 1.96, 1).otherwise(0).as("significant"))
  }

  /** q_evt_decay — retention-decay fit: pool the weekly cohort
    * retention grid (q_evt_retention's shape) into per-offset rates,
    * restrict to cohorts OBSERVABLE at each offset (a young cohort
    * can't vote on week 4 — the survivorship bias every naive pooled
    * curve ships), and fit ln(rate) = a + b·offset by OLS over
    * offsets ≥ 1 — the exponential-decay summary (weekly decay rate,
    * half-life) that turns a retention MATRIX into the two numbers a
    * growth model consumes. Exactness: the grid is integer
    * (retained/eligible per offset); each ln(rate) rounds to an 8-dp
    * decimal BEFORE the ≤weeks-sized OLS fold (logloss grid rule);
    * the OLS slope is one closed form over decimal/integer sums with
    * ONE try_divide; ln2 is a shared literal, not a libm call at an
    * engine boundary. Scale: one collect_set pass per user (the
    * retention shape), then everything is (cohort × offset)
    * grid-sized. */
  private val evtDecay: Q = (s, dir) => {
    val wu = Tables.load(s, dir, "events")
      .filter(col("user_id").isNotNull)
      .select(col("user_id"),
        to_date(date_trunc("week", col("ts"))).as("week"))
      .groupBy("user_id")
      .agg(collect_set(col("week")).as("weeks"))
      .select(array_min(col("weeks")).as("cohort"),
        explode(col("weeks")).as("week"))
      .select(col("cohort"),
        (datediff(col("week"), col("cohort")) / 7).cast("int").as("k"))
    val grid = wu.groupBy("cohort", "k").agg(count(lit(1)).as("ret"))
      .localCheckpoint()
    val sizes = grid.filter(col("k") === 0)
      .select(col("cohort"), col("ret").as("sz"))
    val maxOff = grid.groupBy("cohort")
      .agg(max("k").as("mk"))
    // eligible cohorts at offset k: those whose span reaches k
    val span = sizes.join(maxOff, "cohort")
    val horizon = span.agg(max("mk").as("h"))
    val offsets = horizon.select(
      explode(sequence(lit(1), col("h"))).as("k"))
    val elig = offsets.join(span, col("mk") >= col("k"))
      .groupBy("k").agg(sum("sz").as("elig"))
    val pooled = grid.filter(col("k") >= 1)
      .groupBy("k").agg(sum("ret").as("retained"))
      .join(elig, "k")
      .filter(col("retained") > 0)
      .withColumn("rate",
        col("retained").cast("double") / col("elig"))
      .withColumn("lr",
        round(log(col("rate")), 8).cast("decimal(20,8)"))
    val fit = pooled.agg(count(lit(1)).as("np"),
        sum("k").as("sx"), sum(col("k") * col("k")).as("sx2"),
        sum("lr").as("sy"),
        sum(col("lr") * col("k")).as("sxy"),
        min(when(col("k") === 1, col("rate"))).as("r1"))
      .withColumn("b", try_divide(
        (col("np") * col("sxy").cast("double") -
          col("sx") * col("sy").cast("double")),
        (col("np") * col("sx2") - col("sx") * col("sx"))
          .cast("double")))
    val nCoh = sizes.agg(count(lit(1)).as("n_cohorts"))
    fit.crossJoin(broadcast(nCoh))
      .select(col("n_cohorts").cast("long").as("n_cohorts"),
        col("np").cast("long").as("n_points"),
        round(col("r1"), 4).as("retention_w1"),
        round(col("b"), 4).as("decay_per_week"),
        round(try_divide(lit(-0.6931471805599453), col("b")), 2)
          .as("half_life_weeks"))
  }

  /** q_etl_late_dim — late-arriving-dimension handling (Kimball's
    * "inferred members"): facts (orders) land before their dimension
    * row (customers whose c_custkey % 97 = 0 model the
    * not-yet-replicated slice), and the load must NOT drop or stall
    * them — it inserts a PLACEHOLDER dim row per missing key, loads
    * the fact against it, and reports the inferred census for the
    * backfill job to reconcile. The warehouse-pattern shelf's missing
    * member: upsert merges keyed rows, scd2 versions attributes,
    * dim_asof joins time-correctly — THIS closes the referential gap
    * the moment it appears (q_etl_ri only DETECTS orphans; the
    * pattern REPAIRS them). Readout: per-status fact/key census +
    * the top-5 inferred keys by pending fact count (the backfill
    * priority list). Exactness: pure integer counts and a pinned
    * (facts DESC, key) top-5. Scale: one broadcast-able dim anti-join
    * per fact partition; censuses are two-phase aggregates. */
  private val etlLateDim: Q = (s, dir) => {
    val dim = Tables.load(s, dir, "customer")
      .filter(col("c_custkey") % 97 =!= 0)
      .select(col("c_custkey").as("k"))
    val facts = Tables.load(s, dir, "orders")
      .join(dim, col("o_custkey") === col("k"), "left")
      .withColumn("status",
        when(col("k").isNotNull, "matched").otherwise("inferred"))
    val census = facts.groupBy("status")
      .agg(count(lit(1)).as("n_facts"),
        countDistinct(col("o_custkey")).as("n_keys"))
      .select(col("status"),
        lit(null).cast("long").as("custkey"),
        col("n_facts").cast("long").as("n_facts"),
        col("n_keys").cast("long").as("n_keys"))
    // top-5 backfill priorities ride a TakeOrdered heap cut (sort +
    // limit), ranked implicitly by the pinned output order — no
    // unpartitioned window anywhere
    val top = facts.filter(col("status") === "inferred")
      .groupBy("o_custkey").agg(count(lit(1)).as("nf"))
      .orderBy(col("nf").desc, col("o_custkey"))
      .limit(5)
      .select(lit("inferred_top").as("status"),
        col("o_custkey").cast("long").as("custkey"),
        col("nf").cast("long").as("n_facts"),
        lit(1L).as("n_keys"))
    census.unionAll(top)
      .orderBy(col("status"), col("n_facts").desc,
        col("custkey").asc_nulls_first)
  }

  /** q_pipe_abtest — the experimentation battery composed as ONE
    * fused readout (the q_pipe_curate discipline applied to §2's
    * experiment shelf): a single per-user contraction over events —
    * carrying arm, conversion flag, pre/post CUPED legs, error count,
    * and active-day exposure in the SAME aggregate — feeds four
    * checks with no intermediate materialization: (1) SRM assignment
    * health (q_evt_srm's collapsed χ², alarm > 3.84); (2) the
    * conversion two-proportion z (q_agg_ab_ztest's pooled form,
    * alarm |z| > 1.96); (3) CUPED variance reduction (q_evt_cuped's
    * algebraic θ/ρ², "covariate useful" at ρ² ≥ 0.005); (4) the
    * error-rate ratio guardrail (q_agg_rate_ratio's Wald CI, alarm =
    * CI excludes 1). This is the report an experiment platform
    * renders per test: assignment health FIRST (a failed SRM voids
    * the rest), effect, efficiency, guardrail. Exactness: every
    * statistic derives from the contraction's integer/decimal sums
    * via the proven per-op closed forms; output is a uniform 4-row
    * (check, val_t, val_c, stat, alarm) grid. Scale: ONE corpus
    * scan + one localCheckpointed user table; everything downstream
    * is 2-row arm grids. */
  private val pipeAbtest: Q = (s, dir) => {
    val users = prePostEvents(s, dir)
      .groupBy("user_id")
      .agg(AggQueries.highValueConv.as("conv"), prePost ++ Seq(
        count(when(col("event_type") === "error", 1)).as("ne"),
        countDistinct(col("d")).as("nd")): _*)
      .withColumn("arm", col("user_id") % 2)
      .localCheckpoint()
    val arms = users.groupBy("arm")
      .agg(count(lit(1)).as("n"), sum("conv").as("cv"),
        expr("CAST(sum(pre) AS DOUBLE)").as("sp"),
        expr("CAST(sum(post) AS DOUBLE)").as("so"),
        sum("ne").as("er"), sum("nd").as("pd"))
    val a = arms.agg(
      sum(when(col("arm") === 1, col("n"))).as("nt"),
      sum(when(col("arm") === 0, col("n"))).as("nc"),
      sum(when(col("arm") === 1, col("cv"))).as("ct"),
      sum(when(col("arm") === 0, col("cv"))).as("cc"),
      sum(when(col("arm") === 1, col("sp"))).as("spt"),
      sum(when(col("arm") === 0, col("sp"))).as("spc"),
      sum(when(col("arm") === 1, col("so"))).as("sot"),
      sum(when(col("arm") === 0, col("so"))).as("soc"),
      sum(when(col("arm") === 1, col("er"))).as("ert"),
      sum(when(col("arm") === 0, col("er"))).as("erc"),
      sum(when(col("arm") === 1, col("pd"))).as("pdt"),
      sum(when(col("arm") === 0, col("pd"))).as("pdc"))
    val base = a.crossJoin(broadcast(cupedPooled(users)))
    val ntD = col("nt").cast("double"); val ncD = col("nc").cast("double")
    val pt = col("ct").cast("double") / ntD
    val pc = col("cc").cast("double") / ncD
    val pp = (col("ct") + col("cc")).cast("double") /
      (col("nt") + col("nc")).cast("double")
    val zConv = try_divide(pt - pc, sqrt(pp * (lit(1.0) - pp) *
      (lit(1.0) / ntD + lit(1.0) / ncD)))
    val chi2 = ((col("nt") - col("nc")) * (col("nt") - col("nc")))
      .cast("double") / (col("nt") + col("nc"))
    val adjT = col("sot") / ntD -
      col("theta") * (col("spt") / ntD - col("mp"))
    val adjC = col("soc") / ncD -
      col("theta") * (col("spc") / ncD - col("mp"))
    val rr = (col("ert").cast("double") / col("pdt")) /
      (col("erc").cast("double") / col("pdc"))
    val half = lit(1.96) * sqrt(lit(1.0) / col("ert") +
      lit(1.0) / col("erc"))
    val rrGuard = col("ert") === 0 || col("erc") === 0
    val rows = base.select(
      struct(lit("1_srm").as("check"),
        ntD.as("val_t"), ncD.as("val_c"),
        round(chi2, 4).as("stat"),
        when(round(chi2, 4) > 3.84, 1).otherwise(0).as("alarm"))
        .as("r1"),
      struct(lit("2_conversion").as("check"),
        round(pt, 4).as("val_t"), round(pc, 4).as("val_c"),
        round(zConv, 4).as("stat"),
        when(abs(round(zConv, 4)) > 1.96, 1).otherwise(0).as("alarm"))
        .as("r2"),
      struct(lit("3_cuped").as("check"),
        round(adjT, 4).as("val_t"), round(adjC, 4).as("val_c"),
        round(col("rho2"), 4).as("stat"),
        when(round(col("rho2"), 4) >= 0.005, 1).otherwise(0)
          .as("alarm")).as("r3"),
      struct(lit("4_error_guardrail").as("check"),
        round(col("ert").cast("double") / col("pdt") * 1000, 4)
          .as("val_t"),
        round(col("erc").cast("double") / col("pdc") * 1000, 4)
          .as("val_c"),
        when(rrGuard, lit(null)).otherwise(round(rr, 6)).as("stat"),
        when(rrGuard, 0)
          .when(round(exp(log(rr) - half), 6) > 1.0 ||
            round(exp(log(rr) + half), 6) < 1.0, 1)
          .otherwise(0).as("alarm")).as("r4"))
    rows.select(explode(array(col("r1"), col("r2"), col("r3"),
        col("r4"))).as("r"))
      .select(col("r.check"), col("r.val_t"), col("r.val_c"),
        col("r.stat"), col("r.alarm"))
      .orderBy("check")
  }

  /** q_evt_shapley — Shapley-value attribution under the presence
    * model: each purchase's credit splits EQUALLY among the channel
    * types (view, click) that touched the user within the 3 days
    * before it — the Shapley value of the symmetric "any touched
    * coalition converts" game is exactly 1/|S| per present channel,
    * so the game-theoretic answer here is closed-form, order-free,
    * and position-free (the fairness axioms last-touch
    * q_evt_attribution violates: it hands 100% to recency). Untouched
    * purchases land in the organic bucket with full credit,
    * identically on both engines. Exactness: presence flags are
    * timestamp comparisons; |S| ∈ {1,2}, so every credit is 1.0 or
    * 0.5 — dyadic rationals whose double sum is exact in ANY
    * partition order (no rounding discipline needed). Scale: ONE
    * window pass per channel carries O(1) running state (the
    * q_evt_attribution device — never a touches×purchases range
    * join); the readout is a 3-row fold. */
  private val evtShapley: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val p = Tables.load(s, dir, "events")
      .filter(col("user_id").isNotNull &&
        col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .withColumn("lv", max(when(col("event_type") === "view",
        col("ts"))).over(w))
      .withColumn("lc", max(when(col("event_type") === "click",
        col("ts"))).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("hv", col("lv").isNotNull &&
        col("lv") >= col("ts") - expr("INTERVAL 3 DAY"))
      .withColumn("hc", col("lc").isNotNull &&
        col("lc") >= col("ts") - expr("INTERVAL 3 DAY"))
      .withColumn("sz",
        col("hv").cast("int") + col("hc").cast("int"))
    val agg = p.agg(
      sum(when(col("hv"), 1).otherwise(0)).as("tv"),
      sum(when(col("hc"), 1).otherwise(0)).as("tc"),
      sum(when(col("sz") === 0, 1).otherwise(0)).as("to"),
      sum(when(col("hv"), lit(1.0) / col("sz"))).as("cv"),
      sum(when(col("hc"), lit(1.0) / col("sz"))).as("cc"))
    agg.select(explode(array(
        struct(lit("view").as("channel"),
          col("tv").cast("long").as("n_touched"),
          round(coalesce(col("cv"), lit(0.0)), 2).as("credit")),
        struct(lit("click").as("channel"),
          col("tc").cast("long").as("n_touched"),
          round(coalesce(col("cc"), lit(0.0)), 2).as("credit")),
        struct(lit("organic").as("channel"),
          col("to").cast("long").as("n_touched"),
          round(col("to").cast("double"), 2).as("credit"))))
        .as("r"))
      .select(col("r.channel"), col("r.n_touched"), col("r.credit"))
      .orderBy("channel")
  }

  val all: Map[String, Q] = Map(
    "q_evt_shapley" -> evtShapley,
    "q_pipe_abtest" -> pipeAbtest,
    "q_etl_late_dim" -> etlLateDim,
    "q_evt_decay" -> evtDecay,
    "q_evt_switchback" -> evtSwitchback,
    "q_evt_srm" -> evtSrm,
    "q_evt_cuped" -> evtCuped,
    "q_evt_disorder" -> evtDisorder,
    "q_evt_streaks" -> evtStreaks,
    "q_evt_cadence" -> evtCadence,
    "q_evt_perplexity" -> evtPerplexity,
    "q_evt_session_stats" -> evtSessionStats,
    "q_etl_checksum" -> etlChecksum,
    "q_evt_stickiness" -> evtStickiness,
    "q_etl_bitemporal" -> etlBitemporal,
    "q_etl_profile" -> etlProfile,
    "q_evt_mix_drift" -> evtMixDrift,
    "q_etl_debounce" -> etlDebounce,
    "q_etl_feature_snapshot" -> etlFeatureSnapshot,
    "q_evt_uplift" -> evtUplift,
    "q_evt_transition_time" -> evtTransitionTime,
    "q_evt_new_returning" -> evtNewReturning,
    "q_etl_stats_collect" -> etlStatsCollect,
    "q_evt_dau_wau" -> evtDauWau,
    "q_evt_interarrival" -> evtInterarrival,
    "q_evt_conversion_ci" -> evtConversionCi,
    "q_etl_partition_overwrite" -> etlPartitionOverwrite,
    "q_etl_vacuum" -> etlVacuum,
    "q_etl_ri" -> etlRi,
    "q_etl_freshness" -> etlFreshness,
    "q_etl_purge" -> etlPurge,
    "q_etl_purge_bloom" -> etlPurgeBloom,
    "q_etl_zorder" -> etlZorder,
    "q_etl_incr_agg" -> etlIncrAgg,
    "q_evt_abandon" -> evtAbandon,
    "q_evt_markov" -> evtMarkov,
    "q_evt_rfm" -> evtRfm,
    "q_etl_cdc_apply" -> etlCdcApply,
    "q_etl_resample" -> etlResample,
    "q_etl_skew_profile" -> etlSkewProfile,
    "q_evt_retention" -> evtRetention,
    "q_evt_lifecycle" -> evtLifecycle,
    "q_etl_contract" -> etlContract,
    "q_evt_diversity" -> evtDiversity,
    "q_evt_funnel_time" -> evtFunnelTime,
    "q_evt_seqpairs" -> evtSeqpairs,
    "q_evt_ltv_cohort" -> evtLtvCohort,
    "q_evt_slo_burn" -> evtSloBurn,
    "q_evt_bot_score" -> evtBotScore,
    "q_evt_heatmap" -> evtHeatmap,
    "q_etl_impute" -> etlImpute,
    "q_evt_attribution" -> evtAttribution,
    "q_evt_anomaly" -> evtAnomaly,
    "q_etl_backfill" -> etlBackfill,
    "q_etl_anonymize" -> etlAnonymize,
    "q_etl_schema_evolve" -> etlSchemaEvolve,
    "q_etl_dq" -> etlDq,
    "q_etl_dq_approx" -> etlDqApprox,
    "q_etl_snapshot_diff" -> etlSnapshotDiff,
    "q_etl_wap" -> etlWap,
    "q_evt_paths" -> evtPaths,
    "q_etl_compact" -> etlCompact,
    "q_etl_scd2" -> etlScd2,
    "q_etl_dim_asof" -> etlDimAsof,
    "q_evt_funnel" -> evtFunnel,
    "q_evt_match" -> evtMatch,
    "q_etl_upsert" -> etlUpsert,
    "q_etl_normalize" -> etlNormalize,
    "q_etl_denormalize" -> etlDenormalize)
}
