package graft.queries

import graft.Tables
import graft.ops.Streaming
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2.K streaming operators, run here as their oracle-checkable batch
  * shadows (same builder functions run under readStream; true incremental
  * execution incl. watermarks/late data is exercised in StreamingSpec with
  * MemoryStream — SURVEY.md §2.K). */
object StreamingQueries {
  type Q = (SparkSession, String) => DataFrame

  /** q_stream_tumble — tumbling 1 h window agg (ref hourly rollup; batch
    * shadow of `withWatermark + groupBy(window(...))`). */
  private val tumble: Q = (s, dir) =>
    Streaming.tumbling(Tables.load(s, dir, "events"), "1 hour")
      .orderBy("window_start", "event_type")

  /** q_stream_slide — overlapping 1 h windows every 15 min. O-tier: the
    * DuckDB shadow joins each event to its 4 window starts
    * (`time_bucket − k·15min`, k ∈ 0..3 — both engines' grids are
    * :00-aligned). */
  private val slide: Q = (s, dir) =>
    Streaming.sliding(Tables.load(s, dir, "events"), "1 hour", "15 minutes")
      .orderBy("window_start")

  /** q_stream_session — 30 min gap session windows per user (stateful in
    * streaming). O-tier: the DuckDB shadow rebuilds sessions from
    * lag-gap break flags + prefix sums. */
  private val session: Q = (s, dir) =>
    Streaming.sessionize(Tables.load(s, dir, "events"), "30 minutes")
      .orderBy(col("user_id").asc_nulls_first, col("session_start"))

  /** q_stream_dedup — exactly-once under replay (ref already-scraped set
    * `web_scraper/web_scraping.py:517-521`): the input unioned with itself
    * dedups back to one row per event_id. Copies are identical rows, so
    * which copy survives is immaterial — output is deterministic. */
  private val dedup: Q = (s, dir) => {
    val ev = Tables.load(s, dir, "events").select("event_id", "event_type")
    Streaming.dedupBatch(ev.unionByName(ev), Seq("event_id"))
      .orderBy("event_id")
  }

  /** q_stream_state — arbitrary per-key state
    * ([[Streaming.userActivityState]]), run as its batch shadow: in batch
    * execution each user's rows reach the state function in one call, so
    * the emitted accumulator equals the exact per-user aggregate and an
    * O-tier SQL oracle exists. All accumulator fields are
    * order-independent (sums/counts; cents kept in LONG), so the result
    * is deterministic under any partitioning — the §7.5 requirement.
    * The registered shadow is the `flatMapGroupsWithState` form, which
    * batch-executes with no state store; the `transformWithState` twin
    * (same shared accumulator) would instantiate a per-query RocksDB
    * state store and leak a session-wide provider override into
    * co-resident queries — it keeps its incremental, checkpoint-resume
    * coverage in StreamingSpec instead. */
  private val state: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("value"))
      .as[(Long, String, Double)]
    Streaming.userActivityState(ev).toDF()
      .orderBy("user_id")
  }

  /** q_stream_join — stream-stream interval join
    * ([[Streaming.intervalJoin]]): views attributed to same-user clicks
    * within 30 minutes, run as the batch shadow (watermarked incremental
    * twin in StreamingSpec). Output is the (view, click) pair list with
    * the attribution latency in seconds — a total order on
    * (l_event_id, r_event_id). */
  private val streamJoin: Q = (s, dir) => {
    val ev = Tables.load(s, dir, "events")
      .select("event_id", "user_id", "event_type", "ts")
    Streaming.intervalJoin(
        ev.filter(col("event_type") === "view"),
        ev.filter(col("event_type") === "click"),
        "user_id", "30 minutes")
      .select(col("l_event_id").as("view_id"),
        col("r_event_id").as("click_id"),
        col("l_user_id").as("user_id"),
        // `div` (integral): Column./ would promote to double
        expr("(unix_micros(r_ts) - unix_micros(l_ts)) div 1000000")
          .as("delay_sec"))
      .orderBy("view_id", "click_id")
  }

  /** q_stream_enrich — stream-static enrichment join
    * ([[Streaming.enrich]]), batch shadow: events left-joined to a
    * derived user-segment dim (user_id % 10 deciles — deterministic,
    * so the oracle re-derives it arithmetically), aggregated per
    * segment. Incremental (MemoryStream × static dim) twin in
    * StreamingSpec. */
  private val enrich: Q = (s, dir) => {
    val ev = Tables.load(s, dir, "events")
      .select("event_id", "user_id", "event_type", "value")
    val dim = ev.select("user_id").distinct()
      .withColumn("segment",
        concat(lit("seg_"), (col("user_id") % 10).cast("string")))
    Streaming.enrich(ev, dim, "user_id")
      .groupBy("segment")
      .agg(count(lit(1)).as("n"),
        expr("CAST(round(sum(CAST(value AS DECIMAL(18,2))), 4) AS DOUBLE)")
          .as("sum_value"))
      .orderBy(col("segment").asc_nulls_first)
  }

  /** q_stream_left — stream-stream LEFT OUTER interval join
    * ([[Streaming.intervalJoinOuter]]), batch shadow: over the complete
    * corpus the watermark has (conceptually) passed every event, so
    * every "proven unmatched" view has been emitted with nulls and the
    * batch left-outer result IS the stream's converged output — the
    * same argument that makes q_stream_join's inner shadow exact. The
    * incremental half (matched rows emit early, unmatched only after
    * the watermark passes l_ts + window) stays pinned in
    * StreamingSpec's MemoryStream test. */
  private val streamLeft: Q = (s, dir) => {
    val ev = Tables.load(s, dir, "events")
      .select("event_id", "user_id", "event_type", "ts")
    Streaming.intervalJoinOuter(
        ev.filter(col("event_type") === "view"),
        ev.filter(col("event_type") === "click"),
        "user_id", "30 minutes")
      .select(col("l_event_id").as("view_id"),
        col("r_event_id").as("click_id"),
        col("l_user_id").as("user_id"),
        expr("(unix_micros(r_ts) - unix_micros(l_ts)) div 1000000")
          .as("delay_sec"))
      .orderBy(col("view_id"), col("click_id").asc_nulls_first)
  }

  /** q_stream_cdc — changelog application ([[Streaming.cdcApplyStream]]),
    * batch shadow at the final-state level: the processor folds ops in
    * (version, op) order under a `version >= applied` guard, so over a
    * complete feed the surviving state per key is exactly the maximal
    * op — computed here as ONE `row_number() = 1` pass ordered by
    * (version DESC, op DESC, value DESC). `op DESC` IS the pinned
    * equal-version tie rule ('U' beats 'D'); the value tiebreak makes
    * the readout total even under duplicate (version, op) pairs, which
    * the live processor leaves feed-order-dependent (documented at
    * [[graft.ops.Streaming.CdcApplyProcessor]]). Tombstones stay
    * visible (`live = false`, version kept) — the zombie-row shield the
    * incremental test exercises across four batches in StreamingSpec.
    * Feed synthesis mirrors q_etl_cdc_apply's (every 10th event_id is a
    * DELETE); version is event-time micros, the strictly monotone long
    * the processor contract asks for. */
  private val streamCdc: Q = (s, dir) => {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("key")
      .orderBy(col("version").desc, col("op").desc, col("value").desc)
    Tables.load(s, dir, "events")
      .select(col("user_id").as("key"),
        when(col("event_id") % 10 === 0, lit("D")).otherwise(lit("U"))
          .as("op"),
        expr("unix_micros(ts)").as("version"),
        col("value"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("key"), col("version"),
        (col("op") === "U").as("live"),
        round(when(col("op") === "U", col("value")).otherwise(lit(0.0)), 4)
          .as("value"))
      .orderBy("key")
  }

  /** Gap-session scaffold shared by the TTL and timer shadows: break
    * flags from one lag window, session ids from one prefix sum, then a
    * per-(user, session) accumulator contraction — the q_stream_session
    * machinery with the accumulator fields of
    * [[graft.ops.Streaming.UserActivity]] (count / purchase count /
    * exact cents). All per-session aggregates are order-independent, so
    * timestamp ties cannot perturb the result (§7.5). */
  private def gapSessionAgg(s: SparkSession, dir: String,
                            gap: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts")
    Tables.load(s, dir, "events")
      .select("user_id", "event_type", "value", "ts")
      .withColumn("brk",
        when(lag(col("ts"), 1).over(byUser).isNull ||
          col("ts") >= lag(col("ts"), 1).over(byUser) + expr(s"INTERVAL $gap"),
          1).otherwise(0))
      .withColumn("sid", sum("brk").over(byUser
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sid")
      .agg(count(lit(1)).as("n_events"),
        count(when(col("event_type") === "purchase", 1)).as("n_purchases"),
        sum(expr("CAST(round(value * 100, 0) AS BIGINT)")).as("value_cents"))
  }

  /** q_stream_ttl — per-key state with TTL expiry
    * ([[Streaming.userActivityTwsTtl]]), batch shadow: in a batch
    * replay each event is processed AT its timestamp, so the
    * processing-time TTL clock and event time coincide and "state
    * expired" maps exactly to "event-time gap ≥ ttl". The shadow
    * replays that contract — a user's accumulator resets at every ≥6 h
    * gap, and the registered readout is the surviving accumulator (the
    * last gap-session's [[graft.ops.Streaming.UserActivity]] fields)
    * plus how many times the key's state expired along the way. The
    * live-store half (expired reads return null under
    * TimeMode.ProcessingTime, a returning key restarts from zero) stays
    * pinned in StreamingSpec. */
  private val ttl: Q = (s, dir) => {
    val lastW = Window.partitionBy("user_id").orderBy(col("sid").desc)
    gapSessionAgg(s, dir, "6 HOURS")
      .withColumn("rn", row_number().over(lastW))
      .filter(col("rn") === 1)
      .select(col("user_id"),
        (col("sid") - 1).cast("long").as("n_expirations"),
        col("n_events"), col("n_purchases"), col("value_cents"))
      .orderBy("user_id")
  }

  /** q_stream_timer — inactivity timeout via per-key timers
    * ([[Streaming.userInactivity]]), batch shadow under the same
    * replay-time identity as q_stream_ttl: over a finite corpus every
    * activity burst eventually goes quiet, so each ≥45 min gap-session
    * fires exactly one expiry tombstone — n_timeouts counts them, and
    * the final tombstone carries the last session's event count (the
    * processor clears state on expiry, so counts are per-session, not
    * lifetime). Timer re-arm/extension and the post-timeout restart
    * are incremental-only and stay pinned in StreamingSpec. */
  private val timer: Q = (s, dir) => {
    val lastW = Window.partitionBy("user_id").orderBy(col("sid").desc)
    gapSessionAgg(s, dir, "45 MINUTES")
      .withColumn("rn", row_number().over(lastW))
      .filter(col("rn") === 1)
      .select(col("user_id"),
        col("sid").cast("long").as("n_timeouts"),
        col("n_events").as("last_n_events"),
        lit("inactive").as("status"))
      .orderBy("user_id")
  }

  /** q_stream_seen — keyed seen-set (`MapState`,
    * [[graft.ops.Streaming.SeenTypesProcessor]]), batch shadow as a
    * DAY-BATCHED replay: feeding the processor one micro-batch per
    * calendar day emits, per (user, type, day), `first_seen` (no
    * earlier day had the type), the running count through that day,
    * and the user's distinct-type cardinality as of that day — all
    * three exactly reconstructable with user-partitioned windows + a
    * first-day join, so an O-tier oracle exists. The MapState
    * mechanics (per-entry O(1) reads/writes, batch-local tally) stay
    * pinned incrementally in StreamingSpec. user_id IS NOT NULL on
    * both engines (the processor keys by Long; the stickiness
    * convention). */
  private val seen: Q = (s, dir) => {
    val d = Tables.load(s, dir, "events")
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), col("event_type"), to_date(col("ts")).as("day"))
    val perBatch = d.groupBy("user_id", "event_type", "day")
      .agg(count(lit(1)).as("n_batch"))
    val wType = Window.partitionBy("user_id", "event_type").orderBy("day")
    val cum = perBatch
      .withColumn("n_for_type", sum("n_batch").over(
        wType.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("first_seen", row_number().over(wType) === 1)
      .select(col("user_id").as("u"), col("event_type"), col("day"),
        col("first_seen"), col("n_for_type"))
    val firstDay = perBatch.groupBy("user_id", "event_type")
      .agg(min("day").as("fd"))
      .select(col("user_id").as("fu"), col("fd"))
    // n_types as of a day = how many of the user's types debuted on or
    // before it; per-user type counts are tiny, so the inequality join
    // is user-keyed metadata, not a corpus blowup
    cum.join(firstDay, col("fu") === col("u") && col("fd") <= col("day"))
      .groupBy(col("u").as("user_id"), col("event_type"), col("day"),
        col("first_seen"), col("n_for_type"))
      .agg(count(lit(1)).as("n_types"))
      .orderBy(col("user_id"), col("day"), col("event_type"))
  }

  /** q_stream_late — watermark late-data drop, batch shadow: replay
    * the feed as an on-time batch (19/20 of events) followed by a
    * LATE batch (every 20th event) — by then the watermark sits at
    * `max(on-time ts) − 1 h`, so a late event survives only if its
    * event time is within the last watermark hour. The registered
    * readout is the tumbling rollup over the surviving rows (identical
    * shape to q_stream_tumble, visibly different content — the dropped
    * tail). The incremental half (the state store actually REFUSING
    * rows after the watermark passes) stays pinned in StreamingSpec's
    * MemoryStream test. */
  private val late: Q = (s, dir) => {
    val ev = Tables.load(s, dir, "events")
      .select("event_id", "event_type", "ts", "value")
    val wmRow = ev.filter(col("event_id") % 20 =!= 0)
      .agg((max("ts") - expr("INTERVAL 1 HOUR")).as("wm"))
    val kept = ev.crossJoin(broadcast(wmRow))
      .filter(col("event_id") % 20 =!= 0 || col("ts") >= col("wm"))
    Streaming.tumbling(kept, "1 hour")
      .orderBy("window_start", "event_type")
  }

  /** q_stream_minhash — streaming near-dup suppression
    * ([[graft.ops.Streaming.minhashClaimStream]]), batch shadow at the
    * converged level ([[graft.ops.Streaming.minhashClaimBatch]]): the
    * corpus replayed inside one watermark span, first claimant per LSH
    * bucket pinned by the claim order, per-doc novelty = buckets won.
    * O-bound via the planted-duplicate device (r15): every base doc is
    * re-keyed (+10⁶) as a LATER exact copy — identical text ⇒
    * identical signature ⇒ the copy loses every band to its original,
    * a CONTRACT of the kernel, so `all_planted_suppressed` is a
    * deterministic TRUE the DuckDB oracle asserts; the globally first
    * eligible doc wins all 16 bands (`first_doc_wins_all`); the
    * eligible-doc census anchors exactly (the ≥3-token filter is
    * `split(lower(text), ' ')` arity — DuckDB-expressible). Near-dup
    * recall/suppression QUALITY stays ScalaTest-gated in
    * StreamingSpec/TextSimSpec. */
  private val minhash: Q = (s, dir) => {
    val base = Tables.load(s, dir, "documents")
      .filter(col("doc_id") < 2000)
    val planted = base
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val res = Streaming.minhashClaimBatch(
      base.select("doc_id", "text").unionAll(planted),
      "doc_id", "text", "doc_id")
    val firstId = base
      .filter(size(graft.ops.TextSim.tokens(col("text"))) >= 3)
      .agg(min("doc_id").as("fid"))
    res.crossJoin(broadcast(firstId))
      .agg(
        (sum(when(col("doc_id") >= 1000000L && col("n_claims") > 0, 1L)
          .otherwise(0L)) === 0L).as("all_planted_suppressed"),
        (max(when(col("doc_id") === col("fid"), col("n_claims")))
          === 16L).as("first_doc_wins_all"),
        sum(when(col("doc_id") < 1000000L, 1L).otherwise(0L))
          .cast("long").as("n_base"),
        sum(when(col("doc_id") >= 1000000L, 1L).otherwise(0L))
          .cast("long").as("n_planted"))
  }

  /** q_stream_foreachbatch — the foreachBatch merge-upsert serving
    * sink ([[graft.ops.Streaming.mergeBatch]]), batch shadow that runs
    * the REAL sink: the feed (key = user, payload = type, seq = value)
    * replays as four seq-batches through `mergeBatch` — ledger guard,
    * versioned directories, atomic pointer flip and all — and the
    * registered readout is [[graft.ops.Streaming.servingTable]]'s
    * final state. Latest-wins is associative (max (seq, payload) per
    * key), so the converged table equals the global per-key argmax —
    * the O-tier oracle. Replay idempotence (a re-run batchId is a
    * no-op) is exactly what makes repeated invocations of this query
    * deterministic: the scratch build is content-stamped and happens
    * once. */
  private val foreachbatch: Q = (s, dir) => {
    import s.implicits._
    val target = SourceQueries.stampedFixture("fb", dir, "events",
        "_batches/3") { target =>
      val ev = Tables.load(s, dir, "events")
        .filter(col("user_id").isNotNull && col("value").isNotNull)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
      (0L to 3L).foreach { b =>
        val batch = ev.filter(col("event_id") % 4 === b)
          .select(col("user_id"), col("event_type"), col("value"))
          .as[(Long, String, Double)]
        Streaming.mergeBatch(target)(batch, b)
      }
    }
    Streaming.servingTable(s, target).orderBy("key")
  }

  val all: Map[String, Q] = Map(
    "q_stream_seen" -> seen,
    "q_stream_late" -> late,
    "q_stream_minhash" -> minhash,
    "q_stream_foreachbatch" -> foreachbatch,
    "q_stream_enrich" -> enrich,
    "q_stream_join" -> streamJoin,
    "q_stream_left" -> streamLeft,
    "q_stream_cdc" -> streamCdc,
    "q_stream_ttl" -> ttl,
    "q_stream_timer" -> timer,
    "q_stream_tumble" -> tumble,
    "q_stream_slide" -> slide,
    "q_stream_session" -> session,
    "q_stream_dedup" -> dedup,
    "q_stream_state" -> state)
}
