package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reusable relational operators beyond the raw DataFrame surface.
  *
  * Everything here is a *plan combinator*: it builds a declarative Catalyst
  * plan and lets the optimizer pick the physical strategy, so each operator
  * scales from local[32] to a 1000-executor cluster unchanged. No collect(),
  * no driver-side loops.
  */
object Relational {

  /** Top-K rows per group (reference: per-category pagination
    * `database/app.py:74-82` generalized).
    *
    * Physical shape: one shuffle on `partitionCols`, then a per-partition
    * sort + running `row_number` — no global sort. At scale, prefer small K;
    * Spark's `WindowExec` keeps only the current partition in memory.
    */
  def topKPerGroup(df: DataFrame, partitionCols: Seq[Column],
                   orderCols: Seq[Column], k: Int,
                   rankCol: String = "rn"): DataFrame = {
    val w = Window.partitionBy(partitionCols: _*).orderBy(orderCols: _*)
    df.withColumn(rankCol, row_number().over(w)).filter(col(rankCol) <= k)
  }

  /** Global `row_number` over a total order WITHOUT a single-partition
    * window — the scale-safe surrogate-id assigner, and the engine's
    * only global row numbering (surrogate ids, pagination, and every
    * global rank that feeds an ntile or a top-k cut).
    *
    * `Window.orderBy(...)` with no partitionBy funnels the whole dataset
    * through one task; at 100 TB one executor core sorts the world. This
    * variant keeps the sort distributed: range-repartition on the order
    * key (each partition owns a disjoint, ordered key range), sort within
    * partitions, then attach rank = per-partition count prefix sum +
    * local index in one pass over the SAME materialized shuffle
    * ([[org.apache.spark.sql.graftfns.GlobalIndex]], the zipWithIndex
    * pattern — see its scaladoc for why the declarative two-branch
    * formulation is unsound: without guaranteed exchange reuse each
    * branch samples its own range boundaries and the offsets silently
    * key against the wrong partition space).
    *
    * Deterministic for any input layout PROVIDED `orderCols` is a total
    * order (key-complete, §7.5.4): global rank = (rows in lower key
    * ranges) + (local rank), both of which depend only on key values —
    * partition boundaries shift the split of the sum, never its value.
    * Equal keys would make ranks partition-dependent, exactly as they
    * would under a global window.
    */
  def globalRowNumber(df: DataFrame, orderCols: Seq[Column],
                      rankCol: String = "rn"): DataFrame =
    globalRowNumberWithCount(df, orderCols, rankCol)._1

  /** [[globalRowNumber]] + the total row count for free — the count
    * is a byproduct of GlobalIndex's offsets job, so callers that
    * need N (ring moduli, ntile denominators) skip a count job.
    * `runningSums` attaches exclusive running sums of LONG weights in
    * rank order ([[org.apache.spark.sql.graftfns.GlobalIndex]]). */
  def globalRowNumberWithCount(df: DataFrame, orderCols: Seq[Column],
                               rankCol: String = "rn",
                               runningSums: Seq[(String, String)] = Nil)
      : (DataFrame, Long) = {
    require(orderCols.nonEmpty, "globalRowNumber needs a total order")
    // fail loudly instead of silently replacing a caller column
    require(!df.columns.contains(rankCol),
      s"globalRowNumber would overwrite input column $rankCol; " +
        "rename it or pass a different rankCol")
    org.apache.spark.sql.graftfns.GlobalIndex.attachWithTotal(
      df.repartitionByRange(orderCols: _*)
        .sortWithinPartitions(orderCols: _*),
      rankCol, runningSums)
  }

  /** Deterministic offset pagination (reference `database/app.py:74-82`:
    * `LIMIT page_size OFFSET (page-1)*page_size`).
    *
    * Spark has no stable OFFSET on unsorted data; a total order over a
    * key-complete column list makes pages disjoint and covering. The
    * global rank comes from [[globalRowNumber]] (range-partitioned, no
    * single-partition window); the page filter then touches only the
    * partitions whose key range overlaps the page. */
  def paginate(df: DataFrame, orderCols: Seq[Column], page: Int,
               pageSize: Int, rankCol: String = "rn"): DataFrame = {
    val lo = (page - 1) * pageSize
    globalRowNumber(df, orderCols, rankCol)
      .filter(col(rankCol) > lo && col(rankCol) <= lo + pageSize)
  }

  /** Keep the first row per key under an explicit order — the deterministic
    * form of `dropDuplicates` (which keeps an arbitrary row and would break
    * oracle hash parity; SURVEY.md §7.5). Mirrors the reference's
    * `get_or_create` keep-existing semantics
    * (`database/parse_and_upload_to_db.py:31-47`). */
  def dedupKeepFirst(df: DataFrame, keyCols: Seq[Column],
                     orderCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keyCols: _*).orderBy(orderCols: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** As-of join: for each left row, the latest right row with the same key
    * and `rightTs <= leftTs` (reference: "previous weekday" modular lookup
    * `database/app.py:157-160` generalized to event time).
    *
    * Implemented as union + running `last(_, ignoreNulls)` over one
    * partition-local window: one shuffle on the key, no range join, no
    * broadcast requirement on either side — this is the shape that survives
    * a 100× scale-up (a BNL range join would not). Ties (`rightTs ==
    * leftTs`) resolve to the right row, matching DuckDB `ASOF JOIN`'s `>=`.
    *
    * @param payloadCols right-side columns to carry (renamed as given)
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
               leftTs: String, rightTs: String,
               payloadCols: Map[String, String]): DataFrame = {
    val lTagged = left.withColumn("__t", col(leftTs))
      .withColumn("__side", lit(1))
    // payload travels as ONE struct so the filled columns always come
    // from the same right row — independent per-column last() fills
    // could stitch a payload tuple together from different tying rows
    val rTagged = right.withColumn("__t", col(rightTs))
      .withColumn("__side", lit(0))
      .withColumn("__p", struct(payloadCols.map { case (from, to) =>
        col(from).as(to)
      }.toSeq: _*))
    val pType = rTagged.schema("__p").dataType
    val lCols = left.columns
    val unioned = lTagged.select(
        (lCols.map(col).toIndexedSeq :+ lit(null).cast(pType).as("__p")
          :+ col(key).as("__k") :+ col("__t") :+ col("__side")): _*)
      .unionByName(rTagged.select(
        (lCols.map(c => if (c == key) col(key) else lit(null).cast(
          left.schema(c).dataType).as(c)).toIndexedSeq :+ col("__p")
          :+ col(key).as("__k") :+ col("__t") :+ col("__side")): _*))
    // __side ASC puts the right row first on ts ties so `last` sees it;
    // the payload struct breaks (key, ts) ties between right rows —
    // without it, duplicate right timestamps would make the kept payload
    // partition-order-dependent (§7.5 determinism).
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__t"), col("__side"), col("__p").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = unioned.withColumn("__p",
      last(col("__p"), ignoreNulls = true).over(w))
    payloadCols.values.foldLeft(filled.filter(col("__side") === 1)) {
      (d, to) => d.withColumn(to, col(s"__p.$to"))
    }.drop("__k", "__t", "__side", "__p")
  }

  /** Salted equi-join for skewed keys: explode the small side `factor`
    * ways, scatter the large side's hot keys across the replicas, join on
    * (key, salt). AQE's skew-join handles sort-merge skew at runtime;
    * salting is the plan-level tool when one key dominates so hard that a
    * single task would still own it (the 100 TB hot-key case). */
  def saltedJoin(large: DataFrame, small: DataFrame, key: String,
                 factor: Int): DataFrame = {
    val salted = small.withColumn("__salt",
      explode(sequence(lit(0), lit(factor - 1))))
    // deterministic pseudo-random scatter: hash of the large row's key
    // and a per-row discriminator would need a unique col; xxhash64 of all
    // columns is stable and spreads rows of one key across salts
    val largeSalted = large.withColumn("__salt",
      pmod(xxhash64(large.columns.toIndexedSeq.map(col): _*), lit(factor)))
    largeSalted.join(salted,
        largeSalted(key) === salted(key) &&
          largeSalted("__salt") === salted("__salt"))
      .drop(salted(key)).drop("__salt")
  }

  /** Interval-containment (range) join: `probe.v ∈ [bounds.lo, bounds.hi)`.
    * The bounds side is broadcast — at any scale the tier table is small
    * (reference analog: the 3-disjunct time-window filter
    * `database/app.py:177-193` turned into a join against a probe
    * relation). Catalyst plans this as BroadcastNestedLoopJoin; with a
    * non-broadcastable right side you would bucketize instead. */
  def rangeJoin(probe: DataFrame, bounds: DataFrame, v: Column,
                lo: Column, hi: Column): DataFrame =
    probe.join(broadcast(bounds), v >= lo && v < hi, "inner")

  /** Interval-OVERLAP join of two half-open timestamp interval sets —
    * the bucketized path [[rangeJoin]]'s doc promises for when NEITHER
    * side broadcasts. Each interval explodes to the fixed-width time
    * buckets it covers; candidates meet in a bucket EQUI-join (shuffle
    * on the bucket key — never a nested-loop range join), then the exact
    * overlap predicate `l.start < r.end && r.start < l.end` filters
    * false bucket-mates. Each overlapping pair shares every bucket in
    * the overlap region, so it would match once per shared bucket; the
    * count-once guard `bucket == greatest(l_start_bucket, r_start_bucket)`
    * keeps exactly one copy WITHOUT a distinct (the later-starting
    * interval's first bucket is always inside the overlap at µs
    * granularity, and `greatest` picks one bucket deterministically).
    * Scale: shuffle volume = Σ intervals × buckets-per-interval — size
    * `bucketSeconds` near the typical interval length so the explode
    * factor stays 1-2×; skewed hot buckets fall under AQE's skew-join
    * handling like any other equi-join key. Column names of the two
    * inputs must be disjoint (rename before calling — the query layer's
    * job), and interval ends are EXCLUSIVE (`[start, end)`). */
  def intervalOverlapJoin(left: DataFrame, lStart: String, lEnd: String,
                          right: DataFrame, rStart: String, rEnd: String,
                          bucketSeconds: Long): DataFrame = {
    val w = lit(bucketSeconds * 1000000L)
    def bucketOf(c: Column): Column = floor(unix_micros(c) / w)
    // half-open end: the bucket of the last µs inside the interval
    def lastBucket(c: Column): Column = floor((unix_micros(c) - 1) / w)
    def exploded(df: DataFrame, s: String, e: String,
                 bCol: String, bStartCol: String): DataFrame =
      // empty/inverted intervals ([t,t) or end<start) overlap nothing
      // under the strict predicate, but their bucket sequence would run
      // DESCENDING (the TextSim.shingles footgun) and explode to buckets
      // the interval does not cover — drop them before the explode.
      df.filter(col(s) < col(e))
        .withColumn(bStartCol, bucketOf(col(s)))
        .withColumn(bCol,
          explode(sequence(col(bStartCol), lastBucket(col(e)))))
    val l = exploded(left, lStart, lEnd, "__lb", "__lbs")
    val r = exploded(right, rStart, rEnd, "__rb", "__rbs")
    l.join(r,
        col("__lb") === col("__rb") &&
          col(lStart) < col(rEnd) && col(rStart) < col(lEnd) &&
          col("__lb") === greatest(col("__lbs"), col("__rbs")))
      .drop("__lb", "__lbs", "__rb", "__rbs")
  }

  /** Bit-spread of the low 16 bits of a long into the even bit
    * positions of a 32-bit lane — one half of a Morton (Z-order)
    * interleave, via the standard magic-mask doubling network (4 shifts
    * + 4 masks, branch-free, stays inside whole-stage codegen as plain
    * long arithmetic). */
  private def spread16(c: Column): Column = {
    val x0 = c.bitwiseAND(lit(0xFFFFL))
    val x1 = x0.bitwiseOR(shiftleft(x0, 8)).bitwiseAND(lit(0x00FF00FFL))
    val x2 = x1.bitwiseOR(shiftleft(x1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val x3 = x2.bitwiseOR(shiftleft(x2, 2)).bitwiseAND(lit(0x33333333L))
    x3.bitwiseOR(shiftleft(x3, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Morton (Z-order) key over two long columns' low 16 bits: bits of
    * `a` and `b` interleaved into one 32-bit-range long, so rows close
    * in BOTH dimensions land close on the single sort key. This is the
    * multi-dimensional clustering primitive behind data-skipping
    * layouts (Delta/Iceberg OPTIMIZE ZORDER): sort a 100 TB table by
    * `zOrder2(k1, k2)` before writing and every file's (k1, k2)
    * min/max footer stats cover a small rectangle instead of a full
    * stripe — a predicate on EITHER dimension prunes most files, where
    * a lexicographic (k1, k2) sort only ever prunes on k1. Pure
    * integer expression (no UDF, codegen'd); callers with >16-bit key
    * domains should rank/bucket first (locality needs only ORDER
    * preservation, not injectivity). */
  def zOrder2(a: Column, b: Column): Column =
    spread16(a).bitwiseOR(shiftleft(spread16(b), 1))

  /** Bloom-prefiltered EXACT semi-join on a long key, for membership
    * lists too large to broadcast as an exact hash relation (the
    * billion-key deletion wave: 10⁹ longs ≈ 8 GB raw, but a Bloom
    * filter carries them in n·ln(1/fpp)/ln²2 bits ≈ 1.2 GB at 1% fpp —
    * and far less for realistic waves). Two stages: (1) the filter
    * builds DISTRIBUTEDLY (`df.stat.bloomFilter` merges per-partition
    * filters by bit-OR, insertion-order-independent → deterministic)
    * and broadcasts once per executor; the fact streams map-side
    * through the probe, discarding ~all non-members with zero shuffle.
    * (2) the surviving sliver — true members plus an fpp fraction of
    * false positives — finishes with an EXACT co-keyed semi-join, so
    * the result is exactly `fact ⋉ keys`: a Bloom filter has no false
    * negatives (no member escapes the prefilter) and the semi-join
    * removes every false positive (no innocent row is ever matched —
    * the property a compliance deletion must have; fpp only costs a
    * slightly larger candidate shuffle, never a wrong row). The probe
    * is a closure over the broadcast filter — one hash+bitset test per
    * row (same documented trade-off as Curation.decontaminateBloom:
    * Spark exposes no public codegen'd probe over a prebuilt filter;
    * its own InjectRuntimeFilter applies this exact pattern to shuffle
    * joins automatically, which is the built-in to prefer when the
    * join is already planned as one).
    *
    * The filter is sized from the ACTUAL distinct-key count (one
    * column-pruned pass over the key list) — guessing low degrades the
    * realized fpp quadratically, and the key list is the small side by
    * premise, so the sizing pass is cheap relative to the fact scan it
    * protects. The key list is persist()'d across the two eager driver
    * actions (sizing count + filter build) so its lineage runs ONCE,
    * not twice, and unpersisted as soon as the result plan is built —
    * the finishing semi-join recomputes the (column-pruned, co-keyed)
    * distinct inside the caller's job rather than pinning a
    * billion-key cache for the session. An empty key list builds no
    * filter: the result is the exact semi-join, empty. Broadcast
    * lifetime: the filter's executor copies are reclaimed by Spark's
    * ContextCleaner once the returned plan (whose probe closure holds
    * the only reference) is dropped. */
  def bloomSemiLong(fact: DataFrame, factKey: String,
                    keys: DataFrame, keyCol: String,
                    fpp: Double = 0.01): DataFrame = {
    val distinctKeys =
      keys.select(col(keyCol).cast("long").as(factKey)).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = math.max(distinctKeys.count(), 1L) // fills the cache
    val bf = org.apache.spark.sql.graftfns.BloomFilters
      .build(distinctKeys, factKey, n, fpp) // reads it
    val probed = bf.fold(fact) { f =>
      val bcast = fact.sparkSession.sparkContext.broadcast(f)
      // null-safe: a null key never matches (anti of nothing) — same
      // null-never-joins semantics as the exact semi-join it feeds
      val mightContain = udf((k: java.lang.Long) =>
        k != null && bcast.value.mightContainLong(k))
      fact.filter(mightContain(col(factKey)))
    }
    val out = probed.join(distinctKeys, Seq(factKey), "semi")
    distinctKeys.unpersist(blocking = false)
    out
  }

  /** Gap-based sessionization: appends a per-key `sess_idx` column —
    * a new session starts when the gap since the key's previous record
    * reaches `gapUs` microseconds (`>=`, matching Structured
    * Streaming's `session_window`, whose intervals [t, t+gap) merge
    * only on STRICT overlap — so the batch and streaming sessionizers
    * agree on every input, boundary gaps included; pinned by the
    * cross-formulation spec). lag → boundary flag → running sum, both
    * windows running (O(1) state), one shuffle on the key; the
    * (ts, id) order key must be total for determinism (id breaks ts
    * ties). */
  def sessionize(df: DataFrame, keyCol: String, tsCol: String,
                 idCol: String, gapUs: Long): DataFrame = {
    require(gapUs > 0, s"need gapUs > 0, got $gapUs")
    val byKey = Window.partitionBy(keyCol).orderBy(col(tsCol), col(idCol))
    val run = byKey.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    df.withColumn("__prev_ts", lag(col(tsCol), 1).over(byKey))
      .withColumn("__new_sess",
        when(col("__prev_ts").isNull ||
          unix_micros(col(tsCol)) - unix_micros(col("__prev_ts")) >= gapUs,
          1L).otherwise(0L))
      .withColumn("sess_idx", sum("__new_sess").over(run))
      .drop("__prev_ts", "__new_sess")
  }
}
