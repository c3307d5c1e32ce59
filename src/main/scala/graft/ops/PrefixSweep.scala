package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed order-sweep primitives: global `row_number`, running
  * sums, and (exclusive) running maxima over a TOTAL order — without
  * ever moving the data to a single partition.
  *
  * The problem this kills: `Window.orderBy(...)` with no partition
  * spec plans a single-partition sort (`WindowExec: No Partition
  * Defined` warning) — correct at demo SF, a scale-killer at 100×,
  * because one task sorts the whole input. Eight round-14 queries
  * (rank statistics over distinct-value grids, entity-grain ntile,
  * skyline sweeps) carried that shape.
  *
  * The replacement is the classic two-pass distributed prefix scan:
  *
  *  1. `repartitionByRange` on the order key — partition i holds a
  *     contiguous key range, all ranges ordered (equal keys land in
  *     one partition, so a tie-broken total order is preserved).
  *     The layout is `localCheckpoint`ed: `spark_partition_id()` must
  *     agree between the offsets job and the readout job, and
  *     RangePartitioner RE-SAMPLES (job-dependent seed) on every
  *     execution — without the pin, the two jobs could disagree on
  *     partition boundaries and the offsets would be garbage.
  *  2. One aggregate computes per-partition counts/sums/maxima — P
  *     rows, bounded by the cluster fan-out, never by the data —
  *     collected once to the driver (metadata-sized, the same class
  *     as lookaheadFrame's partition histogram).
  *  3. Exclusive per-partition offsets come from a triangular
  *     self-join over those P LOCAL rows (pid' < pid) — O(P²) pairs
  *     of metadata evaluated over LocalTableScans, no window, no
  *     distributed re-scan.
  *  4. The readout runs the ordinary PARTITIONED window
  *     (`Window.partitionBy(__pid).orderBy(keys)`) and adds the
  *     broadcast offset back: global value = local prefix + offset.
  *
  * Results are bit-identical to the single-partition window for any
  * associative running aggregate (integer/decimal sums, max, rank)
  * when `orderCols` is a total order — which every caller here
  * guarantees with an explicit tiebreak column. */
object PrefixSweep {

  /** Adds to `df`, ordered globally by `orderCols` (must be a TOTAL
    * order — tie-broken), any of:
    *  - `rankCol`: global 1-based `row_number` (LongType);
    *  - `runSums`: inclusive running sums of each (expr, outName);
    *  - `runMaxExcl`: EXCLUSIVE running max of each (expr, outName) —
    *    the `rowsBetween(unboundedPreceding, -1)` frame: null on the
    *    global first row, exactly like the single-partition window.
    *
    * `parts` defaults to `spark.sql.shuffle.partitions`. */
  def sweep(df: DataFrame, orderCols: Seq[Column],
            rankCol: Option[String] = None,
            runSums: Seq[(Column, String)] = Nil,
            runMaxExcl: Seq[(Column, String)] = Nil,
            parts: Int = 0): DataFrame = {
    require(orderCols.nonEmpty, "sweep needs a total order")
    val spark = df.sparkSession
    val p =
      if (parts > 0) parts
      else spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    // LAZY checkpoint (r20): the per-partition totals are collected
    // right below, and that first action both computes the layout and
    // pins its blocks — an EAGER checkpoint would spend a whole extra
    // materialization job on the same work. The pin itself is still
    // load-bearing (see the header: RangePartitioner re-samples per
    // execution); laziness only fuses the pin into the offsets pass.
    val parted = df.repartitionByRange(p, orderCols: _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(false)

    // per-partition totals: P rows of metadata
    val aggs =
      count(lit(1)).as("__cnt") +:
        (runSums.zipWithIndex.map { case ((c, _), i) =>
          sum(c).as(s"__s$i")
        } ++ runMaxExcl.zipWithIndex.map { case ((c, _), i) =>
          max(c).as(s"__m$i")
        })
    // totals COLLECTED to the driver (the lookaheadFrame histogram
    // precedent: P rows, bounded by the cluster fan-out, never by the
    // data) and re-planted as a LOCAL relation (r20). The triangular
    // offsets join below then runs over LocalTableScans, so the
    // readout's broadcast(off) build does no distributed work — the
    // former all-DataFrame form paid TWO broadcast-build jobs that
    // each re-scanned the checkpointed blocks (one aggregating the pid
    // totals for `b`, one re-aggregating them for `off`): a whole pass
    // over `parted` per sweep, deleted. Expressions are unchanged, so
    // the null/decimal semantics of the offsets are exactly the old
    // ones — Catalyst evaluates the same plan over a local source.
    val perPid0 = parted.groupBy(col("__pid")).agg(aggs.head, aggs.tail: _*)
    val perPid = spark.createDataFrame(
      java.util.Arrays.asList(perPid0.collect(): _*), perPid0.schema)

    // exclusive offsets per pid (strictly-earlier partitions only)
    val b = perPid.select(
      col("__pid").as("__bpid") +:
        col("__cnt").as("__bcnt") +:
        (runSums.indices.map(i => col(s"__s$i").as(s"__bs$i")) ++
          runMaxExcl.indices.map(i => col(s"__m$i").as(s"__bm$i"))): _*)
    val offAggs =
      coalesce(sum(col("__bcnt")), lit(0L)).as("__rankOff") +:
        (runSums.indices.map(i => sum(col(s"__bs$i")).as(s"__so$i")) ++
          runMaxExcl.indices.map(i => max(col(s"__bm$i")).as(s"__mo$i")))
    val off = perPid.select("__pid")
      .join(broadcast(b), col("__bpid") < col("__pid"), "left")
      .groupBy(col("__pid"))
      .agg(offAggs.head, offAggs.tail: _*)

    // readout: partitioned window + offset add-back
    val win = Window.partitionBy(col("__pid")).orderBy(orderCols: _*)
    val cumWin = win.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val exclWin = win.rowsBetween(Window.unboundedPreceding, -1)
    var out = parted.join(broadcast(off), Seq("__pid"))
    rankCol.foreach { rc =>
      out = out.withColumn(rc,
        row_number().over(win).cast("long") + col("__rankOff"))
    }
    runSums.zipWithIndex.foreach { case ((c, name), i) =>
      // SQL sum skips nulls and is null only over an all-null (or
      // empty) prefix — mirror that GLOBALLY: null only when both the
      // local prefix and every earlier partition's total are null;
      // otherwise add the two legs with null-as-zero. A bare
      // `local + coalesce(off, 0)` would null out any row whose
      // entire LOCAL prefix is null even when earlier partitions
      // carry values, diverging from the single-partition window
      // (ADVICE r15; dormant — current callers sum non-null counts).
      val localSum = sum(c).over(cumWin)
      val offSum = col(s"__so$i")
      out = out.withColumn(name,
        when(localSum.isNull && offSum.isNull, localSum)
          .otherwise(coalesce(localSum, lit(0)) +
            coalesce(offSum, lit(0))))
    }
    runMaxExcl.zipWithIndex.foreach { case ((c, name), i) =>
      // greatest() skips nulls: local-prefix null (first row in its
      // partition) falls back to the earlier-partition max, and vice
      // versa; null only when BOTH are (the global first row)
      out = out.withColumn(name, greatest(max(c).over(exclWin),
        col(s"__mo$i")))
    }
    out.drop(
      "__pid" +: "__rankOff" +:
        (runSums.indices.map(i => s"__so$i") ++
          runMaxExcl.indices.map(i => s"__mo$i")): _*)
  }

  /** Distributed bounded-lookahead frame: evaluates window expressions
    * over `rowsBetween(1, w)` of the GLOBAL `orderCols` order (must be
    * a tie-broken total order, ascending) — without the
    * single-partition sort `Window.orderBy(...).rowsBetween(1, w)`
    * plans.
    *
    * Scheme (the documented q_samp_negative scale form): range
    * partition on the order key, then ship each partition's FIRST w
    * rows to the preceding partition as overlap — the tail rows of
    * partition p read their lookahead from the overlap, every other
    * row's frame is partition-local, so the per-partition window is
    * bit-identical to the global one. Overlap rows are tagged and
    * dropped after the window.
    *
    * Correctness needs every partition except the last to hold ≥ w
    * rows (a frame may not span TWO boundaries) — VERIFIED from the
    * per-partition histogram (partition-count-sized metadata, not
    * data); on violation (tiny or skewed input) the whole input
    * collapses to one partition — always exact, never silently
    * wrong.
    *
    * `exprs` receives the framed WindowSpec and returns the columns to
    * add (each built with `.over` of it). */
  def lookaheadFrame(df: DataFrame, orderCols: Seq[String], w: Int,
      parts: Int = 0)(
      exprs: org.apache.spark.sql.expressions.WindowSpec =>
        Seq[(String, Column)]): DataFrame = {
    require(orderCols.nonEmpty && w > 0)
    val spark = df.sparkSession
    // no sizing count: the per-partition histogram below VERIFIES the
    // ≥ w invariant whatever p is, and collapses to one partition on
    // violation — paying a whole corpus-count job just to pre-size p
    // would duplicate that guarantee
    val p =
      if (parts > 0) parts
      else spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val oc = orderCols.map(col)
    def run(nParts: Int): DataFrame = {
      // lazy pin of the sampled range boundaries (see sweep): the
      // histogram collect below is the materializing action. With
      // nParts == 1 there is no collect and the pin first fires at
      // readout; that is safe because repartitionByRange(1) samples no
      // boundaries, so every evaluation puts all rows in partition 0
      val parted = df.repartitionByRange(nParts, oc: _*)
        .withColumn("__pid", spark_partition_id())
        .localCheckpoint(false)
      if (nParts > 1) {
        val sizes = parted.groupBy(col("__pid")).count()
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        // every pid BELOW the last non-empty one needs ≥ w rows —
        // including EMPTY intermediate partitions, which the groupBy
        // histogram omits (getOrElse 0)
        val lastPid = if (sizes.isEmpty) 0 else sizes.keys.max
        val tooSmall = (0 until lastPid).exists(pid =>
          sizes.getOrElse(pid, 0L) < w)
        if (tooSmall) return run(1)
      }
      val headW = Window.partitionBy(col("__pid")).orderBy(oc: _*)
      val overlap = parted
        .withColumn("__rn", row_number().over(headW))
        .filter(col("__rn") <= w && col("__pid") > 0)
        .withColumn("__dst", col("__pid") - 1)
        .withColumn("__own", lit(false))
        .drop("__rn")
      val own = parted.withColumn("__dst", col("__pid"))
        .withColumn("__own", lit(true))
      val union = own.unionByName(overlap)
      val frameW = Window.partitionBy(col("__dst")).orderBy(oc: _*)
        .rowsBetween(1, w)
      val withExprs = exprs(frameW).foldLeft(union) {
        case (d, (name, c)) => d.withColumn(name, c)
      }
      withExprs.filter(col("__own")).drop("__pid", "__dst", "__own")
    }
    run(p)
  }

  /** Standard SQL `ntile(k)` from a global rank and the total row
    * count N: the first (N mod k) tiles take ceil(N/k) rows, the rest
    * floor(N/k) — the same bucket boundaries Spark's and DuckDB's
    * NTILE produce over an identical total order. Pure expression, no
    * window. `rank` is the 1-based global row_number, `n` the total
    * count (both LongType columns). */
  def ntileOf(rank: Column, n: Column, k: Int): Column = {
    // Column `/` is true division (double) — floor() restores integer
    // semantics; exact while counts stay below 2^53, i.e. always here
    val q = floor(n / k).cast("long")
    val r = (n % k).cast("long")
    val cutoff = r * (q + 1) // rows living in the fat (q+1-row) tiles
    (when(rank <= cutoff, floor((rank - 1) / (q + 1)))
      .otherwise(r + floor((rank - cutoff - 1) / q)) + 1)
      .cast("long")
  }
}
