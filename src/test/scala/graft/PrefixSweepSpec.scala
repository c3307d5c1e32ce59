package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.{PrefixSweep, Relational}

/** PrefixSweep (distributed running sum / exclusive running max) must
  * be BIT-IDENTICAL to the single-partition `Window.orderBy` it
  * replaces, for any partition count — including degenerate ones (1
  * partition; more partitions than rows). The global rank beside them
  * comes from [[Relational.globalRowNumber]], the one global row
  * numbering, over the swept output. */
class PrefixSweepSpec extends SparkSpecBase {

  import spark.implicits._

  // deterministic pseudo-random rows with duplicate weights and a
  // tie-broken total order (k unique)
  private lazy val rows = (1 to 997).map { i =>
    val k = (i * 7919) % 997 // a permutation of 0..996 — unique keys
    (k.toLong, ((i * 31) % 13).toLong, ((i * 17) % 101).toLong)
  }.toSeq
  private lazy val df =
    rows.toDF("k", "w", "m").repartition(7)

  private lazy val reference = {
    val win = Window.orderBy(col("k"))
    df.withColumn("rnk", row_number().over(win).cast("long"))
      .withColumn("cum", sum("w").over(
        win.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("rmax", max("m").over(
        win.rowsBetween(Window.unboundedPreceding, -1)))
      .select("k", "rnk", "cum", "rmax")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getLong(3))).toSet
  }

  for (parts <- Seq(1, 5, 32, 2000)) {
    test(s"sweep matches the single-partition window at parts=$parts") {
      val swept = PrefixSweep.sweep(df, Seq(col("k")),
          runSums = Seq((col("w"), "cum")),
          runMaxExcl = Seq((col("m"), "rmax")), parts = parts)
      val got = Relational.globalRowNumber(swept, Seq(col("k")), "rnk")
        .select("k", "rnk", "cum", "rmax")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) null else r.getLong(3))).toSet
      assert(got == reference)
    }
  }

  test("sweep honors descending order columns") {
    val win = Window.orderBy(col("k").desc)
    val ref = df.withColumn("rnk", row_number().over(win).cast("long"))
      .select("k", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Relational.globalRowNumber(df, Seq(col("k").desc), "rnk")
      .select("k", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == ref)
    // the sweep's own descending order: a running count is the rank
    val swept = PrefixSweep.sweep(df, Seq(col("k").desc),
        runSums = Seq((lit(1L), "cnt")))
      .select("k", "cnt").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(swept == ref)
  }

  test("ntileOf matches Spark's ntile for every k and N") {
    for (k <- Seq(2, 3, 4, 7, 10); n <- Seq(5, 10, 37, 100)) {
      val d = (1 to n).map(i => (i.toLong, i)).toDF("rnk", "x")
      val ref = d.withColumn("t",
          ntile(k).over(Window.orderBy("x")).cast("long"))
        .select("rnk", "t").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      val got = d.withColumn("t",
          PrefixSweep.ntileOf(col("rnk"), lit(n.toLong), k))
        .select("rnk", "t").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == ref, s"k=$k n=$n")
    }
  }

  test("decimal running sums keep their exact type and value") {
    val dd = rows.toDF("k", "w", "m")
      .withColumn("w", col("w").cast("decimal(38,0)"))
    val win = Window.orderBy(col("k"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ref = dd.withColumn("cum", sum("w").over(win))
      .select("k", "cum").collect()
      .map(r => (r.getLong(0), r.getDecimal(1).toBigInteger)).toSet
    val got = PrefixSweep.sweep(dd, Seq(col("k")),
        runSums = Seq((col("w"), "cum")))
      .select("k", "cum").collect()
      .map(r => (r.getLong(0), r.getDecimal(1).toBigInteger)).toSet
    assert(got == ref)
  }

  test("lookaheadFrame is bit-identical to the single-partition frame") {
    // the q_samp_negative shape: collect over rowsBetween(1, w) of a
    // global total order, with a struct payload
    val df = rows.toDF("k", "w", "m").repartition(7)
    val win = Window.orderBy("k").rowsBetween(1, 20)
    val ref = df.withColumn("cands", collect_list(
        struct(col("w"), col("m"))).over(win))
      .select(col("k"), col("cands"))
      .collect().map(r => (r.getLong(0),
        r.getSeq[org.apache.spark.sql.Row](1).map(_.toString))).toMap
    for (parts <- Seq(1, 4, 16)) {
      val got = PrefixSweep.lookaheadFrame(df, Seq("k"), 20, parts) { w =>
        Seq("cands" -> collect_list(struct(col("w"), col("m"))).over(w))
      }.select(col("k"), col("cands"))
        .collect().map(r => (r.getLong(0),
          r.getSeq[org.apache.spark.sql.Row](1).map(_.toString))).toMap
      assert(got == ref, s"parts=$parts")
    }
  }

  test("lookaheadFrame collapses to one partition when the histogram " +
      "guard trips, and stays exact") {
    // 50 rows into 500 requested partitions: every non-last partition
    // would hold < w rows, so the guard must collapse to a single
    // partition — the result stays bit-identical, never silently wrong
    val tiny = (1 to 50).map(i => (i.toLong, (i % 7).toLong))
      .toDF("k", "w").repartition(5)
    val win = Window.orderBy("k").rowsBetween(1, 20)
    val ref = tiny.withColumn("s", sum("w").over(win))
      .select("k", "s").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getLong(1))).toSet
    val got = PrefixSweep.lookaheadFrame(tiny, Seq("k"), 20, 500) { w =>
      Seq("s" -> sum("w").over(w))
    }.select("k", "s").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getLong(1))).toSet
    assert(got == ref)
  }

  test("nullable running sums match the window's skip-null semantics") {
    // ADVICE r15: a row whose entire LOCAL partition prefix is null
    // must still pick up earlier partitions' non-null sum, and the
    // leading all-null prefix must stay null (SQL sum over an all-null
    // set) — exactly what the single-partition window does. Nulls are
    // placed on the low keys so the first range partitions hold
    // all-null prefixes at high partition counts.
    val nd = (1 to 200).map { i =>
      val w: java.lang.Long = if (i <= 40) null else ((i * 31) % 13).toLong
      (i.toLong, w)
    }.toDF("k", "w").repartition(5)
    val win = Window.orderBy(col("k"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ref = nd.withColumn("cum", sum("w").over(win))
      .select("k", "cum").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getLong(1))).toSet
    for (parts <- Seq(1, 5, 64, 500)) {
      val got = PrefixSweep.sweep(nd, Seq(col("k")),
          runSums = Seq((col("w"), "cum")), parts = parts)
        .select("k", "cum").collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) null else r.getLong(1))).toSet
      assert(got == ref, s"parts=$parts")
    }
  }
}
