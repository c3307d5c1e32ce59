package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftfns.{Sum128Eval, Sum128InputOutOfRange}
import org.apache.spark.sql.graftfns.SumFunctions.sum128
import org.apache.spark.sql.types._

/** graftfns.Sum128 — the 128-bit scaled-long power-sum aggregate that
  * q_agg_deming's exact-integer restatement rides (r20). The whole
  * oracle-parity story rests on its readout being BIT-identical to the
  * decimal-sum-then-cast-double chain it replaces, across partial
  * aggregation and merges — execute that claim. */
class Sum128Spec extends SparkSpecBase {
  import spark.implicits._

  private def bits(d: Double): Long =
    java.lang.Double.doubleToRawLongBits(d)

  test("sum128 ≡ decimal sum cast to double on the deming power sums") {
    // the real inputs: 2-dp money values off lineitem, scaled exact
    // longs, all five deming scales — spread over multiple partitions
    // so partial-buffer MERGES are exercised, not just updates
    val l = Tables.load(spark, sf0001, "lineitem")
      .repartition(7)
      .select(
        expr("CAST(l_extendedprice * 100 + 0.5 AS BIGINT)").as("xc"),
        expr("CAST(l_discount * 100 + 0.5 AS BIGINT)").as("dc"),
        col("l_returnflag").as("g"))
      .withColumn("y4", col("xc") * (lit(100L) - col("dc")))
    val got = l.groupBy("g").agg(
      sum128(col("xc"), 2).as("sx"),
      sum128(col("y4"), 4).as("sy"),
      sum128(col("xc") * col("xc"), 4).as("sx2"),
      sum128(col("y4") * col("y4"), 8).as("sy2"),
      sum128(col("xc") * col("y4"), 6).as("sxy"))
    val ref = l.select(col("g"),
        col("xc").cast("decimal(18,0)").as("x0"),
        col("y4").cast("decimal(18,0)").as("y0"))
      .groupBy("g").agg(
        (sum(col("x0")).cast("decimal(38,2)") / 100).cast("double")
          .as("sx"),
        (sum(col("y0")).cast("decimal(38,4)") / 10000).cast("double")
          .as("sy"))
    val g1 = got.orderBy("g").collect()
    val r1 = ref.orderBy("g").collect()
    assert(g1.length == r1.length && g1.nonEmpty)
    g1.zip(r1).foreach { case (a, b) =>
      assert(bits(a.getDouble(1)) == bits(b.getDouble(1)),
        s"sx mismatch on ${a.get(0)}: ${a.getDouble(1)} vs ${b.getDouble(1)}")
      assert(bits(a.getDouble(2)) == bits(b.getDouble(2)),
        s"sy mismatch on ${a.get(0)}")
    }
    // the squared sums overflow what a decimal DIVISION can rebuild at
    // scale 8 (the reason Sum128 exists) — reference them against a
    // driver-side exact BigDecimal fold instead
    val rows = l.select(col("g"), col("xc"), col("y4")).collect()
    val byG = rows.groupBy(_.getString(0))
    g1.foreach { r =>
      val rs = byG(r.getString(0))
      def exact(f: Row => java.math.BigInteger, scale: Int): Double = {
        val s = rs.map(f).reduce(_.add(_))
        new java.math.BigDecimal(s, scale).doubleValue()
      }
      def bi(x: Long) = java.math.BigInteger.valueOf(x)
      assert(bits(r.getDouble(3)) == bits(
        exact(x => bi(x.getLong(1)).multiply(bi(x.getLong(1))), 4)),
        s"sx2 mismatch on ${r.getString(0)}")
      assert(bits(r.getDouble(4)) == bits(
        exact(x => bi(x.getLong(2)).multiply(bi(x.getLong(2))), 8)),
        s"sy2 mismatch on ${r.getString(0)}")
      assert(bits(r.getDouble(5)) == bits(
        exact(x => bi(x.getLong(1)).multiply(bi(x.getLong(2))), 6)),
        s"sxy mismatch on ${r.getString(0)}")
    }
  }

  test("sum128 carries across the 10^18 chunk boundary") {
    // values near the per-row input ceiling force hi increments in both
    // update and merge; reference is an exact driver-side fold
    val big = 1200000000000000000L // 1.2e18, the y4² ceiling class
    val df = spark.range(0, 40, 1, 8)
      .select((lit(big) - col("id")).as("v"))
    val got = df.agg(sum128(col("v"), 8)).head.getDouble(0)
    val want = new java.math.BigDecimal(
      (0 until 40).map(i => java.math.BigInteger.valueOf(big - i))
        .reduce(_.add(_)), 8).doubleValue()
    assert(bits(got) == bits(want), s"$got vs $want")
  }

  test("sum128 null semantics mirror SQL sum") {
    val schema = StructType(Seq(StructField("g", StringType),
      StructField("v", LongType)))
    val rows = java.util.Arrays.asList(
      Row("a", java.lang.Long.valueOf(5L)), Row("a", null),
      Row("a", java.lang.Long.valueOf(7L)),
      Row("b", null), Row("b", null))
    val df = spark.createDataFrame(rows, schema).repartition(3)
    val out = df.groupBy("g").agg(sum128(col("v"), 2).as("s"))
      .orderBy("g").collect()
    assert(out(0).getDouble(1) == 0.12) // (5+7)/100, nulls skipped
    assert(out(1).isNullAt(1)) // all-null group reads null, like sum
  }

  test("sum128 is exact up to its input bound and names the error past it") {
    val max = Sum128Eval.MaxInput
    // 16 rows at the bound over 4 partitions: every update and merge
    // carries into hi, none may wrap
    val atBound = spark.range(0, 16, 1, 4)
      .select(when(col("id") % 2 === 0, lit(max)).otherwise(lit(0L))
        .as("v"))
    val want = new java.math.BigDecimal(
      java.math.BigInteger.valueOf(max).multiply(
        java.math.BigInteger.valueOf(8)), 2).doubleValue()
    val got = atBound.agg(sum128(col("v"), 2)).head.getDouble(0)
    assert(bits(got) == bits(want), s"$got vs $want")
    // one step past either end of the contract fails the query with the
    // named error instead of summing a wrapped accumulator
    Seq(max + 1, -1L, Long.MinValue).foreach { bad =>
      val df = spark.range(0, 8, 1, 2)
        .select(when(col("id") === 5, lit(bad)).otherwise(col("id"))
          .as("v"))
      val e = intercept[Exception](df.agg(sum128(col("v"), 0)).collect())
      val named = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null)
        .collectFirst { case r: Sum128InputOutOfRange => r }
      assert(named.exists(_.value == bad),
        s"input $bad: expected Sum128InputOutOfRange, got $e")
    }
  }
}
