package graft

import graft.ops.Relational
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Unit coverage for the reusable plan combinators in [[Relational]]. */
class RelationalOpsSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val scores = Seq(
    ("a", 1, 10.0), ("a", 2, 30.0), ("a", 3, 20.0), ("a", 4, 30.0),
    ("b", 5, 5.0), ("c", 6, 1.0), ("c", 7, 2.0))
    .toDF("grp", "id", "score")

  test("topKPerGroup keeps k rows per group, ties broken by id") {
    val got = Relational.topKPerGroup(scores, Seq(col("grp")),
        Seq(col("score").desc, col("id")), 2)
      .select("grp", "id").as[(String, Int)].collect().toSet
    assert(got == Set(("a", 2), ("a", 4), ("b", 5), ("c", 7), ("c", 6)))
  }

  test("globalRowNumber equals a global window, for any input layout") {
    val rnd = new scala.util.Random(7)
    val rows = rnd.shuffle((1 to 500).toList).map(i => (i, s"v$i"))
    val expected = (1 to 500).map(i => (i.toLong, i)).toSet
    // the rank must be a pure function of the key order — identical across
    // pathological input partitionings (1 partition, 7, 64 ≫ rows/partition)
    for (parts <- Seq(1, 7, 64)) {
      val df = rows.toDF("k", "payload").repartition(parts)
      val got = Relational.globalRowNumber(df, Seq(col("k")))
        .select(col("rn"), col("k")).as[(Long, Int)].collect().toSet
      assert(got == expected, s"layout parts=$parts")
    }
  }

  test("property: globalRowNumber ranks = sorted position, random keys/layouts") {
    // seeded trials over hostile inputs: sparse negative longs, string
    // keys, sizes around partition-count boundaries — the rank must
    // always be the 1-based position in the sorted key order
    for (seed <- Seq(1, 2, 3)) {
      val rnd = new scala.util.Random(seed)
      val n = 1 + rnd.nextInt(400)
      val keys = rnd.shuffle(
        Iterator.continually(rnd.nextLong() % 1000000).distinct.take(n).toList)
      val parts = 1 + rnd.nextInt(40)
      val byLong = Relational.globalRowNumber(
          keys.map(k => (k, k.toString)).toDF("k", "p").repartition(parts),
          Seq(col("k")))
        .select("rn", "k").as[(Long, Long)].collect().toMap
      keys.sorted.zipWithIndex.foreach { case (k, i) =>
        assert(byLong(i + 1L) == k, s"seed=$seed long rank ${i + 1}")
      }
      val skeys = keys.map(k => f"s$k%020d") // zero-padded: string order = numeric
      val byString = Relational.globalRowNumber(
          skeys.map(k => Tuple1(k)).toDF("k").repartition(parts),
          Seq(col("k")))
        .select("rn", "k").as[(Long, String)].collect().toMap
      skeys.sorted.zipWithIndex.foreach { case (k, i) =>
        assert(byString(i + 1L) == k, s"seed=$seed string rank ${i + 1}")
      }
    }
  }

  test("globalRowNumber on empty and single-row inputs") {
    // Normalize can legitimately see an empty collection table; the
    // zipWithIndex path must not choke on a zero-partition count job
    val empty = Relational.globalRowNumber(
      Seq.empty[(Long, String)].toDF("k", "p"), Seq(col("k")))
    assert(empty.count() == 0 && empty.columns.contains("rn"))
    val one = Relational.globalRowNumber(
      Seq((42L, "x")).toDF("k", "p"), Seq(col("k")))
      .select("rn", "k").as[(Long, Long)].collect().toSeq
    assert(one == Seq((1L, 42L)))
  }

  test("globalRowNumber running sums equal a preceding-rows window sum") {
    // a running sum is the weight summed over the rows ranked before
    // this one; a null weight counts 0, as it does in the window's sum
    val before = Window.orderBy("k")
      .rowsBetween(Window.unboundedPreceding, -1)
    val rows = new scala.util.Random(11).shuffle((1 to 300).toList)
      .map(i => (i, (i % 7).toLong, if (i % 5 == 0) None else Some(i * 3L)))
    def check(df: DataFrame, label: String): Unit = {
      val got = Relational.globalRowNumberWithCount(df, Seq(col("k")), "rn",
          Seq("a" -> "a_before", "b" -> "b_before"))._1
        .select("rn", "a_before", "b_before").as[(Long, Long, Long)]
        .collect().sortBy(_._1).toSeq
      val want = df.select(row_number().over(Window.orderBy("k")).cast("long"),
          coalesce(sum("a").over(before), lit(0L)),
          coalesce(sum("b").over(before), lit(0L)))
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      assert(got == want, label)
    }
    val df = rows.toDF("k", "a", "b")
    for (parts <- Seq(1, 4, 7)) check(df.repartition(parts), s"parts=$parts")
    check(df.limit(0), "empty")
    check(df.limit(1), "one row")
  }

  test("globalRowNumber never funnels raw rows through one partition") {
    // The zipWithIndex formulation has no window, no SinglePartition
    // exchange and no offsets join at all — ranks are attached in one
    // pass over the range-partitioned shuffle. Assert the distribution
    // property directly: the ranked output still lives in the range
    // partitioning (many partitions, each owning a contiguous rank run),
    // not in one collapsed partition.
    // AQE rightly coalesces a 150-row shuffle to one partition at test
    // scale — disable coalescing so the scale-relevant distribution
    // (multiple partitions, each a contiguous rank run) is observable
    val k = "spark.sql.adaptive.coalescePartitions.enabled"
    val old = spark.conf.get(k)
    val parts = try {
      spark.conf.set(k, "false")
      Relational.globalRowNumber(
          Tables.load(spark, sf0001, "customer"), Seq(col("c_custkey")))
        .select("rn").rdd
        .mapPartitions(it => Iterator(it.map(_.getLong(0)).toSeq))
        .collect().filter(_.nonEmpty)
    } finally spark.conf.set(k, old)
    assert(parts.length > 1,
      s"all ${parts.map(_.size).sum} rows landed in one partition")
    parts.foreach { p =>
      assert(p == (p.min to p.max).toSeq,
        "a partition's ranks are not one contiguous sorted run")
    }
    assert(parts.sortBy(_.head).flatten.toSeq ==
      (1L to parts.map(_.size).sum).toSeq, "partitions overlap or gap")
  }

  test("paginate: pages are disjoint and covering") {
    val all = (1 to 10).map(i =>
      Relational.paginate(scores, Seq(col("id")), i, 3)
        .select("id").as[Int].collect().toSeq)
    val flat = all.flatten
    assert(flat == flat.distinct, "pages overlap")
    assert(flat.sorted == (1 to 7).toSeq, "pages don't cover")
    assert(all.head == Seq(1, 2, 3), "page order broken")
  }

  test("dedupKeepFirst keeps the first row per key under the given order") {
    val got = Relational.dedupKeepFirst(scores, Seq(col("grp")),
        Seq(col("score").desc, col("id")))
      .select("grp", "id").as[(String, Int)].collect().toSet
    assert(got == Set(("a", 2), ("b", 5), ("c", 7)))
  }

  test("asofJoin picks latest right row at-or-before, ties to right row") {
    val left = Seq((1, "k", 100L), (2, "k", 205L), (3, "k", 50L),
      (4, "other", 100L)).toDF("id", "k", "ts")
    val right = Seq((10, "k", 100L), (11, "k", 200L), (12, "k", 300L))
      .toDF("rid", "k", "ts")
    val got = Relational.asofJoin(left, right, "k", "ts", "ts",
        Map("rid" -> "prior_rid"))
      .select("id", "prior_rid").collect()
      .map(r => (r.getInt(0), if (r.isNullAt(1)) None else Some(r.getInt(1))))
      .toSet
    assert(got == Set((1, Some(10)), // tie at ts=100 → right row wins (>=)
      (2, Some(11)), (3, None), (4, None)))
  }

  test("property: asofJoin matches a brute-force reference (300 seeded rows)") {
    val rnd = new scala.util.Random(11)
    val leftRows = (0 until 150).map(i =>
      (i, s"k${rnd.nextInt(8)}", rnd.nextInt(1000).toLong))
    val rightRows = (0 until 150).map(i =>
      (1000 + i, s"k${rnd.nextInt(8)}", rnd.nextInt(1000).toLong))
    val left = leftRows.toDF("id", "k", "ts")
    val right = rightRows.toDF("rid", "k", "ts")
    val got = Relational.asofJoin(left, right, "k", "ts", "ts",
        Map("rid" -> "prior_rid"))
      .select("id", "prior_rid").collect()
      .map(r => r.getInt(0) ->
        (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    leftRows.foreach { case (id, k, ts) =>
      // reference: right rows with same key, ts<=left ts; keep max ts,
      // ties broken by max payload (the operator's documented tie rule)
      val cands = rightRows.filter(r => r._2 == k && r._3 <= ts)
      val expected =
        if (cands.isEmpty) None
        else Some(cands.maxBy(r => (r._3, r._1))._1)
      assert(got(id) == expected, s"left id=$id k=$k ts=$ts")
    }
  }

  test("property: asof tie-break is layout-independent under duplicate right ts") {
    // The determinism argument for the payload-struct tie-break
    // (Relational.asofJoin: orderBy __t, __side, __p) previously lived
    // only in a comment. Construct heavy (key, ts) duplication — 240 right
    // rows over 5 keys × 12 timestamps ⇒ ~4 tying rows per (key, ts) —
    // and assert the result equals the documented rule (max by ts, then
    // max payload struct in field order: tag first here, then rid) for
    // every input partitioning.
    val rnd = new scala.util.Random(23)
    val leftRows = (0 until 120).map(i =>
      (i, s"k${rnd.nextInt(5)}", rnd.nextInt(14).toLong))
    val rightRows = (0 until 240).map(i =>
      (1000 + i, s"t${rnd.nextInt(6)}", s"k${rnd.nextInt(5)}",
        rnd.nextInt(12).toLong))
    val expected: Map[Int, Option[(String, Int)]] = leftRows.map {
      case (id, k, ts) =>
        val cands = rightRows.filter(r => r._3 == k && r._4 <= ts)
        id -> (if (cands.isEmpty) None
               else Some(cands.map(r => (r._4, r._2, r._1)).max)
                 .map { case (_, tag, rid) => (tag, rid) })
    }.toMap
    for (parts <- Seq(1, 3, 17)) {
      val left = leftRows.toDF("id", "k", "ts").repartition(parts)
      val right = rightRows.toDF("rid", "tag", "k", "ts").repartition(parts)
      // payload field order (tag, rid): ties on (key, ts) must resolve by
      // tag first, then rid — the struct's lexicographic comparison
      val got = Relational.asofJoin(left, right, "k", "ts", "ts",
          scala.collection.immutable.ListMap(
            "tag" -> "prior_tag", "rid" -> "prior_rid"))
        .select("id", "prior_tag", "prior_rid").collect()
        .map(r => r.getInt(0) -> (if (r.isNullAt(2)) None
          else Some((r.getString(1), r.getInt(2))))).toMap
      assert(got == expected, s"layout parts=$parts")
    }
  }

  test("asofJoin multi-payload stays consistent across tying right rows") {
    val left = Seq((1, "k", 100L)).toDF("id", "k", "ts")
    val right = Seq((10, "x", "k", 100L), (11, "y", "k", 100L))
      .toDF("rid", "tag", "k", "ts")
    val got = Relational.asofJoin(left, right, "k", "ts", "ts",
        Map("rid" -> "prior_rid", "tag" -> "prior_tag"))
      .select("prior_rid", "prior_tag").head()
    // both fields must come from the SAME right row (the struct-ordered
    // last of the tie), never a cross-row mixture
    assert((got.getInt(0), got.getString(1)) == ((11, "y")))
  }

  test("saltedJoin equals a plain join on a skewed key") {
    val large = (1 to 1000).map(i =>
      (if (i % 10 == 0) "cold" + i else "hot", i)).toDF("k", "v")
    val small = Seq(("hot", 1), ("cold10", 2)).toDF("k", "dim")
    val plain = large.join(small, "k").select("v", "dim")
      .as[(Int, Int)].collect().toSet
    val salted = Relational.saltedJoin(large, small, "k", 8)
      .select("v", "dim").as[(Int, Int)].collect().toSet
    assert(salted == plain)
  }

  test("rangeJoin matches half-open intervals") {
    val probe = Seq((1, 0.0), (2, 49.9), (3, 50.0), (4, 200.0))
      .toDF("id", "v")
    val bounds = Seq((0.0, 50.0, "lo"), (50.0, 1000.0, "hi"))
      .toDF("lo", "hi", "tier")
    val got = Relational.rangeJoin(probe, bounds, col("v"), col("lo"),
        col("hi"))
      .select("id", "tier").as[(Int, String)].collect().toSet
    assert(got == Set((1, "lo"), (2, "lo"), (3, "hi"), (4, "hi")))
  }

  test("q_win_range_frame equals a brute-force trailing hour") {
    val got = SparkEntry.queries("q_win_range_frame")(spark, sf0001)
      .collect()
    val raw = Tables.load(spark, sf0001, "events")
      .selectExpr("event_id", "user_id",
        "unix_micros(ts) div 1000000 AS sec",
        "CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS v")
      .collect()
      .map(r => (r.getLong(0), r.get(1), r.getLong(2), r.getDouble(3)))
    val byUser = raw.groupBy(_._2)
    assert(got.nonEmpty && got.length == raw.length)
    got.foreach { r =>
      val (uid, sec) = (r.get(1), r.getLong(2))
      val frame = byUser(uid).filter(e => e._3 >= sec - 3600 && e._3 <= sec)
      assert(r.getLong(3) == frame.length,
        s"event ${r.getLong(0)}: n_1h ${r.getLong(3)} != ${frame.length}")
      val bf = BigDecimal(frame.map(e => BigDecimal(e._4)).sum
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      assert((bf - r.getDouble(4)).abs < 1e-9,
        s"event ${r.getLong(0)}: sum_1h ${r.getDouble(4)} != $bf")
    }
  }

  test("q_win_sessionize equals brute-force gap sessionization") {
    val got = SparkEntry.queries("q_win_sessionize")(spark, sf0001)
      .collect()
      .map(r => (r.get(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val raw = Tables.load(spark, sf0001, "events")
      .selectExpr("event_id", "user_id", "unix_micros(ts) AS us")
      .collect().map(r => (r.getLong(0), r.get(1), r.getLong(2)))
    val expected = raw.groupBy(_._2).toSeq.flatMap { case (uid, g) =>
      val ordered = g.sortBy(e => (e._3, e._1))
      // assign session indexes by walking the gap structure
      var idx = 0L
      var prev = Long.MinValue
      val tagged = ordered.map { e =>
        if (prev == Long.MinValue || e._3 - prev >= 1800000000L) idx += 1
        prev = e._3
        (idx, e)
      }
      tagged.groupBy(_._1).map { case (si, es) =>
        (uid, si, es.length.toLong, es.map(_._2._1).min,
          es.map(_._2._3).max - es.map(_._2._3).min)
      }
    }.toSet
    assert(got.toSet == expected)
    assert(got.length > raw.map(_._2).distinct.length,
      "fixture produced one session per user — gap threshold untested")
  }

  test("q_win_streak equals brute-force longest consecutive-day runs") {
    val got = SparkEntry.queries("q_win_streak")(spark, sf0001)
      .selectExpr("user_id", "len", "CAST(start_day AS STRING)",
        "CAST(end_day AS STRING)")
      .collect()
      .map(r => (r.get(0), r.getLong(1), r.getString(2), r.getString(3)))
      .toSet
    val raw = Tables.load(spark, sf0001, "events")
      .selectExpr("user_id", "CAST(to_date(ts) AS STRING) AS day")
      .distinct().collect().map(r => (r.get(0), r.getString(1)))
    val expected = raw.groupBy(_._1).map { case (uid, g) =>
      val days = g.map(d => java.time.LocalDate.parse(d._2))
        .sortBy(_.toEpochDay)
      // walk the sorted day grid accumulating runs
      val runs = days.foldLeft(List.empty[List[java.time.LocalDate]]) {
        case (Nil, d) => List(List(d))
        case (h :: t, d) =>
          if (d.toEpochDay == h.head.toEpochDay + 1) (d :: h) :: t
          else List(d) :: h :: t
      }.map(_.reverse).reverse
      val best = runs.maxBy(r => (r.length, -r.head.toEpochDay))
      (uid, best.length.toLong, best.head.toString, best.last.toString)
    }.toSet
    assert(got == expected)
    assert(got.exists(_._2 > 1), "fixture has no multi-day streak at all")
  }

  test("q_agg_maxby picks the payload at the extreme unique id") {
    val got = SparkEntry.queries("q_agg_maxby")(spark, sf0001).collect()
    val raw = Tables.load(spark, sf0001, "events")
      .selectExpr("user_id", "event_id",
        "coalesce(event_type, 'none') AS t", "value")
      .collect()
      .map(r => (r.get(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    val byUser = raw.groupBy(_._1)
    assert(got.length == byUser.size)
    got.foreach { r =>
      val g = byUser(r.get(0))
      val last = g.maxBy(_._2)
      val first = g.minBy(_._2)
      assert(r.getLong(1) == g.length && r.getLong(2) == last._2)
      assert(r.getString(3) == last._3, s"last_type for user ${r.get(0)}")
      assert((r.getDouble(4) -
        BigDecimal(last._4).setScale(4, BigDecimal.RoundingMode.HALF_UP)
          .toDouble).abs < 1e-9)
      assert(r.getString(5) == first._3, s"first_type for user ${r.get(0)}")
    }
  }

  test("q_agg_corr matches the scalar co-moment computation") {
    val rows = Tables.load(spark, sf0001, "lineitem")
      .selectExpr("l_returnflag", "l_quantity", "l_extendedprice")
      .as[(String, Double, Double)].collect()
    val got = SparkEntry.queries("q_agg_corr")(spark, sf0001).collect()
      .map(r => r.getString(0) -> r).toMap
    rows.groupBy(_._1).foreach { case (flag, g) =>
      val n = g.length.toDouble
      val (xs, ys) = (g.map(_._2), g.map(_._3)) // x=quantity, y=price
      val (mx, my) = (xs.sum / n, ys.sum / n)
      val sxx = xs.map(x => (x - mx) * (x - mx)).sum
      val syy = ys.map(y => (y - my) * (y - my)).sum
      val sxy = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
      val r = got(flag)
      assert(r.getLong(1) == g.length)
      assert((r.getDouble(2) - sxy / math.sqrt(sxx * syy)).abs < 1e-3,
        s"$flag corr")
      assert((r.getDouble(3) - sxy / (n - 1)).abs < 0.1, s"$flag covar")
      assert((r.getDouble(4) - sxy / sxx).abs < 1e-3, s"$flag slope")
      assert((r.getDouble(5) - (my - sxy / sxx * mx)).abs < 0.1,
        s"$flag intercept")
      val r2 = sxy * sxy / (sxx * syy)
      assert((r.getDouble(6) - r2).abs < 1e-3, s"$flag r2")
    }
  }

  test("q_agg_corr: degenerate groups follow Postgres NULL rules, never throw") {
    // The corr()/regr_*() builtins THROW DIVIDE_BY_ZERO under ANSI on
    // these groups; the moment+try_divide composition must instead
    // reproduce the oracle's native semantics branch by branch.
    // DuckDB on this fixture:
    //   A (n=1):               all five statistics NULL
    //   B (x constant):        corr NULL, covar 0.0, slope/intercept/r2 NULL
    //   C (y constant, x varies): corr NULL, covar 0.0, slope 0.0,
    //                             intercept 7.0, r2 1.0 (ssyy-degenerate rule)
    //   D (both vary):         (0.982, 15.0, 15.0, -6.67, 0.9643)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_corrfix").toString
    val rows = Seq(
      ("A", 5.0, 100.0), ("B", 3.0, 10.0), ("B", 3.0, 20.0),
      ("B", 3.0, 30.0), ("C", 1.0, 7.0), ("C", 2.0, 7.0),
      ("D", 1.0, 10.0), ("D", 2.0, 20.0), ("D", 3.0, 40.0))
    rows.zipWithIndex.map { case ((f, q, p), i) =>
      (i + 1L, 1L, 1L, 1, q, p, 0.0, 0.0, f, "O",
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    def cell(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
      if (r.isNullAt(i)) None else Some(r.getDouble(i))
    val got = SparkEntry.queries("q_agg_corr")(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), cell(r, 2), cell(r, 3),
        cell(r, 4), cell(r, 5), cell(r, 6)))).toMap
    assert(got == Map(
      "A" -> ((1L, None, None, None, None, None)),
      "B" -> ((3L, None, Some(0.0), None, None, None)),
      "C" -> ((2L, None, Some(0.0), Some(0.0), Some(7.0), Some(1.0))),
      "D" -> ((3L, Some(0.982), Some(15.0), Some(15.0), Some(-6.67),
        Some(0.9643)))), s"got $got")
  }

  test("q_agg_entropy matches scalar entropy/gini over the lang mix") {
    val rows = Tables.load(spark, sf0001, "documents")
      .selectExpr("source", "lang").as[(String, String)].collect()
    val got = SparkEntry.queries("q_agg_entropy")(spark, sf0001).collect()
      .map(r => r.getString(0) -> r).toMap
    rows.groupBy(_._1).foreach { case (src, g) =>
      val counts = g.groupBy(_._2).values.map(_.size.toDouble)
      val n = g.size.toDouble
      val entropy = -counts.map(c => (c / n) * math.log(c / n)).sum
      val gini = 1.0 - counts.map(c => (c / n) * (c / n)).sum
      val r = got(src)
      assert(r.getLong(1) == g.size && r.getLong(2) == counts.size)
      assert((r.getDouble(3) - entropy).abs < 1e-3, s"$src entropy")
      assert((r.getDouble(4) - gini).abs < 1e-3, s"$src gini")
    }
    // the audit is only meaningful if some source is multilingual
    assert(got.values.exists(_.getLong(2) > 1),
      "every source is monolingual — entropy fixture is vacuous")
  }

  test("fixture contract: events.value is non-null (maxby sentinel never surfaces)") {
    // q_agg_maxby coalesces value to a 0.0 sentinel on both engines to
    // align Spark max_by (returns NULL payloads) with DuckDB arg_max
    // (skips them). The sentinel conflates with a real 0.0, which is
    // safe only while the fixture holds no null values — pin that here
    // so a fixture change fails loudly instead of silently hashing a
    // sentinel.
    val nulls = Tables.load(spark, sf0001, "events")
      .filter(col("value").isNull).count()
    assert(nulls == 0L, "events.value gained nulls: revisit the " +
      "q_agg_maxby 0.0 sentinel (conflates with a real 0.0)")
  }

  test("intervalOverlapJoin: half-open edges, one copy per pair across shared buckets") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // left interval A spans 5 hour-buckets; B touches C end-to-start
    val left = Seq(
      ("A", ts("2024-01-01 01:30:00"), ts("2024-01-01 06:30:00")),
      ("B", ts("2024-01-01 10:00:00"), ts("2024-01-01 11:00:00")),
      // EMPTY interval [t,t) on a bucket boundary inside X's span: it
      // overlaps nothing (there is no instant inside it), and without
      // the non-empty guard its bucket sequence would run DESCENDING
      ("E", ts("2024-01-01 03:00:00"), ts("2024-01-01 03:00:00")))
      .toDF("l_id", "l_start", "l_end")
    val right = Seq(
      ("X", ts("2024-01-01 02:00:00"), ts("2024-01-01 06:00:00")), // inside A: 4 shared buckets
      ("Y", ts("2024-01-01 06:29:59"), ts("2024-01-01 07:00:00")), // grazes A's last second
      ("C", ts("2024-01-01 11:00:00"), ts("2024-01-01 12:00:00")), // touches B: NO overlap (half-open)
      ("Z", ts("2024-01-01 20:00:00"), ts("2024-01-01 21:00:00")), // disjoint
      // INVERTED interval (end < start) spanning A's range: malformed
      // data must never match (nor abort the explode)
      ("W", ts("2024-01-01 06:00:00"), ts("2024-01-01 02:00:00")))
      .toDF("r_id", "r_start", "r_end")
    val got = Relational.intervalOverlapJoin(
        left, "l_start", "l_end", right, "r_start", "r_end", 3600L)
      .select("l_id", "r_id").collect().map(r => (r.getString(0), r.getString(1)))
      .toSeq.sorted
    // (A,X) exactly once despite 4 shared buckets; (A,Y) via the graze;
    // (B,C) absent — end == start is not an overlap
    assert(got == Seq(("A", "X"), ("A", "Y")), s"got $got")
  }

  test("guarded bigint cast pins the integer language across engines") {
    // bare TRY_CAST diverges between Spark and DuckDB outside
    // [+-]?digits ('1.5' → NULL vs 2, '1e3' → NULL vs 1000) — the
    // q_json_get guard must NULL those forms, parse plain integers,
    // and still absorb >64-bit digit strings (where both TRY_CASTs
    // agree on NULL)
    val in = Seq("12", "+7", "-40", "1.5", "1e3", "0.0", " 12",
      "99999999999999999999999", "abc", "", null)
    val got = in.toDF("k_str")
      .withColumn("k_int",
        expr(queries.CollectionQueries.guardedBigintCastSql("k_str")))
      .collect().map(r => Option(r.get(1)).map(_.asInstanceOf[Long]))
    val want = Seq(Some(12L), Some(7L), Some(-40L), None, None, None,
      None, None, None, None, None)
    assert(got.toSeq == want,
      s"integer-language pin broke: ${in.zip(got).mkString(", ")}")
  }
}
