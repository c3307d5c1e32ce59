package graft

import org.apache.spark.sql.functions._

/** Brute-force verification of the round-7 pipeline patterns (the
  * oracle hash is the primary gate; these pin the SEMANTICS against an
  * in-memory reference so a wrong-but-self-consistent oracle pair
  * cannot slip through). */
class PipelinePatternSpec extends SparkSpecBase {
  import spark.implicits._

  test("q_etl_snapshot_diff classes partition the key space correctly") {
    val got = SparkEntry.queries("q_etl_snapshot_diff")(spark, sf0001)
      .select("class", "n").as[(String, Long)].collect().toMap
    val keys = Tables.load(spark, sf0001, "orders")
      .select("o_orderkey").as[Long].collect()
    // the snapshot grammar is pure arithmetic on the key:
    // %4==3 keys exist only in B (added); odd non-%4==3 keys are
    // mutated (changed); even keys are identical (unchanged); B holds
    // every key, so nothing is removed
    val expected = Map(
      "added" -> keys.count(_ % 4 == 3).toLong,
      "changed" -> keys.count(k => k % 2 == 1 && k % 4 != 3).toLong,
      "unchanged" -> keys.count(_ % 2 == 0).toLong)
    assert(got == expected, s"got $got expected $expected")
    assert(!got.contains("removed"))
    // delta direction: added contributes +price, changed +0.1*price
    val deltas = SparkEntry.queries("q_etl_snapshot_diff")(spark, sf0001)
      .select("class", "sum_delta").as[(String, Double)].collect().toMap
    assert(deltas("unchanged") == 0.0)
    assert(deltas("added") > 0 && deltas("changed") > 0)
  }

  test("batch sessionize and streaming session_window agree exactly") {
    // two formulations of the same 30-min-gap semantics: the window
    // composition (Relational.sessionize) and Structured Streaming's
    // session_window (batch shadow). With the >= boundary rule they
    // must produce the SAME sessions — same per-user session count and
    // the same (start, n_events) multiset — not merely the same total.
    val batch = SparkEntry.queries("q_win_sessionize")(spark, sf0001)
      .selectExpr("user_id", "count(*) OVER (PARTITION BY user_id) AS s")
      .distinct().as[(Long, Long)].collect().toMap
    val stream = SparkEntry.queries("q_stream_session")(spark, sf0001)
      .groupBy("user_id").count()
      .as[(Long, Long)].collect().toMap
    assert(batch == stream,
      "batch and streaming sessionizers disagree on session counts")
  }

  test("q_agg_ttest matches a two-pass Welch computation") {
    val got = SparkEntry.queries("q_agg_ttest")(spark, sf0001)
      .selectExpr("event_type", "n_t", "n_c", "mean_t", "mean_c",
        "t_welch")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(got.nonEmpty)
    val raw = Tables.load(spark, sf0001, "events")
      .select("event_type", "user_id", "value")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    def moments(xs: Seq[Double]): (Long, Double, Double) = {
      val n = xs.length
      val m = xs.sum / n
      val v = xs.map(x => (x - m) * (x - m)).sum / (n - 1)
      (n.toLong, m, v)
    }
    got.foreach { case (et, nT, nC, meanT, meanC, tW) =>
      val g = raw(et)
      val (en, em, ev) = moments(g.filter(_._2 % 2 == 1).map(_._3).toSeq)
      val (cn, cm, cv) = moments(g.filter(_._2 % 2 == 0).map(_._3).toSeq)
      assert(nT == en && nC == cn, s"$et cohort sizes")
      // the engine computes single-pass moments; a two-pass reference
      // agrees to ~1e-10, so rounded values sit within one last-digit
      // step of each other
      assert((meanT - em).abs < 2e-4 && (meanC - cm).abs < 2e-4, s"$et means")
      val t = (em - cm) / math.sqrt(ev / en + cv / cn)
      assert((tW - t).abs < 2e-4, s"$et t: got $tW expected $t")
    }
  }

  test("q_evt_paths counts conserve users and order deterministically") {
    val top = SparkEntry.queries("q_evt_paths")(spark, sf0001)
      .as[(String, Long)].collect().toSeq
    assert(top.size <= 20 && top.nonEmpty)
    // tie rule: (n desc, path asc) is a total order
    top.sliding(2).foreach { case Seq(a, b) =>
      assert(a._2 > b._2 || (a._2 == b._2 && a._1 < b._1))
    case _ => ()
    }
    // brute-force the full path histogram and check the top-20 cut
    val ev = Tables.load(spark, sf0001, "events")
      .selectExpr("user_id", "unix_micros(ts) AS us", "event_id",
        "event_type")
      .collect()
      .map(r => (r.get(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // null event_types are SKIPPED (not rendered as "null") to match
    // array_join semantics — the query's array_to_string drops null
    // elements, and mkString would silently diverge on them
    val hist = ev.groupBy(_._1).map { case (_, g) =>
      g.sortBy(e => (e._2, e._3)).take(50).map(_._4)
        .filter(_ != null).mkString(">")
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expected = hist.toSeq.sortBy { case (p, n) => (-n, p) }.take(20)
    assert(top == expected)
  }

  test("q_evt_retention matches the brute-force cohort matrix") {
    val raw = Tables.load(spark, sf0001, "events")
      .selectExpr("user_id", "CAST(ts AS DATE) AS d")
      .as[(Long, java.sql.Date)].collect()
    def monday(d: java.sql.Date) = d.toLocalDate.`with`(
      java.time.temporal.TemporalAdjusters.previousOrSame(
        java.time.DayOfWeek.MONDAY))
    val weeks = raw.map { case (u, d) => (u, monday(d)) }.distinct
    val cohort = weeks.groupBy(_._1).map { case (u, g) =>
      u -> g.map(_._2).minBy(_.toEpochDay) }
    val expected = weeks.groupBy { case (u, w) =>
      (cohort(u), ((w.toEpochDay - cohort(u).toEpochDay) / 7).toInt)
    }.map { case (k, g) => k -> g.size.toLong }
    val got = SparkEntry.queries("q_evt_retention")(spark, sf0001)
      .collect()
      .map(r => ((r.getDate(0).toLocalDate, r.getInt(1)), r.getLong(2)))
      .toMap
    assert(got == expected)
    // offset-0 cells must conserve the user population exactly once
    assert(got.collect { case ((_, 0), n) => n }.sum ==
      raw.map(_._1).distinct.length)
  }

  test("q_evt_attribution matches a sequential walk of each user's events") {
    val raw = Tables.load(spark, sf0001, "events")
      .selectExpr("user_id", "unix_micros(ts) AS us", "event_id",
        "event_type", "value")
      .as[(Long, Long, Long, String, Double)].collect()
    val conv = raw.groupBy(_._1).toSeq.flatMap { case (_, g) =>
      var lastTouch: Option[String] = None
      g.sortBy(e => (e._2, e._3)).flatMap { e =>
        val credit =
          if (e._4 == "purchase") Some(lastTouch -> e._5) else None
        if (e._4 == "view" || e._4 == "click") lastTouch = Some(e._4)
        credit
      }
    }
    val expected = conv.groupBy(_._1).map { case (t, g) =>
      t.orNull -> ((g.size.toLong,
        g.map(x => BigDecimal(x._2).setScale(2, BigDecimal.RoundingMode
          .HALF_UP)).sum.toDouble))
    }
    val got = SparkEntry.queries("q_evt_attribution")(spark, sf0001)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got == expected, s"got $got expected $expected")
  }

  test("q_evt_anomaly flags exactly the brute-force |z|>2.5 rows") {
    val raw = Tables.load(spark, sf0001, "events")
      .selectExpr("event_id", "event_type", "value")
      .as[(Long, String, Double)].collect()
    val stats = raw.groupBy(_._2).map { case (t, g) =>
      val xs = g.map(_._3)
      val mu = xs.sum / xs.size
      val sigma = math.sqrt(
        xs.map(x => (x - mu) * (x - mu)).sum / (xs.size - 1))
      t -> ((mu, sigma))
    }
    def r4(x: Double) = BigDecimal(x)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    // the cut is on the ROUNDED z (membership shares the output's 4-dp
    // grid — see the query comment)
    val expected = raw.filter { case (_, t, v) =>
      math.abs(r4((v - stats(t)._1) / stats(t)._2)) > 2.5
    }.map(_._1).toSet
    val got = SparkEntry.queries("q_evt_anomaly")(spark, sf0001).collect()
    assert(got.map(_.getLong(0)).toSet == expected)
    got.foreach { r =>
      val (mu, sigma) = stats(r.getString(1))
      val z = r4((r.getDouble(2) - mu) / sigma)
      assert((r.getDouble(3) - z).abs < 1e-3 && math.abs(z) > 2.5)
    }
  }

  test("q_etl_backfill rewrites only the corrected day's partitions") {
    val raw = Tables.load(spark, sf0001, "events")
      .selectExpr("CAST(ts AS DATE) AS d", "value")
      .as[(java.sql.Date, Double)].collect()
    val expected = raw.groupBy(_._1.toLocalDate).map { case (d, g) =>
      val corrected = g.map { case (_, v) =>
        if (d.getDayOfMonth == 15) v * 2 else v }
      d -> ((g.size.toLong,
        corrected.map(v => BigDecimal(v).setScale(2,
          BigDecimal.RoundingMode.HALF_UP)).sum.toDouble))
    }
    val got = SparkEntry.queries("q_etl_backfill")(spark, sf0001)
      .collect()
      .map(r => r.getDate(0).toLocalDate ->
        ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got == expected)
    // the corrected day must actually exist in the fixture, or the
    // dynamic-overwrite path was never exercised
    assert(expected.keys.exists(_.getDayOfMonth == 15),
      "fixture has no day-15 rows — backfill test is vacuous")
  }

  test("q_etl_anonymize masks exactly the sub-k QI groups") {
    // sf0.01, not sf0.001: the band width is tuned so the k threshold
    // bifurcates at 1500 customers (at 150 every QI group is sub-k and
    // the kept branch would be vacuous)
    val raw = Tables.load(spark, sf001, "customer")
      .selectExpr("c_custkey", "c_nationkey", "c_mktsegment",
        "CAST(floor(c_acctbal / 5000) AS LONG) AS band")
      .as[(Long, Int, String, Long)].collect()
    val sizes = raw.groupBy(r => (r._2, r._3, r._4))
      .map { case (k, g) => k -> g.size }
    val got = SparkEntry.queries("q_etl_anonymize")(spark, sf001)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2),
        r.getString(3), r.getBoolean(4)))).toMap
    assert(got.size == raw.length, "anonymize must not drop rows")
    raw.foreach { case (ck, nat, seg, band) =>
      val small = sizes((nat, seg, band)) < 5
      val exp =
        if (small) ("*", "*", "*", true)
        else (nat.toString, seg, band.toString, false)
      assert(got(ck) == exp, s"custkey $ck")
    }
    // the fixture must exercise BOTH branches
    assert(got.values.exists(_._4) && got.values.exists(!_._4),
      "fixture yields only one masking branch — k threshold is vacuous")
  }

  test("q_evt_markov matches the brute-force pair walk") {
    val raw = Tables.load(spark, sf0001, "events")
      .selectExpr("user_id", "unix_micros(ts) AS us", "event_id",
        "event_type")
      .as[(Long, Long, Long, String)].collect()
    val pairs = raw.groupBy(_._1).toSeq.flatMap { case (_, g) =>
      val s = g.sortBy(e => (e._2, e._3)).map(_._4)
      s.zip(s.drop(1))
    }
    val byFrom = pairs.groupBy(_._1).map { case (f, g) => f -> g.size }
    val expected = pairs.groupBy(identity).map { case ((f, t), g) =>
      (f, t) -> ((g.size.toLong,
        BigDecimal(g.size.toDouble / byFrom(f))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }
    val got = SparkEntry.queries("q_evt_markov")(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(got == expected)
    // each from-row's probabilities must sum to 1 within rounding
    got.keys.map(_._1).toSeq.distinct.foreach { f =>
      val s = got.collect { case ((`f`, _), (_, p)) => p }.sum
      assert((s - 1.0).abs < 1e-2, s"from=$f sums to $s")
    }
  }

  test("q_evt_rfm matches an exact ntile computation") {
    val raw = Tables.load(spark, sf0001, "events")
      .selectExpr("user_id", "unix_micros(ts) AS us", "event_type",
        "CAST(value AS DECIMAL(18,2)) AS v")
      .as[(Long, Long, String, java.math.BigDecimal)].collect()
    val users = raw.groupBy(_._1).map { case (u, g) =>
      (u, g.map(_._2).max, g.size.toLong,
        g.filter(_._3 == "purchase").map(e => BigDecimal(e._4)).sum)
    }.toSeq
    // ntile(4): first (N mod 4) buckets get ceil(N/4) members
    def ntile4[K](sorted: Seq[K]): Map[K, Long] = {
      val n = sorted.size; val q = n / 4; val r = n % 4
      sorted.zipWithIndex.map { case (k, i) =>
        val b = if (i < r * (q + 1)) i / (q + 1) else r + (i - r * (q + 1)) / q
        k -> (b + 1).toLong
      }.toMap
    }
    val rs = ntile4(users.sortBy(u => (-u._2, u._1)).map(_._1))
    val fs = ntile4(users.sortBy(u => (-u._3, u._1)).map(_._1))
    val ms = ntile4(users.sortBy(u => (-u._4, u._1)).map(_._1))
    val got = SparkEntry.queries("q_evt_rfm")(spark, sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getString(5)))).toMap
    assert(got.size == users.size)
    users.foreach { case (u, _, _, m) =>
      val (r, f, mm, mon, seg) = got(u)
      assert(r == rs(u) && f == fs(u) && mm == ms(u), s"user $u scores")
      assert(mon == m.toDouble, s"user $u monetary")
      assert(seg == s"$r$f$mm")
    }
    // quartiles must be populated 1..4 on every axis
    assert(got.values.map(_._1).toSet == Set(1L, 2L, 3L, 4L))
  }

  test("q_etl_cdc_apply keeps only latest-op survivors, deletes erase") {
    val raw = Tables.load(spark, sf0001, "events")
      .selectExpr("user_id", "unix_micros(ts) AS us", "event_id",
        "event_type", "value")
      .as[(Long, Long, Long, String, Double)].collect()
    val expected = raw.groupBy(_._1).flatMap { case (u, g) =>
      val last = g.maxBy(e => (e._2, e._3))
      if (last._3 % 10 == 0) None // latest op is a delete
      else Some(u -> ((last._2, last._4,
        BigDecimal(last._5).setScale(4,
          BigDecimal.RoundingMode.HALF_UP).toDouble)))
    }
    val got = SparkEntry.queries("q_etl_cdc_apply")(spark, sf0001)
      .selectExpr("user_id", "unix_micros(last_ts) AS us", "last_type",
        "last_value")
      .as[(Long, Long, String, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == expected)
    // the fixture must actually exercise the delete branch
    assert(got.size < raw.map(_._1).distinct.length,
      "no user's latest op was a delete — erase branch is vacuous")
  }

  test("q_etl_resample densifies each user's span and LOCF-fills") {
    val raw = Tables.load(spark, sf0001, "events")
      .selectExpr("user_id", "CAST(ts AS DATE) AS d",
        "CAST(value AS DECIMAL(18,2)) AS v")
      .as[(Long, java.sql.Date, java.math.BigDecimal)].collect()
    val expected = raw.groupBy(_._1).flatMap { case (u, g) =>
      val daily = g.groupBy(_._2.toLocalDate)
        .map { case (d, rows) => d -> rows.map(r => BigDecimal(r._3)).sum }
      val (d0, d1) = (daily.keys.minBy(_.toEpochDay),
        daily.keys.maxBy(_.toEpochDay))
      var carry: Option[BigDecimal] = None
      Iterator.iterate(d0)(_.plusDays(1))
        .takeWhile(!_.isAfter(d1)).map { d =>
          val obs = daily.get(d)
          if (obs.isDefined) carry = obs
          (u, d) -> ((obs.isDefined, carry.get.toDouble))
        }.toSeq
    }
    val got = SparkEntry.queries("q_etl_resample")(spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate) ->
        ((r.getBoolean(2), r.getDouble(3)))).toMap
    assert(got == expected)
    // spine must be dense: some day must be unobserved (gap actually filled)
    assert(got.values.exists(!_._1), "fixture has no gaps — LOCF vacuous")
  }

  test("q_etl_skew_profile matches scalar skew statistics") {
    val sizes = Tables.load(spark, sf0001, "events")
      .selectExpr("user_id").as[Long].collect()
      .groupBy(identity).values.map(_.length.toLong).toSeq.sorted
    def pct(p: Double): Double = {
      val h = (sizes.size - 1) * p
      val lo = h.toInt
      if (lo + 1 < sizes.size)
        sizes(lo) + (h - lo) * (sizes(lo + 1) - sizes(lo))
      else sizes(lo).toDouble
    }
    val r = SparkEntry.queries("q_etl_skew_profile")(spark, sf0001)
      .collect().head
    val total = sizes.sum.toDouble
    assert(r.getLong(0) == sizes.size)
    assert(r.getLong(1) == sizes.sum)
    assert(r.getLong(2) == sizes.max)
    assert((r.getDouble(3) - pct(0.5)).abs < 1e-3)
    assert((r.getDouble(4) - pct(0.99)).abs < 1e-3)
    assert((r.getDouble(5) - sizes.max / (total / sizes.size)).abs < 1e-3)
    assert((r.getDouble(6) - sizes.max / total).abs < 1e-5)
  }

  test("q_etl_purge_bloom is bit-identical to the broadcast-exact purge") {
    // the Bloom path's entire spec is exactness: no false negatives by
    // Bloom construction, false positives removed by the finishing
    // semi-join — so the audit must equal the exact variant's, row for
    // row, on any input
    def audit(id: String) = SparkEntry.queries(id)(spark, sf0001)
      .as[(String, Long, Long)].collect().toSeq
    val exact = audit("q_etl_purge")
    val bloom = audit("q_etl_purge_bloom")
    assert(bloom == exact, s"bloom=$bloom exact=$exact")
    // non-vacuous: the fixture must actually purge something in every
    // table or the equality proves nothing about the cascade
    assert(exact.forall(_._2 > 0), s"vacuous purge fixture: $exact")
  }

  // --- Null-divergence fixtures (round 8). The sf fixtures carry zero
  // null event_types / keys / values, so these engine-alignment edges
  // never fire in the driver's hash compare — each case below writes a
  // tiny synthetic table that DOES exercise them and pins the aligned
  // behavior. DuckDB parity for every pinned value was verified by
  // hand-running the corresponding OracleSql entry on the identical
  // fixture (round 8); the comments record the DuckDB results.

  private def nullFixtureDir(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_nullfix_$name")
      .toString

  test("q_agg_ttest: empty and singleton arms yield NULL t_welch") {
    val dir = nullFixtureDir("ttest")
    // 'x': both users even → treatment arm EMPTY; 'y': one odd user →
    // singleton treatment arm (var_samp over n=1 is NULL in BOTH
    // engines since divide-by-zero → NULL). DuckDB on this fixture:
    // ('x', 0, 2, NULL, 1.5, NULL), ('y', 1, 2, 5.0, 1.5, NULL).
    Seq(
      (1L, 1000000000L, 2L, "x", 1.0, "{}"),
      (2L, 2000000000L, 4L, "x", 2.0, "{}"),
      (3L, 3000000000L, 1L, "y", 5.0, "{}"),
      (4L, 4000000000L, 2L, "y", 1.0, "{}"),
      (5L, 5000000000L, 4L, "y", 2.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      // fixture rows carry ts as long NANOS (pre-r10 convention); the
      // warehouse stores TimestampType µs — convert at write so the
      // DuckDB-pinned expectations in each comment stay valid verbatim
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("q_agg_ttest")(spark, dir).collect()
    val x = got.find(_.getString(0) == "x").get
    assert(x.getLong(1) == 0L && x.isNullAt(3) && x.isNullAt(5),
      s"empty treatment arm must yield NULL mean_t and t_welch: $x")
    val y = got.find(_.getString(0) == "y").get
    assert(y.getLong(1) == 1L && y.getDouble(3) == 5.0 && y.isNullAt(5),
      s"singleton arm must yield NULL t_welch (var_samp n=1): $y")
  }

  test("q_evt_paths: all-null event_types render as '' in both engines") {
    val dir = nullFixtureDir("paths")
    // user 1: a null type mid-sequence is SKIPPED by array_join →
    // 'a>b'; user 2: ALL types null → Spark array_join gives '' where
    // DuckDB array_to_string gives NULL — the oracle coalesces to ''.
    // Both engines' collected lists INCLUDE null elements, so the
    // first-50 cap windows agree. DuckDB on this fixture (with the
    // coalesce): ('', 1), ('a>b', 1).
    Seq(
      (1L, 1000000000L, 1L, Some("a"), 1.0, "{}"),
      (2L, 2000000000L, 1L, None, 1.0, "{}"),
      (3L, 3000000000L, 1L, Some("b"), 1.0, "{}"),
      (4L, 1000000000L, 2L, None, 1.0, "{}"),
      (5L, 2000000000L, 2L, None, 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      // fixture rows carry ts as long NANOS (pre-r10 convention); the
      // warehouse stores TimestampType µs — convert at write so the
      // DuckDB-pinned expectations in each comment stay valid verbatim
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("q_evt_paths")(spark, dir)
      .as[(String, Long)].collect().toMap
    assert(got == Map("a>b" -> 1L, "" -> 1L), s"got $got")
  }

  test("q_win_interval_merge matches a sequential sweep merge") {
    val raw = Tables.load(spark, sf0001, "orders")
      .selectExpr("o_custkey", "CAST(o_orderdate AS DATE) AS d",
        "o_orderkey")
      .as[(Long, java.sql.Date, Long)].collect()
    val expected = raw.groupBy(_._1).flatMap { case (k, g) =>
      val ivs = g.map { case (_, d, okey) =>
        val s0 = d.toLocalDate
        (s0, s0.plusDays(okey % 20 + 1), okey)
      }.sortBy { case (s0, e0, okey) =>
        (s0.toEpochDay, e0.toEpochDay, okey) }
      val merged = scala.collection.mutable.ArrayBuffer
        .empty[(java.time.LocalDate, java.time.LocalDate, Long)]
      ivs.foreach { case (s0, e0, _) =>
        if (merged.nonEmpty && !s0.isAfter(merged.last._2)) {
          val (ms, me, n) = merged.last
          merged(merged.size - 1) =
            (ms, if (e0.isAfter(me)) e0 else me, n + 1)
        } else merged += ((s0, e0, 1L))
      }
      merged.zipWithIndex.map { case ((ms, me, n), i) =>
        (k, i + 1L) -> ((ms, me, n)) }
    }
    val got = SparkEntry.queries("q_win_interval_merge")(spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDate(2).toLocalDate, r.getDate(3).toLocalDate,
          r.getLong(4)))).toMap
    assert(got == expected.toMap)
    // fixture must exercise BOTH branches: some span merges >1
    // interval AND some key has >1 island
    assert(got.values.exists(_._3 > 1) &&
      got.keys.groupBy(_._1).values.exists(_.size > 1))
  }

  test("q_agg_ttest: constant arms yield NULL t (never DIVIDE_BY_ZERO)") {
    val dir = nullFixtureDir("ttest_const")
    // both arms constant (var 0, n = 2 each): the Welch denominator is
    // exactly 0. Under ANSI a plain `/` would ABORT the job here;
    // try_divide yields NULL — DuckDB's x/0 semantics, same-mean and
    // different-mean cases alike. DuckDB on this fixture:
    // ('w', 2, 2, 3.0, 1.0, NULL), ('z', 2, 2, 2.0, 2.0, NULL).
    Seq(
      (1L, 1000000000L, 1L, "z", 2.0, "{}"),
      (2L, 2000000000L, 3L, "z", 2.0, "{}"),
      (3L, 3000000000L, 2L, "z", 2.0, "{}"),
      (4L, 4000000000L, 4L, "z", 2.0, "{}"),
      (5L, 5000000000L, 1L, "w", 3.0, "{}"),
      (6L, 6000000000L, 3L, "w", 3.0, "{}"),
      (7L, 7000000000L, 2L, "w", 1.0, "{}"),
      (8L, 8000000000L, 4L, "w", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      // fixture rows carry ts as long NANOS (pre-r10 convention); the
      // warehouse stores TimestampType µs — convert at write so the
      // DuckDB-pinned expectations in each comment stay valid verbatim
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("q_agg_ttest")(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.isNullAt(5)))).toMap
    assert(got == Map(
      "w" -> ((2L, 2L, 3.0, 1.0, true)),
      "z" -> ((2L, 2L, 2.0, 2.0, true))), s"got $got")
  }

  test("q_etl_contract / q_etl_ri: empty tables yield NULL rates (never DIVIDE_BY_ZERO)") {
    val dir = nullFixtureDir("empty_audit")
    // schema-only copies of the sf0.001 tables: every rule checks 0
    // rows, so each rate is 0/0. Under ANSI a plain `/` would abort;
    // try_divide yields NULL, as DuckDB's x/0 does on the same files.
    Seq("orders", "lineitem", "part", "supplier", "customer").foreach { t =>
      spark.read.parquet(s"$sf0001/$t.parquet").limit(0)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    def rates(q: String) = SparkEntry.queries(q)(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.isNullAt(3)))
      .toSeq
    assert(rates("q_etl_contract") == Seq(
      "lineitem.discount_in_[0,0.08]", "lineitem.quantity_in_[1,45]",
      "lineitem.shipdate_gte_orderdate", "orders.orderdate_in_1992_1998",
      "orders.status_in_OFP", "orders.totalprice_in_(0,400000]")
      .map(r => (r, 0L, 0L, true)))
    assert(rates("q_etl_ri") == Seq("lineitem->part",
      "lineitem->supplier_lagged", "orders->customer")
      .map(r => (r, 0L, 0L, true)))
  }

  test("Bloom builders: an empty key set builds no filter") {
    // bloom_filter_agg over no rows yields a NULL buffer, which
    // stat.bloomFilter cannot read: an empty key list gives the empty
    // semi-join, an empty eval set removes nothing
    val fact = Tables.load(spark, sf0001, "orders")
      .select("o_orderkey", "o_custkey")
    val semi = graft.ops.Relational.bloomSemiLong(fact, "o_custkey",
      Seq.empty[Long].toDF("k"), "k")
    assert(semi.columns.toSet == fact.columns.toSet)
    assert(semi.count() == 0L)
    val docs = Tables.load(spark, sf0001, "documents")
    val kept = graft.ops.Curation.decontaminateBloom(docs, "text",
      docs.filter(lit(false)), "text", expectedN = 1L << 16, fpp = 0.01)
    assert(kept.count() == docs.count())
  }

  test("schema-only tables: the Bloom and sink read-back queries run") {
    // the sinks read back with the schema of the frame they wrote: a
    // directory written from no rows holds no parquet footer to infer
    // one from (UNABLE_TO_INFER_SCHEMA)
    val dir = nullFixtureDir("empty_all")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$sf0001/$t.parquet").limit(0)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    def rows(q: String) = SparkEntry.queries(q)(spark, dir).collect().toSeq
    assert(rows("q_etl_purge_bloom") == rows("q_etl_purge"))
    Seq("q_text_decon_bloom", "q_sink_warehouse",
      "q_etl_partition_overwrite", "q_etl_backfill", "q_src_file_meta",
      "q_join_dpp", "q_src_partition_prune").foreach(rows)
  }

  test("q_evt_anomaly: zero-variance groups emit no outliers (never throw)") {
    val dir = nullFixtureDir("anomaly_const")
    // 'const' has σ = 0: a plain `/` under ANSI would kill the scan on
    // its first row; try_divide yields NULL z, filtered — DuckDB's
    // x/0 → NULL does the same. 'var' (n=12, one 9.0 among 1.0s) must
    // still flag its outlier so the test isn't vacuous. DuckDB on
    // this fixture: [(21, 'var', 9.0, 3.1754)].
    val rows =
      Seq((1L, "const", 5.0), (2L, "const", 5.0), (3L, "const", 5.0)) ++
        (10L to 20L).map(i => (i, "var", 1.0)) :+ (21L, "var", 9.0)
    rows.zipWithIndex.map { case ((id, t, v), i) =>
      (id, (i + 1) * 1000000000L, 1L, t, v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      // fixture rows carry ts as long NANOS (pre-r10 convention); the
      // warehouse stores TimestampType µs — convert at write so the
      // DuckDB-pinned expectations in each comment stay valid verbatim
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("q_evt_anomaly")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getDouble(3)))
    assert(got.toSeq == Seq((21L, "var", 9.0, 3.1754)), s"got ${got.toSeq}")
  }

  test("q_evt_markov: null event_types group as a null FROM state") {
    val dir = nullFixtureDir("markov")
    // user 1: [a, NULL, b, a] — the (a→NULL) pair is DROPPED (to_type
    // IS NOT NULL), the (NULL→b) pair is KEPT under from_type=NULL,
    // and the output sorts null-first on both sides (Spark default
    // asc = nulls first; oracle says NULLS FIRST explicitly because
    // DuckDB's ASC default is nulls LAST). User 3 carries a NULL ts:
    // both engines place it FIRST in the timeline (Spark asc default
    // / the oracle window's explicit NULLS FIRST) → pair (c→a).
    // DuckDB on this fixture: (NULL, 'b', 1, 1.0), ('a', 'a', 1,
    // 1.0), ('b', 'a', 1, 1.0), ('c', 'a', 1, 1.0).
    Seq(
      (1L, Some(1000000000L), 1L, Some("a"), 1.0, "{}"),
      (2L, Some(2000000000L), 1L, None, 1.0, "{}"),
      (3L, Some(3000000000L), 1L, Some("b"), 1.0, "{}"),
      (4L, Some(4000000000L), 1L, Some("a"), 1.0, "{}"),
      (5L, Some(1000000000L), 2L, Some("a"), 1.0, "{}"),
      (6L, Some(2000000000L), 2L, Some("a"), 1.0, "{}"),
      (7L, None, 3L, Some("c"), 1.0, "{}"),
      (8L, Some(1000000000L), 3L, Some("a"), 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      // fixture rows carry ts as long NANOS (pre-r10 convention); the
      // warehouse stores TimestampType µs — convert at write so the
      // DuckDB-pinned expectations in each comment stay valid verbatim
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("q_evt_markov")(spark, dir).collect()
      .map(r => (Option(r.getString(0)), r.getString(1), r.getLong(2),
        r.getDouble(3)))
    assert(got.toSeq == Seq(
      (None, "b", 1L, 1.0), (Some("a"), "a", 1L, 1.0),
      (Some("b"), "a", 1L, 1.0), (Some("c"), "a", 1L, 1.0)),
      s"got ${got.toSeq}")
  }

  test("q_etl_cdc_apply: null payloads survive, trailing deletes erase") {
    val dir = nullFixtureDir("cdc")
    // user 1's LATEST op carries NULL event_type and NULL value —
    // both propagate (round(NULL)=NULL in both engines); user 2's
    // latest op is a delete (event_id % 10 = 0) → the key vanishes.
    // DuckDB on this fixture: one row, (1, 1970-01-01 00:00:02,
    // NULL, NULL).
    Seq(
      (11L, 1000000000L, 1L, Some("x"), Some(1.0), "{}"),
      (12L, 2000000000L, 1L, None, None, "{}"),
      (19L, 1000000000L, 2L, Some("y"), Some(2.0), "{}"),
      (20L, 2000000000L, 2L, Some("z"), Some(3.0), "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      // fixture rows carry ts as long NANOS (pre-r10 convention); the
      // warehouse stores TimestampType µs — convert at write so the
      // DuckDB-pinned expectations in each comment stay valid verbatim
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("q_etl_cdc_apply")(spark, dir)
      .selectExpr("user_id", "unix_micros(last_ts)", "last_type",
        "last_value").collect()
    assert(got.length == 1, s"delete must erase user 2: ${got.toSeq}")
    val r = got.head
    assert(r.getLong(0) == 1L && r.getLong(1) == 2000000L &&
      r.isNullAt(2) && r.isNullAt(3), s"got $r")
  }

  test("q_etl_snapshot_diff: NULL keys never join and class as added") {
    val dir = nullFixtureDir("snapdiff")
    // A NULL key is dropped from snapshot A by the %4 filter (NULL
    // predicate) but kept in snapshot B, and NULL keys never equal in
    // a join — so each null-key row surfaces exactly once, as 'added',
    // in BOTH engines. DuckDB on this fixture: added(n=3, min/max
    // key=3, sum_delta=88.0 — key 3's 10→11 plus the two null-key
    // prices 33+44), changed(n=1, key 1, 10.0), unchanged(n=2,
    // keys 2/4, 0.0).
    Seq(
      (Some(1L), "O", 100.0), (Some(2L), "F", 50.0),
      (Some(3L), "O", 10.0), (Some(4L), "P", 20.0),
      (None, "O", 33.0), (None, "F", 44.0))
      .map { case (k, st, p) => (k, 7L, st, p,
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "1-URGENT") }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = SparkEntry.queries("q_etl_snapshot_diff")(spark, dir)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), Option(r.get(2)),
        Option(r.get(3)), r.getDouble(4)))).toMap
    val expected = Map(
      "added" -> ((3L, Some(3L), Some(3L), 88.0)),
      "changed" -> ((1L, Some(1L), Some(1L), 10.0)),
      "unchanged" -> ((2L, Some(2L), Some(4L), 0.0)))
    assert(got == expected, s"got $got")
  }
}
