package graft

import org.apache.spark.sql.functions._

/** Brute-force verification of the round-8 batch-4 operators (SQL
  * surface, business days, dimension stats, source overlap, EMA, media
  * shards). The DuckDB oracle hash is the primary gate; these pin the
  * SEMANTICS against an independent in-memory reference so a
  * wrong-but-self-consistent oracle pair cannot slip through. */
class UtilityOpsSpec extends SparkSpecBase {
  import spark.implicits._

  test("q_dt_busdays closed form matches day-by-day calendar iteration") {
    // iterate the calendar: SIGNED count of Mon-Fri in [orderday,
    // shipday) — negative when the span runs backwards, matching the
    // operator's declared semantics (W(b) − W(a); see dtBusdays'
    // Scaladoc — the synthetic data ships ~49% of lineitems before
    // their order date, so the sign convention is load-bearing)
    def weekday(d: Int): Boolean = {
      val dow = (d + 4) % 7 // epoch day 0 = Thursday; 0 = Sunday
      dow >= 1 && dow <= 5
    }
    def naiveBusdays(a: Int, b: Int): Int =
      if (b >= a) (a until b).count(weekday) else -(b until a).count(weekday)
    val ords = Tables.load(spark, sf0001, "orders")
      .selectExpr("o_orderkey", "o_orderpriority",
        "datediff(to_date(o_orderdate), '1970-01-01')")
      .as[(Long, String, Int)].collect()
      .map(o => o._1 -> ((o._2, o._3))).toMap
    val lis = Tables.load(spark, sf0001, "lineitem")
      .selectExpr("l_orderkey", "datediff(to_date(l_shipdate), '1970-01-01')")
      .as[(Long, Int)].collect()
    val rows = lis.map { case (ok, dShip) =>
      val (prio, dOrd) = ords(ok)
      (prio, naiveBusdays(dOrd, dShip))
    }
    val expected = rows.groupBy(_._1).map { case (p, rs) =>
      val bd = rs.map(_._2)
      p -> ((bd.length.toLong, bd.sum.toDouble / bd.length,
        bd.max.toLong, bd.count(_ > 20).toLong))
    }
    val got = SparkEntry.queries("q_dt_busdays")(spark, sf0001)
      .as[(String, Long, Double, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (p, (n, avg, mx, late)) =>
      val (gn, gavg, gmx, glate) = got(p)
      assert(gn == n && gmx == mx && glate == late,
        s"$p: got $gn/$gmx/$glate expected $n/$mx/$late")
      assert(math.abs(gavg - avg) < 6e-5, s"$p avg: got $gavg expected $avg")
    }
    // reference self-check on a known weekend: epoch days 2-3 are
    // 1970-01-03/04 (Sat/Sun), so the span across them adds nothing
    assert(naiveBusdays(2, 4) == 0)
    assert(naiveBusdays(1, 5) == 2) // Fri + Mon around that weekend
    assert(naiveBusdays(5, 1) == -2) // antisymmetric: W(b)−W(a)
  }

  test("q_win_ema matches an explicit truncated-EMA loop") {
    val events = Tables.load(spark, sf0001, "events")
      .filter(col("value").isNotNull)
      .selectExpr("user_id", "unix_micros(ts)", "event_id", "value")
      .as[(Long, Long, Long, Double)].collect()
    val expected = events.groupBy(_._1).values.flatMap { evs =>
      val sorted = evs.sortBy(e => (e._2, e._3))
      sorted.zipWithIndex.map { case (e, i) =>
        val hist = sorted.slice(math.max(0, i - 7), i + 1).reverse
        val terms = hist.zipWithIndex.map { case (h, k) =>
          (h._4 * math.pow(0.5, k), math.pow(0.5, k)) }
        e._3 -> terms.map(_._1).sum / terms.map(_._2).sum
      }
    }.toMap
    val got = SparkEntry.queries("q_win_ema")(spark, sf0001)
      .select("event_id", "ema").as[(Long, Double)].collect().toMap
    assert(got.size == expected.size)
    expected.foreach { case (id, ema) =>
      assert(math.abs(got(id) - ema) < 6e-5,
        s"event $id: got ${got(id)} expected $ema")
    }
  }

  test("q_vec_dimstats matches per-dimension moments over collected rows") {
    val vecs = Tables.load(spark, sf0001, "embeddings")
      .select("embedding").as[Array[Float]].collect()
    val dims = vecs.head.length
    val got = SparkEntry.queries("q_vec_dimstats")(spark, sf0001)
      .as[(Long, Long, Double, Double, Double, Double)].collect()
    assert(got.length == dims)
    got.foreach { case (dim, n, mean, sd, vmin, vmax) =>
      val col = vecs.map(v => v(dim.toInt).toDouble)
      assert(n == col.length)
      val m = col.sum / col.length
      val s2 = col.map(x => (x - m) * (x - m)).sum / (col.length - 1)
      assert(math.abs(mean - m) < 6e-5, s"dim $dim mean")
      assert(math.abs(sd - math.sqrt(s2)) < 6e-5, s"dim $dim sd")
      assert(vmin == col.min && vmax == col.max, s"dim $dim min/max")
    }
  }

  test("q_text_source_overlap matches set-algebra shingle Jaccard") {
    val docs = Tables.load(spark, sf0001, "documents")
      .select("source", "text").as[(String, String)].collect()
    val bySource = docs.groupBy(_._1).map { case (src, ds) =>
      src -> ds.flatMap { case (_, text) =>
        val w = text.toLowerCase.split(" ", -1)
        if (w.length >= 2) w.sliding(2).map(_.mkString(" ")).toSeq
        else Seq.empty
      }.toSet
    }
    val sources = bySource.keys.toSeq.sorted
    val expected = (for {
      a <- sources; b <- sources if a < b
    } yield {
      val (sa, sb) = (bySource(a), bySource(b))
      val inter = (sa & sb).size
      ((a, b), (sa.size.toLong, sb.size.toLong, inter.toLong,
        inter.toDouble / (sa.size + sb.size - inter)))
    }).toMap
    val got = SparkEntry.queries("q_text_source_overlap")(spark, sf0001)
      .as[(String, String, Long, Long, Long, Double)].collect()
      .map(r => ((r._1, r._2), (r._3, r._4, r._5, r._6))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (k, (na, nb, common, jac)) =>
      val (gna, gnb, gcommon, gjac) = got(k)
      assert(gna == na && gnb == nb && gcommon == common,
        s"$k: got $gna/$gnb/$gcommon expected $na/$nb/$common")
      assert(math.abs(gjac - jac) < 6e-5, s"$k jaccard")
    }
    // the audit must include disjoint pairs (n_common = 0 rows), not
    // silently drop them — all k*(k-1)/2 ordered pairs present
    assert(got.size == sources.size * (sources.size - 1) / 2)
  }

  test("q_media_shard matches greedy boundary-aligned packing") {
    val rows = spark.read.parquet(graft.ops.Multimodal.mediaFixture(spark))
      .selectExpr("media_id", "media_type", "length(payload)")
      .as[(Long, String, Int)].collect()
    val expected = rows.groupBy(_._2).toSeq.flatMap { case (mt, rs) =>
      var cum = 0L
      rs.sortBy(_._1).map { case (id, _, nb) =>
        val shard = cum / 2048
        cum += nb
        ((mt, shard), (id, nb.toLong))
      }
    }.groupBy(_._1).map { case (k, items) =>
      val ids = items.map(_._2._1)
      k -> ((items.size.toLong, items.map(_._2._2).sum, ids.min, ids.max))
    }
    val got = SparkEntry.queries("q_media_shard")(spark, sf0001)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => ((r._1, r._2), (r._3, r._4, r._5, r._6))).toMap
    assert(got == expected)
    // shard ids are dense per type: every type covers 0..maxShard
    got.keys.groupBy(_._1).foreach { case (_, ks) =>
      val shards = ks.map(_._2).toSeq.sorted
      assert(shards == (0L to shards.max).toSeq)
    }
  }

  test("q_sql_report: the SQL surface equals the DataFrame build") {
    // same logical content expressed through the DataFrame API; the SQL
    // string surface must produce identical rows — one engine, two
    // front doors
    val dir = sf0001
    val li = Tables.load(spark, dir, "lineitem")
    val ord = Tables.load(spark, dir, "orders")
    val cust = Tables.load(spark, dir, "customer")
    val rev = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"),
        year(col("o_orderdate")).cast("long").as("yr"),
        quarter(col("o_orderdate")).cast("long").as("qtr"))
      .agg(expr(
        """CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2)
              AS DOUBLE)""").as("revenue"),
        countDistinct("o_orderkey").as("n_orders"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("segment").orderBy(col("revenue").desc)
    val dfSide = rev.withColumn("rnk", rank().over(w).cast("long"))
      .orderBy("segment", "yr", "qtr")
      .as[(String, Long, Long, Double, Long, Long)].collect()
    val sqlSide = SparkEntry.queries("q_sql_report")(spark, dir)
      .as[(String, Long, Long, Double, Long, Long)].collect()
    assert(sqlSide.nonEmpty)
    assert(sqlSide.toSeq == dfSide.toSeq)
  }

  test("SQL-surface queries leave the session's temp views unchanged") {
    // each builder registers its inputs under per-call names and drops
    // them after analysis: no fixed view a concurrent run over another
    // dir could resolve, and nothing left behind
    def views = spark.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name).toSet
    val before = views
    val names = Seq("q_sql_report", "q_sql_recursive", "q_sql_lateral",
      "q_sql_exists", "q_sql_unpivot", "q_agg_rollup")
    val counts = names.map(n => SparkEntry.queries(n)(spark, sf0001).count())
    assert(counts.forall(_ > 0), s"row counts $counts")
    assert(views == before)
  }

  test("sha256 prefix expressions equal the spelled-out conv chain") {
    // Sha256PrefixBits / Sha256Prefix52Seq replace
    // conv(substring(sha2(key, 256), 1, nHex), 16, 10) in hot paths
    // (the bootstrap's 16-draws-per-row projection); the whole oracle
    // parity story rests on the values being bit-identical to the SQL
    // chain DuckDB still runs — execute that claim over real keys,
    // both prefix widths, and the fused 16-draw array
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graftfns.HashFunctions
    val keys = Tables.load(spark, sf0001, "events")
      .select(concat(col("event_id").cast("string"), lit(":"),
        (col("event_id") % 16).cast("string")).as("key"))
    for (nHex <- Seq(7, 13)) {
      val bad = keys.select(
          conv(substring(sha2(col("key"), 256), 1, nHex), 16, 10)
            .cast("long").as("ref"),
          HashFunctions.sha256_prefix(col("key"), nHex).as("fast"))
        .filter(col("ref") =!= col("fast")).count()
      assert(bad == 0L, s"nHex=$nHex prefix mismatch on $bad keys")
    }
    val badSeq = Tables.load(spark, sf0001, "events")
      .select(col("event_id").cast("string").as("id"))
      .select(col("id"),
        HashFunctions.sha256_prefix52_seq(col("id"), 16).as("arr"))
      .select(col("id"), posexplode(col("arr")).as(Seq("b", "fast")))
      .withColumn("ref",
        conv(substring(sha2(concat(col("id"), lit(":"),
          col("b").cast("string")), 256), 1, 13), 16, 10).cast("long"))
      .filter(col("ref") =!= col("fast")).count()
    assert(badSeq == 0L, s"fused 16-draw mismatch on $badSeq rows")
  }
}
