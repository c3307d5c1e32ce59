package graft

import graft.etl.Sinks
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** U-tier sink operators (q_sink_append / q_sink_warehouse) and the
  * q_agg_approx accuracy bound (SURVEY.md §2.A, §2.D). */
class SinksAndApproxSpec extends SparkSpecBase {
  import spark.implicits._

  test("append sink accumulates batches (q_sink_append)") {
    val dir = Files.createTempDirectory("graft_append").toString + "/out"
    val batch = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    Sinks.appendNdjson(batch, dir)
    Sinks.appendNdjson(batch, dir)
    val back = spark.read.schema("id LONG, v STRING").json(dir)
    assert(back.count() == 4)
  }

  test("warehouse sink is idempotent overwrite, optionally partitioned") {
    val dir = Files.createTempDirectory("graft_wh").toString + "/t"
    val df = Seq((1L, "x", 1.0), (2L, "y", 2.0), (3L, "x", 3.0))
      .toDF("id", "part_col", "v")
    Sinks.writeWarehouseTable(df, dir, Seq("part_col"))
    Sinks.writeWarehouseTable(df, dir, Seq("part_col")) // rerun converges
    val back = spark.read.parquet(dir)
    assert(back.count() == 3)
    // partition pruning: one partition dir per part_col value
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("part_col=")) == 2)
    assert(back.filter(col("part_col") === "x").count() == 2)
  }

  test("jdbc sink round-trips types and is idempotent overwrite (q_sink_jdbc)") {
    val dir = Files.createTempDirectory("graft_jdbc").toString
    val url = s"jdbc:derby:$dir/db;create=true"
    val df = Seq(
      (1L, "alpha", 1.25, java.sql.Timestamp.valueOf("2026-01-02 03:04:05")),
      (2L, "beta", -0.5, java.sql.Timestamp.valueOf("2026-02-03 04:05:06")),
      (3L, null.asInstanceOf[String], 7.0, null.asInstanceOf[java.sql.Timestamp]))
      .toDF("id", "name", "v", "ts")
    Sinks.writeJdbc(df, url, "t1")
    Sinks.writeJdbc(df, url, "t1") // rerun converges on ONE copy
    val back = Sinks.readJdbc(spark, url, "t1")
    // dialect DDL mapping must round-trip the Spark types
    assert(back.schema("id").dataType == org.apache.spark.sql.types.LongType)
    assert(back.schema("name").dataType == org.apache.spark.sql.types.StringType)
    assert(back.schema("v").dataType == org.apache.spark.sql.types.DoubleType)
    assert(back.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    val rows = back.orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        Option(r.getTimestamp(3)).map(_.toString).orNull))
    assert(rows.toSeq == Seq(
      (1L, "alpha", 1.25, "2026-01-02 03:04:05.0"),
      (2L, "beta", -0.5, "2026-02-03 04:05:06.0"),
      (3L, null, 7.0, null)))
    // parallel-writer path: multi-partition write through its own
    // connections must insert every row exactly once
    Sinks.writeJdbc(df.repartition(3), url, "t2")
    assert(Sinks.readJdbc(spark, url, "t2").count() == 3)
    Sinks.shutdownDerby(url)
  }

  test("partitioned jdbc read splits into N range slices, one copy total (q_src_jdbc)") {
    val dir = Files.createTempDirectory("graft_jdbc_part").toString
    val url = s"jdbc:derby:$dir/db;create=true"
    // ids straddle the slice boundaries (bounds 1..100 over 4 slices →
    // edges at 25/50/75): each boundary id must land in exactly one slice
    val df = (1L to 100L).toDF("id").withColumn("v", col("id") * 2)
    Sinks.writeJdbc(df, url, "t3")
    val back = Sinks.readJdbcPartitioned(spark, url, "t3", "id", 1L, 100L, 4)
    // read parallelism is the point: 4 independent range queries
    assert(back.rdd.getNumPartitions == 4)
    assert(back.count() == 100)
    assert(back.agg(sum("id")).head().getLong(0) == 5050L)
    // stale bounds steer balance, never correctness: rows OUTSIDE the
    // advertised range still arrive through the unbounded edge slices
    val stale = Sinks.readJdbcPartitioned(spark, url, "t3", "id", 40L, 60L, 4)
    assert(stale.count() == 100)
    Sinks.shutdownDerby(url)
  }

  test("sink scratch dirs from dead threads are reclaimed by the age sweep") {
    import graft.queries.SourceQueries
    val scratchDir = new java.io.File(SourceQueries.scratch)
    def appendDirSet = Option(scratchDir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("sink_append_")).toSet
    def appendDirs = appendDirSet.size
    val before = appendDirSet
    // short-lived threads each run the sink query once and die: their
    // ThreadLocal cleanup can never fire again, so each leaves one dir.
    // A bare Thread swallows exceptions — under parallel-suite load a
    // transient failure would silently drop a dir and fail the count
    // below for the wrong reason, so assert against the threads that
    // actually completed (>=1 keeps the test meaningful).
    val ok = new java.util.concurrent.atomic.AtomicInteger
    val threads = (1 to 3).map { _ =>
      val t = new Thread(() => {
        try {
          SparkEntry.queries("q_sink_append")(spark, sf0001).count(): Unit
          ok.incrementAndGet(): Unit
        } catch { case _: Throwable => () }
      })
      t.start(); t
    }
    threads.foreach(_.join())
    assert(ok.get >= 1, "every sink thread failed — not a sweep issue")
    assert(appendDirs >= ok.get,
      s"expected >=${ok.get} leftover dirs, got $appendDirs")
    // the dead threads' dirs aged past the horizon → the next
    // allocation (any kind, any thread) sweeps them; only the fresh
    // invocation's dir survives
    val past = System.currentTimeMillis() - SourceQueries.sinkDirMaxAgeMs -
      60 * 1000L
    (appendDirSet -- before).foreach(_.setLastModified(past): Unit)
    SparkEntry.queries("q_sink_append")(spark, sf0001).count(): Unit
    assert(appendDirs <= 2,
      s"age sweep left $appendDirs sink_append dirs behind")
  }

  test("each scratch kind releases only this thread's previous resource") {
    import graft.queries.SourceQueries
    def scratchDirs = Option(new java.io.File(SourceQueries.scratch)
      .listFiles()).getOrElse(Array.empty).map(_.getName).toSet
    def catalogNames =
      spark.catalog.listTables().collect().map(_.name).toSet
    val (dirsBefore, namesBefore) = (scratchDirs, catalogNames)
    // a fresh thread: its register starts empty, so what it leaves
    // behind is exactly what it holds
    var failure: Option[Throwable] = None
    val t = new Thread(() =>
      try (1 to 3).foreach { _ =>
        Seq("q_sink_bucketed", "q_src_stream_file", "q_sink_jdbc",
            "q_src_jdbc")
          .foreach(q => SparkEntry.queries(q)(spark, sf0001).count(): Unit)
      } catch { case e: Throwable => failure = Some(e) })
    t.start(); t.join()
    failure.foreach(e => fail(s"a register query failed: $e", e))
    val dirs = scratchDirs -- dirsBefore
    val names = catalogNames -- namesBefore
    def count(set: Set[String], prefix: String) =
      set.count(_.startsWith(prefix))
    assert(count(names, "bucketed_events_") <= 1, names)
    assert(count(names, "src_stream_file_") <= 1, names)
    assert(count(dirs, "sink_jdbc_") == 1, dirs)
    assert(count(dirs, "src_jdbc_") == 1, dirs)
  }

  test("stamped fixtures: a new code stamp rebuilds and sweeps the old dir") {
    import graft.queries.SourceQueries
    val src = Files.createTempDirectory("graft_stamp")
    Files.writeString(src.resolve("t.parquet"), "x")
    // a second source whose key extends the first one's: never swept
    val other = Files.createDirectories(
      java.nio.file.Paths.get(s"${src}_b"))
    Files.writeString(other.resolve("t.parquet"), "y")
    var builds = 0
    def fixture(dir: java.nio.file.Path, code: String): java.io.File =
      new java.io.File(SourceQueries.stampedFixture("stamptest",
          dir.toString, "t", code = code) { p =>
        builds += 1
        new java.io.File(p).mkdirs()
        new java.io.File(s"$p/_SUCCESS").createNewFile(): Unit
      })
    val keep = fixture(other, "a")
    val a = fixture(src, "a")
    assert(fixture(src, "a") == a && builds == 2, "built once per stamp")
    val b = fixture(src, "b")
    assert(b != a && builds == 3)
    assert(b.isDirectory && !a.exists(), "older stamp not swept")
    assert(keep.isDirectory, "swept another source's fixture")
    Seq(b, keep).foreach { d => d.listFiles().foreach(_.delete()); d.delete() }
  }

  test("stamped fixtures: a fixture whose source dir is gone is swept") {
    import graft.queries.SourceQueries
    def copyOfSf(name: String): java.nio.file.Path = {
      val d = Files.createTempDirectory(name)
      Files.copy(java.nio.file.Paths.get(sf0001, "events.parquet"),
        d.resolve("events.parquet"))
      d
    }
    def fixture(dir: java.nio.file.Path): java.io.File =
      new java.io.File(SourceQueries.stampedFixture("orphantest",
          dir.toString, "events") { p =>
        new java.io.File(p).mkdirs()
        new java.io.File(s"$p/_SUCCESS").createNewFile(): Unit
      })
    def rm(d: java.nio.file.Path): Unit = Sinks.rmTree(d.toFile)
    val gone = copyOfSf("graft_orphan")
    val orphan = fixture(gone)
    rm(gone)
    val live = copyOfSf("graft_live")
    val kept = fixture(live)
    assert(!orphan.exists(), "a fixture of a deleted source survived")
    val other = copyOfSf("graft_other")
    val third = fixture(other)
    assert(kept.isDirectory, "swept the fixture of a live source")
    Seq(live, other).foreach(rm)
    Seq(kept, third).foreach(d => Sinks.rmTree(d))
  }

  test("merged daily HLL sketches track exact distinct users (q_agg_sketch)") {
    // the property that matters at scale: union-of-daily-sketches must
    // estimate the same cardinality as one sketch over the whole span
    // (mergeability), and both must be within HLL error of exact
    val ev = Tables.load(spark, sf0001, "events")
    val exact = ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact"))
    val merged = graft.queries.AggQueries.aggSketchMerged(spark, sf0001)
    val whole = ev.groupBy("event_type")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), 12))
        .cast("long").as("apx_whole"))
    val joined = merged.join(exact, "event_type").join(whole, "event_type")
      .select("event_type", "apx_users", "exact", "apx_whole")
      .as[(String, Long, Long, Long)].collect()
    assert(joined.nonEmpty)
    joined.foreach { case (t, apx, exact, apxWhole) =>
      val err = math.abs(apx - exact).toDouble / exact
      assert(err < 0.1, s"$t: merged=$apx exact=$exact err=$err")
      // merge-invariance: daily-union estimate == whole-span estimate
      // (identical sketch family/precision over identical values)
      assert(apx == apxWhole,
        s"$t: merged=$apx != whole-span=$apxWhole — union lost precision")
    }
  }

  test("count-min estimates bound exact counts from above (q_agg_countmin)") {
    // the CMS contract: the estimate NEVER under-counts (deterministic —
    // every occurrence of a term lands in the term's own buckets), and
    // over-counts only by collisions, bounded in expectation by εN with
    // ε = e/w; with fixed seeds the fixture check is deterministic, so
    // assert the one-sided guarantee exactly and the collision slack
    // empirically at 3εN headroom
    val rows = graft.queries.AggQueries.aggCountminFull(spark, sf0001)
      .select("term", "n_exact", "n_est")
      .as[(String, Long, Long)].collect()
    assert(rows.length == 20, s"expected top-20 probe rows, got ${rows.length}")
    val n = Tables.load(spark, sf0001, "documents")
      .select(explode(graft.ops.TextSim.tokens(col("text"))).as("t"))
      .filter(length(col("t")) > 0).count()
    val slack = 3.0 * math.E / 1024.0 * n
    rows.foreach { case (term, exact, est) =>
      assert(est >= exact, s"$term: est=$est UNDER-counts exact=$exact — " +
        "the CMS one-sided guarantee is broken, not a tolerance issue")
      assert(est - exact <= slack,
        s"$term: est=$est vs exact=$exact exceeds collision slack $slack")
    }
    // determinism: a second run (fresh plan) must reproduce bit-identical
    // estimates — fixed seeds, integer counters, no RNG anywhere
    val again = graft.queries.AggQueries.aggCountminFull(spark, sf0001)
      .select("term", "n_exact", "n_est")
      .as[(String, Long, Long)].collect()
    assert(rows.toSeq == again.toSeq, "count-min output is not deterministic")
  }

  test("approx_percentile tracks exact percentiles (q_agg_quantile_approx)") {
    // the registered query's accuracy (10000) guarantees rank error
    // ≤ n/10000; at these group sizes that means the sketch answer must
    // be within a tight VALUE band of the exact interpolated percentile
    // (values are ~uniform, so rank error ≈ value error / range)
    val apx = graft.queries.AggQueries.aggQuantileApproxRaw(spark, sf0001)
      .select("event_type", "p25", "p50", "p75", "p90")
    val exact = SparkEntry.queries("q_agg_quantile")(spark, sf0001)
      .select(col("event_type"), col("p25").as("e25"), col("p50").as("e50"),
        col("p75").as("e75"), col("p90").as("e90"))
    val lo = Tables.load(spark, sf0001, "events").agg(min("value"))
      .head().getDouble(0)
    val hi = Tables.load(spark, sf0001, "events").agg(max("value"))
      .head().getDouble(0)
    val tol = (hi - lo) * 0.05
    val rows = apx.join(exact, "event_type")
      .as[(String, Double, Double, Double, Double,
        Double, Double, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (t, p25, p50, p75, p90, e25, e50, e75, e90) =>
      Seq(("p25", p25, e25), ("p50", p50, e50), ("p75", p75, e75),
        ("p90", p90, e90)).foreach { case (n, a, e) =>
        assert(math.abs(a - e) <= tol,
          s"$t $n: approx=$a exact=$e tol=$tol")
      }
    }
  }

  test("compaction reduces file count and preserves content (q_etl_compact)") {
    val small = graft.queries.SourceQueries.freshSinkDir("compact_small")
    val out = graft.queries.SourceQueries.freshSinkDir("compact_out")
    val ev = Tables.load(spark, sf0001, "events")
      .select("event_id", "user_id", "event_type", "value")
    ev.repartition(16).write.mode("overwrite").parquet(small)
    graft.etl.Sinks.compact(spark, small, out, targetFiles = 2)
    def parquetFiles(d: String) =
      Option(new java.io.File(d).listFiles()).getOrElse(Array.empty)
        .count(_.getName.endsWith(".parquet"))
    assert(parquetFiles(small) == 16)
    assert(parquetFiles(out) == 2,
      "compaction did not hit the target file count")
    // content-neutral: same rows, nothing duplicated or dropped
    val before = ev.orderBy("event_id").collect()
    val after = spark.read.parquet(out).orderBy("event_id").collect()
    assert(after.sameElements(before))
  }

  test("approx_count_distinct within declared rsd of exact (q_agg_approx)") {
    val li = Tables.load(spark, sf0001, "lineitem")
    val rows = li.groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("exact"),
        approx_count_distinct(col("l_partkey"), 0.02).as("approx"))
      .select("exact", "approx").as[(Long, Long)].collect()
    rows.foreach { case (exact, approx) =>
      val err = math.abs(approx - exact).toDouble / exact
      assert(err < 0.1, s"approx=$approx exact=$exact err=$err")
    }
  }

  test("publishAudited publishes good data atomically, refuses bad data") {
    import graft.etl.Sinks
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("wap_spec").toString
    val good = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")

    // happy path: audit passes, stage dir is renamed away, publish reads
    good.write.parquet(s"$base/stage1")
    Sinks.publishAudited(spark, s"$base/stage1", s"$base/pub1", "k", 3L)
    assert(!new java.io.File(s"$base/stage1").exists(),
      "publish must consume the staging dir")
    assert(spark.read.parquet(s"$base/pub1").count() == 3)

    // row-count mismatch: refuse, keep staging for forensics, no publish
    good.write.parquet(s"$base/stage2")
    intercept[IllegalArgumentException] {
      Sinks.publishAudited(spark, s"$base/stage2", s"$base/pub2", "k", 4L)
    }
    assert(new java.io.File(s"$base/stage2").exists())
    assert(!new java.io.File(s"$base/pub2").exists())

    // duplicate keys: refuse
    Seq((1L, "a"), (1L, "b")).toDF("k", "v").write.parquet(s"$base/stage3")
    intercept[IllegalArgumentException] {
      Sinks.publishAudited(spark, s"$base/stage3", s"$base/pub3", "k", 2L)
    }
    assert(!new java.io.File(s"$base/pub3").exists())

    // null keys: refuse
    Seq((Some(1L), "a"), (None, "b")).toDF("k", "v")
      .write.parquet(s"$base/stage4")
    intercept[IllegalArgumentException] {
      Sinks.publishAudited(spark, s"$base/stage4", s"$base/pub4", "k", 2L)
    }
    assert(!new java.io.File(s"$base/pub4").exists())
  }

  test("q_etl_dq_approx tracks the exact profile and drops the Expand") {
    // the Q-tier gate for the registered query: the sketch profile's
    // cardinalities must sit within ±3·rsd of q_etl_dq's exact ones,
    // every non-sketch column must agree EXACTLY (same pass, same
    // inputs), and the plan must NOT pay the multi-count(DISTINCT)
    // Expand — the property that makes it the 100 TB profile
    val exact = SparkEntry.queries("q_etl_dq")(spark, sf0001).head()
    val approxDf = graft.queries.PipelineQueries.etlDqApproxRaw(spark, sf0001)
    val approx = approxDf.head()
    for (c <- Seq("n_rows", "custkey_nulls", "price_nulls", "price_min",
        "price_max", "date_min", "date_max")) {
      assert(approx.getAs[Any](c) == exact.getAs[Any](c),
        s"non-sketch column $c diverged")
    }
    for ((est, ex) <- Seq(
        ("custkey_distinct_est", "custkey_distinct"),
        ("status_distinct_est", "status_distinct"))) {
      val e = exact.getAs[Long](ex)
      val a = approx.getAs[Long](est)
      val err = math.abs(a - e).toDouble / e
      assert(err <= 0.15, s"$est=$a vs $ex=$e err=$err > 3*rsd")
    }
    val plan = approxDf.queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"),
      "sketch profile still pays the count(DISTINCT) Expand")
    val exactPlan = SparkEntry.queries("q_etl_dq")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(exactPlan.contains("Expand"),
      "exact profile lost its Expand — the comparison is vacuous")
  }
}
