package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.util.Random
import scala.util.control.NonFatal

import graft.{Schemas, SparkEntry}
import graft.etl.{Normalize, Sinks}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run inside a fresh JVM: set up the program, time one
  * workload for a fixed number of seconds, dump what the output checks
  * need, and write a JSON report. Launched by `perfbench/run.py`, which
  * generates the inputs, runs the checks and prints the metrics.
  *
  * Arguments are `key=value` pairs; see [[Conf]]. */
object Main {
  def main(args: Array[String]): Unit = {
    val conf = Conf(args)
    ProgramPaths.redirect(s"${conf.work}/program")
    val report = new Harness(conf).run()
    Files.writeString(Paths.get(conf.out), report)
    sys.exit(0)
  }
}

final case class Conf(kv: Map[String, String]) {
  val workload: String = kv("workload")
  /** Directory of the generated parquet tables the queries read. */
  val data: String = kv("data")
  /** Scraped-business NDJSON directory (ingest). */
  val input: String = kv("input")
  /** The slice of `input` the ingest warm-up normalizes: the same plans
    * as a full batch, so it warms the same code, in less time. */
  val warmInput: String = kv("warm_input")
  val records: Long = kv("records").toLong
  val work: String = kv("work")
  val out: String = kv("out")
  val seconds: Double = kv("seconds").toDouble
  val traced: Boolean = kv("trace") == "1"
  val cores: Int = kv("cores").toInt
  val seed: Long = kv("seed").toLong
  val queries: Seq[String] = kv("queries").split(",").toSeq.filter(_.nonEmpty)
}

object Conf {
  def apply(args: Array[String]): Conf = Conf(args.map { a =>
    val i = a.indexOf('=')
    require(i > 0, s"argument '$a' is not key=value")
    a.take(i) -> a.drop(i + 1)
  }.toMap)
}

/** The program hard-codes its scratch root and media fixture under one
  * absolute checkout path. The benchmark runs from other checkouts and
  * must not write outside its own, so before any query runs it points
  * both at the run's work directory. Both are object `val`s, which
  * Scala emits as static final fields: they are rewritten once, right
  * after their class initializes and before anything reads them. */
object ProgramPaths {
  def redirect(root: String): Unit = {
    new File(root).mkdirs()
    System.setProperty("derby.system.home", s"$root/derby")
    setStatic("graft.queries.SourceQueries$", "scratch", s"$root/tmp")
    setStatic("graft.ops.Multimodal$", "fixturePath", s"$root/tmp/media_fixture")
  }

  private def setStatic(cls: String, field: String, value: String): Unit = {
    val c = Class.forName(cls)
    val f = c.getDeclaredField(field)
    val u = {
      val g = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
      g.setAccessible(true)
      g.get(null).asInstanceOf[sun.misc.Unsafe]
    }
    u.putObject(u.staticFieldBase(f), u.staticFieldOffset(f), value)
    val now = c.getMethod(field).invoke(c.getField("MODULE$").get(null))
    require(now == value, s"could not redirect $cls.$field (reads $now)")
  }
}

/** One timed operation: an analytics pass or an ingest batch. `kind`
  * tells ingest's two batch forms apart in traced runs. */
final case class Sample(op: Int, name: String, seconds: Double, ok: Boolean,
                        kind: String = "")

object Harness {
  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3
  /** Operations a measured phase runs at least, whatever `seconds` says. */
  val MinOps = 2
  /** Hard stop for one measured phase, whatever `MinOps` says. */
  val CapSeconds = 60.0
}

final class Harness(conf: Conf) {
  import Harness._
  private val tracer = new Tracer(conf.traced)
  private var spark: SparkSession = _
  private val failures = scala.collection.mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private var failed = 0L
  private val programRoot = s"${conf.work}/program"

  private def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${conf.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", conf.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${conf.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${conf.work}/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def query(q: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries(q)

  private def rmTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete(): Unit
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def fail(what: String, e: Throwable): Unit = {
    failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
      .take(500)
    System.err.println(s"[perfbench] FAILED $what")
    e.printStackTrace()
  }

  // ---- set-up -----------------------------------------------------------

  /** Session start, the program's fixture and warehouse builds (made on
    * the first call of the builders that need them) and the warm-up. */
  private def setUp(): Unit = {
    spark = tracer(-1, "setup.session")(newSession())
    tracer.sc = Some(spark.sparkContext)
    spark.range(1000).selectExpr("sum(id)").collect()
    conf.workload match {
      case "ingest" =>
        tracer(-1, "setup.warm")(
          Normalize.run(spark, conf.warmInput, s"${conf.work}/wh/warm"))
      case "analytics" =>
        conf.queries.distinct.foreach { q =>
          val t0 = System.nanoTime()
          try tracer(-1, "setup.warm")(noop(query(q)(spark, conf.data)))
          catch { case NonFatal(e) => fail(s"set-up of $q", e) }
          System.err.println(
            f"[perfbench] warm-up of $q: ${(System.nanoTime() - t0) / 1e9}%.2f s")
        }
    }
  }

  /** Set up `Setups` times; every repeat starts from a stopped session
    * and emptied program caches, so each rebuilds everything. */
  private def setUpRepeatedly(): Seq[Double] = (1 to Setups).map { i =>
    if (i > 1) {
      spark.stop()
      rmTree(new File(programRoot))
      rmTree(new File(s"${conf.work}/wh"))
      new File(programRoot).mkdirs()
    }
    val t0 = System.nanoTime()
    tracer(-1, "setup")(setUp())
    (System.nanoTime() - t0) / 1e9
  }

  // ---- operations -------------------------------------------------------

  /** Build and execute one query into the no-op sink, as graft.Bench does. */
  private def runQuery(op: Int, q: String): Boolean = {
    attempted += 1
    try {
      val df = tracer(op, "queries.build")(query(q)(spark, conf.data))
      tracer(op, "exec.noop")(noop(df))
      true
    } catch {
      case NonFatal(e) => failed += 1; fail(s"op $op ($q)", e); false
    }
  }

  private def timed(op: Int, name: String, kind: String = "")(
      body: => Boolean): Sample = {
    val t0 = System.nanoTime()
    val ok = body
    Sample(op, name, (System.nanoTime() - t0) / 1e9, ok, kind)
  }

  private lazy val passRnd = new Random(conf.seed)

  /** Per-query wall times inside analytics passes, for the report. */
  private val queryTimes = scala.collection.mutable.ArrayBuffer.empty[Sample]

  /** Analytics: one pass over every heavy query, in a seeded order. */
  private def analyticsOp(op: Int): Sample = {
    val order = passRnd.shuffle(conf.queries)
    timed(op, "pass")(tracer(op, "pass")(order.map { q =>
      val s = timed(op, q)(tracer(op, s"query.$q")(runQuery(op, q)))
      queryTimes += s
      s.ok
    }.forall(identity)))
  }

  /** Every batch writes a fresh warehouse; run.py checks each one. */
  private def warehouse(op: Int): String = s"${conf.work}/wh/$op"

  /** Ingest: one `Normalize.run` into a fresh warehouse directory. */
  private def ingestOp(op: Int): Sample = {
    val wh = warehouse(op)
    attempted += 1
    timed(op, "batch", "run")(tracer(op, "batch")(
      try {
        tracer(op, "Normalize.run")(Normalize.run(spark, conf.input, wh))
        true
      } catch {
        case NonFatal(e) => failed += 1; fail(s"batch $op", e); false
      }))
  }

  /** Ingest, traced form: `Normalize.run`'s public stages called in the
    * order `run` calls them, each in its own span. */
  private def stagedIngestOp(op: Int): Sample = {
    val wh = warehouse(op)
    attempted += 1
    timed(op, "batch", "staged")(tracer(op, "batch")(
      try {
        val (valid, quarantined) = tracer(op, "normalize.read_validate")(
          Normalize.validate(Normalize.readScraped(spark, conf.input)))
        val tables = tracer(op, "normalize.hub")(
          Normalize.normalize(valid, Some(s"$wh/stage.hub")))
        val counts = tables.map { case (name, df) =>
          tracer(op, "normalize.tables")(
            Sinks.writeWarehouseTable(df, s"$wh/$name"))
          name -> tracer(op, "normalize.readback")(
            spark.read.parquet(s"$wh/$name").count())
        }
        val nQuarantined = tracer(op, "normalize.quarantine") {
          quarantined.write.mode("overwrite").json(s"$wh/quarantine")
          spark.read.schema(Schemas.scrapedBusiness)
            .json(s"$wh/quarantine").count()
        }
        stagedCounts = Some((nQuarantined, counts("business")))
        true
      } catch {
        case NonFatal(e) => failed += 1; fail(s"staged batch $op", e); false
      }))
  }

  /** (quarantined rows, business rows) of the last staged batch. */
  private var stagedCounts: Option[(Long, Long)] = None

  /** Run `op` until `seconds` have passed and `minOps` ops are done, or
    * the phase's hard cap is reached. Every op starts from a collected
    * heap: the first one too, so it does not pay for set-up's garbage. */
  private def measure(seconds: Double, minOps: Int)(
      op: Int => Sample): Seq[Sample] = {
    collectHeap()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val out = scala.collection.mutable.ArrayBuffer.empty[Sample]
    while ((elapsed < seconds || out.size < minOps) &&
        elapsed < math.max(seconds, CapSeconds)) {
      out += op(out.size)
      liveHeapMb += collectHeap() / (1024.0 * 1024.0)
    }
    out.toSeq
  }

  private def workloadOp: Int => Sample = conf.workload match {
    case "analytics" => analyticsOp
    case "ingest" => ingestOp
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  // ---- checks -----------------------------------------------------------

  /** Each distinct query's result, for the oracle comparison run.py
    * makes after this JVM exits; written outside every timed region. */
  private def dumpResults(): Unit = {
    val dir = s"${conf.work}/results"
    new File(dir).mkdirs()
    conf.queries.distinct.foreach { q =>
      try query(q)(spark, conf.data).coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/$q")
      catch { case NonFatal(e) => fail(s"result dump of $q", e) }
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) =>
      conf.queries.contains(k) }
    Files.writeString(Paths.get(s"$dir/oracle_sql.json"), Json.value(oracle))
  }

  // ---- per-layer report (traced runs) -----------------------------------

  private def dataFiles(dir: File): Seq[File] =
    if (dir.isDirectory) Option(dir.listFiles()).toSeq.flatten.flatMap(dataFiles)
    else if (dir.getName.startsWith("part-")) Seq(dir)
    else Nil

  private def layers(ledger: Ledger, traced: Seq[Sample],
                     filesWritten: Long): Map[String, Double] = {
    val n = traced.size.toDouble max 1.0
    val all = ledger.total
    val build = ledger.of("queries.build")
    val wall = traced.map(_.seconds).sum
    val mb = 1024.0 * 1024.0
    def span(name: String) = tracer.named(name).map(_.seconds).sum
    val staged = traced.count(_.kind == "staged").toDouble max 1.0
    val (quarantined, business) = stagedCounts.getOrElse((0L, 0L))
    val cachedMb = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / mb
    Map(
      "queries.build_s" -> span("queries.build") / n,
      "queries.build_jobs" -> build.jobs / n,
      "catalyst.analysis_s" -> ledger.catalystSeconds("analysis") / n,
      "catalyst.optimization_s" -> ledger.catalystSeconds("optimization") / n,
      "catalyst.planning_s" -> ledger.catalystSeconds("planning") / n,
      "scheduler.jobs" -> all.jobs / n,
      "scheduler.stages" -> all.stages / n,
      "scheduler.tasks" -> all.tasks / n,
      "scheduler.tasks_per_job" ->
        (if (all.jobs > 0) all.tasks.toDouble / all.jobs else 0.0),
      "scheduler.idle_core_s" -> (wall * conf.cores - all.runMs / 1e3) / n,
      "exec.wall_s" -> wall / n,
      "exec.task_run_s" -> all.runMs / 1e3 / n,
      "exec.task_cpu_s" -> all.cpuNs / 1e9 / n,
      "exec.gc_s" -> all.gcMs / 1e3 / n,
      "shuffle.write_mb" -> all.shuffleWrite / mb / n,
      "shuffle.write_s" -> all.shuffleWriteNs / 1e9 / n,
      "shuffle.read_mb" -> all.shuffleRead / mb / n,
      "shuffle.spill_mb" -> all.spill / mb / n,
      "shuffle.fetch_wait_s" -> all.fetchWaitMs / 1e3 / n,
      "shuffle.read_per_write" -> (if (all.shuffleWrite > 0)
        all.shuffleRead.toDouble / all.shuffleWrite else 0.0),
      "normalize.read_validate_s" -> span("normalize.read_validate") / staged,
      "normalize.hub_s" -> span("normalize.hub") / staged,
      "normalize.tables_s" -> span("normalize.tables") / staged,
      "normalize.readback_s" -> span("normalize.readback") / staged,
      "normalize.quarantine_s" -> span("normalize.quarantine") / staged,
      "normalize.quarantined_rows" -> quarantined.toDouble,
      "normalize.dedup_dropped_rows" -> (if (stagedCounts.isEmpty) 0.0
        else (conf.records - quarantined - business).toDouble),
      "sinks.bytes_written_mb" -> all.outBytes / mb / n,
      "sinks.records_written" -> all.outRecords / n,
      "sinks.files_written" -> filesWritten / n,
      "storage.cached_mb_end" -> cachedMb)
  }

  // ---- run --------------------------------------------------------------

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Heap in use after full collections, sampled after every measured
    * operation: what the program keeps between operations (session
    * state, cached contractions, persisted blocks). Unlike the process's
    * peak RSS it does not depend on how far G1 grew the heap. */
  private val liveHeapMb = scala.collection.mutable.ArrayBuffer.empty[Double]

  /** Heap bytes in use once full collections stop shrinking it. */
  private def collectHeap(): Long = {
    def collect(): Long = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    // a collection finds the finished operation's broadcasts and RDDs
    // unreachable; Spark's ContextCleaner then drops their blocks (it
    // polls every 100 ms) and the next collection frees them. Collect
    // until the heap stops shrinking: one collection left 15-60 MB of
    // such blocks, a different amount each time
    var used = collect()
    var shrunk = Long.MaxValue
    var rounds = 0
    while (shrunk > (1L << 20) && rounds < 8) {
      Thread.sleep(200)
      val now = collect()
      shrunk = used - now
      used = now
      rounds += 1
    }
    used
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  /** Attach or detach the ledger and the span recorder. Detaching first
    * waits until the listener bus has delivered every event. */
  private def tracing(ledger: Ledger, on: Boolean): Unit =
    if (on != tracer.on) {
      tracer.on = on
      if (on) {
        spark.sparkContext.addSparkListener(ledger)
        spark.listenerManager.register(ledger)
      } else {
        org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(ledger)
        spark.listenerManager.unregister(ledger)
      }
    }

  def run(): String = {
    val setupS = setUpRepeatedly()
    val untraced = scala.collection.mutable.ArrayBuffer.empty[Sample]
    val traced = scala.collection.mutable.ArrayBuffer.empty[Sample]
    var layerMetrics = Map.empty[String, Double]
    var stageRatio = Double.NaN
    if (!conf.traced) untraced ++= measure(conf.seconds, MinOps)(workloadOp)
    else {
      // traced and untraced ops take turns, so the tracing overhead is
      // measured under the same conditions; on ingest a third turn
      // calls Normalize's stages one by one
      val turns: Seq[(Boolean, Int => Sample)] =
        if (conf.workload == "ingest")
          Seq(false -> ingestOp, true -> ingestOp, true -> stagedIngestOp)
        else Seq(false -> workloadOp, true -> workloadOp)
      val ledger = new Ledger
      tracer.on = false // set-up was traced without the ledger
      var files = 0L
      measure(conf.seconds, 2 * turns.size) { i =>
        val (on, op) = turns(i % turns.size)
        tracing(ledger, on)
        val before: Set[File] =
          if (on) dataFiles(new File(programRoot)).toSet else Set.empty
        val sample = op(i)
        if (on) {
          files += (if (conf.workload == "ingest")
            dataFiles(new File(warehouse(i))).size
          else dataFiles(new File(programRoot)).count(f => !before(f)))
          traced += sample
        } else untraced += sample
        sample
      }
      tracing(ledger, on = false)
      layerMetrics = layers(ledger, traced.toSeq, files)
      if (conf.workload == "ingest") {
        val byKind = traced.filter(_.ok).groupBy(_.kind)
          .map { case (k, ss) => k -> median(ss.map(_.seconds).toSeq) }
        stageRatio = byKind.getOrElse("staged", Double.NaN) /
          byKind.getOrElse("run", Double.NaN)
      }
    }
    val rss = peakRssMb()
    if (conf.workload != "ingest") dumpResults()
    def samples(ss: Seq[Sample]) = ss.map(s => Json.Raw(Json.obj(Seq(
      "op" -> s.op, "name" -> s.name, "seconds" -> s.seconds, "ok" -> s.ok,
      "kind" -> s.kind))))
    if (conf.traced)
      Files.writeString(Paths.get(s"${conf.work}/trace.json"), tracer.toJson)
    val report = Json.obj(Seq(
      "workload" -> conf.workload,
      "cores" -> conf.cores,
      "setup_s" -> setupS,
      "samples" -> samples(untraced.toSeq),
      "traced_samples" -> samples(traced.toSeq),
      "query_samples" -> samples(queryTimes.toSeq),
      "attempted" -> attempted,
      "failed" -> failed,
      "failures" -> failures.toSeq,
      "peak_rss_mb" -> rss,
      "live_heap_mb" -> liveHeapMb.toSeq,
      "layers" -> layerMetrics,
      "stage_sum_over_run" -> stageRatio,
      "self_time" -> tracer.selfTimes.map { case (k, (c, t, st)) =>
        k -> Map("count" -> c, "total_s" -> t, "self_s" -> st) }))
    spark.stop()
    report
  }
}
