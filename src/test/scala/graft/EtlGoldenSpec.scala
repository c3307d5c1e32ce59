package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.etl.Normalize
import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, Encoders, Row}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Golden end-to-end ETL test (SURVEY.md §5.2): the committed fixture
  * NDJSON (FIXTURES.md §2 coverage list) through [[Normalize]] must yield
  * exactly the hand-computed 11-table contents. */
class EtlGoldenSpec extends SparkSpecBase {

  private lazy val fixture =
    getClass.getResource("/fixtures/results.ndjson").getPath
  private lazy val raw = Normalize.readScraped(spark, fixture)
  private lazy val split = Normalize.validate(raw)
  private lazy val tables = Normalize.normalize(split._1)

  test("validation quarantines bad price and bad health_score") {
    val bad = split._2.select("bizId").collect().map(_.getString(0)).sorted
    assert(bad.toSeq == Seq("biz-echo", "biz-foxtrot"))
    assert(split._1.count() == 6)
  }

  test("business hub gets deterministic row_number ids in bizId order") {
    val rows = tables("business").select("id", "name")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    assert(rows.toSeq == Seq((1L, "Alpha Diner"), (2L, "Bravo Bar"),
      (3L, "Charlie Cafe"), (4L, "Delta Deli"), (5L, "Golf Grill"),
      (6L, "Hotel Hash")))
  }

  test("weekday dim follows the reference collation") {
    val rows = tables("weekday").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(rows.toSeq == Normalize.weekdays.zipWithIndex
      .map { case (w, i) => (i + 1L, w) })
  }

  test("open_hours explodes ranges with sentinel/overnight/fallback cases") {
    val rows = tables("open_hours")
      .select("business_id", "weekday_id", "open_time", "close_time")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2, t._3))
    assert(rows.toSeq == Seq(
      (1L, 1L, 39600L, 54000L), // Alpha Mon 11:00-15:00
      (1L, 2L, 39600L, 54000L), // Alpha Tue glued range 1
      (1L, 2L, 59400L, 79200L), // Alpha Tue glued range 2
      (2L, 5L, 57600L, 0L), //     Bravo Fri overnight
      (2L, 6L, 0L, 86399L), //     Bravo Sat 24h sentinel
      (4L, 1L, 39600L, 54000L), // Delta Mon minute-less fallback
      (4L, 7L, 43200L, 0L), //     Delta Sun noon-midnight
      (5L, 5L, 28800L, 39600L))) // Golf Fri (Thu gibberish dropped)
  }

  test("open_hours keeps its written schema: names, types, nullability") {
    // times come out of the parse's interval structs, whose fields are
    // nullable like the (opens, closes) array pair they replaced
    assert(tables("open_hours").schema == StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("business_id", LongType, nullable = false),
      StructField("open_time", LongType),
      StructField("close_time", LongType),
      StructField("weekday_id", LongType, nullable = false))))
  }

  test("dims are distinct names with deterministic ids") {
    def dimOf(t: String) = tables(t).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(dimOf("food_category") ==
      Seq((1L, "Bars"), (2L, "Burgers"), (3L, "Diners")))
    assert(dimOf("search_term") ==
      Seq((1L, "breakfast"), (2L, "cocktails"), (3L, "grill")))
    assert(dimOf("highlight") ==
      Seq((1L, "Live music"), (2L, "Outdoor seating")))
    assert(dimOf("amenity") == Seq((1L, "Parking"), (2L, "Wi-Fi")))
  }

  test("bridge tables join back through dim ids") {
    val bfc = tables("business_food_category")
      .select("business_id", "food_category_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(bfc.toSeq == Seq((1L, 2L), (1L, 3L), (2L, 1L), (2L, 2L),
      (4L, 3L), (5L, 2L), (6L, 1L), (6L, 3L)))
  }

  test("amenity bridge carries the is_available payload") {
    val ba = tables("business_amenity")
      .select("business_id", "amenity_id", "is_available").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .sortBy(t => (t._1, t._2))
    assert(ba.toSeq == Seq((1L, 1L, false), (1L, 2L, true), (2L, 2L, false),
      (4L, 1L, true), (5L, 2L, true), (6L, 1L, true), (6L, 2L, true)))
  }

  test("denormalization round-trips the nested arrays") {
    val nested = graft.etl.Denormalize.toNested(tables)
    assert(nested.count() == 6)
    val byName = nested.collect().map(r =>
      r.getString(r.fieldIndex("name")) -> r).toMap
    val alpha = byName("Alpha Diner")
    assert(alpha.getSeq[String](alpha.fieldIndex("food_category")) ==
      Seq("Burgers", "Diners"))
    assert(alpha.getSeq[Row](alpha.fieldIndex("open_hours")).size == 3)
    val charlie = byName("Charlie Cafe")
    assert(charlie.getSeq[String](charlie.fieldIndex("food_category"))
      .isEmpty)
    val bravo = byName("Bravo Bar")
    assert(bravo.getSeq[String](bravo.fieldIndex("related_search_terms")) ==
      Seq("breakfast", "cocktails"))
  }

  test("duplicate bizId records collapse to one hub row (resume appends)") {
    // simulate the scraper's append-after-resume: the whole file twice
    val doubled = split._1.unionByName(split._1)
    val tables2 = Normalize.normalize(doubled)
    assert(tables2("business").count() == 6)
    val ids = tables2("business").select("id").collect()
      .map(_.getLong(0)).sorted
    assert(ids.toSeq == (1L to 6L))
    assert(tables2("business_food_category").count() ==
      tables("business_food_category").count())
  }

  test("run() writes a readable warehouse and counts the quarantine") {
    // end-to-end through the DISK path (NDJSON in, parquet out): guards
    // the read-back of every side-channel dir — an underscore-prefixed
    // staging dir is silently listed as EMPTY by Hadoop's hidden-file
    // filter, which once turned the whole warehouse into zero-row tables
    // with only a WARN
    val whDir = java.nio.file.Files
      .createTempDirectory("graft_etl_run").toString + "/wh"
    val (counts, nQuarantined) = Normalize.run(spark, fixture, whDir)
    assert(nQuarantined == 2L) // biz-echo, biz-foxtrot
    assert(counts("business") == 6L)
    assert(counts("weekday") == 7L)
    assert(counts("open_hours") == 8L)
    assert(counts("food_category") == 3L)
    assert(counts("business_amenity") == 7L)
    // the written tables are what normalize() computed, not empty shells
    val backBiz = spark.read.parquet(s"$whDir/business")
    assert(backBiz.count() == 6L)
    assert(backBiz.columns.toSet ==
      Set("id", "name", "website", "phone_number", "address", "price",
        "health_score"))
  }

  test("normalization is idempotent (re-run produces identical tables)") {
    val again = Normalize.normalize(split._1)
    assert(tables.size == 11 && again.keySet == tables.keySet)
    tables.keys.foreach { t =>
      val a = tables(t).collect().toSet
      val b = again(t).collect().toSet
      assert(a == b, s"table $t differs between runs")
    }
  }

  test("bridge ids are 1..n over a null and a repeated name") {
    // bridges are numbered before their dim is joined on, so a null name
    // must be dropped before numbering or it would leave a gap in the ids
    val records = Seq(
      """{"bizId": "biz-x", "ranking": 1, "name": "X", """ +
        """"food_category": ["Pubs", null, "Bars", "Pubs"]}""",
      """{"bizId": "biz-y", "ranking": 2, "name": "Y", """ +
        """"food_category": [null, "Cafes"]}""")
    val valid = Normalize.validate(spark.read.schema(Schemas.scrapedBusiness)
      .json(spark.createDataset(records)(Encoders.STRING)))._1
    val out = Normalize.normalize(valid)
    val dim = out("food_category").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(dim.toSeq == Seq((1L, "Bars"), (2L, "Cafes"), (3L, "Pubs")))
    val bridge = out("business_food_category")
      .select("id", "business_id", "food_category_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(bridge.toSeq == Seq((1L, 1L, 1L), (2L, 1L, 3L), (3L, 1L, 3L),
      (4L, 2L, 2L)))
  }

  test("a failing branch surfaces its own exception and leaves no thread") {
    // open_hours is the only branch that reads the day struct's fields
    val renamed = split._1.withColumn("open_hours", expr(
      "transform(open_hours, o -> named_struct('day', o.weekday, " +
        "'open_hours', o.open_hours))"))
    val e = intercept[AnalysisException](Normalize.normalize(renamed))
    assert(e.getMessage.contains("weekday"))
    val branches = Thread.getAllStackTraces.keySet.asScala
      .filter(_.getName == "normalize-branch")
    branches.foreach(_.join(10000))
    assert(!branches.exists(_.isAlive))
  }

  test("a failing branch cancels the other branches' jobs") {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException](
      Normalize.inBranches(spark, 2) { submit =>
        // one task that runs until its job is cancelled, or for 2 min
        val slow = submit {
          sc.parallelize(Seq(1), 1).map { x =>
            val tc = TaskContext.get()
            val end = System.nanoTime() + 120e9.toLong
            while (!tc.isInterrupted() && System.nanoTime() < end)
              Thread.sleep(10)
            x
          }.count()
          spark.emptyDataFrame
        }
        val failing = submit {
          Thread.sleep(500)
          throw new IllegalStateException("branch failed")
        }
        Seq("slow" -> slow, "failing" -> failing)
      })
    assert(e.getMessage == "branch failed")
    // inBranches waits for every branch, so only a cancelled slow job
    // lets it return this early
    assert(System.nanoTime() - t0 < 60e9.toLong)
  }

  test("every job normalize starts carries the caller's job group") {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("<none>"))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("etl-golden", "normalize under a caller's group")
      try Normalize.normalize(split._1)
      finally sc.clearJobGroup()
      // listener events arrive in order: once the marker job is seen,
      // every job normalize started has been seen too
      sc.setJobGroup("marker", "end of normalize's jobs")
      try sc.parallelize(Seq(1)).count()
      finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30e9.toLong
      while (!groups.contains("marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
    } finally sc.removeSparkListener(listener)
    val seen = groups.asScala.toSeq
    assert(seen.lastOption.contains("marker"))
    val normalizeJobs = seen.init
    // at least the count job of each of the ten numberings
    assert(normalizeJobs.size >= 10, normalizeJobs)
    assert(normalizeJobs.forall(_ == "etl-golden"), normalizeJobs)
  }
}
