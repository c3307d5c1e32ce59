package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.etl.Normalize
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageType
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, Encoders, Row}
import org.apache.spark.sql.execution.datasources.parquet.SparkToParquetSchemaConverter
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{DataType, StructType}

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

  /** Every table's schema, as [[Normalize.normalize]] returns it. */
  private val schemas: Map[String, StructType] = Map(
    "business" -> ("id BIGINT NOT NULL, name STRING, website STRING, " +
      "phone_number STRING, address STRING, price STRING, " +
      "health_score STRING"),
    "weekday" -> "id BIGINT NOT NULL, name STRING",
    // times come out of the parse's interval structs, whose fields are
    // nullable like the (opens, closes) array pair they replaced
    "open_hours" -> ("id BIGINT NOT NULL, business_id BIGINT NOT NULL, " +
      "open_time BIGINT, close_time BIGINT, weekday_id BIGINT NOT NULL"),
    "food_category" -> "id BIGINT NOT NULL, name STRING",
    "search_term" -> "id BIGINT NOT NULL, name STRING",
    "highlight" -> "id BIGINT NOT NULL, name STRING",
    "amenity" -> "id BIGINT NOT NULL, name STRING",
    "business_food_category" -> ("id BIGINT NOT NULL, " +
      "business_id BIGINT NOT NULL, food_category_id BIGINT NOT NULL"),
    "business_search_term" -> ("id BIGINT NOT NULL, " +
      "business_id BIGINT NOT NULL, search_term_id BIGINT NOT NULL"),
    "business_highlight" -> ("id BIGINT NOT NULL, " +
      "business_id BIGINT NOT NULL, highlight_id BIGINT NOT NULL"),
    "business_amenity" -> ("id BIGINT NOT NULL, " +
      "business_id BIGINT NOT NULL, amenity_id BIGINT NOT NULL, " +
      "is_available BOOLEAN")).map { case (t, ddl) => t -> StructType.fromDDL(ddl) }

  /** The schemas [[Normalize.run]] writes: the staged hub reads back
    * nullable, like every parquet read, so the hub id and the
    * business_id of every child table lose their NOT NULL. */
  private val writtenSchemas: Map[String, StructType] = schemas.map {
    case (t, st) => t -> StructType(st.map(f =>
      if (f.name == "business_id" || (t, f.name) == ("business", "id"))
        f.copy(nullable = true)
      else f))
  }

  /** The Spark schema in the footer of each parquet file of `dir`, and
    * the parquet schema Spark derives from it. */
  private def footerSchemas(dir: String): Seq[(StructType, MessageType)] =
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
      .toSeq.map { f =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
          new Path(f.getPath), new Configuration()))
        try {
          val meta = reader.getFooter.getFileMetaData
          (DataType.fromJson(meta.getKeyValueMetaData.get(
            "org.apache.spark.sql.parquet.row.metadata"))
            .asInstanceOf[StructType], meta.getSchema)
        } finally reader.close()
      }

  /** Every file of every table of `wh` holds the schema `run` writes:
    * names, types, nullability and field metadata, in the Spark row
    * metadata and in the parquet schema itself. */
  private def assertWrittenSchemas(wh: String): Unit = {
    val toParquet = new SparkToParquetSchemaConverter(spark.sessionState.conf)
    writtenSchemas.foreach { case (t, st) =>
      val footers = footerSchemas(s"$wh/$t")
      assert(footers.nonEmpty, s"$t has no parquet file")
      footers.foreach { case (sparkSchema, parquetSchema) =>
        assert(sparkSchema == st, t)
        assert(parquetSchema == toParquet.convert(st), t)
      }
    }
  }

  /** A staged run of the golden fixture: (warehouse dir, row counts per
    * table, quarantined count). */
  private lazy val goldenRun = {
    val whDir = java.nio.file.Files
      .createTempDirectory("graft_etl_run").toString + "/wh"
    val (counts, nQuarantined) = Normalize.run(spark, fixture, whDir)
    (whDir, counts, nQuarantined)
  }

  test("every table keeps its written schema: names, types, nullability") {
    assert(tables.keySet == schemas.keySet)
    schemas.foreach { case (t, st) => assert(tables(t).schema == st, t) }
    assertWrittenSchemas(goldenRun._1)
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
    val (whDir, counts, nQuarantined) = goldenRun
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

  test("an all-quarantined batch writes empty tables with the same schemas") {
    val input = java.nio.file.Files.createTempDirectory("graft_etl_bad")
    java.nio.file.Files.write(input.resolve("bad.ndjson"), java.util.List.of(
      """{"bizId": "b1", "ranking": 1, "name": "X", "price": "cheap"}""",
      """{"bizId": "b2", "ranking": 2, "name": "Y", "health_score": "zz"}""",
      """{"bizId": "b3", "ranking": 3, "name": null}"""))
    val wh = input.toString + "/wh"
    val (counts, nQuarantined) =
      Normalize.run(spark, input.resolve("bad.ndjson").toString, wh)
    assert(nQuarantined == 3L)
    assert(counts == schemas.keySet.map(t =>
      t -> (if (t == "weekday") 7L else 0L)).toMap)
    assertWrittenSchemas(wh)
    graft.etl.Sinks.rmTree(input.toFile)
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

  test("normalize gives identical tables at 1 and 7 shuffle partitions") {
    // biz-zulu repeats a category and an amenity name (with both
    // availabilities), and has an unknown weekday and a Closed day
    val zulu = """{"bizId": "biz-zulu", "ranking": 9, "name": "Zulu", """ +
      """"food_category": ["Pubs", "Bars", "Pubs"], "open_hours": [""" +
      """{"weekday": "Funday", "open_hours": "9:00 AM - 5:00 PM"}, """ +
      """{"weekday": "Monday", "open_hours": "Closed"}, """ +
      """{"weekday": "Sunday", "open_hours": "9:00 AM - 5:00 PM"}], """ +
      """"amenities": [{"amenity": "Wi-Fi", "is_available": true}, """ +
      """{"amenity": "Parking", "is_available": true}, """ +
      """{"amenity": "Wi-Fi", "is_available": false}, """ +
      """{"amenity": null, "is_available": true}]}"""
    val valid = split._1.unionByName(Normalize.validate(
      spark.read.schema(Schemas.scrapedBusiness)
        .json(spark.createDataset(Seq(zulu))(Encoders.STRING)))._1)
    def rowsAt(partitions: Int): Map[String, Seq[Row]] = {
      val key = "spark.sql.shuffle.partitions"
      val old = spark.conf.get(key)
      spark.conf.set(key, partitions.toString)
      try Normalize.normalize(valid).map { case (t, df) =>
        t -> df.collect().toSeq.sortBy(_.getLong(0))
      } finally spark.conf.set(key, old)
    }
    val one = rowsAt(1)
    assert(rowsAt(7) == one)
    // biz-zulu sorts after the six golden bizIds
    def ofZulu(t: String) = one(t).filter(_.getLong(1) == 7L)
    assert(ofZulu("open_hours").map(r => (r.getLong(4), r.getLong(2),
      r.getLong(3))) == Seq((7L, 32400L, 61200L)))
    assert(ofZulu("business_food_category").size == 3)
    // the repeated amenity's ids follow (name, is_available)
    val amenity = one("amenity").map(r => r.getString(1) -> r.getLong(0)).toMap
    assert(ofZulu("business_amenity").map(r => (r.getLong(2), r.getBoolean(3)))
      == Seq((amenity("Parking"), true), (amenity("Wi-Fi"), false),
        (amenity("Wi-Fi"), true)))
  }

  test("a malformed open_hours struct fails normalize with its own AnalysisException") {
    // open_hours is the only child that reads the day struct's fields
    val renamed = split._1.withColumn("open_hours", expr(
      "transform(open_hours, o -> named_struct('day', o.weekday, " +
        "'open_hours', o.open_hours))"))
    val e = intercept[AnalysisException](Normalize.normalize(renamed))
    assert(e.getMessage.contains("weekday"))
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
    // at least the count job of each of the two numberings (hub, dims)
    assert(normalizeJobs.size >= 2, normalizeJobs)
    assert(normalizeJobs.forall(_ == "etl-golden"), normalizeJobs)
  }
}
