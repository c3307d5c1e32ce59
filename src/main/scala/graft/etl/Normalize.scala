package graft.etl

import java.util.UUID
import java.util.concurrent.{CompletableFuture, ExecutionException,
  Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicReference

import graft.Schemas
import graft.ops.{HoursParser, Relational}
import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._

/** NDJSON → 11-table normalized warehouse: the set-oriented replacement of
  * the reference's sequential per-record loader
  * (`database/parse_and_upload_to_db.py:89-175`, traced in SURVEY.md §3.2).
  *
  * Where the reference pays one Postgres round-trip per record plus an
  * N+1 `get_or_create` per attribute value (`:31-47`), this pipeline is
  * five declarative stages — read → validate/quarantine → hub →
  * per-collection explode/distinct/join-back → write — whose only
  * synchronization points are the distinct/window shuffles. Every
  * `get_or_create` becomes one broadcast hash join against a distinct'd
  * dim; at 100 TB the dims stay broadcastable because they are bounded
  * vocabularies, and the fact-side work is embarrassingly parallel.
  *
  * Surrogate ids are global row numbers over the natural key
  * ([[Relational.globalRowNumber]]: range-partitioned local ranks +
  * per-partition offsets, no single-partition window) — deterministic
  * across runs and cluster layouts (SURVEY.md §7.5.4); the reference's
  * autoincrement ids are insertion-order-dependent and unreproducible.
  * Each numbering runs its range-sample and count jobs before its
  * DataFrame exists; once the hub is numbered, the nine numberings that
  * read it (open_hours, four dims, four bridges) depend on nothing but
  * the hub, so [[normalize]] submits them concurrently instead of paying
  * nine rounds of per-job latency one after another.
  */
object Normalize {

  /** Reference weekday collation (`database/app.py:22` WEEKDAY_ORDER). */
  val weekdays: Seq[String] = Seq("Monday", "Tuesday", "Wednesday",
    "Thursday", "Friday", "Saturday", "Sunday")

  val priceRe = "^\\${1,4}$" // pydantic, web_scraping.py:242
  val healthRe = "^[A-Z]$" //        pydantic, web_scraping.py:243-244

  /** Read the scraper's NDJSON with the pinned nested schema
    * (schema-on-write mirror of pydantic, SURVEY.md §1.4). */
  def readScraped(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Schemas.scrapedBusiness).json(path)

  /** Validation split (the pydantic regexes as a quarantine operator,
    * §2 q_filter_rlike pattern): `_1` = valid, `_2` = quarantined. */
  def validate(raw: DataFrame): (DataFrame, DataFrame) = {
    val ok = (col("price").isNull || col("price").rlike(priceRe)) &&
      (col("health_score").isNull || col("health_score").rlike(healthRe)) &&
      col("bizId").isNotNull && col("name").isNotNull
    (raw.filter(ok), raw.filter(!coalesce(ok, lit(false))))
  }

  /** Build a 1-column name dim with deterministic ids from the non-null
    * names of a bridge's rows (the set form of `get_or_create`,
    * `parse_and_upload_to_db.py:31-47`). */
  private def dim(rows: DataFrame): DataFrame =
    Relational.globalRowNumber(rows.select("name").distinct(),
      Seq(col("name")), rankCol = "id")
      .select("id", "name")

  /** One collection attribute: its dim, its bridge, the bridge's dim-id
    * column, and the exploded (business_id, name, payload...) rows. The
    * rows hold no null name: the dim join would drop one only after the
    * bridge is numbered, leaving a gap in the bridge ids. */
  private final case class Collection(dim: String, bridge: String,
                                      dimIdCol: String, rows: DataFrame) {
    def payload: Seq[String] =
      rows.columns.toSeq.filterNot(Set("business_id", "name"))

    /** Bridge ids, numbered before the dim exists ([[normalize]] says
      * why (business_id, name) order is (business_id, dim id) order). */
    def numbered: DataFrame = Relational.globalRowNumber(rows,
      Seq(col("business_id"), col("name")), rankCol = "id")

    /** The numbered bridge with each name replaced by its dim id. */
    def joined(dimDf: DataFrame, numberedDf: DataFrame): DataFrame =
      numberedDf.join(broadcast(dimDf.select(col("id").as(dimIdCol),
          col("name"))), "name")
        .select(("id" +: "business_id" +: dimIdCol +: payload).map(col): _*)
  }

  /** Runs `body` with a `submit` that starts a build on its own thread of
    * a pool of `threads`, through `SQLExecution.withThreadLocalCaptured`,
    * so the jobs the build starts carry the caller's job group, local
    * properties and active session, plus a job tag of this call. Returns
    * the builds' results by name once every build has ended: no job of
    * this call outlives it and no pool thread is left. The first build to
    * fail has its own exception rethrown; from that moment, and likewise
    * when the caller is interrupted, the other builds' jobs are cancelled
    * by the tag, also those they start later, so a failure does not wait
    * for the longest branch. */
  private[graft] def inBranches(spark: SparkSession, threads: Int)(
      body: ((=> DataFrame) => CompletableFuture[DataFrame]) =>
        Seq[(String, CompletableFuture[DataFrame])]
  ): Seq[(String, DataFrame)] = {
    val pool = Executors.newFixedThreadPool(threads, (r: Runnable) => {
      val t = new Thread(r, "normalize-branch")
      t.setDaemon(true)
      t
    })
    val session = spark.asInstanceOf[classic.SparkSession]
    val sc = spark.sparkContext
    val tag = s"normalize-branches-${UUID.randomUUID()}"
    val failure = new AtomicReference[Throwable]
    def submit(build: => DataFrame) =
      SQLExecution.withThreadLocalCaptured(session, pool) {
        sc.addJobTag(tag)
        try build
        catch { case e: Throwable => failure.compareAndSet(null, e); throw e }
      }
    // polls, so a job a build starts after a cancellation is cancelled too
    def drain(cancel: => Boolean): Unit = {
      pool.shutdown()
      while (!pool.awaitTermination(50, TimeUnit.MILLISECONDS))
        if (cancel) sc.cancelJobsWithTag(tag)
    }
    try {
      val branches = body(submit)
      drain(failure.get != null)
      Option(failure.get).foreach(e => throw e)
      branches.map { case (name, b) => name -> b.join() }
    } finally drain(cancel = true)
  }

  /** A branch's result, or the branch's own exception. */
  private def await(branch: CompletableFuture[DataFrame]): DataFrame =
    try branch.get()
    catch { case e: ExecutionException => throw e.getCause }

  /** Full normalization: valid records → the 11 tables of SURVEY.md §1.3,
    * keyed by reference table name.
    *
    * After the hub, the nine numbered tables (open_hours, four dims, four
    * bridges) are built concurrently, one thread each, because no
    * numbering reads another: a bridge is numbered by (business_id, name)
    * from its own exploded rows, and only then waits for its dim, whose
    * ids it broadcast-joins on lazily.
    * That numbering equals the reference order (business_id, dim id):
    * each dim numbers its distinct names in name order, so dim id order
    * is name order and ties on one key are ties on the other.
    *
    * @param stageDir when set, the deduped + id-assigned hub is written
    *   to this path and read back with the schema it was written with
    *   (no inference job), so the 9 downstream table builds scan the
    *   staged parquet instead of each re-running the dedup window and id
    *   shuffles over the raw input (8 redundant passes at scale — the
    *   standard multi-output staging pattern). [[run]] always stages;
    *   `None` keeps the fully-lazy plan for in-memory/spec use. */
  def normalize(valid: DataFrame,
                stageDir: Option[String] = None): Map[String, DataFrame] = {
    val spark = valid.sparkSession

    // Resume-append inputs can repeat a bizId (the scraper's NDJSON is
    // append-only, web_scraping.py:221-224); keep one record per bizId
    // deterministically — get_or_create's keep-existing semantics — then
    // assign hub ids. `withId` keeps the nested collections for the
    // explode stages below, `business` is the scalar hub projection.
    val deduped = Relational.dedupKeepFirst(valid, Seq(col("bizId")),
      Seq(col("ranking").asc_nulls_first, col("name").asc_nulls_first))
    val withIdLazy = Relational.globalRowNumber(deduped, Seq(col("bizId")),
      rankCol = "id")
    val withId = stageDir match {
      case Some(dir) =>
        withIdLazy.write.mode("overwrite").parquet(dir)
        spark.read.schema(withIdLazy.schema).parquet(dir)
      case None => withIdLazy
    }
    val business = withId
      .select("id", "bizId", "name", "website", "phone_number", "address",
        "price", "health_score")
      // bizId is carried for joins below; the reference hub table
      // (model.py:9-17) does not persist it — dropped at write time.

    val weekday = spark.createDataFrame(
      weekdays.zipWithIndex.map { case (w, i) => (i + 1L, w) })
      .toDF("id", "name")

    // open_hours: explode day rows, parse the hours grammar, explode
    // ranges (the §2.L generator) → one row per contiguous open interval
    // (parse_and_upload_to_db.py:111-118); unparseable strings are
    // dropped like the reference's raise-per-record, but set-wise.
    def openHours: DataFrame = withId.select(col("id").as("business_id"),
        explode(col("open_hours")).as("oh"))
      .select(col("business_id"), col("oh.weekday").as("weekday_name"),
        col("oh.open_hours").as("hours_str"))
      .filter(HoursParser.isParseable(col("hours_str")))
      .withColumn("opens", HoursParser.opens(col("hours_str")))
      .withColumn("closes", HoursParser.closes(col("hours_str")))
      .select(col("business_id"), col("weekday_name"), col("closes"),
        posexplode(col("opens")))
      .withColumn("open_time", col("col"))
      .withColumn("close_time", element_at(col("closes"), col("pos") + 1))
      .join(broadcast(weekday.select(col("id").as("weekday_id"),
        col("name").as("weekday_name"))), "weekday_name")
      .transform(df => Relational.globalRowNumber(df,
        Seq(col("business_id"), col("weekday_id"), col("open_time")),
        rankCol = "id"))
      .select("id", "business_id", "open_time", "close_time", "weekday_id")

    def names(attr: String): DataFrame = withId
      .select(col("id").as("business_id"), explode(col(attr)).as("name"))
      .filter(col("name").isNotNull)
    val collections = Seq(
      Collection("food_category", "business_food_category",
        "food_category_id", names("food_category")),
      Collection("search_term", "business_search_term", "search_term_id",
        names("related_search_terms")),
      Collection("highlight", "business_highlight", "highlight_id",
        names("highlights")),
      // amenities carry a payload on the bridge (model.py:80-85)
      Collection("amenity", "business_amenity", "amenity_id",
        withId.select(col("id").as("business_id"),
            explode(col("amenities")).as("am"))
          .select(col("business_id"), col("am.amenity").as("name"),
            col("am.is_available").as("is_available"))
          .filter(col("name").isNotNull)))

    // One thread per branch. A bridge thread numbers its rows first, then
    // waits for its dim; the broadcast join onto the dim's ids stays lazy
    // and runs when the bridge is written. Dims never wait, so none
    // starves.
    // A bridge whose dim failed rethrows the dim's exception.
    val built = inBranches(spark, 1 + 2 * collections.size) { submit =>
      ("open_hours" -> submit(openHours)) +: collections.flatMap { c =>
        val d = submit(dim(c.rows))
        Seq(c.dim -> d, c.bridge -> submit {
          val numbered = c.numbered
          c.joined(await(d), numbered)
        })
      }
    }
    (("business" -> business.drop("bizId")) +: ("weekday" -> weekday) +:
      built).toMap
  }

  /** End-to-end: NDJSON path → warehouse dir. Returns (row counts per
    * table, quarantined count).
    *
    * Side-channel dirs deliberately do NOT start with `_`: Hadoop's
    * hidden-file filter silently ignores underscore-prefixed paths at
    * listing time, so a `_stage_hub` staging dir reads back as ZERO rows
    * (with only a WARN) — an empty warehouse masquerading as a clean
    * run. None of the names collides with the 11 table names. */
  def run(spark: SparkSession, ndjsonPath: String,
          warehouseDir: String): (Map[String, Long], Long) = {
    val (valid, quarantined) = validate(readScraped(spark, ndjsonPath))
    val tables = normalize(valid, Some(s"$warehouseDir/stage.hub"))
    val counts = tables.map { case (name, df) =>
      Sinks.writeWarehouseTable(df, s"$warehouseDir/$name")
      name -> spark.read.parquet(s"$warehouseDir/$name").count()
    }
    // overwrite, not append: the quarantine report belongs to THIS run —
    // appending would break the pipeline's rerun-converges idempotence
    quarantined.write.mode("overwrite").json(s"$warehouseDir/quarantine")
    (counts,
      spark.read.schema(Schemas.scrapedBusiness)
        .json(s"$warehouseDir/quarantine").count())
  }
}
