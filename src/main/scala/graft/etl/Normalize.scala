package graft.etl

import graft.Schemas
import graft.ops.{HoursParser, Relational}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftfns.GlobalIndex

/** NDJSON → 11-table normalized warehouse: the set-oriented replacement of
  * the reference's sequential per-record loader
  * (`database/parse_and_upload_to_db.py:89-175`, traced in SURVEY.md §3.2).
  *
  * Where the reference pays one Postgres round-trip per record plus an
  * N+1 `get_or_create` per attribute value (`:31-47`), this pipeline is
  * five declarative stages — read → validate/quarantine → hub →
  * per-collection explode/join-back → write — whose only synchronization
  * points are the dedup, distinct and range shuffles. Every
  * `get_or_create` becomes one broadcast hash join against a distinct'd
  * dim; at 100 TB the dims stay broadcastable because they are bounded
  * vocabularies, and the fact-side work is embarrassingly parallel.
  *
  * Surrogate ids are deterministic across runs and cluster layouts
  * (SURVEY.md §7.5.4); the reference's autoincrement ids are
  * insertion-order-dependent and unreproducible. Two global numberings
  * ([[Relational.globalRowNumber]]: range-partitioned local ranks +
  * per-partition offsets, no single-partition window) assign them all:
  *  - the hub's, by bizId. Each hub row carries its five child
  *    collections as sorted arrays, and the numbering also attaches the
  *    running sum of each array's size. A child row's id is then its
  *    business's offset plus its position in the array (Dremel's
  *    parent-and-position addressing), so the child rows come from
  *    narrow `posexplode`s, with no shuffle or numbering of their own;
  *  - the dims', over the distinct (kind, name) pairs of all four name
  *    dims at once, with one running count per kind.
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

  /** A name dim, its bridge, the bridge's dim-id column, and the
    * bridge's payload column, read from the child array's elements
    * (amenity's `is_available`). A child array of a dim with a payload
    * holds structs whose `name` field is the name. */
  private final case class NameDim(dim: String, bridge: String,
      idCol: String, payload: Option[String] = None) {
    /** The name of child element `e`, or the names of child array `e`. */
    def name(e: Column): Column = if (payload.isEmpty) e else e("name")
  }

  private val nameDims = Seq(
    NameDim("food_category", "business_food_category", "food_category_id"),
    NameDim("search_term", "business_search_term", "search_term_id"),
    NameDim("highlight", "business_highlight", "highlight_id"),
    // amenities carry a payload on the bridge (model.py:80-85)
    NameDim("amenity", "business_amenity", "amenity_id",
      Some("is_available")))

  /** A record's children, one sorted array per child table, each element
    * one row of that table: the reference's per-attribute loops
    * (parse_and_upload_to_db.py:111-175) as array expressions. Null
    * arrays and null names are dropped, and open_hours drops unknown
    * weekdays, "Closed" (no intervals) and strings the parse rejects
    * (NULL), like the reference's raise-per-record but set-wise.
    * Sorting makes a child's position its rank by the table's natural
    * key: (weekday_id, open_time) for open_hours, the name for a
    * bridge (amenity: then is_available). */
  private def children: Seq[(String, Column)] = {
    def kept(a: Column, p: Column => Column = _.isNotNull): Column =
      filter(coalesce(a, array()), p)
    def weekdayId(day: Column): Column =
      array_position(typedlit(weekdays), day("weekday"))
    Seq(
      "open_hours" -> flatten(kept(transform(
        kept(col("open_hours"), weekdayId(_) > 0),
        day => transform(HoursParser.parse(day("open_hours")), iv => struct(
          weekdayId(day).as("weekday_id"), iv("open_time").as("open_time"),
          iv("close_time").as("close_time")))))),
      "food_category" -> kept(col("food_category")),
      "search_term" -> kept(col("related_search_terms")),
      "highlight" -> kept(col("highlights")),
      "amenity" -> transform(kept(col("amenities"), _("amenity").isNotNull),
        am => struct(am("amenity").as("name"),
          am("is_available").as("is_available"))))
      .map { case (c, a) => c -> sort_array(a) }
  }

  /** Full normalization: valid records → the 11 tables of SURVEY.md §1.3,
    * keyed by reference table name.
    *
    * Bridge ids follow the reference order (business_id, dim id): each
    * dim numbers its names in name order, so a bridge's positions in
    * name order are positions in dim id order.
    *
    * @param stageDir when set, the deduped + id-assigned hub, with its
    *   child arrays and their offsets, is written to this path and read
    *   back with the schema it was written with (no inference job), so
    *   the 10 downstream table builds scan the staged parquet instead of
    *   each re-running the dedup window and id shuffles over the raw
    *   input (the standard multi-output staging pattern). [[run]] always
    *   stages; `None` keeps the fully-lazy plan for in-memory/spec use.
    */
  def normalize(valid: DataFrame,
                stageDir: Option[String] = None): Map[String, DataFrame] = {
    val spark = valid.sparkSession

    // Resume-append inputs can repeat a bizId (the scraper's NDJSON is
    // append-only, web_scraping.py:221-224); keep one record per bizId
    // deterministically — get_or_create's keep-existing semantics — then
    // number the hub, with each child array's running size as the
    // offset of its first row. The children are built before the dedup's
    // shuffle, so once: the numbering's sample and shuffle jobs both
    // read that shuffle's output.
    val kids = children.map(_._1)
    val withChildren = Relational.dedupKeepFirst(
        valid.select(Seq("bizId", "ranking", "name", "website",
            "phone_number", "address", "price", "health_score").map(col) ++
          children.map { case (c, a) => a.as(c) }: _*),
        Seq(col("bizId")),
        Seq(col("ranking").asc_nulls_first, col("name").asc_nulls_first))
      .withColumns(kids.map(c => s"${c}_n" -> size(col(c)).cast("long")).toMap)
    val withIdLazy = Relational.globalRowNumberWithCount(withChildren,
        Seq(col("bizId")), "id", kids.map(c => s"${c}_n" -> s"${c}_off"))._1
      .drop("bizId" +: "ranking" +: kids.map(c => s"${c}_n"): _*)
    val withId = stageDir match {
      case Some(dir) =>
        withIdLazy.write.mode("overwrite").parquet(dir)
        spark.read.schema(withIdLazy.schema).parquet(dir)
      case None => withIdLazy
    }
    val business = withId.select("id", "name", "website", "phone_number",
      "address", "price", "health_score")

    val weekday = spark.createDataFrame(
      weekdays.zipWithIndex.map { case (w, i) => (i + 1L, w) })
      .toDF("id", "name")

    /** Child table `c`'s rows: id, business_id and the array element
      * `el`. No exchange: the id is the business's offset plus the
      * element's position. */
    def child(c: String): DataFrame = withId
      .select(col("id").as("business_id"), col(s"${c}_off"),
        posexplode(col(c)).as(Seq("pos", "el")))
      .select((GlobalIndex.notNull(col(s"${c}_off")) + col("pos") + 1)
        .as("id"), col("business_id"), col("el"))

    val openHours = child("open_hours").select(col("id"),
      col("business_id"), col("el.open_time").as("open_time"),
      col("el.close_time").as("close_time"),
      GlobalIndex.notNull(col("el.weekday_id")).as("weekday_id"))

    // The four dims in one numbering: the distinct (kind, name) pairs in
    // (kind, name) order, each with the count of same-kind names before
    // it, from a one-hot weight per kind.
    val named = nameDims.zipWithIndex.map { case (d, k) =>
        withId.select(lit(k).as("kind"), explode(d.name(col(d.dim))).as("name"))
      }.reduce(_ union _).distinct()
      .withColumns(nameDims.indices.map(k =>
        s"w$k" -> (col("kind") === k).cast("long")).toMap)
    val ranked = Relational.globalRowNumberWithCount(named,
      Seq(col("kind"), col("name")), "rank",
      nameDims.indices.map(k => s"w$k" -> s"before$k"))._1
    val dims = nameDims.zipWithIndex.map { case (d, k) =>
      d -> ranked.filter(col("kind") === k)
        .select((col(s"before$k") + 1).as("id"), col("name"))
    }

    val bridges = dims.map { case (d, dimDf) =>
      d.bridge -> child(d.dim)
        .select(Seq(col("id"), col("business_id"), d.name(col("el"))
          .as("name")) ++ d.payload.map(p => col("el")(p).as(p)): _*)
        .join(broadcast(dimDf.select(col("id").as(d.idCol), col("name"))),
          "name")
        .select((Seq("id", "business_id", d.idCol) ++ d.payload).map(col): _*)
    }
    (Seq("business" -> business, "weekday" -> weekday,
      "open_hours" -> openHours) ++ dims.map { case (d, df) => d.dim -> df } ++
      bridges).toMap
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
