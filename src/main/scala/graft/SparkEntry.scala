package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries._

/** Driver contract — see SURVEY.md §7. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    *
    * The "open now" endpoint analog (SURVEY.md §3.1): one declarative plan —
    * 5-table join, pushed-down filter, two-phase aggregate, topK — where the
    * reference issued four Postgres round-trips plus a pandas loop. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    Tables.load(spark, dir, "lineitem")
      .join(Tables.load(spark, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("o_totalprice") > 1000.0)
      .join(Tables.load(spark, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.load(spark, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.load(spark, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      // decimal-exact revenue (§7.5.2): a double sum is partition-order-
      // dependent and its rounding can flip between runs
      .agg(expr(
        """CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,2)))), 4)
                AS DOUBLE)""").as("revenue"))
      .orderBy(col("revenue").desc, col("r_name"))
  }

  /** One entry per implemented operator from SURVEY.md §2 (the O+Q ids;
    * exact inventory counts are pinned by ContractSpec against SURVEY's
    * totals line). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    SourceQueries.all ++ RelationalQueries.all ++ AggQueries.all ++
      SortSetQueries.all ++ WindowQueries.all ++ ScalarQueries.all ++
      CollectionQueries.all ++ StreamingQueries.all ++ HoursQueries.all ++
      TextQueries.all ++ MediaQueries.all ++ PipelineQueries.all ++
      GraphQueries.all ++ SqlQueries.all ++ TimeSeriesQueries.all

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops (Q-tier). */
  def oracleSql: Map[String, String] = OracleSql.all
}
