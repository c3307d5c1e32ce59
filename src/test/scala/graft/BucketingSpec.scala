package graft

import graft.etl.Sinks
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

/** Bucketed co-located joins: the load-time shuffle investment that
  * repeated fact⋈fact joins amortize (SURVEY.md §4.2 / the 100 TB plan).
  * Asserted at plan level: a join of two tables bucketed on the key must
  * contain no Exchange. */
class BucketingSpec extends SparkSpecBase {

  test("join of co-bucketed tables plans without a shuffle") {
    val li = Tables.load(spark, sf0001, "lineitem")
      .select("l_orderkey", "l_quantity")
    val o = Tables.load(spark, sf0001, "orders")
      .select("o_orderkey", "o_totalprice")
    val dir = java.nio.file.Files.createTempDirectory("bucketed").toString
    Sinks.writeBucketed(li, "li_bucketed", Seq("l_orderkey"), 8,
      s"$dir/li")
    Sinks.writeBucketed(o, "o_bucketed", Seq("o_orderkey"), 8, s"$dir/o")

    val joined = spark.table("li_bucketed")
      .join(spark.table("o_bucketed"),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("x", col("l_quantity") * col("o_totalprice"))
    // disable auto-broadcast so the bucketed sort-merge path is the one
    // under test
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = joined.queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("Exchange"),
        "bucketed join still shuffles:\n" + p)
      assert(joined.count() ==
        Tables.load(spark, sf0001, "lineitem").count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS o_bucketed")
      Sinks.rmTree(new java.io.File(dir))
    }
  }
}
