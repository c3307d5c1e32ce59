package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import graft.etl.Sinks
import graft.ops.{CoOrderGraph, SessionCache, TextSim}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftfns.ListenerDrain

/** [[SessionCache]]: hits start no Spark job, and a table rewritten in
  * the session is never answered from the old build. */
class SessionCacheSpec extends SparkSpecBase {
  /** Spark jobs started by `body`. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet(): Unit
    }
    ListenerDrain(sc)
    sc.addSparkListener(l)
    try {
      val r = body
      ListenerDrain(sc)
      (r, n.get)
    } finally sc.removeSparkListener(l)
  }

  /** `body` over an empty scratch SF dir, deleted afterwards. */
  private def withSfDir(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory("graft_session_cache").toString
    try body(dir) finally Sinks.rmTree(new java.io.File(dir))
  }

  test("a second lookup over unchanged files is the same frame, no job") {
    val first = CoOrderGraph.mod8Edges(spark, sf0001)
    val (again, jobs) = jobsOf(CoOrderGraph.mod8Edges(spark, sf0001))
    assert(again eq first, "hit rebuilt the contraction")
    assert(jobs == 0, s"hit ran $jobs Spark jobs")
    val emb = Tables.load(spark, sf0001, "embeddings")
    val bc = TextSim.ivfIndex(emb, 16)
    val (bc2, ivfJobs) = jobsOf(TextSim.ivfIndex(emb, 16))
    assert(bc2 eq bc, "hit rebuilt the IVF centroids")
    assert(ivfJobs == 0, s"IVF hit ran $ivfJobs Spark jobs")
  }

  test("rewriting lineitem rebuilds the contraction and unprotects the old") {
    withSfDir { dir =>
      val li = Tables.load(spark, sf0001, "lineitem")
      val path = s"$dir/lineitem.parquet"
      li.write.parquet(path)
      val before = SessionCache.protectedRddIds(spark)
      val n1 = CoOrderGraph.fullEdges(spark, dir).count()
      val oldIds = SessionCache.protectedRddIds(spark) -- before
      assert(oldIds.nonEmpty, "the contraction's RDD is not protected")
      li.filter(col("l_orderkey") % 2 === 0)
        .write.mode("overwrite").parquet(path)
      val n2 = CoOrderGraph.fullEdges(spark, dir).count()
      val l = Tables.load(spark, dir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      val expected = l.as("a").join(l.as("b"),
          col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .select(col("a.p"), col("b.p")).distinct().count()
      assert(n2 == expected && n2 < n1,
        s"after the rewrite: $n2 edges, expected $expected (before $n1)")
      val still = SessionCache.protectedRddIds(spark).intersect(oldIds)
      assert(still.isEmpty, s"replaced entry's RDDs $still still protected")
    }
  }

  test("rewriting embeddings rebuilds the IVF index") {
    withSfDir { dir =>
      val emb = Tables.load(spark, sf0001, "embeddings")
      val path = s"$dir/embeddings.parquet"
      emb.write.parquet(path)
      val first = TextSim.ivfIndex(Tables.load(spark, dir, "embeddings"), 16)
      assert(first.value.length == 16)
      emb.filter(col("vec_id") < 10).write.mode("overwrite").parquet(path)
      val corpus = Tables.load(spark, dir, "embeddings")
      val rebuilt = TextSim.ivfIndex(corpus, 16)
      assert(rebuilt.value.length == 10, "stale centroids after the rewrite")
      assert(rebuilt.value.map(_.toSeq).toSeq ==
        TextSim.sampleCentroids(corpus, 10).map(_.toSeq).toSeq)
      assert(TextSim.ivfIndex(corpus, 16) eq rebuilt)
    }
  }
}
