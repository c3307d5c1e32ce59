package graft

/** Smoke surface: run [[SparkEntry.entry]] (flagship query on sf0.001) and
  * print its row count — the driver's rows>0 check, runnable locally via
  * `sbt "runMain graft.Smoke"`. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    try {
      val df = SparkEntry.entry(spark)
      val n = df.count()
      df.show(truncate = false)
      println(s"SMOKE_ROWS=$n")
      require(n > 0, "entry() returned no rows")
    } finally spark.stop()
  }
}
