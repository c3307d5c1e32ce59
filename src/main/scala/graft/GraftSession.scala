package graft

import org.apache.spark.sql.SparkSession

/** The one place a [[SparkSession]] is built, for Bench, Verify, Smoke,
  * [[Dev]] and the test base, and the one root every file the program
  * writes lives under. */
object GraftSession {
  /** Checkout root: the working directory, which sbt sets to the
    * project's base directory for forked runs and tests. Artifacts,
    * scratch fixtures, the Derby home and PLANS.md are all derived
    * from it. */
  val root: String = sys.props("user.dir")
  val target = s"$root/target"

  /** `SPARK_GRAFT_CPUS`, else 32. */
  def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(32)

  /** Local session on `cores` threads with as many shuffle partitions,
    * UTC session time, no UI and the SQL functions of
    * [[GraftExtensions]] (functions only: no optimizer rule, so the
    * extension changes no plan). Reuses a live session, as
    * `getOrCreate` does. */
  def apply(cores: Int = defaultCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$target/spark-warehouse")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
