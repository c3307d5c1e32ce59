package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (guide: one SparkSession per suite). */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession(4)

  lazy val sf0001 = "/root/testdata/sf0.001"
  lazy val sf001 = "/root/testdata/sf0.01"
  lazy val sf01 = "/root/testdata/sf0.1"
}
