package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = Session.local("8")
  val sf: String = "/root/testdata/sf0.001"
}
