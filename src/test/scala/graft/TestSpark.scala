package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (Spark startup dominates test time).
  * It runs the shipped profile at a fixed 4 cores, so test partitioning is the
  * same on any machine.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder().config(SparkProfile.settings(4)).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}
