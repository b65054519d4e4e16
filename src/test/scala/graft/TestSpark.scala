package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (ScalaTest runs suites in
  * one JVM; SparkSession.getOrCreate dedupes). Built by the production
  * factory so the plan-shape suites assert the plans production runs.
  */
object TestSpark {
  val master = "local[4]"
  val shufflePartitions = 4

  lazy val spark: SparkSession = {
    val s = GraftSession.builder(master, shufflePartitions).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
