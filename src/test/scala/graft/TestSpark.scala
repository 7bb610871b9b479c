package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite (suites run
  * sequentially — `Test / parallelExecution := false`).
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(2)
}
