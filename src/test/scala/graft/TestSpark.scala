package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite (suites run
  * sequentially — `Test / parallelExecution := false`).
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(2)

  /** The two evaluation paths a custom expression's differential spec
    * runs: forced-interpreted and forced-codegen, each as its confs.
    */
  val DifferentialPaths: Seq[(String, Seq[(String, String)])] = Seq(
    "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
                         "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"),
    "codegen" -> Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"))

  /** Runs `body` with the session confs `kv` set, then restores each
    * conf's previous value (or unsets it).
    */
  def withConf[T](kv: (String, String)*)(body: => T): T = {
    val before = kv.map { case (key, _) => key -> spark.conf.getOption(key) }
    kv.foreach { case (key, v) => spark.conf.set(key, v) }
    try body
    finally before.foreach {
      case (key, Some(v)) => spark.conf.set(key, v)
      case (key, None) => spark.conf.unset(key)
    }
  }
}
