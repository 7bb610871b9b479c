package graft

import org.apache.spark.sql.SparkSession

/** The one way the engine's mains (and the test suite) build a session,
  * the one way [[SparkEntry]] prepares a session it did not build, and
  * the storage cleanup the mains run between queries.
  */
object GraftSession {

  /** A TIMESTAMP(NANOS) column (one of the harness's physical encodings
    * of `events.ts`) is unreadable by the vectorized parquet reader
    * unless this is true; with it, such columns surface as raw nanos
    * longs, which [[Tables.normalizeTs]] rebuilds.
    */
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** A local session on `cpus` cores: the engine's functions and
    * optimizer rules ([[GraftExtensions]]), one shuffle partition per
    * core, a UTC session zone, and [[NanosAsLong]] so every harness
    * generation of `events.ts` is readable. AQE is Spark's default. Log
    * level WARN: the harness parses the mains' stdout and reads their
    * stderr for failures.
    */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config(NanosAsLong, "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Prepares a session the engine did not build (a caller's, passed
    * to [[SparkEntry]]) as [[local]] would have: sets [[NanosAsLong]]
    * and registers each engine function its registry lacks. A session
    * that already has the functions keeps them as they are.
    */
  def adopt(spark: SparkSession): Unit = {
    spark.conf.set(NanosAsLong, "true")
    GraftFunctions.addMissing(spark)
  }

  /** Drops every cached frame and every persisted RDD (checkpoint blocks
    * included), so a query's pins never crowd the storage pool of the
    * queries after it. Non-blocking unpersist: block removal finishes
    * asynchronously.
    */
  def releaseStorage(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }
}

/** Host readings the harness mains put next to their timings. */
object ProcStatus {

  /** A `/proc/self/status` memory field (`VmRSS`, `VmHWM`) in MB; -1 if
    * unreadable.
    */
  def rssMb(key: String): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith(key + ":"))
        .map(_.replaceAll("[^0-9]", "").toLong / 1024).getOrElse(-1L)
      finally src.close()
    } catch { case _: Throwable => -1L }

  /** The host's 1-minute load average; -1 if unreadable. */
  def loadAvg1: Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split("\\s+")(0).toDouble finally src.close()
    } catch { case _: Throwable => -1.0 }
}
