package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loading for the driver harness's TPC-H-ish test data
  * (see /root/repo/TESTDATA.md). The reference engine's only source is a
  * directory-of-text-files scan (reference `src/helper.cpp:21-39`); here
  * the harness serves Parquet, which Spark scans with column pruning +
  * predicate pushdown for free.
  */
object Tables {

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def lineitem(spark: SparkSession, sfDir: String): DataFrame =
    normalizeTs(table(spark, sfDir, "lineitem"), "l_shipdate")
  def orders(spark: SparkSession, sfDir: String): DataFrame =
    normalizeTs(table(spark, sfDir, "orders"), "o_orderdate")
  def customer(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "region")

  /** The harness has served timestamp-bearing columns with different
    * physical types across data regenerations: TIMESTAMP(NANOS) (which
    * Spark's vectorized reader only accepts as a raw long via the
    * legacy conf), plain-micros TIMESTAMP, and TIMESTAMP_NTZ. Branch on
    * the type that actually arrived so a regeneration can never again
    * break whole query families at plan time (the r9 outage). The long
    * and NTZ branches yield session-zone `TimestampType` micros; with
    * the engine's fixed UTC session zone the micros value equals what
    * DuckDB reads, so oracles hold across every encoding. `DateType`
    * passes through (downstream casts handle it) — fine for date
    * columns; `SchemaGuard` disallows it where time-of-day matters
    * (events.ts).
    */
  def normalizeTs(df: DataFrame, c: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{DateType, LongType, TimestampNTZType, TimestampType}
    df.schema(c).dataType match {
      case LongType =>
        // nanos-as-long: rebuild micros (flooring — agrees with DuckDB's
        // epoch on the original nanos at every ms-granularity use)
        df.withColumn(c, timestamp_micros(expr(s"$c div 1000")))
      case TimestampNTZType =>
        // wall-clock micros: reinterpret in the (UTC) session zone
        df.withColumn(c, col(c).cast(TimestampType))
      case TimestampType | DateType => df
      case other =>
        throw new IllegalStateException(
          s"$c arrived as unsupported type $other; " +
            "expected INT64 (nanos), TIMESTAMP, TIMESTAMP_NTZ, or DATE")
    }
  }

  /** [[normalizeTs]] for an events-shaped frame's `ts` — the streaming
    * paths and the scale probe reuse this on their own reads. Unlike
    * the generic normalizer, a DATE-encoded `ts` is REFUSED loudly:
    * time-of-day is load-bearing for every events consumer
    * (sessionization, windows, as-of), and passing a date through
    * would silently zero it while the oracles agree on the degenerate
    * data — green gates over meaningless results.
    */
  def normalizeEventsTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.DateType =>
        throw new IllegalStateException(
          "events.ts arrived as DATE — time-of-day is load-bearing for the " +
            "events family; refusing to silently zero it")
      case _ => normalizeTs(df, "ts")
    }

  def events(spark: SparkSession, sfDir: String): DataFrame =
    normalizeEventsTs(table(spark, sfDir, "events"))
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")
}
