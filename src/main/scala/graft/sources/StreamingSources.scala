package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The ONE streaming file-source constructor every streaming twin uses.
  *
  * Why it exists: Spark's file stream source needs a DIRECTORY, and the
  * engine's tables arrive in two physical layouts —
  *
  *  - harness SF dirs ship `<table>.parquet` as a single FILE, so the
  *    stream must load the PARENT dir with a `pathGlobFilter` narrowing
  *    it to that file;
  *  - probe dirs (and any Spark-written table) ship `<table>.parquet`
  *    as a part-file DIRECTORY, where that same glob matches no leaf
  *    file and the stream silently processes ZERO rows — the
  *    worst-possible pipeline failure mode: a correct-looking empty
  *    result instead of an error.
  *
  * Round 14 hit exactly that bug (the 30x probe read impossibly fast)
  * and fixed it in [[graft.curation.Drift.runStreamingDriftTv]] alone;
  * this helper lifts that layout branch so no call site can hardcode
  * the fragile glob again. `StreamingSourcesSpec` pins the equality of
  * the two layouts per family.
  *
  * The user-supplied schema is always the RAW on-disk schema (the file
  * source cannot infer), read from the same path the stream loads.
  * TIMESTAMP(NANOS) vintages surface as longs rather than fail the
  * vectorized reader: every session the engine reads through carries
  * the parquet conf that [[graft.GraftSession]] sets.
  */
object StreamingSources {

  /** Layout-branching streaming source for `<sfDir>/<table>.parquet`. */
  def tableSource(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    val path = new java.io.File(s"$sfDir/$table.parquet")
    val rawSchema = spark.read.parquet(path.getPath).schema
    if (path.isDirectory)
      spark.readStream.schema(rawSchema).format("parquet").load(path.getPath)
    else
      spark.readStream.schema(rawSchema).format("parquet")
        .option("pathGlobFilter", s"$table.parquet").load(sfDir)
  }

  /** The documents corpus as a stream. */
  def docSource(spark: SparkSession, sfDir: String): DataFrame =
    tableSource(spark, sfDir, "documents")

  /** The events table as a stream, with the ts-vintage normalization
    * every batch reader applies ([[graft.Tables.normalizeEventsTs]] —
    * it branches on the schema it is handed, so applying it uniformly
    * is safe for consumers that never touch `ts`).
    */
  def eventsSource(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables.normalizeEventsTs(tableSource(spark, sfDir, "events"))

  /** The orders table as a stream (raw schema — [[graft.operators.Cdc]]'s
    * change feed touches only vintage-stable columns, never o_orderdate).
    */
  def ordersSource(spark: SparkSession, sfDir: String): DataFrame =
    tableSource(spark, sfDir, "orders")
}
