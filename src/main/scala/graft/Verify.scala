package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [comma-separated query-name filter (dev only;
    // the driver always passes exactly two args → full run)]
    val Array(sfDir, outDir) = args.take(2)
    val nameFilter: String => Boolean =
      if (args.length > 2) args(2).split(",").toSet else (_: String) => true
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    // Harness-schema tripwire (SchemaGuard doc): a silent test-data
    // regeneration with a changed physical type must fail LOUD here, not
    // as quietly-omitted gate rows. Print every drift line but keep
    // running — queries off the drifted column should still give evidence.
    val drift = SchemaGuard.check(spark, sfDir)
    if (drift.nonEmpty) {
      System.err.println(s"[verify] HARNESS SCHEMA DRIFT (${drift.size} field(s)) in $sfDir:")
      drift.foreach(d => System.err.println(s"[verify]   $d"))
    }
    new java.io.File(outDir).mkdirs()
    var written = 0
    SparkEntry.queries.filter(q => nameFilter(q._1)).foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        written += 1
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally {
        // Bench-style storage hygiene (Bench.scala does the same between
        // queries): queries that pin a relation for the caller's action
        // (winnow seed join, phash signatures, …) leave it persisted by
        // convention — across a 322-query run those by-convention pins
        // would otherwise accumulate in the block manager.
        try GraftSession.releaseStorage(spark) catch { case _: Throwable => () }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // the dev filter also scopes the oracle dump and the summary, so a
    // filtered outDir is self-consistent (a checker pointed at it sees
    // only oracles whose parquet dirs exist)
    val oracles = SparkEntry.oracleSql.filter(o => nameFilter(o._1))
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // One-line run summary so a silent partial dump is visible in the
    // correctness log (total vs written mismatch = some query failed).
    val total = SparkEntry.queries.count(q => nameFilter(q._1))
    println(s"""{"metric":"verify_summary","queries":$total,"written":$written,"oracles":${oracles.size}}""")
    spark.stop()
  }
}
