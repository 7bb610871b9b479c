package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{EngineQuery, Tables}

/** Blocklist / filter-list scanning over the corpus with the
  * [[AhoCorasickGenerator]] — the "drop documents that hit the
  * badword list N times" stage of an LLM pipeline, expressed so the
  * dictionary size never multiplies the scan cost: one automaton pass
  * per document emits every (pattern, position) occurrence, and
  * everything downstream is plain aggregation.
  *
  * The dictionary here deliberately contains overlapping and nested
  * patterns ("table" inside "table table", "scan" as a prefix of
  * "scan slow") so the gate exercises the dictionary-suffix-link
  * reporting path, where a naive per-pattern `instr` loop and the
  * automaton differ most easily.
  *
  * Scale: the generator runs in the map stage (fanOut only splits
  * oversized input partitions); per-doc and per-pattern aggregates are
  * one partial+final exchange each, and the per-pattern relation is
  * dictionary-sized, not corpus-sized.
  */
object Blocklist {

  /** Overlap-heavy dictionary over the harness vocabulary. */
  val Patterns: Seq[String] = Seq(
    "table", "table table", "scan", "scan slow", "slow", "fast",
    "a a", "value table", "batch", "merge batch", "spark", "key agg")

  val FlagThreshold = 10L

  private def spec: String = AhoCorasick.joinSpec(Patterns)

  /** (doc_id, pid, pos) for every occurrence. */
  def matches(docs: DataFrame): DataFrame = {
    graft.Partitioning.fanOut(docs)
      .selectExpr("doc_id", s"ac_matches(text, '$spec') AS (pid, pos)")
  }

  /** Per-doc blocklist pressure: hit count, distinct patterns hit,
    * flagged = hits ≥ [[FlagThreshold]]; zero-hit docs kept.
    */
  def matchStats(docs: DataFrame): DataFrame = {
    val perDoc = matches(docs).groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"), countDistinct(col("pid")).as("n_pats"))
    docs.select("doc_id")
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("n_pats"), lit(0L)).as("n_pats"),
        (coalesce(col("n_hits"), lit(0L)) >= FlagThreshold).as("flagged"))
  }

  /** Per-pattern totals (dictionary-sized relation), zero-hit patterns
    * kept.
    */
  def patternFreq(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val pats = Patterns.zipWithIndex.map { case (p, i) => (i, p) }.toDF("pid", "pat")
    val perPat = matches(docs).groupBy("pid")
      .agg(count(lit(1)).as("n_hits"), countDistinct(col("doc_id")).as("n_docs"))
    pats.join(perPat, Seq("pid"), "left_outer")
      .select(
        col("pid"), col("pat"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
  }

  private var sinkCounter = 0

  /** Streaming twin: the same automaton scan as a Structured Streaming
    * query — documents arrive as a stream, the per-pattern hit totals
    * are maintained as a complete-mode aggregate (bounded state: one
    * row per dictionary pattern), and the generator runs in the
    * stream's map stage exactly as in batch. Draining the finite gate
    * corpus must reproduce the batch per-pattern totals row for row
    * (n_docs needs a distinct aggregate, which streaming aggregation
    * rejects — the twin carries the n_hits lane; the batch query gates
    * both).
    */
  def runStreamingPatternFreq(spark: org.apache.spark.sql.SparkSession, sfDir: String): DataFrame = {
    val src = graft.sources.StreamingSources.docSource(spark, sfDir)
    val agg = src
      .selectExpr("doc_id", s"ac_matches(text, '$spec') AS (pid, pos)")
      .groupBy("pid")
      .agg(count(lit(1)).as("n_hits"))
    val qn = synchronized { sinkCounter += 1; s"graft_blocklist_sink_$sinkCounter" }
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(qn)
      .start()
    try q.processAllAvailable()
    finally q.stop()
    val pats = {
      import spark.implicits._
      Patterns.zipWithIndex.map { case (p, i) => (i, p) }.toDF("pid", "pat")
    }
    pats.join(spark.table(qn), Seq("pid"), "left_outer")
      .select(col("pid"), col("pat"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
  }

  private def duckHitsCte: String = {
    val values = Patterns.zipWithIndex
      .map { case (p, i) => s"($i, '$p')" }.mkString(", ")
    s"""pats AS (SELECT * FROM (VALUES $values) AS t(pid, pat)),
       |hits AS (
       |  SELECT d.doc_id, p.pid
       |  FROM documents d CROSS JOIN pats p,
       |    unnest(generate_series(1, length(d.text) - length(p.pat) + 1)) AS g(q)
       |  WHERE substr(d.text, CAST(q AS INT), length(p.pat)) = p.pat)""".stripMargin
  }

  def engineQueries: Seq[EngineQuery] = Seq(
    EngineQuery(
      "blocklist_match_stats",
      (s, dir) => matchStats(Tables.documents(s, dir)).orderBy("doc_id"),
      Some(s"""WITH $duckHitsCte,
             |perdoc AS (
             |  SELECT doc_id, count(*) AS n_hits, count(DISTINCT pid) AS n_pats
             |  FROM hits GROUP BY 1)
             |SELECT d.doc_id,
             |  coalesce(p.n_hits, 0) AS n_hits,
             |  coalesce(p.n_pats, 0) AS n_pats,
             |  coalesce(p.n_hits, 0) >= $FlagThreshold AS flagged
             |FROM documents d LEFT JOIN perdoc p USING (doc_id)
             |ORDER BY doc_id""".stripMargin),
      headline = true,
    ),
    EngineQuery(
      "blocklist_pattern_freq",
      (s, dir) => patternFreq(Tables.documents(s, dir)).orderBy("pid"),
      Some(s"""WITH $duckHitsCte,
             |perpat AS (
             |  SELECT pid, count(*) AS n_hits, count(DISTINCT doc_id) AS n_docs
             |  FROM hits GROUP BY 1)
             |SELECT p.pid, p.pat,
             |  coalesce(h.n_hits, 0) AS n_hits,
             |  coalesce(h.n_docs, 0) AS n_docs
             |FROM pats p LEFT JOIN perpat h USING (pid)
             |ORDER BY p.pid""".stripMargin),
    ),
    EngineQuery(
      "streaming_blocklist_freq",
      (s, dir) => runStreamingPatternFreq(s, dir).orderBy("pid"),
      Some(s"""WITH $duckHitsCte,
             |perpat AS (SELECT pid, count(*) AS n_hits FROM hits GROUP BY 1)
             |SELECT p.pid, p.pat, coalesce(h.n_hits, 0) AS n_hits
             |FROM pats p LEFT JOIN perpat h USING (pid)
             |ORDER BY p.pid""".stripMargin),
    ),
  )
}
