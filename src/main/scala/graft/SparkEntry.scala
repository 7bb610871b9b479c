package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The engine's query surface lives in the per-family modules
  * (graft.kmer, graft.operators, graft.text, graft.dedup,
  * graft.similarity, graft.streaming, graft.multimodal); this object is
  * the registry view the driver harness consumes.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. Reference-faithful output relation: thresholded (`v > 1`),
    * deduped k-mer counts (reference `src/main.cpp:55-73`) over the
    * documents corpus.
    */
  def entry(spark: SparkSession): DataFrame = {
    GraftSession.adopt(spark)
    kmer.Kmers
      .thresholded(Tables.documents(spark, "/root/testdata/sf0.001"), "text", 8)
      .orderBy("word")
  }

  /** One entry per implemented operator from SURVEY.md §2. Each entry
    * first adopts its session ([[GraftSession.adopt]]), which may be the
    * caller's own. Queries with an untimed setup half (the
    * `*_from_saved` train+persist) compose it here, so this view is
    * always self-contained: the correctness gate exercises the FULL
    * train→save→load→apply loop while the bench times only the apply
    * half (Bench runs setup separately).
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.all.map(q => q.name -> { (s: SparkSession, dir: String) =>
      GraftSession.adopt(s)
      q.setup.foreach(_(s, dir))
      q.fn(s, dir)
    }).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    Registry.all.flatMap(q => q.oracle.map(o => q.name -> o)).toMap
}
