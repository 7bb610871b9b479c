package graft.kmer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{EngineQuery, Tables}

/** The reference engine's entire query surface: sliding-window k-mer
  * extraction + group-count over a text corpus (reference
  * `src/GPU_Module/GPU.cpp:32-56` Map, `:61-111` Reduce,
  * `src/main.cpp:55-73` thresholded/deduped output).
  *
  * Spark-first design: the window relation ([[kmersGen]]) is a
  * generated column explode (one row per character position, the Map
  * kernel's `Mapped{word, v=1}` records). Counting ([[kmerCounts]]) is
  * the reference's Map → Reduce (reference
  * `src/CPU_Module/CPU.cpp:75-122`) moved into Spark's plan as one
  * [[KmerCount]] node, planned by [[KmerCountStrategy]]:
  *
  *  - `KmerCountExec`, per scan partition: ACGT windows with k <= 32 as
  *    2-bit packed codes, counted in one dense `int[4^k]` at k <= 10 or
  *    in radix-sorted, run-length-encoded `long[]` chunks above; any
  *    other window as its string in a bounded pre-count
  *    ([[KmerPartitionCounter]]). None emits a row per window: the dense
  *    table goes out as one count block per reduce partition, the
  *    chunks as one `(code, word, n)` row per key and flush. A scan with
  *    fewer partitions than task slots runs as window-range slices, one
  *    task per slot, with no shuffle or stage added;
  *  - at k <= 10, an exchange by partition id
  *    (`ShufflePartitionIdPassThrough`): count block b to reduce
  *    partition b, a string window to its hash's; Spark's `SortExec` on
  *    (word, part), which only orders the few block rows ahead of the
  *    strings; then `KmerBlockSumExec`, which sums a partition's blocks
  *    into its codes' counts, in code order, and each run of equal
  *    strings;
  *  - above k = 10, `Exchange hashpartitioning(code, word)`, Spark's
  *    `SortExec` on (code, word), then `KmerSumExec`, which sums equal
  *    neighbours in O(1) memory.
  *
  * Both exchanges repartition by number into
  * `spark.sql.shuffle.partitions`, so AQE keeps every reduce task.
  * `kmer_decode` restores a code's string once per output row, above the
  * count and after any count filter. The reference's `'\0'` file
  * barrier (`src/GPU_Module/GPU.cpp:36-40`) is free here: windows are
  * taken per row, and a row never spans files.
  *
  * Scale notes (100 TB): no row per window exists anywhere on the
  * counting path. A map task holds its input row's bytes plus either
  * `4^k` ints (4 MB at k = 10) or one chunk of at most 4M codes with as
  * much radix scratch (64 MB), plus a string map of at most 65,536 keys.
  * Its output is at most one count block per reduce partition at
  * k <= 10, and one row per distinct key and flush above, so shuffle
  * volume is bounded by the key space or by distinct k-mers per
  * partition (per chunk above k = 10), not corpus size. A slice re-reads
  * its parent partition only while slots would otherwise sit idle: a
  * scan with at least as many partitions as slots, as at scale, runs one
  * task per partition. A dense reduce task holds one `long[B]`, `B =
  * ceil(4^k / partitions)` (8 MB at k = 10 on one partition): a code's
  * total can pass `Int.MaxValue`. The strings and the sorted regime's
  * reduce side use Spark's `SortExec`, which spills. No driver-side
  * state.
  */
object Kmers {
  /** Max window width, kept for semantic parity with the reference's
    * fixed-width record (`MAXK=64`, reference `src/GPU_Module/GPU.h:15`).
    */
  val MaxK = 64

  /** All sliding windows of width k over `textCol`, one row per window
    * (the Map kernel, reference `src/GPU_Module/GPU.cpp:32-45`), via the
    * custom [[KmerGenerator]] — runs inside WholeStageCodegen over a
    * lazy collection (no per-row position or window array). Rows
    * shorter than k yield nothing (`setsize=0` guard, reference
    * `src/main.cpp:133`).
    */
  def kmersGen(df: DataFrame, textCol: String, k: Int): DataFrame = {
    checkK(k)
    graft.Partitioning.fanOut(df.where(length(col(textCol)) >= k))
      .selectExpr(s"kmer_windows($textCol, $k) AS word")
  }

  private def checkK(k: Int): Unit = require(k >= 1 && k <= MaxK, s"k must be in [1, $MaxK], got $k")

  /** k-mer → occurrence count (the full Map+Reduce, reference
    * `src/main.cpp:105-248`). Output: (word STRING NOT NULL, cnt BIGINT
    * NOT NULL).
    *
    * One [[KmerCount]] node counts the windows on (code, word): ACGT
    * windows as packed codes, every other window as its string, each key
    * decided by the window's content alone, so one pass is exact.
    * `kmer_decode` runs in the projection above it — per output row, and
    * after a filter on `cnt` such as [[thresholded]]'s, which Catalyst
    * places below this projection. The counter emits no row per window,
    * and a scan that leaves task slots idle is split into window-range
    * slices rather than repartitioned, so no shuffle precedes the count.
    */
  def kmerCounts(df: DataFrame, textCol: String, k: Int): DataFrame = {
    checkK(k)
    KmerCount.frame(df, textCol, k).select(
      coalesce(col("word"), expr(s"kmer_decode(code, $k)")).as("word"),
      col("n").as("cnt"))
  }

  /** Reference-faithful output relation: counts > 1, deduped, formatted
    * sort (reference `print_mapped_counts`, `src/main.cpp:55-73`).
    */
  def thresholded(df: DataFrame, textCol: String, k: Int, minCount: Long = 1): DataFrame =
    kmerCounts(df, textCol, k).where(col("cnt") > minCount)
  // No `word <> ''` filter: k >= 1, so no window is empty, and Catalyst
  // would push that predicate below the aggregate and decode every
  // window to test it. The reference's output dedup (src/main.cpp:65-70)
  // is already guaranteed by the grouping.

  /** Total window count = sum of all v (dead reference code
    * `compute_unique_total`, `src/main.cpp:47-53`, kept as the cleanest
    * spec of the invariant Σ cnt = Σ_rows max(0, len−k+1)).
    */
  def totalWindows(df: DataFrame, textCol: String, k: Int): DataFrame =
    df.agg(
      sum(greatest(length(col(textCol)) - (k - 1), lit(0)))
        .cast("long").as("total"))

  /** Mirror of the reference verifier's union-of-keys comparison
    * (`scripts/verifier.py:22-36`): full-outer join of two count
    * relations with per-key match classification. This is the
    * reference's only join-shaped computation.
    */
  def verifyJoin(left: DataFrame, right: DataFrame): DataFrame = {
    val l = left.withColumnRenamed("cnt", "cnt_a")
    val r = right.withColumnRenamed("cnt", "cnt_b")
    l.join(r, Seq("word"), "full_outer")
      .select(
        col("word"),
        coalesce(col("cnt_a"), lit(0L)).as("cnt_a"),
        coalesce(col("cnt_b"), lit(0L)).as("cnt_b"),
        when(col("cnt_a").isNull, "missing_left")
          .when(col("cnt_b").isNull, "missing_right")
          .when(col("cnt_a") === col("cnt_b"), "match")
          .otherwise("mismatch").as("status"))
  }

  // ---------------------------------------------------------------------
  // Registry entries: the k-mer pipeline run over the harness's
  // `documents` table (documents.text is the corpus; one row = one file).
  // ---------------------------------------------------------------------

  private val K = 3

  /** DuckDB subquery producing all width-k windows of documents.text.
    * DuckDB 1.0 `generate_series` can't take lateral column args as a
    * table function, but works as a scalar list + unnest.
    */
  private def duckKmers(k: Int, where: String = ""): String =
    s"""SELECT substr(text, CAST(unnest(generate_series(1, length(text) - ${k - 1})) AS INT), $k) AS word
       |FROM documents WHERE length(text) >= $k$where""".stripMargin

  def engineQueries: Seq[EngineQuery] = Seq(
    EngineQuery(
      "kmer_count",
      (s, dir) => kmerCounts(Tables.documents(s, dir), "text", K).orderBy("word"),
      Some(
        s"""SELECT word, count(*) AS cnt FROM (${duckKmers(K)}) GROUP BY word ORDER BY word"""),
      headline = true,
    ),
    EngineQuery(
      "kmer_threshold",
      (s, dir) => thresholded(Tables.documents(s, dir), "text", K).orderBy("word"),
      Some(
        s"""SELECT word, count(*) AS cnt FROM (${duckKmers(K)})
           |WHERE word <> '' GROUP BY word HAVING count(*) > 1 ORDER BY word""".stripMargin),
    ),
    EngineQuery(
      "kmer_total",
      (s, dir) => totalWindows(Tables.documents(s, dir), "text", K),
      Some(
        s"""SELECT CAST(sum(greatest(length(text) - ${K - 1}, 0)) AS BIGINT) AS total FROM documents"""),
    ),
    EngineQuery(
      "kmer_topk",
      (s, dir) =>
        kmerCounts(Tables.documents(s, dir), "text", K)
          .orderBy(col("cnt").desc, col("word")).limit(100),
      Some(
        s"""SELECT word, count(*) AS cnt FROM (${duckKmers(K)})
           |GROUP BY word ORDER BY cnt DESC, word LIMIT 100""".stripMargin),
    ),
    // Exact distinct-key cardinality (one shuffle of distinct words).
    EngineQuery(
      "kmer_distinct",
      (s, dir) =>
        kmersGen(Tables.documents(s, dir), "text", K)
          .agg(countDistinct(col("word")).as("distinct_kmers")),
      Some(s"""SELECT count(DISTINCT word) AS distinct_kmers FROM (${duckKmers(K)})"""),
    ),
    // HLL sketch cardinality — the 100 TB path: O(1) state per
    // partition, no shuffle of the key stream. Self-verifying gate:
    // the relation carries the exact count plus a boolean asserting the
    // sketch landed within tolerance (rsd=0.01 → 2% is ~2σ; HLL++ is
    // near-exact at gate-size cardinalities anyway), so the oracle is
    // fully deterministic: exact count + literal true.
    EngineQuery(
      "kmer_distinct_approx",
      (s, dir) =>
        kmersGen(Tables.documents(s, dir), "text", K)
          .agg(
            countDistinct(col("word")).as("distinct_kmers"),
            approx_count_distinct(col("word"), 0.01).as("__approx"))
          .select(
            col("distinct_kmers"),
            (abs(col("__approx") - col("distinct_kmers")).cast("double")
              / col("distinct_kmers").cast("double") <= 0.02).as("within_tol")),
      Some(
        s"""SELECT count(DISTINCT word) AS distinct_kmers, true AS within_tol FROM (${duckKmers(K)})"""),
    ),
    EngineQuery(
      "kmer_verify_join",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val l = kmerCounts(docs.where(col("doc_id") % 2 === 0), "text", K)
        val r = kmerCounts(docs.where(col("doc_id") % 2 === 1), "text", K)
        verifyJoin(l, r).orderBy("word")
      },
      Some(
        s"""WITH a AS (SELECT word, count(*) AS cnt FROM (${duckKmers(K, " AND doc_id % 2 = 0")}) GROUP BY word),
           |     b AS (SELECT word, count(*) AS cnt FROM (${duckKmers(K, " AND doc_id % 2 = 1")}) GROUP BY word)
           |SELECT coalesce(a.word, b.word) AS word,
           |       coalesce(a.cnt, 0) AS cnt_a,
           |       coalesce(b.cnt, 0) AS cnt_b,
           |       CASE WHEN a.word IS NULL THEN 'missing_left'
           |            WHEN b.word IS NULL THEN 'missing_right'
           |            WHEN a.cnt = b.cnt THEN 'match'
           |            ELSE 'mismatch' END AS status
           |FROM a FULL OUTER JOIN b ON a.word = b.word ORDER BY word""".stripMargin),
    ),
  )
}
