package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{EngineQuery, Tables}
import graft.text.RollingHash

/** Winnowing document fingerprints (Schleimer–Wilkerson–Aiken,
  * "Winnowing: Local Algorithms for Document Fingerprinting",
  * SIGMOD'03 — the MOSS algorithm): hash every character k-window,
  * slide a window of w consecutive hashes, keep each window's minimum
  * (ties to the rightmost). The selection is position-robust — ANY
  * shared substring of length ≥ k + w − 1 between two documents is
  * GUARANTEED to contribute at least one identical fingerprint to
  * both, while expected density is only 2/(w+1) of positions. That
  * guarantee is what the content-defined 1-in-2^b sampling of
  * [[SubstringDup]] gives up (it misses a copied span with
  * probability (1−2^−b)^span); winnowing is the deterministic-recall
  * member of the exact-substring family.
  *
  * Exactness/portability: the window hash is the two-lane polynomial
  * rolling hash of [[graft.text.RollingHash]] — pure BIGINT
  * arithmetic the DuckDB oracle replays bit-for-bit (nested fold for
  * the hash; the rightmost-min rule declaratively as lag/lead
  * run-length predicates). No vendor hash function on either side.
  *
  * Scale notes (100 TB): fingerprint extraction AND selection run
  * inside the map stage via the [[graft.text.RollingHashGenerator]]
  * codegen generator — O(n) rolling pass, ring-buffer deque, zero
  * shuffle; only the ~2/(w+1) selected minority reaches the first
  * exchange. The pair join is an equi-join on the fingerprint value
  * with a per-fingerprint document cap (the MinHash-band discipline:
  * a boilerplate fingerprint shared by 10⁶ docs must not expand into
  * 10¹² candidate pairs — capped fingerprints are dropped, which only
  * suppresses boilerplate-only matches).
  */
object Winnow {

  val K = 16 // character window
  val W = 8  // winnow window over hashes; guarantee span = K + W - 1 = 23 chars
  val HotCap = 32 // max docs sharing a fingerprint before it is dropped as boilerplate
  val MinShared = 3 // fingerprints two docs must share to pair

  /** Per-doc fingerprint relation (doc_id, pos, h), selection done in
    * the map stage by the generator.
    */
  def fingerprints(docs: DataFrame): DataFrame = {
    graft.Partitioning.fanOut(docs)
      .selectExpr("doc_id", s"winnow_fingerprints(text, $K, $W) AS (pos, h)")
  }

  /** Per-document fingerprint statistics: window positions, selected
    * fingerprints, distinct fingerprint values, selection density in
    * permille (expected ≈ 2000/(w+1) ≈ 222‰ at w=8).
    */
  def fingerprintStats(docs: DataFrame): DataFrame = {
    val perDoc = fingerprints(docs)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_selected"),
        countDistinct(col("h")).as("n_distinct_fp"))
    docs
      .select(
        col("doc_id"),
        greatest(length(col("text")) - (K - 1), lit(0)).cast("long").as("n_windows"))
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"), col("n_windows"),
        coalesce(col("n_selected"), lit(0L)).as("n_selected"),
        coalesce(col("n_distinct_fp"), lit(0L)).as("n_distinct_fp"),
        expr("(1000 * coalesce(n_selected, 0L)) div greatest(n_windows, 1L)")
          .as("density_permille"))
  }

  /** Pair join over a (doc_id, h) fingerprint relation — the shared
    * core of the batch and incremental paths. Single fingerprint-keyed
    * repartition (the containmentPairs discipline): the (doc, h) dedup,
    * the hot cap, and both join sides are partition-local on one reused
    * exchange.
    */
  private def pairsFromFingerprints(fp0: DataFrame): DataFrame = {
    val fp = fp0
      .repartition(
        fp0.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt, col("h"))
      .distinct()
    val keepable = fp.groupBy("h")
      .agg(count(lit(1)).as("nd"))
      .where(col("nd") <= HotCap)
      .select("h")
    val fpk = fp.join(keepable, "h")
    fpk.as("a")
      .join(fpk.as("b"), col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= MinShared)
  }

  /** Document pairs sharing ≥ `MinShared` distinct fingerprints, hot
    * (boilerplate) fingerprints capped out: (doc_a, doc_b, n_shared).
    */
  def dupPairs(docs: DataFrame): DataFrame =
    pairsFromFingerprints(fingerprints(docs).select("doc_id", "h"))

  /** The persisted fingerprint index a production pipeline maintains
    * between crawl snapshots: distinct (doc_id, h).
    */
  def fingerprintIndex(docs: DataFrame): DataFrame =
    fingerprints(docs).select("doc_id", "h").distinct()

  /** Incremental twin of [[dupPairs]] — the crawl-snapshot ingestion
    * shape: a new batch is fingerprinted FRESH (the O(chars) rolling
    * map stage runs only over the batch) and probes the EXISTING
    * corpus's persisted fingerprint index; the corpus itself is never
    * re-fingerprinted. The hot cap applies over the combined fingerprint
    * population (a boilerplate fingerprint is boilerplate regardless of
    * which snapshot its docs arrived in — and a fingerprint an incoming
    * batch pushes past the cap correctly retracts its existing-only
    * pairs too), so the result is BIT-IDENTICAL to running [[dupPairs]]
    * over the union corpus: incremental ≡ batch, gated by the same
    * oracle. At 100 TB the saving is the extraction pass — the
    * fingerprint join itself stays index ∪ batch sized, hash-partitioned
    * on the fingerprint value.
    */
  def incrementalDupPairs(index: DataFrame, incoming: DataFrame): DataFrame =
    pairsFromFingerprints(
      index.select("doc_id", "h").union(fingerprintIndex(incoming)))

  /** Winnowing's deterministic-recall span: any shared substring of at
    * least this length contributes a shared fingerprint to both docs.
    */
  val GuaranteeLen: Int = K + W - 1

  /** EXACT longest duplicate substring per dup pair (the Lee et al.
    * 2022 "Deduplicating Training Data Makes Language Models Better"
    * exact-substring contract, bounded through winnowing seeds instead
    * of a monolithic suffix array): for every [[dupPairs]] pair, the
    * TRUE longest substring the two documents share, with its exact
    * positions and text.
    *
    * Why this is exact, not approximate: the winnowing guarantee says
    * every shared span of ≥ [[GuaranteeLen]] chars selects at least one
    * identical fingerprint AT ALIGNED POSITIONS in both documents
    * (the window of W k-gram hashes inside the span is identical in
    * both, and its rightmost-min selection is a function of the window
    * contents alone). Each shared (h, pos_a, pos_b) seed is first
    * VERIFIED char-exact (hash collisions die here, costing only a
    * wasted seed) and then extended bidirectionally to its maximal
    * aligned run — a codegen'd idle-out fold per side, the
    * [[graft.text.Unigram]] backwalk pattern. The maximal run
    * containing the longest-common-substring's seed IS the LCS, so
    * max(run) over a pair's seeds = the true LCS whenever
    * LCS ≥ GuaranteeLen; pairs whose best verified run is shorter are
    * dropped (below the guarantee span the seed set is not exhaustive
    * — and below 23 chars a "duplicate" is noise anyway). Exactness is
    * relative to the hot-capped fingerprint population — the same
    * population that DEFINES [[dupPairs]] (a boilerplate-only match
    * suppressed there is suppressed here).
    *
    * Scale shape (100 TB): seeds are the SAME capped fingerprint
    * equi-join as the pair relation (no new join pattern, no
    * all-pairs); the texts attach by two doc-keyed joins onto the
    * seed relation, whose cardinality is the capped join output
    * semi-joined to qualified pairs; extension is per-row map work
    * bounded by the matched span. The one new wide op is the per-pair
    * argmax, an aggregation at pair cardinality.
    */
  /** Block width of the two-level extension scan. */
  private val ExtBlock = 16

  /** ta/tb char position of 1-based extension offset `o`, leftward from
    * the window start (dir < 0) or rightward from the window end.
    */
  private def extPos(side: Char, dir: Int, o: String): String =
    if (dir > 0) s"pos_$side + ${K - 1} + ($o)" else s"pos_$side - ($o)"

  /** Two-level idle-out extension: the block fold compares
    * [[ExtBlock]]-char chunks (packed acc = 2·matchedBlocks + stopbit),
    * emitted as its own column so it evaluates ONCE; [[extRefine]]
    * then scans ≤ ExtBlock chars inside the first mismatching block.
    * 16× fewer fold steps than char-at-a-time — the substring equality
    * short-circuits on the first differing byte anyway.
    *
    * No longer on the hot path (r20: [[longestDupSubstrings]] runs the
    * codegen'd `common_run_len` instead); kept with [[extRefine]] as
    * WinnowSpec's differential reference.
    */
  private[dedup] def extBlocks(dir: Int, bound: String): String = {
    val bw = ExtBlock
    val len = s"least($bw, $bound - (j - 1) * $bw)"
    def block(side: Char) =
      if (dir > 0) s"substring(t$side, ${extPos(side, dir, s"(j - 1) * $bw + 1")}, $len)"
      else s"substring(t$side, ${extPos(side, dir, s"(j - 1) * $bw + $len")}, $len)"
    s"""IF($bound < 1, CAST(1 AS BIGINT),
       |  aggregate(sequence(1, ($bound + ${bw - 1}) div $bw), CAST(0 AS BIGINT),
       |    (acc, j) -> CASE WHEN acc % 2 = 1 THEN acc
       |      WHEN ${block('a')} <> ${block('b')} THEN acc + 1
       |      ELSE CAST(j AS BIGINT) * 2 END))""".stripMargin
  }

  /** Final extension length from the block-fold column `blkCol`: every
    * block matched (even acc) → the full bound; else matched blocks
    * plus a ≤ ExtBlock char-at-a-time refine inside the stopped block.
    * Spec-reference twin of [[extBlocks]] (see its r20 note).
    */
  private[dedup] def extRefine(dir: Int, bound: String, blkCol: String): String = {
    val bw = ExtBlock
    val base = s"(($blkCol div 2) * $bw)"
    s"""CASE WHEN $bound < 1 THEN CAST(0 AS BIGINT)
       |  WHEN $blkCol % 2 = 0 THEN CAST($bound AS BIGINT)
       |  ELSE $base + aggregate(
       |    sequence(1, least($bw, $bound - $base)), CAST(0 AS BIGINT),
       |    (acc, i) -> CASE WHEN acc % 2 = 1 THEN acc
       |      WHEN substring(ta, ${extPos('a', dir, s"$base + i")}, 1)
       |        <> substring(tb, ${extPos('b', dir, s"$base + i")}, 1) THEN acc + 1
       |      ELSE CAST(i AS BIGINT) * 2 END) div 2
       |END""".stripMargin
  }

  def longestDupSubstrings(docs: DataFrame): DataFrame = {
    val parts = docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    // ONE rolling-hash extraction pass, pinned with its declared h
    // partitioning, so the dedup, hot cap, and the single pos-level
    // self-join below are ALL partition-local — then released once the
    // (small) seed join is materialized: only pair-scale state stays
    // pinned for the caller's action.
    val (fpPos, freeFp) =
      org.apache.spark.sql.graftplan.PartitionedCheckpoint.localEagerDeclared(
        fingerprints(docs).repartition(parts, col("h")), Seq("h"), parts)
    val fp = fpPos.select("doc_id", "h").distinct()
    val keepable = fp.groupBy("h")
      .agg(count(lit(1)).as("nd")).where(col("nd") <= HotCap).select("h")
    val fpkPos = fpPos.join(keepable, "h")
    // ONE self-join serves both the pair qualification (distinct shared
    // h per pair — exactly dupPairs' n_shared) and the seed set. The
    // pin is pair-scale and stays for the CALLER's action (qual and
    // seeds both re-scan it) — a by-convention pin the harness frees:
    // Bench and Verify unpersist all persistent RDDs after each query.
    val sj = fpkPos.as("a")
      .join(fpkPos.as("b"), col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"), col("a.h").as("h"),
        col("a.pos").cast("int").as("pos_a"), col("b.pos").cast("int").as("pos_b"))
      .localCheckpoint(true)
    freeFp()
    val qual = sj.groupBy("doc_a", "doc_b")
      .agg(countDistinct(col("h")).as("n_shared"))
      .where(col("n_shared") >= MinShared)
      .select("doc_a", "doc_b")
    val seeds = sj.select("doc_a", "doc_b", "pos_a", "pos_b")
      .join(qual, Seq("doc_a", "doc_b"), "left_semi")
    seeds
      .join(docs.select(col("doc_id").as("doc_a"),
        col("text").as("ta"), length(col("text")).as("la")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"),
        col("text").as("tb"), length(col("text")).as("lb")), "doc_b")
      .where(expr(s"substring(ta, pos_a, $K) = substring(tb, pos_b, $K)"))
      .withColumn("lmax", least(col("pos_a"), col("pos_b")) - 1)
      .withColumn("rmax",
        least(col("la") - col("pos_a"), col("lb") - col("pos_b")) - (K - 1))
      // r20 optimization round: the extension used to be the two-level
      // interpreted fold pair ([[extBlocks]] + [[extRefine]], kept below
      // as the differential spec's reference) — every fold step re-ran
      // substring(), which walks from char 0 to find its byte offset.
      // common_run_len walks each string to its anchor ONCE and steps
      // code point by code point inside WholeStageCodegen; identical
      // run lengths (differential property in WinnowSpec).
      .withColumn("lext", call_function("common_run_len",
        col("ta"), col("pos_a"), col("tb"), col("pos_b"), col("lmax"), lit(-1)))
      .withColumn("rext", call_function("common_run_len",
        col("ta"), col("pos_a") + lit(K - 1), col("tb"), col("pos_b") + lit(K - 1),
        col("rmax"), lit(1)))
      .select(
        col("doc_a"), col("doc_b"),
        (col("lext") + K + col("rext")).as("mlen"),
        (col("pos_a") - col("lext")).cast("long").as("sa"),
        (col("pos_b") - col("lext")).cast("long").as("sb"),
        col("ta"))
      .groupBy("doc_a", "doc_b")
      // total order: longest run, then smallest start_a, then start_b;
      // ties carry identical substrings by construction
      .agg(max(struct(col("mlen"), (-col("sa")).as("nsa"), (-col("sb")).as("nsb"),
        expr("substring(ta, CAST(sa AS INT), CAST(mlen AS INT))").as("dup_text"))).as("st"))
      .select(
        col("doc_a"), col("doc_b"),
        col("st.mlen").as("match_len"),
        (-col("st.nsa")).as("start_a"),
        (-col("st.nsb")).as("start_b"),
        col("st.dup_text"))
      .where(col("match_len") >= GuaranteeLen)
  }

  /** Shared oracle prefix: all window hashes, per-doc counts, and the
    * winnow selection — the declarative replay of the generator.
    */
  private def duckSelCtes: String = {
    val h = RollingHash.duckWindowHash("text", "p", K)
    val selected = RollingHash.duckWinnowSelected(W, "n")
    s"""pos AS (
       |  SELECT doc_id, p, $h AS h
       |  FROM documents, unnest(generate_series(1, length(text) - ${K - 1})) AS g(p)
       |  WHERE length(text) >= $K),
       |wcnt AS (SELECT doc_id, p, h, count(*) OVER (PARTITION BY doc_id) AS n FROM pos),
       |sel AS (
       |  SELECT doc_id, p, h FROM (
       |    SELECT doc_id, p, h, $selected AS keep
       |    FROM wcnt WINDOW wn AS (PARTITION BY doc_id ORDER BY p))
       |  WHERE keep)""".stripMargin
  }

  def engineQueries: Seq[EngineQuery] = Seq(
    EngineQuery(
      "winnow_fingerprint_stats",
      (s, dir) => fingerprintStats(Tables.documents(s, dir)).orderBy("doc_id"),
      Some(s"""WITH $duckSelCtes,
             |perdoc AS (
             |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_selected,
             |    CAST(count(DISTINCT h) AS BIGINT) AS n_distinct_fp
             |  FROM sel GROUP BY doc_id)
             |SELECT d.doc_id,
             |  CAST(greatest(length(d.text) - ${K - 1}, 0) AS BIGINT) AS n_windows,
             |  coalesce(p.n_selected, 0) AS n_selected,
             |  coalesce(p.n_distinct_fp, 0) AS n_distinct_fp,
             |  (1000 * coalesce(p.n_selected, 0))
             |    // greatest(CAST(greatest(length(d.text) - ${K - 1}, 0) AS BIGINT), 1)
             |    AS density_permille
             |FROM documents d LEFT JOIN perdoc p USING (doc_id)
             |ORDER BY doc_id""".stripMargin),
      headline = true,
    ),
    EngineQuery(
      "winnow_dup_pairs",
      (s, dir) => dupPairs(Tables.documents(s, dir)).orderBy("doc_a", "doc_b"),
      Some(s"""WITH $duckSelCtes,
             |fp AS (SELECT DISTINCT doc_id, h FROM sel),
             |ok AS (SELECT h FROM fp GROUP BY h HAVING count(*) <= $HotCap),
             |fpk AS (SELECT fp.doc_id, fp.h FROM fp JOIN ok USING (h))
             |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |  CAST(count(*) AS BIGINT) AS n_shared
             |FROM fpk a JOIN fpk b ON a.h = b.h AND a.doc_id < b.doc_id
             |GROUP BY 1, 2 HAVING count(*) >= $MinShared
             |ORDER BY doc_a, doc_b""".stripMargin),
    ),
    // The incremental path must reproduce the batch relation exactly:
    // even-id docs play the existing corpus (their fingerprint index is
    // "precomputed" — materialized before the incremental call), odd-id
    // docs the new crawl snapshot; the oracle is the BATCH oracle.
    EngineQuery(
      "winnow_incremental_pairs",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        // materialize the index first — the production shape is a
        // PERSISTED index, so only the batch side runs the rolling
        // fingerprint Generate (pinned in PlanAuditSpec)
        val index = fingerprintIndex(docs.where(col("doc_id") % 2 === 0))
          .localCheckpoint(true)
        incrementalDupPairs(index, docs.where(col("doc_id") % 2 =!= 0))
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH $duckSelCtes,
             |fp AS (SELECT DISTINCT doc_id, h FROM sel),
             |ok AS (SELECT h FROM fp GROUP BY h HAVING count(*) <= $HotCap),
             |fpk AS (SELECT fp.doc_id, fp.h FROM fp JOIN ok USING (h))
             |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |  CAST(count(*) AS BIGINT) AS n_shared
             |FROM fpk a JOIN fpk b ON a.h = b.h AND a.doc_id < b.doc_id
             |GROUP BY 1, 2 HAVING count(*) >= $MinShared
             |ORDER BY doc_a, doc_b""".stripMargin),
      headline = true,
    ),
    // Exact longest-duplicate-substring per dup pair: the oracle
    // replays the winnow selection, the capped seed join, the
    // char-exact window verification, and both idle-out extension
    // folds structurally independently, then takes the same
    // (len DESC, start_a, start_b) argmax.
    EngineQuery(
      "longest_dup_substring",
      (s, dir) => longestDupSubstrings(Tables.documents(s, dir)).orderBy("doc_a", "doc_b"),
      Some {
        // Extension = (first mismatch index) - 1 over the exploded
        // offset range — min() is order-independent, so this replay is
        // deterministic where a row-correlated list_reduce lambda was
        // NOT (observed: varying row counts across reruns on DuckDB;
        // the engine side keeps its codegen idle-out fold, which the
        // WinnowSpec differential pins against the O(nm) definition).
        s"""WITH $duckSelCtes,
           |fp AS (SELECT DISTINCT doc_id, h FROM sel),
           |ok AS (SELECT h FROM fp GROUP BY h HAVING count(*) <= $HotCap),
           |fpk AS (SELECT fp.doc_id, fp.h FROM fp JOIN ok USING (h)),
           |qual AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM fpk a JOIN fpk b ON a.h = b.h AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2 HAVING count(*) >= $MinShared),
           |selk AS (SELECT s.doc_id, s.p, s.h FROM sel s JOIN ok USING (h)),
           |seeds AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |    CAST(a.p AS INT) AS pos_a, CAST(b.p AS INT) AS pos_b
           |  FROM selk a JOIN selk b ON a.h = b.h AND a.doc_id < b.doc_id
           |  JOIN qual q ON q.doc_a = a.doc_id AND q.doc_b = b.doc_id),
           |ext AS (
           |  SELECT s.doc_a, s.doc_b, s.pos_a, s.pos_b,
           |    da.text AS ta, db.text AS tb,
           |    least(s.pos_a, s.pos_b) - 1 AS lmax,
           |    least(length(da.text) - s.pos_a, length(db.text) - s.pos_b)
           |      - ${K - 1} AS rmax
           |  FROM seeds s
           |  JOIN documents da ON da.doc_id = s.doc_a
           |  JOIN documents db ON db.doc_id = s.doc_b
           |  WHERE substr(da.text, s.pos_a, $K) = substr(db.text, s.pos_b, $K)),
           |runs AS (
           |  SELECT e.doc_a, e.doc_b, e.ta, e.pos_a, e.pos_b,
           |    coalesce(min(CASE WHEN g.i <= e.lmax
           |        AND substr(e.ta, CAST(e.pos_a - g.i AS INT), 1)
           |         <> substr(e.tb, CAST(e.pos_b - g.i AS INT), 1)
           |      THEN g.i END), greatest(e.lmax, 0) + 1) - 1 AS lext,
           |    coalesce(min(CASE WHEN g.i <= e.rmax
           |        AND substr(e.ta, CAST(e.pos_a + ${K - 1} + g.i AS INT), 1)
           |         <> substr(e.tb, CAST(e.pos_b + ${K - 1} + g.i AS INT), 1)
           |      THEN g.i END), greatest(e.rmax, 0) + 1) - 1 AS rext
           |  FROM ext e LEFT JOIN LATERAL (
           |    SELECT unnest(generate_series(1, greatest(greatest(e.lmax, e.rmax), 0))) AS i
           |  ) g ON true
           |  GROUP BY e.doc_a, e.doc_b, e.ta, e.pos_a, e.pos_b, e.lmax, e.rmax),
           |best AS (
           |  SELECT doc_a, doc_b,
           |    lext + $K + rext AS match_len,
           |    CAST(pos_a - lext AS BIGINT) AS start_a,
           |    CAST(pos_b - lext AS BIGINT) AS start_b,
           |    substr(ta, CAST(pos_a - lext AS INT), CAST(lext + $K + rext AS INT)) AS dup_text,
           |    row_number() OVER (PARTITION BY doc_a, doc_b
           |      ORDER BY lext + $K + rext DESC, pos_a - lext, pos_b - lext) AS rn
           |  FROM runs)
           |SELECT doc_a, doc_b, CAST(match_len AS BIGINT) AS match_len,
           |  start_a, start_b, dup_text
           |FROM best WHERE rn = 1 AND match_len >= $GuaranteeLen
           |ORDER BY doc_a, doc_b""".stripMargin
      },
      headline = true,
    ),
  )
}
