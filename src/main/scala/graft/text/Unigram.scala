package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Checkpoints, EngineQuery, Tables}

/** Unigram-LM subword tokenizer learning (Kudo 2018, "Subword
  * Regularization" — the SentencePiece unigram algorithm): seed a piece
  * inventory from frequent substrings, then alternate (E) Viterbi-best
  * segmentation of the word histogram under current piece
  * probabilities with (M) re-estimating piece counts from those
  * segmentations, pruning pieces that stop being used. Completes the
  * engine's tokenizer-family triad: BPE learns merges bottom-up
  * ([[Bpe]]), WordPiece applies a fixed vocab greedily ([[WordPiece]]),
  * unigram-LM learns a vocabulary top-down by likelihood.
  *
  * Deviations from the reference algorithm, chosen so the WHOLE
  * iterative computation is exact-integer and hash-checkable across
  * engines (the [[graft.dedup.FellegiSunter]] rule: quantization is
  * part of the operator definition):
  *  - hard-EM (Viterbi counts) instead of full forward–backward
  *    expectations — the standard deterministic approximation;
  *  - piece log-probabilities are FIXED-POINT base-2 logs,
  *    qlog2(c) = the exact integer the shift-square fold below
  *    computes (≈ floor(256·log2 c), 8 fractional bits): piece score
  *    = qlog2(cnt) − qlog2(total). A float ln() would inherit the
  *    1-ulp engine gap PER PIECE PER POSITION ([[BigramLm]] doc); the
  *    fold is ~30 integer ops on BIGINT lanes (inputs < 2^43), so both
  *    engines compute the IDENTICAL integer;
  *  - frequency pruning (seed multis that drop to zero Viterbi count
  *    leave the vocabulary) instead of loss-based pruning.
  *
  * Scale shape (100 TB): the corpus pays ONE tokenize pass (the word
  * histogram — the [[Bpe]] discipline), pinned with a DECLARED hash
  * partitioning on the word; every EM round is then PARTITION-LOCAL —
  * substring Generate (preserves the w-layout), a broadcast hash join
  * against the |alphabet|+SeedMulti-bounded score relation, the (w, c)
  * map regroup with no exchange, and the Viterbi DP + backwalk as
  * codegen'd folds — followed by a piece groupBy whose map-side
  * combine collapses to ≤ |vocab| rows. Driver state is exactly the
  * bounded model map (the [[Perceptron]] weights /
  * [[graft.curation.Curation]] |langs| discipline); the histogram and
  * every round stay distributed.
  *
  * The DuckDB oracle replays every stage structurally independently:
  * the same qlog2 as a `list_reduce` fold, the Viterbi DP as a linear
  * recursive CTE carrying the best/backpointer lists, the backwalk as
  * a second recursion — unrolled per EM round like the [[Bpe]] learner
  * oracle, so tie-breaks, pruning, and the final model hash-match
  * end-to-end.
  */
object Unigram {

  /** Max piece length (chars). */
  val MaxPiece = 4

  /** Multi-char seed pieces kept (top by occurrence count, ties to the
    * lexicographically smaller piece); single chars are always kept.
    */
  val SeedMulti = 40

  /** Hard-EM rounds. */
  val Rounds = 2

  // ---- exact fixed-point log2 ----------------------------------------
  // qlog2(c) = b·2^8 + frac, b = floor(log2 c) via bit length, frac from
  // 8 shift-square steps on a 20-guard-bit mantissa x ∈ [2^20, 2^21):
  // square, renormalize (shift out one bit → frac bit 1), truncate back
  // to 20 bits. Packing a = x·512 + fracbits keeps the whole fold one
  // BIGINT lane (x² ≤ 2^44). Valid for 1 ≤ c < 2^43.

  private[text] def sparkQlog2(c: String): String =
    s"""(CAST(length(bin($c)) - 1 AS BIGINT) * 256 +
       | aggregate(sequence(1, 8),
       |   ((($c) * CAST(1048576 AS BIGINT)) div shiftleft(CAST(1 AS BIGINT), length(bin($c)) - 1)) * 512,
       |   (a, i) -> CASE WHEN ((a div 512) * (a div 512)) div 1048576 >= 2097152
       |     THEN ((((a div 512) * (a div 512)) div 1048576) div 2) * 512 + (a % 512) * 2 + 1
       |     ELSE (((a div 512) * (a div 512)) div 1048576) * 512 + (a % 512) * 2 END
       | ) % 512)""".stripMargin

  private[text] def duckQlog2(c: String): String =
    s"""(CAST(length(bin($c)) - 1 AS BIGINT) * 256 +
       | list_reduce(
       |   list_prepend(((($c) * 1048576) // (CAST(1 AS BIGINT) << (length(bin($c)) - 1))) * 512,
       |                list_transform(range(8), i -> CAST(0 AS BIGINT))),
       |   (a, x) -> CASE WHEN ((a // 512) * (a // 512)) // 1048576 >= 2097152
       |     THEN ((((a // 512) * (a // 512)) // 1048576) // 2) * 512 + (a % 512) * 2 + 1
       |     ELSE (((a // 512) * (a // 512)) // 1048576) * 512 + (a % 512) * 2 END
       | ) % 512)""".stripMargin

  /** JVM reference of the same fold — `UnigramSpec`'s differential
    * oracle for the SQL expression.
    */
  private[graft] def qlog2Ref(c: Long): Long = {
    require(c >= 1 && c < (1L << 43), s"qlog2 domain: $c")
    val b = 63 - java.lang.Long.numberOfLeadingZeros(c)
    var x = (c * 1048576L) / (1L << b)
    var bits = 0L
    for (_ <- 1 to 8) {
      val y = (x * x) / 1048576L
      if (y >= 2097152L) { bits = bits * 2 + 1; x = y / 2 }
      else { bits = bits * 2; x = y }
    }
    b.toLong * 256 + bits
  }

  // ---- engine pipeline ------------------------------------------------

  /** All substrings of each histogram word, one row per occurrence:
    * (w, c, pos, len, piece), len 1..MaxPiece, pos 1-based.
    */
  private def subPieces(wc: DataFrame): DataFrame =
    wc.select(col("w"), col("c"), explode(expr(
        s"""flatten(transform(sequence(1, length(w)), pos ->
           |  transform(sequence(1, least($MaxPiece, length(w) - pos + 1)),
           |    len -> named_struct('pos', pos, 'len', len))))""".stripMargin)).as("s"))
      .select(col("w"), col("c"),
        col("s.pos").as("pos"), col("s.len").as("len"),
        expr("substring(w, s.pos, s.len)").as("piece"))

  /** piece → score under the current piece → cnt vocabulary:
    * score = qlog2(cnt) − qlog2(Σcnt), exact integers. Driver-side on
    * the vocabulary-bounded model map (≤ |alphabet| + SeedMulti
    * entries); [[qlog2Ref]] is spec-proven identical to the SQL fold,
    * so the scores match what the oracle's scoresN CTE computes
    * bit-for-bit.
    */
  private def scoresOf(vocab: Map[String, Long]): Map[String, Long] = {
    val tot = vocab.values.sum
    val qTot = qlog2Ref(tot)
    vocab.map { case (p, c) => p -> (qlog2Ref(c) - qTot) }
  }

  /** The driver-side model as a broadcastable (piece, score) relation. */
  private def scoresDf(spark: org.apache.spark.sql.SparkSession,
      scores: Map[String, Long]): DataFrame =
    spark.createDataFrame(scores.toSeq).toDF("piece", "score")

  /** Viterbi-segment every histogram word under `scores`:
    * (w, c, pieces). `wc` is the DECLARED-partitioned histogram pin
    * (hash on w), so the whole round is partition-local: the substring
    * Generate preserves the w-partitioning, the score attach is a
    * broadcast hash join, and the (w, c) map regroup needs NO exchange
    * (HashPartitioning(w) satisfies ClusteredDistribution(w, c)) —
    * through r14 this regroup re-shuffled the full 4·|w| substring
    * relation EVERY round, the dominant cost of the 5s
    * unigram_tokenize_stats headline.
    */
  private def segmented(wc: DataFrame, scores: Map[String, Long]): DataFrame = {
    subPieces(wc)
      .join(broadcast(scoresDf(wc.sparkSession, scores)), Seq("piece"))
      .groupBy("w", "c")
      .agg(map_from_entries(collect_list(
        struct((col("pos") * 8 + col("len")).as("k"), col("score").as("v")))).as("m"))
      // r20 optimization round: the DP + backwalk used to be two chained
      // aggregate() HOF folds (now UnigramSpec's differential
      // reference) — interpreted per element with
      // O(|w|²) accumulator-array copies, re-paid per word in EVERY EM
      // round and the final tokenize pass. unigram_segment is the same
      // DP as one codegen'd primitive loop (bit-identical pieces,
      // including tie-breaks and the try_element_at null edges —
      // differential property in UnigramSpec).
      .withColumn("pieces",
        call_function("unigram_segment", col("w"), col("m"), lit(MaxPiece)))
      .select("w", "c", "pieces")
  }

  /** The shared learner: seed → `Rounds` hard-EM rounds. Returns the
    * final piece → cnt model (driver-side, bounded by |alphabet| +
    * SeedMulti entries — the vocabulary-bounded driver-state
    * discipline), the pinned word histogram (for the tokenize pass),
    * and its release handle.
    *
    * Job shape (r15): pin the histogram, pin the piece counts, ONE
    * bounded collect for the seed, then one projection job per EM
    * round whose groupBy output is ≤ |vocab| rows. At 100 TB the
    * histogram and every round stay fully distributed; the driver only
    * ever holds the ≤(|alphabet|+SeedMulti)-entry model.
    */
  private def learn(docs: DataFrame): (Map[String, Long], DataFrame, () => Unit) = {
    val parts = docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val (wc, freeWc) =
      org.apache.spark.sql.graftplan.PartitionedCheckpoint.localEagerDeclared(
        Bpe.wordCounts(docs).repartition(parts, col("w")), Seq("w"), parts)
    val (pc, freePc) = Checkpoints.localEager(
      subPieces(wc).groupBy("piece").agg(sum(col("c")).as("cnt")))
    // Chars are all kept; multis are the top SeedMulti by (cnt desc,
    // piece) as a distributed TakeOrderedAndProject over the pinned
    // piece counts. (The r14 formulation ranked with a window
    // partitioned on the char/multi BOOLEAN — every multi-char piece
    // funneled through ONE sort partition, the straggler shape the
    // scale discipline forbids.) The collect is bounded by
    // |alphabet| + SeedMulti rows.
    val seedRows = pc.where(length(col("piece")) === 1)
      .unionAll(pc.where(length(col("piece")) > 1)
        .orderBy(col("cnt").desc, col("piece")).limit(SeedMulti))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    freePc()
    val chars0 = seedRows.filter(_._1.length == 1)
    val multi0 = seedRows.filter(_._1.length > 1)
    var vocab: Map[String, Long] = seedRows.toMap
    for (_ <- 1 to Rounds) {
      // M-step: Viterbi piece counts; the groupBy collapses map-side to
      // ≤ |vocab| rows per partition, so the collect is model-bounded.
      val counts = segmented(wc, scoresOf(vocab))
        .select(explode(col("pieces")).as("piece"), col("c"))
        .groupBy("piece").agg(sum(col("c")).as("cnt"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // chars are required pieces (floor 1 keeps them scoreable); seed
      // multis that fell out of every Viterbi path are pruned for good
      vocab =
        chars0.map { case (p, _) => p -> math.max(counts.getOrElse(p, 0L), 1L) }.toMap ++
          multi0.flatMap { case (p, _) => counts.get(p).filter(_ > 0L).map(p -> _) }.toMap
    }
    (vocab, wc, freeWc)
  }

  /** The learned model: (piece, n_chars, cnt, qscore) — final expected
    * counts and fixed-point log-prob scores, most frequent first. The
    * model map is vocabulary-bounded, so the output assembles from a
    * local relation, with each qscore from [[scoresOf]] (the JVM twin
    * of the qlog2 fold the oracle replays).
    */
  def unigramLearn(docs: DataFrame): DataFrame = {
    val (vocab, _, release) = learn(docs)
    release()
    val scores = scoresOf(vocab)
    val rows = vocab.toSeq.map { case (p, c) => (p, p.codePointCount(0, p.length).toLong, c, scores(p)) }
    docs.sparkSession.createDataFrame(rows).toDF("piece", "n_chars", "cnt", "qscore")
      .orderBy(col("cnt").desc, col("piece"))
  }

  /** Per-word Viterbi piece counts under the final model, pinned —
    * the (w, n_pieces) relation a tokenize pass broadcasts. */
  private def nPiecesOf(vocab: Map[String, Long], wc: DataFrame): DataFrame =
    segmented(wc, scoresOf(vocab))
      .select(col("w"), size(col("pieces")).cast("long").as("n_pieces"))
      .localCheckpoint(true)

  /** Tokenize the corpus under the final model: (doc_id, n_tokens,
    * n_words) — per-word Viterbi piece counts from the histogram-scale
    * DP projection, BROADCAST onto the corpus word stream (the corpus
    * never shuffles for the attach; only the doc_id rollup exchanges),
    * one partial+final rollup per document.
    */
  def unigramTokenizeStats(docs: DataFrame): DataFrame = {
    val (vocab, wc, release) = learn(docs)
    val nPieces = nPiecesOf(vocab, wc)
    release()
    Bpe.docWords(docs)
      .join(broadcast(nPieces), Seq("w"))
      .groupBy("doc_id")
      .agg(sum(col("n_pieces")).as("n_tokens"), count(lit(1)).as("n_words"))
  }

  /** Per-language unigram fertility (pieces per word — the
    * tokenizer-equity rollup, [[Bpe.bpeFertilityByLang]]'s twin for
    * this family): lang rides the token explode directly (no doc_id
    * attach join — it comes off the same corpus row), the model
    * broadcasts, and the one IEEE division happens after exact integer
    * sums.
    */
  def unigramFertilityByLang(docs: DataFrame): DataFrame = {
    val (vocab, wc, release) = learn(docs)
    val nPieces = nPiecesOf(vocab, wc)
    release()
    graft.Partitioning.fanOut(docs)
      .select(col("lang"),
        explode(TextAnalysis.wsTokens(lower(col("text")))).as("w"))
      .where(col("w") =!= "")
      .join(broadcast(nPieces), Seq("w"))
      .groupBy("lang")
      .agg(sum(col("n_pieces")).as("n_tokens"), count(lit(1)).as("n_words"))
      .withColumn("fertility",
        col("n_tokens").cast("double") / col("n_words").cast("double"))
  }

  /** Persistence round-trip twin of [[unigramTokenizeStats]] — the
    * train-once/apply-many deployment shape: the learned (piece, cnt)
    * vocabulary is written to parquet, read BACK from disk, and the
    * tokenize pass runs strictly from the loaded artifact (the
    * in-process model map is discarded). Gated by the SAME oracle as
    * the in-process twin, so the persistence layer provably loses
    * nothing. The load collect is model-bounded (|alphabet| +
    * SeedMulti rows) — loading a tokenizer vocab to the driver and
    * broadcasting the derived word model IS the production apply plan.
    */
  def tokenizeStatsFromSaved(spark: org.apache.spark.sql.SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val path = graft.models.ModelStore.path("unigram_vocab", sfDir)
    // self-heal for direct callers; the harness surfaces run
    // trainAndSaveVocab as the query's untimed setup half
    if (!graft.models.ModelStore.exists(spark, path)) trainAndSaveVocab(spark, sfDir)
    val loaded = graft.models.ModelStore.load(spark, path)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // apply half: rebuild the word histogram (a NEW corpus batch pays
    // exactly this), segment every distinct word under the LOADED
    // model, broadcast onto the word stream
    val parts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val (wc, freeWc) =
      org.apache.spark.sql.graftplan.PartitionedCheckpoint.localEagerDeclared(
        Bpe.wordCounts(docs).repartition(parts, col("w")), Seq("w"), parts)
    val nPieces = nPiecesOf(loaded, wc)
    freeWc()
    Bpe.docWords(docs)
      .join(broadcast(nPieces), Seq("w"))
      .groupBy("doc_id")
      .agg(sum(col("n_pieces")).as("n_tokens"), count(lit(1)).as("n_words"))
  }

  /** Train-once half of [[tokenizeStatsFromSaved]]: learn the vocabulary
    * and persist the (piece, cnt) artifact. Registered as the query's
    * untimed setup so the bench measures reload+apply alone (the
    * deployment shape: a vocabulary is learned once, then swept over
    * months of corpus batches).
    */
  def trainAndSaveVocab(spark: org.apache.spark.sql.SparkSession, sfDir: String): Unit = {
    val (vocab, _, release) = learn(Tables.documents(spark, sfDir))
    release()
    graft.models.ModelStore.save(
      spark.createDataFrame(vocab.toSeq).toDF("piece", "cnt"),
      graft.models.ModelStore.path("unigram_vocab", sfDir))
  }

  private var sinkCounter = 0

  /** Streaming tokenizer-fertility twin for the unigram family (the
    * `streaming_wordpiece_fertility` shape, with one structural
    * difference worth having both of: WordPiece tokenizes INSIDE the
    * stream's map stage via the trie generator, while the unigram model
    * is learned batch-side first and the stream attaches it as a
    * STREAM–STATIC broadcast equi-join on the word — the deployment
    * shape for any learned tokenizer/scorer swept over a live crawl).
    * Per-language fertility counters are a complete-mode aggregate —
    * bounded state, one row per language; draining the finite gate
    * corpus must reproduce the batch oracle's totals exactly.
    */
  def runStreamingFertility(spark: org.apache.spark.sql.SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val (vocab, wc, release) = learn(docs)
    val nPieces = nPiecesOf(vocab, wc)
    release()
    val src = graft.sources.StreamingSources.docSource(spark, sfDir)
    val agg = src
      .select(col("lang"),
        explode(TextAnalysis.wsTokens(lower(col("text")))).as("w"))
      .where(col("w") =!= "")
      .join(broadcast(nPieces), Seq("w")) // stream–static model attach
      .groupBy("lang")
      .agg(sum(col("n_pieces")).as("n_tokens"), count(lit(1)).as("n_words"))
    val qn = synchronized { sinkCounter += 1; s"graft_unigram_sink_$sinkCounter" }
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(qn)
      .start()
    try q.processAllAvailable()
    finally q.stop()
    // The memory sink has materialized; the pinned model is no longer
    // referenced — release it (the StorageResidueSpec discipline).
    Checkpoints.release(nPieces)
    spark.table(qn)
      .select(col("lang"), col("n_tokens"), col("n_words"),
        (col("n_tokens").cast("double") / col("n_words").cast("double")).as("fertility"))
  }

  // ---- oracles ----------------------------------------------------------

  /** The per-round DP/backwalk CTE block: dp as a linear recursion over
    * positions carrying (best, bp) lists, walk as a second recursion,
    * Viterbi candidates generated with the IDENTICAL p = 1..MaxPiece
    * strict-> chain as `unigram_segment`.
    */
  private def duckRound(r: Int, scoresCte: String): String = {
    // jn = j + 1 is the position this recursion step fills
    def vp(p: Int) =
      s"(best[j - $p + 2] + map_extract(m, (j - $p + 2) * 8 + $p)[1])"
    var vChain = vp(1)
    var pChain = "1"
    for (p <- 2 to MaxPiece) {
      val cond = s"j + 1 >= $p AND ${vp(p)} IS NOT NULL AND ${vp(p)} > ($vChain)"
      vChain = s"CASE WHEN $cond THEN ${vp(p)} ELSE ($vChain) END"
      pChain = s"CASE WHEN $cond THEN $p ELSE ($pChain) END"
    }
    s"""cand$r AS MATERIALIZED (
       |  SELECT s.w, s.c, s.pos, s.len, v.score
       |  FROM subs s JOIN $scoresCte v USING (piece)),
       |entries$r AS MATERIALIZED (
       |  SELECT w, c, map_from_entries(list({'k': pos * 8 + len, 'v': score})) AS m
       |  FROM cand$r GROUP BY w, c),
       |dp$r(w, c, m, j, best, bp) AS (
       |  SELECT w, c, m, 0, [CAST(0 AS BIGINT)], CAST([] AS INT[]) FROM entries$r
       |  UNION ALL
       |  SELECT w, c, m, j + 1, list_append(best, $vChain), list_append(bp, $pChain)
       |  FROM dp$r WHERE j < length(w)),
       |seg$r AS MATERIALIZED (SELECT w, c, bp FROM dp$r WHERE j = length(w)),
       |walk$r(w, c, j, ps) AS (
       |  SELECT w, c, CAST(length(w) AS INT), CAST([] AS VARCHAR[]) FROM seg$r
       |  UNION ALL
       |  SELECT k.w, k.c, k.j - s.bp[k.j],
       |    list_append(k.ps, substr(k.w, k.j - s.bp[k.j] + 1, s.bp[k.j]))
       |  FROM walk$r k JOIN seg$r s ON k.w = s.w WHERE k.j > 0)""".stripMargin
  }

  /** CTE chain: word histogram → substrings → seed vocab → `rounds`
    * EM rounds; ends with `vocab$rounds` and `tot$rounds` in scope.
    */
  private def duckEmCtes(rounds: Int): String = {
    val sb = new StringBuilder
    sb ++=
      s"""wc AS (${Bpe.duckWc}),
         |subs AS MATERIALIZED (
         |  SELECT w, c, CAST(p AS INT) AS pos, CAST(l AS INT) AS len,
         |    substr(w, CAST(p AS INT), CAST(l AS INT)) AS piece
         |  FROM wc,
         |    unnest(generate_series(1, length(w))) g(p),
         |    unnest(generate_series(1, $MaxPiece)) h(l)
         |  WHERE p + l - 1 <= length(w)),
         |seedc AS MATERIALIZED (SELECT piece, CAST(sum(c) AS BIGINT) AS cnt FROM subs GROUP BY 1),
         |chars0 AS MATERIALIZED (SELECT piece, cnt FROM seedc WHERE length(piece) = 1),
         |multi0 AS MATERIALIZED (SELECT piece, cnt FROM seedc WHERE length(piece) > 1
         |           ORDER BY cnt DESC, piece LIMIT $SeedMulti),
         |vocab0 AS MATERIALIZED (SELECT * FROM chars0 UNION ALL SELECT * FROM multi0),
         |tot0 AS MATERIALIZED (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM vocab0),
         |scores0 AS MATERIALIZED (SELECT piece, ${duckQlog2("cnt")} - ${duckQlog2("tot")} AS score
         |            FROM vocab0 CROSS JOIN tot0)""".stripMargin
    for (r <- 1 to rounds) {
      sb ++= ",\n"
      sb ++= duckRound(r, s"scores${r - 1}")
      sb ++=
        s""",
           |pieces$r AS MATERIALIZED (SELECT w, c, unnest(ps) AS piece FROM walk$r WHERE j = 0),
           |counts$r AS MATERIALIZED (SELECT piece, CAST(sum(c) AS BIGINT) AS cnt FROM pieces$r GROUP BY 1),
           |vocab$r AS MATERIALIZED (
           |  SELECT c0.piece, greatest(coalesce(n.cnt, 0), 1) AS cnt
           |  FROM chars0 c0 LEFT JOIN counts$r n USING (piece)
           |  UNION ALL
           |  SELECT m0.piece, n.cnt FROM multi0 m0 JOIN counts$r n USING (piece)
           |  WHERE n.cnt > 0),
           |tot$r AS MATERIALIZED (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM vocab$r),
           |scores$r AS MATERIALIZED (SELECT piece, ${duckQlog2("cnt")} - ${duckQlog2("tot")} AS score
           |             FROM vocab$r CROSS JOIN tot$r)""".stripMargin
    }
    sb.toString
  }

  private def duckLearn(rounds: Int): String =
    s"""WITH RECURSIVE ${duckEmCtes(rounds)}
       |SELECT piece, CAST(length(piece) AS BIGINT) AS n_chars, cnt,
       |  ${duckQlog2("cnt")} - ${duckQlog2("tot")} AS qscore
       |FROM vocab$rounds CROSS JOIN tot$rounds
       |ORDER BY cnt DESC, piece""".stripMargin

  private def duckTokenizeStats(rounds: Int): String = {
    val fin = rounds + 1
    s"""WITH RECURSIVE ${duckEmCtes(rounds)},
       |${duckRound(fin, s"scores$rounds")},
       |npieces AS MATERIALIZED (
       |  SELECT w, CAST(length(ps) AS BIGINT) AS n_pieces FROM walk$fin WHERE j = 0)
       |SELECT d.doc_id, CAST(sum(t.n_pieces) AS BIGINT) AS n_tokens,
       |  CAST(count(*) AS BIGINT) AS n_words
       |FROM (${Bpe.duckWords}) d JOIN npieces t ON d.w = t.w
       |WHERE d.w <> ''
       |GROUP BY d.doc_id ORDER BY doc_id""".stripMargin
  }

  private def duckFertilityByLang(rounds: Int): String = {
    val fin = rounds + 1
    s"""WITH RECURSIVE ${duckEmCtes(rounds)},
       |${duckRound(fin, s"scores$rounds")},
       |npieces AS MATERIALIZED (
       |  SELECT w, CAST(length(ps) AS BIGINT) AS n_pieces FROM walk$fin WHERE j = 0)
       |SELECT d2.lang, CAST(sum(t.n_pieces) AS BIGINT) AS n_tokens,
       |  CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(t.n_pieces) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS fertility
       |FROM (${Bpe.duckWords}) d JOIN npieces t ON d.w = t.w
       |JOIN documents d2 ON d.doc_id = d2.doc_id
       |WHERE d.w <> ''
       |GROUP BY d2.lang ORDER BY d2.lang""".stripMargin
  }

  val engineQueries: Seq[EngineQuery] = Seq(
    EngineQuery(
      "unigram_learn",
      (s, dir) => unigramLearn(Tables.documents(s, dir)),
      Some(duckLearn(Rounds)),
    ),
    EngineQuery(
      "unigram_tokenize_stats",
      (s, dir) => unigramTokenizeStats(Tables.documents(s, dir)).orderBy("doc_id"),
      Some(duckTokenizeStats(Rounds)),
      headline = true,
    ),
    EngineQuery(
      "unigram_fertility_by_lang",
      (s, dir) => unigramFertilityByLang(Tables.documents(s, dir)).orderBy("lang"),
      Some(duckFertilityByLang(Rounds)),
    ),
    // Streaming twin: must equal the batch rollup exactly (same oracle).
    EngineQuery(
      "streaming_unigram_fertility",
      (s, dir) => runStreamingFertility(s, dir).orderBy("lang"),
      Some(duckFertilityByLang(Rounds)),
    ),
    // Persistence round-trip: apply from the RELOADED vocab artifact
    // must equal the in-process apply (same oracle).
    EngineQuery(
      "unigram_tokenize_from_saved",
      (s, dir) => tokenizeStatsFromSaved(s, dir).orderBy("doc_id"),
      Some(duckTokenizeStats(Rounds)),
      headline = true,
      setup = Some((s, dir) => trainAndSaveVocab(s, dir)),
    ),
  )
}
