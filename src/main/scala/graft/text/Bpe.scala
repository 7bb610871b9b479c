package graft.text

import scala.collection.mutable.ListBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.{Checkpoints, EngineQuery, Tables}

/** Byte-pair-encoding tokenizer training as a distributed pipeline —
  * the vocabulary-induction step that precedes every LLM pretraining
  * run (Sennrich et al. 2016). The reference engine has nothing like
  * it (`/root/reference/src/main.cpp:55-92` is a fixed-k k-mer
  * counter); this family is part of the training-data surface the
  * engine adds on top.
  *
  * The classic formulation is a single-machine loop over a word
  * histogram. The distributed shape keeps exactly that structure but
  * makes every step corpus-scale-free:
  *
  *  - the corpus is tokenized ONCE into a (word, count) vocabulary —
  *    the only corpus-linear pass (one shuffle on the word);
  *  - every merge iteration runs on the VOCABULARY (distinct words,
  *    weighted by count), not the corpus — the same
  *    occurrences-to-weights trick as `CountMin.sketchWeighted`, so a
  *    100 TB corpus with a 10 M-word vocabulary pays 10 M rows per
  *    iteration, not 10 T;
  *  - per-iteration driver state is ONE row (the argmax pair), like
  *    the Lloyd loop's convergence scalar — the vocabulary itself
  *    never leaves the executors (localCheckpoint per iteration, the
  *    previous iteration's blocks released once the next is
  *    materialized).
  *
  * Merge application is greedy leftmost within each word — the
  * standard BPE pass — expressed as an `aggregate()` fold over the
  * symbol array: append the next symbol, or fuse it into the last
  * element when (last, next) equals the merge pair. The DuckDB oracle
  * replays the SAME fold with `list_reduce` over an unrolled
  * `numMerges`-step SQL, so the whole iterative algorithm —
  * tie-breaks, saturation, greedy semantics — is hash-checked
  * end-to-end, not just the first pair count.
  */
object Bpe {

  /** Merges learned by the gate query — small enough that the unrolled
    * oracle SQL stays readable, large enough to exercise multi-char
    * symbol merges (the sf0.01 corpus reaches 2-char symbols by step
    * 6).
    */
  val DefaultMerges = 8

  /** Lowercased whitespace words of the corpus, one row per occurrence,
    * keyed by document.
    */
  private[text] def docWords(docs: DataFrame): DataFrame =
    graft.Partitioning.fanOut(docs)
      .select(
        col("doc_id"),
        explode(TextAnalysis.wsTokens(lower(col("text")))).as("w"))
      .where(col("w") =!= "")

  /** (word, count) vocabulary — the corpus's only full pass. */
  private[text] def wordCounts(docs: DataFrame): DataFrame =
    docWords(docs).groupBy("w").agg(count(lit(1)).as("c"))

  /** Adjacent-symbol pairs of a symbol-array column as (a, b) structs;
    * callers guard `size >= 2` (a zero-length `slice` would otherwise
    * throw on its negative length). r20: expressed as the codegen'd
    * `arrays_zip` of two shifted `slice`s — the former
    * `transform(sequence(…), i -> struct(element_at…))` interpreted its
    * lambda per position (the [[BigramLm]] ngramZip rationale; rows
    * bit-identical — the BpeSpec reference-learner differentials pin
    * every consumer).
    */
  private def adjacentPairs(syms: Column): Column =
    arrays_zip(
      slice(syms, lit(1), size(syms) - 1).as("a"),
      slice(syms, lit(2), size(syms) - 1).as("b"))

  /** Character-pair frequencies over the corpus (BPE iteration 0's
    * candidate table): (a, b, cnt), most-frequent first with a total
    * (cnt DESC, a, b) tie-break. Pairs are counted per DISTINCT word
    * and weighted by the word's corpus count.
    */
  def bpePairCounts(docs: DataFrame): DataFrame =
    wordCounts(docs)
      .where(length(col("w")) >= 2)
      .select(explode(adjacentPairs(split(col("w"), ""))).as("pr"), col("c"))
      .groupBy(col("pr.a").as("a"), col("pr.b").as("b"))
      .agg(sum(col("c")).as("cnt"))
      .orderBy(col("cnt").desc, col("a"), col("b"))

  /** One greedy-leftmost merge pass over a symbol array: fuse every
    * non-overlapping (a, b) adjacency, scanning left to right (the
    * fold's accumulator ends with the merged symbol, so an `aaa` word
    * under merge (a,a) becomes [aa, a], not [a, aa]).
    *
    * No longer on the hot path (r20: every replay site runs the
    * codegen'd `bpe_merge_all` via [[applyMerges]] instead); kept as
    * BpeSpec's differential reference — the spec proves the codegen
    * passes emit bit-identical symbol arrays to chains of this fold.
    */
  private[text] def applyMerge(syms: Column, a: String, b: String): Column =
    aggregate(
      syms,
      array().cast("array<string>"),
      (acc, x) =>
        when(
          size(acc) > 0 && element_at(acc, -1) === lit(a) && x === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
          .otherwise(concat(acc, array(x))))

  /** Sequential replay of a whole merge table over a symbol-array
    * column — the hot-path form of chained [[applyMerge]] folds: ONE
    * codegen'd expression (`bpe_merge_all`) runs every merge as an
    * in-place primitive pass (r20 optimization round; bit-identical
    * arrays — differential property in BpeSpec). No-op on an empty
    * merge list.
    */
  private def applyMerges(syms: Column, merges: Seq[(String, String)]): Column =
    if (merges.isEmpty) syms
    else call_function("bpe_merge_all", syms,
      typedlit(merges.map(_._1)), typedlit(merges.map(_._2)))

  /** Learn `numMerges` BPE merges: (step, a, b, cnt), step 1-based in
    * learned order. Stops early when the vocabulary has no adjacent
    * pair left (every word fused to one symbol). Driver state per
    * iteration is the single argmax row; the evolving vocabulary is
    * checkpointed executor-side each step and the previous step's
    * blocks are released, exactly the Lloyd-loop discipline.
    */
  def bpeLearnMerges(docs: DataFrame, numMerges: Int = DefaultMerges): DataFrame = {
    val spark = docs.sparkSession
    val (merges, _, free) = learn(docs, numMerges)
    free()
    import spark.implicits._
    merges.toDF("step", "a", "b", "cnt")
  }

  /** Adjacent-symbol triples as (x, a, b) structs; callers guard
    * `size >= 3`. Triple counts bound the adjacency count any pair
    * NEWLY CREATED by merging (a, b) can have — see the batching proof
    * in [[learn]].
    */
  private def adjacentTriples(syms: Column): Column =
    arrays_zip(
      slice(syms, lit(1), size(syms) - 2).as("x"),
      slice(syms, lit(2), size(syms) - 2).as("a"),
      slice(syms, lit(3), size(syms) - 2).as("b"))

  /** Rounds (Spark jobs over the vocabulary) the most recent [[learn]]
    * took — diagnostics for `BpeSpec`'s batching assertion; with
    * batching a round can land several merges, so rounds < merges.
    */
  @volatile var lastLearnRounds: Int = -1

  /** The shared learner loop: (merges, final vocabulary as (syms, c)
    * checkpointed — still PINNED; the release handle is the caller's,
    * the `SemDedup.assignments` discipline). Intermediate iterations'
    * checkpoint blocks are freed as the loop advances.
    *
    * r11: each round can land SEVERAL merges per vocabulary job
    * (fewer driver round-trips and checkpoints for the same merge
    * table) while remaining bit-identical to the one-merge-per-round
    * sequential learner. The batch is the maximal RANK-PREFIX of the
    * (cnt DESC, a, b)-ordered candidate list such that, for each
    * accepted pair p_m after the first:
    *  - p_m shares no symbol with any earlier accepted pair, and its
    *    symbols don't collide with an earlier pair's concatenated new
    *    symbol (disjointness ⇒ earlier merges can neither destroy nor
    *    create p_m adjacencies, so cnt_m is still exact at its turn);
    *  - cnt_m is STRICTLY greater than every earlier accepted pair's
    *    new-pair bound, where bound(p) = max adjacency count over the
    *    triples (x,a,b)/(a,b,y) — any pair created by merging p=(a,b)
    *    occurs only where such a triple occurred, so its count is ≤
    *    that bound and can neither outrank nor tie-beat p_m.
    * Under those two rules the sequential learner provably selects
    * exactly p_1..p_j in order, so the batched merge table (steps,
    * pairs, counts) is identical — `BpeSpec` differentially asserts
    * this against maxBatch=1, and the unrolled DuckDB oracle
    * hash-checks it end-to-end.
    */
  private def learn(
      docs: DataFrame,
      numMerges: Int,
      maxBatch: Int = 16): (Seq[(Long, String, String, Long)], DataFrame, () => Unit) = {
    var (vocab, freePrev) = Checkpoints.localEager(
      wordCounts(docs).select(split(col("w"), "").as("syms"), col("c")))
    val merges = ListBuffer.empty[(Long, String, String, Long)]
    var step = 1
    var rounds = 0
    var done = false
    while (step <= numMerges && !done) {
      val pairs = vocab
        .where(size(col("syms")) >= 2)
        .select(explode(adjacentPairs(col("syms"))).as("pr"), col("c"))
        .groupBy(col("pr.a").as("a"), col("pr.b").as("b"))
        .agg(sum(col("c")).as("cnt"))
      // The two context bounds ride the same job: (x,a,b) triple counts
      // keyed once by the trailing pair (bound for new pairs (x, ab))
      // and once by the leading pair (bound for (ab, y) — including
      // the (ab, ab) self-chain, whose occurrences contain an (a,b,a)
      // triple, and the cross-batch (a1b1, a2b2), which contains
      // (a1,b1,a2)).
      val triples = vocab
        .where(size(col("syms")) >= 3)
        .select(explode(adjacentTriples(col("syms"))).as("tr"), col("c"))
        .groupBy(col("tr.x").as("x"), col("tr.a").as("a"), col("tr.b").as("b"))
        .agg(sum(col("c")).as("tc"))
      val beforeBound = triples.groupBy(col("a"), col("b")).agg(max(col("tc")).as("nb"))
      val afterBound = triples.groupBy(col("x").as("a"), col("a").as("b")).agg(max(col("tc")).as("na"))
      val top = pairs
        .join(beforeBound, Seq("a", "b"), "left_outer")
        .join(afterBound, Seq("a", "b"), "left_outer")
        .select(
          col("a"), col("b"), col("cnt"),
          greatest(coalesce(col("nb"), lit(0L)), coalesce(col("na"), lit(0L))).as("bound"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(maxBatch.max(1))
        .collect()
      rounds += 1
      if (top.isEmpty) done = true
      else {
        val used = scala.collection.mutable.Set.empty[String]
        val batch = ListBuffer.empty[(String, String, Long)]
        var maxNewBound = -1L
        var stop = false
        for (r <- top if !stop) {
          val (a, b, cnt, bound) =
            (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))
          val disjoint = !used(a) && !used(b)
          val safe = batch.isEmpty || cnt > maxNewBound
          if (disjoint && safe && step - 1 + batch.size < numMerges) {
            batch += ((a, b, cnt))
            used += a; used += b; used += (a + b)
            maxNewBound = math.max(maxNewBound, bound)
          } else stop = true // prefix rule: ranks must stay consecutive
        }
        batch.foreach { case (a, b, cnt) =>
          merges += ((step.toLong, a, b, cnt)); step += 1
        }
        val mergedSyms = applyMerges(col("syms"), batch.map(t => (t._1, t._2)).toSeq)
        val (next, freeNext) = Checkpoints.localEager(
          vocab.select(mergedSyms.as("syms"), col("c")))
        freePrev()
        freePrev = freeNext
        vocab = next
      }
    }
    lastLearnRounds = rounds
    (merges.toList, vocab, freePrev)
  }

  /** The one-merge-per-round learner — [[learn]] with batching off;
    * `BpeSpec` uses it as the differential reference.
    */
  private[text] def learnSequential(
      docs: DataFrame, numMerges: Int): Seq[(Long, String, String, Long)] = {
    val (merges, _, free) = learn(docs, numMerges, maxBatch = 1)
    free()
    merges
  }

  /** Tokenize the corpus with the learned merges: (doc_id,
    * n_bpe_tokens, n_words) — the APPLICATION half of the tokenizer
    * (the learner only ever touches the vocabulary; this is the step
    * that pays the corpus). Per-word symbol counts come from the
    * trained vocabulary — a vocabulary-scale projection (the word
    * reconstructs as the concatenation of its symbols, so no second
    * merge replay) — and the corpus word stream equi-joins against it
    * by word: at 100 TB that join hash-partitions on the word (or
    * broadcasts when the trained vocab fits), and the per-doc rollup
    * is one partial+final aggregate on doc_id.
    */
  def bpeTokenizeStats(docs: DataFrame, numMerges: Int = DefaultMerges): DataFrame = {
    val (_, vocab, _) = learn(docs, numMerges)
    val symCount = vocab.select(
      concat_ws("", col("syms")).as("w"),
      size(col("syms")).cast("long").as("n_sym"))
    docWords(docs)
      .join(symCount, Seq("w"))
      .groupBy("doc_id")
      .agg(sum(col("n_sym")).as("n_bpe_tokens"), count(lit(1)).as("n_words"))
  }

  /** Persistence round-trip twin of [[bpeTokenizeStats]] — train, write
    * the ordered (step, a, b, cnt) merge table to parquet, read it BACK
    * from disk, and tokenize strictly from the loaded artifact: each
    * distinct word re-derives its symbols by folding the loaded merges
    * in step order over its character split (exactly the learner's
    * evolution, so the result is bit-identical — the same oracle
    * gates both). The load collect is ≤ numMerges rows; the apply is a
    * distinct-word projection plus the word-keyed stats join.
    */
  def tokenizeStatsFromSaved(
      spark: org.apache.spark.sql.SparkSession, sfDir: String,
      numMerges: Int = DefaultMerges): DataFrame = {
    val docs = graft.Tables.documents(spark, sfDir)
    val path = graft.models.ModelStore.path("bpe_merges", sfDir)
    // self-heal for direct callers; the harness surfaces run
    // trainAndSaveMerges as the query's untimed setup half
    if (!graft.models.ModelStore.exists(spark, path))
      trainAndSaveMerges(spark, sfDir, numMerges)
    val loaded = graft.models.ModelStore.load(spark, path)
      .orderBy("step")
      .collect().map(r => (r.getString(1), r.getString(2)))
    val symCount = wordCounts(docs).select(
      col("w"),
      size(applyMerges(split(col("w"), ""), loaded.toSeq)).cast("long").as("n_sym"))
    docWords(docs)
      .join(symCount, Seq("w"))
      .groupBy("doc_id")
      .agg(sum(col("n_sym")).as("n_bpe_tokens"), count(lit(1)).as("n_words"))
  }

  /** Train-once half of [[tokenizeStatsFromSaved]]: learn the merges and
    * persist the ordered (step, a, b, cnt) artifact. Registered as the
    * query's untimed setup so the bench measures reload+apply alone.
    */
  def trainAndSaveMerges(
      spark: org.apache.spark.sql.SparkSession, sfDir: String,
      numMerges: Int = DefaultMerges): Unit = {
    val (merges, _, free) = learn(graft.Tables.documents(spark, sfDir), numMerges)
    free()
    import spark.implicits._
    graft.models.ModelStore.save(
      merges.toDF("step", "a", "b", "cnt"),
      graft.models.ModelStore.path("bpe_merges", sfDir))
  }

  // ---- oracles ------------------------------------------------------

  /** DuckDB per-occurrence word CTE body: (doc_id, w). */
  private[text] val duckWords =
    """SELECT doc_id, unnest(CASE WHEN length(trim(lower(text))) = 0 THEN CAST([] AS VARCHAR[])
      |              ELSE string_split_regex(trim(lower(text)), '\s+') END) AS w
      |FROM documents""".stripMargin

  /** DuckDB vocabulary CTE body: (w, c) distinct lowercased words. */
  private[text] val duckWc =
    s"""SELECT w, count(*) AS c FROM ($duckWords) WHERE w <> '' GROUP BY w"""

  /** The unrolled learn-merges oracle: `n` chained CTE steps, each
    * recomputing pair counts from the current vocabulary, picking the
    * (cnt DESC, a, b) argmax, and replaying the greedy-leftmost merge
    * with `list_reduce` (the symbol list travels as a chr(31)-joined
    * string — the corpus contains no 0x1F, and the fold splits on it
    * exactly as the Spark side folds the array). A saturated step
    * (no pairs left) yields an empty `t{k}` CTE: the LEFT JOIN leaves
    * the vocabulary untouched and the final UNION contributes no row —
    * matching the engine's early stop.
    */
  private def duckLearnMerges(n: Int): String = {
    val (steps, _) = duckSteps(n)
    val union = (0 until n)
      .map(k => s"SELECT CAST(${k + 1} AS BIGINT) AS step, a, b, cnt FROM t$k")
      .mkString(" UNION ALL ")
    s"""WITH wc AS ($duckWc),
       |v0 AS (SELECT list_reduce(string_split(w, ''), (a, x) -> a || chr(31) || x) AS vs, c FROM wc),
       |$steps
       |SELECT * FROM ($union) ORDER BY step""".stripMargin
  }

  /** The application oracle: run the same unrolled learner, then
    * tokenize — each final-vocabulary row's word reconstructs as its
    * separator-stripped symbol string, its BPE token count is the
    * symbol-list length, and the per-occurrence word stream joins back
    * and rolls up per document.
    */
  private def duckTokenizeStats(n: Int): String = {
    val (steps, _) = duckSteps(n)
    s"""WITH words AS ($duckWords),
       |wc AS (SELECT w, count(*) AS c FROM words WHERE w <> '' GROUP BY w),
       |v0 AS (SELECT list_reduce(string_split(w, ''), (a, x) -> a || chr(31) || x) AS vs, c FROM wc),
       |$steps,
       |toklen AS (SELECT replace(vs, chr(31), '') AS w,
       |  CAST(length(string_split(vs, chr(31))) AS BIGINT) AS n_sym FROM v$n)
       |SELECT d.doc_id, CAST(sum(t.n_sym) AS BIGINT) AS n_bpe_tokens,
       |  CAST(count(*) AS BIGINT) AS n_words
       |FROM words d JOIN toklen t ON d.w = t.w
       |WHERE d.w <> ''
       |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin
  }

  /** The shared unrolled step CTEs `p0,t0,v1 … p{n-1},t{n-1},v{n}`
    * (assumes a `v0` CTE is already in scope); returns (cte text,
    * final vocab CTE name).
    */
  private def duckSteps(n: Int): (String, String) = {
    val sep = "chr(31)"
    def stepCte(k: Int): String =
      s"""p$k AS (
         |  SELECT pr.a AS a, pr.b AS b, CAST(sum(c) AS BIGINT) AS cnt FROM (
         |    SELECT unnest(list_transform(range(1, CAST(length(string_split(vs, $sep)) AS BIGINT)),
         |      i -> {'a': string_split(vs, $sep)[CAST(i AS INT)], 'b': string_split(vs, $sep)[CAST(i AS INT)+1]})) AS pr, c
         |    FROM v$k) GROUP BY pr.a, pr.b),
         |t$k AS (SELECT a, b, cnt FROM p$k ORDER BY cnt DESC, a, b LIMIT 1),
         |v${k + 1} AS (
         |  SELECT CASE WHEN t.a IS NULL THEN v.vs ELSE
         |    list_reduce(string_split(v.vs, $sep), (acc, x) ->
         |      CASE WHEN list_extract(string_split(acc, $sep), -1) = t.a AND x = t.b
         |           THEN acc || x
         |           ELSE acc || $sep || x END) END AS vs, v.c AS c
         |  FROM v$k v LEFT JOIN t$k t ON true)""".stripMargin
    ((0 until n).map(stepCte).mkString(",\n"), s"v$n")
  }

  val engineQueries: Seq[EngineQuery] = Seq(
    EngineQuery(
      "bpe_pair_counts",
      (s, dir) => bpePairCounts(Tables.documents(s, dir)),
      Some(s"""WITH wc AS ($duckWc),
             |ch AS (SELECT string_split(w, '') AS cs, c FROM wc WHERE length(w) >= 2),
             |p AS (SELECT unnest(list_transform(range(1, CAST(length(cs) AS BIGINT)),
             |  i -> {'a': cs[CAST(i AS INT)], 'b': cs[CAST(i AS INT)+1]})) AS pr, c FROM ch)
             |SELECT pr.a AS a, pr.b AS b, CAST(sum(c) AS BIGINT) AS cnt
             |FROM p GROUP BY pr.a, pr.b ORDER BY cnt DESC, a, b""".stripMargin),
    ),
    EngineQuery(
      "bpe_learn_merges",
      (s, dir) => bpeLearnMerges(Tables.documents(s, dir)),
      Some(duckLearnMerges(DefaultMerges)),
      headline = true,
    ),
    EngineQuery(
      "bpe_tokenize_stats",
      (s, dir) => bpeTokenizeStats(Tables.documents(s, dir)).orderBy("doc_id"),
      Some(duckTokenizeStats(DefaultMerges)),
    ),
    EngineQuery(
      "bpe_fertility_by_lang",
      (s, dir) => bpeFertilityByLang(Tables.documents(s, dir)).orderBy("lang"),
      Some(duckFertilityByLang(DefaultMerges)),
    ),
    EngineQuery(
      "bpe_compression_curve",
      (s, dir) => bpeCompressionCurve(Tables.documents(s, dir)).orderBy("step"),
      Some(duckCompressionCurve(DefaultMerges)),
    ),
    // Persistence round-trip: tokenize from the RELOADED merge table
    // must equal the in-process apply (same oracle).
    EngineQuery(
      "bpe_tokenize_from_saved",
      (s, dir) => tokenizeStatsFromSaved(s, dir).orderBy("doc_id"),
      Some(duckTokenizeStats(DefaultMerges)),
      headline = true,
      setup = Some((s, dir) => trainAndSaveMerges(s, dir)),
    ),
  )

  /** BPE compression curve — corpus token count after each merge step
    * (step 0 = characters): the vocab-size calibration evidence a
    * tokenizer decision needs (each merge buys fewer tokens; the curve
    * shows the diminishing return — the `ann_recall_curve` discipline
    * applied to the tokenizer family). The corpus pays the learner's
    * passes plus ONE vocabulary pass: every merge prefix replays as a
    * chained greedy-leftmost fold projection over the (word, count)
    * histogram (the `bpe_tokenize_from_saved` apply shape), all n+1
    * per-step sizes ride one select, and the per-step totals collapse
    * in ONE aggregation row unpivoted by `stack` — nothing iterates at
    * corpus scale, nothing collects beyond the ≤numMerges merge list.
    */
  def bpeCompressionCurve(docs: DataFrame, numMerges: Int = DefaultMerges): DataFrame = {
    val ms = bpeLearnMerges(docs, numMerges).collect()
      .map(r => (r.getString(1), r.getString(2))) // bounded: ≤ numMerges rows
    val wc = wordCounts(docs)
    val folds = (0 to ms.length).map(k => applyMerges(split(col("w"), ""), ms.take(k).toSeq))
    // A saturated learner (early stop before numMerges) yields fewer
    // folds than steps; the oracle's v_k past saturation is the
    // untouched final vocabulary, so pad with the final symbol state —
    // step counts then agree on ANY corpus, not just ones that realize
    // every merge.
    val symSteps = folds ++ Seq.fill(numMerges + 1 - folds.length)(folds.last)
    val sized = wc.select(
      col("c") +: symSteps.zipWithIndex.map { case (s, k) =>
        size(s).cast("long").as(s"s$k") }: _*)
    val totals = sized.agg(
      sum(col("c") * col("s0")).as("t0"),
      symSteps.indices.drop(1).map(k => sum(col("c") * col(s"s$k")).as(s"t$k")): _*)
    val stackArgs = symSteps.indices.map(k => s"CAST($k AS BIGINT), t$k").mkString(", ")
    totals
      .selectExpr(s"stack(${symSteps.length}, $stackArgs) AS (step, total_tokens)", "t0")
      .select(col("step"), col("total_tokens"),
        expr("(1000000 * total_tokens) div greatest(t0, 1)").as("compression_ppm"))
  }

  private def duckCompressionCurve(n: Int): String = {
    val (steps, _) = duckSteps(n)
    val union = (0 to n).map(k =>
      s"""SELECT CAST($k AS BIGINT) AS step,
         |  CAST(sum(c * length(string_split(vs, chr(31)))) AS BIGINT) AS total_tokens
         |FROM v$k""".stripMargin).mkString("\n  UNION ALL ")
    s"""WITH wc AS ($duckWc),
       |v0 AS (SELECT list_reduce(string_split(w, ''), (a, x) -> a || chr(31) || x) AS vs, c FROM wc),
       |$steps,
       |curve AS ($union),
       |base AS (SELECT total_tokens AS tok0 FROM curve WHERE step = 0)
       |SELECT step, total_tokens,
       |  (1000000 * total_tokens) // greatest(tok0, 1) AS compression_ppm
       |FROM curve CROSS JOIN base ORDER BY step""".stripMargin
  }

  /** Per-language tokenizer fertility (BPE tokens per word — the
    * tokenizer-equity metric of Rust et al. 2021, "How Good is Your
    * Tokenizer?"): a vocabulary trained on the mixed corpus splits
    * under-represented languages into more pieces; this rollup is the
    * evidence. Same plan as [[bpeTokenizeStats]] (trained-vocab
    * checkpoint scan + word join) with the rollup keyed on lang via a
    * doc_id-keyed attach; the one IEEE division happens after exact
    * integer sums, so both engines agree bit-for-bit.
    */
  def bpeFertilityByLang(docs: DataFrame, numMerges: Int = DefaultMerges): DataFrame = {
    val (_, vocab, _) = learn(docs, numMerges)
    val symCount = vocab.select(
      concat_ws("", col("syms")).as("w"),
      size(col("syms")).cast("long").as("n_sym"))
    docWords(docs)
      .join(symCount, Seq("w"))
      .join(docs.select("doc_id", "lang"), "doc_id")
      .groupBy("lang")
      .agg(sum(col("n_sym")).as("n_bpe_tokens"), count(lit(1)).as("n_words"))
      .withColumn("fertility",
        col("n_bpe_tokens").cast("double") / col("n_words").cast("double"))
  }

  /** Oracle twin of [[bpeFertilityByLang]]: the unrolled learner, then
    * the tokenize join rolled up per language. */
  private def duckFertilityByLang(n: Int): String = {
    val (steps, _) = duckSteps(n)
    s"""WITH words AS ($duckWords),
       |wc AS (SELECT w, count(*) AS c FROM words WHERE w <> '' GROUP BY w),
       |v0 AS (SELECT list_reduce(string_split(w, ''), (a, x) -> a || chr(31) || x) AS vs, c FROM wc),
       |$steps,
       |toklen AS (SELECT replace(vs, chr(31), '') AS w,
       |  CAST(length(string_split(vs, chr(31))) AS BIGINT) AS n_sym FROM v$n)
       |SELECT d2.lang,
       |  CAST(sum(t.n_sym) AS BIGINT) AS n_bpe_tokens,
       |  CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(t.n_sym) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS fertility
       |FROM words d JOIN toklen t ON d.w = t.w
       |JOIN documents d2 ON d.doc_id = d2.doc_id
       |WHERE d.w <> ''
       |GROUP BY d2.lang ORDER BY d2.lang""".stripMargin
  }
}
