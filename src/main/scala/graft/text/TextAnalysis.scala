package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{EngineQuery, Tables}

/** Text-analysis operators for a training-data pipeline: token counting,
  * quality scoring, language-ID heuristic, and document fingerprinting.
  * Not present in the reference (its corpus is DNA, SURVEY.md §1.1) but a
  * first-class extension per the north star.
  *
  * Portability: ratios are plain IEEE divisions of exact integer counts
  * (bit-identical across engines, no rounding needed); fingerprints are
  * md5 hex (identical lowercase hex in Spark and DuckDB); token counts
  * use regex classes with identical semantics in Java regex and RE2.
  *
  * Scale notes: everything here is a narrow per-row projection followed
  * by at most one aggregation — no joins, no multi-pass; codegen'd
  * built-in functions only (no UDFs), so the hot path stays inside
  * WholeStageCodegen.
  */
object TextAnalysis {

  /** BPE-ish word/number/symbol tokenizer pattern — same meaning in Java
    * regex (Spark) and RE2 (DuckDB).
    */
  val TokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  private val stopEn = Seq("the", "of", "and", "to", "in", "a")
  private val stopEs = Seq("el", "la", "de", "que", "y", "los")
  private val stopDe = Seq("der", "die", "und", "das", "ist", "ein")
  private val stopFr = Seq("le", "les", "et", "des", "un", "une")
  private val stopZh = Seq("de5", "shi4", "le5", "zai4", "he2", "you3")

  private def sqlList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString(", ")

  /** DuckDB twin of [[qualityScore]] as a nestable subquery (no WITH):
    * (doc_id, n_chars, n_tokens, alpha_ratio, stop_ratio, score).
    * Shared by the `text_quality` oracle and downstream oracles that
    * rank on the score (`token_budget_select`), so the two engines'
    * quality definitions can't drift apart.
    */
  private[graft] def duckQuality: String = duckQualityCarry(Nil)

  /** [[duckQuality]] with pass-through columns threaded through every
    * nesting level (the oracle twin of [[qualityScored]]).
    */
  private[graft] def duckQualityCarry(carry: Seq[String]): String = {
    val cy = carry.map(c => s"$c, ").mkString
    s"""SELECT doc_id, ${cy}n_chars, n_tokens, alpha_ratio, stop_ratio,
       |  0.6 * alpha_ratio + 0.4 * stop_ratio AS score FROM (
       |  SELECT doc_id, ${cy}n_chars, length(toks) AS n_tokens,
       |    CAST(n_alpha AS DOUBLE) / CAST(greatest(n_chars, 1) AS DOUBLE) AS alpha_ratio,
       |    CAST(length(list_filter(toks, x -> x IN (${sqlList(stopEn)}))) AS DOUBLE)
       |      / CAST(greatest(length(toks), 1) AS DOUBLE) AS stop_ratio
       |  FROM (SELECT doc_id, $cy
       |    length(text) AS n_chars,
       |    length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS n_alpha,
       |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
       |         ELSE string_split_regex(trim(text), '\\s+') END AS toks
       |    FROM documents))""".stripMargin
  }

  /** Whitespace tokens of a text column (empty text → empty array). */
  def wsTokens(c: Column): Column =
    when(length(trim(c)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(c), "\\s+"))

  private def stopHits(tokens: Column, words: Seq[String]): Column =
    size(filter(tokens, t => t.isin(words: _*))).cast("long")

  /** TF-IDF top terms per document: tf = in-doc term count, idf =
    * ln(N / df) over the corpus (plain log of exact integer counts —
    * bit-identical across engines), top-k by weight with a total
    * (weight DESC, term) tie-break. The df relation is tiny (one row
    * per vocab term) and broadcasts; the per-doc rank is a
    * WindowGroupLimit cut. The classic relevance/feature op a text
    * pipeline runs after tokenization.
    */
  def tfidfTopTerms(docs: DataFrame, k: Int): DataFrame = {
    val toks = graft.Partitioning.fanOut(docs)
      .select(col("doc_id"), explode(wsTokens(lower(col("text")))).as("term"))
      .where(col("term") =!= "")
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.select(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("weight").desc, col("term"))
    tf.join(broadcast(df_), Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("weight",
        col("tf").cast("double") * log(col("n_docs").cast("double") / col("df").cast("double")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("doc_id", "rank", "term", "tf", "df", "weight")
  }

  /** RAG-style chunking: overlapping fixed-size token windows (size
    * `chunk`, stride `stride`) per document — the preprocessing shape
    * for embedding pipelines. Pure per-row array arithmetic (one
    * explode, no shuffle); emits a trailing partial chunk so no token
    * is dropped. Chunk text is surfaced as md5 + token count (the gate
    * relation stays narrow; real pipelines feed the text to the
    * embedder).
    */
  def chunkDocuments(docs: DataFrame, chunk: Int, stride: Int): DataFrame = {
    require(stride >= 1 && chunk >= stride, "need 1 <= stride <= chunk")
    graft.Partitioning.fanOut(docs)
      .select(col("doc_id"), wsTokens(trim(col("text"))).as("t"))
      .where(size(col("t")) > 0)
      .select(
        col("doc_id"),
        posexplode(expr(
          s"transform(sequence(1, 1 + greatest(CAST(ceil((size(t) - $chunk) / CAST($stride AS DOUBLE)) AS INT), 0)), " +
            s"i -> slice(t, 1 + (i - 1) * $stride, $chunk))"))
          .as(Seq("chunk_idx", "c")))
      .select(
        col("doc_id"),
        col("chunk_idx").cast("long").as("chunk_idx"),
        size(col("c")).cast("long").as("n_tokens"),
        md5(concat_ws(" ", col("c"))).as("chunk_md5"))
  }

  /** Per-document token counts: whitespace tokens + regex (BPE-ish)
    * tokens. Both BIGINT.
    */
  def tokenStats(docs: DataFrame): DataFrame =
    graft.Partitioning.fanOut(docs).select(
      col("doc_id"),
      size(wsTokens(col("text"))).cast("long").as("ws_tokens"),
      size(regexp_extract_all(col("text"), lit(TokenPattern), lit(0))).cast("long").as("re_tokens"))

  /** Quality scoring: character-class ratios + stopword density folded
    * into one score. All counts exact ints; ratios IEEE divisions.
    */
  def qualityScore(docs: DataFrame): DataFrame = qualityScored(docs, Nil)

  /** [[qualityScore]] with pass-through columns (e.g. `lang` for
    * per-stratum selection) — same score expressions, one map pass.
    */
  private[graft] def qualityScored(docs: DataFrame, carry: Seq[String]): DataFrame = {
    val len = length(col("text")).cast("long")
    val nAlpha = (len - length(regexp_replace(col("text"), "[A-Za-z]", ""))).cast("long")
    val toks = wsTokens(col("text"))
    val nTok = size(toks).cast("long")
    val nStop = stopHits(toks, stopEn)
    graft.Partitioning.fanOut(docs).select(
      col("doc_id") +: carry.map(col) ++: Seq(
        len.as("n_chars"),
        nTok.as("n_tokens"),
        (nAlpha.cast("double") / greatest(len, lit(1L)).cast("double")).as("alpha_ratio"),
        (nStop.cast("double") / greatest(nTok, lit(1L)).cast("double")).as("stop_ratio")): _*)
      .withColumn("score", lit(0.6) * col("alpha_ratio") + lit(0.4) * col("stop_ratio"))
  }

  /** Language-ID heuristic: stopword-hit count per language, argmax with
    * fixed tie-break order (en > es > de > fr > zh).
    */
  def langGuess(docs: DataFrame): DataFrame = {
    val toks = wsTokens(lower(col("text")))
    val sEn = stopHits(toks, stopEn)
    val sEs = stopHits(toks, stopEs)
    val sDe = stopHits(toks, stopDe)
    val sFr = stopHits(toks, stopFr)
    val sZh = stopHits(toks, stopZh)
    docs.select(
      col("doc_id"),
      when(sEn >= sEs && sEn >= sDe && sEn >= sFr && sEn >= sZh, "en")
        .when(sEs >= sDe && sEs >= sFr && sEs >= sZh, "es")
        .when(sDe >= sFr && sDe >= sZh, "de")
        .when(sFr >= sZh, "fr")
        .otherwise("zh").as("lang_guess"))
  }

  /** Classifier-evaluation surface: the confusion matrix of the
    * language-ID heuristic against the labeled `lang` column, with
    * per-class recall as exact integer permille — the eval harness a
    * curation pipeline runs before trusting any classifier-driven
    * routing. ONE corpus pass (the guess is a projection, no
    * guess⋈truth self-join); the permille division runs on the
    * ≤|langs|²-row matrix.
    */
  def langidConfusion(docs: DataFrame): DataFrame = {
    val toks = wsTokens(lower(col("text")))
    val sEn = stopHits(toks, stopEn)
    val sEs = stopHits(toks, stopEs)
    val sDe = stopHits(toks, stopDe)
    val sFr = stopHits(toks, stopFr)
    val sZh = stopHits(toks, stopZh)
    docs.select(
      col("lang").as("actual"),
      when(sEn >= sEs && sEn >= sDe && sEn >= sFr && sEn >= sZh, "en")
        .when(sEs >= sDe && sEs >= sFr && sEs >= sZh, "es")
        .when(sDe >= sFr && sDe >= sZh, "de")
        .when(sFr >= sZh, "fr")
        .otherwise("zh").as("predicted"))
      .groupBy("actual", "predicted")
      .agg(count(lit(1)).as("n"))
      .withColumn("recall_permille",
        expr("(1000 * n) div sum(n) over (partition by actual)"))
  }

  /** ROC-AUC of the English stopword-count signal as an is-English
    * classifier, evaluated against the labeled `lang` column — the
    * threshold-free companion to [[langidConfusion]]'s fixed-argmax
    * matrix, computed EXACTLY via the Mann-Whitney rank-sum identity
    * with the standard half-credit for score ties:
    * AUC·2·P·N = Σ_s pos(s)·(2·neg_below(s) + neg(s)).
    *
    * Output is one row of exact integers: (n_pos, n_neg, auc_x2 — the
    * doubled numerator, auc_permille). Scale: the corpus pays one
    * tokenize pass and collapses to per-SCORE counts (score cardinality
    * ≈ max stopword hits, a few hundred), so the global-order prefix
    * window runs at score cardinality, never on the corpus; the driver
    * sees a single row. auc_x2 ≤ 2·P·N overflows int64 only past ~2·10⁹
    * docs per class — at that scale the eval runs on a sampled holdout,
    * as every published pipeline does. The permille lane (1000·auc_x2)
    * would wrap 1000× earlier, so it runs in DECIMAL(38,0) (Spark) /
    * HUGEINT (DuckDB) — the 2·10⁹-per-class headroom above is governed
    * by the BIGINT auc_x2 output column alone.
    */
  def langidAuc(docs: DataFrame): DataFrame = {
    val toks = wsTokens(lower(col("text")))
    docs.select(
        stopHits(toks, stopEn).as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      .groupBy("score")
      .agg(sum(col("pos")).as("np"), sum(lit(1L) - col("pos")).as("nn"))
      .withColumn("cnb", coalesce(expr(
        "sum(nn) over (order by score rows between unbounded preceding and 1 preceding)"),
        lit(0L)))
      .agg(
        sum(col("np")).as("n_pos"),
        sum(col("nn")).as("n_neg"),
        sum(col("np") * (col("cnb") * 2 + col("nn"))).as("auc_x2"))
      .withColumn("auc_permille",
        expr("""(1000 * CAST(auc_x2 AS DECIMAL(38,0)))
          div greatest(2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg, 1)"""))
      .select("n_pos", "n_neg", "auc_x2", "auc_permille")
  }

  /** Vocabulary drift between two corpus cohorts (English vs rest —
    * the same cohort split as [[graft.curation.Drift]], serving
    * snapshot-vs-snapshot identically): Jaccard overlap of the two
    * cohorts' top-k term lists. Top-list churn is the cheap early-
    * warning a pipeline checks before retraining a tokenizer — the
    * full-vocabulary divergence needs a float KL; the top-k overlap is
    * exact integers end-to-end.
    *
    * Scale: one tokenize pass collapses to (cohort, term) counts at
    * vocabulary cardinality; the per-cohort top-k is a
    * WindowGroupLimit cut (count DESC, term tie-break — total order,
    * both engines agree); membership flags aggregate the ≤2k-row top
    * relation to ONE driver row. The corpus is scanned once — both
    * cohorts ride the same pass via conditional flags, not two
    * filtered branches.
    */
  def vocabDriftTopk(docs: DataFrame, k: Int): DataFrame = {
    val top = docs
      .select(
        when(col("lang") === "en", "a").otherwise("b").as("cohort"),
        explode(wsTokens(lower(col("text")))).as("term"))
      .groupBy("cohort", "term")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("cohort").orderBy(col("cnt").desc, col("term"))))
      .where(col("rk") <= k)
    top
      .groupBy("term")
      .agg(
        max(when(col("cohort") === "a", 1L).otherwise(0L)).as("in_a"),
        max(when(col("cohort") === "b", 1L).otherwise(0L)).as("in_b"))
      .agg(sum(col("in_a") * col("in_b")).as("n_common"))
      .select(
        lit(k.toLong).as("k"),
        col("n_common"),
        expr(s"(1000 * n_common) div (${2 * k} - n_common)").as("jaccard_permille"))
  }

  /** Document fingerprints: md5 of whitespace-normalized text (exact
    * content identity) plus a winnowing-style shingle fingerprint — the
    * minimum md5 over all 8-char shingles (robust to local edits; it is
    * MinHash with one permutation). Docs shorter than 8 chars get
    * shingle fingerprint '' — no shingles.
    */
  def shingleFingerprint(docs: DataFrame): DataFrame = {
    val k = 8
    val c = col("text")
    val sh = docs
      .where(length(c) >= k)
      .select(col("doc_id"), explode(sequence(lit(1), length(c) - (k - 1))).as("p"), c.as("__t"))
      .select(col("doc_id"), md5(col("__t").substr(col("p"), lit(k))).as("h"))
      .groupBy("doc_id").agg(min(col("h")).as("shingle_fp"))
    docs.select(col("doc_id"), md5(regexp_replace(lower(col("text")), "\\s+", " ")).as("md5_norm"))
      .join(sh, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("md5_norm"), coalesce(col("shingle_fp"), lit("")).as("shingle_fp"))
  }

  /** Unicode NFC canonicalization over the corpus, via the engine's
    * custom codegen expression [[graft.functions.NfcNormalize]] (Spark
    * ships no normalization function). The dedup motivation: composed
    * `é` (U+00E9) and decomposed `e`+U+0301 are the same visible text
    * with different bytes, so unnormalized hashes/shingles treat
    * duplicates as distinct. Non-NFC text is injected deterministically
    * (every 7th doc gets a decomposed suffix, the rest the composed
    * form of the SAME visible text), so both the fired and no-op paths
    * are exercised, and the md5 of the normalized text must agree
    * across engines byte-for-byte with DuckDB's `nfc_normalize`.
    */
  def nfcNormalized(docs: DataFrame): DataFrame = {
    // NOTE: the two literals below differ (decomposed e+U+0301 vs
    // composed U+00E9) even though most editors render both as "café".
    val suffixed = docs.withColumn("t",
      when(col("doc_id") % 7 === 0, concat(col("text"), lit(" café")))
        .otherwise(concat(col("text"), lit(" café"))))
    suffixed.select(
      col("doc_id"),
      md5(col("t")).as("raw_md5"),
      md5(expr("nfc_normalize(t)")).as("nfc_md5"),
      (col("t") =!= expr("nfc_normalize(t)")).as("changed"))
  }

  /** Heaps-law vocabulary growth curve: cumulative distinct-type count
    * vs cumulative token count over md5-ordered corpus prefixes — the
    * corpus-composition diagnostic (sub-linear type growth ⇒ natural
    * text; near-linear ⇒ boilerplate/IDs) a tokenizer-training run
    * checks before committing a vocabulary size.
    *
    * Scale shape: "cumulative distinct over a prefix" is NOT computed
    * as |prefixes| distinct passes — each term contributes to exactly
    * its FIRST bucket (a vocabulary-scale min-aggregate with map-side
    * combine), per-bucket new-type counts aggregate from that, and the
    * running sums are a window over `buckets` rows (corpus-
    * independent). The corpus pays one token pass total.
    */
  def vocabGrowth(docs: DataFrame, buckets: Int = 16): DataFrame = {
    val toks = graft.Partitioning.fanOut(docs)
      .select(
        graft.curation.Curation.md5Bucket(col("doc_id"), buckets).as("bucket"),
        explode(wsTokens(lower(col("text")))).as("term"))
      .where(col("term") =!= "")
    val perBucket = toks.groupBy("bucket").agg(count(lit(1)).as("n_tokens"))
    val newTypes = toks.groupBy("term").agg(min("bucket").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_new_types"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    perBucket.join(newTypes, Seq("bucket"), "left")
      .withColumn("n_new_types", coalesce(col("n_new_types"), lit(0L)))
      .withColumn("tokens_cum", sum("n_tokens").over(w))
      .withColumn("types_cum", sum("n_new_types").over(w))
      .select("bucket", "n_tokens", "n_new_types", "tokens_cum", "types_cum")
      .orderBy("bucket")
  }

  /** Per-language closed-form OLS of token count on char count — the
    * grouped-regression shape (one slope per group over a 100 TB
    * corpus) done the scale-correct way: ONE aggregation pass collects
    * the five moments (n, Σx, Σy, Σx², Σxy) with map-side combine, and
    * the slope emerges per group as the exact integer RATIONAL
    * (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) — numerator and denominator
    * surfaced separately, so no float division ever happens inside the
    * engine and both engines agree bit-for-bit. (The intercept's
    * cross-product Σy·den can overflow BIGINT at corpus scale, so the
    * relation carries the moments instead — any consumer can form it
    * in its own precision.)
    */
  def olsTokensByLang(docs: DataFrame): DataFrame =
    docs
      .select(
        col("lang"),
        col("n_chars").as("x"),
        size(wsTokens(lower(col("text")))).cast("long").as("y"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n"),
        sum("x").as("sum_x"), sum("y").as("sum_y"),
        sum(col("x") * col("x")).as("sum_xx"),
        sum(col("x") * col("y")).as("sum_xy"))
      .select(
        col("lang"), col("n"), col("sum_x"), col("sum_y"), col("sum_xx"), col("sum_xy"),
        (col("n") * col("sum_xy") - col("sum_x") * col("sum_y")).as("slope_num"),
        (col("n") * col("sum_xx") - col("sum_x") * col("sum_x")).as("slope_den"))

  /** Positional-index phrase search: find every document containing
    * the corpus's most frequent adjacent bigram as an EXACT phrase,
    * with match counts — the inverted-index-with-positions probe
    * (Lucene phrase query shape). Scale design: bigram selection pays
    * one per-row zip pass + a vocabulary-scale count (no corpus
    * self-join); the match step joins only the two chosen terms'
    * posting lists on (doc_id, pos+1) — the corpus-scale token stream
    * is filtered to two terms BEFORE any shuffle, exactly like a real
    * posting-list intersection.
    */
  def phraseMatchDocs(docs: DataFrame): DataFrame = {
    val toked = graft.Partitioning.fanOut(docs)
      .select(col("doc_id"), wsTokens(lower(col("text"))).as("toks"))
    // per-row adjacent bigrams -> global top-1 (count desc, then t1, t2)
    val top = toked
      .select(explode(expr(
        "transform(slice(toks, 1, greatest(size(toks) - 1, 0)), (t, i) -> struct(t AS t1, toks[i + 1] AS t2))"))
        .as("bg"))
      .select(col("bg.t1"), col("bg.t2"))
      .where(col("t1") =!= "" && col("t2") =!= "")
      .groupBy("t1", "t2").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("t1"), col("t2")).limit(1)
    val pos = toked.select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "term")))
    val a = pos.join(broadcast(top), pos("term") === top("t1"))
      .select(col("doc_id"), col("pos"), col("t1"), col("t2"))
    val b = pos.select(col("doc_id").as("doc_b"), col("pos").as("pos_b"), col("term"))
    a.join(b,
        col("doc_b") === col("doc_id") && col("pos_b") === col("pos") + 1
          && col("term") === col("t2"))
      .groupBy("doc_id", "t1", "t2")
      .agg(count(lit(1)).as("n_matches"))
  }

  /** Per-source token-distribution Shannon entropy — the vocabulary-
    * diversity corpus-health metric (a low-entropy source is templated
    * or spam-heavy; the text-side complement of the events-side
    * `user_diversity_simpson`). EXACT fixed-point:
    * H_q = qlog2(N) − (Σ_t c_t·qlog2(c_t)) div N on the [[Unigram]]
    * qlog2 lane (scale 256 ≡ one bit), alongside the source's maximum
    * possible entropy qlog2(n_distinct) so the gap reads directly.
    * The Σ c·qlog2(c) lane runs in DECIMAL(38,0): c·qlog2(c) sums to
    * ~N·log2(N)·256, past int64 at ~10¹⁵ tokens per source.
    *
    * Scale: token stream → (source, token) counts (map-side combined),
    * then a source-cardinality rollup — the dsir/bm25 vocabulary-pass
    * shape with an entropy fold on top.
    */
  def sourceTokenEntropy(docs: DataFrame): DataFrame =
    graft.Partitioning.fanOut(docs)
      .select(col("source"), explode(wsTokens(lower(col("text")))).as("tok"))
      .where(col("tok") =!= "")
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(expr(s"cast(c as decimal(38,0)) * (${Unigram.sparkQlog2("c")})")).as("s"))
      .select(
        col("source"), col("n_tokens"), col("n_distinct"),
        (expr(Unigram.sparkQlog2("n_tokens")) - expr("s div n_tokens").cast("long"))
          .as("entropy_q"),
        expr(Unigram.sparkQlog2("n_distinct")).as("max_entropy_q"))

  private def duckSourceEntropy: String =
    s"""WITH t AS (
       |  SELECT source, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
       |  FROM documents),
       |c AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
       |  FROM t WHERE tok <> '' GROUP BY 1, 2),
       |g AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
       |    CAST(count(*) AS BIGINT) AS n_distinct,
       |    sum(CAST(c AS HUGEINT) * (${Unigram.duckQlog2("c")})) AS s
       |  FROM c GROUP BY 1)
       |SELECT source, n_tokens, n_distinct,
       |  CAST((${Unigram.duckQlog2("n_tokens")}) - CAST(s // n_tokens AS BIGINT) AS BIGINT)
       |    AS entropy_q,
       |  CAST(${Unigram.duckQlog2("n_distinct")} AS BIGINT) AS max_entropy_q
       |FROM g ORDER BY source""".stripMargin

  def engineQueries: Seq[EngineQuery] = Seq(
    EngineQuery(
      "source_token_entropy",
      (s, dir) => sourceTokenEntropy(Tables.documents(s, dir)).orderBy("source"),
      Some(duckSourceEntropy),
    ),
    EngineQuery(
      "phrase_match_docs",
      (s, dir) => phraseMatchDocs(Tables.documents(s, dir)).orderBy("doc_id"),
      Some("""WITH toked AS (
             |  SELECT doc_id,
             |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
             |         ELSE string_split_regex(trim(lower(text)), '\s+') END AS toks
             |  FROM documents),
             |bg AS (
             |  SELECT unnest(toks[1:-2]) AS t1, unnest(toks[2:]) AS t2 FROM toked
             |  WHERE len(toks) >= 2),
             |top AS (
             |  SELECT t1, t2 FROM bg WHERE t1 <> '' AND t2 <> ''
             |  GROUP BY t1, t2 ORDER BY count(*) DESC, t1, t2 LIMIT 1),
             |pos AS (
             |  SELECT doc_id, unnest(range(len(toks))) AS pos, unnest(toks) AS term
             |  FROM toked)
             |SELECT a.doc_id, top.t1, top.t2, count(*) AS n_matches
             |FROM pos a JOIN top ON a.term = top.t1
             |JOIN pos b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1 AND b.term = top.t2
             |GROUP BY 1, 2, 3 ORDER BY a.doc_id""".stripMargin),
    ),
    EngineQuery(
      "ols_tokens_by_lang",
      (s, dir) => olsTokensByLang(Tables.documents(s, dir)).orderBy("lang"),
      Some("""WITH d AS (
             |  SELECT lang, n_chars AS x,
             |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
             |         ELSE length(string_split_regex(trim(lower(text)), '\s+')) END AS BIGINT) AS y
             |  FROM documents),
             |m AS (
             |  SELECT lang, count(*) AS n,
             |    CAST(sum(x) AS BIGINT) AS sum_x, CAST(sum(y) AS BIGINT) AS sum_y,
             |    CAST(sum(x * x) AS BIGINT) AS sum_xx, CAST(sum(x * y) AS BIGINT) AS sum_xy
             |  FROM d GROUP BY lang)
             |SELECT lang, n, sum_x, sum_y, sum_xx, sum_xy,
             |  n * sum_xy - sum_x * sum_y AS slope_num,
             |  n * sum_xx - sum_x * sum_x AS slope_den
             |FROM m ORDER BY lang""".stripMargin),
    ),
    EngineQuery(
      "vocab_growth_curve",
      (s, dir) => vocabGrowth(Tables.documents(s, dir)),
      Some(s"""WITH toks AS (
             |  SELECT ${graft.curation.Curation.duckMd5Bucket("doc_id", 16)} AS bucket,
             |    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
             |  FROM documents WHERE length(trim(text)) > 0),
             |t2 AS (SELECT * FROM toks WHERE term <> ''),
             |pb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_tokens FROM t2 GROUP BY bucket),
             |nt AS (
             |  SELECT bucket, CAST(count(*) AS BIGINT) AS n_new_types
             |  FROM (SELECT term, min(bucket) AS bucket FROM t2 GROUP BY term)
             |  GROUP BY bucket)
             |SELECT pb.bucket, pb.n_tokens,
             |  COALESCE(nt.n_new_types, 0) AS n_new_types,
             |  CAST(sum(pb.n_tokens) OVER cum AS BIGINT) AS tokens_cum,
             |  CAST(sum(COALESCE(nt.n_new_types, 0)) OVER cum AS BIGINT) AS types_cum
             |FROM pb LEFT JOIN nt ON pb.bucket = nt.bucket
             |WINDOW cum AS (ORDER BY pb.bucket ROWS UNBOUNDED PRECEDING)
             |ORDER BY pb.bucket""".stripMargin),
    ),
    EngineQuery(
      "nfc_normalize_dedup",
      (s, dir) => nfcNormalized(Tables.documents(s, dir)).orderBy("doc_id"),
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    text || CASE WHEN doc_id % 7 = 0 THEN ' café' ELSE ' café' END AS t
             |  FROM documents)
             |SELECT doc_id, md5(t) AS raw_md5, md5(nfc_normalize(t)) AS nfc_md5,
             |  t <> nfc_normalize(t) AS changed
             |FROM t ORDER BY doc_id""".stripMargin),
    ),
    // The gate relation carries rank/term/tf/df but NOT the raw weight:
    // ln() differs by 1 ulp between the JVM and DuckDB's libm, which
    // fails the exact hash compare. The RANKING is still fully checked
    // (and is ulp-robust: distinct (tf, df) pairs give weights separated
    // by far more than an ulp; equal pairs give exactly-equal weights in
    // each engine, broken by the term tie-break).
    EngineQuery(
      "tfidf_top_terms",
      (s, dir) =>
        tfidfTopTerms(Tables.documents(s, dir), 3)
          .select("doc_id", "rank", "term", "tf", "df")
          .orderBy("doc_id", "rank"),
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
             |  FROM documents WHERE length(trim(text)) > 0),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks WHERE term <> '' GROUP BY doc_id, term),
             |dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
             |nn AS (SELECT count(*) AS n_docs FROM documents),
             |scored AS (
             |  SELECT doc_id, term, tf, df,
             |    CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) AS weight
             |  FROM tf JOIN dfr USING (term) CROSS JOIN nn),
             |ranked AS (
             |  SELECT doc_id, term, tf, df, weight,
             |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY weight DESC, term) AS BIGINT) AS rank
             |  FROM scored)
             |SELECT doc_id, rank, term, tf, df
             |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin),
    ),
    EngineQuery(
      "chunk_documents",
      (s, dir) => chunkDocuments(Tables.documents(s, dir), chunk = 64, stride = 48)
        .orderBy("doc_id", "chunk_idx"),
      Some("""WITH t AS (
             |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
             |  FROM documents WHERE length(trim(text)) > 0),
             |idx AS (
             |  SELECT doc_id, t,
             |    unnest(generate_series(1, 1 + greatest(CAST(ceil((length(t) - 64) / 48.0) AS INT), 0))) AS i
             |  FROM t),
             |chunks AS (
             |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS chunk_idx,
             |    t[CAST(1 + (i - 1) * 48 AS INT):CAST((i - 1) * 48 + 64 AS INT)] AS c
             |  FROM idx)
             |SELECT doc_id, chunk_idx,
             |  CAST(length(c) AS BIGINT) AS n_tokens,
             |  md5(array_to_string(c, ' ')) AS chunk_md5
             |FROM chunks ORDER BY doc_id, chunk_idx""".stripMargin),
    ),
    EngineQuery(
      "text_token_stats",
      (s, dir) => tokenStats(Tables.documents(s, dir)).orderBy("doc_id"),
      Some(s"""SELECT doc_id,
              |  CASE WHEN length(trim(text)) = 0 THEN 0
              |       ELSE length(string_split_regex(trim(text), '\\s+')) END AS ws_tokens,
              |  length(regexp_extract_all(text, '$TokenPattern')) AS re_tokens
              |FROM documents ORDER BY doc_id""".stripMargin),
      headline = true,
    ),
    EngineQuery(
      "text_quality",
      (s, dir) => qualityScore(Tables.documents(s, dir)).orderBy("doc_id"),
      Some(s"""SELECT doc_id, n_chars, n_tokens, alpha_ratio, stop_ratio, score
              |FROM ($duckQuality) ORDER BY doc_id""".stripMargin),
    ),
    // Quality threshold sweep — the data-budget planning curve ("keep
    // everything above score s" → how many docs/chars survive, for
    // every candidate s at once). The corpus pays ONE scored
    // aggregation into ≤20 bins; the cumulative-from-the-top windows
    // run over that ≤20-row relation (the single-partition window is
    // driver-sized by construction — the token_budget_select offsets
    // discipline). Bucket arithmetic is floor(score·20) on the
    // bit-identical score doubles, so both engines bin identically.
    EngineQuery(
      "quality_threshold_sweep",
      (s, dir) => {
        val bins = 20
        val b = qualityScore(Tables.documents(s, dir))
          .withColumn("qb", least(floor(col("score") * bins), lit(bins - 1)).cast("long"))
          .groupBy("qb")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("qb").desc).rowsBetween(Long.MinValue, 0)
        b.withColumn("cum_docs", sum(col("n_docs")).over(w))
          .withColumn("cum_chars", sum(col("sum_chars")).over(w))
          .orderBy("qb")
      },
      Some(s"""WITH b AS (
              |  SELECT CAST(least(floor(score * 20), 19) AS BIGINT) AS qb,
              |    count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
              |  FROM ($duckQuality) GROUP BY qb)
              |SELECT qb, n_docs, sum_chars,
              |  CAST(sum(n_docs) OVER (ORDER BY qb DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_docs,
              |  CAST(sum(sum_chars) OVER (ORDER BY qb DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_chars
              |FROM b ORDER BY qb""".stripMargin),
    ),
    EngineQuery(
      "text_lang_guess",
      (s, dir) => langGuess(Tables.documents(s, dir)).orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id,
              |  CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
              |       ELSE string_split_regex(trim(lower(text)), '\\s+') END AS toks
              |  FROM documents),
              |s AS (SELECT doc_id,
              |  length(list_filter(toks, x -> x IN (${sqlList(stopEn)}))) AS s_en,
              |  length(list_filter(toks, x -> x IN (${sqlList(stopEs)}))) AS s_es,
              |  length(list_filter(toks, x -> x IN (${sqlList(stopDe)}))) AS s_de,
              |  length(list_filter(toks, x -> x IN (${sqlList(stopFr)}))) AS s_fr,
              |  length(list_filter(toks, x -> x IN (${sqlList(stopZh)}))) AS s_zh
              |  FROM t)
              |SELECT doc_id,
              |  CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
              |       WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
              |       WHEN s_de >= s_fr AND s_de >= s_zh THEN 'de'
              |       WHEN s_fr >= s_zh THEN 'fr'
              |       ELSE 'zh' END AS lang_guess
              |FROM s ORDER BY doc_id""".stripMargin),
    ),
    EngineQuery(
      "langid_confusion",
      (s, dir) => langidConfusion(Tables.documents(s, dir)).orderBy("actual", "predicted"),
      Some(s"""WITH t AS (SELECT doc_id, lang,
              |  CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
              |       ELSE string_split_regex(trim(lower(text)), '\\s+') END AS toks
              |  FROM documents),
              |s AS (SELECT doc_id, lang,
              |  length(list_filter(toks, x -> x IN (${sqlList(stopEn)}))) AS s_en,
              |  length(list_filter(toks, x -> x IN (${sqlList(stopEs)}))) AS s_es,
              |  length(list_filter(toks, x -> x IN (${sqlList(stopDe)}))) AS s_de,
              |  length(list_filter(toks, x -> x IN (${sqlList(stopFr)}))) AS s_fr,
              |  length(list_filter(toks, x -> x IN (${sqlList(stopZh)}))) AS s_zh
              |  FROM t),
              |g AS (SELECT lang AS actual,
              |  CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
              |       WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
              |       WHEN s_de >= s_fr AND s_de >= s_zh THEN 'de'
              |       WHEN s_fr >= s_zh THEN 'fr'
              |       ELSE 'zh' END AS predicted
              |  FROM s),
              |m AS (SELECT actual, predicted, CAST(count(*) AS BIGINT) AS n
              |  FROM g GROUP BY 1, 2)
              |SELECT actual, predicted, n,
              |  CAST((1000 * n) // sum(n) OVER (PARTITION BY actual) AS BIGINT) AS recall_permille
              |FROM m ORDER BY actual, predicted""".stripMargin),
    ),
    EngineQuery(
      "langid_auc",
      (s, dir) => langidAuc(Tables.documents(s, dir)),
      Some(s"""WITH t AS (SELECT
              |  CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
              |       ELSE string_split_regex(trim(lower(text)), '\\s+') END AS toks,
              |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
              |  FROM documents),
              |s AS (SELECT
              |  CAST(length(list_filter(toks, x -> x IN (${sqlList(stopEn)}))) AS BIGINT) AS score,
              |  pos FROM t),
              |g AS (SELECT score, CAST(sum(pos) AS BIGINT) AS np,
              |  CAST(sum(1 - pos) AS BIGINT) AS nn FROM s GROUP BY 1),
              |c AS (SELECT np, nn,
              |  CAST(coalesce(sum(nn) OVER (ORDER BY score
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cnb
              |  FROM g)
              |SELECT CAST(sum(np) AS BIGINT) AS n_pos,
              |  CAST(sum(nn) AS BIGINT) AS n_neg,
              |  CAST(sum(np * (2 * cnb + nn)) AS BIGINT) AS auc_x2,
              |  CAST((1000 * sum(CAST(np AS HUGEINT) * (2 * cnb + nn)))
              |    // greatest(2 * CAST(sum(np) AS HUGEINT) * CAST(sum(nn) AS HUGEINT), 1)
              |    AS BIGINT) AS auc_permille
              |FROM c""".stripMargin),
    ),
    EngineQuery(
      "vocab_drift_topk",
      (s, dir) => vocabDriftTopk(Tables.documents(s, dir), k = 20),
      Some("""WITH t AS (SELECT
             |  CASE WHEN lang = 'en' THEN 'a' ELSE 'b' END AS cohort,
             |  unnest(CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
             |    ELSE string_split_regex(trim(lower(text)), '\s+') END) AS term
             |  FROM documents),
             |g AS (SELECT cohort, term, count(*) AS cnt FROM t GROUP BY 1, 2),
             |r AS (SELECT cohort, term,
             |  row_number() OVER (PARTITION BY cohort ORDER BY cnt DESC, term) AS rk
             |  FROM g),
             |s AS (SELECT term,
             |  max(CASE WHEN cohort = 'a' THEN 1 ELSE 0 END) AS in_a,
             |  max(CASE WHEN cohort = 'b' THEN 1 ELSE 0 END) AS in_b
             |  FROM r WHERE rk <= 20 GROUP BY 1)
             |SELECT CAST(20 AS BIGINT) AS k,
             |  CAST(sum(in_a * in_b) AS BIGINT) AS n_common,
             |  CAST((1000 * CAST(sum(in_a * in_b) AS BIGINT))
             |    // (40 - CAST(sum(in_a * in_b) AS BIGINT)) AS BIGINT) AS jaccard_permille
             |FROM s""".stripMargin),
    ),
    EngineQuery(
      "doc_fingerprint",
      (s, dir) => shingleFingerprint(Tables.documents(s, dir)).orderBy("doc_id"),
      Some("""WITH pos AS (
             |  SELECT doc_id, md5(substr(text, CAST(unnest(generate_series(1, length(text) - 7)) AS INT), 8)) AS h
             |  FROM documents WHERE length(text) >= 8),
             |sh AS (SELECT doc_id, min(h) AS shingle_fp FROM pos GROUP BY doc_id),
             |n AS (SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS md5_norm FROM documents)
             |SELECT n.doc_id, md5_norm, coalesce(shingle_fp, '') AS shingle_fp
             |FROM n LEFT JOIN sh ON n.doc_id = sh.doc_id ORDER BY n.doc_id""".stripMargin),
    ),
  )
}
