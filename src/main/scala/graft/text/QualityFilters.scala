package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.{EngineQuery, Tables}

/** Document-quality filters from the published web-corpus pipelines:
  * the Gopher rule set (Rae et al. 2021, "Scaling Language Models",
  * appendix A1.1) and the C4 line-level cleaning rules (Raffel et al.
  * 2020, §2.2). Not in the reference (its corpus is DNA, SURVEY.md
  * §1.1); first-class north-star extensions — these are the filters a
  * training-data pipeline runs before dedup.
  *
  * Scale notes: both operators are pure per-row projections over array
  * lambdas (`filter`/`transform`/`aggregate` on a split column) — zero
  * shuffle, fully inside WholeStageCodegen, trivially
  * partition-parallel at 100 TB. The only non-projection work is the
  * gate's final ORDER BY.
  *
  * Portability: counts are exact BIGINTs; ratios are IEEE divisions of
  * exact integers; every regex used means the same thing in Java regex
  * and DuckDB's RE2.
  */
object QualityFilters {

  /** Gopher stopword list (Rae et al. 2021 use an English function-word
    * set; the principle is "a real document mentions at least two
    * distinct function words").
    */
  val GopherStopwords = Seq("the", "be", "to", "of", "and", "that", "have", "with", "a", "in")

  /** Per-document Gopher quality flags. Thresholds are parameters with
    * the paper's defaults; `pass` is the conjunction. Rules:
    *  - word count in [minWords, maxWords]            (paper: 50..100k)
    *  - mean word length in [3, 10]
    *  - symbol-to-word ratio ('#' or '...') < 0.1
    *  - fraction of lines starting with a bullet < 0.9
    *  - fraction of lines ending with an ellipsis < 0.3
    *  - fraction of words containing an alphabetic char > 0.8
    *  - at least 2 distinct stopwords present
    */
  def gopherQualityFlags(
      docs: DataFrame,
      minWords: Int = 50,
      maxWords: Int = 100000): DataFrame = {
    val text = col("text")
    val toks = TextAnalysis.wsTokens(text)
    val nWords = size(toks).cast("long")
    // Σ length(token) as length(concat_ws('', tokens)) — identical by
    // construction (code-point counts are additive under concatenation,
    // the empty separator adds nothing, and split() emits no nulls for
    // concat_ws to skip); the former aggregate(transform(…)) fold
    // interpreted both lambdas per token (r20 optimization round).
    val sumLen = length(concat_ws("", col("__toks"))).cast("long")
    val nAlphaWords = size(filter(col("__toks"), t => t.rlike("[A-Za-z]"))).cast("long")
    val nHash = (length(text) - length(regexp_replace(text, "#", ""))).cast("long")
    val nEllipsis = ((length(text) - length(regexp_replace(text, "\\.\\.\\.", ""))) / 3).cast("long")
    val lines = split(text, "\n")
    val nLines = size(lines).cast("long")
    val nBullet = size(filter(lines, l => l.rlike("^\\s*[-*•]"))).cast("long")
    val nEllLine = size(filter(lines, l => l.rlike("(\\.\\.\\.|…)\\s*$"))).cast("long")
    val nStops = size(array_distinct(
      filter(col("__ltoks"), t => t.isin(GopherStopwords: _*)))).cast("long")
    val d = (c: Column) => c.cast("double")
    graft.Partitioning.fanOut(docs)
      .withColumn("__toks", toks)
      .withColumn("__ltoks", TextAnalysis.wsTokens(lower(text)))
      .select(
        col("doc_id"),
        nWords.as("n_words"),
        (sumLen.cast("double") / d(greatest(nWords, lit(1L)))).as("mean_word_len"),
        (d(nAlphaWords) / d(greatest(nWords, lit(1L)))).as("alpha_word_ratio"),
        ((d(nHash) + d(nEllipsis)) / d(greatest(nWords, lit(1L)))).as("symbol_ratio"),
        (d(nBullet) / d(greatest(nLines, lit(1L)))).as("bullet_line_ratio"),
        (d(nEllLine) / d(greatest(nLines, lit(1L)))).as("ellipsis_line_ratio"),
        nStops.as("n_stopwords"))
      .withColumn("flag_word_count",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("flag_mean_len",
        col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0)
      .withColumn("flag_alpha", col("alpha_word_ratio") > 0.8)
      .withColumn("flag_symbol", col("symbol_ratio") < 0.1)
      .withColumn("flag_bullets", col("bullet_line_ratio") < 0.9)
      .withColumn("flag_ellipsis", col("ellipsis_line_ratio") < 0.3)
      .withColumn("flag_stopwords", col("n_stopwords") >= 2)
      .withColumn("pass",
        col("flag_word_count") && col("flag_mean_len") && col("flag_alpha") &&
          col("flag_symbol") && col("flag_bullets") && col("flag_ellipsis") &&
          col("flag_stopwords"))
  }

  /** C4 line-level cleaning over a text column that contains newlines.
    * Line is KEPT iff it ends in terminal punctuation, has >= 5 words,
    * and mentions neither "javascript" (case-insensitive) nor '{'.
    * Document is KEPT iff it does not contain "lorem ipsum" and retains
    * at least `minKeptLines` lines. Emits per-doc counts, the verdict,
    * and the md5 of the cleaned (order-preserving) text — all scalar,
    * so the gate can hash it.
    */
  def c4LineFilter(docs: DataFrame, minKeptLines: Int = 3): DataFrame = {
    val text = col("text")
    val lines = split(text, "\n")
    val keepLine = (l: Column) =>
      l.rlike("[.!?\"]$") &&
        size(split(trim(l), "\\s+")) >= 5 &&
        !lower(l).contains("javascript") &&
        !l.contains("{")
    val kept = filter(lines, keepLine)
    graft.Partitioning.fanOut(docs)
      .select(
        col("doc_id"),
        size(lines).cast("long").as("n_lines"),
        size(kept).cast("long").as("n_kept"),
        (!lower(text).contains("lorem ipsum") && size(kept) >= minKeptLines).as("keep_doc"),
        md5(array_join(kept, "\n")).as("clean_md5"))
  }

  /** Gopher repetition rules, n-gram family (Rae et al. 2021 appendix
    * A1.1, Table A1): per (document, n) for n = 2..10,
    *  - `top_gram_char_frac`: characters of the heaviest n-gram
    *    (max over grams of count × length) / total n-gram characters —
    *    thresholded for n = 2..4;
    *  - `dup_gram_char_frac`: characters in n-grams occurring >= 2
    *    times / total n-gram characters — thresholded for n = 5..10;
    *  - `rep_flag`: the paper's per-n threshold verdict.
    * (The paper attributes overlapping occurrences to distinct char
    * positions; this engine defines both fractions over count × length
    * mass — deterministic, order-free, and mirrored exactly in the
    * oracle.) Docs with fewer than n tokens emit no row for that n.
    *
    * Scale shape: ONE corpus scan fans out ×9 n-values map-side
    * (explode of a 9-element literal array — no re-reads), n-grams
    * shuffle once for the (doc, n, gram) count whose partial agg
    * collapses repeats map-side, then the per-(doc, n) rollup reuses
    * the same partitioning prefix. State is bounded by per-doc
    * vocabulary, never corpus-global.
    */
  val TopGramThresholds: Map[Int, Double] =
    Map(2 -> 0.20, 3 -> 0.18, 4 -> 0.16)
  val DupGramThresholds: Map[Int, Double] =
    Map(5 -> 0.15, 6 -> 0.14, 7 -> 0.13, 8 -> 0.12, 9 -> 0.11, 10 -> 0.10)

  def repetitionNgrams(docs: DataFrame, ns: Seq[Int] = 2 to 10): DataFrame = {
    // Group by the gram's 64-bit rolling hash + length, NOT the gram
    // string: the n-gram text never appears in the output (only
    // count×length mass does), so building and carrying ~50-byte gram
    // strings through the explode, the aggregation hash map and the
    // (doc, n, gram) exchange is pure overhead — the 10× probe showed
    // this query alone spiking peak RSS by ~3 GB. The custom
    // [[NgramHashGenerator]] emits (n, hash, joined-length) for ALL
    // n-sizes in ONE lazy pass (one xxh64 per token + O(1) prefix
    // arithmetic per window — no 9× token-array re-walk, no string
    // allocation at all). Two DISTINCT grams of one doc colliding
    // (needed to change a count) has probability ~n_grams²/2⁶⁵ per
    // doc — vanishing, and the DuckDB oracle (which aggregates real
    // strings) would catch it.
    require(ns == (ns.min to ns.max), s"ngram_hashes needs a contiguous n range, got $ns")
    val perGram = graft.Partitioning.fanOut(docs)
      .select(col("doc_id"), TextAnalysis.wsTokens(lower(col("text"))).as("__toks"))
      .select(col("doc_id"), expr(s"ngram_hashes(__toks, ${ns.min}, ${ns.max})"))
      .groupBy("doc_id", "n", "gh")
      .agg(count(lit(1)).as("cnt"), max(col("glen")).as("__glen"))
      .withColumn("chars", col("cnt") * col("__glen"))
    val topThr = TopGramThresholds.foldLeft(lit(Double.MaxValue)) {
      case (acc, (n, t)) => when(col("n") === n, t).otherwise(acc)
    }
    val dupThr = DupGramThresholds.foldLeft(lit(Double.MaxValue)) {
      case (acc, (n, t)) => when(col("n") === n, t).otherwise(acc)
    }
    perGram.groupBy("doc_id", "n")
      .agg(
        sum(col("chars")).as("__denom"),
        max(col("chars")).as("__top"),
        sum(when(col("cnt") >= 2, col("chars")).otherwise(lit(0L))).as("__dup"))
      .select(
        col("doc_id"), col("n"),
        (col("__top").cast("double") / col("__denom").cast("double")).as("top_gram_char_frac"),
        (col("__dup").cast("double") / col("__denom").cast("double")).as("dup_gram_char_frac"))
      .withColumn("rep_flag",
        col("top_gram_char_frac") <= topThr && col("dup_gram_char_frac") <= dupThr)
  }

  /** Gopher repetition rules, line family: duplicate-line fraction
    * (occurrences beyond a line's first / total lines) and
    * duplicate-line CHARACTER fraction, both within-document on the
    * trimmed line form. (The paper's paragraph rules are the same
    * computation at paragraph granularity; the harness corpus has
    * single-newline lines only.) Pure per-doc aggregation — the only
    * shuffle is keyed (doc_id, line-hash), bounded by doc size.
    */
  def repetitionLines(docs: DataFrame): DataFrame = {
    val perLine = graft.Partitioning.fanOut(docs)
      .select(col("doc_id"), explode(split(col("text"), "\n")).as("__line"))
      .select(col("doc_id"), trim(col("__line")).as("lt"))
      .groupBy("doc_id", "lt")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("len", length(col("lt")).cast("long"))
    perLine.groupBy("doc_id")
      .agg(
        sum(col("cnt")).as("n_lines"),
        (sum(col("cnt")) - count(lit(1))).as("n_dup_lines"),
        sum(col("cnt") * col("len")).as("__chars"),
        sum(when(col("cnt") >= 2, (col("cnt") - 1) * col("len")).otherwise(lit(0L))).as("__dup_chars"))
      .select(
        col("doc_id"), col("n_lines"), col("n_dup_lines"),
        (col("n_dup_lines").cast("double") / col("n_lines").cast("double")).as("dup_line_frac"),
        (col("__dup_chars").cast("double") /
          greatest(col("__chars"), lit(1L)).cast("double")).as("dup_line_char_frac"))
      .withColumn("rep_flag",
        col("dup_line_frac") <= 0.30 && col("dup_line_char_frac") <= 0.20)
  }

  /** Deterministic multi-line corpus for the C4 gate: the harness
    * documents have no newlines (TESTDATA.md), so — like
    * [[TextAnalysis.nfcNormalized]]'s injected suffixes — the gate
    * query first reshapes each doc into lines of 8 tokens whose
    * endings cycle through the four C4 cases by (doc_id + line index):
    * terminal '.', no punctuation, a "javascript" mention, and a curly
    * brace; every 31st doc gains a "lorem ipsum" line. Both engines
    * build the exact same text, so the filter is exercised on all its
    * rules. Pure per-row array arithmetic — still zero shuffle.
    */
  def withSyntheticLines(docs: DataFrame): DataFrame = {
    val toks = TextAnalysis.wsTokens(col("text"))
    val mkLines = transform(
      sequence(lit(1), greatest(ceil(size(col("__toks")) / lit(8.0)).cast("int"), lit(1))),
      i => {
        val body = concat_ws(" ", slice(col("__toks"), (i - 1) * 8 + 1, lit(8)))
        val m = pmod(col("doc_id") + i, lit(4))
        when(m === 0, concat(body, lit(".")))
          .when(m === 1, body)
          .when(m === 2, concat(body, lit(" javascript snippet here.")))
          .otherwise(concat(body, lit(" {code}.")))
      })
    docs
      .withColumn("__toks", toks)
      .withColumn("text",
        when(col("doc_id") % 31 === 0,
          concat(array_join(mkLines, "\n"), lit("\nlorem ipsum dolor sit amet consectetur.")))
          .otherwise(array_join(mkLines, "\n")))
      .drop("__toks")
  }

  /** Synthetic PARAGRAPH reshape — the paragraph rung of the dedup
    * granularity ladder (doc / paragraph / line / substring; Lee et
    * al.'s dedup-granularity discussion). The harness documents are
    * flat token streams, so paragraphs are built deterministically:
    * 24-token slices joined by blank lines, with two boilerplate
    * paragraphs injected on fixed doc_id cohorts — a license header
    * on every 7th doc and a lorem-ipsum footer on every 31st — so
    * cross-document paragraph dedup has a real signal to find.
    * Mirrored exactly in [[duckSyntheticParaDocs]].
    */
  private val LicensePara =
    "this corpus is released under the synthetic license terms apply to all mirrored copies"
  private val LoremPara =
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod"

  def withSyntheticParagraphs(docs: DataFrame): DataFrame = {
    val toks = TextAnalysis.wsTokens(col("text"))
    val mkParas = transform(
      sequence(lit(1), greatest(ceil(size(col("__toks")) / lit(24.0)).cast("int"), lit(1))),
      p => concat_ws(" ", slice(col("__toks"), (p - 1) * 24 + 1, lit(24))))
    docs
      .withColumn("__toks", toks)
      .withColumn("text",
        concat(
          when(col("doc_id") % 7 === 0, lit(LicensePara + "\n\n")).otherwise(lit("")),
          array_join(mkParas, "\n\n"),
          when(col("doc_id") % 31 === 0, lit("\n\n" + LoremPara)).otherwise(lit(""))))
      .drop("__toks")
  }

  /** [[withSyntheticParagraphs]] mirrored in DuckDB — CTE chain ending
    * in `doc(doc_id, text)`, the paragraph twin of [[duckSyntheticDocs]].
    */
  private[text] val duckSyntheticParaDocs =
    s"""t AS (SELECT doc_id,
      |  CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
      |       ELSE string_split_regex(trim(text), '\\s+') END AS toks
      |  FROM documents),
      |built AS (SELECT doc_id,
      |  list_transform(
      |    generate_series(1, greatest(CAST(ceil(length(toks) / 24.0) AS INT), 1)),
      |    p -> array_to_string(toks[CAST((p - 1) * 24 + 1 AS INT):CAST(p * 24 AS INT)], ' ')) AS paras0
      |  FROM t),
      |doc AS (SELECT doc_id,
      |  CASE WHEN doc_id % 7 = 0 THEN '$LicensePara' || chr(10) || chr(10) ELSE '' END
      |  || array_to_string(paras0, chr(10) || chr(10))
      |  || CASE WHEN doc_id % 31 = 0 THEN chr(10) || chr(10) || '$LoremPara' ELSE '' END AS text
      |  FROM built)""".stripMargin

  // --------------------------------------------------------------- oracles

  private def duckStopList = GopherStopwords.map(w => s"'$w'").mkString(", ")

  /** The Gopher metric + flag CTE list ending in `gflags(doc_id, ...,
    * pass)` — shared by the per-doc gate and the host-level rollup so
    * the domain-reputation decision provably consumes the same gate.
    */
  private[graft] val duckGopherCtes =
    s"""t AS (SELECT doc_id, text,
       |  CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
       |       ELSE string_split_regex(trim(text), '\\s+') END AS toks,
       |  CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
       |       ELSE string_split_regex(trim(lower(text)), '\\s+') END AS ltoks,
       |  string_split(text, chr(10)) AS lines
       |  FROM documents),
       |m AS (SELECT doc_id,
       |  CAST(length(toks) AS BIGINT) AS n_words,
       |  CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS DOUBLE)
       |    / CAST(greatest(length(toks), 1) AS DOUBLE) AS mean_word_len,
       |  CAST(length(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
       |    / CAST(greatest(length(toks), 1) AS DOUBLE) AS alpha_word_ratio,
       |  (CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
       |    + CAST((length(text) - length(replace(text, '...', ''))) // 3 AS DOUBLE))
       |    / CAST(greatest(length(toks), 1) AS DOUBLE) AS symbol_ratio,
       |  CAST(length(list_filter(lines, l -> regexp_matches(l, '^\\s*[-*•]'))) AS DOUBLE)
       |    / CAST(greatest(length(lines), 1) AS DOUBLE) AS bullet_line_ratio,
       |  CAST(length(list_filter(lines, l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$$'))) AS DOUBLE)
       |    / CAST(greatest(length(lines), 1) AS DOUBLE) AS ellipsis_line_ratio,
       |  CAST(length(list_distinct(list_filter(ltoks, x -> x IN ($duckStopList)))) AS BIGINT) AS n_stopwords
       |  FROM t),
       |gflags AS (
       |SELECT doc_id, n_words, mean_word_len, alpha_word_ratio, symbol_ratio,
       |  bullet_line_ratio, ellipsis_line_ratio, n_stopwords,
       |  (n_words >= 50 AND n_words <= 100000) AS flag_word_count,
       |  (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS flag_mean_len,
       |  (alpha_word_ratio > 0.8) AS flag_alpha,
       |  (symbol_ratio < 0.1) AS flag_symbol,
       |  (bullet_line_ratio < 0.9) AS flag_bullets,
       |  (ellipsis_line_ratio < 0.3) AS flag_ellipsis,
       |  (n_stopwords >= 2) AS flag_stopwords,
       |  ((n_words >= 50 AND n_words <= 100000) AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
       |    AND alpha_word_ratio > 0.8 AND symbol_ratio < 0.1 AND bullet_line_ratio < 0.9
       |    AND ellipsis_line_ratio < 0.3 AND n_stopwords >= 2) AS pass
       |FROM m)""".stripMargin

  private val duckGopher =
    s"""WITH $duckGopherCtes
       |SELECT * FROM gflags ORDER BY doc_id""".stripMargin

  /** The [[withSyntheticLines]] reshape mirrored in DuckDB — CTE chain
    * ending in `doc(doc_id, text)`. Shared by every oracle that needs a
    * multi-line corpus (the harness documents have no newlines).
    */
  private[text] val duckSyntheticDocs =
    """t AS (SELECT doc_id,
      |  CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
      |       ELSE string_split_regex(trim(text), '\s+') END AS toks
      |  FROM documents),
      |built AS (SELECT doc_id,
      |  list_transform(
      |    generate_series(1, greatest(CAST(ceil(length(toks) / 8.0) AS INT), 1)),
      |    i -> array_to_string(toks[CAST((i - 1) * 8 + 1 AS INT):CAST(i * 8 AS INT)], ' ')
      |      || CASE ((doc_id + i) % 4)
      |           WHEN 0 THEN '.'
      |           WHEN 1 THEN ''
      |           WHEN 2 THEN ' javascript snippet here.'
      |           ELSE ' {code}.' END) AS lines0
      |  FROM t),
      |doc AS (SELECT doc_id,
      |  CASE WHEN doc_id % 31 = 0
      |       THEN array_to_string(lines0, chr(10)) || chr(10) || 'lorem ipsum dolor sit amet consectetur.'
      |       ELSE array_to_string(lines0, chr(10)) END AS text
      |  FROM built)""".stripMargin

  /** The synthetic-lines CTE followed by the C4 filter. (Concatenated,
    * not interpolated-then-stripMargin'd: stripMargin over interpolated
    * content would eat one pipe of every `||` concat in the shared CTE.)
    */
  private val duckC4 =
    "WITH " + duckSyntheticDocs + ",\n" +
    """f AS (SELECT doc_id, string_split(text, chr(10)) AS lines,
      |  list_filter(string_split(text, chr(10)), l ->
      |    regexp_matches(l, '[.!?"]$') AND length(string_split_regex(trim(l), '\s+')) >= 5
      |    AND NOT contains(lower(l), 'javascript') AND NOT contains(l, '{')) AS kept,
      |  contains(lower(text), 'lorem ipsum') AS lorem
      |  FROM doc)
      |SELECT doc_id, CAST(length(lines) AS BIGINT) AS n_lines,
      |  CAST(length(kept) AS BIGINT) AS n_kept,
      |  (NOT lorem AND length(kept) >= 3) AS keep_doc,
      |  md5(coalesce(array_to_string(kept, chr(10)), '')) AS clean_md5
      |FROM f ORDER BY doc_id""".stripMargin

  private val duckRepNgrams =
    """WITH t AS (SELECT doc_id,
      |  CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
      |       ELSE string_split_regex(trim(lower(text)), '\s+') END AS toks
      |  FROM documents),
      |nn AS (SELECT unnest(generate_series(2, 10)) AS n),
      |g AS (SELECT doc_id, n,
      |  array_to_string(toks[CAST(i AS INT):CAST(i + n - 1 AS INT)], ' ') AS gram
      |  FROM t, nn, unnest(generate_series(1, length(toks) - n + 1)) AS u(i)
      |  WHERE length(toks) >= n),
      |pg AS (SELECT doc_id, n, gram, count(*) AS cnt,
      |  count(*) * length(gram) AS chars
      |  FROM g GROUP BY doc_id, n, gram),
      |a AS (SELECT doc_id, n, sum(chars) AS denom, max(chars) AS top,
      |  sum(CASE WHEN cnt >= 2 THEN chars ELSE 0 END) AS dup
      |  FROM pg GROUP BY doc_id, n)
      |SELECT doc_id, CAST(n AS INT) AS n,
      |  CAST(top AS DOUBLE) / CAST(denom AS DOUBLE) AS top_gram_char_frac,
      |  CAST(dup AS DOUBLE) / CAST(denom AS DOUBLE) AS dup_gram_char_frac,
      |  (CAST(top AS DOUBLE) / CAST(denom AS DOUBLE)
      |     <= CASE n WHEN 2 THEN 0.20 WHEN 3 THEN 0.18 WHEN 4 THEN 0.16 ELSE 1e308 END)
      |  AND (CAST(dup AS DOUBLE) / CAST(denom AS DOUBLE)
      |     <= CASE n WHEN 5 THEN 0.15 WHEN 6 THEN 0.14 WHEN 7 THEN 0.13
      |               WHEN 8 THEN 0.12 WHEN 9 THEN 0.11 WHEN 10 THEN 0.10 ELSE 1e308 END)
      |  AS rep_flag
      |FROM a ORDER BY doc_id, n""".stripMargin

  private val duckRepLines =
    "WITH " + duckSyntheticDocs + ",\n" +
    """l AS (SELECT doc_id, trim(lines[CAST(i AS INT)]) AS lt
      |  FROM (SELECT doc_id, string_split(text, chr(10)) AS lines FROM doc),
      |       unnest(generate_series(1, length(lines))) AS g(i)),
      |pl AS (SELECT doc_id, lt, count(*) AS cnt, length(lt) AS len
      |  FROM l GROUP BY doc_id, lt),
      |a AS (SELECT doc_id,
      |  CAST(sum(cnt) AS BIGINT) AS n_lines,
      |  CAST(sum(cnt) - count(*) AS BIGINT) AS n_dup_lines,
      |  sum(cnt * len) AS chars,
      |  sum(CASE WHEN cnt >= 2 THEN (cnt - 1) * len ELSE 0 END) AS dup_chars
      |  FROM pl GROUP BY doc_id)
      |SELECT doc_id, n_lines, n_dup_lines,
      |  CAST(n_dup_lines AS DOUBLE) / CAST(n_lines AS DOUBLE) AS dup_line_frac,
      |  CAST(dup_chars AS DOUBLE) / CAST(greatest(chars, 1) AS DOUBLE) AS dup_line_char_frac,
      |  (CAST(n_dup_lines AS DOUBLE) / CAST(n_lines AS DOUBLE) <= 0.30
      |    AND CAST(dup_chars AS DOUBLE) / CAST(greatest(chars, 1) AS DOUBLE) <= 0.20) AS rep_flag
      |FROM a ORDER BY doc_id""".stripMargin

  /** Code-vs-prose detection — the web-corpus curation screen that
    * routes source code away from (or into) a text pipeline (StarCoder/
    * RedPajama-style heuristics, no model): symbol density, indented-
    * line ratio, programming-keyword hits, and snake_case/camelCase
    * identifier tokens, combined into an integer-permille score. All
    * counts are exact integers and the score is BIGINT div, so the
    * verdict is bit-identical in DuckDB. Pure per-row projection —
    * no shuffle at all; at 100 TB this runs entirely map-side.
    */
  def codeDetect(docs: DataFrame, thresholdPermille: Long = 40): DataFrame = {
    val text = col("text")
    val kws = Seq("def", "class", "import", "return", "function", "var",
      "const", "for", "while", "if", "else", "void", "int", "public", "static")
    val nSymbols = (length(text) -
      length(regexp_replace(text, "[{};=<>()\\[\\]]", ""))).cast("long")
    val lines = split(text, "\n")
    val nIndent = size(filter(lines, l => l.rlike("^( {2,}|\\t)"))).cast("long")
    val toks = TextAnalysis.wsTokens(text)
    val nKw = size(filter(col("__toks"), t => t.isin(kws: _*))).cast("long")
    val nIdent = size(filter(col("__toks"),
      t => t.rlike("_") || t.rlike("[a-z][A-Z]"))).cast("long")
    graft.Partitioning.fanOut(docs)
      .withColumn("__toks", toks)
      .select(
        col("doc_id"),
        nSymbols.as("n_symbols"), nIndent.as("n_indent_lines"),
        nKw.as("n_keywords"), nIdent.as("n_idents"),
        length(text).cast("long").as("n_chars"))
      .withColumn("code_permille", expr(
        "(1000 * (n_symbols + 3 * n_keywords + n_idents + 2 * n_indent_lines)) div greatest(n_chars, 1)"))
      .withColumn("is_code", (col("code_permille") >= thresholdPermille).cast("long"))
  }

  private def duckCodeDetect = {
    val kwList = Seq("def", "class", "import", "return", "function", "var",
      "const", "for", "while", "if", "else", "void", "int", "public", "static")
      .map(k => s"'$k'").mkString(", ")
    s"""WITH t AS (
       |  SELECT doc_id, text,
       |    CAST(length(text) - length(regexp_replace(text, '[{};=<>()\\[\\]]', '', 'g')) AS BIGINT) AS n_symbols,
       |    CAST(len(list_filter(string_split(text, chr(10)), l -> regexp_matches(l, '^(  |\\t)'))) AS BIGINT) AS n_indent_lines,
       |    CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x IN ($kwList))) AS BIGINT) AS n_keywords,
       |    CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
       |      x -> regexp_matches(x, '_') OR regexp_matches(x, '[a-z][A-Z]'))) AS BIGINT) AS n_idents,
       |    CAST(length(text) AS BIGINT) AS n_chars
       |  FROM documents)
       |SELECT doc_id, n_symbols, n_indent_lines, n_keywords, n_idents, n_chars,
       |  (1000 * (n_symbols + 3 * n_keywords + n_idents + 2 * n_indent_lines))
       |    // greatest(n_chars, 1) AS code_permille,
       |  CAST(CASE WHEN (1000 * (n_symbols + 3 * n_keywords + n_idents + 2 * n_indent_lines))
       |    // greatest(n_chars, 1) >= 40 THEN 1 ELSE 0 END AS BIGINT) AS is_code
       |FROM t ORDER BY doc_id""".stripMargin
  }

  /** Inject deterministic card-shaped digit runs: every 17th doc gets a
    * Luhn-VALID 16-digit number, every 19th an INVALID one — so the
    * scan query proves both detection and checksum rejection on the
    * same corpus (the [[withSyntheticLines]] pattern: reshape mirrored
    * in the oracle SQL).
    */
  def withSyntheticCards(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      concat(col("text"),
        when(col("doc_id") % 17 === 0, lit(" card 4539578763621486 on file")).otherwise(lit("")),
        when(col("doc_id") % 19 === 0, lit(" card 4111111111111112 on file")).otherwise(lit(""))))

  /** Credit-card PII scan with Luhn checksum validation — the
    * precision upgrade over the regex-only PII scrub (a random
    * 16-digit run is a false positive ~90% of the time; the checksum
    * rejects it). Candidates come from one regexp_extract_all, the
    * checksum is a lazy higher-order aggregate over the digit string
    * (codegen'd, no explode), and the whole query is a pure per-row
    * projection — zero exchanges at any corpus size.
    */
  def luhnPiiScan(docs: DataFrame): DataFrame = {
    val luhnSum =
      """aggregate(transform(sequence(1, length(c)),
        |  i -> CASE WHEN i % 2 = 0
        |    THEN IF((ascii(substr(reverse(c), i, 1)) - 48) * 2 > 9,
        |            (ascii(substr(reverse(c), i, 1)) - 48) * 2 - 9,
        |            (ascii(substr(reverse(c), i, 1)) - 48) * 2)
        |    ELSE ascii(substr(reverse(c), i, 1)) - 48 END),
        |  0, (acc, x) -> acc + x)""".stripMargin
    graft.Partitioning.fanOut(docs)
      .withColumn("__cands", expr("regexp_extract_all(text, '[0-9]{16}', 0)"))
      .select(
        col("doc_id"),
        size(col("__cands")).cast("long").as("n_candidates"),
        expr(s"cast(size(filter(__cands, c -> ($luhnSum) % 10 = 0)) as bigint)")
          .as("n_valid"))
  }

  /** Cohen's kappa agreement between two quality filters — the
    * filter-consolidation question a pipeline asks before stacking
    * gates: does filter B reject anything filter A doesn't already
    * (kappa → 1: drop one), or do they disagree beyond chance (keep
    * both)? Here A = the Gopher word-count rule, B = a char-length
    * floor — two length-family rules whose high-but-imperfect kappa is
    * the expected readout.
    *
    * INTEGER-EXACT: kappa = (p_o − p_e)/(1 − p_e) cross-multiplies to
    * (n·(n11+n00) − (a1·b1 + a0·b0)) / (n² − (a1·b1 + a0·b0)) — all
    * counts from ONE aggregation pass; the n² lane runs in
    * DECIMAL(38,0)/HUGEINT (wraps int64 at ~3·10⁹ docs) and the one
    * division is sign-ruled ppm (Spark div ≡ DuckDB // on the
    * magnitude). Scale: the corpus collapses to a 2×2 confusion in one
    * map-side-combined aggregate; everything after is a single-row
    * projection.
    */
  def filterAgreementKappa(
      docs: DataFrame,
      minWords: Long = 50L,
      maxWords: Long = 100000L,
      minChars: Long = 300L): DataFrame = {
    val nWords = size(TextAnalysis.wsTokens(col("text"))).cast("long")
    docs
      .select(
        (nWords >= minWords && nWords <= maxWords).cast("long").as("a"),
        (col("n_chars") >= minChars).cast("long").as("b"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("a") * col("b")).as("n11"),
        sum(col("a") * (lit(1L) - col("b"))).as("n10"),
        sum((lit(1L) - col("a")) * col("b")).as("n01"),
        sum((lit(1L) - col("a")) * (lit(1L) - col("b"))).as("n00"))
      .select(
        col("n_docs"), col("n11"), col("n10"), col("n01"), col("n00"),
        expr("(1000000 * (n11 + n00)) div greatest(n_docs, 1)").as("po_ppm"),
        expr("""(1000000 * ((n11 + n10) * CAST(n11 + n01 AS DECIMAL(38,0))
          |      + (n01 + n00) * CAST(n10 + n00 AS DECIMAL(38,0))))
          |  div greatest(CAST(n_docs AS DECIMAL(38,0)) * n_docs, 1)""".stripMargin)
          .cast("long").as("pe_ppm"),
        expr("""CASE WHEN CAST(n_docs AS DECIMAL(38,0)) * (n11 + n00)
          |        >= (n11 + n10) * CAST(n11 + n01 AS DECIMAL(38,0))
          |           + (n01 + n00) * CAST(n10 + n00 AS DECIMAL(38,0)) THEN 1 ELSE -1 END
          |* ((1000000 * abs(CAST(n_docs AS DECIMAL(38,0)) * (n11 + n00)
          |     - ((n11 + n10) * CAST(n11 + n01 AS DECIMAL(38,0))
          |        + (n01 + n00) * CAST(n10 + n00 AS DECIMAL(38,0)))))
          |   div greatest(CAST(n_docs AS DECIMAL(38,0)) * n_docs
          |     - ((n11 + n10) * CAST(n11 + n01 AS DECIMAL(38,0))
          |        + (n01 + n00) * CAST(n10 + n00 AS DECIMAL(38,0))), 1))""".stripMargin)
          .cast("long").as("kappa_ppm"))
  }

  private val DuckKappa =
    """WITH t AS (
      |  SELECT CASE WHEN length(string_split_regex(trim(text), '\s+'))
      |    BETWEEN 50 AND 100000 THEN 1 ELSE 0 END AS a,
      |    CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS b
      |  FROM documents),
      |c AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(a * b) AS BIGINT) AS n11,
      |  CAST(sum(a * (1 - b)) AS BIGINT) AS n10,
      |  CAST(sum((1 - a) * b) AS BIGINT) AS n01,
      |  CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS n00 FROM t)
      |SELECT n_docs, n11, n10, n01, n00,
      |  CAST((1000000 * (n11 + n00)) // greatest(n_docs, 1) AS BIGINT) AS po_ppm,
      |  CAST((1000000 * ((n11 + n10) * CAST(n11 + n01 AS HUGEINT)
      |         + (n01 + n00) * CAST(n10 + n00 AS HUGEINT)))
      |    // greatest(CAST(n_docs AS HUGEINT) * n_docs, 1) AS BIGINT) AS pe_ppm,
      |  CAST((CASE WHEN CAST(n_docs AS HUGEINT) * (n11 + n00)
      |          >= (n11 + n10) * CAST(n11 + n01 AS HUGEINT)
      |             + (n01 + n00) * CAST(n10 + n00 AS HUGEINT) THEN 1 ELSE -1 END)
      |  * ((1000000 * abs(CAST(n_docs AS HUGEINT) * (n11 + n00)
      |       - ((n11 + n10) * CAST(n11 + n01 AS HUGEINT)
      |          + (n01 + n00) * CAST(n10 + n00 AS HUGEINT))))
      |     // greatest(CAST(n_docs AS HUGEINT) * n_docs
      |       - ((n11 + n10) * CAST(n11 + n01 AS HUGEINT)
      |          + (n01 + n00) * CAST(n10 + n00 AS HUGEINT)), 1)) AS BIGINT) AS kappa_ppm
      |FROM c""".stripMargin

  def engineQueries: Seq[EngineQuery] = Seq(
    EngineQuery(
      "filter_agreement_kappa",
      (s, dir) => filterAgreementKappa(Tables.documents(s, dir)),
      Some(DuckKappa),
    ),
    EngineQuery(
      "luhn_pii_scan",
      (s, dir) => luhnPiiScan(withSyntheticCards(Tables.documents(s, dir))).orderBy("doc_id"),
      Some("""WITH d AS (
             |  SELECT doc_id, text
             |    || CASE WHEN doc_id % 17 = 0 THEN ' card 4539578763621486 on file' ELSE '' END
             |    || CASE WHEN doc_id % 19 = 0 THEN ' card 4111111111111112 on file' ELSE '' END
             |    AS text
             |  FROM documents),
             |c AS (SELECT doc_id, regexp_extract_all(text, '[0-9]{16}') AS cands FROM d)
             |SELECT doc_id, CAST(len(cands) AS BIGINT) AS n_candidates,
             |  CAST(len(list_filter(cands, c ->
             |    list_sum(list_transform(range(1, length(c) + 1),
             |      i -> CASE WHEN i % 2 = 0
             |        THEN CASE WHEN (ascii(substr(reverse(c), CAST(i AS INT), 1)) - 48) * 2 > 9
             |          THEN (ascii(substr(reverse(c), CAST(i AS INT), 1)) - 48) * 2 - 9
             |          ELSE (ascii(substr(reverse(c), CAST(i AS INT), 1)) - 48) * 2 END
             |        ELSE ascii(substr(reverse(c), CAST(i AS INT), 1)) - 48 END))
             |    % 10 = 0)) AS BIGINT) AS n_valid
             |FROM c ORDER BY doc_id""".stripMargin),
    ),
    EngineQuery(
      "code_detect_score",
      (s, dir) => codeDetect(Tables.documents(s, dir)).orderBy("doc_id"),
      Some(duckCodeDetect),
    ),
    EngineQuery(
      "gopher_quality_flags",
      (s, dir) => gopherQualityFlags(Tables.documents(s, dir)).orderBy("doc_id"),
      Some(duckGopher),
    ),
    EngineQuery(
      "gopher_repetition_ngrams",
      (s, dir) => repetitionNgrams(Tables.documents(s, dir)).orderBy("doc_id", "n"),
      Some(duckRepNgrams),
      // headline: exercises the custom NgramHashGenerator (lazy
      // codegen'd rolling-hash windows) — the engine's answer to the
      // repetition family's 9×-explode cost
      headline = true,
    ),
    EngineQuery(
      "gopher_repetition_lines",
      (s, dir) => repetitionLines(withSyntheticLines(Tables.documents(s, dir)))
        .orderBy("doc_id"),
      Some(duckRepLines),
    ),
    EngineQuery(
      "c4_line_filter",
      (s, dir) => c4LineFilter(withSyntheticLines(Tables.documents(s, dir)))
        .orderBy("doc_id"),
      Some(duckC4),
    ),
  )
}
