package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{EngineQuery, Tables}

/** Prefix-filtered exact set-similarity self-join — the AllPairs /
  * PPJoin family (Bayardo et al. 2007 "Scaling Up All Pairs Similarity
  * Search"; Xiao et al. 2008 PPJoin): find EVERY document pair whose
  * token-set Jaccard similarity is >= t, without an all-pairs
  * comparison and without the lossy guards of the heuristic paths.
  *
  * Contrast inside this engine ([[Dedup.ngramJaccardPairs]] drops
  * pairs that share only high-df grams; MinHash/SimHash are
  * probabilistic): prefix filtering is LOSSLESS — it relies on a
  * theorem, not a heuristic. Order the universe of tokens by ascending
  * document frequency (rarest first, ties by token); for a set x let
  * its prefix be its first |x| − ceil(t·|x|) + 1 tokens in that order.
  * Two sets with J(x,y) >= t MUST share at least one prefix token
  * (if they shared none, the overlap would be confined to the
  * suffixes, which are too short to reach t). So an equi-join on
  * prefix tokens generates a candidate superset, and an exact
  * verification on the candidates makes the result exact and complete.
  *
  * The ORACLE is the quadratic brute-force join (complete because any
  * pair with J > 0 shares a token) — so the correctness gate literally
  * re-proves the completeness guarantee on the harness corpus: the
  * prefix-filtered plan must reproduce the exhaustive answer row for
  * row.
  *
  * Scale shape (100 TB): tokenization is a zero-shuffle projection;
  * df is one partial+final count on the token stream; the per-doc
  * prefix rank is a doc-bounded window (never a global sort — the
  * global token ORDER is (df, tok) itself, which needs no dense rank);
  * the candidate join carries only the prefix fraction (~(1−t) of the
  * rarest tokens, the ones with the smallest join fan-out); and
  * verification joins each candidate pair to two per-doc token arrays
  * (array_intersect, doc-bounded). Nothing is quadratic in the corpus:
  * the only quadratic object is the OUTPUT itself, when the corpus
  * genuinely contains a clique of near-identical documents.
  */
object SetSimJoin {

  /** The harness corpus is heavily templated — at sf0.1 the FULL
    * corpus holds ~9M pairs above Jaccard 0.5 and ~1M above 0.9 (the
    * output itself is quadratic in its near-dup cliques, as the
    * Scaladoc above warns). The gate therefore runs at t = 0.9 over
    * the deterministic doc_id %% 3 == 0 third of the corpus, keeping
    * the verified relation ~10^5 rows; the operator itself takes any
    * threshold/corpus.
    */
  val DefaultThreshold = 0.9
  val GateDocFilter = 3

  /** Distinct lowercase whitespace tokens, one row per (doc, token). */
  private def tokens(docs: DataFrame): DataFrame =
    graft.Partitioning.fanOut(docs)
      .select(
        col("doc_id"),
        explode(array_distinct(split(trim(lower(col("text"))), "\\s+"))).as("tok"))
      .where(col("tok") =!= "")

  /** Per-doc distinct token set as a column (for verification). */
  private def tokenArrays(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      filter(
        array_distinct(split(trim(lower(col("text"))), "\\s+")),
        x => x =!= "").as("ts"))

  /** Candidate generation of [[jaccardJoin]]: distinct (doc_a < doc_b)
    * pairs surviving the prefix, length, and positional filters. */
  private def candidates(docs: DataFrame, t: Double): DataFrame = {
    require(t > 0.0 && t <= 1.0, s"threshold must be in (0, 1], got $t")
    val toks = tokens(docs)
    val dfTbl = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    // per-doc rank in the global (df, tok) order + per-doc set size,
    // both from ONE doc-partitioned window pass
    val w = Window.partitionBy("doc_id")
    val ranked = toks.join(dfTbl, Seq("tok"))
      .withColumn("rn", row_number().over(w.orderBy("df", "tok")))
      .withColumn("sz", count(lit(1)).over(w))
      // prefix length |x| − ⌈t·|x|⌉ + 1; the 1e-9 slack keeps the float
      // product from ceiling one unit ABOVE the exact rational (e.g.
      // 0.9·70 = 63.000000000000014 in doubles → ceil 64, exact 63 —
      // one prefix token short, a silent completeness hole). At worst
      // the slack lengthens the prefix by one token — conservative.
      .where(col("rn") <= col("sz") - ceil(lit(t) * col("sz") - lit(1e-9)) + 1)
    val a = ranked.select(
      col("doc_id").as("doc_a"), col("tok"), col("sz").as("sz_a"), col("rn").as("rn_a"))
    val b = ranked.select(
      col("doc_id").as("doc_b"), col("tok"), col("sz").as("sz_b"), col("rn").as("rn_b"))
    // candidate pairs: shared prefix token + the Jaccard length filter
    // (J >= t forces t·max(|x|,|y|) <= min(|x|,|y|)) + a POSITIONAL
    // filter in the PPJoin family (Xiao et al. 2008): for a shared
    // token at ranks (px, py) the overlap splits into common tokens
    // before it (≤ min(px,py) − 1) and from it onward
    // (≤ min(|x|−px, |y|−py)+1), so B = min(px,py) + min(|x|−px,|y|−py)
    // bounds the true overlap O for EVERY shared-token row. Since
    // J(O) = O/(s−O) is increasing in O, a qualifying pair
    // (J(O_true) >= t) satisfies J(B) >= t on ALL its rows — so the
    // filter keeps the bound IN JACCARD FORM, B/(s−B) >= t, reusing
    // the exact float comparison of the final verification instead of
    // a ceil(t/(1+t)·s) threshold (whose float ceiling overshoots the
    // exact rational at e.g. t=0.9, s=133 and would drop boundary
    // pairs with J exactly t). Lossless by construction, while pairs
    // whose shared prefix tokens sit at asymmetric ranks (the bulk of
    // the templated-corpus candidate explosion: 10× corpus → ~10×
    // per-token df → ~100× bare-prefix candidates while true output
    // grew 2.5×) die before the distinct.
    val bnd = least(col("rn_a"), col("rn_b")) +
      least(col("sz_a") - col("rn_a"), col("sz_b") - col("rn_b"))
    // the length filter is stated in the same Jaccard form (O ≤ min
    // sizes, so J ≤ min/(s−min)): a ceil(t·sz) integer threshold would
    // hit the identical float-ceiling overshoot
    val minSz = least(col("sz_a"), col("sz_b"))
    val cand = a.join(b, Seq("tok"))
      .where(col("doc_a") < col("doc_b"))
      .where(
        minSz.cast("double") /
          (col("sz_a") + col("sz_b") - minSz).cast("double") >= t)
      .withColumn("__bnd", bnd)
      .where(
        col("__bnd").cast("double") /
          (col("sz_a") + col("sz_b") - col("__bnd")).cast("double") >= t)
      .select("doc_a", "doc_b").distinct()
    cand
  }

  /** All pairs (doc_a < doc_b) with token-set Jaccard >= t — exact and
    * complete. Output sizes/intersection as BIGINT; jaccard is one
    * IEEE division of exact integers (portable). */
  def jaccardJoin(docs: DataFrame, t: Double = DefaultThreshold): DataFrame = {
    // exact verification: candidate-bounded array intersection
    val arrs = tokenArrays(docs)
    candidates(docs, t)
      .join(arrs.select(col("doc_id").as("doc_a"), col("ts").as("ta")), Seq("doc_a"))
      .join(arrs.select(col("doc_id").as("doc_b"), col("ts").as("tb")), Seq("doc_b"))
      .select(
        col("doc_a"), col("doc_b"),
        size(col("ta")).cast("long").as("n_a"),
        size(col("tb")).cast("long").as("n_b"),
        size(array_intersect(col("ta"), col("tb"))).cast("long").as("n_inter"))
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
      .where(col("jaccard") >= t)
  }

  def engineQueries: Seq[EngineQuery] = Seq(
    EngineQuery(
      "setsim_jaccard_join",
      (s, dir) => jaccardJoin(
        Tables.documents(s, dir).where(col("doc_id") % GateDocFilter === 0))
        .orderBy("doc_a", "doc_b"),
      // brute-force complete oracle: every pair sharing >= 1 token
      Some(s"""WITH toks AS (
             |  SELECT DISTINCT doc_id, tok FROM (
             |    SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
             |    FROM documents WHERE length(trim(text)) > 0 AND doc_id % $GateDocFilter = 0)
             |  WHERE tok <> ''),
             |sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
             |pairs AS (
             |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
             |  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2)
             |SELECT doc_a, doc_b,
             |  CAST(sa.sz AS BIGINT) AS n_a, CAST(sb.sz AS BIGINT) AS n_b,
             |  CAST(inter AS BIGINT) AS n_inter,
             |  CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) AS jaccard
             |FROM pairs
             |JOIN sizes sa ON doc_a = sa.doc_id
             |JOIN sizes sb ON doc_b = sb.doc_id
             |WHERE CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) >= $DefaultThreshold
             |ORDER BY doc_a, doc_b""".stripMargin),
      // Gate-only, NOT a bench headline: the exact join's candidate
      // mass is inherently ~quadratic on this templated near-dup-dense
      // corpus (8-12s/pass at sf0.1, 21.8x at 10x data per the scale
      // probe) — correct as the exactness-premium option, but benching
      // it crowds out the wall budget; the 100 TB-representative dedup
      // headline is the capped MinHash path.
    ),
  )
}
