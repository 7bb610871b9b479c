package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{EngineQuery, Tables}

/** Character-entropy quality signal — the Shannon entropy of a
  * document's character distribution, the classic cheap gibberish /
  * repetition filter (RefinedWeb and Dolma both threshold on it: very
  * low entropy = repeated-char or template junk, very high = random
  * bytes / encoding garbage). Complements [[QualityFilters]]'s
  * token-level Gopher/C4 rules with a sub-token signal.
  *
  * Exactness: H = log2(n) − (1/n)·Σ c·log2(c) is all floats in the
  * naive form, so the operator computes the integer lane
  * Hq = n·qlog2(n) − Σ c·qlog2(c) with the [[Unigram]] fixed-point
  * base-2 log (qlog2 ≈ floor(256·log2), exact integer fold) — the
  * entropy in bits is Hq / (256·n), ONE IEEE division at the end, and
  * both threshold flags compare integer cross-products (no float at
  * any decision boundary).
  *
  * Scale shape (100 TB): everything happens inside the row — character
  * histogram via array higher-order functions (O(d·n) per row with d
  * bounded by the alphabet, not the document), the qlog2 folds are
  * codegen'd integer ops — zero shuffle; the gate's ORDER BY is the
  * only exchange.
  */
object CharEntropy {

  /** Flag cuts in qlog2-bits·256 units per char, compared exactly as
    * integer cross-products: low < 4.0 bits, high > 4.17 bits (the
    * harness corpus' ~p10/p90).
    */
  val LowCutQ = 1024L // 4.0 * 256
  val HighCutQ25 = 26688L // 4.17 * 256 * 25 (×25 keeps the cut integral)

  def charEntropy(docs: DataFrame): DataFrame = {
    docs
      // one tight histogram loop per row (functions.CharEntropyQ): the
      // HOF formulation (transform/sequence/substring + a sorted-run
      // fold) interprets per ELEMENT and allocated a UTF8String per
      // char — ~5µs/char; the native expression is ~ns/char.
      .withColumn("e", expr("char_entropy_q(text)"))
      .withColumn("n", coalesce(col("e.n"), lit(0L)))
      .withColumn("n_distinct_chars", coalesce(col("e.nd"), lit(0L)))
      .withColumn("hq_scaled", coalesce(col("e.hq"), lit(0L)))
      .select(
        col("doc_id"),
        col("n").as("n_chars_counted"),
        col("n_distinct_chars"),
        col("hq_scaled"),
        when(col("n") === 0, lit(0.0))
          .otherwise(col("hq_scaled").cast("double") / (lit(256.0) * col("n").cast("double")))
          .as("entropy_bits"),
        (col("n") > 0 && col("hq_scaled") < lit(LowCutQ) * col("n")).as("flag_low"),
        (col("n") > 0 && col("hq_scaled") * 25 > lit(HighCutQ25) * col("n")).as("flag_high"))
  }

  def engineQueries: Seq[EngineQuery] = Seq(
    EngineQuery(
      "char_entropy_quality",
      (s, dir) => charEntropy(Tables.documents(s, dir)).orderBy("doc_id"),
      Some(s"""WITH cs AS (
             |  SELECT doc_id, CAST(coalesce(length(text), 0) AS BIGINT) AS n,
             |    list_transform(range(1, length(text) + 1),
             |                   i -> substr(text, CAST(i AS INT), 1)) AS chars
             |  FROM documents),
             |cnt AS (
             |  SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c
             |  FROM (SELECT doc_id, unnest(chars) AS ch FROM cs) u GROUP BY doc_id, ch),
             |h AS (
             |  SELECT doc_id, CAST(sum(c * ${Unigram.duckQlog2("c")}) AS BIGINT) AS sumc,
             |    CAST(count(*) AS BIGINT) AS nd
             |  FROM cnt GROUP BY doc_id)
             |SELECT cs.doc_id, cs.n AS n_chars_counted,
             |  CASE WHEN cs.n = 0 THEN 0 ELSE h.nd END AS n_distinct_chars,
             |  CAST(CASE WHEN cs.n = 0 THEN 0
             |       ELSE cs.n * ${Unigram.duckQlog2("cs.n")} - h.sumc END AS BIGINT) AS hq_scaled,
             |  CASE WHEN cs.n = 0 THEN 0.0
             |       ELSE CAST(cs.n * ${Unigram.duckQlog2("cs.n")} - h.sumc AS DOUBLE)
             |            / (256.0 * CAST(cs.n AS DOUBLE)) END AS entropy_bits,
             |  cs.n > 0 AND (cs.n * ${Unigram.duckQlog2("cs.n")} - h.sumc) < $LowCutQ * cs.n AS flag_low,
             |  cs.n > 0 AND (cs.n * ${Unigram.duckQlog2("cs.n")} - h.sumc) * 25 > $HighCutQ25 * cs.n AS flag_high
             |FROM cs LEFT JOIN h USING (doc_id)
             |ORDER BY cs.doc_id""".stripMargin),
    ),
  )
}
