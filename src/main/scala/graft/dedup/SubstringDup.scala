package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{EngineQuery, Tables}

/** Exact substring-duplication detection — the distributed stand-in for
  * suffix-array exact-substring dedup (Lee et al. 2022, "Deduplicating
  * Training Data Makes Language Models Better"): a character k-gram
  * appearing in more than one document marks a verbatim cross-document
  * copy of length >= k. Where the paper builds one suffix array, the
  * Spark-idiomatic shape is gram-hash + one shuffle:
  *
  *  1. each doc hashes ALL of its length-`k` character windows, then
  *     keeps only grams whose hash falls in a fixed fraction of hash
  *     space (low `sampleBits` bits zero → keep probability
  *     2^-sampleBits). Selection is CONTENT-DEFINED: it depends only
  *     on the window's characters, so two verbatim copies of a span
  *     select the exact same grams no matter how the copies are
  *     aligned within their documents — unlike fixed-stride position
  *     sampling, which only matches copies at equal offsets mod stride.
  *     A copied span of length L contains L-k+1 grams, each kept with
  *     p = 2^-sampleBits; at the defaults (k=40, sampleBits=3) a span
  *     of k+39 chars is missed with probability (7/8)^40 ≈ 0.5%, and
  *     the miss probability halves every ~5 extra chars of span.
  *     The window hash is the O(1)-per-window two-lane polynomial
  *     rolling hash of [[graft.text.RollingHash]] (r13; previously
  *     md5, whose O(k) digest per position made this query ~40× more
  *     CPU than its scan — same selection semantics, same oracle
  *     replayability, 62-bit collision space).
  *  2. one hash-partitioned aggregation finds kept grams spanning >= 2
  *     distinct docs;
  *  3. grams join back (left join, same key — AQE reuses the
  *     partitioning) and re-aggregate per doc.
  *
  * Output per document: kept grams, duplicated kept grams, the
  * duplication ratio (an unbiased estimate of the duplicated-window
  * fraction, since selection is independent of duplication), and the
  * first duplicated kept offset (-1 when clean) — the signal a curation
  * pipeline thresholds on to drop or trim copied documents.
  *
  * Scale notes: the only wide operations are the two gram aggregations,
  * both partial+final on the gram hash; nothing driver-side, no
  * all-pairs. Hashing every window costs ~k× the corpus bytes of md5
  * CPU — embarrassingly parallel, zero shuffle — while the shuffle
  * (the real 100 TB bottleneck) carries only the 2^-sampleBits kept
  * fraction. Docs shorter than k legitimately emit no grams and
  * surface with n_grams = 0 via the final left join from the docs
  * relation.
  */
object SubstringDup {

  def substringDupStats(docs: DataFrame, k: Int = 40, sampleBits: Int = 3): DataFrame = {
    require(k >= 1 && k <= graft.text.RollingHash.MaxK,
      s"k must be in [1, ${graft.text.RollingHash.MaxK}], got $k")
    require(sampleBits >= 0 && sampleBits <= 4, s"sampleBits must be 0..4, got $sampleBits")
    // the rolling-hash generator emits (1-based pos, 62-bit hash) per
    // window in one O(len) map-stage pass; the keep test reads the low
    // bits (the combined hash ≡ lane-2 mod 2^sampleBits, uniform over
    // text), so only the kept 2^-sampleBits fraction ever leaves the row
    val grams = graft.Partitioning.fanOut(docs)
      .where(length(col("text")) >= k)
      .selectExpr("doc_id", s"rolling_hashes(text, $k, ${1 << sampleBits}) AS (p, h)")
    val dupHashes = grams.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .where(col("nd") > 1)
      .select("h")
    val perDoc = grams.join(dupHashes.withColumn("dup", lit(true)), Seq("h"), "left_outer")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_grams"),
        count(col("dup")).as("n_dup_grams"),
        coalesce(min(when(col("dup"), col("p"))).cast("long"), lit(-1L)).as("first_dup_pos"))
    docs.select("doc_id").join(perDoc, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        (coalesce(col("n_dup_grams"), lit(0L)).cast("double") /
          greatest(coalesce(col("n_grams"), lit(0L)), lit(1L)).cast("double")).as("dup_ratio"),
        coalesce(col("first_dup_pos"), lit(-1L)).as("first_dup_pos"))
  }

  def engineQueries: Seq[EngineQuery] = Seq(
    EngineQuery(
      "substring_dup_stats",
      (s, dir) => substringDupStats(Tables.documents(s, dir)).orderBy("doc_id"),
      Some(s"""WITH allgrams AS (
             |  SELECT doc_id, p, ${graft.text.RollingHash.duckWindowHash("text", "p", 40)} AS h
             |  FROM documents, unnest(generate_series(1, length(text) - 39)) AS g(p)
             |  WHERE length(text) >= 40),
             |grams AS (
             |  SELECT * FROM allgrams WHERE h % 8 = 0),
             |duph AS (
             |  SELECT h FROM grams GROUP BY h HAVING count(DISTINCT doc_id) > 1),
             |perdoc AS (
             |  SELECT g.doc_id, count(*) AS n_grams,
             |    count(d.h) AS n_dup_grams,
             |    coalesce(CAST(min(CASE WHEN d.h IS NOT NULL THEN g.p END) AS BIGINT), -1) AS first_dup_pos
             |  FROM grams g LEFT JOIN duph d ON g.h = d.h
             |  GROUP BY g.doc_id)
             |SELECT doc_id,
             |  coalesce(n_grams, 0) AS n_grams,
             |  coalesce(n_dup_grams, 0) AS n_dup_grams,
             |  CAST(coalesce(n_dup_grams, 0) AS DOUBLE)
             |    / CAST(greatest(coalesce(n_grams, 0), 1) AS DOUBLE) AS dup_ratio,
             |  coalesce(first_dup_pos, -1) AS first_dup_pos
             |FROM documents LEFT JOIN perdoc USING (doc_id)
             |ORDER BY doc_id""".stripMargin),
      headline = true,
    ),
  )
}
