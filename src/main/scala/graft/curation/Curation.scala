package graft.curation

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{EngineQuery, Tables}

/** Training-data curation operators (north-star extension; the reference
  * engine — a k-mer counter — has none of these, but any 100 TB corpus
  * pipeline runs them between ingestion and training):
  *
  *  - deterministic hash bucketing → train/val/test split and sampling
  *    that is reproducible under reruns, retries, and any partitioning
  *    (a `rand()` sample is none of those: task retries resample);
  *  - stratified sampling with per-stratum rates (down-weight
  *    over-represented languages/sources without a full shuffle);
  *  - global deterministic shuffle order (training-data randomization
  *    as a range-partitioned sort by a hash key — no RNG state);
  *  - Gopher-style repetition scoring (top-token dominance);
  *  - PII scrubbing (email/phone redaction) as codegen'd regex
  *    projections;
  *  - benchmark decontamination: drop docs sharing word n-grams with a
  *    holdout set (the standard eval-leak guard), holdout side
  *    broadcast;
  *  - sequence packing: fixed-token-budget bin assignment per language
  *    via a windowed running sum (the concat-then-chunk packing shape).
  *
  * Portability: all hashing is md5-hex (identical in Spark and DuckDB;
  * same trick as [[graft.dedup.Dedup]]); ratios are exact-integer
  * divisions surfaced as double at the end.
  *
  * Scale notes: bucketing/scrubbing/repetition are narrow projections or
  * single partial+final aggregations; the split/sample queries add NO
  * shuffle at all (pure filter+project — they stream); shuffle-order and
  * packing are one range-sort / one window pass; decontamination
  * broadcasts the (small) holdout gram set so the corpus never shuffles.
  */
object Curation {

  /** Deterministic bucket in [0, mod): first 8 md5 hex digits of the
    * key rendered as an integer. Stable across engines, partitionings,
    * and retries — the property `rand()`-based sampling lacks.
    */
  def md5Bucket(key: Column, mod: Int): Column =
    conv(substring(md5(key.cast("string")), 1, 8), 16, 10).cast("long") % mod

  /** DuckDB twin of [[md5Bucket]] (same first-8-hex-digits integer). */
  def duckMd5Bucket(keyExpr: String, mod: Int): String =
    s"CAST('0x' || substr(md5(CAST($keyExpr AS VARCHAR)), 1, 8) AS BIGINT) % $mod"

  /** The 80/10/10 split rule over a [0,100) bucket — ONE definition
    * shared by [[splitAssign]] and [[curatedCorpus]] (and mirrored once
    * for the oracles by [[duckSplitCase]]); changing the ratio means
    * changing exactly these two functions.
    */
  def splitCol(bucket: Column): Column =
    when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")

  /** DuckDB twin of [[splitCol]] over a bucket SQL expression. */
  def duckSplitCase(bucketExpr: String): String =
    s"CASE WHEN $bucketExpr < 80 THEN 'train' WHEN $bucketExpr < 90 THEN 'val' ELSE 'test' END"

  /** (doc_id, bucket, split): 80/10/10 train/val/test by hash bucket. */
  def splitAssign(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      md5Bucket(col("doc_id"), 100).as("bucket"))
      .withColumn("split", splitCol(col("bucket")))

  /** Per-source corpus accounting — the crawl-curation rollup that
    * drives domain-level decisions (blocklists, per-host caps, source
    * mixture weights; the RefinedWeb/C4 URL-filtering stage with the
    * harness's `source` column standing in for the host). One
    * partial+final aggregate keyed by source; every measure is exact
    * integer arithmetic.
    */
  def sourceRollup(docs: DataFrame): DataFrame =
    docs.groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        countDistinct(col("lang")).as("n_langs"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("n_chars")).as("max_chars"))

  /** Canonical host of each doc's synthetic URL — the SHARED
    * [[graft.dedup.UrlDedup.hostCol]] definition (computable map-side
    * from doc_id alone), so host-level operators never join against the
    * canonicalized URL relation and can never drift from the URL
    * family's host scheme.
    */
  private def hostCol: Column = graft.dedup.UrlDedup.hostCol

  /** Host-level quality reputation — the FineWeb/RefinedWeb domain
    * filtering rung: per-doc Gopher pass flags roll up to a per-HOST
    * pass rate (exact ppm), and a host is kept iff its rate is at or
    * above the corpus-wide rate (a relative rule, so the cut stays
    * meaningful as absolute quality drifts between crawls). One
    * corpus-scale projection (the Gopher flags are map-side lambdas),
    * one host-keyed aggregation, and everything after runs at HOST
    * cardinality with the 2-scalar global as a broadcast carrier.
    */
  /** Per-host (n_docs, n_pass) Gopher rollup — the ONE corpus-scale
    * pass the host-reputation family runs, pinned (host cardinality,
    * so the checkpoint is tiny) because the global rate AND the output
    * projection both consume it: unpinned, the corpus-scale Gopher
    * projection subtree appeared twice in the plan with only
    * exchange-reuse standing between it and a double corpus scan
    * (r17 ADVICE). By-convention pin — harness frees. NOTE the pin is
    * EAGER: merely CONSTRUCTING a host-reputation frame executes the
    * full corpus-scale Gopher rollup job, so plan-only callers
    * (PlanAuditSpec, the PLANS.md regeneration) pay one real rollup
    * per audited section — the accepted cost of guaranteeing the
    * corpus is scanned exactly once for every real caller (a lazy pin
    * would put the double-scan risk back in the window between
    * construction and the first action).
    */
  private def perHostPassCounts(docs: DataFrame): DataFrame =
    graft.text.QualityFilters.gopherQualityFlags(docs)
      .select(col("doc_id"), col("pass"))
      .withColumn("host", hostCol)
      .groupBy("host")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"))
      .localCheckpoint(true)

  /** perHost × broadcast(global) with the shared ppm projections — the
    * one scaffolding both host-verdict variants build on, so the raw
    * and smoothed rules can never drift on anything but their own
    * verdict columns.
    */
  private def hostRatesBase(docs: DataFrame): DataFrame = {
    val perHost = perHostPassCounts(docs)
    val global = perHost.agg(
      sum("n_docs").as("g_docs"), sum("n_pass").as("g_pass"))
    perHost.crossJoin(broadcast(global))
      .withColumn("pass_ppm", expr("(1000000 * n_pass) div n_docs"))
      .withColumn("global_ppm", expr("(1000000 * g_pass) div greatest(g_docs, 1)"))
  }

  def hostQualityRollup(docs: DataFrame): DataFrame =
    hostRatesBase(docs)
      .select(col("host"), col("n_docs"), col("n_pass"),
        col("pass_ppm"), col("global_ppm"))
      .withColumn("keep_host", col("pass_ppm") >= col("global_ppm"))

  /** Sparse-slice modulus for the thin-evidence gate below: a fresh
    * crawl BATCH (the incremental setting every production domain
    * filter actually runs in) carries a few docs per host, not
    * thousands — `doc_id % 53 = 0` stands in for one such batch. At
    * both gate SFs the slice leaves hosts with 1-3 docs, where the
    * smoothed and raw rules provably disagree (the flip the gate
    * exists to demonstrate: sf0.01 flips 2 hosts, sf0.1 flips 1).
    */
  val ThinBatchMod = 53L

  /** Minimum-evidence variant of the host keep rule (r17 verdict item
    * 4): the raw relative rule keeps or cuts a 1-doc host on ONE
    * document. Laplace smoothing with α=1 — keep iff
    * (n_pass+1)/(n_docs+2) ≥ g_pass/g_docs — shrinks thin hosts
    * toward 1/2 so no host is condemned (or canonized) on a single
    * observation. The comparison cross-multiplies count-by-count, so
    * it rides the DECIMAL(38,0)/HUGEINT wide-lane convention (the
    * langid-χ² precedent): host×corpus count products wrap int64 at
    * ~10⁹·10¹⁰ docs — exactly the scale this operator is documented
    * for. Emits BOTH verdicts plus a `flipped` marker so the gate
    * carries its own evidence that the smoothing binds.
    */
  def hostQualityRollupSmoothed(docs: DataFrame, alpha: Long = 1L): DataFrame =
    hostRatesBase(docs)
      .select(col("host"), col("n_docs"), col("n_pass"),
        col("pass_ppm"),
        expr(s"(1000000 * (n_pass + $alpha)) div (n_docs + ${2 * alpha})").as("smooth_ppm"),
        col("global_ppm"),
        (col("pass_ppm") >= col("global_ppm")).as("keep_raw"),
        expr(s"""CAST(n_pass + $alpha AS DECIMAL(38,0)) * g_docs
                | >= CAST(g_pass AS DECIMAL(38,0)) * (n_docs + ${2 * alpha})""".stripMargin)
          .as("keep_smooth"))
      .withColumn("flipped", col("keep_raw") =!= col("keep_smooth"))

  /** Apply the host-reputation cut: docs from kept hosts survive. The
    * host relation is host-cardinality, so the corpus attaches it by
    * BROADCAST and never shuffles — the shape that matters when the
    * corpus is 100 TB and the host table is thousands of rows.
    */
  def hostQualityFilter(docs: DataFrame): DataFrame = {
    val kept = hostQualityRollup(docs).where(col("keep_host")).select("host")
    docs.select(col("doc_id"), hostCol.as("host"))
      .join(broadcast(kept), Seq("host"))
      .select("doc_id")
  }

  /** Per-source dominance cap: keep at most `cap` documents per source,
    * chosen by a deterministic md5 priority (seeded, so reruns and
    * repartitioning pick the identical subset) — the per-host cap every
    * crawl pipeline applies so one mirror/forum dump can't dominate the
    * corpus. The rank cut runs as WindowGroupLimit below the window
    * sort: each partition retains ≤ cap candidates per source and no
    * source group ever materializes whole.
    */
  def sourceCapSample(docs: DataFrame, cap: Int, seed: String): DataFrame =
    docs
      .withColumn("__pri", md5(concat(lit(seed + ":"), col("doc_id").cast("string"))))
      .withColumn("rk",
        row_number().over(Window.partitionBy("source").orderBy(col("__pri"), col("doc_id"))))
      .where(col("rk") <= cap)
      .select(col("doc_id"), col("source"), col("rk").cast("long").as("rk"))

  /** Per-stratum deterministic sampling: keep a doc iff its hash bucket
    * (per-mille) falls under its stratum's rate. Rates are a plain
    * column expression, so the plan is filter+project — no shuffle, no
    * per-stratum pass.
    */
  def stratifiedSample(docs: DataFrame, rates: Map[String, Int], defaultRate: Int): DataFrame = {
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (lang, r)) =>
      when(col("lang") === lang, r).otherwise(acc)
    }
    docs.select(col("doc_id"), col("lang"), col("source"), md5Bucket(col("doc_id"), 1000).as("mille"))
      .where(col("mille") < rate)
  }

  /** (doc_id, pos): global deterministic shuffle order — pseudorandom
    * but reproducible (hash sort key, no RNG state).
    *
    * A naive `row_number() OVER (ORDER BY hash)` is a scale-killer: a
    * global window moves EVERY row into one partition. Instead the
    * total order is (bucket, md5key, id) and the position decomposes as
    * bucket offset + within-bucket rank: per-bucket counts (tiny
    * aggregate) → prefix offsets (window over `buckets` rows, driver-
    * sized) → broadcast back → rank windows partitioned by bucket run
    * in parallel. Identical output to the global row_number over the
    * same total order, shuffle bounded by one hash exchange.
    */
  def shuffleOrder(docs: DataFrame, buckets: Int = 64): DataFrame = {
    val keyed = docs.select(
      col("doc_id"),
      md5Bucket(col("doc_id"), buckets).as("b"),
      md5(col("doc_id").cast("string")).as("hk"))
    val offsets = keyed.groupBy("b").agg(count(lit(1)).as("n"))
      .withColumn("offset",
        coalesce(
          sum(col("n")).over(
            Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select("b", "offset")
    keyed.join(broadcast(offsets), Seq("b"))
      .select(
        col("doc_id"),
        (col("offset") +
          row_number().over(Window.partitionBy("b").orderBy("hk", "doc_id")).cast("long"))
          .as("pos"))
  }

  /** Deterministic curriculum interleave — the training ORDER a
    * temperature mixture actually becomes on disk: every source emits
    * its (md5-ranked) documents at STRIDE-SCHEDULED virtual times
    * vt(r) = (r·Σw) div w_s with weights w_s = floor(√n_s·1000) (the
    * [[temperatureSample]] α=0.5 convention), so any prefix of the
    * global (vt, source) order contains each source ∝ its weight —
    * smooth interleaving, never source blocks (the waiting-room
    * pacing a sampled mixture only achieves in expectation, made
    * deterministic and restart-reproducible). vt increments per source
    * are ≥ 1 (Σw ≥ w_s), so (vt, source) is a total order.
    *
    * Scale shape: BOTH rank passes are bucket-decomposed (the
    * [[shuffleOrder]] discipline): the per-source rank r runs per
    * (source, md5-bucket) cell with broadcast cell offsets, and the
    * global position runs per coarse vt-range bucket with broadcast
    * range offsets — no single-partition window anywhere. The stride
    * product runs in DECIMAL(38,0) / HUGEINT (r·Σw can pass 2^63 long
    * before vt does).
    */
  def curriculumInterleave(docs: DataFrame, buckets: Int = 64): DataFrame = {
    val keyed = docs.select(
      col("doc_id"), col("source"),
      md5Bucket(col("doc_id"), buckets).as("b"),
      md5(col("doc_id").cast("string")).as("hk"))
    val cellOff = keyed.groupBy("source", "b").agg(count(lit(1)).as("n"))
      .withColumn("off",
        coalesce(
          sum(col("n")).over(Window.partitionBy("source").orderBy("b")
            .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select("source", "b", "off")
    val weights = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .withColumn("w", floor(sqrt(col("n_docs").cast("double")) * 1000).cast("long"))
      .withColumn("wtot", expr("sum(w) over ()"))
      .select("source", "w", "wtot")
    val ranked = keyed.join(broadcast(cellOff), Seq("source", "b"))
      .withColumn("r",
        col("off") + row_number().over(
          Window.partitionBy("source", "b").orderBy("hk", "doc_id")).cast("long"))
      .join(broadcast(weights), "source")
      .withColumn("vt",
        expr("CAST((CAST(r AS decimal(38,0)) * wtot) div w AS BIGINT)"))
      .select("doc_id", "source", "vt")
    val vmax = ranked.agg(max(col("vt")).as("vmax"))
    val withB2 = ranked.crossJoin(broadcast(vmax))
      .withColumn("b2", least(
        expr(s"vt div greatest(vmax div $buckets, 1)"), lit(buckets.toLong)))
      .select("doc_id", "source", "vt", "b2")
    val rangeOff = withB2.groupBy("b2").agg(count(lit(1)).as("n"))
      .withColumn("off",
        coalesce(
          sum(col("n")).over(
            Window.orderBy("b2").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select("b2", "off")
    withB2.join(broadcast(rangeOff), "b2")
      .withColumn("pos",
        col("off") + row_number().over(
          Window.partitionBy("b2").orderBy("vt", "source")).cast("long"))
      .select("doc_id", "source", "vt", "pos")
  }

  /** Balanced per-class cap: keep at most `cap` docs per stratum,
    * chosen by hash rank (deterministic, partitioning-invariant — the
    * same docs survive every rerun). The window partitions by stratum,
    * so all class windows rank in parallel; the classic guard against
    * one language/source dominating a training mix.
    */
  def balancedCap(docs: DataFrame, stratum: String, cap: Int): DataFrame = {
    val w = Window.partitionBy(col(stratum))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    docs.select(col("doc_id"), col(stratum))
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= cap)
  }

  /** Data selection under a token budget: keep the best-quality
    * documents whose running token total stays within `num/den` of the
    * corpus's total tokens — the "fill the training budget with the
    * best data first" selection every pretraining mix performs, made
    * deterministic (quality score + doc_id tie-break, no sampling).
    *
    * A naive `sum(n_tokens) OVER (ORDER BY score DESC)` is a global
    * window — one partition holds the corpus. Like [[shuffleOrder]],
    * the running sum decomposes exactly: quantize the score into
    * `buckets` ranges (score is monotone in its bucket, so global
    * (score DESC, doc_id) order = (bucket DESC, score DESC, doc_id)),
    * take per-bucket token totals (tiny relation → driver-free window
    * for prefix offsets, broadcast back), and run the within-bucket
    * cumulative sum partitioned by bucket — all buckets in parallel,
    * no global window, identical output. The budget threshold is exact
    * integer arithmetic (`(total * num) div den`), so both engines cut
    * at the same row.
    */
  def tokenBudgetSelect(
      docs: DataFrame, num: Int = BudgetNum, den: Int = BudgetDen,
      buckets: Int = 50): DataFrame =
    tokenBudgetCore(docs, Nil, num, den, buckets)

  /** The one bucket-decomposed budget implementation behind both
    * [[tokenBudgetSelect]] (no strata) and [[tokenBudgetByLang]]
    * (`strata = Seq("lang")`): quantize the score, aggregate
    * per-(strata, bucket) token totals small, broadcast prefix offsets
    * back, run the corpus-sized cumulative sum partitioned by
    * (strata, bucket), and cut at `num/den` of each stratum's total
    * with exact integer arithmetic.
    */
  private def tokenBudgetCore(
      docs: DataFrame, strata: Seq[String], num: Int, den: Int,
      buckets: Int): DataFrame = {
    val sc = strata.map(col)
    val keyed = graft.text.TextAnalysis.qualityScored(docs, strata)
      .select(col("doc_id") +: sc ++: Seq(col("n_tokens"), col("score")): _*)
      .withColumn(
        "qb", least(floor(col("score") * buckets), lit((buckets - 1).toLong)).cast("long"))
    val gCols = strata :+ "qb"
    val perBucket = keyed.groupBy(gCols.map(col): _*).agg(sum("n_tokens").as("bt"))
    val offBase =
      if (strata.isEmpty) Window.orderBy(col("qb").desc)
      else Window.partitionBy(sc: _*).orderBy(col("qb").desc)
    val off = perBucket
      .withColumn(
        "offset",
        coalesce(
          sum(col("bt")).over(offBase.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select((gCols :+ "offset").map(col): _*)
    val total =
      if (strata.isEmpty) perBucket.groupBy().agg(sum("bt").as("tt"))
      else perBucket.groupBy(sc: _*).agg(sum("bt").as("tt"))
    val withCum = keyed
      .join(broadcast(off), gCols)
      .withColumn(
        "cum_tokens",
        col("offset") + sum(col("n_tokens")).over(
          Window.partitionBy(gCols.map(col): _*)
            .orderBy(col("score").desc, col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, 0)))
    val withTotal =
      if (strata.isEmpty) withCum.crossJoin(broadcast(total))
      else withCum.join(broadcast(total), strata)
    withTotal
      .where(expr(s"cum_tokens <= (tt * $num) div $den"))
      .select((Seq("doc_id") ++ strata ++ Seq("n_tokens", "score", "cum_tokens")).map(col): _*)
  }

  /** Per-stratum [[tokenBudgetSelect]]: each language fills `num/den`
    * of ITS OWN token total with its best documents — how a
    * pretraining mix allocates per-language token budgets (a global
    * budget would let one quality-skewed language starve the others).
    * Same decomposition, one level deeper: the running sum partitions
    * by (lang, qb), the offsets/totals relation is ≤ langs×buckets
    * rows, and the per-lang offsets window runs over that tiny
    * aggregate partitioned by lang.
    */
  def tokenBudgetByLang(
      docs: DataFrame, num: Int = BudgetNum, den: Int = BudgetDen,
      buckets: Int = 50): DataFrame =
    tokenBudgetCore(docs, Seq("lang"), num, den, buckets)

  /** Gate-query budget ratio (40%), shared by the Spark defaults and
    * the DuckDB oracle twins so the two sides cannot drift.
    */
  val BudgetNum = 2
  val BudgetDen = 5

  /** DuckDB twin of [[tokenBudgetCore]] for the gate ratio — the
    * naive per-stratum global window the decomposition must equal.
    */
  private def duckTokenBudget(strata: Seq[String]): String = {
    val cy = strata.map(s => s"$s, ").mkString
    val cCy = strata.map(s => s"c.$s, ").mkString
    val part = if (strata.isEmpty) "" else s"PARTITION BY ${strata.mkString(", ")} "
    val grp = if (strata.isEmpty) "" else s"GROUP BY ${strata.mkString(", ")}"
    val joinTot =
      if (strata.isEmpty) "CROSS JOIN tot"
      else s"JOIN tot USING (${strata.mkString(", ")})"
    s"""WITH q AS (${graft.text.TextAnalysis.duckQualityCarry(strata)}),
       |c AS (SELECT doc_id, ${cy}n_tokens, score,
       |  CAST(sum(n_tokens) OVER (${part}ORDER BY score DESC, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
       |  FROM q),
       |tot AS (SELECT ${cy}sum(n_tokens) AS tt FROM q $grp)
       |SELECT c.doc_id, ${cCy}c.n_tokens, c.score, c.cum_tokens
       |FROM c $joinTot WHERE cum_tokens <= (tt * $BudgetNum) // $BudgetDen
       |ORDER BY c.doc_id""".stripMargin
  }

  /** α-sampling mixture budgets (Conneau & Lample / XLM-R: sample
    * language l with probability ∝ p_l^α, α ≈ 0.5, to up-weight
    * low-resource languages without drowning high-resource ones): per
    * language, the token budget a total budget splits into under
    * α = 0.5.
    *
    * Exactness: p^0.5 is sqrt, and IEEE-754 sqrt is CORRECTLY ROUNDED
    * in both engines, so floor(sqrt(n_tokens)) is the same integer on
    * both sides (the true sqrt of a non-square is irrational — never at
    * a rounding boundary; squares round exactly). From there the
    * weights, the weight total, and the budget split
    * total·w_l div Σw are pure BIGINT arithmetic.
    *
    * Scale shape: one (lang, token-count) aggregation over the corpus
    * (map-side combined), then everything runs at |langs| cardinality
    * with a single-row total broadcast — the mixture_report shape with
    * an isqrt reweighting on top.
    */
  def mixtureAlphaBudget(docs: DataFrame, totalBudget: Long): DataFrame = {
    val per = docs.select(
      col("lang"),
      size(graft.text.TextAnalysis.wsTokens(col("text"))).cast("long").as("n_tok"))
      .groupBy("lang").agg(sum("n_tok").cast("long").as("n_tokens"))
      .withColumn("w", floor(sqrt(col("n_tokens").cast("double"))).cast("long"))
    val tot = per.agg(sum("w").cast("long").as("tw"))
    per.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_tokens"), col("w"),
        expr(s"($totalBudget * w) div tw").as("budget_tokens"))
  }

  /** UniMax language budgets (Chung et al. 2023, "UniMax: Fairer and
    * More Effective Language Sampling for Large-Scale Multilingual
    * Pretraining"): split a total token budget UNIFORMLY across
    * languages, except no language may exceed `epochCap` epochs of its
    * own corpus — the published alternative to temperature/α sampling
    * that avoids both starving low-resource languages and over-epoching
    * them. The allocation is the classic waterfill: languages whose
    * capacity cap_l = epochCap·n_l sits below the uniform share take
    * their full capacity; the freed budget redistributes uniformly over
    * the rest.
    *
    * Exact-integer semantics (so DuckDB hash-matches): order languages
    * by ASCENDING capacity (ties by lang) — the capped set is then a
    * PREFIX, and language i is capped iff
    * cap_i·(L−i+1) < B − prefixcap_{i−1} (cross-multiplied, no
    * division). The uncapped remainder R = B − Σ capped caps splits as
    * R div (L−k) each, with the R mod (L−k) leftover tokens going one
    * each to the first uncapped languages in the same order — the
    * largest-remainder convention `sample_apportioned` already uses, so
    * Σ budget_tokens = min(B, Σ cap) EXACTLY.
    *
    * Scale shape: ONE (lang, token-count) corpus aggregation
    * (map-side combined); the ordering window, prefix sums, cap test,
    * and the two-scalar (k, R) broadcast all run at |langs| cardinality.
    */
  def unimaxBudget(docs: DataFrame, totalBudget: Long, epochCap: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = docs.select(
        col("lang"),
        size(graft.text.TextAnalysis.wsTokens(col("text"))).cast("long").as("n_tok"))
      .groupBy("lang").agg(sum("n_tok").cast("long").as("n_tokens"))
      .withColumn("cap_tokens", col("n_tokens") * epochCap)
    // |langs|-cardinality windows — bounded, never corpus-scale
    val byCap = Window.orderBy("cap_tokens", "lang")
    val ranked = per
      .withColumn("i", row_number().over(byCap).cast("long"))
      .withColumn("pref", sum("cap_tokens").over(byCap))
      .withColumn("l", count(lit(1)).over(Window.partitionBy()))
      .withColumn("is_capped",
        expr(s"cap_tokens * (l - i + 1) < $totalBudget - (pref - cap_tokens)"))
    val scalars = ranked.agg(
      sum(when(col("is_capped"), 1L).otherwise(0L)).as("k"),
      coalesce(sum(when(col("is_capped"), col("cap_tokens"))), lit(0L)).as("capsum"))
    ranked.crossJoin(broadcast(scalars))
      .select(col("lang"), col("n_tokens"), col("cap_tokens"), col("is_capped"),
        when(col("is_capped"), col("cap_tokens")).otherwise(
          expr(s"($totalBudget - capsum) div greatest(l - k, 1) + " +
            s"CASE WHEN i - k <= ($totalBudget - capsum) % greatest(l - k, 1) THEN 1 ELSE 0 END"))
          .as("budget_tokens"))
      .withColumn("epochs_ppm",
        expr("(1000000 * budget_tokens) div greatest(n_tokens, 1)"))
  }

  /** DoReMi-style multiplicative-weights domain reweighting
    * (Xie et al. 2023, "DoReMi: Optimizing Data Mixtures Speeds Up
    * Language Model Pretraining" — the exponentiated-gradient loop,
    * here with a static per-domain loss proxy instead of a proxy-model
    * loss). Each round every domain's weight is multiplied by
    * 1 + η·(loss_d − weighted-mean loss) and the weights are
    * renormalized — domains whose loss sits above the current weighted
    * mean gain mass, domains below lose it, and the loop converges
    * toward the high-excess-loss domains exactly like DoReMi's
    * reference behavior.
    *
    * INTEGER-EXACT so the DuckDB oracle hash-matches: weights live in
    * ppm (Σ = 10⁶ after each renormalization), the loss proxy is
    * clamped chars-per-token ppm (`least(…, 10·10⁶)` — whitespace-free
    * scripts like zh would otherwise blow the lane), and the update
    * factor is 10⁶ + sign(excess)·(|excess| div η⁻¹) — magnitude-first
    * division because Spark `div` truncates toward zero while DuckDB
    * `//` floors, which disagree on negative values (the Drift sign
    * rule). With loss ≤ 10⁷ and η⁻¹ = 20 the factor stays in
    * [0.5·10⁶, 1.5·10⁶], so weights stay positive and every product
    * fits comfortably in BIGINT (≤ 10⁶·1.5·10⁶ = 1.5·10¹²; the
    * weighted-loss numerator ≤ |domains|·10⁶·10⁷ ≈ 5·10¹³).
    *
    * Scale (100 TB): the corpus collapses to |domains| rows in ONE
    * map-side-combined aggregation; every round after that runs window
    * sums over that single tiny partition — round count never touches
    * corpus-scale data. No checkpoint needed: the unrolled plan is
    * ~5 window ops per round on ≤ a few hundred rows.
    */
  def doremiWeights(docs: DataFrame, rounds: Int, invEta: Long = 20L): DataFrame = {
    val per = docs.select(
        col("lang"),
        col("n_chars"),
        size(graft.text.TextAnalysis.wsTokens(col("text"))).cast("long").as("n_tok"))
      .groupBy("lang")
      .agg(
        sum(col("n_chars")).cast("long").as("sum_chars"),
        sum(col("n_tok")).cast("long").as("sum_tokens"))
      .withColumn("loss_ppm",
        least(expr("(1000000 * sum_chars) div greatest(sum_tokens, 1)"), lit(10000000L)))
    var w = per.withColumn("w_ppm", lit(1000000L))
    (1 to rounds).foreach { _ =>
      w = w
        .withColumn("wavg", expr(
          "(sum(w_ppm * loss_ppm) over ()) div greatest(sum(w_ppm) over (), 1)"))
        .withColumn("f", expr(
          """1000000 + CASE WHEN loss_ppm >= wavg
            |  THEN (loss_ppm - wavg) div """.stripMargin + invEta +
            " ELSE -((wavg - loss_ppm) div " + invEta + ") END"))
        .withColumn("w_raw", expr("(w_ppm * f) div 1000000"))
        .withColumn("w_ppm", expr("(w_raw * 1000000) div greatest(sum(w_raw) over (), 1)"))
        .select("lang", "sum_chars", "sum_tokens", "loss_ppm", "w_ppm")
    }
    w.select(col("lang"), col("sum_tokens"), col("loss_ppm"), col("w_ppm").as("weight_ppm"))
  }

  /** Choose→APPLY for the DoReMi loop (r18 verdict item 1b: the
    * multiplicative-weights rounds produced a final mixture and nothing
    * sampled under it — the learned weights were never applied). The
    * corpus is sampled UNDER [[doremiWeights]]' final-round weights via
    * the exact largest-remainder (Hamilton) apportionment
    * [[apportionedSample]] established: per-lang quotas proportional to
    * weight_ppm summing to EXACTLY `budget` (floor, leftover seats to
    * the largest remainders, remainder DESC + lang tie-break — a total
    * order), then the established per-lang md5-rank cut. A quota can
    * exceed a language's corpus (the loop deliberately up-weights
    * high-loss domains): the pick then keeps the whole language —
    * demand-quota semantics, which the oracle replays identically.
    *
    * Scale: the corpus collapses ONCE to |langs| rows for the weight
    * loop; quota arithmetic runs on that tiny relation (budget·w_ppm ≤
    * budget·10⁶ — BIGINT-safe through multi-trillion-doc budgets) and
    * broadcasts back; the pick is a lang-partitioned rank window cut at
    * quota — no global sort of the corpus, exactly the
    * [[apportionedSample]] plan under a learned weight column.
    */
  def mixtureDoremiApply(
      docs: DataFrame, budget: Int, rounds: Int, invEta: Long = 20L): DataFrame =
    hamiltonQuotaPick(docs, doremiWeights(docs, rounds, invEta),
      "lang", "weight_ppm", budget)

  /** Unrolled DuckDB mirror of [[doremiWeights]] — the CTE chain only
    * (no WITH, no final SELECT; ends with `w<rounds>`), shared by the
    * weights gate and the APPLY gate so both provably replay the same
    * multiplicative-weights loop.
    */
  private def duckDoremiCtes(rounds: Int, invEta: Long): String = {
    val head =
      """per AS (
        |  SELECT lang, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |    CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE length(string_split_regex(trim(text), '\s+')) END) AS BIGINT) AS sum_tokens
        |  FROM documents GROUP BY lang),
        |w0 AS (SELECT lang, sum_chars, sum_tokens,
        |  least((1000000 * sum_chars) // greatest(sum_tokens, 1), 10000000) AS loss_ppm,
        |  CAST(1000000 AS BIGINT) AS w_ppm FROM per)""".stripMargin
    val iters = (1 to rounds).map { i =>
      val p = s"w${i - 1}"
      s"""r$i AS (SELECT lang, sum_chars, sum_tokens, loss_ppm, w_ppm,
         |  (sum(w_ppm * loss_ppm) OVER ()) // greatest(sum(w_ppm) OVER (), 1) AS wavg
         |  FROM $p),
         |u$i AS (SELECT lang, sum_chars, sum_tokens, loss_ppm,
         |  (w_ppm * (1000000 + CASE WHEN loss_ppm >= wavg
         |     THEN (loss_ppm - wavg) // $invEta
         |     ELSE -((wavg - loss_ppm) // $invEta) END)) // 1000000 AS w_raw
         |  FROM r$i),
         |w$i AS (SELECT lang, sum_chars, sum_tokens, loss_ppm,
         |  (w_raw * 1000000) // greatest(sum(w_raw) OVER (), 1) AS w_ppm FROM u$i)""".stripMargin
    }.mkString(",\n")
    s"$head,\n$iters"
  }

  private def duckDoremi(rounds: Int, invEta: Long): String =
    "WITH " + duckDoremiCtes(rounds, invEta) + "\n" +
      s"""SELECT lang, sum_tokens, loss_ppm, CAST(w_ppm AS BIGINT) AS weight_ppm
         |FROM w$rounds ORDER BY lang""".stripMargin

  /** Corpus snapshot diff: classify every doc_id across two table
    * versions as added / removed / changed / same (content compared by
    * md5). One full-outer join on the key — the reproducibility audit
    * between pipeline runs.
    */
  def snapshotDiff(v1: DataFrame, v2: DataFrame): DataFrame = {
    val a = v1.select(col("doc_id"), md5(col("text")).as("h1"))
    val b = v2.select(col("doc_id"), md5(col("text")).as("h2"))
    a.join(b, Seq("doc_id"), "full_outer")
      .select(
        col("doc_id"),
        when(col("h1").isNull, "added")
          .when(col("h2").isNull, "removed")
          .when(col("h1") === col("h2"), "same")
          .otherwise("changed").as("status"))
  }

  /** Training-mixture accounting: per stratum, document and token
    * counts plus their corpus shares — the report a mixture-weighting
    * step consumes. Shares are exact-integer ratios surfaced as double
    * (numerator and denominator both BIGINT). One aggregation + a
    * broadcast of the single-row totals.
    */
  def mixtureReport(docs: DataFrame, stratum: String): DataFrame = {
    val per = docs.select(
      col(stratum),
      size(graft.text.TextAnalysis.wsTokens(col("text"))).cast("long").as("n_tok"))
      .groupBy(stratum)
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).cast("long").as("n_tokens"))
    val totals = per.agg(
      sum(col("n_docs")).cast("long").as("t_docs"),
      sum(col("n_tokens")).cast("long").as("t_tokens"))
    per.crossJoin(broadcast(totals))
      .select(
        col(stratum), col("n_docs"), col("n_tokens"),
        (col("n_docs").cast("double") / col("t_docs").cast("double")).as("doc_share"),
        (col("n_tokens").cast("double") / col("t_tokens").cast("double")).as("token_share"))
  }

  /** Rebalance the corpus to target per-language document shares
    * WITHOUT upsampling — the training-mixture twin of
    * [[mixtureReport]] (report says what you have; this makes what you
    * want). The binding language (smallest count_l / share_l) is kept
    * whole and every other language downsamples to
    * floor(share_l · scale) docs, so the result is the LARGEST corpus
    * achievable at the target proportions. Selection is the
    * deterministic md5-rank used by [[balancedCap]] — reproducible
    * across retries and partitionings. Per-language counts are one
    * tiny aggregate collected to the driver (bounded by the number of
    * languages); the corpus itself never moves except the one rank
    * window per language.
    */
  def rebalanceToTarget(docs: DataFrame, shares: Map[String, Double]): DataFrame = {
    require(shares.nonEmpty && shares.values.forall(_ > 0), "shares must be positive")
    val counts = docs.where(col("lang").isin(shares.keys.toSeq: _*))
      .groupBy("lang").agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val scale = shares.collect {
      case (l, s) if counts.contains(l) => counts(l) / s
    }.min
    val target = shares.map { case (l, s) => l -> math.floor(s * scale).toLong }
    val targetCol = target.foldLeft(lit(0L)) { case (acc, (l, t)) =>
      when(col("lang") === l, t).otherwise(acc)
    }
    val w = Window.partitionBy("lang")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    docs.where(col("lang").isin(shares.keys.toSeq: _*))
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= targetCol)
      .select("doc_id", "lang", "rk")
  }

  /** Length-outlier trim: keep docs at or under the q-quantile of
    * n_chars. The threshold is one exact-percentile scalar broadcast
    * against the corpus — the filter itself never shuffles.
    *
    * SMALL-SCALE ONLY: exact `percentile` buffers every distinct value
    * (with a count) in one aggregation buffer. Doc lengths are bounded
    * so this survives further than a price column would, but the
    * documented 100 TB path is [[lengthTrimApprox]] — bounded sketch
    * state, same plan shape. This exact form stays as the small-scale
    * oracle anchor.
    */
  def lengthTrim(docs: DataFrame, q: Double): DataFrame = {
    val thr = docs.agg(expr(s"percentile(n_chars, $q)").as("__thr"))
    docs.crossJoin(broadcast(thr))
      .where(col("n_chars") <= col("__thr"))
      .select("doc_id", "n_chars")
  }

  /** Scale-safe twin of [[lengthTrim]]: the threshold comes from
    * `approx_percentile` (a bounded GK sketch — state is O(accuracy),
    * not O(distinct values)), so the plan survives a value column with
    * hundreds of millions of distincts. Same shape otherwise: one
    * scalar broadcast, the corpus-side filter never shuffles.
    */
  def lengthTrimApprox(docs: DataFrame, q: Double, accuracy: Int = 1000): DataFrame = {
    val thr = docs.agg(expr(s"approx_percentile(n_chars, $q, $accuracy)").as("__thr"))
    docs.crossJoin(broadcast(thr))
      .where(col("n_chars") <= col("__thr"))
      .select("doc_id", "n_chars")
  }

  /** Gopher-style repetition score: the most frequent token's share of
    * all tokens. Boilerplate/spam scores high; natural text low.
    */
  def repetitionScore(docs: DataFrame): DataFrame =
    graft.Partitioning.fanOut(docs)
      .select(col("doc_id"), explode(split(trim(lower(col("text"))), "\\s+")).as("tok"))
      .where(col("tok") =!= "")
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(max(col("cnt")).as("top_tok_cnt"), sum(col("cnt")).cast("long").as("n_tokens"))
      .select(
        col("doc_id"), col("top_tok_cnt"), col("n_tokens"),
        (col("top_tok_cnt").cast("double") / col("n_tokens").cast("double")).as("top_tok_ratio"))

  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

  /** PII scrub: count and redact email/phone matches. Pure codegen'd
    * regex projections — no UDF, no shuffle. (Patterns are passed as
    * literal Columns, never through SQL text — SQL string literals
    * would eat the regex backslashes.)
    */
  def piiScrub(docs: DataFrame, textCol: Column): DataFrame =
    docs.select(
      col("doc_id"),
      size(regexp_extract_all(textCol, lit(EmailRe), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(textCol, lit(PhoneRe), lit(0))).cast("long").as("n_phones"),
      md5(regexp_replace(
        regexp_replace(textCol, EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>")).as("scrubbed_md5"))

  /** Docs sharing ≥1 distinct word n-gram with a holdout set (the
    * benchmark-decontamination check). The holdout gram set is
    * broadcast: the corpus-side gram stream joins map-side and never
    * shuffles; the aggregation is the only exchange.
    */
  /** Broadcast budget for [[decontaminate]]'s holdout gram set. A
    * realistic eval-suite holdout at 100 TB scale (millions of distinct
    * n-grams of long strings) can exceed the driver/executor broadcast
    * budget; above this estimated size the join falls back to a shuffle
    * hash join with identical semantics.
    */
  val DefaultHoldoutBroadcastBudget: Long = 64L << 20

  def decontaminate(
      docs: DataFrame, holdout: DataFrame, n: Int,
      broadcastBudgetBytes: Long = DefaultHoldoutBroadcastBudget): DataFrame = {
    // Both sides travel as 64-bit rolling gram HASHES (r9): overlap
    // only needs gram equality, so neither the broadcast table nor the
    // fallback shuffle ever carries a gram string — the holdout
    // footprint drops from string bytes to 8 bytes/gram and the corpus
    // stream never materializes joined grams at all. Collision
    // tolerance ~2⁻⁶⁴ per pair (graft.dedup.Dedup.wordNgramHashesRaw);
    // the DuckDB oracle still aggregates the actual strings.
    // Corpus side stays RAW (no distinct — that would shuffle the whole
    // gram-hash stream); the holdout join filters it to only shared
    // grams, and the per-doc dedup + count shuffle only that typically
    // tiny remainder.
    val corpusGrams = graft.dedup.Dedup.wordNgramHashesRaw(docs, n)
    // Materialized once (localCheckpoint): both the estimate job and the
    // join read the same computed gram set instead of re-running the
    // holdout scan+shuffle twice.
    val holdoutGrams = graft.dedup.Dedup.wordNgramHashesRaw(holdout, n)
      .select("gh").distinct().localCheckpoint(true)
    // Size gate: one tiny count over the (small-side) holdout estimates
    // its broadcast footprint (8-byte hash + per-row object overhead):
    // a driver-side scalar, like connectedComponents' convergence check.
    // Under budget → broadcast hash join: the corpus gram-hash stream
    // filters map-side and never shuffles. Over budget → shuffle hash
    // join: both streams exchange once on gh, no driver collect of an
    // unbounded set. Same output either way (pinned in
    // DecontaminateFallbackSpec).
    val estBytes = holdoutGrams.count() * 56L
    val joined =
      if (estBytes <= broadcastBudgetBytes)
        corpusGrams.join(broadcast(holdoutGrams), Seq("gh"))
      else
        corpusGrams.join(holdoutGrams.hint("shuffle_hash"), Seq("gh"))
    joined
      .dropDuplicates("doc_id", "gh")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared_grams"))
  }

  /** Bloom pre-pass decontamination — the third strategy next to
    * [[decontaminate]]'s broadcast/shuffle switch, for the regime where
    * the holdout gram SET is too big to broadcast but its bloom sketch
    * is not: the sketch is FIXED-SIZE (`numBits`, independent of
    * holdout cardinality), so the corpus gram stream still filters
    * map-side; only bloom survivors (true matches + the few-percent
    * false positives) reach the exact semi-join that removes FPs. Same
    * relation as [[decontaminate]] (pinned in
    * `DecontaminateFallbackSpec`), shuffle volume ~ the survivor set.
    * Uses Spark's own runtime-filter expressions (`bloom_filter_agg` /
    * `might_contain`, exposed via [[graft.GraftFunctions]]).
    */
  def decontaminateBloom(
      docs: DataFrame, holdout: DataFrame, n: Int,
      expectedItems: Long = 4L << 20, numBits: Long = 32L << 20): DataFrame = {
    // Gram hashes end-to-end, like [[decontaminate]]: the bloom sketch
    // is built over the 64-bit gram hash directly (no per-gram string
    // exists to xxhash64), and the exact FP-removal join exchanges
    // 8-byte keys.
    val corpusGrams = graft.dedup.Dedup.wordNgramHashesRaw(docs, n)
    // Materialized once — the sketch job and the exact FP-removal join
    // share the computed gram set.
    val holdoutGrams = graft.dedup.Dedup.wordNgramHashesRaw(holdout, n)
      .select("gh").distinct().localCheckpoint(true)
    // One driver-held sketch of bounded size (numBits/8 bytes) — the
    // analog of the size estimate in [[decontaminate]], but the bound
    // holds no matter how many grams the holdout has.
    val bf = holdoutGrams
      .agg(expr(s"bloom_filter_agg(gh, ${expectedItems}L, ${numBits}L)").as("bf"))
      .head.getAs[Array[Byte]](0)
    corpusGrams
      .where(call_function("might_contain", lit(bf), col("gh")))
      .join(holdoutGrams.hint("shuffle_hash"), Seq("gh"))
      .dropDuplicates("doc_id", "gh")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared_grams"))
  }

  /** Sequence packing: per-language running token total, chunked into
    * `budget`-token bins (the concat-then-chunk packing shape). One
    * window pass after one hash exchange on lang.
    */
  def packSequences(docs: DataFrame, budget: Int): DataFrame = {
    val toks = docs.select(
      col("doc_id"), col("lang"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    toks
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(
        col("doc_id"), col("lang"), col("n_tokens"),
        expr(s"cum_before DIV $budget").as("bin"))
  }

  /** Packing fragmentation report — the operational readout of
    * [[packSequences]]: in concat-then-chunk packing every document
    * whose token span straddles a bin boundary gets SPLIT across
    * training sequences (attention-mask pollution), so the per-language
    * straddle rate is the metric that decides the packing budget. Also
    * reports the tail bin's fill (the only bin that can be short).
    * Exact integers: a doc straddles iff cum_before div budget ≠
    * (cum_before + n_tokens − 1) div budget (nonneg — div ≡ //); the
    * rates are single ppm divisions. Runs on the scalable packing
    * relation, so everything after the pack is one (lang)-keyed
    * rollup at language cardinality.
    */
  def packFragmentationReport(docs: DataFrame, budget: Int): DataFrame =
    packedWithCum(docs, budget, buckets = 32)
      .withColumn("end_bin", expr(s"(cum_before + n_tokens - 1) div $budget"))
      .select(col("lang"), col("n_tokens"), col("bin"), col("end_bin"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens_total"),
        (max(col("end_bin")) + 1L).as("n_bins"),
        sum(when(col("end_bin") =!= col("bin"), 1L).otherwise(0L)).as("n_straddle"))
      .select(
        col("lang"), col("n_docs"), col("n_tokens_total"), col("n_bins"),
        col("n_straddle"),
        expr("(1000000 * n_straddle) div greatest(n_docs, 1)").as("straddle_ppm"),
        expr(s"(1000000 * (n_tokens_total % $budget)) div $budget").as("tail_fill_ppm"))

  /** Per-source dedup savings report — the capacity-planning readout a
    * dedup stage publishes: how many documents (and how many bytes) per
    * source are exact duplicates, i.e. what the dedup pass will
    * reclaim. Groups on (source, md5(text)) ONCE (map-side combined),
    * then rolls up at source cardinality; duplicate bytes are
    * (count−1)·size per content group, so the keeper is never counted
    * as savings. All rates exact ppm.
    */
  def dedupSavingsBySource(docs: DataFrame): DataFrame =
    docs.select(col("source"), md5(col("text")).as("h"), col("n_chars"))
      .groupBy("source", "h")
      .agg(count(lit(1)).as("c"), max(col("n_chars")).as("sz"))
      .groupBy("source")
      .agg(
        sum(col("c")).as("n_docs"),
        count(lit(1)).as("n_distinct"),
        sum(col("c") * col("sz")).as("total_chars"),
        sum((col("c") - 1L) * col("sz")).as("dup_chars"))
      .select(
        col("source"), col("n_docs"), col("n_distinct"),
        (col("n_docs") - col("n_distinct")).as("n_dup"),
        expr("(1000000 * (n_docs - n_distinct)) div greatest(n_docs, 1)").as("dup_ppm"),
        col("total_chars"), col("dup_chars"),
        expr("(1000000 * dup_chars) div greatest(total_chars, 1)").as("savings_ppm"))

  /** Scale-safe twin of [[packSequences]] — EXACT same relation, no
    * per-language window straggler. `packSequences`'s running total is
    * one window partition per language: at 100 TB an "en" partition is
    * most of the corpus on one reducer. This twin generalizes
    * [[shuffleOrder]]'s decomposition from row numbering to an
    * arbitrary prefix aggregate:
    *
    *  1. bucket rows by ORDER-ALIGNED doc_id ranges (quantile
    *     boundaries collected once — a tiny driver array; ANY boundary
    *     choice yields the same output, the quantiles only keep buckets
    *     balanced);
    *  2. per-(lang, bucket) token sums — a small aggregate;
    *  3. prefix offsets over ≤ `buckets` rows per language — a tiny
    *     window; broadcast back;
    *  4. the per-row prefix is offset + a window over (lang, bucket) —
    *     every window partition is one bucket, all in parallel.
    */
  def packSequencesScalable(docs: DataFrame, budget: Int, buckets: Int = 32): DataFrame =
    packedWithCum(docs, budget, buckets)
      .select("doc_id", "lang", "n_tokens", "bin")

  /** The decomposed packing relation WITH the running total exposed —
    * [[packSequencesScalable]] is its doc/bin projection and
    * [[packFragmentationReport]] reads `cum_before` for the straddle
    * test.
    */
  private def packedWithCum(docs: DataFrame, budget: Int, buckets: Int): DataFrame = {
    val toks = docs.select(
      col("doc_id"), col("lang"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
    val qs = (1 until buckets).map(i => i.toDouble / buckets)
    val bounds: Seq[Long] =
      if (qs.isEmpty) Seq.empty // 1 bucket: degenerate single-window shape
      else Option(
        toks.agg(expr(s"approx_percentile(doc_id, array(${qs.mkString(",")}), 10000)").as("bs"))
          .head.getSeq[Long](0)
      ).getOrElse(Seq.empty) // empty input: approx_percentile yields NULL
    // One higher-order aggregate over the literal bounds array (a
    // nested when-chain would build an expression tree as deep as the
    // bucket count); linear scan of ≤ `buckets` longs per row, codegen'd.
    val bucketCol =
      if (bounds.isEmpty) lit(0L)
      else expr(
        s"aggregate(array(${bounds.mkString("L,") + "L"}), 0L, (acc, b) -> acc + IF(doc_id > b, 1L, 0L))")
    val bucketed = toks.withColumn("b", bucketCol)
    val offsets = bucketed.groupBy("lang", "b")
      .agg(sum(col("n_tokens")).as("bucket_toks"))
      .withColumn("offset",
        coalesce(
          sum(col("bucket_toks")).over(
            Window.partitionBy("lang").orderBy("b")
              .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select("lang", "b", "offset")
    val w = Window.partitionBy("lang", "b").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    bucketed.join(broadcast(offsets), Seq("lang", "b"))
      .withColumn("cum_before", col("offset") + coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(
        col("doc_id"), col("lang"), col("n_tokens"), col("cum_before"),
        expr(s"cum_before DIV $budget").as("bin"))
  }

  /** The composed curation pipeline — quality gate ∧ near-dup dedup
    * keep-set, then split assignment, reported per (lang, split). This
    * is the "operators compose" demonstration: quality scoring
    * ([[graft.text.TextAnalysis.qualityScore]]), the full
    * MinHash→LSH→connected-components→keep pipeline
    * ([[graft.dedup.Dedup.dedupApply]]), and the deterministic split,
    * glued with semi-joins (id-set intersections — the fact stream is
    * filtered, never widened).
    */
  /** The curated keep-set (quality gate ∧ near-dup dedup keep), as the
    * filtered document stream — factored (r19) so [[curatedCorpus]]
    * (the report) and [[exportTrainingShards]] (the physical export)
    * provably share ONE keep rule.
    */
  private def curatedDocs(docs: DataFrame, minScore: Double): DataFrame = {
    val good = graft.text.TextAnalysis.qualityScore(docs)
      .where(col("score") >= minScore)
      .select("doc_id")
    val kept = graft.dedup.Dedup.dedupApply(docs)
    docs.join(good, Seq("doc_id"), "left_semi")
      .join(kept, Seq("doc_id"), "left_semi")
  }

  def curatedCorpus(docs: DataFrame, minScore: Double): DataFrame =
    curatedDocs(docs, minScore)
      .withColumn("bucket", md5Bucket(col("doc_id"), 100))
      .withColumn("split", splitCol(col("bucket")))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"))

  /** Per-doc training-shard assignment — the last PHYSICAL step of the
    * pipeline composed from its audited parts (r18 verdict item 4: the
    * pipeline had packing, deterministic shuffle, and compaction, but
    * no "write the curated corpus as N deterministically-shuffled
    * shards" rung): curated keep-set ([[curatedDocs]]) → packed
    * sequences ([[packSequencesScalable]], sequence = (lang, bin)) →
    * deterministic shard of each SEQUENCE by the [[shuffleOrder]]
    * discipline (md5-keyed rank, bucket-decomposed: per-bucket offsets
    * broadcast, rank windows per bucket cell — `buckets` sizes with the
    * corpus exactly as shuffleOrder's does) → shard = (pos − 1) mod N.
    * Assigning SEQUENCES, not docs, keeps every packed sequence intact
    * inside one shard (a split sequence would break the token-budget
    * contract), and the round-robin over the md5-shuffled rank makes
    * shard sizes provably balanced to ±1 sequence — not just in
    * expectation. Deterministic end to end: same corpus → same shards,
    * restart-reproducible, partitioning-invariant.
    */
  /** The sharded SEQUENCE relation (lang, bin, n_docs, n_tokens,
    * shard) both export faces derive from — one definition, so the
    * per-doc assignment and the gate rollup can never disagree on a
    * sequence's shard.
    */
  private def shardedSeqs(
      packed: DataFrame, nShards: Int, buckets: Int): DataFrame = {
    // by-convention pin (harness frees), at SEQUENCE cardinality
    // (corpus_tokens/budget rows): the offsets rollup and the join-back
    // both read this relation, and without the pin each consumer
    // re-executes the corpus-scale curated+packing subtree beneath it
    // with only exchange-reuse standing in the way (r19 review — the
    // perHostPassCounts lesson from r17).
    val seqs = packed.groupBy("lang", "bin")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").cast("long").as("n_tokens"))
      .withColumn("hk", md5(concat_ws(":", col("lang"), col("bin"))))
      .withColumn("b",
        expr(s"CAST(conv(substring(hk, 1, 8), 16, 10) AS BIGINT) % $buckets"))
      .localCheckpoint(true)
    val offsets = seqs.groupBy("b").agg(count(lit(1)).as("n"))
      .withColumn("offset",
        coalesce(
          sum(col("n")).over(
            Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select("b", "offset")
    seqs.join(broadcast(offsets), Seq("b"))
      .withColumn("pos",
        col("offset") + row_number().over(
          Window.partitionBy("b").orderBy("hk", "lang", "bin")).cast("long"))
      .withColumn("shard", (col("pos") - 1L) % nShards)
      .select("lang", "bin", "n_docs", "n_tokens", "shard")
  }

  def trainingShardAssignment(
      docs: DataFrame, minScore: Double, budget: Int, nShards: Int,
      buckets: Int = 64): DataFrame = {
    // doc-level pin: the doc→shard join-back and the sequence rollup
    // inside shardedSeqs both consume `packed`, so the curated keep-set
    // (quality scan + dedup semi-joins) and the packing windows execute
    // exactly once per export (r19 review)
    val packed =
      packSequencesScalable(curatedDocs(docs, minScore), budget).localCheckpoint(true)
    packed.select("doc_id", "lang", "bin")
      // no broadcast hint: the shard map is SEQUENCE-cardinality
      // (tokens/budget rows — far past broadcast size at 100 TB), so
      // the attach is a (lang, bin) hash join AQE may still broadcast
      // at small SFs
      .join(shardedSeqs(packed, nShards, buckets).select("lang", "bin", "shard"),
        Seq("lang", "bin"))
      .select("doc_id", "lang", "bin", "shard")
  }

  /** The export's gate relation: per-shard sequence/doc/token counts.
    * Small (N rows), auditable next to the assignment it summarizes —
    * the numbers an operator checks before pointing a trainer at the
    * shards.
    */
  def exportTrainingShards(
      docs: DataFrame, minScore: Double, budget: Int, nShards: Int,
      buckets: Int = 64): DataFrame =
    shardedSeqs(packSequencesScalable(curatedDocs(docs, minScore), budget),
        nShards, buckets)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_seqs"),
        sum("n_docs").cast("long").as("n_docs"),
        sum("n_tokens").cast("long").as("n_tokens"))

  // --------------------------------------------------------------- gate

  private val StratRates = Map("en" -> 500, "de" -> 200, "zh" -> 100)
  private val StratDefault = 50

  /** Deterministic PII injection: docs with doc_id % 10 == 0 get a
    * synthetic contact line appended (the raw corpus contains no PII, so
    * the scrub would be vacuously identity — the injection exercises
    * both the counting and the redaction on a known subset). Applied
    * identically in the oracle SQL.
    */
  private def withInjectedPii(docs: DataFrame): DataFrame =
    docs.withColumn("__pii_text",
      when(col("doc_id") % 10 === 0,
        concat(col("text"), lit(" contact: jane.doe@example.com or 555-123-4567")))
        .otherwise(col("text")))

  /** Deterministic weighted sample (Duffield–Lund–Thorup priority
    * sampling, "Priority sampling for estimation of arbitrary subset
    * sums", JACM 2007): per group, keep the k rows with the largest
    * priority w/u, u uniform in (0,1] derived from the first 8 md5 hex
    * digits of the row key. Inclusion probability rises with weight,
    * yet the draw is reproducible under reruns/retries/repartitioning
    * (no RNG state) — the quality-weighted subsample shape for corpus
    * curation. The arithmetic is only +,*,/ on IEEE doubles (no ln, as
    * exponential-keys reservoir would need), so DuckDB replays the
    * exact bits and the oracle hash-matches.
    *
    * Scale: one shuffle on the group key; the `row_number <= k` cut
    * runs as WindowGroupLimit below the window sort, so each partition
    * retains only k candidates — no group ever materializes whole.
    */
  def weightedPrioritySample(docs: DataFrame, k: Int, seed: String): DataFrame = {
    // u = (v+1) / 2^32+1 ∈ (0,1]; priority = w/u = w * (2^32+1) / (v+1)
    val v = conv(substring(md5(concat(lit(seed + ":"), col("doc_id").cast("string"))), 1, 8), 16, 10)
      .cast("long").cast("double")
    val priority = col("n_chars").cast("double") * lit(4294967297.0) / (v + lit(1.0))
    docs
      .select(col("doc_id"), col("lang"), col("n_chars"), priority.as("priority"))
      .withColumn("rk",
        row_number().over(Window.partitionBy("lang").orderBy(col("priority").desc, col("doc_id"))))
      .where(col("rk") <= k)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("rk").cast("long").as("rk"))
  }

  /** Per-language adaptive quality threshold (the per-language
    * calibration cut real pipelines need — one global threshold
    * over-prunes low-resource languages): keep each doc at or above its
    * OWN language's percentile_disc(pPct/100) of the score. Exact
    * integer selection — the threshold is an actual data value, no
    * interpolation — so both engines agree without float discipline.
    *
    * Scale shape: a naive `cume_dist() OVER (PARTITION BY lang ORDER BY
    * score)` sorts each language's ENTIRE corpus slice in one task —
    * the 'en' partition is a skew bomb at 100 TB. Instead the corpus
    * pays one (lang, score) histogram aggregation (map-side combine);
    * the running/total windows and the percentile pick run over that
    * histogram — value-cardinality scale — and the ≤|langs|-row
    * threshold table broadcasts back into the filter.
    */
  def langAdaptiveCut(docs: DataFrame, pPct: Int): DataFrame = {
    val hist = docs.groupBy("lang", "n_chars").agg(count(lit(1)).as("c"))
    val run = Window.partitionBy("lang").orderBy("n_chars")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val thresholds = hist
      .withColumn("run", sum("c").over(run))
      .withColumn("tot", sum("c").over(Window.partitionBy("lang")))
      // percentile_disc: smallest value whose cume_dist = run/tot ≥ p,
      // tested in exact integers (run*100 ≥ pPct*tot)
      .where(col("run") * 100 >= lit(pPct) * col("tot"))
      .groupBy("lang").agg(min("n_chars").as("thr"))
    docs.join(broadcast(thresholds), Seq("lang"))
      .where(col("n_chars") >= col("thr"))
      .select("doc_id", "lang", "n_chars", "thr")
  }

  /** DSIR-style importance-weighted selection (Xie et al. 2023, "Data
    * Selection via Importance Resampling", arXiv:2302.03169): score raw
    * docs by how target-like their unigram distribution is, where the
    * target is a trusted slice of the corpus (here: one source). Real
    * pipelines use this to up-select web text that "looks like"
    * Wikipedia/books without training a classifier.
    *
    * Exactness: the canonical formulation weights tokens by
    * log(p_target/p_raw); floats there are engine-divergent, so the
    * weight is the exact integer ratio cnt_target(t)·1e6 div cnt_raw(t)
    * and a doc's score is the exact BIGINT sum of its tokens' weights
    * (a monotone surrogate for the likelihood-ratio score — ranking, not
    * probability, is what selection needs). Both engines agree exactly.
    *
    * Scale notes: two token-count aggregations (map-side combined) over
    * one tokenize pass; the weight table is vocabulary-scale, joined
    * back to the token stream on the token key (at 100 TB: the weight
    * table is the small side — hash/broadcast by frequency band); the
    * per-doc score is one more map-side-combined sum. Top-k is a
    * TakeOrdered, not a global sort.
    */
  def dsirImportanceSelect(docs: DataFrame, targetSource: String, k: Int): DataFrame = {
    val toks = docs
      .select(col("doc_id"), col("source"),
        explode(graft.text.TextAnalysis.wsTokens(col("text"))).as("tok"))
    val cntT = toks.where(col("source") === targetSource)
      .groupBy("tok").agg(count(lit(1)).as("ct"))
    val cntR = toks.groupBy("tok").agg(count(lit(1)).as("cr"))
    val w = cntR.join(cntT, Seq("tok"), "left")
      .select(col("tok"), expr("(coalesce(ct, 0L) * 1000000) div cr").as("w"))
    toks
      .join(w, "tok")
      .groupBy("doc_id").agg(sum("w").as("score"))
      .join(docs.select("doc_id", "source"), "doc_id")
      .where(col("source") =!= targetSource)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("source"), col("score"))
  }

  /** Curation funnel audit: per-stage survivor counts through a
    * three-stage cut (quality length gate → exact dedup → repetition
    * gate). The observability artifact every production pipeline ships —
    * "where did my corpus go" — kept exactly SQL-expressible so the
    * funnel itself is oracle-gated, not just the stages it composes.
    *
    * Scale notes: one md5 projection + one duplicate-rank window keyed
    * by the hash (dup groups are tiny, no skew), one tokenize pass for
    * the repetition ratio, then a single 4-row aggregate. The funnel
    * costs no more than the most expensive stage it audits.
    */
  def curationFunnel(docs: DataFrame): DataFrame = {
    // identical text ⇒ identical n_chars, so an md5(text) dup group is
    // homogeneous in the quality flag — partitioning ALL docs by the
    // hash (not just quality survivors) keeps the window simple without
    // ever deduping a survivor against a failed-quality copy
    val rep = repetitionScore(docs).select("doc_id", "top_tok_cnt", "n_tokens")
    val flagged = docs
      .withColumn("pass_quality", col("n_chars") >= 100)
      .withColumn("dup_rk",
        row_number().over(Window.partitionBy(md5(col("text"))).orderBy("doc_id")))
      .withColumn("pass_dedup", col("pass_quality") && col("dup_rk") === 1)
      .join(rep, Seq("doc_id"), "left")
      .withColumn("pass_rep",
        col("pass_dedup") && (col("top_tok_cnt") * 4 <= col("n_tokens")))
    flagged.agg(
      count(lit(1)).as("n_raw"),
      sum(when(col("pass_quality"), 1L).otherwise(0L)).as("n_quality"),
      sum(when(col("pass_dedup"), 1L).otherwise(0L)).as("n_dedup"),
      sum(when(col("pass_rep"), 1L).otherwise(0L)).as("n_final"))
      .select(
        explode(array(
          struct(lit(1L).as("stage"), lit("raw").as("stage_name"), col("n_raw").as("n_out")),
          struct(lit(2L).as("stage"), lit("quality").as("stage_name"), col("n_quality").as("n_out")),
          struct(lit(3L).as("stage"), lit("exact_dedup").as("stage_name"), col("n_dedup").as("n_out")),
          struct(lit(4L).as("stage"), lit("repetition").as("stage_name"), col("n_final").as("n_out")))).as("s"))
      .select(col("s.stage"), col("s.stage_name"), col("s.n_out"))
  }

  /** Exact-total proportional sampling — largest-remainder (Hamilton)
    * apportionment: pick EXACTLY `budget` docs across source strata,
    * quotas proportional to stratum size (floor, then the leftover
    * seats go to the largest remainders, remainder DESC + source
    * tie-break — a total order, so both engines apportion
    * identically), then the per-source pick is the established
    * md5-rank cut. Rate-based stratified sampling
    * ([[stratifiedSample]]) can miss a fixed budget by rounding;
    * training-data mixtures are specified by exact token/doc budgets,
    * and this closes that gap with pure integer arithmetic.
    *
    * Scale: stratum stats are one grouped pass collapsing to
    * |sources| rows; the apportionment windows run over that tiny
    * relation and broadcast back; the pick is a rank window
    * PARTITIONED by source (parallel), cut at quota — no global sort
    * of the corpus.
    */
  def apportionedSample(docs: DataFrame, budget: Int): DataFrame =
    hamiltonQuotaPick(docs,
      docs.groupBy("source").agg(count(lit(1)).as("n_docs")),
      "source", "n_docs", budget)

  /** ONE copy of the largest-remainder rule + pick (r19 review: three
    * DataFrame-side copies of the wtot/base/rem/leftover/rrank block —
    * [[apportionedSample]], [[temperatureSample]],
    * [[mixtureDoremiApply]] — had to be kept in lockstep with their
    * DuckDB mirrors; a tie-break fix in one copy would silently leave
    * the others on the old rule. The fourth variant,
    * [[graft.text.Perceptron.qualityWeightedSample]], replays the same
    * rule DRIVER-side over its bounded bin array — a different shape
    * with per-bin `quota ≤ n_b` semantics, deliberately not unified.)
    *
    * `weights` must be a KEY-cardinality relation (the apportionment
    * windows are global over it — |sources|/|langs| rows, broadcast
    * back); the pick is the established per-key md5-rank window cut at
    * quota, so the sample is restart-reproducible. Quotas are exact
    * integers summing to `budget` (floor, leftover seats to the
    * largest remainders, remainder DESC + key tie-break — a total
    * order both engines replay identically). `budget·weight` stays
    * BIGINT-safe through weights ≤ 10⁶ ppm at multi-trillion budgets.
    */
  private def hamiltonQuotaPick(
      docs: DataFrame, weights: DataFrame,
      keyCol: String, weightCol: String, budget: Int): DataFrame = {
    val quotas = weights
      .withColumn("__wtot", expr(s"sum($weightCol) over ()"))
      .withColumn("__base", expr(s"(${budget}L * $weightCol) div __wtot"))
      .withColumn("__rem", expr(s"(${budget}L * $weightCol) % __wtot"))
      .withColumn("__leftover", expr(s"${budget}L - sum(__base) over ()"))
      .withColumn("__rrank",
        row_number().over(Window.orderBy(col("__rem").desc, col(keyCol))))
      .select(col(keyCol),
        (col("__base") + when(col("__rrank") <= col("__leftover"), 1L).otherwise(0L))
          .as("quota"))
    docs.join(broadcast(quotas), keyCol)
      .withColumn("rk", row_number().over(
        Window.partitionBy(keyCol)
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))).cast("long"))
      .where(col("rk") <= col("quota"))
      .select(col(keyCol), col("doc_id"), col("rk"))
  }

  /** Temperature-scaled (α = 0.5) mixture sampling — the standard LLM
    * data-mixture move: sampling weights ∝ n_i^α flatten the source
    * distribution (α<1 up-weights small sources, α=1 is proportional,
    * α=0 uniform), then the SAME largest-remainder apportionment as
    * [[apportionedSample]] turns the weights into exact integer quotas
    * summing to `budget`. Weights are floor(sqrt(n)·1000) — sqrt is
    * IEEE-correctly-rounded in both engines and floor pins the one
    * float op to an exact integer, so the apportionment replays
    * bit-identically; budget·w stays < 2^63 through n ~ 10^12 docs.
    *
    * Scale: identical to [[apportionedSample]] — the corpus collapses
    * once to |sources| stratum counts, the quota arithmetic runs on
    * that tiny relation, the pick is a per-source md5-rank window cut.
    */
  def temperatureSample(docs: DataFrame, budget: Int): DataFrame =
    hamiltonQuotaPick(docs,
      docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
        .withColumn("w", floor(sqrt(col("n_docs").cast("double")) * 1000).cast("long")),
      "source", "w", budget)

  /** Host-reputation oracle CTE chain (concatenated with the shared
    * Gopher CTEs, not interpolated-then-stripMargin'd — the duckC4
    * precaution) ending in `ph(host, n_docs, n_pass)` + `g(g_docs,
    * g_pass)`.
    */
  private def duckHostCtes(docFilter: String = ""): String =
    "WITH " + graft.text.QualityFilters.duckGopherCtes + ",\n" +
      s"""h AS (SELECT doc_id,
        |  ${graft.dedup.UrlDedup.duckHostExpr} AS host,
        |  pass FROM gflags$docFilter),
        |ph AS (SELECT host, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
        |  FROM h GROUP BY host),
        |g AS (SELECT CAST(sum(n_docs) AS BIGINT) AS g_docs,
        |  CAST(sum(n_pass) AS BIGINT) AS g_pass FROM ph)""".stripMargin

  def engineQueries: Seq[EngineQuery] = Seq(
    // Host-level quality reputation (see hostQualityRollup): per-host
    // Gopher pass rate vs the corpus-wide rate, exact ppm.
    EngineQuery(
      "host_quality_rollup",
      (s, dir) => hostQualityRollup(Tables.documents(s, dir)).orderBy("host"),
      Some(duckHostCtes() + "\n" +
        """SELECT host, n_docs, n_pass,
          |  (1000000 * n_pass) // n_docs AS pass_ppm,
          |  (1000000 * g_pass) // greatest(g_docs, 1) AS global_ppm,
          |  ((1000000 * n_pass) // n_docs) >= ((1000000 * g_pass) // greatest(g_docs, 1)) AS keep_host
          |FROM ph CROSS JOIN g ORDER BY host""".stripMargin),
    ),
    // The applied cut: docs from kept hosts survive (broadcast attach).
    EngineQuery(
      "host_quality_filter",
      (s, dir) => hostQualityFilter(Tables.documents(s, dir)).orderBy("doc_id"),
      Some(duckHostCtes() + ",\n" +
        """keep AS (SELECT host FROM ph CROSS JOIN g
          |  WHERE (1000000 * n_pass) // n_docs >= (1000000 * g_pass) // greatest(g_docs, 1))
          |SELECT h.doc_id FROM h JOIN keep USING (host) ORDER BY doc_id""".stripMargin),
      headline = true,
    ),
    // Thin-evidence batch + Laplace-smoothed keep rule (r17 verdict
    // item 4): same CTE chain restricted to the sparse batch slice, the
    // smoothed comparison replayed cross-multiplied, and `flipped`
    // carrying the proof that the smoothing binds on this corpus.
    EngineQuery(
      "host_quality_smoothed",
      (s, dir) => hostQualityRollupSmoothed(
          Tables.documents(s, dir).where(col("doc_id") % ThinBatchMod === 0))
        .orderBy("host"),
      Some(duckHostCtes(s" WHERE doc_id % $ThinBatchMod = 0") + "\n" +
        """SELECT host, n_docs, n_pass,
          |  (1000000 * n_pass) // n_docs AS pass_ppm,
          |  (1000000 * (n_pass + 1)) // (n_docs + 2) AS smooth_ppm,
          |  (1000000 * g_pass) // greatest(g_docs, 1) AS global_ppm,
          |  ((1000000 * n_pass) // n_docs) >= ((1000000 * g_pass) // greatest(g_docs, 1)) AS keep_raw,
          |  CAST(n_pass + 1 AS HUGEINT) * g_docs >= CAST(g_pass AS HUGEINT) * (n_docs + 2) AS keep_smooth,
          |  (((1000000 * n_pass) // n_docs) >= ((1000000 * g_pass) // greatest(g_docs, 1)))
          |    <> (CAST(n_pass + 1 AS HUGEINT) * g_docs >= CAST(g_pass AS HUGEINT) * (n_docs + 2)) AS flipped
          |FROM ph CROSS JOIN g ORDER BY host""".stripMargin),
    ),
    EngineQuery(
      "sample_temperature_mix",
      (s, dir) => temperatureSample(Tables.documents(s, dir), budget = 200)
        .orderBy("source", "rk"),
      Some("""WITH s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
             |  FROM documents GROUP BY 1),
             |w0 AS (SELECT source, n_docs,
             |  CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000) AS BIGINT) AS w FROM s),
             |t AS (SELECT source, w,
             |  CAST(sum(w) OVER () AS BIGINT) AS wtot FROM w0),
             |q0 AS (SELECT source, w, wtot,
             |  CAST((200 * w) // wtot AS BIGINT) AS base,
             |  CAST((200 * w) % wtot AS BIGINT) AS rem FROM t),
             |l AS (SELECT source, base, rem,
             |  CAST(200 - sum(base) OVER () AS BIGINT) AS leftover,
             |  row_number() OVER (ORDER BY rem DESC, source) AS rrank FROM q0),
             |q AS (SELECT source,
             |  CAST(base + CASE WHEN rrank <= leftover THEN 1 ELSE 0 END AS BIGINT)
             |    AS quota FROM l),
             |r AS (SELECT d.source, d.doc_id,
             |  CAST(row_number() OVER (PARTITION BY d.source
             |    ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS BIGINT) AS rk
             |  FROM documents d)
             |SELECT r.source, r.doc_id, r.rk FROM r JOIN q USING (source)
             |WHERE rk <= quota ORDER BY source, rk""".stripMargin),
    ),
    EngineQuery(
      "sample_apportioned",
      (s, dir) => apportionedSample(Tables.documents(s, dir), budget = 200)
        .orderBy("source", "rk"),
      Some("""WITH s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
             |  FROM documents GROUP BY 1),
             |t AS (SELECT source, n_docs,
             |  CAST(sum(n_docs) OVER () AS BIGINT) AS total FROM s),
             |q0 AS (SELECT source, n_docs, total,
             |  CAST((200 * n_docs) // total AS BIGINT) AS base,
             |  CAST((200 * n_docs) % total AS BIGINT) AS rem FROM t),
             |l AS (SELECT source, base, rem,
             |  CAST(200 - sum(base) OVER () AS BIGINT) AS leftover,
             |  row_number() OVER (ORDER BY rem DESC, source) AS rrank FROM q0),
             |q AS (SELECT source,
             |  CAST(base + CASE WHEN rrank <= leftover THEN 1 ELSE 0 END AS BIGINT)
             |    AS quota FROM l),
             |r AS (SELECT d.source, d.doc_id,
             |  CAST(row_number() OVER (PARTITION BY d.source
             |    ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS BIGINT) AS rk
             |  FROM documents d)
             |SELECT r.source, r.doc_id, r.rk FROM r JOIN q USING (source)
             |WHERE rk <= quota ORDER BY source, rk""".stripMargin),
    ),
    EngineQuery(
      "dsir_importance_select",
      (s, dir) => dsirImportanceSelect(Tables.documents(s, dir), "src0", k = 30),
      Some("""WITH toks AS (
             |  SELECT doc_id, source, tok FROM (
             |    SELECT doc_id, source,
             |      unnest(string_split_regex(trim(text), '\s+')) AS tok
             |    FROM documents WHERE length(trim(text)) > 0)),
             |ct AS (SELECT tok, CAST(count(*) AS BIGINT) AS ct
             |  FROM toks WHERE source = 'src0' GROUP BY tok),
             |cr AS (SELECT tok, CAST(count(*) AS BIGINT) AS cr FROM toks GROUP BY tok),
             |w AS (SELECT cr.tok, (COALESCE(ct.ct, 0) * 1000000) // cr.cr AS w
             |  FROM cr LEFT JOIN ct ON cr.tok = ct.tok),
             |sc AS (SELECT t.doc_id, CAST(sum(w.w) AS BIGINT) AS score
             |  FROM toks t JOIN w ON t.tok = w.tok GROUP BY t.doc_id)
             |SELECT sc.doc_id, d.source, sc.score
             |FROM sc JOIN documents d ON sc.doc_id = d.doc_id
             |WHERE d.source <> 'src0'
             |ORDER BY score DESC, sc.doc_id LIMIT 30""".stripMargin),
      headline = true,
    ),
    EngineQuery(
      "curation_funnel",
      (s, dir) => curationFunnel(Tables.documents(s, dir)).orderBy("stage"),
      Some("""WITH rep AS (
             |  SELECT doc_id, max(cnt) AS top_tok_cnt, CAST(sum(cnt) AS BIGINT) AS n_tokens
             |  FROM (SELECT doc_id, tok, count(*) AS cnt
             |        FROM (SELECT doc_id,
             |                unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
             |              FROM documents)
             |        WHERE tok <> '' GROUP BY doc_id, tok)
             |  GROUP BY doc_id),
             |f AS (
             |  SELECT d.doc_id, (d.n_chars >= 100) AS pass_quality,
             |    row_number() OVER (PARTITION BY md5(d.text) ORDER BY d.doc_id) AS dup_rk,
             |    r.top_tok_cnt, r.n_tokens
             |  FROM documents d LEFT JOIN rep r ON d.doc_id = r.doc_id),
             |g AS (
             |  SELECT pass_quality,
             |    (pass_quality AND dup_rk = 1) AS pass_dedup,
             |    (pass_quality AND dup_rk = 1 AND top_tok_cnt * 4 <= n_tokens) AS pass_rep
             |  FROM f)
             |SELECT CAST(1 AS BIGINT) AS stage, 'raw' AS stage_name,
             |  CAST(count(*) AS BIGINT) AS n_out FROM g
             |UNION ALL
             |SELECT CAST(2 AS BIGINT), 'quality',
             |  CAST(sum(CASE WHEN pass_quality THEN 1 ELSE 0 END) AS BIGINT) FROM g
             |UNION ALL
             |SELECT CAST(3 AS BIGINT), 'exact_dedup',
             |  CAST(sum(CASE WHEN pass_dedup THEN 1 ELSE 0 END) AS BIGINT) FROM g
             |UNION ALL
             |SELECT CAST(4 AS BIGINT), 'repetition',
             |  CAST(sum(CASE WHEN pass_rep THEN 1 ELSE 0 END) AS BIGINT) FROM g
             |ORDER BY stage""".stripMargin),
      headline = true,
    ),
    EngineQuery(
      "lang_adaptive_cut",
      (s, dir) =>
        langAdaptiveCut(Tables.documents(s, dir), pPct = 25).orderBy("doc_id"),
      Some("""WITH t AS (
             |  SELECT lang, percentile_disc(0.25) WITHIN GROUP (ORDER BY n_chars) AS thr
             |  FROM documents GROUP BY lang)
             |SELECT d.doc_id, d.lang, d.n_chars, t.thr
             |FROM documents d JOIN t USING (lang)
             |WHERE d.n_chars >= t.thr
             |ORDER BY d.doc_id""".stripMargin),
      headline = true,
    ),
    EngineQuery(
      "sample_weighted_priority",
      (s, dir) =>
        weightedPrioritySample(Tables.documents(s, dir), k = 50, seed = "wps1")
          .orderBy("lang", "rk"),
      Some("""WITH p AS (
             |  SELECT doc_id, lang, n_chars,
             |    CAST(n_chars AS DOUBLE) * 4294967297.0 /
             |      (CAST(CAST('0x' || substr(md5('wps1:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE) + 1.0)
             |      AS priority
             |  FROM documents),
             |r AS (
             |  SELECT doc_id, lang, n_chars,
             |    row_number() OVER (PARTITION BY lang ORDER BY priority DESC, doc_id) AS rk
             |  FROM p)
             |SELECT doc_id, lang, n_chars, rk FROM r WHERE rk <= 50
             |ORDER BY lang, rk""".stripMargin),
      headline = true,
    ),
    EngineQuery(
      "source_rollup",
      (s, dir) => sourceRollup(Tables.documents(s, dir)).orderBy("source"),
      Some("""SELECT source, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  count(DISTINCT lang) AS n_langs,
             |  min(doc_id) AS min_doc_id,
             |  max(n_chars) AS max_chars
             |FROM documents GROUP BY source ORDER BY source""".stripMargin),
    ),
    EngineQuery(
      "source_cap_sample",
      (s, dir) =>
        sourceCapSample(Tables.documents(s, dir), cap = 10, seed = "scs1")
          .orderBy("source", "rk"),
      Some("""WITH r AS (
             |  SELECT doc_id, source,
             |    row_number() OVER (
             |      PARTITION BY source
             |      ORDER BY md5('scs1:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
             |  FROM documents)
             |SELECT doc_id, source, rk FROM r WHERE rk <= 10
             |ORDER BY source, rk""".stripMargin),
    ),
    EngineQuery(
      "split_assign",
      (s, dir) => splitAssign(Tables.documents(s, dir)).orderBy("doc_id"),
      Some(s"""SELECT doc_id, ${duckMd5Bucket("doc_id", 100)} AS bucket,
             |  ${duckSplitCase(duckMd5Bucket("doc_id", 100))} AS split
             |FROM documents ORDER BY doc_id""".stripMargin),
    ),
    EngineQuery(
      "sample_stratified",
      (s, dir) =>
        stratifiedSample(Tables.documents(s, dir), StratRates, StratDefault)
          .orderBy("doc_id"),
      Some {
        val rate = StratRates.foldRight(StratDefault.toString) { case ((l, r), acc) =>
          s"CASE WHEN lang = '$l' THEN $r ELSE $acc END"
        }
        s"""SELECT doc_id, lang, source, ${duckMd5Bucket("doc_id", 1000)} AS mille
           |FROM documents WHERE ${duckMd5Bucket("doc_id", 1000)} < $rate
           |ORDER BY doc_id""".stripMargin
      },
    ),
    EngineQuery(
      "shuffle_order",
      (s, dir) => shuffleOrder(Tables.documents(s, dir)).orderBy("doc_id"),
      Some(s"""SELECT doc_id,
             |  row_number() OVER (ORDER BY ${duckMd5Bucket("doc_id", 64)}, md5(CAST(doc_id AS VARCHAR)), doc_id) AS pos
             |FROM documents ORDER BY doc_id""".stripMargin),
      headline = true,
    ),
    // Stride-scheduled mixture ORDER — the oracle replays ranks,
    // weights, and virtual times with one global window (the engine
    // side is bucket-decomposed; same values).
    EngineQuery(
      "curriculum_interleave",
      (s, dir) => curriculumInterleave(Tables.documents(s, dir)).orderBy("doc_id"),
      Some(s"""WITH ranked AS (
             |  SELECT doc_id, source,
             |    row_number() OVER (PARTITION BY source
             |      ORDER BY ${duckMd5Bucket("doc_id", 64)},
             |               md5(CAST(doc_id AS VARCHAR)), doc_id) AS r
             |  FROM documents),
             |wts AS (
             |  SELECT source,
             |    CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1000) AS BIGINT) AS w
             |  FROM documents GROUP BY source),
             |wt AS (SELECT CAST(sum(w) AS BIGINT) AS wtot FROM wts),
             |vts AS (
             |  SELECT r.doc_id, r.source,
             |    CAST((CAST(r.r AS HUGEINT) * wtot) // w AS BIGINT) AS vt
             |  FROM ranked r JOIN wts USING (source) CROSS JOIN wt)
             |SELECT doc_id, source, vt,
             |  row_number() OVER (ORDER BY vt, source) AS pos
             |FROM vts ORDER BY doc_id""".stripMargin),
      headline = true,
    ),
    // Budget-bounded best-first selection (decomposed running sum).
    EngineQuery(
      "token_budget_select",
      (s, dir) => tokenBudgetSelect(Tables.documents(s, dir)).orderBy("doc_id"),
      Some(duckTokenBudget(Nil)),
      headline = true,
    ),
    // Per-language budget: each lang fills 40% of its own tokens.
    EngineQuery(
      "token_budget_by_lang",
      (s, dir) => tokenBudgetByLang(Tables.documents(s, dir)).orderBy("doc_id"),
      Some(duckTokenBudget(Seq("lang"))),
    ),
    EngineQuery(
      "mixture_alpha_budget",
      (s, dir) =>
        mixtureAlphaBudget(Tables.documents(s, dir), totalBudget = 100000L)
          .orderBy("lang"),
      Some("""WITH per AS (
             |  SELECT lang,
             |    CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
             |         ELSE length(string_split_regex(trim(text), '\s+')) END) AS BIGINT) AS n_tokens
             |  FROM documents GROUP BY lang),
             |w AS (SELECT lang, n_tokens,
             |  CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS w FROM per),
             |t AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM w)
             |SELECT lang, n_tokens, w, (100000 * w) // tw AS budget_tokens
             |FROM w CROSS JOIN t ORDER BY lang""".stripMargin),
    ),
    EngineQuery(
      "unimax_budget",
      (s, dir) =>
        unimaxBudget(Tables.documents(s, dir), totalBudget = 58000L, epochCap = 3L)
          .orderBy("lang"),
      Some("""WITH per AS (
             |  SELECT lang,
             |    CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
             |         ELSE length(string_split_regex(trim(text), '\s+')) END) AS BIGINT) AS n_tokens
             |  FROM documents GROUP BY lang),
             |c AS (SELECT lang, n_tokens, n_tokens * 3 AS cap_tokens FROM per),
             |r AS (SELECT lang, n_tokens, cap_tokens,
             |    CAST(row_number() OVER (ORDER BY cap_tokens, lang) AS BIGINT) AS i,
             |    CAST(sum(cap_tokens) OVER (ORDER BY cap_tokens, lang) AS BIGINT) AS pref,
             |    CAST(count(*) OVER () AS BIGINT) AS l
             |  FROM c),
             |f AS (SELECT *,
             |    cap_tokens * (l - i + 1) < 58000 - (pref - cap_tokens) AS is_capped
             |  FROM r),
             |s AS (SELECT
             |    CAST(sum(CASE WHEN is_capped THEN 1 ELSE 0 END) AS BIGINT) AS k,
             |    CAST(coalesce(sum(CASE WHEN is_capped THEN cap_tokens END), 0) AS BIGINT) AS capsum
             |  FROM f),
             |b AS (SELECT f.lang, f.n_tokens, f.cap_tokens, f.is_capped,
             |    CASE WHEN f.is_capped THEN f.cap_tokens
             |      ELSE (58000 - s.capsum) // greatest(f.l - s.k, 1)
             |        + CASE WHEN f.i - s.k <= (58000 - s.capsum) % greatest(f.l - s.k, 1)
             |          THEN 1 ELSE 0 END END AS budget_tokens
             |  FROM f CROSS JOIN s)
             |SELECT lang, n_tokens, cap_tokens, is_capped, budget_tokens,
             |  (1000000 * budget_tokens) // greatest(n_tokens, 1) AS epochs_ppm
             |FROM b ORDER BY lang""".stripMargin),
      headline = true,
    ),
    EngineQuery(
      "mixture_report",
      (s, dir) => mixtureReport(Tables.documents(s, dir), "lang").orderBy("lang"),
      Some("""WITH per AS (
             |  SELECT lang, count(*) AS n_docs,
             |    CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
             |         ELSE length(string_split_regex(trim(text), '\s+')) END) AS BIGINT) AS n_tokens
             |  FROM documents GROUP BY lang),
             |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS t_docs,
             |  CAST(sum(n_tokens) AS BIGINT) AS t_tokens FROM per)
             |SELECT lang, n_docs, n_tokens,
             |  CAST(n_docs AS DOUBLE) / CAST(t_docs AS DOUBLE) AS doc_share,
             |  CAST(n_tokens AS DOUBLE) / CAST(t_tokens AS DOUBLE) AS token_share
             |FROM per CROSS JOIN t ORDER BY lang""".stripMargin),
    ),
    // Largest corpus at 50/30/20 en/de/zh shares: the binding language
    // stays whole, the others downsample deterministically.
    EngineQuery(
      "mixture_rebalance",
      (s, dir) =>
        rebalanceToTarget(
          Tables.documents(s, dir), Map("en" -> 0.5, "de" -> 0.3, "zh" -> 0.2))
          .orderBy("doc_id"),
      Some("""WITH c AS (
             |  SELECT lang, count(*) AS cnt FROM documents
             |  WHERE lang IN ('en', 'de', 'zh') GROUP BY lang),
             |sh AS (SELECT lang, cnt,
             |  CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.3 ELSE 0.2 END AS share FROM c),
             |sc AS (SELECT min(CAST(cnt AS DOUBLE) / share) AS scale FROM sh),
             |t AS (SELECT lang, CAST(floor(share * scale) AS BIGINT) AS target
             |      FROM sh CROSS JOIN sc),
             |r AS (SELECT doc_id, lang,
             |  CAST(row_number() OVER (PARTITION BY lang
             |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk
             |  FROM documents WHERE lang IN ('en', 'de', 'zh'))
             |SELECT doc_id, lang, rk FROM r JOIN t USING (lang)
             |WHERE rk <= target ORDER BY doc_id""".stripMargin),
    ),
    EngineQuery(
      "pack_fragmentation_report",
      (s, dir) => packFragmentationReport(Tables.documents(s, dir), budget = 512)
        .orderBy("lang"),
      Some("""WITH t AS (
             |  SELECT doc_id, lang,
             |    CAST(length(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
             |  FROM documents),
             |c AS (SELECT doc_id, lang, n_tokens,
             |  coalesce(CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum
             |  FROM t),
             |d AS (SELECT lang, n_tokens, cum // 512 AS bin,
             |  (cum + n_tokens - 1) // 512 AS end_bin FROM c)
             |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens_total,
             |  CAST(max(end_bin) + 1 AS BIGINT) AS n_bins,
             |  CAST(sum(CASE WHEN end_bin <> bin THEN 1 ELSE 0 END) AS BIGINT) AS n_straddle,
             |  CAST((1000000 * sum(CASE WHEN end_bin <> bin THEN 1 ELSE 0 END))
             |    // greatest(count(*), 1) AS BIGINT) AS straddle_ppm,
             |  CAST((1000000 * (sum(n_tokens) % 512)) // 512 AS BIGINT) AS tail_fill_ppm
             |FROM d GROUP BY lang ORDER BY lang""".stripMargin),
    ),
    EngineQuery(
      "dedup_savings_by_source",
      (s, dir) => dedupSavingsBySource(Tables.documents(s, dir)).orderBy("source"),
      Some("""WITH g AS (
             |  SELECT source, md5(text) AS h,
             |    CAST(count(*) AS BIGINT) AS c, CAST(max(n_chars) AS BIGINT) AS sz
             |  FROM documents GROUP BY source, md5(text))
             |SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
             |  CAST(count(*) AS BIGINT) AS n_distinct,
             |  CAST(sum(c) - count(*) AS BIGINT) AS n_dup,
             |  CAST((1000000 * (sum(c) - count(*))) // greatest(sum(c), 1) AS BIGINT) AS dup_ppm,
             |  CAST(sum(c * sz) AS BIGINT) AS total_chars,
             |  CAST(sum((c - 1) * sz) AS BIGINT) AS dup_chars,
             |  CAST((1000000 * sum((c - 1) * sz))
             |    // greatest(sum(c * sz), 1) AS BIGINT) AS savings_ppm
             |FROM g GROUP BY source ORDER BY source""".stripMargin),
    ),
    // 5 multiplicative-weights rounds over the per-lang loss proxy.
    EngineQuery(
      "mixture_doremi_weights",
      (s, dir) => doremiWeights(Tables.documents(s, dir), rounds = 5).orderBy("lang"),
      Some(duckDoremi(rounds = 5, invEta = 20L)),
    ),
    // Choose→APPLY (r19): sample the corpus under the learned DoReMi
    // mixture. The oracle composes the UNROLLED weight CTEs with the
    // Hamilton quota pick — the sampled set is a pure function of the
    // same multiplicative-weights loop the weights gate replays, so
    // engine and oracle provably apply the same learned decision.
    EngineQuery(
      "mixture_doremi_apply",
      (s, dir) =>
        mixtureDoremiApply(Tables.documents(s, dir), budget = 250, rounds = 5)
          .orderBy("lang", "rk"),
      Some("WITH " + duckDoremiCtes(rounds = 5, invEta = 20L) + ",\n" +
        """q0 AS (SELECT lang, w_ppm,
          |  CAST(sum(w_ppm) OVER () AS BIGINT) AS wtot FROM w5),
          |q1 AS (SELECT lang,
          |  CAST((250 * w_ppm) // wtot AS BIGINT) AS base,
          |  CAST((250 * w_ppm) % wtot AS BIGINT) AS rem FROM q0),
          |l AS (SELECT lang, base, rem,
          |  CAST(250 - sum(base) OVER () AS BIGINT) AS leftover,
          |  row_number() OVER (ORDER BY rem DESC, lang) AS rrank FROM q1),
          |q AS (SELECT lang,
          |  CAST(base + CASE WHEN rrank <= leftover THEN 1 ELSE 0 END AS BIGINT)
          |    AS quota FROM l),
          |r AS (SELECT d.lang, d.doc_id,
          |  CAST(row_number() OVER (PARTITION BY d.lang
          |    ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS BIGINT) AS rk
          |  FROM documents d)
          |SELECT r.lang, r.doc_id, r.rk FROM r JOIN q USING (lang)
          |WHERE rk <= quota ORDER BY lang, rk""".stripMargin),
    ),
    EngineQuery(
      "length_trim_p99",
      (s, dir) => lengthTrim(Tables.documents(s, dir), 0.99).orderBy("doc_id"),
      Some("""SELECT doc_id, n_chars FROM documents
             |WHERE n_chars <= (SELECT quantile_cont(n_chars, 0.99) FROM documents)
             |ORDER BY doc_id""".stripMargin),
    ),
    // Scale-safe trim twin, self-verifying like percentile_prices_approx:
    // approx_percentile(accuracy=1000) bounds rank error at n/1000, so
    // the sketch threshold must land in the exact [p0.98, max] bracket
    // (10× slack) and the kept fraction must be ≥ 0.98 — the relation
    // emits the deterministic total plus the two check booleans, making
    // the oracle exact: count + literal true.
    EngineQuery(
      "length_trim_p99_approx",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val kept = lengthTrimApprox(docs, 0.99).agg(count(lit(1)).as("__kept"))
        docs.agg(
            count(lit(1)).as("cnt_total"),
            expr("approx_percentile(n_chars, 0.99, 1000)").as("__thr"),
            expr("percentile(n_chars, 0.98)").as("__lo"),
            max(col("n_chars")).as("__hi"))
          .crossJoin(broadcast(kept))
          .select(
            col("cnt_total"),
            (col("__thr").cast("double") >= col("__lo") &&
              col("__thr").cast("double") <= col("__hi").cast("double")).as("thr_in_bracket"),
            (col("__kept").cast("double") >= col("cnt_total").cast("double") * 0.98).as("kept_ok"))
      },
      Some("""SELECT count(*) AS cnt_total, true AS thr_in_bracket, true AS kept_ok
             |FROM documents""".stripMargin),
    ),
    // At most 30 docs per language, hash-ranked — en/de/zh/fr/es all
    // exceed 30 at sf0.01, so the cap genuinely bites every stratum.
    EngineQuery(
      "sample_balanced_cap",
      (s, dir) =>
        balancedCap(Tables.documents(s, dir), "lang", 30).orderBy("doc_id"),
      Some("""SELECT doc_id, lang, rk FROM (
             |  SELECT doc_id, lang,
             |    CAST(row_number() OVER (PARTITION BY lang
             |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk
             |  FROM documents)
             |WHERE rk <= 30 ORDER BY doc_id""".stripMargin),
    ),
    // Version diff between the corpus and a synthetic next snapshot
    // (every 10th doc dropped, every 7th rewritten, all others kept).
    EngineQuery(
      "snapshot_diff",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val v2 = docs.where(col("doc_id") % 10 =!= 0)
          .withColumn("text",
            when(col("doc_id") % 7 === 0, upper(col("text"))).otherwise(col("text")))
        snapshotDiff(docs, v2).orderBy("doc_id")
      },
      Some("""WITH v2 AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 7 = 0 THEN upper(text) ELSE text END AS text
             |  FROM documents WHERE doc_id % 10 <> 0),
             |a AS (SELECT doc_id, md5(text) AS h1 FROM documents),
             |b AS (SELECT doc_id, md5(text) AS h2 FROM v2)
             |SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
             |  CASE WHEN a.doc_id IS NULL THEN 'added'
             |       WHEN b.doc_id IS NULL THEN 'removed'
             |       WHEN h1 = h2 THEN 'same'
             |       ELSE 'changed' END AS status
             |FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
             |ORDER BY doc_id""".stripMargin),
    ),
    EngineQuery(
      "text_repetition",
      (s, dir) => repetitionScore(Tables.documents(s, dir)).orderBy("doc_id"),
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
             |  FROM documents),
             |tc AS (SELECT doc_id, tok, count(*) AS cnt FROM toks WHERE tok <> '' GROUP BY doc_id, tok)
             |SELECT doc_id, max(cnt) AS top_tok_cnt, CAST(sum(cnt) AS BIGINT) AS n_tokens,
             |  CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE) AS top_tok_ratio
             |FROM tc GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    ),
    EngineQuery(
      "pii_scrub",
      (s, dir) =>
        piiScrub(withInjectedPii(Tables.documents(s, dir)), col("__pii_text"))
          .orderBy("doc_id"),
      Some(s"""WITH t AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 10 = 0
             |         THEN text || ' contact: jane.doe@example.com or 555-123-4567'
             |         ELSE text END AS pt
             |  FROM documents)
             |SELECT doc_id,
             |  length(regexp_extract_all(pt, '$EmailRe')) AS n_emails,
             |  length(regexp_extract_all(pt, '$PhoneRe')) AS n_phones,
             |  md5(regexp_replace(regexp_replace(pt, '$EmailRe', '<EMAIL>', 'g'), '$PhoneRe', '<PHONE>', 'g')) AS scrubbed_md5
             |FROM t ORDER BY doc_id""".stripMargin),
    ),
    // Holdout = every 50th doc (a stand-in benchmark set); flags
    // non-holdout docs sharing any distinct word-5-gram with it.
    EngineQuery(
      "decontaminate_overlap",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        decontaminate(
          docs.where(col("doc_id") % 50 =!= 0),
          docs.where(col("doc_id") % 50 === 0), n = 5)
          .orderBy("doc_id")
      },
      Some(DuckDecontaminate),
      headline = true,
    ),
    // Bloom pre-pass formulation: identical relation (the exact join
    // removes the sketch's false positives), so it shares the oracle.
    EngineQuery(
      "decontaminate_bloom",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        decontaminateBloom(
          docs.where(col("doc_id") % 50 =!= 0),
          docs.where(col("doc_id") % 50 === 0), n = 5,
          expectedItems = 1L << 17, numBits = 1L << 20)
          .orderBy("doc_id")
      },
      Some(DuckDecontaminate),
    ),
    // The end-to-end pipeline: quality >= 0.51 (median ~0.517 on this
    // corpus, so the gate genuinely filters) AND survives near-dup
    // dedup, bucketed into train/val/test, counted per (lang, split).
    EngineQuery(
      "curated_corpus",
      (s, dir) =>
        curatedCorpus(Tables.documents(s, dir), minScore = 0.51)
          .orderBy("lang", "split"),
      Some {
        import graft.dedup.Dedup.{duckSig, duckBands, duckPairs}
        s"""WITH RECURSIVE sig AS ($duckSig),
           |bands AS ($duckBands),
           |pairs AS ($duckPairs),
           |und AS (SELECT doc_a AS a, doc_b AS b FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
           |reach(a, b) AS (
           |  SELECT a, b FROM und
           |  UNION
           |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a WHERE r.a <> u.b),
           |lab AS (SELECT a AS doc_id, least(a, min(b)) AS component FROM reach GROUP BY a),
           |$DuckQualityCtes,
           |cur AS (
           |  SELECT d.doc_id, d.lang FROM documents d
           |  JOIN qs ON d.doc_id = qs.doc_id AND qs.score >= 0.51
           |  WHERE d.doc_id NOT IN (SELECT doc_id FROM lab WHERE doc_id <> component))
           |SELECT lang,
           |  ${duckSplitCase(duckMd5Bucket("doc_id", 100))} AS split,
           |  count(*) AS n_docs
           |FROM cur GROUP BY lang, split ORDER BY lang, split""".stripMargin
      },
      headline = true,
    ),
    // End-of-pipeline shard export (r19): curated keep-set → packed
    // sequences → deterministic md5-ranked round-robin shard → per-shard
    // counts. The oracle composes the curated_corpus keep CTEs, the
    // pack_sequences running sum, and a global rank replaying the
    // engine's bucket-decomposed (b, hk, lang, bin) order.
    EngineQuery(
      "export_training_shards",
      (s, dir) =>
        exportTrainingShards(Tables.documents(s, dir),
            minScore = 0.51, budget = 512, nShards = 8)
          .orderBy("shard"),
      Some {
        import graft.dedup.Dedup.{duckSig, duckBands, duckPairs}
        s"""WITH RECURSIVE sig AS ($duckSig),
           |bands AS ($duckBands),
           |pairs AS ($duckPairs),
           |und AS (SELECT doc_a AS a, doc_b AS b FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
           |reach(a, b) AS (
           |  SELECT a, b FROM und
           |  UNION
           |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a WHERE r.a <> u.b),
           |lab AS (SELECT a AS doc_id, least(a, min(b)) AS component FROM reach GROUP BY a),
           |$DuckQualityCtes,
           |cur AS (
           |  SELECT d.doc_id, d.lang, d.text FROM documents d
           |  JOIN qs ON d.doc_id = qs.doc_id AND qs.score >= 0.51
           |  WHERE d.doc_id NOT IN (SELECT doc_id FROM lab WHERE doc_id <> component)),
           |t AS (SELECT doc_id, lang,
           |  CAST(length(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
           |  FROM cur),
           |p AS (SELECT doc_id, lang, n_tokens,
           |  coalesce(CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) // 512 AS bin
           |  FROM t),
           |seqs AS (SELECT lang, bin, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           |  md5(lang || ':' || CAST(bin AS VARCHAR)) AS hk
           |  FROM p GROUP BY lang, bin),
           |sb AS (SELECT *, CAST('0x' || substr(hk, 1, 8) AS BIGINT) % 64 AS b FROM seqs),
           |pos AS (SELECT *, row_number() OVER (ORDER BY b, hk, lang, bin) AS pos FROM sb),
           |sh AS (SELECT *, CAST((pos - 1) % 8 AS BIGINT) AS shard FROM pos)
           |SELECT shard, count(*) AS n_seqs, CAST(sum(n_docs) AS BIGINT) AS n_docs,
           |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens
           |FROM sh GROUP BY shard ORDER BY shard""".stripMargin
      },
    ),
    // Keep-best dedup: same components as dedup_apply_keep, but the
    // survivor is the highest-QUALITY doc per cluster (ties → doc_id),
    // scored by the same formula the quality gate uses.
    EngineQuery(
      "dedup_apply_best",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        graft.dedup.Dedup.dedupApplyBest(
            docs, graft.text.TextAnalysis.qualityScore(docs).select("doc_id", "score"))
          .orderBy("doc_id")
      },
      Some {
        import graft.dedup.Dedup.{duckSig, duckBands, duckPairs}
        s"""WITH RECURSIVE sig AS ($duckSig),
           |bands AS ($duckBands),
           |pairs AS ($duckPairs),
           |und AS (SELECT doc_a AS a, doc_b AS b FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
           |reach(a, b) AS (
           |  SELECT a, b FROM und
           |  UNION
           |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a WHERE r.a <> u.b),
           |lab AS (SELECT a AS doc_id, least(a, min(b)) AS component FROM reach GROUP BY a),
           |$DuckQualityCtes,
           |ranked AS (
           |  SELECT l.doc_id,
           |    row_number() OVER (PARTITION BY l.component ORDER BY q.score DESC, l.doc_id) AS rk
           |  FROM lab l JOIN qs q ON l.doc_id = q.doc_id)
           |SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM lab)
           |UNION ALL
           |SELECT doc_id FROM ranked WHERE rk = 1
           |ORDER BY doc_id""".stripMargin
      },
    ),
    EngineQuery(
      "pack_sequences",
      (s, dir) => packSequences(Tables.documents(s, dir), budget = 512).orderBy("doc_id"),
      Some(DuckPackSequences),
    ),
    // Same relation, scale-safe plan: the decomposed prefix must equal
    // the single-window formulation EXACTLY — so it shares the oracle.
    EngineQuery(
      "pack_sequences_scalable",
      (s, dir) =>
        packSequencesScalable(Tables.documents(s, dir), budget = 512).orderBy("doc_id"),
      Some(DuckPackSequences),
    ),
  )

  /** The quality-score CTE pair `(qt, qs)` — ONE definition of the
    * 0.6·alpha + 0.4·stopword formula for every oracle that gates on
    * the score (curated_corpus, dedup_apply_best), mirroring
    * [[graft.text.TextAnalysis.qualityScore]].
    */
  private val DuckQualityCtes =
    // NOTE plain (non-interpolated) triple quotes do NOT process \\
    // escapes, unlike the s-interpolated oracle blocks — the regex here
    // must be written with the single backslash DuckDB should receive.
    """qt AS (SELECT doc_id, text,
      |  length(text) AS n_chars,
      |  length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS n_alpha,
      |  CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
      |       ELSE string_split_regex(trim(text), '\s+') END AS toks
      |  FROM documents),
      |qs AS (SELECT doc_id,
      |  0.6 * (CAST(n_alpha AS DOUBLE) / CAST(greatest(n_chars, 1) AS DOUBLE))
      |  + 0.4 * (CAST(length(list_filter(toks, x -> x IN ('the', 'of', 'and', 'to', 'in', 'a'))) AS DOUBLE)
      |      / CAST(greatest(length(toks), 1) AS DOUBLE)) AS score
      |  FROM qt)""".stripMargin

  private val DuckDecontaminate =
    """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
      |grams AS (
      |  SELECT DISTINCT doc_id, array_to_string(t[CAST(i AS INT):CAST(i + 4 AS INT)], ' ') AS gram
      |  FROM (SELECT doc_id, t, unnest(generate_series(1, length(t) - 4)) AS i FROM toks WHERE length(t) >= 5)),
      |hold AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 50 = 0)
      |SELECT g.doc_id, count(*) AS n_shared_grams
      |FROM grams g JOIN hold h ON g.gram = h.gram
      |WHERE g.doc_id % 50 <> 0
      |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin

  private val DuckPackSequences =
    """WITH t AS (
      |  SELECT doc_id, lang,
      |    CAST(length(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
      |  FROM documents)
      |SELECT doc_id, lang, n_tokens,
      |  coalesce(CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) // 512 AS bin
      |FROM t ORDER BY doc_id""".stripMargin
}
