package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.{Registry, Tables, TestSpark}

/** CI teeth for the PLANS.md audit claims: the load-bearing plan
  * properties are asserted on every test run, not just eyeballed in the
  * generated dump. Each check reads the pre-execution physical plan of
  * the real gate query over real parquet (local relations would
  * constant-fold the interesting structure away).
  */
class PlanAuditSpec extends AnyFunSuite with Matchers {
  private val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    Registry.all.find(_.name == name).get.fn(spark, sfDir)
      .queryExecution.executedPlan.toString

  test("range join plans as a hash equi-join, never a nested-loop product") {
    plan("range_join_value_bands") should not include "BroadcastNestedLoopJoin"
    // the events-free twin keeps the same shape on the part table
    plan("range_join_price_bands") should not include "BroadcastNestedLoopJoin"
  }

  test("weighted priority sample: rank cut runs as WindowGroupLimit, lang is the only exchange key") {
    val p = plan("sample_weighted_priority")
    // each partition retains only k candidates before the window sort
    p should include("WindowGroupLimit")
    "Exchange hashpartitioning\\(([a-z_]+)#".r.findAllMatchIn(p)
      .map(_.group(1)).toSet shouldBe Set("lang")
  }

  test("correlated EXISTS decorrelates to a semi join; date band pushes to the orders scan") {
    val p = plan("sql_q4_late_shipment")
    p should include("LeftSemi")
    // The pushdown pin only holds for timestamp-encoded o_orderdate
    // (Spark unwraps the NTZ cast). Under the other encodings
    // SchemaGuard also accepts — TIMESTAMP(NANOS)-as-long (normalizeTs
    // rebuilds the column arithmetically) and DATE (the TIMESTAMP
    // literal can't push below the implicit cast) — the filter
    // legitimately sits above a Project: correct, just not scan-pushed.
    // Gate on the vintages where the pin HOLDS, not on != LongType,
    // so an allowed DATE regeneration doesn't fail the build.
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val rawOrderdate = spark.read.parquet(s"$sfDir/orders.parquet").schema("o_orderdate").dataType
    if (rawOrderdate == TimestampType || rawOrderdate == TimestampNTZType)
      p should include regex "PushedFilters: \\[.*GreaterThanOrEqual\\(o_orderdate"
  }

  test("scalar subqueries evaluate once (broadcast), EXISTS decorrelates — no per-row subquery") {
    val p = plan("sql_q22_balance_segments")
    p should include("Subquery")     // the two scalar aggregates
    p should include("LeftSemi")     // the EXISTS
    p should not include "CartesianProduct"
  }

  test("correlated scalar aggregate decorrelates to a grouped aggregate + join") {
    val p = plan("sql_correlated_max_order")
    // the per-group max computes ONCE as an aggregate joined back —
    // never a per-row subquery, never a cartesian
    p should include("HashAggregate")
    p should (include("BroadcastHashJoin") or include("SortMergeJoin") or include("ShuffledHashJoin"))
    p should not include "CartesianProduct"
  }

  test("embedding dim stats: one generate + dim-keyed partial/final aggregate") {
    val p = plan("embedding_dim_stats")
    p should include("Generate posexplode")
    // the exchange carries |dims| rows per task (map-side combine):
    // partial aggregation sits below the single dim-keyed exchange
    p should include("partial_sum")
    "Exchange hashpartitioning\\(([a-z_]+)#".r.findAllMatchIn(p)
      .map(_.group(1)).toSet shouldBe Set("dim")
  }

  test("lang adaptive cut: windows run over the histogram; thresholds broadcast back") {
    val p = plan("lang_adaptive_cut")
    p should include("BroadcastHashJoin")
    // every hash exchange leads with lang — the (lang, score) histogram
    // aggregation and the lang-keyed window over it; the corpus never
    // partitions by doc, and no corpus-slice-wide sort task exists
    "Exchange hashpartitioning\\(([a-z_]+)#".r.findAllMatchIn(p)
      .map(_.group(1)).toSet shouldBe Set("lang")
  }

  test("cdc agg maintain: aggregates only — no join with the maintained base") {
    val p = plan("cdc_agg_maintain")
    // the delta terms derive from the change cohorts alone; the merge
    // of stored aggregate + deltas is a union + re-aggregation
    p should not include "Join"
    p should include("Union")
  }

  test("orders self as-of: one hash exchange on the key, one window pass") {
    val p = plan("asof_orders_same_day_max")
    // the union'd stream partitions once on user_id for the window
    // carry; no join operator appears at all (the as-of is a window).
    // Every hash exchange keys on the as-of key — which surfaces as
    // o_custkey on the right side's pre-aggregation (alias pushed
    // below the exchange) and user_id on the union'd window input.
    p should not include "Join"
    "Exchange hashpartitioning\\(([a-z_]+)#".r.findAllMatchIn(p)
      .map(_.group(1)).toSet should (be(Set("user_id")) or be(Set("user_id", "o_custkey")))
  }

  test("CC per-iteration plan: neighbor propagation is a hash equi-join + node-keyed min aggregate") {
    val p = plan("neardup_cc_step")
    // the loop body's shape (kmeans_step discipline — the loop itself
    // returns a checkpoint scan): labels travel via an equi-join on
    // the edge endpoint, never a nested-loop product, and collapse in
    // a partial+final min aggregate keyed on the node
    p should (include("SortMergeJoin") or include("ShuffledHashJoin") or include("BroadcastHashJoin"))
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    p should include("partial_min")
  }

  test("curated corpus: composition filters the fact stream, never widens it") {
    val p = plan("curated_corpus")
    // quality gate and dedup keep-set attach as id-set semi/anti joins;
    // nothing in the composed plan is a product (plan() executes the
    // CC loop first, so this audits the REAL post-training frame whose
    // dedup leaf is the materialized label checkpoint)
    p should include("LeftSemi")
    p should include("LeftAnti")
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    // the dedup keep-set enters from the one materialized CC result,
    // not a re-run of the MinHash pipeline: no Generate (shingling)
    // survives into the composed plan
    p should not include "Generate"
  }

  test("source cap sample: rank cut is WindowGroupLimit, source leads the window exchange") {
    val p = plan("source_cap_sample")
    p should include("WindowGroupLimit")
    p should not include "CartesianProduct"
  }

  test("minhash candidate precision: exact Jaccard joins are candidate-bounded equi-joins") {
    val p = plan("minhash_candidate_precision")
    // the shingle-intersection join keys on (doc, shingle) — hash
    // equi-joins only; the quadratic mass is the surviving candidate
    // set, never corpus x corpus
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
  }

  test("broadcast revenue join never shuffles the fact table") {
    val p = plan("join_broadcast_revenue")
    p should include("BroadcastHashJoin")
    // the only hash exchange is the final small group-by on n_name
    "Exchange hashpartitioning\\(([a-z_]+)#".r.findAllMatchIn(p).map(_.group(1)).toSet shouldBe Set("n_name")
  }

  test("scan pushdown: filter and projection reach the parquet scan") {
    val p = plan("scan_project")
    p should include("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]")
    p should include("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double,l_returnflag:string>")
  }

  test("global top-k plans TakeOrderedAndProject, not a full sort") {
    plan("topk_global") should include("TakeOrderedAndProject")
  }

  test("minhash aggregation has no distinct shuffle of the shingle stream") {
    val p = plan("minhash_signatures")
    p should include("partial_min")
    p should not include "dropDuplicates"
  }

  test("ANN brute force broadcasts the query side (corpus side never shuffles)") {
    val p = plan("ann_brute_topk")
    p should include("BroadcastNestedLoopJoin") // deliberate bounded cross: |Q| tiny
    p should include("WindowGroupLimit")        // rank cut below the window sort
  }

  test("decontamination broadcasts the holdout gram set, as 64-bit hashes") {
    val p = plan("decontaminate_overlap")
    p should include("BroadcastHashJoin")
    // grams travel as NgramHashGenerator 8-byte hashes — no concat_ws
    // gram string is ever built on either side
    p.toLowerCase should include("ngramhashgenerator")
    p should not include "concat_ws"
  }

  test("ngram jaccard: shingles travel as generator hashes, never strings") {
    val p = plan("ngram_jaccard_pairs")
    p.toLowerCase should include("ngramhashgenerator")
    p should not include "concat_ws"
  }

  test("shuffle order's row-ranking window is partitioned (not global)") {
    // In a windowspecdefinition the partition columns come FIRST and
    // carry no sort direction; an unpartitioned (single-partition,
    // scale-killing) ranking window would print its first argument with
    // `ASC/DESC`. Assert the row_number spec starts with the bare
    // partition column `b`, i.e. `windowspecdefinition(b#NNL, hk#...`.
    // (The small offsets window over `buckets` rows is legitimately
    // unpartitioned — driver-sized — so we pin the ranking window
    // specifically rather than all Window nodes.)
    val p = plan("shuffle_order")
    p should include regex """row_number\(\) windowspecdefinition\(b#\d+L, hk#"""
    p should not include regex ("""row_number\(\) windowspecdefinition\(b#\d+L ASC""")
  }

  test("deterministic sampling adds no exchange beyond the output ORDER BY") {
    val p = plan("sample_stratified")
    "Exchange [a-z]+partitioning".r.findAllIn(p).toList.count(_.startsWith("Exchange hash")) shouldBe 0
  }

  test("scalable packing: per-row prefix window is bucket-partitioned, offsets broadcast") {
    val p = plan("pack_sequences_scalable")
    p should include("BroadcastHashJoin") // the ≤buckets-row offset table joins broadcast
    // the big per-row window partitions on (lang, b) — never lang alone
    p should include regex """windowspecdefinition\(lang#\d+, b#\d+L, doc_id#"""
  }

  test("scalable quartiles: sketch thresholds instead of a per-group ntile sort") {
    val p = plan("price_quartiles_scalable")
    p should include("approx_percentile")
    p should not include regex ("""[^_a-z]ntile\(""") // no window ntile (approx_percentile contains the substring)
    p should include("BroadcastHashJoin") // thresholds broadcast back, fact never window-sorts
  }

  test("bloom decontamination filters the gram stream map-side") {
    val p = plan("decontaminate_bloom")
    p should include("might_contain") // fixed-size sketch filter below the join
  }

  test("q6: all three predicate bands push to the parquet scan") {
    // the default 100-char metadata truncation cuts PushedFilters off
    // mid-list; widen it for this assertion
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try {
      val p = plan("q6_forecast_revenue")
      p should include regex """PushedFilters: \[.*GreaterThanOrEqual\(l_shipdate"""
      p should include regex """PushedFilters: \[.*GreaterThanOrEqual\(l_discount"""
      p should include regex """PushedFilters: \[.*LessThan\(l_quantity"""
    } finally spark.conf.unset("spark.sql.maxMetadataStringLength")
  }

  test("variant extraction stays a single aggregate pass") {
    val p = plan("variant_extract_stats")
    p should include("variant_get")
    "Exchange hashpartitioning".r.findAllIn(p).size shouldBe 1 // only the group-by
  }

  test("gopher flags and c4 filter are pure map stages (no hash exchange)") {
    for (q <- Seq("gopher_quality_flags", "c4_line_filter")) {
      val p = plan(q)
      withClue(q) {
        "Exchange hashpartitioning".r.findAllIn(p).size shouldBe 0
      }
    }
  }

  test("substring dup: content-defined keep-filter runs below the gram exchanges") {
    val p = plan("substring_dup_stats")
    // hash exchanges only ever carry the gram hash (h) or doc_id — never
    // an all-pairs join. (At test SF the tiny dup-hash side broadcasts,
    // so `h` may not even need a shuffle; at scale the same declarative
    // join becomes a hash-partition join on h.)
    val keys = "Exchange hashpartitioning\\(([a-z_]+)#".r.findAllMatchIn(p).map(_.group(1)).toSet
    keys.subsetOf(Set("h", "doc_id")) shouldBe true
    p should not include "BroadcastNestedLoopJoin"
    // r13: the 1/8 content-defined keep runs INSIDE the rolling-hash
    // generator (keepMod=8) — discarded windows never materialize as
    // rows, so there is no separate keep Filter and no md5 anywhere
    p should include("rollinghashgenerator(text")
    p should include regex """rollinghashgenerator\(text#\d+, 40, 0, 8\)"""
    p should not include "md5"
  }

  test("line dedup: only hash exchanges are the line-hash agg and per-doc rebuild") {
    val p = plan("line_dedup_corpus")
    val keys = "Exchange hashpartitioning\\(([a-z_]+)#".r.findAllMatchIn(p).map(_.group(1)).toSet
    keys.subsetOf(Set("lh", "doc_id")) shouldBe true
    p should not include "BroadcastNestedLoopJoin"
  }

  test("repetition n-grams: one scan fans out x9 sizes, doc-scoped exchanges only") {
    val p = plan("gopher_repetition_ngrams")
    // a single documents scan — the 9 n-values come from one explode
    "FileScan parquet".r.findAllIn(p).size shouldBe 1
    // every hash exchange leads with doc_id — doc-scoped, never corpus-global
    val keys = "Exchange hashpartitioning\\(([a-z_]+)#".r.findAllMatchIn(p).map(_.group(1)).toList
    keys should not be empty
    keys.distinct shouldBe List("doc_id")
  }

  test("repetition lines: every hash exchange leads with doc_id") {
    val p = plan("gopher_repetition_lines")
    val keys = "Exchange hashpartitioning\\(([a-z_]+)#".r.findAllMatchIn(p).map(_.group(1)).toList
    keys should not be empty
    keys.distinct shouldBe List("doc_id")
  }

  test("heavy hitters: candidate recount joins broadcast; no full-vocab shuffle") {
    val p = plan("heavy_hitters")
    p should include("BroadcastHashJoin")
    // exactly one token-stream hash exchange: the candidate-only recount
    // groupBy(term, n_total); the MG summary merge is SinglePartition
    val hashEx = "Exchange hashpartitioning\\(([a-z_]+)#".r.findAllMatchIn(p).map(_.group(1)).toList
    hashEx.count(_ == "term") shouldBe 1
    p should include("Exchange SinglePartition")
  }

  test("bloom semi-join: bitmap bit tests run BELOW the exact FP-removal join") {
    val p = plan("bloom_semi_join_pruned")
    // the one-row bitmap arrives by broadcast cross (never a shuffle)
    p should include regex """BroadcastNestedLoopJoin BuildRight, Cross"""
    // bit tests are element_at lookups over the broadcast array
    p should include("element_at")
    // r19 optimization round: the exact FP-removal join is an INNER
    // equi-join against the distinct key set (semi multiplicity by
    // construction) — the former LeftSemi was sunk BELOW the bitmap
    // attach by PushDownLeftSemiAntiJoin, running the exact join on
    // the raw probe side and the Bloom test on its output. The
    // ordering is the operator's contract: the BNLJ (bit tests) must
    // appear DEEPER in the plan string than the exact join.
    p should not include "LeftSemi"
    val bnlj = p.indexOf("BroadcastNestedLoopJoin")
    val exact = p.indexOf("BroadcastHashJoin")
    assert(bnlj >= 0 && exact >= 0 && exact < bnlj,
      s"exact join must sit ABOVE the bloom BNLJ (exact at $exact, bnlj at $bnlj)")
  }

  test("setsim: prefix rank window is doc-partitioned, never a global sort") {
    val p = plan("setsim_jaccard_join")
    // row_number over (doc_id) partition: partition col first, unsorted
    p should include regex """row_number\(\) windowspecdefinition\(doc_id#\d+L, df#"""
    p should not include regex ("""row_number\(\) windowspecdefinition\(doc_id#\d+L ASC""")
    // exact verification by array_intersect, not a token re-join
    p should include("array_intersect")
  }

  test("count-min: grid aggregates partial+final; sketch crosses in as one broadcast row") {
    val p = plan("countmin_token_freq")
    p should include("partial_count")
    p should include regex """BroadcastNestedLoopJoin BuildRight, Cross"""
    // estimate is least() over element_at lookups — scalar projection
    p should include("least")
  }

  test("count-min: tokenize+groupBy exchange is REUSED across the broadcast boundary") {
    // The top-k branch and the weighted-sketch branch both root in the
    // identical groupBy(tok) subplan; the pre-execution dump shows the
    // subtree twice, but AQE's stage reuse must execute it ONCE — this
    // is the claim behind the sketch build being vocabulary-linear
    // (CountMin.countMinTopTokens), so pin it on the EXECUTED adaptive
    // plan, not the pre-execution string.
    val df = Registry.all.find(_.name == "countmin_token_freq").get.fn(spark, sfDir)
    df.collect()
    df.queryExecution.executedPlan.toString should include("ReusedExchange")
  }

  test("code detection is a pure map stage: no hash exchange, no join, no window") {
    val p = plan("code_detect_score")
    "Exchange hashpartitioning".r.findAllIn(p).size shouldBe 0
    p should not include "Join"
    p should not include "Window ["
  }

  test("Luhn scan is a pure map stage: higher-order checksum, no explode, no exchange") {
    val p = plan("luhn_pii_scan")
    "Exchange hashpartitioning".r.findAllIn(p).size shouldBe 0
    p should not include "Generate" // candidates stay a lazy array
    p should not include "Join"
  }

  test("rank suite: corpus reduces to daily totals; one ordering serves all four functions") {
    val p = plan("window_rank_suite")
    p should include("partial_sum")
    // dense_rank/percent_rank/cume_dist share one Window sort; only
    // nth_value's unbounded-following frame needs a second Window node
    "Window \\[".r.findAllMatchIn(p).size should be <= 2
    p should not include "Join"
  }

  test("rolling active users: sketch union is a RANGE window over stored sketches") {
    val p = plan("rolling_7d_active_users")
    p should include("hll_union_agg")
    p should include("specifiedwindowframe(RangeFrame, -6, currentrow")
    // the sketch side never re-touches events rows past the daily agg
    p should include("partial_hll_sketch_agg")
  }

  test("hashed linear scoring is a pure map stage (no hash exchange)") {
    val p = plan("hashed_linear_score")
    "Exchange hashpartitioning".r.findAllIn(p).size shouldBe 0
  }

  test("char entropy is a pure map stage (no hash exchange)") {
    val p = plan("char_entropy_quality")
    "Exchange hashpartitioning".r.findAllIn(p).size shouldBe 0
  }

  test("profile: one Expand-based aggregate pass, no per-column scans") {
    val p = plan("profile_lineitem")
    "FileScan parquet".r.findAllIn(p).size shouldBe 1
    p should include("Expand")
  }

  test("zorder stats: maxima broadcast + projection + small aggregates — no shuffle join, no window") {
    val p = plan("zorder_skipping_stats")
    // the data-derived key scaling crosses in ONE one-row maxima
    // aggregate by broadcast; no hash/merge join anywhere
    p should include("BroadcastNestedLoopJoin")
    p should not include "SortMergeJoin"
    p should not include "ShuffledHashJoin"
    p should not include regex ("""Window(?!GroupLimit)""")
    // per-layout 64-group aggregates are partial+final (map-side combine)
    p should include("partial_count")
  }

  test("pq adc: codebook and query table broadcast; corpus never shuffles to be coded") {
    val p = plan("ann_pq_adc_topk")
    p should include("BroadcastHashJoin")
    p should include("WindowGroupLimit")
    // the only hash exchanges are (n_id, s)-keyed argmin and the adc pair agg
    val keys = "Exchange hashpartitioning\\(([a-z_]+)#".r.findAllMatchIn(p).map(_.group(1)).toSet
    keys.subsetOf(Set("n_id", "q_id", "s", "c")) shouldBe true
  }

  test("bm25: query terms broadcast into the token stream; top-k under WindowGroupLimit") {
    val p = plan("bm25_top_docs")
    p should include("BroadcastHashJoin")
    p should include("WindowGroupLimit")
  }

  test("cdc merge: ONE full-outer join resolves update/delete/insert") {
    val p = plan("cdc_merge_upsert")
    // one full-outer join in the whole plan (orders scans twice: base +
    // change feed; the three change cohorts union below the ONE exchange)
    "FullOuter".r.findAllIn(p).size shouldBe 1
    p should include("SortMergeJoin")
  }

  test("semdedup: consumers scan the materialized assignment; pairwise keyed by cluster id") {
    val p = plan("semdedup_prune")
    // the Lloyd train loop ran ONCE inside assignments() — the verdict
    // plan's leaves are the checkpointed assignment table, not the
    // embeddings scan + training pipeline re-planned per consumer
    p should include("Scan ExistingRDD")
    p should not include "kmeans"
    p should not include "BroadcastNestedLoopJoin" // no all-pairs cross
    // every hash exchange is the cid-keyed pairwise shuffle or the
    // vec_id-keyed verdict aggregation/join — nothing corpus-global
    "Exchange hashpartitioning\\(([a-z_]+)#".r.findAllMatchIn(p)
      .map(_.group(1)).toSet should (be(Set("cid", "b_cid", "vec_id"))
      or be(Set("cid", "vec_id")))
  }

  test("token budget: running-sum window is bucket-partitioned, offsets broadcast") {
    val p = plan("token_budget_select")
    // the corpus-sized cumulative sum partitions on the quality bucket
    p should include regex """windowspecdefinition\(qb#\d+L, score#"""
    p should include("BroadcastHashJoin") // ≤buckets-row offset table
    // the only unpartitioned window is the offsets prefix over the
    // tiny per-bucket aggregate (its input exchange is SinglePartition
    // over ≤50 rows), never the document stream
    p should not include regex ("""sum\(n_tokens#\d+L\) windowspecdefinition\(score#""")
  }

  test("bpe pair counts: pairs explode from the VOCABULARY, not the token stream") {
    val p = plan("bpe_pair_counts")
    // exactly two hash exchanges: the word-count aggregation (corpus
    // pass) and the pair-count aggregation (vocabulary pass); the
    // pair Generate consumes the aggregated (w, c) relation
    "Exchange hashpartitioning".r.findAllIn(p).size shouldBe 2
    p should include regex """Exchange hashpartitioning\(w#"""
  }

  test("bpe tokenize: consumers scan the trained vocabulary, join by word, roll up by doc") {
    val p = plan("bpe_tokenize_stats")
    // the learner ran before plan time; its result is a checkpoint scan
    p should include("Scan ExistingRDD")
    // wide ops key only on the word (join) and doc_id (rollup)
    "Exchange hashpartitioning\\(([a-z_]+)#".r.findAllMatchIn(p)
      .map(_.group(1)).toSet should (be(Set("w", "doc_id")) or be(Set("doc_id")))
  }

  test("pagerank: all joins are equi-joins (no nested-loop), final cut is TakeOrdered") {
    val p = plan("graph_pagerank_parts")
    p should not include "BroadcastNestedLoopJoin"
    p should not include "CartesianProduct"
    // top-20 never globally sorts the rank table
    p should include("TakeOrderedAndProject")
  }

  test("dsir: single-row total is the only cross; cut is TakeOrdered; score rollup keys on doc_id") {
    val p = plan("dsir_importance_select")
    p should not include "CartesianProduct"
    p should include("TakeOrderedAndProject")
    // the token-keyed weight join and the doc-keyed rollup are the wide ops
    "Exchange hashpartitioning\\(([a-z_0-9]+)#".r.findAllMatchIn(p)
      .map(_.group(1)).toSet should contain("doc_id")
  }

  test("curation funnel: collapses to one single-partition aggregate row, no extra corpus pass") {
    val p = plan("curation_funnel")
    // the 4 stage rows explode from ONE 1-row aggregate
    p should include("Generate explode")
    // repetition side joins back on doc_id; dup window keys on the text hash
    p should not include "CartesianProduct"
  }

  test("triangle counting: equi-joins only — orientation kills the neighbor-pair blowup") {
    val p = plan("graph_triangle_counts")
    // wedge + closing joins are hash equi-joins; the inequality filters
    // (degree orientation) are applied on the edge relation BEFORE the
    // joins, never as a nested-loop post-filter
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    // corner fanout is a lazy Generate, and per-node counts combine
    // map-side below the node-keyed exchange
    p should include("Generate explode")
    p should include("partial_count")
  }

  test("sq8 recall: bounds are a 1-row broadcast carrier; rank cuts run as WindowGroupLimit") {
    val p = plan("embedding_sq8_recall")
    // the per-dim min/max array pair rides a broadcast single-row
    // crossJoin (the mixture-budget carrier shape) — the corpus never
    // shuffles to get quantized
    p should include("BroadcastExchange")
    p should include("WindowGroupLimit")
    p should not include "CartesianProduct"
  }

  test("embedding outliers: top-n is TakeOrderedAndProject, stats combine map-side") {
    val p = plan("embedding_outliers")
    p should include("TakeOrderedAndProject")
    p should include("partial_sum")
    p should not include "CartesianProduct"
  }

  test("hourly anomaly: window runs over the hour-cardinality aggregate, never raw events") {
    val p = plan("events_hourly_anomaly")
    // corpus-wide work is ONE partial+final count; the trailing-window
    // test consumes its output (|hours| rows), so the window's exchange
    // keys on event_type only
    p should include("partial_count")
    p should include("Window")
    p should not include "Join"
  }

  test("vocab growth: first-bucket attribution is a min-agg; no per-prefix distinct passes") {
    val p = plan("vocab_growth_curve")
    // each term reduces to its min bucket (map-side combine), so the
    // wide exchanges key on term/bucket; the cumulative window runs
    // over |buckets| rows, and nothing joins the corpus to itself
    p should include("partial_min")
    p should not include "CartesianProduct"
    "Exchange hashpartitioning\\(([a-z_0-9]+)#".r.findAllMatchIn(p)
      .map(_.group(1)).toSet should contain("term")
  }

  test("hybrid RRF: both rankings cut per-partition before fusion; fusion joins bounded lists") {
    val p = plan("hybrid_search_rrf")
    p should include("WindowGroupLimit")
    p should include("FullOuter")
    p should not include "CartesianProduct"
  }

  test("hilbert layout: per-file stats combine map-side; the only wide exchange keys on fid") {
    val p = plan("hilbert_skipping_stats")
    p should include("partial_min")
    "Exchange hashpartitioning\\(([a-z_0-9]+)#".r.findAllMatchIn(p)
      .map(_.group(1)).toSet shouldBe Set("fid_hilbert", "fid_zorder")
  }

  test("CUSUM: corpus reduces to daily totals before the prefix windows; no self-join") {
    val p = plan("cusum_revenue_shift")
    p should include("partial_sum")
    p should include("Window")
    // the 1-row mean carrier is the only join-like node
    p should not include "SortMergeJoin"
    p should not include "CartesianProduct"
  }

  test("attribution: one window pass over the user-keyed stream; no purchase-engagement join") {
    val p = plan("attribution_touch_revenue")
    p should include("Window")
    p should not include "Join"
    "Exchange hashpartitioning\\(([a-z_0-9]+)#".r.findAllMatchIn(p)
      .map(_.group(1)).toSet should contain("user_id")
  }

  test("skyline: frontier test runs over the per-price min aggregate, not the raw table") {
    val p = plan("skyline_parts")
    // the corpus-wide work is the price-keyed min agg (map-side
    // combine); the dominance window consumes value-cardinality rows
    p should include("partial_min")
    p should include("Window")
    p should not include "Join"
  }

  test("per-group OLS: five moments in ONE aggregation pass, no per-moment scans") {
    val p = plan("ols_tokens_by_lang")
    p should include("partial_count")
    p should include("partial_sum")
    // one scan of documents feeds everything
    "Scan parquet".r.findAllMatchIn(p).size shouldBe 1
    p should not include "Join"
  }

  test("phrase match: posting lists filter to the two query terms before the position join") {
    val p = plan("phrase_match_docs")
    // the chosen bigram broadcasts; the position join is an equi-join
    p should include("BroadcastExchange")
    p should not include "CartesianProduct"
  }

  test("BFS: rounds relax against the pinned edge materialization, final table pinned") {
    val p = plan("graph_bfs_depth")
    // the distance table is |nodes|-sized, pinned once converged
    p should include("Scan ExistingRDD")
    p should not include "CartesianProduct"
  }

  test("LPA: per-round rank windows are dst-keyed; rounds checkpoint, never re-derive") {
    val p = plan("graph_lpa_communities")
    // every round checkpoints eagerly, so by plan time the label table
    // IS the round-3 materialization — consumers scan it, never replay
    // the vote joins (the per-round window plan is exercised by the
    // GraphRankSpec clique test and the gate itself)
    p should include("Scan ExistingRDD")
    p should not include "Join"
    p should not include "CartesianProduct"
  }

  test("k-core peeling: the converged core is a pinned materialization, not a live subtree") {
    val p = plan("graph_kcore_nodes")
    // by plan time the loop has converged — consumers scan the
    // localCheckpoint block (the CC/SemDedup discipline), so re-reads
    // never replay the peeling rounds
    p should include("Scan ExistingRDD")
    p should not include "Join"
    graft.operators.GraphRank.lastKCoreIterations should be >= 1
  }

  test("benford: one digit-grouped aggregate + 1-row total carrier") {
    val p = plan("benford_first_digit")
    p should include("partial_count")
    p should not include "SortMergeJoin"
    p should not include "CartesianProduct"
  }

  test("contrastive triplets: negative assignment is a projection over the banded pair join") {
    val p = plan("contrastive_triplets")
    // no new exchange beyond the audited MinHash band path: the
    // negative draw is pure md5 arithmetic on the pair columns
    p should not include "CartesianProduct"
    p should include("BroadcastExchange") // the 1-row n_docs carrier
  }

  test("assoc rules: pair expansion is an order-keyed equi-join; stats attach by broadcast") {
    val p = plan("assoc_rules_lift")
    // distinct (order,item) reduction feeds the expansion; item counts
    // and the 1-row basket total ride broadcasts, never a shuffle join
    p should include("BroadcastExchange")
    p should not include "CartesianProduct"
    // r19 optimization round: the basket relation is a DECLARED-layout
    // pin, so the ok-keyed exchange runs once inside the pin's
    // construction — the final plan must NOT re-exchange on ok (the
    // self-join rides the declared HashPartitioning directly).
    "Exchange hashpartitioning\\(([a-z_0-9]+)#".r.findAllMatchIn(p)
      .map(_.group(1)).toSet should not contain "ok"
  }

  test("assoc rules: the pinned basket relation feeds all four consumers with no re-derivation") {
    // op (distinct (order,item) + basket-size window + cap) feeds
    // a-side/b-side/itemCnt/nOrders. Through r18 the consumers shared
    // only the repartition exchange (ReusedExchange) and re-executed
    // the distinct+window above it per consumer; since the r19
    // optimization round the relation is a PartitionedCheckpoint pin —
    // the executed plan must scan the pinned RDD on every consumer
    // path (no parquet re-scan of lineitem anywhere) and the pair
    // self-join must be exchange-free AND sort-free on both sides
    // (declared hash layout + declared key sort).
    val df = Registry.all.find(_.name == "assoc_rules_lift").get.fn(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    p should include("Scan ExistingRDD")
    p should not include "Scan parquet"
    p should include("SortMergeJoin")
    "Exchange hashpartitioning\\(([a-z_0-9]+)#".r.findAllMatchIn(p)
      .map(_.group(1)).toSet should not contain "ok"
  }

  test("transition matrix: one user-keyed window pass; permille division at matrix cardinality") {
    val p = plan("event_transition_matrix")
    p should include("Window")
    p should not include "Join"
    "Exchange hashpartitioning\\(([a-z_0-9]+)#".r.findAllMatchIn(p)
      .map(_.group(1)).toSet should contain("user_id")
  }

  test("session paths: sessionize + truncation share one user-keyed exchange; top-k is TakeOrdered") {
    val p = plan("session_path_topk")
    p should include("Window")
    p should include("TakeOrderedAndProject")
    p should not include "Join"
    // both window chains and the session aggregation key on user_id —
    // exactly one wide exchange family over the stream
    "Exchange hashpartitioning\\(([a-z_0-9]+)#".r.findAllMatchIn(p)
      .map(_.group(1)).toSet shouldBe Set("user_id", "path")
  }

  test("concurrent sessions: sweep windows are hour-keyed; carry-in is an aggregate, not a widened window") {
    val p = plan("concurrent_sessions_peak")
    p should include("Window")
    p should include("Generate") // the bounded hour-span explode
    p should not include "CartesianProduct"
    "Window \\[sum".r.findAllMatchIn(p).size should be >= 1
    // no window partition wider than (user_id) sessionize / (hour_no) sweep
    "Exchange hashpartitioning\\(([a-z_0-9]+)#".r.findAllMatchIn(p)
      .map(_.group(1)).toSet should contain allOf ("user_id", "hour_no")
  }

  test("MAD outliers: corpus reduces to daily totals; medians ride 1-row broadcast carriers") {
    val p = plan("mad_outlier_days")
    p should include("partial_sum")
    p should include("BroadcastExchange")
    p should not include "SortMergeJoin"
    p should not include "CartesianProduct"
  }

  test("containment pairs: candidates via the gram-hash equi-join, df-capped; no cross join") {
    val p = plan("containment_dup_pairs")
    // shingles travel as 8-byte hashes (ngram_hashes generator), the
    // df cap filters before the pair join, and the pair join keys on gh
    p.toLowerCase should include("ngramhashgenerator")
    p should not include "CartesianProduct"
    "Exchange hashpartitioning\\(([a-z_0-9]+)#".r.findAllMatchIn(p)
      .map(_.group(1)).toSet should contain("gh")
  }

  test("editdist join: distinct-value reduction feeds token blocking; verify only on candidates") {
    val p = plan("editdist_similar_names")
    // the corpus pays a distinct; candidates come from the w-keyed
    // equi-join; levenshtein appears as a post-join filter, never a
    // join condition (which would force nested-loop)
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    "Exchange hashpartitioning\\(([a-z_0-9]+)#".r.findAllMatchIn(p)
      .map(_.group(1)).toSet should contain("w")
    p should include("levenshtein")
  }

  test("snapshot as-of: time filter prunes the log before the key-partitioned rank window") {
    val p = plan("cdc_snapshot_asof")
    p should include("Window")
    p should not include "SortMergeJoin"
    // the ts<=T filter sits below the exchange (pushed toward the scan),
    // so only the live prefix of the log shuffles
    "Exchange hashpartitioning\\(([a-z_0-9]+)#".r.findAllMatchIn(p)
      .map(_.group(1)).toSet should contain("k")
  }

  test("gap-fill: corpus reduces to day totals; spine generates off a 1-row carrier") {
    val p = plan("timeseries_gapfill_locf")
    p should include("partial_sum")
    p should include("Generate explode") // the calendar spine
    p should include("Window")
    p should not include "CartesianProduct"
  }

  test("histogram store: one (month,bin) aggregate; quantile probe never rescans the corpus") {
    val p = plan("histogram_quantile_range")
    p should include("partial_count")
    p should include("BroadcastExchange") // total carrier + permille probe rows
    p should not include "SortMergeJoin"
    // exactly one parquet scan — store build; the cum/probe run on it
    "Scan parquet".r.findAllMatchIn(p).size shouldBe 1
  }

  test("k-anonymity: one grouped aggregate, map-side combined; no joins") {
    val p = plan("k_anonymity_audit")
    p should include("partial_count")
    p should not include "Join"
    "Scan parquet".r.findAllMatchIn(p).size shouldBe 1
  }

  test("gram matrix: per-vector generate + (i,j)-keyed partial aggregation; no join, one scan") {
    val p = plan("embedding_gram_upper")
    p should include("Generate explode")
    p should include("partial_sum")
    p should not include "Join"
    "Scan parquet".r.findAllMatchIn(p).size shouldBe 1
  }

  test("join-IVM: the dimension attaches by broadcast on BOTH the view and the delta side") {
    val p = plan("cdc_join_maintain")
    p should include("BroadcastHashJoin")
    p should not include "SortMergeJoin" // the dimension never shuffles
    p should include("partial_count") // partial terms combine map-side
  }

  test("lateral top-k decorrelates to a rank, never a per-driving-row nested loop") {
    val p = plan("sql_lateral_topk")
    p should include("Window") // the DomainJoin-derived per-segment rank
    p should not include "CartesianProduct"
  }

  test("corr moments: all nine sums in ONE aggregation pass over one scan") {
    val p = plan("corr_moments_lineitem")
    p should include("partial_count")
    p should include("partial_sum")
    p should not include "Join"
    "Scan parquet".r.findAllMatchIn(p).size shouldBe 1
  }

  test("time-bounded funnel: one user-keyed window pass, no view-purchase self-join") {
    val p = plan("funnel_time_bound")
    p should include("Window")
    p should not include "Join"
    "Exchange hashpartitioning\\(([a-z_0-9]+)#".r.findAllMatchIn(p)
      .map(_.group(1)).toSet should contain("user_id")
  }

  test("ER clusters: converged CC is a pinned materialization over the blocked verify") {
    val p = plan("er_name_clusters")
    // the block→verify subtree ran eagerly inside the CC loop; by plan
    // time only the checkpointed component table remains (its own plan
    // properties are pinned by the editdist_similar_names test above)
    p should include("Scan ExistingRDD")
    p should not include "CartesianProduct"
    graft.dedup.Dedup.lastCcIterations should be >= 1
  }

  test("seasonal backtest: corpus reduces to daily totals before the lag-7 window") {
    val p = plan("seasonal_naive_backtest")
    p should include("partial_sum")
    p should include("Window")
    p should not include "Join"
  }

  test("A/B chi2: stream collapses per user first; the 2x2 table is one aggregate row") {
    val p = plan("ab_test_chi2")
    p should not include "Join"
    "Scan parquet".r.findAllMatchIn(p).size shouldBe 1
    "Exchange hashpartitioning\\(([a-z_0-9]+)#".r.findAllMatchIn(p)
      .map(_.group(1)).toSet should contain("user_id")
  }

  test("bot regularity: one user-keyed lag pass; decimal moments combine map-side") {
    val p = plan("bot_regularity_flags")
    p should include("Window")
    p should include("partial_sum")
    p should not include "Join"
    "Exchange hashpartitioning\\(([a-z_0-9]+)#".r.findAllMatchIn(p)
      .map(_.group(1)).toSet should contain("user_id")
  }

  test("Simpson diversity: two user-keyed aggregates, bucket rollup at user cardinality") {
    val p = plan("user_diversity_simpson")
    p should include("partial_count")
    p should not include "Join"
    p should not include "Window ["
  }

  test("cross-source dups: one fingerprint-keyed aggregate; HAVING prunes inside it") {
    val p = plan("cross_source_dups")
    p should not include "Join"
    "Scan parquet".r.findAllMatchIn(p).size shouldBe 1
  }

  test("drawdown: CUSUM discipline — daily reduction, day-cardinality windows, top-1 cut") {
    val p = plan("revenue_drawdown")
    p should include("partial_sum")
    p should include("Window")
    p should include("TakeOrderedAndProject")
    p should not include "Join"
  }

  test("bounce rate: rides the single sessionize window pass; rollup is one aggregate") {
    val p = plan("session_bounce_rate")
    p should include("Window")
    p should not include "Join"
    "Exchange hashpartitioning\\(([a-z_0-9]+)#".r.findAllMatchIn(p)
      .map(_.group(1)).toSet should contain("user_id")
  }

  test("three-step funnel: every stage keys on user_id; no inequality self-join of the stream") {
    val p = plan("funnel_three_step")
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    "Exchange hashpartitioning\\(([a-z_0-9]+)#".r.findAllMatchIn(p)
      .map(_.group(1)).toSet shouldBe Set("user_id")
  }

  test("key skew report: one count pass + top-k + 1-row carrier; no shuffle join") {
    val p = plan("key_skew_report")
    p should include("partial_count")
    p should include("TakeOrderedAndProject")
    p should not include "SortMergeJoin"
  }

  test("KPI snapshot: components compose by 1-row carriers; only family exchanges appear") {
    val p = plan("events_kpi_snapshot")
    // the three carrier attaches are broadcast loops over 1-row sides
    "BroadcastNestedLoopJoin".r.findAllMatchIn(p).size shouldBe 3
    p should not include "CartesianProduct"
    "Exchange hashpartitioning\\(([a-z_0-9]+)#".r.findAllMatchIn(p)
      .map(_.group(1)).toSet should contain allOf ("user_id", "hour_no")
  }

  test("Gini: sorted-form linearization — rank window at day cardinality, no pairwise join") {
    val p = plan("revenue_gini")
    p should include("partial_sum")
    p should include("Window")
    p should not include "Join" // the O(n²) |xᵢ−xⱼ| formulation would need one
  }

  test("langid confusion: the guess is a projection; no guess-truth self-join") {
    val p = plan("langid_confusion")
    p should not include "Join"
    "Scan parquet".r.findAllMatchIn(p).size shouldBe 1
    p should include("partial_count")
  }

  test("conversion latency: funnel discipline — user-keyed stages, bucket rollup") {
    val p = plan("conversion_latency_hist")
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    "Exchange hashpartitioning\\(([a-z_0-9]+)#".r.findAllMatchIn(p)
      .map(_.group(1)).toSet should contain("user_id")
  }

  test("Pareto concentration: windows run at value-bucket cardinality, never per-customer") {
    val p = plan("pareto_revenue_concentration")
    p should include("partial_sum")
    p should include("Window")
    p should not include "Join"
    // the per-customer reduction exchanges on the customer key; the
    // windows then consume the BUCKET relation
    "Exchange hashpartitioning\\(([a-z_0-9]+)#".r.findAllMatchIn(p)
      .map(_.group(1)).toSet should contain("o_custkey")
  }

  test("perplexity buckets: threshold tables broadcast back; no per-language corpus window") {
    val p = plan("ccnet_perplexity_buckets")
    // bucket assignment is a projection after broadcast joins
    p should include("BroadcastHashJoin")
    // the only windows run over the value-cardinality histogram, whose
    // input is an aggregate, never the raw per-doc stream: every window
    // sits above a HashAggregate in this plan (cheap structural check:
    // a Window node exists and no Window sorts on doc-level columns)
    p should include("Window")
    p should not include "cume_dist"
  }

  test("cohort retention: the raw stream pays one user-keyed shuffle — no Join, no second exchange") {
    val p = plan("cohort_retention")
    p should not include "Join"
    // collect_set partials dedupe map-side (objHashAggregate), keeping
    // the exchange keyed on user_id alone — a distinct would hash on
    // (user, week) and force a second user-keyed exchange
    val keys = "Exchange hashpartitioning\\(([a-z_0-9]+)#".r.findAllMatchIn(p)
      .map(_.group(1)).toSet
    keys should contain("user_id")
    "Exchange hashpartitioning\\(user_id#".r.findAllMatchIn(p).size shouldBe 1
    p should include("collect_set")
  }

  test("langid AUC: prefix window runs over the per-score aggregate, not the corpus") {
    val p = plan("langid_auc")
    p should not include "Join"
    // corpus collapses to per-score counts before any window: the
    // single-partition window's input is the aggregated relation
    p should include("partial_sum")
    p should include("Window")
  }

  test("Q5 star join: dimension chain broadcasts; the fact spine never reshuffles per-dim") {
    val p = plan("sql_q5_local_supplier")
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    // region→nation→supplier (and at this SF customer/orders too) ride
    // the build side as broadcasts; lineitem is never hash-exchanged
    // for a dimension attach
    "BroadcastHashJoin".r.findAllMatchIn(p).size should be >= 3
    // the date band reaches the orders scan
    p should include regex "PushedFilters: \\[.*o_orderdate"
  }

  test("Q10 returned items: scan-pruned filters and a top-k without a global sort") {
    val p = plan("sql_q10_returned_items")
    p should include("TakeOrderedAndProject")
    p should include regex "PushedFilters: \\[.*l_returnflag"
  }

  test("Q7 nation-pair volume: both nation attaches broadcast; no cartesian from the OR pair") {
    val p = plan("sql_q7_volume_shipping")
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    "BroadcastHashJoin".r.findAllMatchIn(p).size should be >= 2
  }

  test("Q18 large orders: the HAVING aggregate gates the join; top-k is TakeOrderedAndProject") {
    val p = plan("sql_q18_large_orders")
    p should include("TakeOrderedAndProject")
    // the quantity-sum aggregate (with its HAVING filter) sits below
    // the customer/orders joins — lineitem never joins unfiltered
    p should include regex "(?s)Join.*HashAggregate.*Scan.*lineitem"
  }

  test("embedding centroid shift: pairing joins the (label,dim) aggregate, never vectors") {
    val p = plan("embedding_centroid_shift")
    p should not include "CartesianProduct"
    p should include("partial_sum")   // map-side combine under the explode
    // the only hash exchanges key on the collapsed (label, dim)
    // relation — no vec_id join back for the label
    val keys = "Exchange hashpartitioning\\(([a-z_0-9]+)#".r.findAllMatchIn(p)
      .map(_.group(1)).toSet
    keys should contain("label")
    keys should not contain "vec_id"
  }

  test("vocab drift: one corpus scan carries both cohorts; top-k is a WindowGroupLimit cut") {
    val p = plan("vocab_drift_topk")
    p should include("WindowGroupLimit")
    // conditional cohort flags, not two filtered corpus branches
    "Scan parquet|FileScan parquet".r.findAllMatchIn(p).size shouldBe 1
  }

  test("apportioned sample: quotas broadcast back; the pick window partitions by source") {
    for (name <- Seq("sample_apportioned", "sample_temperature_mix")) {
      val p = plan(name)
      p should include("BroadcastHashJoin")   // quota attach, never a shuffle join
      p should not include "CartesianProduct"
      // the pick rank partitions by source (parallel); the quota bound is
      // a column, so no WindowGroupLimit — the per-source sort is the cut
      p should include regex "Window.*row_number.*source"
    }
  }

  test("Q8 market share: every dim broadcasts, one conditional-agg fact pass, one lineitem scan") {
    val p = plan("sql_q8_market_share")
    "BroadcastHashJoin".r.findAllMatchIn(p).size shouldBe 7
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    // the share comes from CASE inside the aggregate, never two scans
    "lineitem\\.parquet".r.findAllMatchIn(p).size shouldBe 1
  }

  test("Q17 correlated scalar avg decorrelates to a per-part aggregate + equi-join") {
    val p = plan("sql_q17_small_qty_rev")
    // the per-part mean is ONE grouped aggregate joined back on partkey,
    // with the 0.2x comparison as the join condition — never a per-row
    // scalar subquery execution (no Subquery node survives decorrelation)
    p should include("avg(")
    p should not include "Subquery"
    p should not include "BroadcastNestedLoopJoin"
    p should not include "CartesianProduct"
  }

  test("Q21 double correlation plans as LeftSemi + LeftAnti hash joins, top-20 as TakeOrdered") {
    val p = plan("sql_q21_waiting_suppliers")
    p should include("LeftSemi")
    p should include("LeftAnti")
    // the anti side carries the outer-correlated lateness predicate as a
    // join condition, not a post-hoc filter re-executing per row
    p should not include "BroadcastNestedLoopJoin"
    p should not include "CartesianProduct"
    p should include("TakeOrderedAndProject")
  }

  test("Q2 correlated scalar min decorrelates to a regional per-part aggregate + equi-join") {
    val p = plan("sql_q2_min_cost_supplier")
    // the regional min is ONE grouped aggregate equi-joined back on
    // p_partkey with the cost equality as the join condition — never a
    // per-row scalar subquery execution over the offers relation
    p should include("min(")
    p should not include "Subquery"
    p should not include "BroadcastNestedLoopJoin"
    p should not include "CartesianProduct"
    // dims broadcast on both the outer and the min side
    "BroadcastHashJoin".r.findAllMatchIn(p).size should be >= 5
  }

  test("Q15 top supplier: scalar max reduces to one subquery row, no nested loop") {
    val p = plan("sql_q15_top_supplier")
    p should include("Subquery")        // the scalar max, evaluated once
    p should not include "BroadcastNestedLoopJoin"
    p should not include "CartesianProduct"
  }

  test("Q11 global threshold: cross-multiplied HAVING against a one-row scalar subquery") {
    val p = plan("sql_q11_important_parts")
    p should include("Subquery")
    p should include("* 1200")          // integer cross-multiply, no division
    p should not include "CartesianProduct"
  }

  test("EWMA convolution: the fact table pays exactly one scan; all else is day cardinality") {
    val p = plan("ewma_revenue_daily")
    // the day-aggregate is checkpointed — its four consumers scan the
    // materialization, not the orders parquet
    "orders\\.parquet".r.findAllMatchIn(p).size shouldBe 0
    "Scan ExistingRDD".r.findAllMatchIn(p).size should be >= 2
    p should not include "WindowExec"
  }

  test("power iteration: the Gram pass is checkpointed; iterations never re-scan the corpus") {
    val p = plan("gram_power_iteration")
    "embeddings\\.parquet".r.findAllMatchIn(p).size shouldBe 0
    "Scan ExistingRDD".r.findAllMatchIn(p).size should be >= 2
    // every matrix×vector step joins the broadcast vector — tiny side
    // broadcast, matrix side never shuffles wide
    p should include("BroadcastHashJoin")
    p should not include "CartesianProduct"
  }

  test("semantic decontamination: the benchmark side broadcasts; bucket equi-join, no product") {
    val p = plan("decontaminate_semantic")
    p should include("BroadcastExchange")
    p should include("BroadcastHashJoin")   // bucket-keyed, corpus never shuffles
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
  }

  test("Q19 disjunctive bands: the common partkey conjunct factors into a hash join") {
    val p = plan("sql_q19_brand_bands")
    // a plan that fails to factor p_partkey=l_partkey out of the OR
    // falls back to a nested-loop over the whole disjunction
    p should not include "BroadcastNestedLoopJoin"
    p should not include "CartesianProduct"
    p should include regex "BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin"
  }

  test("skew preagg twin: both join inputs are aggregates — the pair mass is never enumerated") {
    val p = plan("skew_join_preagg")
    // per-key aggregates sit BELOW the join on both sides; the naive
    // shape (join, then aggregate) has no HashAggregate under the join
    p should include regex "(?s)Join.*HashAggregate.*Scan parquet.*lineitem"
    p should include regex "(?s)Join.*HashAggregate.*Scan parquet.*orders"
    p should not include "CartesianProduct"
  }

  test("snapshot acceptance: three 1-row carrier attaches; md5 dup check is one aggregation") {
    val p = plan("snapshot_acceptance")
    // tv ⨯ vocab ⨯ dup ⨯ quality — all broadcast loops over 1-row sides
    "BroadcastNestedLoopJoin".r.findAllMatchIn(p).size shouldBe 3
    p should not include "CartesianProduct"
    // the duplicate check never equi-joins cohort A against B: both
    // ride one md5-keyed aggregation as flags
    val keys = "Exchange hashpartitioning\\(([a-z_0-9]+)#".r.findAllMatchIn(p)
      .map(_.group(1)).toSet
    keys should contain("h")
  }

  test("corpus drift: one map-side-combined aggregate; windows at bin cardinality") {
    val p = plan("corpus_drift_bins")
    p should include("partial_sum")
    p should not include "Join"
    // the only hash exchange keys on the length bin
    "Exchange hashpartitioning\\(([a-z_0-9]+)#".r.findAllMatchIn(p)
      .map(_.group(1)).toSet shouldBe Set("len_bin")
  }

  test("KS drift: corpus collapses map-side to length counts; no corpus-side join") {
    val p = plan("corpus_drift_ks")
    p should include("partial_sum")
    // the argmax attach is the 1-row carrier pattern, never a real join
    p should not include "SortMergeJoin"
    p should not include "ShuffledHashJoin"
    // corpus-keyed exchange is on n_chars only (everything after runs
    // at distinct-length cardinality)
    "Exchange hashpartitioning\\(([a-z_0-9]+)#".r.findAllMatchIn(p)
      .map(_.group(1)).toSet shouldBe Set("n_chars")
  }

  test("KMV overlap: per-cohort k-smallest cut is a WindowGroupLimit; no A-vs-B join") {
    val p = plan("kmv_cohort_overlap")
    p should include("WindowGroupLimit")
    p should include("partial_count") // exact side combines map-side
    p should not include "SortMergeJoin"
    p should not include "CartesianProduct"
  }

  test("SNM blocking: rank join is a hash equi-join, offsets broadcast, no product") {
    val p = plan("snm_neardup_pairs")
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    // bucket offsets attach by broadcast (bucket-cardinality relation)
    p should include("BroadcastHashJoin")
  }

  test("unigram apply: word-stats model broadcasts, Viterbi runs as a fold — no Window, no product") {
    val p = plan("unigram_tokenize_stats")
    p should include("BroadcastHashJoin")   // (w, n_pieces) model attach — corpus never shuffles for it
    p should not include "Window"           // the DP is a projection fold, not a window sort
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    // the corpus-scale exchange is the doc_id rollup alone
    "Exchange hashpartitioning\\(([a-z_]+)#".r.findAllMatchIn(p)
      .map(_.group(1)).toSet shouldBe Set("doc_id")
  }

  test("from-saved applies: model attaches from the reloaded artifact, no training lineage in the plan") {
    // unigram: the reloaded vocab re-derives the broadcast word model —
    // same shape as the in-process apply (broadcast attach, doc_id-only
    // corpus exchange)
    val u = plan("unigram_tokenize_from_saved")
    u should include("BroadcastHashJoin")
    "Exchange hashpartitioning\\(([a-z_]+)#".r.findAllMatchIn(u)
      .map(_.group(1)).toSet shouldBe Set("doc_id")
    // bpe: symbols re-derive from the loaded merge list as fold
    // projections — no learner-loop checkpoint scan anywhere
    plan("bpe_tokenize_from_saved") should not include "Scan ExistingRDD"
    // ivf: the centroid side is the eagerly-loaded artifact (a local
    // relation snapshot of the parquet bytes — r16 ModelStore.load),
    // not the training pipeline's checkpoint (which the in-process twin
    // carries)
    plan("ann_ivf_from_saved") should not include "Scan ExistingRDD"
    plan("ann_ivf_trained_topk") should include("Scan ExistingRDD")
  }

  test("streaming IVF ingest: microbatch assignment is a broadcast centroid cross, vec_id the only exchange, no training lineage (r16)") {
    // audit the EXACT method foreachBatch executes (shared code, not a
    // replica), against a parquet-loaded artifact like the real run
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sfDir)
    val loaded = graft.models.ModelStore.roundTrip(
      graft.dedup.Dedup.quantized(emb.where(col("vec_id") < 4))
        .select(col("vec_id").as("cid"), col("q").as("cq"), col("nrm").as("cnrm")),
      graft.models.ModelStore.path("ivf_centroids_audit", sfDir))
    val p = graft.similarity.Ann.ingestAssign(emb, loaded)
      .queryExecution.executedPlan.toString
    // the m-row centroid side broadcasts into a nested-loop cross — the
    // one place BNLJ is the right plan; the corpus side never shuffles
    // for assignment, only the per-vector argmax window keys on vec_id
    p should include("BroadcastNestedLoopJoin")
    p should not include "SortMergeJoin"
    "Exchange hashpartitioning\\(([a-z_]+)#".r.findAllMatchIn(p)
      .map(_.group(1)).toSet shouldBe Set("vec_id")
    // the loaded side is a plain parquet artifact scan — no training
    // pipeline checkpoint in the apply plan
    p should not include "Scan ExistingRDD"
  }

  test("media phash neardup: banded equi-join, Hamming rides the join — no product, no second join pass") {
    val p = plan("media_phash_neardup")
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    // signatures join once on (band_idx, band_val); the Hamming verify
    // is a projection over lanes already on the joined row
    "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r.findAllIn(p).size should be <= 2 // self-join prints both sides pre-AQE
  }

  test("curriculum interleave: both rank windows are bucket-partitioned; single-partition work is source/bucket-cardinality only") {
    val p = plan("curriculum_interleave")
    p should not include "CartesianProduct"
    // doc-scale windows partition on (source, b) and (b2) — never a
    // global ORDER BY window over the corpus: no window spec leads
    // with the doc-scale hash/virtual-time key unpartitioned
    p should include regex "Window.*windowspecdefinition\\(source#\\d+, b#"
    p should include regex "Window.*windowspecdefinition\\(b2#"
    p should not include regex ("windowspecdefinition\\(hk#")
    p should not include regex ("windowspecdefinition\\(vt#")
    // SinglePartition exchanges exist only under the |sources| weight
    // and <=65-row offset subtrees (pre-AQE prints duplicate them);
    // the doc-scale rank windows above are the load-bearing pin
  }

  test("longest dup substring: extension is per-row fold work — no product, no position explode beyond the winnow generator") {
    val p = plan("longest_dup_substring")
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    p should not include "Window" // argmax is max(struct), not a rank window
    // extraction runs ONCE into the declared-partitioned pin (by plan
    // time the generator already ran): every subtree reads the
    // checkpoint scan, and extension adds NO explode (it's an
    // aggregate fold projection) — zero Generate nodes in the plan
    "generate [a-z]+".r.findAllIn(p.toLowerCase).toSet shouldBe Set.empty[String]
    p should include("Scan ExistingRDD")
  }

  test("winnow incremental: only the batch side runs the fingerprint generator") {
    // The pair-join subtree prints the fingerprint relation several
    // times pre-AQE (self-join + hot-cap; ReusedExchange dedups at
    // runtime — the minhash_lsh_pairs note). The pin is RELATIVE: the
    // incremental plan carries half the batch plan's Generate copies
    // (the existing corpus arrives as a checkpoint scan, never a
    // second rolling-hash Generate) plus the index's RDD scan.
    // the incremental union (index scan + batch generate) prints with
    // the same subtree multiplicity as the batch plan's fingerprint
    // relation, so equal counts = ONE generate per copy (the batch
    // half); re-fingerprinting the index side inline would double it.
    def gens(p: String) = "rollinghashgenerator".r.findAllIn(p.toLowerCase).size
    val inc = plan("winnow_incremental_pairs")
    val batch = plan("winnow_dup_pairs")
    gens(inc) should be > 0
    gens(inc) shouldBe gens(batch)
    inc should include("Scan ExistingRDD")
  }

  test("ann recall curve: rank cuts run as WindowGroupLimit; no cartesian product") {
    val p = plan("ann_recall_curve")
    p should include("WindowGroupLimit")
    p should not include "CartesianProduct"
  }

  test("doremi: one corpus scan, lang is the only hash-exchange key, rounds are window-only") {
    val p = plan("mixture_doremi_weights")
    "Scan parquet".r.findAllIn(p).size shouldBe 1 // 5 rounds never rescan
    "Exchange hashpartitioning\\(([a-z_]+)#".r.findAllMatchIn(p)
      .map(_.group(1)).toSet shouldBe Set("lang")
    p should not include "Join" // updates are windows over the tiny frame
  }

  test("t-closeness: completion joins are broadcast; nothing sort-merges") {
    val p = plan("t_closeness_audit")
    p should include("BroadcastHashJoin")    // the gv count attach
    p should not include "SortMergeJoin"     // all sides are class/band-sized
    p should not include "CartesianProduct"  // crosses are 1-row/band broadcast carriers
  }

  test("HITS returns the post-loop checkpoint cut by TakeOrderedAndProject") {
    val p = plan("graph_hits_authorities")
    p should include("Scan ExistingRDD")     // kmeans_step discipline
    p should include("TakeOrderedAndProject") // no global sort for top-k
    p should not include "Scan parquet"      // loop work happened at checkpoint time
  }

  test("kappa: one aggregate pass, no joins, no corpus-scale wide work") {
    val p = plan("filter_agreement_kappa")
    p should not include "Join"
    "HashAggregate".r.findAllIn(p).size shouldBe 2 // partial + final, once
  }

  test("silhouette: centroids broadcast; the corpus never joins or self-joins") {
    val p = plan("embedding_silhouette")
    p should include("BroadcastExchange") // the L-row centroid relation
    // label rides the quantization projection; own/other fold in one
    // vec-keyed aggregate — two scans total (centroid build + distance)
    "Scan parquet".r.findAllIn(p).size should be <= 2
    p should not include "SortMergeJoin"
  }

  test("perceptron reliability: margins fold in the map stage — the weights never join") {
    // r16: the gate query returns a DRIVER-LOCAL bin table (no pinned
    // checkpoint outlives the call), so the returned plan is a local
    // scan; the weights-never-join property is pinned on the SCORING
    // plan itself — built from the SAME binsAggregate the gate executes
    // — featurized + literal-array fold + bin aggregate: its only
    // exchanges are doc-keyed featurization and the bin aggregate, no
    // bucket-keyed weight join anywhere
    plan("perceptron_reliability") should include("LocalTableScan")
    val docs = Tables.documents(spark, sfDir)
    val p = graft.text.Perceptron.scoredBinsPlanForAudit(docs)
    // the joins in this plan are the featurization's doc-keyed attach
    // only; no bucket-keyed exchange = the weights never join
    "Exchange hashpartitioning\\(([a-z_]+)#".r.findAllMatchIn(p)
      .map(_.group(1)).toSet shouldBe Set("doc_id", "_groupingexpression")
  }

  test("rouge-l eval: map-side codegen DP, zero hash exchanges (r16)") {
    // the gate pins before its ORDER BY (sampling would re-run the DP),
    // so audit the SCORING plan directly — the method the gate executes
    val p = graft.text.RougeL.rougeLEval(Tables.documents(spark, sfDir))
      .queryExecution.executedPlan.toString
    p should include("lcs_len")
    p should not include "Exchange" // pure map-side projection
    p should not include "Join"
    "Scan parquet".r.findAllIn(p).size shouldBe 1
  }

  test("trigram backoff LM: one pinned tokenize pass, n-gram-keyed exchanges only (r16)") {
    val p = plan("trigram_backoff_fluency")
    // the corpus tokenizes ONCE (pinned); the only parquet scan left in
    // the plan is the doc_id spine of the final zero-fill left join
    p should include("Scan ExistingRDD")
    "Scan parquet".r.findAllIn(p).size shouldBe 1
    p should not include "SortMergeJoin"
    // every hash exchange keys on an n-gram prefix or the doc rollup —
    // nothing exchanges on anything corpus-random
    "Exchange hashpartitioning\\(([a-z0-9_]+)#".r.findAllMatchIn(p)
      .map(_.group(1)).toSet.subsetOf(Set("tok", "w1", "w2", "w3", "doc_id")) shouldBe true
  }

  test("STL: one orders scan; the seasonal attaches by broadcast") {
    val p = plan("stl_decompose_daily")
    "Scan parquet".r.findAllIn(p).size shouldBe 2 // daily subtree feeds trend + weekday branches pre-AQE
    p should include("BroadcastHashJoin") // 7-row seasonal attach
    p should not include "SortMergeJoin"
  }

  test("markov attribution: the collected matrix is bounded; result is a local relation") {
    // the corpus-scale work ran at matrix-collect time through one
    // user-keyed window pass; the returned frame is the driver-built
    // attribution table
    val p = plan("markov_attribution")
    p should include("LocalTableScan")
  }

  test("CUPED: the midpoint cut and pooled moments attach as broadcast carriers") {
    val p = plan("ab_cuped_readout")
    p should include("BroadcastNestedLoopJoin") // 1-row cut + pooled carriers
    p should not include "SortMergeJoin"
    "Exchange hashpartitioning\\(([a-z_]+)#".r.findAllMatchIn(p)
      .map(_.group(1)).toSet shouldBe Set("user_id", "variant")
  }

  test("Theil-Sen: both phases read the pinned slope relation; selection has no corpus sort") {
    val p = plan("theilsen_revenue_trend")
    // the calendar-bounded BNLJ expansion ran ONCE at checkpoint time;
    // histogram phase and bucket re-scan both read the pinned slopes
    p should include("Scan ExistingRDD")
    p should not include "BroadcastNestedLoopJoin"
    p should include("TakeOrderedAndProject")
    p should not include "Scan parquet"
  }

  test("url dedup: map-side canonicalization, window partitioned on the group key, one corpus scan (r17)") {
    val p = plan("url_dedup_groups")
    // canonicalization is pure column work over ONE documents scan
    "Scan parquet".r.findAllIn(p).size shouldBe 1
    p should not include "Join"
    // keep-best window partitions BY canonical_url — never a global
    // (empty-partition) window, the single-partition-sort killer
    p should include regex "Window \\[row_number"
    p should include regex "windowspecdefinition\\(canonical_url"
    // the only hash exchange key is the group key
    "Exchange hashpartitioning\\(([a-z_]+)#".r.findAllMatchIn(p)
      .map(_.group(1)).toSet shouldBe Set("canonical_url")
  }

  test("host quality: corpus never shuffles — the cut attaches by broadcast over the PINNED per-host rollup (r17, pinned r18)") {
    val p = plan("host_quality_filter")
    // the kept-host relation is host-cardinality: broadcast, never SMJ
    p should include("BroadcastHashJoin")
    p should not include "SortMergeJoin"
    // r18 (r17 ADVICE): perHost is checkpointed once, so the corpus-
    // scale Gopher subtree can no longer appear twice — the final plan
    // has ONE parquet scan (the corpus attach side), the kept side
    // reads the pinned rollup, and NO hash exchange exists at all
    p should include("Scan ExistingRDD")
    "Scan parquet".r.findAllIn(p).size shouldBe 1
    "Exchange hashpartitioning\\(([a-z_]+)#".r.findAllMatchIn(p)
      .map(_.group(1)).toSet shouldBe Set.empty[String]
  }

  test("smoothed host reputation: both verdicts project over the pinned per-host relation — no corpus re-scan (r18)") {
    val p = plan("host_quality_smoothed")
    // the thin-batch rollup pinned at construction: the output plan is
    // host-cardinality work only
    p should include("Scan ExistingRDD")
    p should not include "Scan parquet"
    p should not include "SortMergeJoin"
  }

  test("minhash layout select: 1-row argmin attaches by broadcast; curve reads the pinned sweep (r17)") {
    val p = plan("minhash_layout_select")
    // both consumers (argmin + projection) read the 3-row checkpointed
    // sweep — the quadratic truth half never re-executes
    p should include("Scan ExistingRDD")
    p should not include "Scan parquet"
    p should not include "SortMergeJoin"
    // the chosen layout attaches as a broadcast of the LIMIT-1 argmin
    p should include("BroadcastNestedLoopJoin")
    p should include("TakeOrderedAndProject")
  }

  test("choose→apply: banding reads the ONE pinned signature under the decided band count (r18; r19 rewire)") {
    val p = plan("neardup_pairs_chosen_layout")
    // nothing corpus-scale re-executes at apply time: the signature and
    // the decision curve are both pinned — every leaf is a checkpoint
    // scan, and the sweep's quadratic truth half is absent entirely.
    // r19 (advice): the 1-row argmin now collects to the driver and the
    // apply runs the PARAMETERIZED production banding (minhashBands) at
    // the chosen count — so the returned plan is exactly production
    // pair generation: posexplode banding over the pinned signature,
    // the hot-key cap window, and the band self-join; the decision no
    // longer appears as a join at all.
    p should include("Scan ExistingRDD")
    p should not include "Scan parquet"
    p should include("Generate posexplode") // the banding of the chosen layout
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
  }

  test("ann probe select / chosen-nprobe apply: per-query rank cuts, no cartesian (r19)") {
    val sel = plan("ann_probe_select")
    sel should include("WindowGroupLimit") // the literal-k truth/candidate cuts
    sel should not include "CartesianProduct"
    val app = plan("ann_ivf_chosen_nprobe")
    // the applied search is the production IVF shape: broadcast
    // centroid attach (the pinned trained-centroid checkpoint), list
    // equi-join, per-query literal-k rank cut
    app should include("WindowGroupLimit")
    app should include("Scan ExistingRDD") // the pinned centroids
    app should not include "CartesianProduct"
  }

  test("doremi apply: quotas broadcast back; the pick is a lang-partitioned rank cut (r19)") {
    val p = plan("mixture_doremi_apply")
    // the corpus attaches the |langs|-row quota table by broadcast —
    // the corpus itself never shuffles for the quota math
    p should include("BroadcastHashJoin")
    p should not include "CartesianProduct"
    // quota is a COLUMN bound, so the cut plans as Window + Filter (a
    // literal bound would be WindowGroupLimit); lang is the only
    // corpus-side hash-exchange key — the weight-loop windows run on
    // the |langs|-row SinglePartition frame
    p should include("row_number()")
    "Exchange hashpartitioning\\(([a-z_]+)#".r.findAllMatchIn(p)
      .map(_.group(1)).toSet shouldBe Set("lang")
  }

  test("quality-weighted sample: weights ride as literals, quotas broadcast, bin-partitioned rank cut (r19)") {
    val p = plan("sample_quality_weighted")
    // the model never joins — margins fold map-side over the pinned
    // featurization (the perceptron reliability discipline)
    p should include("Scan ExistingRDD")
    p should not include "Scan parquet" // everything reads the pin
    p should include("BroadcastHashJoin") // the bin-quota attach
    p should include("row_number()")      // the rank cut at (column) quota
    p should not include "CartesianProduct"
    // score_bin is the only hash-exchange key: bin assign + rank both
    // ride the pinned featurization
    "Exchange hashpartitioning\\(([a-z_]+)#".r.findAllMatchIn(p)
      .map(_.group(1)).toSet shouldBe Set("score_bin")
  }

  test("export shards: sequence rollup + broadcast offsets; no corpus-scale single-partition window (r19)") {
    val p = plan("export_training_shards")
    // the only single-partition windows run at bucket/sequence
    // cardinality (offsets + per-bucket rank); the corpus-side work is
    // the audited curated/packing composition
    p should include("BroadcastHashJoin") // bucket offsets attach
    p should not include "CartesianProduct"
  }
}
