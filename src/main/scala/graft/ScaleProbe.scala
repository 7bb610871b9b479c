package graft

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** N× scale probe (default 10×; `SPARK_GRAFT_PROBE_COPIES` raises it —
  * r10 verdict #3: at 10× the 32 cores are under-filled at sf0.1 and
  * sub-linear wall-clock can mask super-linear WORK, so the
  * superlinearity-prone families get a 30× run, or a constrained-core
  * one via `SPARK_GRAFT_CPUS`) — the stand-in for the missing sf1
  * dataset (the driver serves only sf0.001/0.01/0.1 and the test-data
  * tree is read-only). Materializes a synthetic scaled directory under
  * /tmp ONCE per factor:
  *
  *  - `documents`: N copies of the sf0.1 corpus, each copy's text
  *    ROTATED by a copy-specific offset (cheap codegen, preserves
  *    length/alphabet, shifts every shingle) so copies are not trivial
  *    exact dups and the dedup family sees a realistic mostly-distinct
  *    population; doc_id offset by copy × 10^9.
  *  - `events`: 10 copies, ts shifted by copy days and event_id offset —
  *    more days and deeper per-user histories for the window/session
  *    family.
  *  - remaining tables: byte-copied from sf0.1 (their queries are
  *    probed at 1× and excluded from scaling conclusions).
  *
  * Runs the heavy headline queries at both scales (min-of-2 after one
  * warm-up) and prints per-query sf0.1 vs probe seconds + the ratio —
  * linear-ish ops should sit near the 10× data ratio or below; a ratio
  * far above flags a memory/shuffle cliff that sf0.1 cannot see.
  * NOT part of the correctness gate (no oracle at this scale); a
  * diagnostics main like [[Plans]].
  */
object ScaleProbe {

  private val ProbeQueries = Seq(
    "text_token_stats", "shuffle_order", "pack_sequences", "pack_sequences_scalable",
    "minhash_signatures", "minhash_lsh_pairs", "simhash_neardup_pairs",
    "neardup_components", "dedup_exact", "decontaminate_overlap", "curated_corpus",
    "substring_dup_stats", "heavy_hitters", "line_dedup_corpus",
    "gopher_repetition_ngrams", "gopher_repetition_lines",
    // setsim_jaccard_join is deliberately NOT probed: it is the
    // gate-only exact join whose candidate mass is inherently
    // quadratic on a near-dup-dense corpus (r6 probe: 21.8× but
    // work-ratio-justified, ~270s/pass at probe scale — the cost that
    // starved the rest of the r7 probe). Its 100 TB route is the
    // capped MinHash path, which IS probed above.
    "countmin_token_freq", "hashed_linear_score",
    // r19 optimization round: bloom_semi_join_pruned's restored
    // prune-before-join plan and the bm25-pinned hybrid fusion are
    // scale claims — probe rows are their evidence.
    "bloom_semi_join_pruned", "hybrid_search_rrf",
    // bpe_tokenize_stats is the BPE family member whose plan pays the
    // corpus (word-stream join + per-doc rollup); the other two are
    // vocabulary-scale and probe the learner loop itself.
    "token_budget_select", "bpe_pair_counts", "bpe_learn_merges",
    "bpe_tokenize_stats",
    // r10 additions over the (10×-scaled) documents table: the
    // histogram-decomposed per-lang percentile cut and the priority-
    // sampling rank cut — both claim value-cardinality wide work.
    "lang_adaptive_cut", "sample_weighted_priority",
    // r11 additions: the pair-expansion self-join + 3 unrolled join
    // iterations (quadratic-prone if the per-order bound broke), the
    // token-keyed weight join (vocabulary-vs-corpus asymmetry), the
    // two-level bigram pipeline behind the tercile bucketing, and the
    // composed funnel (dup window + token rollup in one plan).
    "graph_pagerank_parts", "dsir_importance_select",
    // triangle counting: the co-purchase graph DENSIFIES with probe
    // copies (part keys unshifted), so wedge mass grows faster than
    // rows — the query whose degree-orientation bound this probe
    // exists to test
    "graph_triangle_counts",
    // k-core: the densified probe graph peels DIFFERENTLY (higher
    // degrees -> fewer rounds survive the k cut); rounds recorded like
    // CC iterations. phrase/triplets ride the 30x documents corpus —
    // posting-list filter-before-shuffle and banded-pair scaling.
    "graph_kcore_nodes", "phrase_match_docs", "contrastive_triplets",
    // BFS/LPA on the DENSIFIED probe graph (part keys unshifted):
    // frontier joins and vote counts grow with edge mass, not rows
    "graph_bfs_depth", "graph_lpa_communities",
    // r11 late adds: the a-priori pair expansion (order keys shift per
    // copy, so basket sizes stay bounded and the pair relation must
    // grow linearly), the containment gram join (rotated copies keep
    // shingles distinct — df-cap behavior at 30× corpus), and the
    // event-flow trio (user_id unshifted -> per-user trajectories get
    // `copies`× deeper: the window-pass stress).
    "assoc_rules_lift", "containment_dup_pairs", "concurrent_sessions_peak",
    "event_transition_matrix", "session_path_topk",
    // temporal-state + IVM family (order keys shift per copy: the
    // change log, join deltas, and per-key rank windows must scale
    // linearly in keys); funnel rides the deepened trajectories.
    "cdc_snapshot_asof", "cdc_join_maintain", "histogram_quantile_range",
    "funnel_time_bound",
    // the composed KPI snapshot at 30×: its cost must remain the sum
    // of its audited parts on the deepened trajectories
    "events_kpi_snapshot", "funnel_three_step",
    "ccnet_perplexity_buckets", "curation_funnel",
    // r20 optimization round: the ngramZip explode rewrite and the
    // gopher sumLen change are scale claims — probe rows are their
    // evidence (bigram stream; the raw gopher-gate projection).
    "bigram_lm_fluency", "gopher_quality_flags",
    "events_hourly_rollup", "stateful_sessionize", "window_running_sum",
    // skew_join_hot_key is deliberately NOT probed at ≥30× (r12
    // finding): copy scaling grows the hot bucket on BOTH sides, so its
    // pair mass is quadratic-by-construction (≈8·10⁹ pairs at 30×) while
    // the bucket's shuffle INPUT stays a few MB — under AQE's
    // skewedPartitionThresholdInBytes — so OptimizeSkewedJoin (keyed on
    // map-output bytes, not join output) never splits it and one reducer
    // streams the cross product ~20 min/pass. The stress query stays in
    // the sf0.1 bench (where the split is spec-asserted); the probed
    // 100 TB formulation is the eager-aggregation twin below, which
    // keeps the identical relation at |keys| work.
    "salted_group_count", "skew_join_preagg",
    // r12 additions: cohort retention rides the deepened trajectories
    // (user_id unshifted -> per-user week SETS grow with copies: the
    // collect_set bound under stress); AUC and drift ride the 30×
    // corpus — both claim post-scan work at score/bin cardinality, so
    // their ratio should track the pure scan ratio.
    "cohort_retention", "langid_auc", "corpus_drift_bins",
    // r12 closing additions: the two hardest TPC-H plan shapes. Q8's
    // 8-relation star rides the copy-scaled fact spine (dims stay
    // broadcast-size); Q21's semi/anti joins correlate on l_orderkey,
    // which SHIFTS per copy — per-order line groups stay bounded, so
    // the semi/anti probe mass must grow linearly, not quadratically.
    "sql_q8_market_share", "sql_q21_waiting_suppliers",
    // r13 additions over the 30× documents corpus: KMV's claim is that
    // only sketch rows cross the second exchange (work should track the
    // distinct-hash aggregation, i.e. the dedup_exact ratio); SNM's
    // claim is the bounds-invariant decomposed rank + a perfectly
    // balanced rank equi-join, output hard-bounded at w·N; KS rides the
    // same per-length collapse as corpus_drift_bins.
    "kmv_cohort_overlap", "snm_neardup_pairs", "corpus_drift_ks",
    // r13 winnowing: extraction+selection happen in the map stage, so
    // the probe ratio should track the pure corpus scan; the pair join
    // is per-fingerprint-capped (rotated probe copies keep fingerprints
    // distinct, so candidate mass must stay linear).
    "winnow_fingerprint_stats", "winnow_dup_pairs",
    // r13: the AC blocklist scan claims dictionary-size-free map-stage
    // work (ratio should track the corpus scan); the two-phase exact
    // percentile claims bucket-bounded state — its phase-2 re-scan mass
    // is corpus/buckets, so the ratio must track the plain scan, never
    // the exact-percentile buffering curve.
    "blocklist_match_stats", "percentile_exact_twopass",
    // r13: WordPiece inference is trie-in-map-stage work — its ratio
    // must track the corpus scan like the other generator families.
    "wordpiece_stats",
    // r14: the unigram learner pays the corpus once (word histogram)
    // and runs EM on the distinct-word relation — its ratio must track
    // the bpe_tokenize_stats shape (histogram + word-keyed stats join),
    // never a per-position blowup (the DP is a fold per DISTINCT word,
    // and rotated copies multiply distinct words by ~copies).
    "unigram_tokenize_stats",
    // r14: the incremental winnow path must scale like the batch pair
    // join it shares (per-fingerprint-capped candidates), with only the
    // batch half paying extraction.
    "winnow_incremental_pairs",
    // r14: CELF's claim is that k multiplies DOC-LOCAL probes, not
    // corpus rounds — at 30× the probed wall must track the round-1
    // gain aggregate (the maxcover shingle pass), not k× it.
    "maxcover_select_lazy",
    // r14: the perceptron learner pays one featurization plus T rounds
    // of (map-side margin fold + ≤D+1-row aggregate over the
    // misclassified slice) — its ratio must track the corpus scan times
    // a constant, never grow with rounds × corpus re-reads (the
    // checkpointed feature relation is the only thing rounds re-scan).
    "perceptron_learn_rounds",
    // r14: char entropy is pure in-row work (alphabet-bounded histogram
    // + qlog2 folds) — its ratio is the zero-shuffle floor.
    "char_entropy_quality",
    // r14 late adds. DoReMi pays ONE corpus aggregation; the 5 update
    // rounds run at |langs| cardinality, so its ratio must track the
    // pure scan. Theil–Sen's claim is calendar-boundedness: 30× orders
    // collapse to the SAME |days| relation, so the |days|² pair mass is
    // CONSTANT and the ratio must track the daily aggregation alone.
    // HITS rides the densified bipartite graph (cust/part keys
    // unshifted): edge mass grows with copies and the claim is that
    // rounds move only node-sized tables over the two checkpointed
    // layouts. t_closeness_audit is NOT probed: customer stays 1× by
    // design (dimension-table family).
    "mixture_doremi_weights", "theilsen_revenue_trend",
    "graph_hits_authorities",
    // r16: unimax shares doremi's shape — one corpus aggregation, then
    // |langs|-cardinality waterfill — so its ratio must track
    // mixture_doremi_weights (the pure-collapse floor).
    "unimax_budget",
    // r14 batch 4. Kappa is one conditional-aggregate pass (the
    // zero-join floor — ratio must track the scan); the reliability
    // curve re-runs the perceptron learn plus ONE binning pass (ratio
    // must track perceptron_learn_rounds); the streaming drift twin's
    // claim is ≤64 rows of complete-mode state at ANY stream volume.
    // embedding_silhouette is NOT probed: embeddings stay 1× by design.
    "filter_agreement_kappa", "perceptron_reliability",
    "streaming_drift_tv",
    // r14 batch 5. STL is calendar-bounded like theilsen (30× orders,
    // same |days| — ratio must track the daily aggregation); Markov
    // attribution rides the 30× events stream with user_id unshifted
    // (deeper trajectories stress the purchase-truncation window) and
    // its post-collect arithmetic is matrix-sized, so the ratio must
    // track the one window pass.
    "stl_decompose_daily", "markov_attribution",
    // CUPED rides the 30× stream (user_id unshifted -> deeper per-user
    // histories); everything after the one user-keyed aggregate is
    // moment-cardinality, so the ratio must track that single pass.
    "ab_cuped_readout",
    // r14 batch 6: both reports ride the 30× documents corpus — the
    // fragmentation report adds one projection + rollup on top of the
    // probed scalable packing, and the savings report is one
    // (source, md5) aggregation whose ratio must track dedup_exact.
    "pack_fragmentation_report", "dedup_savings_by_source",
    // r14: the per-source entropy collapses the token stream to
    // (source, token) counts map-side — rotation mints new distinct
    // tokens at 30×, so the ratio tracks the dsir/countmin vocabulary
    // shape, never the stream.
    "source_token_entropy",
    // r15 persistence round-trips (r17: train+persist moved to the
    // untimed setup half, so the timed query is reload+apply alone):
    // the probe claim is that load adds only a model-cardinality
    // constant and the APPLY scales like its in-process twin's apply
    // stage (unigram_tokenize_stats / bpe_tokenize_stats / the
    // featurize+score pass respectively).
    "unigram_tokenize_from_saved", "bpe_tokenize_from_saved",
    "perceptron_confusion_from_saved",
    // r15: exact longest-dup-substring — seeds are the same capped
    // fingerprint join as winnow_dup_pairs (rotated probe copies keep
    // fingerprints distinct, so seed mass must stay linear like the
    // pair mass), and extension work is bounded by matched spans; the
    // ratio must track winnow_dup_pairs, never a quadratic seed blowup.
    "longest_dup_substring",
    // r15: the curriculum interleave claims NO single-partition window
    // — both rank passes are bucket-decomposed — so its ratio must
    // track shuffle_order's pure-scan shape.
    "curriculum_interleave",
    // r15: the perceptual-hash media dedup claims banded candidates
    // with a per-band cap — rotation shifts stripe parities, so probe
    // copies land in different bands and the ratio must track the
    // simhash_neardup_pairs shape, never an all-pairs scan.
    // r16: streaming_ann_ivf_ingest is NOT probed — embeddings stay 1×
    // by design (the embedding_silhouette precedent); its scale story
    // is per-microbatch (batch-bounded window + m-row broadcast), and
    // its batch-equivalence is the gate's own oracle.
    "media_phash_neardup",
    // r16: trigram backoff LM — the model tables are n-gram-vocabulary
    // scale and rotation mints new distinct n-grams (the countmin/dsir
    // vocabulary shape), so the ratio tracks ccnet_perplexity_buckets'
    // self-trained-LM shape; the claim under test is that scoring stays
    // three equi-joins over the ONE pinned tokenize pass.
    "trigram_backoff_fluency",
    // r16: rouge-l is a pure map-side projection (fixed DP constant per
    // row, zero hash exchanges) — its ratio must track the raw scan,
    // the zero-join floor like filter_agreement_kappa.
    // minhash_band_sweep (and minhash_layout_select, the r17 decision
    // gate over its curve) is deliberately NOT probed: its ground-truth
    // half is setsim_jaccard_join, which is excluded above for the
    // documented quadratic-output reason; the MinHash half's scale
    // story is carried by minhash_lsh_pairs/minhash_band_stats.
    "rouge_l_eval",
    // r16: the compression curve is the learner plus one
    // vocabulary-scale prefix-replay pass — its ratio must track
    // bpe_learn_merges (probed above), never the corpus.
    "bpe_compression_curve",
    // r16: PPR rides the densified probe graph exactly like
    // graph_pagerank_parts (probed above) — same edge pin, same
    // node-sized rounds; its ratio must track the pagerank probe.
    "graph_ppr_seeds",
    // r17: canonical-URL dedup is map-side string work + ONE group-key
    // aggregation + a group-partitioned keep-best window — its ratio
    // must track the pure corpus scan (the zero-join floor).
    "url_dedup_groups",
    // r17: host-reputation cut = the Gopher projection + a
    // host-cardinality rollup + a broadcast attach — its ratio must
    // track gopher_repetition_ngrams' projection shape, never a join.
    // r18: neardup_pairs_chosen_layout is NOT probed for the same
    // documented reason as minhash_band_sweep/minhash_layout_select —
    // its cost is the setsim ground-truth half; the applied banding's
    // scale story is carried by minhash_lsh_pairs (probed above).
    // host_quality_smoothed is NOT probed: it runs on the 1/53
    // thin-batch slice by construction (the gate exists to prove the
    // smoothing binds on sparse evidence), so a corpus-copy probe
    // measures the slice, not the operator; its corpus-scale shape is
    // host_quality_filter's (probed here).
    "host_quality_filter",
    // r19 choose→apply rungs over the 30× documents corpus.
    // mixture_doremi_apply: the weight loop stays |langs|-cardinality
    // on the ONE corpus aggregate (the probed mixture_doremi_weights
    // shape) and the applied pick adds a broadcast quota attach + one
    // lang-partitioned rank window — its ratio must track
    // sample_weighted_priority's rank-cut shape, never a join blowup.
    // sample_quality_weighted: featurize + learner rounds are the
    // probed perceptron_learn_rounds shape; the pick adds a broadcast
    // + bin-partitioned rank window, so its ratio must track
    // perceptron_learn_rounds times a constant.
    // export_training_shards: the composed end-of-pipeline rung — its
    // cost must remain the sum of its probed parts (curated_corpus +
    // pack_sequences_scalable) plus sequence-cardinality windows.
    // ann_probe_select / ann_ivf_chosen_nprobe are NOT probed:
    // embeddings stay 1× by design (the embedding_silhouette /
    // streaming_ann_ivf_ingest precedent), and the select's cost is
    // the exact-truth half — the curve family's documented exclusion.
    "mixture_doremi_apply", "sample_quality_weighted",
    "export_training_shards")

  /** Copy `i` of a documents frame, as both probes materialize it:
    * doc_id shifted by i·10^9, and the text rotated left by
    * `(i*37)%997+1` characters (kept as is when not longer than that).
    */
  private[graft] def rotatedCopy(docs: DataFrame, i: Int): DataFrame = {
    val rot = (i * 37) % 997 + 1
    docs.select(
      (col("doc_id") + lit(i.toLong * 1000000000L)).as("doc_id"),
      col("lang"), col("source"),
      when(length(col("text")) > rot,
        concat(col("text").substr(lit(rot + 1), length(col("text"))), col("text").substr(1, rot)))
        .otherwise(col("text")).as("text"),
      col("n_chars"))
  }

  def materialize(spark: SparkSession, srcDir: String, outDir: String, copies: Int): Unit = {
    val done = new java.io.File(outDir, "_PROBE_READY")
    if (done.exists()) return
    new java.io.File(outDir).mkdirs()

    def union10(base: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until copies).map(i => f(base, i)).reduce(_ unionByName _)

    val docs = spark.read.parquet(s"$srcDir/documents.parquet")
    union10(docs)(rotatedCopy).repartition(32).write.mode(SaveMode.Overwrite).parquet(s"$outDir/documents.parquet")

    // events.ts arrives as INT64 nanos or a plain timestamp depending on
    // harness data vintage (Tables.normalizeEventsTs doc). Normalize to
    // TimestampType first, then shift each copy by i days; the probe copy
    // lands as a plain timestamp, which Tables.events passes through.
    val events = Tables.normalizeEventsTs(spark.read.parquet(s"$srcDir/events.parquet"))
    union10(events) { (e, i) =>
      e.select(
        (col("event_id") + lit(i.toLong * 1000000000L)).as("event_id"),
        timestamp_micros(unix_micros(col("ts")) + lit(i.toLong * 86400L * 1000000L)).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
    }.repartition(32).write.mode(SaveMode.Overwrite).parquet(s"$outDir/events.parquet")

    // r11: the fact tables scale too (order keys shifted per copy so
    // orders⋈lineitem stays consistent; customer/part/supplier keys are
    // NOT shifted, so dimension joins keep resolving, hot keys stay hot,
    // and the co-purchase graph densifies with copies — the realistic
    // stress for graph_pagerank_parts). Probe artifacts before r11
    // carried 1× facts, so lineitem-family ratios aren't comparable
    // across that boundary.
    val orders = spark.read.parquet(s"$srcDir/orders.parquet")
    union10(orders) { (o, i) =>
      o.withColumn("o_orderkey", col("o_orderkey") + lit(i.toLong * 1000000000L))
    }.repartition(32).write.mode(SaveMode.Overwrite).parquet(s"$outDir/orders.parquet")
    val li = spark.read.parquet(s"$srcDir/lineitem.parquet")
    union10(li) { (l, i) =>
      l.withColumn("l_orderkey", col("l_orderkey") + lit(i.toLong * 1000000000L))
    }.repartition(32).write.mode(SaveMode.Overwrite).parquet(s"$outDir/lineitem.parquet")

    for (t <- Seq("region", "nation", "customer", "supplier", "part", "embeddings"))
      spark.read.parquet(s"$srcDir/$t.parquet")
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/$t.parquet")
    done.createNewFile()
  }

  def main(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Probe factor (r10 verdict #3): at 10× the 32 cores are under-filled
    // at sf0.1, so sub-linear wall-clock can mask super-linear WORK in
    // the dedup/CC/BPE families; a 30× (or constrained-core) run makes
    // the work curve visible. Each factor materializes its own
    // directory (the 10× default keeps its historical path so existing
    // materializations are reused).
    val copies = sys.env.getOrElse("SPARK_GRAFT_PROBE_COPIES", "10").toInt
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PROBE_DIR",
      if (copies == 10) "/tmp/graft_probe_sf1" else s"/tmp/graft_probe_x$copies")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    materialize(spark, srcDir, outDir, copies)
    // flag_rule states the criterion IN the artifact: an empty flag
    // list means "no query's time ratio exceeded max(2.5*copies, 2.5x
    // its rows growth)" — not "all ratios ~1x".
    probe(spark, srcDir, outDir, ProbeQueries, copies.toDouble, "probe_sec", "rows_probe",
      s""""metric":"scale_probe","copies":$copies,"flag_rule":"time_ratio>max(2.5*copies,2.5*rows_ratio)"""")
    spark.stop()
  }

  /** The probe loop both probes run. Each query in `queries` (narrowed
    * by the comma-separated `SPARK_GRAFT_PROBE_ONLY`, for ad-hoc
    * re-probes of single queries after a fix — the full probe is
    * minutes) is timed on `srcDir` and on the materialized `probeDir`,
    * min-of-2 after one warm-up each, with the untimed setup half of
    * `*_from_saved` queries first (the probed ratio is then the APPLY's
    * scaling, matching what Bench measures). Prints one line per query
    * (`secKey` names its probe-side seconds), then the flag lines and
    * one summary line that starts with the fields of `summary`.
    *
    * A time ratio must be judged against the operator's WORK growth
    * before calling it superlinear: an operator whose true answer grows
    * faster than `dataRatio` legitimately spends time proportional to
    * the rows it must emit (`rowsKey` names its probe-side row count).
    * A query is flagged only when its time ratio outgrows 2.5× both the
    * data ratio and its output ratio.
    */
  def probe(spark: SparkSession, srcDir: String, probeDir: String, queries: Seq[String],
            dataRatio: Double, secKey: String, rowsKey: String, summary: String): Unit = {
    val only = sys.env.get("SPARK_GRAFT_PROBE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val byName = Registry.all.map(q => q.name -> q).toMap
    val measure = new Measure(spark)
    // The best of two passes after one warm-up, in seconds, with the
    // query's output row count: an Observation on the query's own frame
    // counts the rows on the timed pass itself, with no second run.
    def time(name: String, dir: String): (Double, Long) = {
      val q = byName(name)
      q.setup.foreach { su =>
        try measure.run(None)(su(spark, dir))
        catch { case e: Throwable => System.err.println(s"[probe] $name setup: ${e.getMessage}") }
      }
      def once(): (Double, Long) = {
        val rows = Observation()
        val p = measure.pass(q.fn(spark, dir).observe(rows, count(lit(1)).as("rows")))
        (p.wallSec, Await.result(rows.future, 60.seconds).getLong(0))
      }
      try { once(); Seq(once(), once()).minBy(_._1) }
      catch { case e: Throwable => System.err.println(s"[probe] $name: ${e.getMessage}"); (-1.0, -1L) }
    }

    // Iterative queries record their rounds at probe scale (r10 verdict
    // #4): a probe graph quietly approaching maxIter should be visible
    // in the artifact before it becomes a loud convergence failure on
    // bigger data.
    val ccIters = scala.collection.mutable.Map[String, Int]()
    val rows = queries.filter(q => only.forall(_.contains(q))).map { n =>
      val (base, baseRows) = time(n, srcDir)
      val (probed, probeRows) = time(n, probeDir)
      if (n == "graph_kcore_nodes") {
        val it = graft.operators.GraphRank.lastKCoreIterations
        ccIters(n) = it
        if (it > 6)
          System.err.println(s"[probe] $n: peeling took $it rounds at probe scale — approaching maxIter=8")
      }
      if (n == "neardup_components" || n == "curated_corpus") {
        val it = graft.dedup.Dedup.lastCcIterations
        ccIters(n) = it
        if (it > 15)
          System.err.println(s"[probe] $n: CC took $it iterations at probe scale — approaching maxIter=20")
      }
      val ratio = if (base > 0 && probed > 0) probed / base else -1.0
      // peak_rss_mb is VmHWM (monotonic): the first query whose probe
      // pass jumps it is the one that crossed a memory cliff — the
      // probe run is exactly where peak memory says something sf0.1
      // cannot.
      val peakRss = ProcStatus.rssMb("VmHWM")
      val ccJson = ccIters.get(n).map(i => s""","cc_iterations":$i""").getOrElse("")
      println(f"""{"query":"$n","sf01_sec":$base%.2f,"$secKey":$probed%.2f,"ratio":$ratio%.1f,"peak_rss_mb":$peakRss$ccJson}""")
      (n, ratio, baseRows, probeRows)
    }
    val flagBase = 2.5 * dataRatio
    // A ratio above flagBase means both passes ran, so both counts exist.
    val flagged = rows.filter(_._2 > flagBase).filter { case (n, tRatio, cntBase, cntProbe) =>
      val rowsRatio = if (cntBase > 0) cntProbe.toDouble / cntBase else 1.0
      println(f"""{"query":"$n","rows_sf01":$cntBase,"$rowsKey":$cntProbe,"rows_ratio":$rowsRatio%.1f,"time_ratio":$tRatio%.1f}""")
      tRatio > math.max(flagBase, 2.5 * rowsRatio)
    }.map("\"" + _._1 + "\"").mkString("[", ",", "]")
    val ccJson = ccIters.toSeq.sortBy(_._1)
      .map { case (n, i) => "\"" + n + "\":" + i }.mkString("{", ",", "}")
    println(s"""{$summary,"flagged_superlinear":$flagged,"cc_iterations":$ccJson,"proc":{"rss_mb":${ProcStatus.rssMb("VmRSS")},"peak_rss_mb":${ProcStatus.rssMb("VmHWM")}}}""")
  }
}

/** Skew-shaped probe (r16 verdict item 5): the uniform copy-scaled
  * probe grows every source equally, but real 100 TB crawls are
  * power-law — ONE source/domain dominates. This probe scales the
  * documents of the lexicographically-first source `hotCopies`× (each
  * copy rotated like the uniform probe, so copies stay mostly-distinct
  * and candidate structures aren't trivially cliqued) while holding
  * every other source at 1×: at the default 100× the hot source holds
  * ~84% of corpus rows — the shape that stresses AQE skew handling,
  * the salted/pre-aggregated group paths, per-source aggregation, and
  * value-skewed joins in a way uniform copy scaling cannot.
  *
  * Probed set: the documents-riding dedup / group-count / join
  * families (events/lineitem stay 1× — their skew stress is
  * `skew_join_hot_key`/`skew_join_preagg` in the bench). Flag rule
  * mirrors the uniform probe with the DATA ratio in place of the copy
  * factor: flagged when time outgrows 2.5× max(data growth, output-row
  * growth). NOT part of the correctness gate (no oracle at this
  * scale).
  */
object SkewProbe {

  private val SkewQueries = Seq(
    // pure scans / per-doc work: the zero-join floor the rest compare to
    "text_token_stats", "gopher_repetition_ngrams",
    // group-count families keyed ON the skewed dimension: per-source
    // rollups see one group at ~84% mass
    "dedup_exact", "dedup_savings_by_source", "source_token_entropy",
    // per-lang histogram decomposition (langs inherit the skew through
    // the hot source's docs)
    "lang_adaptive_cut", "sample_weighted_priority",
    // kmer group-count: token-keyed aggregation under token-mass skew
    "kmer_count",
    // dedup/banding: hot-source copies are rotated so bands stay
    // mostly-distinct — the claim is the per-band cap holds the
    // candidate mass linear even when one source floods the corpus
    "minhash_signatures", "minhash_lsh_pairs", "simhash_neardup_pairs",
    "neardup_components", "line_dedup_corpus",
    // joins with corpus-vs-vocabulary asymmetry under skew
    "dsir_importance_select", "winnow_dup_pairs", "containment_dup_pairs",
    // the composed pipeline: quality gate + full dedup on the skewed shape
    "curated_corpus",
    // r17 rungs: URL group+keep-best (one group-key aggregation — the
    // canonical-url groups inherit the hot source's mass) and the
    // host-reputation cut (hot hosts dominate the rollup)
    "url_dedup_groups", "host_quality_filter",
    // r19 apply rungs under power-law skew: the DoReMi pick's
    // lang-partitioned rank window sees the hot source's langs carry
    // ~84% of rows (the one-fat-partition window stress); the
    // quality-weighted pick's bins inherit the same mass through the
    // score distribution; the shard export composes curated_corpus
    // (probed above) with packing + the sequence-cardinality rank, so
    // its skew ratio must track curated_corpus, never amplify it.
    "mixture_doremi_apply", "sample_quality_weighted",
    "export_training_shards")

  def materializeSkew(spark: SparkSession, srcDir: String, outDir: String, hotCopies: Int): Unit = {
    val done = new java.io.File(outDir, "_PROBE_READY")
    if (done.exists()) return
    new java.io.File(outDir).mkdirs()
    val docs = spark.read.parquet(s"$srcDir/documents.parquet")
    val hot = docs.agg(min("source")).collect()(0).getString(0)
    val hotDocs = docs.where(col("source") === hot)
    val scaled = (0 until hotCopies).map(ScaleProbe.rotatedCopy(hotDocs, _)).reduce(_ unionByName _)
    docs.where(col("source") =!= hot).unionByName(scaled)
      .repartition(32).write.mode(SaveMode.Overwrite).parquet(s"$outDir/documents.parquet")
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "embeddings"))
      spark.read.parquet(s"$srcDir/$t.parquet")
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/$t.parquet")
    done.createNewFile()
  }

  def main(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val hotCopies = sys.env.getOrElse("SPARK_GRAFT_SKEW_COPIES", "100").toInt
    val outDir = sys.env.getOrElse("SPARK_GRAFT_SKEW_DIR", s"/tmp/graft_probe_skew$hotCopies")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    materializeSkew(spark, srcDir, outDir, hotCopies)
    val baseRows = spark.read.parquet(s"$srcDir/documents.parquet").count().toDouble
    val skewRows = spark.read.parquet(s"$outDir/documents.parquet").count().toDouble
    val dataRatio = skewRows / baseRows
    println(f"""{"metric":"skew_probe_shape","hot_copies":$hotCopies,"base_rows":${baseRows.toLong},"skew_rows":${skewRows.toLong},"data_ratio":$dataRatio%.2f}""")
    ScaleProbe.probe(spark, srcDir, outDir, SkewQueries, dataRatio, "skew_sec", "rows_skew",
      f""""metric":"skew_probe","hot_copies":$hotCopies,"data_ratio":$dataRatio%.2f,"flag_rule":"time_ratio>max(2.5*data_ratio,2.5*rows_ratio)"""")
    spark.stop()
  }
}
