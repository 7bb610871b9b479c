package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{EngineQuery, Tables}
import graft.dedup.Dedup

/** Similarity search over an embedding column (north-star extension).
  *
  * Two tiers:
  *  - brute-force cosine top-k: exact, O(|Q|·|N|) — the correctness
  *    baseline, run with a bounded query set;
  *  - sign-LSH bucketed top-k: hyperplane-sign bucketing turns the cross
  *    product into an equi-join on bucket — the 100 TB path (candidates
  *    share a bucket; recall tunes via bucket bits / multi-probe).
  *
  * Dot products use floor(x*1000) integer quantization (exact, portable
  * across engines); cosine = dot / (√na·√nb) in IEEE double.
  *
  * Scale notes: the brute-force variant broadcasts the (small) query
  * set against the full corpus — no shuffle of the big side; the LSH
  * variant shuffles both sides once on bucket. Top-k per query is a
  * ranking window over candidates, which Spark executes with a
  * partial top-k per partition before the shuffle.
  */
object Ann {

  private def withSim(pairs: DataFrame): DataFrame = {
    pairs
      .withColumn("dot", expr("dot_i64(qa, qb)"))
      .withColumn("sim",
        col("dot").cast("double") / (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
  }

  /** Exact top-k cosine neighbors for each query vector. */
  def bruteForceTopK(embeddings: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val base = Dedup.quantized(embeddings)
    val q = Dedup.quantized(queries)
      .select(col("vec_id").as("q_id"), col("q").as("qa"), col("nrm").as("na"))
    val n = base.select(col("vec_id").as("n_id"), col("q").as("qb"), col("nrm").as("nb"))
    val scored = withSim(broadcast(q).crossJoin(n).where(col("q_id") =!= col("n_id")))
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("q_id", "n_id", "rank", "sim")
  }

  /** Approximate top-k: candidates restricted to the query's sign-LSH
    * bucket.
    */
  def lshTopK(embeddings: DataFrame, queries: DataFrame, k: Int, bits: Int = 8): DataFrame = {
    val bucketed = Dedup.quantized(embeddings)
      .withColumn("bucket", Dedup.hyperplaneBucket("q", bits))
    val q = Dedup.quantized(queries)
      .withColumn("bucket", Dedup.hyperplaneBucket("q", bits))
      .select(col("vec_id").as("q_id"), col("q").as("qa"), col("nrm").as("na"), col("bucket"))
    val n = bucketed.select(col("vec_id").as("n_id"), col("q").as("qb"), col("nrm").as("nb"), col("bucket"))
    val scored = withSim(q.join(n, Seq("bucket")).where(col("q_id") =!= col("n_id")))
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("q_id", "n_id", "rank", "sim")
  }

  /** Multi-probe LSH: each query additionally probes every bucket at
    * Hamming distance 1 (one flipped sign bit), so `bits` can stay high
    * — small, skew-free buckets — while probing recovers the recall a
    * single-bucket lookup loses for near-boundary vectors. Cost: the
    * query side fans out ×(bits+1); the big (corpus) side still shuffles
    * once on bucket. The standard knob pair at scale: bits ↑ for
    * selectivity, probes ↑ for recall.
    */
  def lshTopKMultiProbe(
      embeddings: DataFrame, queries: DataFrame, k: Int, bits: Int = 8,
      probes: Int = -1): DataFrame = {
    // probes = number of buckets each query visits: its own plus the
    // first (probes−1) single-bit flips; default −1 = all bits+1 (the
    // original full-probe behavior). The recall-calibration knob.
    val nProbes = if (probes <= 0) bits + 1 else math.min(probes, bits + 1)
    val base = Dedup.quantized(embeddings)
      .withColumn("bucket", Dedup.hyperplaneBucket("q", bits))
    val q0 = Dedup.quantized(queries)
      .withColumn("bucket", Dedup.hyperplaneBucket("q", bits))
    val probeCols = col("bucket") +: (1 until nProbes).map { f =>
      concat(
        substring(col("bucket"), 1, f - 1),
        when(substring(col("bucket"), f, 1) === "1", "0").otherwise("1"),
        substring(col("bucket"), f + 1, bits - f))
    }
    val q = q0.select(
      col("vec_id").as("q_id"), col("q").as("qa"), col("nrm").as("na"),
      explode(array(probeCols: _*)).as("bucket"))
    val n = base.select(col("vec_id").as("n_id"), col("q").as("qb"), col("nrm").as("nb"), col("bucket"))
    val cand = q.join(n, Seq("bucket"))
      .where(col("q_id") =!= col("n_id"))
      // a neighbor can match several probes; pair payloads are identical
      .dropDuplicates("q_id", "n_id")
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("n_id"))
    withSim(cand).withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("q_id", "n_id", "rank", "sim")
  }

  /** IVF (inverted-file) top-k: a coarse quantizer of `m` centroids
    * (deterministic: the first m corpus vectors) partitions the corpus
    * into inverted lists; each query searches only the lists of its
    * `nprobe` nearest centroids. The other classic ANN scale shape
    * next to LSH: corpus assignment is one broadcast-centroids pass
    * (no shuffle of the big side beyond the one list equi-join), and
    * recall tunes via nprobe against m. In production the centroids
    * come from k-means over a sample; the assignment/probe/join
    * structure — the part that matters at 100 TB — is identical.
    */
  def ivfTopK(embeddings: DataFrame, queries: DataFrame, k: Int, m: Int = 16, nprobe: Int = 2): DataFrame = {
    val cents = Dedup.quantized(embeddings.where(col("vec_id") < m))
      .select(col("vec_id").as("cid"), col("q").as("cq"), col("nrm").as("cnrm"))
    ivfSearch(embeddings, queries, cents, k, nprobe)
  }

  /** IVF search against an EXPLICIT centroid table `(cid, cq, cnrm)` —
    * shared by [[ivfTopK]] (deterministic seed centroids) and
    * [[ivfTrainedTopK]] (k-means-trained centroids).
    */
  /** Nearest-`keep` centroid assignment of a quantized vector frame
    * against a broadcast centroid table — keeps `crn` (the 1-based
    * probe rank) so callers can slice one assignment into several
    * nprobe settings ([[annRecallCurve]]).
    */
  private def ivfAssign(df: DataFrame, cents: DataFrame, keep: Int): DataFrame = {
    val w = Window.partitionBy("vec_id").orderBy(col("csim").desc, col("cid"))
    df.crossJoin(broadcast(cents))
      .withColumn("cdot", expr("dot_i64(q, cq)"))
      .withColumn("csim",
        col("cdot").cast("double") / (sqrt(col("nrm").cast("double")) * sqrt(col("cnrm").cast("double"))))
      .withColumn("crn", row_number().over(w))
      .where(col("crn") <= keep)
      .select(col("vec_id"), col("cid"), col("q"), col("nrm"), col("crn"))
  }

  private def ivfSearch(
      embeddings: DataFrame, queries: DataFrame, cents: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val corpus = ivfAssign(Dedup.quantized(embeddings), cents, 1)
      .select(col("vec_id").as("n_id"), col("cid"), col("q").as("qb"), col("nrm").as("nb"))
    val qs = ivfAssign(Dedup.quantized(queries), cents, nprobe)
      .select(col("vec_id").as("q_id"), col("cid"), col("q").as("qa"), col("nrm").as("na"))
    val cand = qs.join(corpus, Seq("cid"))
      .where(col("q_id") =!= col("n_id"))
      .dropDuplicates("q_id", "n_id")
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("n_id"))
    withSim(cand).withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("q_id", "n_id", "rank", "sim")
  }

  /** One Lloyd (k-means) iteration over the embedding corpus — the
    * operator that trains IVF's coarse quantizer in production (see
    * [[ivfTopK]]): assign every vector to its nearest centroid
    * (broadcast centroids, cosine over exact integer dots — the corpus
    * never shuffles for assignment), then recompute per-centroid
    * per-dimension sums/means in one partial+final aggregation.
    * Output: (cid, dim, n_members, sum_q, mean_q) — the full updated
    * centroid matrix, exact-integer sums so the relation is
    * engine-portable. Iterating = re-feeding means as next centroids;
    * each iteration is the same two-exchange plan.
    */
  def kmeansStep(embeddings: DataFrame, m: Int = 16): DataFrame = {
    val base = Dedup.quantized(embeddings)
    val cents = base.where(col("vec_id") < m)
      .select(col("vec_id").as("cid"), col("q").as("cq"), col("nrm").as("cnrm"))
    lloydMatrix(base, cents)
  }

  /** One Lloyd assignment+update against an explicit centroid table
    * `(cid, cq, cnrm)` — the body shared by [[kmeansStep]] (one step
    * from the deterministic seed) and [[kmeansConverged]] (iterated).
    * Centroids are always broadcast; the corpus never shuffles for
    * assignment — the only exchange is the (cid, dim) aggregation.
    */
  private def lloydMatrix(base: DataFrame, cents: DataFrame): DataFrame = {
    val w = Window.partitionBy("vec_id").orderBy(col("csim").desc, col("cid"))
    val assigned = base.crossJoin(broadcast(cents))
      .withColumn("cdot", expr("dot_i64(q, cq)"))
      .withColumn("csim",
        col("cdot").cast("double") / (sqrt(col("nrm").cast("double")) * sqrt(col("cnrm").cast("double"))))
      .withColumn("crn", row_number().over(w))
      .where(col("crn") === 1)
      .select("cid", "q")
    assigned
      .select(col("cid"), posexplode(col("q")).as(Seq("dim", "v")))
      .groupBy("cid", "dim")
      .agg(count(lit(1)).as("n_members"), sum(col("v")).as("sum_q"))
      .select(
        col("cid"), col("dim").cast("long").as("dim"), col("n_members"), col("sum_q"),
        (col("sum_q").cast("double") / col("n_members").cast("double")).as("mean_q"))
  }

  /** Rebuild the quantized centroid table from an update matrix: the new
    * centroid component is floor(sum/n) back in the exact integer lane
    * (floor of an IEEE double division — portable across engines), so
    * the next assignment pass runs the same integer dot products as the
    * first. A cid with no members simply disappears (classic empty-
    * cluster drop). Tiny relation (m × Dim rows) — the per-iteration
    * driver cost is one collect-free localCheckpoint.
    */
  private[similarity] def rebuildCentroids(matrix: DataFrame): DataFrame =
    matrix
      .withColumn("cv",
        floor(col("sum_q").cast("double") / col("n_members").cast("double")).cast("long"))
      .groupBy("cid")
      .agg(sort_array(collect_list(struct(col("dim"), col("cv")))).as("pairs"))
      .select(col("cid"), transform(col("pairs"), p => p.getField("cv")).as("cq"))
      .withColumn("cnrm", expr("aggregate(cq, CAST(0 AS BIGINT), (acc, x) -> acc + x * x)"))

  /** Lloyd iteration to convergence — the operator a real pipeline runs
    * (one step is a demo; see [[kmeansStep]]). Same driver-loop shape as
    * [[graft.dedup.Dedup.connectedComponents]]: every iteration is one
    * broadcast-assignment + one aggregation, fully distributed; the
    * driver only orchestrates and runs one small fixed-point check per
    * iteration (centroids live in the quantized integer lane, so the
    * stop test is EXACT equality, not a float tolerance — once the
    * quantized centroids repeat, every later iteration is a no-op,
    * which is what makes a fixed-iteration oracle reachable by an
    * early-stopping loop). Runs at most `maxIter` iterations and
    * returns the final update matrix.
    */
  def kmeansConverged(embeddings: DataFrame, m: Int = 16, maxIter: Int = 3): DataFrame = {
    require(maxIter >= 1, s"kmeansConverged needs at least one iteration, got $maxIter")
    val base = Dedup.quantized(embeddings).cache()
    var (cents, freeCents) = graft.Checkpoints.localEager(
      base.where(col("vec_id") < m)
        .select(col("vec_id").as("cid"), col("q").as("cq"), col("nrm").as("cnrm")))
    var matrix: DataFrame = null
    // Free the previous iteration's centroid/matrix checkpoint blocks
    // once the next is materialized — an unreleased block per iteration
    // otherwise stays pinned for the whole session (see [[Checkpoints]]).
    var freeMatrix: () => Unit = () => ()
    var moved = true
    var i = 0
    while (moved && i < maxIter) {
      freeMatrix()
      val (m1, f1) = graft.Checkpoints.localEager(lloydMatrix(base, cents))
      matrix = m1; freeMatrix = f1
      val (next, freeNext) = graft.Checkpoints.localEager(rebuildCentroids(matrix))
      val changed = cents.select(col("cid"), col("cq").as("pq"))
        .join(next.select(col("cid"), col("cq").as("nq")), Seq("cid"), "full_outer")
        .where(col("pq").isNull || col("nq").isNull || col("pq") =!= col("nq"))
      moved = !changed.isEmpty
      freeCents()
      cents = next; freeCents = freeNext
      i += 1
    }
    base.unpersist()
    // the final update matrix is the return value; its blocks are the
    // caller's to consume — only the obsolete centroid table is freed
    freeCents()
    matrix
  }

  /** IVF search with a TRAINED coarse quantizer — the composed
    * production shape: [[kmeansConverged]] trains the centroids
    * (broadcast Lloyd iterations to a quantized fixed point),
    * [[rebuildCentroids]] puts them back in the exact integer lane, and
    * the shared [[ivfSearch]] runs the inverted-list probe against
    * them. One call = train + index + search; the centroid table is
    * localCheckpointed so the training pipeline runs once, not once per
    * assignment branch.
    */
  def ivfTrainedTopK(
      embeddings: DataFrame, queries: DataFrame, k: Int,
      m: Int = 16, nprobe: Int = 2, trainIter: Int = 3): DataFrame = {
    val cents = rebuildCentroids(kmeansConverged(embeddings, m, trainIter))
      .localCheckpoint(true)
    ivfSearch(embeddings, queries, cents, k, nprobe)
  }

  /** Persistence round-trip twin of [[ivfTrainedTopK]] — train the
    * coarse quantizer, write the (cid, cq, cnrm) centroid table to
    * parquet, read it BACK from disk, and run the inverted-list probe
    * strictly against the loaded index artifact (the in-process
    * centroid pin is released first). Same oracle as the in-process
    * twin — an ANN index that survives persistence is what lets a
    * pipeline index once and serve lookups for months.
    */
  def ivfTopKFromSaved(
      spark: SparkSession, sfDir: String, k: Int,
      m: Int = 16, nprobe: Int = 2, trainIter: Int = 3): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val path = graft.models.ModelStore.path("ivf_centroids", sfDir)
    // self-heal for direct callers; the harness surfaces run
    // trainAndSaveIvf as the query's untimed setup half
    if (!graft.models.ModelStore.exists(spark, path))
      trainAndSaveIvf(spark, sfDir, m, trainIter)
    val loaded = graft.models.ModelStore.load(spark, path)
    ivfSearch(emb, emb.where(col("vec_id") < 50), loaded, k, nprobe)
  }

  /** Train-once half of [[ivfTopKFromSaved]]: train the coarse quantizer
    * and persist the (cid, cq, cnrm) centroid artifact. Registered as
    * the query's untimed setup so the bench measures load+probe alone
    * (the k-means cost already rides `kmeans_converged`).
    */
  def trainAndSaveIvf(
      spark: SparkSession, sfDir: String,
      m: Int = 16, trainIter: Int = 3): Unit = {
    val cents = rebuildCentroids(
        kmeansConverged(Tables.embeddings(spark, sfDir), m, trainIter))
      .localCheckpoint(true)
    graft.models.ModelStore.save(cents, graft.models.ModelStore.path("ivf_centroids", sfDir))
    graft.Checkpoints.release(cents)
  }

  /** Streaming ingestion into the PERSISTED IVF index (r16 — the
    * crawl-ingest shape, completing the persistence × streaming matrix
    * the perceptron already has): train the coarse quantizer batch-side,
    * write the centroid table to parquet, RELOAD it, then let new
    * embeddings arrive as a file stream and bucket each microbatch into
    * the loaded index inside `foreachBatch` — nearest-centroid
    * assignment against the eagerly-pinned loaded artifact (a
    * stream-static broadcast: the corpus-scale batch never shuffles for
    * assignment, exactly the batch [[ivfSearch]] corpus side). Landed
    * assignments append to a parquet sink — the inverted lists an index
    * server would absorb between triggers. Draining the finite gate
    * stream must equal the batch corpus assignment exactly (the oracle
    * replays train + assign in SQL), which is what proves a month-old
    * persisted index buckets tomorrow's crawl identically to a fresh
    * rebuild.
    */
  def ivfStreamingIngestFromSaved(
      spark: SparkSession, sfDir: String,
      m: Int = 16, trainIter: Int = 3): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val cents = rebuildCentroids(kmeansConverged(emb, m, trainIter))
      .localCheckpoint(true)
    // Eagerly pin the loaded artifact (not just the lazy parquet scan):
    // every microbatch's assignment reads it, and an eager pin also
    // insulates the stream from a concurrent overwrite of the artifact
    // path (the ADVICE r15 lazy-read hazard).
    val (loaded, releaseLoaded) = graft.Checkpoints.localEager(
      graft.models.ModelStore.roundTrip(
        cents, graft.models.ModelStore.path("ivf_centroids_ingest", sfDir)))
    graft.Checkpoints.release(cents)
    val outDir = s"${graft.OutDir.base}/graft_stream_ivf_ingest/${sfDir.replaceAll("[^A-Za-z0-9.]+", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(outDir))
    val stream = graft.sources.StreamingSources.tableSource(spark, sfDir, "embeddings")
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ingestAssign(batch, loaded).write.mode("append").parquet(outDir)
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()
    releaseLoaded()
    spark.read.parquet(outDir)
  }

  /** The per-microbatch ingest body of [[ivfStreamingIngestFromSaved]],
    * factored out so `PlanAuditSpec` pins the EXACT expression
    * foreachBatch executes (the r15 ADVICE replica-drift lesson: a
    * hand-built audit replica keeps passing when the real plan drifts;
    * a shared method cannot drift by construction).
    */
  private[graft] def ingestAssign(batch: DataFrame, loadedCents: DataFrame): DataFrame =
    ivfAssign(Dedup.quantized(batch), loadedCents, 1)
      .select(col("vec_id"), col("cid"))

  /** nprobe / probe-count → recall@k calibration curve (r13 verdict
    * item 4): for each IVF nprobe and each multi-probe bucket count,
    * the fraction of the EXACT brute-force top-k pairs the approximate
    * index recovers — the evidence that the index parameters are sane.
    * One row per (method, param): exact BIGINT hit/truth counts, the
    * integer-division permille lane, and one final IEEE division
    * (the [[graft.text.BigramLm]] discipline), so the whole curve
    * hash-matches the oracle's independent recomputation.
    *
    * Cost shape: the trained centroids and the corpus-side IVF
    * assignment are computed ONCE and sliced per nprobe via the probe
    * rank `crn` (never one corpus pass per curve point); the
    * multi-probe points share the one bucketed corpus relation. Truth
    * is the same brute-force pass the `ann_brute_topk` gate already
    * bounds to the small query set.
    */
  def annRecallCurve(
      embeddings: DataFrame, queries: DataFrame, k: Int,
      ivfProbes: Seq[Int] = Seq(1, 2, 4), mpProbes: Seq[Int] = Seq(1, 5, 9),
      m: Int = 16, bits: Int = 8, trainIter: Int = 3): DataFrame =
    recallCurveParts(embeddings, queries, k, ivfProbes, mpProbes, m, bits, trainIter).curve

  /** The curve PLUS the sliceable index relations it was measured over
    * — factored out (r18 verdict item 1a) so the choose→apply rung
    * ([[annIvfChosenNprobe]]) can search under the chosen setting with
    * nothing recomputed: the trained corpus assignment and the
    * max-probes query assignment are built once and feed both the
    * curve's per-setting slices and the applied search.
    */
  private case class RecallCurveParts(curve: DataFrame, corpus: DataFrame, qAll: DataFrame)

  private def recallCurveParts(
      embeddings: DataFrame, queries: DataFrame, k: Int,
      ivfProbes: Seq[Int], mpProbes: Seq[Int],
      m: Int, bits: Int, trainIter: Int): RecallCurveParts = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    // by-convention pins (harness frees; r19 review): truth feeds the
    // hits join AND the n_truth scalar; corpus/qAll feed one slice PER
    // curve setting plus the chosen-nprobe applied search — unpinned,
    // each consumer re-executed the brute-force / assignment subtree
    // with only exchange-reuse standing in the way, contradicting the
    // factoring's 'nothing recomputed' contract.
    val truth = bruteForceTopK(embeddings, queries, k).select("q_id", "n_id")
      .localCheckpoint(true)
    val cents = rebuildCentroids(kmeansConverged(embeddings, m, trainIter))
      .localCheckpoint(true)
    val corpus = ivfAssign(Dedup.quantized(embeddings), cents, 1)
      .select(col("vec_id").as("n_id"), col("cid"), col("q").as("qb"), col("nrm").as("nb"))
      .localCheckpoint(true)
    val qAll = ivfAssign(Dedup.quantized(queries), cents, ivfProbes.max)
      .select(col("vec_id").as("q_id"), col("cid"),
        col("q").as("qa"), col("nrm").as("na"), col("crn"))
      .localCheckpoint(true)
    def rankTopK(cand: DataFrame): DataFrame = {
      val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("n_id"))
      withSim(cand).withColumn("rank", row_number().over(w))
        .where(col("rank") <= k).select("q_id", "n_id")
    }
    val ivfFrames = ivfProbes.map { np =>
      rankTopK(
        qAll.where(col("crn") <= np).drop("crn")
          .join(corpus, Seq("cid"))
          .where(col("q_id") =!= col("n_id"))
          .dropDuplicates("q_id", "n_id"))
        .select(lit("ivf_trained").as("method"), lit(np.toLong).as("param"),
          col("q_id"), col("n_id"))
    }
    val mpFrames = mpProbes.map { p =>
      lshTopKMultiProbe(embeddings, queries, k, bits, probes = p)
        .select(lit("lsh_multiprobe").as("method"), lit(p.toLong).as("param"),
          col("q_id"), col("n_id"))
    }
    val approx = (ivfFrames ++ mpFrames).reduce(_.unionByName(_))
    val nTruth = truth.agg(count(lit(1)).as("n_truth"))
    val hits = approx.join(truth, Seq("q_id", "n_id"))
      .groupBy("method", "param").agg(count(lit(1)).as("n_hits"))
    val settings =
      (ivfProbes.map(("ivf_trained", _)) ++ mpProbes.map(("lsh_multiprobe", _)))
        .map { case (mth, p) => (mth, p.toLong) }.toDF("method", "param")
    val curve = settings.join(hits, Seq("method", "param"), "left_outer")
      .crossJoin(broadcast(nTruth))
      .select(col("method"), col("param"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"), col("n_truth"))
      .withColumn("recall_permille",
        expr("(1000 * n_hits) div greatest(n_truth, 1L)"))
      .withColumn("recall",
        col("n_hits").cast("double") / greatest(col("n_truth"), lit(1L)).cast("double"))
    RecallCurveParts(curve, corpus, qAll)
  }

  /** Recall floor (permille of the exact top-k recovered)
    * [[annProbeSelect]] defaults to: an index setting missing more
    * than 20% of the true neighbors degrades whatever consumes the
    * search (near-dup mining, retrieval eval) past the point extra
    * probes are worth saving — the same "cheapest setting above a
    * quality floor" operating rule as [[graft.dedup.Dedup.DefaultRecallFloorPpm]].
    */
  val DefaultAnnRecallFloorPermille = 800L

  /** Floor marker + argmin halves of the probe-setting decision rule,
    * factored so [[annProbeSelect]] (the auditable curve) and
    * [[annIvfChosenNprobe]] (the APPLY rung) provably share one rule:
    * among settings meeting the recall floor, the FEWEST probes (probe
    * count is the cost axis — candidate sets are NESTED in the probe
    * rank `crn`, so fewer probes is exactly fewer candidates scored);
    * floor unmet everywhere → max recall (ties to fewer probes), the
    * least-wrong interim choice, mirroring
    * [[graft.dedup.Dedup.minhashLayoutSelect]].
    */
  private def withAnnMeetsFloor(curve: DataFrame, floorPermille: Long): DataFrame =
    curve.withColumn("meets_floor",
      when(col("recall_permille") >= lit(floorPermille), 1L).otherwise(0L))

  private def probeRuleOrder: Seq[org.apache.spark.sql.Column] = Seq(
    col("meets_floor").desc,
    when(col("meets_floor") === 1L, col("param")).otherwise(-col("recall_permille")),
    col("param"))

  private def argminIvfProbe(curve: DataFrame): DataFrame =
    curve.where(col("method") === "ivf_trained")
      .orderBy(probeRuleOrder: _*)
      .limit(1).select(col("param"))

  /** The decision rule over [[annRecallCurve]] — closing the ANN
    * calibrate→choose loop (r18 verdict item 1a: the curve measured
    * nprobe→recall and probes→recall but nothing consumed it). Emits
    * the full curve with `meets_floor` and a per-METHOD `chosen`
    * marker (each index family gets its cheapest-above-floor setting)
    * so the decision is auditable next to its evidence; the argmin is
    * a row_number window over the |settings|-row curve partitioned by
    * method — bounded, never corpus-scale.
    */
  def annProbeSelect(
      embeddings: DataFrame, queries: DataFrame, k: Int,
      ivfProbes: Seq[Int] = Seq(1, 2, 4), mpProbes: Seq[Int] = Seq(1, 5, 9),
      m: Int = 16, bits: Int = 8, trainIter: Int = 3,
      recallFloorPermille: Long = DefaultAnnRecallFloorPermille): DataFrame = {
    val curve = withAnnMeetsFloor(
      annRecallCurve(embeddings, queries, k, ivfProbes, mpProbes, m, bits, trainIter),
      recallFloorPermille)
    val byMethod = Window.partitionBy("method").orderBy(probeRuleOrder: _*)
    curve.withColumn("__rn", row_number().over(byMethod))
      .select(col("method"), col("param"), col("n_hits"), col("n_truth"),
        col("recall_permille"), col("recall"), col("meets_floor"),
        when(col("__rn") === 1, 1L).otherwise(0L).as("chosen"))
  }

  /** Choose→APPLY — the third rung that closes the ANN calibrate loop
    * (the [[graft.dedup.Dedup.neardupPairsChosenLayout]] template):
    * the IVF search runs UNDER THE NPROBE THE SELECT CHOSE, with
    * nothing recomputed — the trained corpus assignment and the
    * max-probes query assignment feed both the curve's slices and the
    * applied search, the curve pins once and feeds the argmin (a 1-row
    * bounded collect — the decision is a scalar), and the
    * candidate/rank pipeline is the identical production search shape
    * ([[ivfSearch]]). Output is the full search result (q_id, n_id,
    * rank, sim), so this IS production top-k under the measured
    * decision, not a re-statement of the curve.
    *
    * Scale shape: everything before the final slice is the audited
    * curve cost (truth is bounded to the small query set); the apply
    * adds ONE list equi-join + per-query top-k window under the chosen
    * nprobe — exactly what production search at that setting costs.
    */
  def annIvfChosenNprobe(
      embeddings: DataFrame, queries: DataFrame, k: Int,
      ivfProbes: Seq[Int] = Seq(1, 2, 4),
      m: Int = 16, bits: Int = 8, trainIter: Int = 3,
      recallFloorPermille: Long = DefaultAnnRecallFloorPermille): DataFrame = {
    // IVF-family curve only (r19 review): the argmin filters
    // method='ivf_trained', so the LSH multi-probe sweeps could never
    // affect the chosen nprobe or the output — measuring them here was
    // three discarded bucketed self-join searches per apply. The
    // decision is bit-identical to the one annProbeSelect's full curve
    // exhibits for the IVF method (same slices, same rule).
    val parts = recallCurveParts(embeddings, queries, k, ivfProbes, Seq.empty, m, bits, trainIter)
    // by-convention pin (harness frees): the curve feeds the argmin;
    // the 1-row decision collects like the dedup chosen-layout rung
    val curve = withAnnMeetsFloor(parts.curve, recallFloorPermille).localCheckpoint(true)
    val bestNp = argminIvfProbe(curve).head.getLong(0)
    val cand = parts.qAll.where(col("crn") <= bestNp).drop("crn")
      .join(parts.corpus, Seq("cid"))
      .where(col("q_id") =!= col("n_id"))
      .dropDuplicates("q_id", "n_id")
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("n_id"))
    withSim(cand).withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("q_id", "n_id", "rank", "sim")
  }

  // --------------------------------------------------------------- oracles

  private val duckQuantized =
    """SELECT vec_id,
      |  list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
      |FROM embeddings""".stripMargin

  private[similarity] val duckNorm =
    s"""SELECT vec_id, q, CAST(list_sum(list_transform(q, v -> v * v)) AS BIGINT) AS nrm
       |FROM ($duckQuantized)""".stripMargin

  private[similarity] val duckSimExpr =
    """CAST(CAST(list_sum(list_transform(list_zip(a.q, b.q), p -> p[1] * p[2])) AS BIGINT) AS DOUBLE)
      |    / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE)))""".stripMargin

  /** Unrolled fixed-iteration Lloyd oracle: `iters` chained
    * assignment/update CTE blocks, mirroring [[kmeansConverged]]'s
    * centroid update exactly (floor(sum/n) in the integer lane, empty
    * clusters dropped). The engine's early stop is an EXACT quantized
    * fixed point, so stopping early equals running all `iters` — which
    * is what makes this fixed-depth SQL a valid oracle for a
    * convergence loop.
    */
  /** The CTE chain only (no WITH, no final select) — shared by the
    * kmeans_converged oracle and the trained-IVF oracle, which appends
    * a search over `centv<iters>`.
    */
  private[similarity] def duckKmeansCtes(iters: Int, m: Int): String = {
    val sb = new StringBuilder
    sb ++= s"n AS ($duckNorm),\n"
    sb ++= s"centv0 AS (SELECT vec_id AS cid, q AS cq, nrm AS cnrm FROM n WHERE vec_id < $m)"
    for (i <- 1 to iters) {
      sb ++=
        s""",
           |asg$i AS (
           |  SELECT n.vec_id, c.cid, n.q,
           |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
           |      CAST(CAST(list_sum(list_transform(list_zip(n.q, c.cq), p -> p[1] * p[2])) AS BIGINT) AS DOUBLE)
           |        / (sqrt(CAST(n.nrm AS DOUBLE)) * sqrt(CAST(c.cnrm AS DOUBLE))) DESC, c.cid) AS crn
           |  FROM n CROSS JOIN centv${i - 1} c),
           |cent$i AS (
           |  SELECT cid, CAST(i - 1 AS BIGINT) AS dim, count(*) AS n_members,
           |    CAST(sum(q[CAST(i AS INT)]) AS BIGINT) AS sum_q
           |  FROM (SELECT cid, q, unnest(generate_series(1, ${Dedup.Dim})) AS i
           |        FROM asg$i WHERE crn = 1)
           |  GROUP BY cid, dim),
           |centv$i AS (
           |  SELECT cid,
           |    list(CAST(floor(CAST(sum_q AS DOUBLE) / CAST(n_members AS DOUBLE)) AS BIGINT) ORDER BY dim) AS cq,
           |    CAST(list_sum(list_transform(
           |      list(CAST(floor(CAST(sum_q AS DOUBLE) / CAST(n_members AS DOUBLE)) AS BIGINT) ORDER BY dim),
           |      v -> v * v)) AS BIGINT) AS cnrm
           |  FROM cent$i GROUP BY cid)""".stripMargin
    }
    sb.toString
  }

  private def duckKmeans(iters: Int, m: Int): String =
    s"""WITH ${duckKmeansCtes(iters, m)}
       |SELECT cid, dim, n_members, sum_q,
       |  CAST(sum_q AS DOUBLE) / CAST(n_members AS DOUBLE) AS mean_q
       |FROM cent$iters ORDER BY cid, dim""".stripMargin

  /** Trained-IVF oracle: the kmeans chain, then the IVF
    * assignment/probe/rank over the final trained centroid table.
    */
  private def duckIvfTrained(iters: Int, m: Int, nprobe: Int, k: Int, nQueries: Int): String =
    s"""WITH ${duckKmeansCtes(iters, m)},
       |asgf AS (
       |  SELECT n.vec_id, c.cid, n.q, n.nrm,
       |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |      CAST(CAST(list_sum(list_transform(list_zip(n.q, c.cq), p -> p[1] * p[2])) AS BIGINT) AS DOUBLE)
       |        / (sqrt(CAST(n.nrm AS DOUBLE)) * sqrt(CAST(c.cnrm AS DOUBLE))) DESC, c.cid) AS crn
       |  FROM n CROSS JOIN centv$iters c),
       |corpus AS (SELECT vec_id AS n_id, cid FROM asgf WHERE crn = 1),
       |qs AS (SELECT vec_id AS q_id, cid FROM asgf WHERE crn <= $nprobe AND vec_id < $nQueries),
       |cand AS (
       |  SELECT DISTINCT q_id, n_id FROM qs JOIN corpus USING (cid) WHERE q_id <> n_id),
       |scored AS (
       |  SELECT cand.q_id, cand.n_id, $duckSimExpr AS sim
       |  FROM cand JOIN n a ON a.vec_id = cand.q_id JOIN n b ON b.vec_id = cand.n_id),
       |ranked AS (
       |  SELECT q_id, n_id, sim,
       |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank
       |  FROM scored)
       |SELECT q_id, n_id, rank, sim FROM ranked WHERE rank <= $k ORDER BY q_id, rank""".stripMargin

  /** Recall-curve oracle CTE chain (ends with `curve` — no final
    * SELECT, so the curve gate, the probe select, and the chosen-nprobe
    * apply all replay the SAME chain): the kmeans chain once, the final
    * assignment once, then per-setting candidate/rank blocks sliced
    * from the same relations — an independent recomputation of every
    * curve point.
    */
  private def duckRecallCurveCtes(
      iters: Int, m: Int, bits: Int, k: Int, nQueries: Int,
      ivfProbes: Seq[Int], mpProbes: Seq[Int]): String = {
    val bucket = Dedup.duckHyperplaneBucket("q", bits)
    val sb = new StringBuilder
    sb ++= s"${duckKmeansCtes(iters, m)},\n"
    sb ++=
      s"""asgf AS (
         |  SELECT n.vec_id, c.cid, n.q, n.nrm,
         |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
         |      CAST(CAST(list_sum(list_transform(list_zip(n.q, c.cq), p -> p[1] * p[2])) AS BIGINT) AS DOUBLE)
         |        / (sqrt(CAST(n.nrm AS DOUBLE)) * sqrt(CAST(c.cnrm AS DOUBLE))) DESC, c.cid) AS crn
         |  FROM n CROSS JOIN centv$iters c),
         |corpus AS (SELECT vec_id AS n_id, cid FROM asgf WHERE crn = 1),
         |tr AS (
         |  SELECT a.vec_id AS q_id, b.vec_id AS n_id,
         |    row_number() OVER (PARTITION BY a.vec_id ORDER BY $duckSimExpr DESC, b.vec_id) AS rank
         |  FROM n a JOIN n b ON a.vec_id <> b.vec_id WHERE a.vec_id < $nQueries),
         |truth AS (SELECT q_id, n_id FROM tr WHERE rank <= $k),
         |ntruth AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
         |nb AS (SELECT vec_id, q, nrm, $bucket AS bucket FROM ($duckNorm)),
         |""".stripMargin
    val apprNames = scala.collection.mutable.ListBuffer.empty[String]
    for (np <- ivfProbes) {
      apprNames += s"appr_ivf_$np"
      sb ++=
        s"""qs_$np AS (SELECT vec_id AS q_id, cid FROM asgf WHERE crn <= $np AND vec_id < $nQueries),
           |cand_ivf_$np AS (
           |  SELECT DISTINCT q_id, n_id FROM qs_$np JOIN corpus USING (cid) WHERE q_id <> n_id),
           |scored_ivf_$np AS (
           |  SELECT c.q_id, c.n_id, $duckSimExpr AS sim
           |  FROM cand_ivf_$np c JOIN n a ON a.vec_id = c.q_id JOIN n b ON b.vec_id = c.n_id),
           |appr_ivf_$np AS (
           |  SELECT 'ivf_trained' AS method, CAST($np AS BIGINT) AS param, q_id, n_id FROM (
           |    SELECT q_id, n_id,
           |      row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank
           |    FROM scored_ivf_$np) WHERE rank <= $k),
           |""".stripMargin
    }
    for (p <- mpProbes) {
      apprNames += s"appr_mp_$p"
      sb ++=
        s"""probes_$p AS (
           |  SELECT vec_id,
           |    CASE WHEN f = 0 THEN bucket
           |         ELSE substr(bucket, 1, f - 1)
           |           || (CASE WHEN substr(bucket, f, 1) = '1' THEN '0' ELSE '1' END)
           |           || substr(bucket, f + 1, $bits - f)
           |    END AS bucket
           |  FROM nb, (SELECT unnest(generate_series(0, ${p - 1})) AS f) flips
           |  WHERE vec_id < $nQueries),
           |cand_mp_$p AS (
           |  SELECT DISTINCT pr.vec_id AS q_id, b.vec_id AS n_id
           |  FROM probes_$p pr JOIN nb b ON pr.bucket = b.bucket AND pr.vec_id <> b.vec_id),
           |scored_mp_$p AS (
           |  SELECT c.q_id, c.n_id, $duckSimExpr AS sim
           |  FROM cand_mp_$p c JOIN n a ON a.vec_id = c.q_id JOIN n b ON b.vec_id = c.n_id),
           |appr_mp_$p AS (
           |  SELECT 'lsh_multiprobe' AS method, CAST($p AS BIGINT) AS param, q_id, n_id FROM (
           |    SELECT q_id, n_id,
           |      row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank
           |    FROM scored_mp_$p) WHERE rank <= $k),
           |""".stripMargin
    }
    val settingsValues =
      (ivfProbes.map(np => s"('ivf_trained', CAST($np AS BIGINT))") ++
        mpProbes.map(p => s"('lsh_multiprobe', CAST($p AS BIGINT))")).mkString(", ")
    sb ++=
      s"""appr AS (${apprNames.map(nm => s"SELECT * FROM $nm").mkString(" UNION ALL ")}),
         |hits AS (
         |  SELECT method, param, CAST(count(*) AS BIGINT) AS n_hits
         |  FROM appr JOIN truth USING (q_id, n_id) GROUP BY 1, 2),
         |settings AS (SELECT * FROM (VALUES $settingsValues) AS t(method, param)),
         |curve AS (SELECT s.method, s.param,
         |  coalesce(h.n_hits, 0) AS n_hits, nt.n_truth,
         |  (1000 * coalesce(h.n_hits, 0)) // greatest(nt.n_truth, 1) AS recall_permille,
         |  CAST(coalesce(h.n_hits, 0) AS DOUBLE)
         |    / CAST(greatest(nt.n_truth, 1) AS DOUBLE) AS recall
         |FROM settings s CROSS JOIN ntruth nt
         |LEFT JOIN hits h ON h.method = s.method AND h.param = s.param)""".stripMargin
    sb.toString
  }

  /** The floor + per-method argmin CTEs over `curve` — the oracle half
    * of the probe-setting decision rule ([[withAnnMeetsFloor]] /
    * [[annProbeSelect]]'s window), appended to [[duckRecallCurveCtes]]
    * by the select and chosen-nprobe oracles so engine and oracle
    * provably share one rule.
    */
  private def duckProbeFloorCtes(floorPermille: Long): String =
    s"""fl AS (SELECT *,
       |  CAST(CASE WHEN recall_permille >= $floorPermille THEN 1 ELSE 0 END AS BIGINT)
       |    AS meets_floor FROM curve),
       |flr AS (SELECT *, row_number() OVER (PARTITION BY method ORDER BY
       |    meets_floor DESC,
       |    CASE WHEN meets_floor = 1 THEN param ELSE -recall_permille END,
       |    param) AS rn FROM fl)""".stripMargin

  /** Per-dimension corpus statistics over the quantized embeddings —
    * the whitening/normalization pre-pass (mean-center, variance-scale)
    * an ANN index build runs first at 100 TB. posexplode fans each
    * vector into (dim, value) pairs, but partial aggregation combines
    * map-side, so the exchange carries |dims| rows per task, never the
    * corpus. Exact integer sums over the floor(x*1000) quantization →
    * bit-identical in DuckDB.
    */
  def dimStats(embeddings: DataFrame): DataFrame =
    Dedup.quantized(embeddings)
      .select(posexplode(col("q")).as(Seq("dim", "v")))
      .groupBy("dim")
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("v")).as("sum_q"),
        sum(col("v") * col("v")).as("sum_q2"),
        min(col("v")).as("min_q"),
        max(col("v")).as("max_q"))
      .select(
        col("dim").cast("long").as("dim"), col("cnt"),
        col("sum_q"), col("sum_q2"), col("min_q"), col("max_q"))

  /** Pairwise centroid L1 distance between label cohorts, exact in
    * milli-units — the embedding-space companion of the length-bin
    * drift audit ([[graft.curation.Drift]]): did a cohort's (or a new
    * snapshot's) embedding mass move? Means never materialize as
    * floats: |μ_a − μ_b| per dim is the exact rational
    * |sum_a·n_b − sum_b·n_a| / (n_a·n_b) over the quantized milli
    * lane, summed over dims BEFORE the one integer division.
    *
    * Scale: one corpus pass collapses to (label, dim) partial+final
    * sums — ≤ |labels|·64 rows cross the exchange — and the pairing
    * self-join runs at that collapsed cardinality, never on vectors.
    * The cross-multiplied numerator stays in int64 up to ~10⁷ vectors
    * per cohort at milli scale; past that the centroid lane widens to
    * DECIMAL (same plan shape, Spark sums decimals exactly).
    */
  def centroidShift(embeddings: DataFrame): DataFrame = {
    // quantize inline with the label carried: one scan, no vec_id
    // join back (Dedup.quantized projects the label away)
    val byLabelDim = embeddings
      .select(col("label"), expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))").as("q"))
      .select(col("label"), posexplode(col("q")).as(Seq("dim", "v")))
      .groupBy("label", "dim")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
    val a = byLabelDim.select(
      col("label").as("label_a"), col("dim"), col("n").as("n_a"), col("s").as("s_a"))
    val b = byLabelDim.select(
      col("label").as("label_b"), col("dim"), col("n").as("n_b"), col("s").as("s_b"))
    a.join(b, Seq("dim")).where(col("label_a") < col("label_b"))
      .groupBy("label_a", "label_b")
      .agg(
        min(col("n_a")).as("n_a"),
        min(col("n_b")).as("n_b"),
        sum(abs(col("s_a") * col("n_b") - col("s_b") * col("n_a"))).as("absdiff"))
      .select(
        col("label_a").cast("long").as("label_a"),
        col("label_b").cast("long").as("label_b"),
        col("n_a"), col("n_b"),
        expr("absdiff div (n_a * n_b)").as("l1_milli"))
  }

  /** Upper-triangle Gram matrix G = Σ q·qᵀ over the quantized corpus —
    * the one-pass building block of PCA/whitening/covariance
    * (G/n − μμᵀ) in distributed linear algebra. Each vector generates
    * its dim·(dim+1)/2 upper-triangle products inside a codegen'd
    * generate (no join, no second scan), and the (i,j)-keyed partial
    * aggregation combines map-side, so the exchange carries at most
    * 2080 rows per task regardless of corpus size. Exact BIGINT
    * products of quantized components — bit-identical in DuckDB.
    */
  def gramMatrixUpper(embeddings: DataFrame): DataFrame =
    Dedup.quantized(embeddings)
      .select(explode(expr(
        s"""flatten(transform(sequence(0, ${Dedup.Dim - 1}),
           |  i -> transform(sequence(i, ${Dedup.Dim - 1}),
           |    j -> named_struct('i', i, 'j', j, 'p', q[i] * q[j]))))""".stripMargin))
        .as("c"))
      .groupBy(col("c.i").cast("long").as("i"), col("c.j").cast("long").as("j"))
      .agg(sum(col("c.p")).as("s"))

  /** Top principal direction by POWER ITERATION over the Gram matrix —
    * the PCA step on top of [[gramMatrixUpper]]. The corpus pays
    * exactly one pass (the Gram generate+aggregate); every iteration
    * after that runs at MATRIX cardinality (64×64 rows joined against
    * a broadcast 64-row vector), so iterating is free at 100 TB — the
    * classic "collapse to sufficient statistics, then iterate on the
    * tiny relation" shape, kept fully declarative (no driver-side
    * linear algebra). Determinism across engines: each step rescales
    * by `abs(u) div (max|u| div 1000 + 1)` — division on the ABSOLUTE
    * value with the sign reapplied outside, because Spark's `div`
    * truncates toward zero while DuckDB's `//` floors (they differ on
    * negatives); the divisor form also keeps `abs(u)·1` in range with
    * no ·1000 blow-up, overflow-safe through sf100.
    */
  def gramPowerIteration(embeddings: DataFrame, iters: Int = 3): DataFrame = {
    val spark = embeddings.sparkSession
    // the Gram pass is the only corpus-scale work and SEVEN subtrees
    // consume it (two mirror branches × three iterations + the final);
    // without the checkpoint each re-runs the generate+aggregate (the
    // dumped plan had 6 embeddings scans) — materialize the 2080-row
    // statistic once, iterations scan executor-local blocks
    val gU = gramMatrixUpper(embeddings).localCheckpoint()
    val g = gU.union(gU.where(col("i") =!= col("j"))
      .select(col("j").as("i"), col("i").as("j"), col("s")))
    val v0 = spark.range(Dedup.Dim.toLong)
      .select(col("id").as("dim"), lit(1000L).as("v"))
    (1 to iters).foldLeft(v0) { (v, _) =>
      g.join(broadcast(v), g("j") === v("dim"))
        .groupBy(g("i")).agg(sum(col("s") * col("v")).as("u"))
        .select(col("i").as("dim"), col("u"))
        .withColumn("m", expr("max(abs(u)) OVER ()"))
        .select(col("dim"),
          expr("(CASE WHEN u < 0 THEN -1 ELSE 1 END) * (abs(u) div (m div 1000 + 1))")
            .cast("long").as("v"))
    }
  }

  /** Per-label centroid silhouette — the cluster-quality audit for a
    * labeled/clustered embedding corpus (is the labeling geometrically
    * coherent, or should the mixture/clustering step re-run?). The
    * simplified (centroid) silhouette of Hruschka et al.: per vector,
    * s = (d_other − d_own) / max(d_own, d_other) with d = SQUARED
    * distance to the truncated-integer label centroids — O(N·L)
    * instead of exact silhouette's O(N²) pairwise distances, the only
    * formulation that scales.
    *
    * INTEGER-EXACT: quantized vectors (×1000 floor), centroids as
    * floor(sum/n) per dim (the [[rebuildCentroids]] portability rule —
    * floor of one IEEE double division), distances via the codegen'd
    * dot_i64 identity d² = |x|² − 2x·c + |c|², and the silhouette
    * ratio as sign-ruled integer ppm. The per-label mean's numerator
    * runs in DECIMAL(38,0) (|Σ sil| ≤ 10⁶·N wraps int64 at ~10¹² rows).
    *
    * Scale: one (label, dim) aggregation (map-side combined) builds
    * the ≤|labels|·D centroid relation; the corpus meets it ONCE via a
    * broadcast cross (L rows per vector, a map-stage fan-out), and the
    * per-vector min over other labels collapses in the same vec-keyed
    * aggregate — nothing quadratic in N anywhere.
    */
  def centroidSilhouette(embeddings: DataFrame): DataFrame = {
    // label carried through the quantization projection — joining the
    // Dedup.quantized view back on vec_id would self-join the table
    val q = embeddings.select(
        col("vec_id"), col("label").cast("long").as("label"),
        expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))").as("q"))
      .withColumn("nrm", expr("dot_i64(q, q)"))
    val cents = q
      .select(col("label"), posexplode(col("q")).as(Seq("dim", "v")))
      .groupBy("label", "dim")
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .withColumn("cv", floor(col("s").cast("double") / col("n").cast("double")).cast("long"))
      .groupBy("label")
      .agg(sort_array(collect_list(struct(col("dim"), col("cv")))).as("pairs"))
      .select(col("label").as("clabel"), transform(col("pairs"), p => p.getField("cv")).as("cq"))
      .withColumn("cnrm", expr("aggregate(cq, CAST(0 AS BIGINT), (acc, x) -> acc + x * x)"))
    val d2 = q.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("label"), col("clabel"),
        (col("nrm") - lit(2L) * expr("dot_i64(q, cq)") + col("cnrm")).as("d2"))
    // own and other distances fold in ONE vec-keyed aggregate (an
    // own/other split-and-rejoin would re-run the distance fan-out)
    d2.groupBy("vec_id")
      .agg(
        max(col("label")).as("label"), // constant per vec
        max(when(col("label") === col("clabel"), col("d2"))).as("d_own"),
        min(when(col("label") =!= col("clabel"), col("d2"))).as("d_other"))
      // single-label degenerate input: no other centroid exists, so the
      // silhouette is undefined — drop, matching the oracle's inner join
      .where(col("d_other").isNotNull)
      .select(col("label"),
        (when(col("d_other") >= col("d_own"), 1L).otherwise(-1L) *
          expr("(1000000 * abs(d_other - d_own)) div greatest(greatest(d_own, d_other), 1)"))
          .as("sil"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("sil").cast("decimal(38,0)")).as("silsum"))
      .select(col("label"), col("n_vecs"),
        expr("""(CASE WHEN silsum >= 0 THEN 1 ELSE -1 END)
          |* (abs(silsum) div greatest(n_vecs, 1))""".stripMargin)
          .cast("long").as("mean_sil_ppm"))
  }

  private val DuckSilhouette =
    """WITH qx AS (
      |  SELECT vec_id, CAST(label AS BIGINT) AS label,
      |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
      |  FROM embeddings),
      |e AS (SELECT vec_id, label, t.i AS dim, q[t.i + 1] AS v FROM qx, range(64) t(i)),
      |cd AS (SELECT label, dim,
      |    CAST(floor(CAST(sum(v) AS DOUBLE) / count(DISTINCT vec_id)) AS BIGINT) AS cv
      |  FROM e GROUP BY label, dim),
      |d AS (
      |  SELECT e.vec_id, e.label, cd.label AS clabel,
      |    CAST(sum((e.v - cd.cv) * (e.v - cd.cv)) AS BIGINT) AS d2
      |  FROM e JOIN cd ON e.dim = cd.dim GROUP BY 1, 2, 3),
      |own AS (SELECT vec_id, label, d2 AS d_own FROM d WHERE label = clabel),
      |oth AS (SELECT vec_id, CAST(min(d2) AS BIGINT) AS d_other
      |        FROM d WHERE label <> clabel GROUP BY 1),
      |s AS (
      |  SELECT o.label,
      |    (CASE WHEN x.d_other >= o.d_own THEN 1 ELSE -1 END)
      |      * ((1000000 * abs(x.d_other - o.d_own))
      |         // greatest(greatest(o.d_own, x.d_other), 1)) AS sil
      |  FROM own o JOIN oth x USING (vec_id))
      |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
      |  CAST((CASE WHEN sum(sil) >= 0 THEN 1 ELSE -1 END)
      |    * (abs(CAST(sum(sil) AS HUGEINT)) // greatest(count(*), 1)) AS BIGINT) AS mean_sil_ppm
      |FROM s GROUP BY label ORDER BY label""".stripMargin

  def engineQueries: Seq[EngineQuery] = Seq(
    EngineQuery(
      "embedding_silhouette",
      (s, dir) => centroidSilhouette(Tables.embeddings(s, dir)).orderBy("label"),
      Some(DuckSilhouette),
    ),
    EngineQuery(
      "gram_power_iteration",
      (s, dir) => gramPowerIteration(Tables.embeddings(s, dir)).orderBy("dim"),
      Some("""WITH qx AS (
             |  SELECT list_transform(embedding,
             |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
             |  FROM embeddings),
             |gu AS (
             |  SELECT CAST(g1.i AS BIGINT) AS i, CAST(g2.j AS BIGINT) AS j,
             |    CAST(sum(q[CAST(g1.i AS INT) + 1] * q[CAST(g2.j AS INT) + 1]) AS BIGINT) AS s
             |  FROM qx, range(64) g1(i), range(64) g2(j)
             |  WHERE g2.j >= g1.i GROUP BY 1, 2),
             |g AS (SELECT i, j, s FROM gu
             |  UNION ALL SELECT j AS i, i AS j, s FROM gu WHERE i <> j),
             |v0 AS (SELECT CAST(t.i AS BIGINT) AS dim, CAST(1000 AS BIGINT) AS v
             |  FROM range(64) t(i)),
             |u1 AS (SELECT g.i AS dim, CAST(sum(g.s * v.v) AS BIGINT) AS u
             |  FROM g JOIN v0 v ON g.j = v.dim GROUP BY 1),
             |v1 AS (SELECT dim, CAST((CASE WHEN u < 0 THEN -1 ELSE 1 END)
             |  * (abs(u) // ((SELECT max(abs(u)) FROM u1) // 1000 + 1)) AS BIGINT) AS v
             |  FROM u1),
             |u2 AS (SELECT g.i AS dim, CAST(sum(g.s * v.v) AS BIGINT) AS u
             |  FROM g JOIN v1 v ON g.j = v.dim GROUP BY 1),
             |v2 AS (SELECT dim, CAST((CASE WHEN u < 0 THEN -1 ELSE 1 END)
             |  * (abs(u) // ((SELECT max(abs(u)) FROM u2) // 1000 + 1)) AS BIGINT) AS v
             |  FROM u2),
             |u3 AS (SELECT g.i AS dim, CAST(sum(g.s * v.v) AS BIGINT) AS u
             |  FROM g JOIN v2 v ON g.j = v.dim GROUP BY 1),
             |v3 AS (SELECT dim, CAST((CASE WHEN u < 0 THEN -1 ELSE 1 END)
             |  * (abs(u) // ((SELECT max(abs(u)) FROM u3) // 1000 + 1)) AS BIGINT) AS v
             |  FROM u3)
             |SELECT dim, v FROM v3 ORDER BY dim""".stripMargin),
    ),
    EngineQuery(
      "embedding_gram_upper",
      (s, dir) => gramMatrixUpper(Tables.embeddings(s, dir)).orderBy("i", "j"),
      Some("""WITH qx AS (
             |  SELECT list_transform(embedding,
             |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
             |  FROM embeddings)
             |SELECT CAST(g1.i AS BIGINT) AS i, CAST(g2.j AS BIGINT) AS j,
             |  CAST(sum(q[CAST(g1.i AS INT) + 1] * q[CAST(g2.j AS INT) + 1]) AS BIGINT) AS s
             |FROM qx, range(64) g1(i), range(64) g2(j)
             |WHERE g2.j >= g1.i GROUP BY 1, 2 ORDER BY i, j""".stripMargin),
    ),
    EngineQuery(
      "embedding_centroid_shift",
      (s, dir) => centroidShift(Tables.embeddings(s, dir)).orderBy("label_a", "label_b"),
      Some("""WITH e AS (
             |  SELECT CAST(label AS BIGINT) AS label, t.i AS dim,
             |    CAST(floor(CAST(embedding[t.i + 1] AS DOUBLE) * 1000) AS BIGINT) AS v
             |  FROM embeddings, range(64) t(i)),
             |g AS (SELECT label, dim, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(v) AS BIGINT) AS s FROM e GROUP BY 1, 2)
             |SELECT a.label AS label_a, b.label AS label_b,
             |  min(a.n) AS n_a, min(b.n) AS n_b,
             |  CAST(CAST(sum(abs(a.s * b.n - b.s * a.n)) AS BIGINT)
             |    // (min(a.n) * min(b.n)) AS BIGINT) AS l1_milli
             |FROM g a JOIN g b ON a.dim = b.dim AND a.label < b.label
             |GROUP BY 1, 2 ORDER BY label_a, label_b""".stripMargin),
    ),
    EngineQuery(
      "embedding_dim_stats",
      (s, dir) => dimStats(Tables.embeddings(s, dir)).orderBy("dim"),
      Some("""WITH e AS (
             |  SELECT t.i AS dim,
             |    CAST(floor(CAST(embedding[t.i + 1] AS DOUBLE) * 1000) AS BIGINT) AS q
             |  FROM embeddings, range(64) t(i))
             |SELECT CAST(dim AS BIGINT) AS dim, count(*) AS cnt,
             |  CAST(sum(q) AS BIGINT) AS sum_q, CAST(sum(q*q) AS BIGINT) AS sum_q2,
             |  min(q) AS min_q, max(q) AS max_q
             |FROM e GROUP BY dim ORDER BY dim""".stripMargin),
      headline = true,
    ),
    EngineQuery(
      "ann_brute_topk",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        bruteForceTopK(emb, emb.where(col("vec_id") < 10), 5)
          .orderBy("q_id", "rank")
      },
      Some(
        s"""WITH n AS ($duckNorm),
           |scored AS (
           |  SELECT a.vec_id AS q_id, b.vec_id AS n_id, $duckSimExpr AS sim
           |  FROM n a JOIN n b ON a.vec_id <> b.vec_id WHERE a.vec_id < 10),
           |ranked AS (
           |  SELECT q_id, n_id, sim,
           |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank
           |  FROM scored)
           |SELECT q_id, n_id, rank, sim FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin),
      headline = true,
    ),
    EngineQuery(
      "ann_lsh_topk",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        lshTopK(emb, emb.where(col("vec_id") < 50), 3)
          .orderBy("q_id", "rank")
      },
      Some {
        val bucket = Dedup.duckHyperplaneBucket("q", 8)
        s"""WITH n AS (SELECT vec_id, q, nrm, $bucket AS bucket FROM ($duckNorm)),
           |scored AS (
           |  SELECT a.vec_id AS q_id, b.vec_id AS n_id, $duckSimExpr AS sim
           |  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
           |  WHERE a.vec_id < 50),
           |ranked AS (
           |  SELECT q_id, n_id, sim,
           |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank
           |  FROM scored)
           |SELECT q_id, n_id, rank, sim FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin
      },
    ),
    EngineQuery(
      "ann_ivf_topk",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        ivfTopK(emb, emb.where(col("vec_id") < 50), 3)
          .orderBy("q_id", "rank")
      },
      Some(
        s"""WITH n AS ($duckNorm),
           |c AS (SELECT vec_id AS cid, q AS cq, nrm AS cnrm FROM n WHERE vec_id < 16),
           |asg AS (
           |  SELECT n.vec_id, c.cid, n.q, n.nrm,
           |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
           |      CAST(CAST(list_sum(list_transform(list_zip(n.q, c.cq), p -> p[1] * p[2])) AS BIGINT) AS DOUBLE)
           |        / (sqrt(CAST(n.nrm AS DOUBLE)) * sqrt(CAST(c.cnrm AS DOUBLE))) DESC, c.cid) AS crn
           |  FROM n CROSS JOIN c),
           |corpus AS (SELECT vec_id AS n_id, cid, q, nrm FROM asg WHERE crn = 1),
           |qs AS (SELECT vec_id AS q_id, cid, q, nrm FROM asg WHERE crn <= 2 AND vec_id < 50),
           |cand AS (
           |  SELECT DISTINCT q_id, n_id FROM qs JOIN corpus USING (cid) WHERE q_id <> n_id),
           |scored AS (
           |  SELECT cand.q_id, cand.n_id, $duckSimExpr AS sim
           |  FROM cand JOIN n a ON a.vec_id = cand.q_id JOIN n b ON b.vec_id = cand.n_id),
           |ranked AS (
           |  SELECT q_id, n_id, sim,
           |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank
           |  FROM scored)
           |SELECT q_id, n_id, rank, sim FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin),
    ),
    EngineQuery(
      "ann_lsh_multiprobe",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        lshTopKMultiProbe(emb, emb.where(col("vec_id") < 50), 3)
          .orderBy("q_id", "rank")
      },
      Some {
        val bucket = Dedup.duckHyperplaneBucket("q", 8)
        s"""WITH n AS (SELECT vec_id, q, nrm, $bucket AS bucket FROM ($duckNorm)),
           |probes AS (
           |  SELECT vec_id,
           |    CASE WHEN f = 0 THEN bucket
           |         ELSE substr(bucket, 1, f - 1)
           |           || (CASE WHEN substr(bucket, f, 1) = '1' THEN '0' ELSE '1' END)
           |           || substr(bucket, f + 1, 8 - f)
           |    END AS bucket
           |  FROM n, (SELECT unnest(generate_series(0, 8)) AS f) flips
           |  WHERE vec_id < 50),
           |cand AS (
           |  SELECT DISTINCT p.vec_id AS q_id, b.vec_id AS n_id
           |  FROM probes p JOIN n b ON p.bucket = b.bucket AND p.vec_id <> b.vec_id),
           |scored AS (
           |  SELECT c.q_id, c.n_id, $duckSimExpr AS sim
           |  FROM cand c JOIN n a ON a.vec_id = c.q_id JOIN n b ON b.vec_id = c.n_id),
           |ranked AS (
           |  SELECT q_id, n_id, sim,
           |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank
           |  FROM scored)
           |SELECT q_id, n_id, rank, sim FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin
      },
      headline = true,
    ),
    EngineQuery(
      "kmeans_step",
      (s, dir) => kmeansStep(Tables.embeddings(s, dir)).orderBy("cid", "dim"),
      Some(
        s"""WITH n AS ($duckNorm),
           |c AS (SELECT vec_id AS cid, q AS cq, nrm AS cnrm FROM n WHERE vec_id < 16),
           |asg AS (
           |  SELECT n.vec_id, c.cid, n.q,
           |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
           |      CAST(CAST(list_sum(list_transform(list_zip(n.q, c.cq), p -> p[1] * p[2])) AS BIGINT) AS DOUBLE)
           |        / (sqrt(CAST(n.nrm AS DOUBLE)) * sqrt(CAST(c.cnrm AS DOUBLE))) DESC, c.cid) AS crn
           |  FROM n CROSS JOIN c),
           |members AS (SELECT cid, q FROM asg WHERE crn = 1),
           |dims AS (
           |  SELECT cid, CAST(i - 1 AS BIGINT) AS dim, q[CAST(i AS INT)] AS v
           |  FROM (SELECT cid, q, unnest(generate_series(1, ${Dedup.Dim})) AS i FROM members))
           |SELECT cid, dim, count(*) AS n_members, CAST(sum(v) AS BIGINT) AS sum_q,
           |  CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_q
           |FROM dims GROUP BY cid, dim ORDER BY cid, dim""".stripMargin),
      headline = true,
    ),
    EngineQuery(
      "kmeans_converged",
      (s, dir) =>
        kmeansConverged(Tables.embeddings(s, dir), m = 16, maxIter = 3)
          .orderBy("cid", "dim"),
      Some(duckKmeans(iters = 3, m = 16)),
      headline = true,
    ),
    // Train + index + search composed: IVF over k-means-trained
    // centroids (vs ann_ivf_topk's deterministic seed centroids).
    EngineQuery(
      "ann_ivf_trained_topk",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        ivfTrainedTopK(emb, emb.where(col("vec_id") < 50), k = 3)
          .orderBy("q_id", "rank")
      },
      Some(duckIvfTrained(iters = 3, m = 16, nprobe = 2, k = 3, nQueries = 50)),
    ),
    // Persistence round-trip: probe the RELOADED centroid artifact —
    // must equal the in-process trained search (same oracle).
    EngineQuery(
      "ann_ivf_from_saved",
      (s, dir) => ivfTopKFromSaved(s, dir, k = 3).orderBy("q_id", "rank"),
      Some(duckIvfTrained(iters = 3, m = 16, nprobe = 2, k = 3, nQueries = 50)),
      headline = true,
      setup = Some((s, dir) => trainAndSaveIvf(s, dir)),
    ),
    // Persistence × streaming for the index itself (r16): a streaming
    // embedding batch bucketed into the RELOADED centroid artifact
    // inside foreachBatch must equal the batch corpus assignment —
    // the oracle replays train + nearest-centroid assignment in SQL.
    EngineQuery(
      "streaming_ann_ivf_ingest",
      (s, dir) => ivfStreamingIngestFromSaved(s, dir).orderBy("vec_id"),
      Some(s"""WITH ${duckKmeansCtes(iters = 3, m = 16)},
             |asgf AS (
             |  SELECT n.vec_id, c.cid,
             |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
             |      CAST(CAST(list_sum(list_transform(list_zip(n.q, c.cq), p -> p[1] * p[2])) AS BIGINT) AS DOUBLE)
             |        / (sqrt(CAST(n.nrm AS DOUBLE)) * sqrt(CAST(c.cnrm AS DOUBLE))) DESC, c.cid) AS crn
             |  FROM n CROSS JOIN centv3 c)
             |SELECT vec_id, cid FROM asgf WHERE crn = 1 ORDER BY vec_id""".stripMargin),
    ),
    // nprobe/probe-count → recall@k calibration vs the exact top-k
    // (r13 verdict item 4): the oracle recomputes every curve point.
    EngineQuery(
      "ann_recall_curve",
      // bits=4 for the multi-probe points: at the gate corpus's scale
      // the 8-bit buckets are so selective that every probe count reads
      // recall 0 — a flat curve calibrates nothing; 4-bit buckets put
      // the knee inside the probed range (the production move is the
      // same: pick bits so nprobe/probes trades recall for candidates).
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        annRecallCurve(emb, emb.where(col("vec_id") < 10), k = 5,
          mpProbes = Seq(1, 3, 5), bits = 4)
          .orderBy("method", "param")
      },
      // Concatenated, never interpolated-then-stripMargin'd (the duckC4
      // precaution): the curve chain contains `||` SQL concat lines a
      // later stripMargin would mangle.
      Some("WITH " + gateCurveCtes +
        "\nSELECT method, param, n_hits, n_truth, recall_permille, recall" +
        "\nFROM curve ORDER BY method, param"),
    ),
    // The decision rule over the curve (see annProbeSelect): oracle
    // replays the identical per-method argmin window over the same
    // curve CTE chain.
    EngineQuery(
      "ann_probe_select",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        annProbeSelect(emb, emb.where(col("vec_id") < 10), k = 5,
          mpProbes = Seq(1, 3, 5), bits = 4)
          .orderBy("method", "param")
      },
      Some("WITH " + gateCurveCtes + ",\n" +
        duckProbeFloorCtes(DefaultAnnRecallFloorPermille) +
        "\nSELECT method, param, n_hits, n_truth, recall_permille, recall," +
        "\n  meets_floor, CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS BIGINT) AS chosen" +
        "\nFROM flr ORDER BY method, param"),
      // Gate-only like the curve it consumes — the truth half is the cost.
    ),
    // Choose→APPLY (r19): the IVF search under the nprobe the select
    // chose. The oracle replays the curve, the argmin, AND the search
    // from the SAME CTE chain — the searched candidate relation is the
    // final assignment sliced at the chosen rank, so engine and oracle
    // provably apply the same measured decision.
    EngineQuery(
      "ann_ivf_chosen_nprobe",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        annIvfChosenNprobe(emb, emb.where(col("vec_id") < 10), k = 5, bits = 4)
          .orderBy("q_id", "rank")
      },
      Some("WITH " + gateCurveCtes + ",\n" +
        duckProbeFloorCtes(DefaultAnnRecallFloorPermille) + ",\n" +
        """best_np AS (SELECT param FROM flr WHERE method = 'ivf_trained' AND rn = 1),
          |qs_best AS (SELECT vec_id AS q_id, cid FROM asgf
          |  WHERE crn <= (SELECT param FROM best_np) AND vec_id < 10),
          |cand_best AS (
          |  SELECT DISTINCT q_id, n_id FROM qs_best JOIN corpus USING (cid) WHERE q_id <> n_id),
          |scored_best AS (""".stripMargin +
        s"\n  SELECT c.q_id, c.n_id, $duckSimExpr AS sim" +
        """
          |  FROM cand_best c JOIN n a ON a.vec_id = c.q_id JOIN n b ON b.vec_id = c.n_id),
          |ranked_best AS (
          |  SELECT q_id, n_id, sim,
          |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank
          |  FROM scored_best)
          |SELECT q_id, n_id, rank, sim FROM ranked_best WHERE rank <= 5
          |ORDER BY q_id, rank""".stripMargin),
      // Gate-only: the truth half is the cost, exactly as the curve.
    ),
  )

  /** The one gate-parameterized curve chain all three curve-family
    * oracles replay (iters=3, m=16, bits=4, k=5, 10 queries — the
    * ann_recall_curve gate's bounds).
    */
  private def gateCurveCtes: String = duckRecallCurveCtes(
    iters = 3, m = 16, bits = 4, k = 5, nQueries = 10,
    ivfProbes = Seq(1, 2, 4), mpProbes = Seq(1, 3, 5))
}
