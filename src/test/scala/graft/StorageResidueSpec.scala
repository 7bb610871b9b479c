package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Pins the checkpoint-release invariant of the iterative driver loops
  * (connected components, Lloyd): every intermediate iteration's
  * eager-local-checkpoint blocks must be freed as the loop advances —
  * only the RESULT may stay pinned when the loop returns. The leak
  * class this guards against: one label-table/centroid checkpoint left
  * behind per iteration crowds the storage pool for the rest of the
  * session and degrades every query that runs after (the regression
  * cluster BenchTrendSpec catches by symptom; this spec pins the
  * cause at its source, [[Checkpoints.localEager]]'s release handle).
  */
class StorageResidueSpec extends AnyFunSuite with Matchers {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def cachedRdds(): Int =
    spark.sparkContext.getRDDStorageInfo.count(_.numCachedPartitions > 0)

  /** Block removal is asynchronous (`unpersist(blocking = false)`), so
    * give stragglers a bounded grace period before reading the residue.
    */
  private def settledResidue(atMost: Int): Int = {
    var waits = 50
    while (cachedRdds() > atMost && waits > 0) { Thread.sleep(100); waits -= 1 }
    cachedRdds()
  }

  private def benchStyleCleanup(): Unit = GraftSession.releaseStorage(spark)

  test("connectedComponents: a 12-iteration chain leaves at most the result's own blocks") {
    benchStyleCleanup()
    settledResidue(0) shouldBe 0
    // 0-1-...-12 chain: min-label propagation crosses one hop per
    // iteration, so this runs >= 12 checkpointed iterations — without
    // the per-iteration release, >= 12 label tables would stay pinned.
    val chain = (0L until 12L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = graft.dedup.Dedup.connectedComponents(chain, maxIter = 20)
    labels.collect().length shouldBe 13
    settledResidue(1) should be <= 1
    benchStyleCleanup()
    settledResidue(0) shouldBe 0
  }

  test("kmeansConverged: multi-iteration Lloyd leaves at most the result matrix's blocks") {
    benchStyleCleanup()
    settledResidue(0) shouldBe 0
    val clusterA = Seq(0L, 2L, 4L, 6L).map(id => (id, Array(1.0f, 0.9f, 0.05f, 0.0f + id * 0.001f)))
    val clusterB = Seq(1L, 3L, 5L, 7L).map(id => (id, Array(0.0f, 0.05f, 0.9f, 1.0f + id * 0.001f)))
    val embeddings = (clusterA ++ clusterB).toDF("vec_id", "embedding")
    val matrix = graft.similarity.Ann.kmeansConverged(embeddings, m = 2, maxIter = 5)
    matrix.collect().length should be > 0
    settledResidue(1) should be <= 1
    benchStyleCleanup()
    settledResidue(0) shouldBe 0
  }

  test("bpeLearnMerges: the 8-step merge loop frees every iteration's vocabulary") {
    benchStyleCleanup()
    settledResidue(0) shouldBe 0
    // distinct multi-char words guarantee all 8 merges exist → 8
    // checkpointed iterations + the initial vocabulary; the learner
    // frees them ALL (its result is a driver-local merge list)
    val docs = Seq((1L, "abcdefghij abcdefghij klmnopqrst klmnopqrst uvwxyz"))
      .toDF("doc_id", "text")
    graft.text.Bpe.bpeLearnMerges(docs, 8).collect().length shouldBe 8
    settledResidue(0) shouldBe 0
  }

  test("pagerank: edge/node checkpoints release; only the pinned rank table remains") {
    benchStyleCleanup()
    settledResidue(0) shouldBe 0
    // two orders over a shared part -> a small cyclic graph; the loop
    // checkpoints edges + nodes and must free BOTH after pinning the
    // final ranks (the r11 bench leak: pass times trended up without
    // the release)
    val li = Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L))
      .toDF("l_orderkey", "l_partkey")
    val pr = graft.operators.GraphRank.pagerank(
      graft.operators.GraphRank.coPurchaseEdges(li), iters = 3)
    pr.collect().length shouldBe 4
    settledResidue(1) should be <= 1 // the result's own pinned blocks
    benchStyleCleanup()
    settledResidue(0) shouldBe 0
  }

  test("hits: per-round a/h and both edge layouts release; only the final authority table remains") {
    benchStyleCleanup()
    settledResidue(0) shouldBe 0
    // 3 rounds x (aRaw, a, hRaw, h) checkpoints + 2 edge layouts — all
    // but the returned authority table must free as the loop advances
    // (the unpinned unroll was the 26s->5s regression fixed in r14)
    val edges = Seq((1L, 10L), (1L, 20L), (1L, 30L), (2L, 10L)).toDF("c", "p")
    val a = graft.operators.GraphRank.hits(edges, rounds = 3)
    a.collect().length shouldBe 3
    settledResidue(1) should be <= 1
    benchStyleCleanup()
    settledResidue(0) shouldBe 0
  }

  test("theilSenTrend: the daily and slope checkpoints are the only pinned relations") {
    benchStyleCleanup()
    settledResidue(0) shouldBe 0
    val orders = Seq(1.00, 2.00, 4.00, 3.00).zipWithIndex.map { case (p, i) =>
      (java.sql.Date.valueOf(java.time.LocalDate.of(1992, 1, 1).plusDays(i)), p)
    }.toDF("o_orderdate", "o_totalprice")
    graft.operators.Analytic.theilSenTrend(orders).collect().length shouldBe 1
    settledResidue(2) should be <= 2 // daily (consumer-owned) + pinned slopes
    benchStyleCleanup()
    settledResidue(0) shouldBe 0
  }

  test("bpeTokenizeStats: only the final trained vocabulary stays pinned") {
    benchStyleCleanup()
    settledResidue(0) shouldBe 0
    val docs = Seq((1L, "abcdefghij abcdefghij klmnopqrst klmnopqrst uvwxyz"))
      .toDF("doc_id", "text")
    val out = graft.text.Bpe.bpeTokenizeStats(docs, 8)
    out.collect().length shouldBe 1
    settledResidue(1) should be <= 1 // the consumer-owned vocab checkpoint
    benchStyleCleanup()
    settledResidue(0) shouldBe 0
  }
}
