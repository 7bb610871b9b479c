package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.TestSpark
import graft.TestSpark.withConf
import graft.operators.Relational

/** AQE skew-join teeth for skew_join_hot_key: with thresholds scaled to
  * test-sized data, OptimizeSkewedJoin must split the hot partition of
  * the shuffle sort-merge join at runtime (SortMergeJoin(skew=true) in
  * the final adaptive plan) and the split must not change the result.
  * At production scale the same plan fires with the default 256 MB
  * threshold — the thresholds scale, the query doesn't change.
  */
class SkewJoinSpec extends AnyFunSuite with Matchers {
  private val spark = TestSpark.spark
  import spark.implicits._

  // Synthesized fact-fact inputs with many map partitions (the skew
  // split works on mapper ranges, so the hot partition must be fed by
  // several mappers — 16 each here). hotModulus=2 collapses half of
  // each side onto hot_key 0.
  private def li = spark.range(0, 12000, 1, 16).select(
    col("id").as("l_orderkey"),
    (col("id") % 50).cast("double").as("l_quantity"))
  private def ord = spark.range(0, 1200, 1, 16).select(
    col("id").as("o_orderkey"),
    concat(lit("P"), (col("id") % 5).cast("string")).as("o_orderpriority"))

  private val tuned = Seq(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
  )

  test("AQE splits the hot partition and the result is split-invariant") {
    val baseline = withConf(tuned :+ ("spark.sql.adaptive.skewJoin.enabled" -> "false"): _*) {
      Relational.skewedJoinStats(li, ord, hotModulus = 2)
        .orderBy("o_orderpriority").collect().toSeq
    }
    val (skewRows, plan) = withConf(tuned :+ ("spark.sql.adaptive.skewJoin.enabled" -> "true"): _*) {
      val df = Relational.skewedJoinStats(li, ord, hotModulus = 2)
        .orderBy("o_orderpriority")
      val rows = df.collect().toSeq
      // Final adaptive plan only exists after execution (AQE finalizes
      // per stage at runtime) — inspect post-collect.
      (rows, df.queryExecution.executedPlan.toString)
    }
    plan should include("skew=true")
    skewRows shouldBe baseline
    // sanity: the hot key genuinely dominates — half of each side
    // collapses onto key 0, so the join output is ~6000×600 pairs
    skewRows.map(_.getLong(1)).sum should be > 3000000L
  }
}
