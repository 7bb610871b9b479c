package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.{Tables, TestSpark}
import graft.TestSpark.withConf
import graft.operators.Profile

/** Stats-informed planning evidence (r10 verdict #7). The engine's gate
  * queries read parquet paths, so their compile-time size estimates are
  * raw file sizes and runtime re-planning falls to AQE. A persistent
  * deployment instead ANALYZEs its tables after ingest; this spec pins
  * the concrete planning consequence: with column statistics + CBO, a
  * selective filter's output estimate shrinks below the broadcast
  * threshold and the join build-side decision FLIPS from a both-sides
  * shuffle join to a broadcast hash join — the same query, the same
  * data, a different (better) plan, purely from statistics.
  *
  * The threshold is placed strictly between the two measured estimates
  * rather than hard-coded, so the pin asserts the RELATION between the
  * estimates (stats+CBO < file-size estimate) and the decision each
  * side of it induces — robust to testdata regeneration changing
  * absolute sizes.
  */
class StatsPlanningSpec extends AnyFunSuite with Matchers {
  private val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("column stats + CBO flip the filtered join side from shuffle to broadcast") {
    val cat = Profile.analyzeTable(spark, sfDir, "orders")
    try {
      // A ~2% value-range filter (cheap orders): with column min/max
      // stats CBO estimates range selectivity and the output estimate
      // collapses; without CBO a Filter passes its child's size
      // estimate through untouched. (A 1/3-selective status filter is
      // NOT enough: CBO's in-memory row-width estimate runs ~3x the
      // compressed parquet file size, so the two effects cancel.)
      val Array(lo, hi) = spark.table(cat)
        .agg(min("o_totalprice"), max("o_totalprice")).collect()(0) match {
        case r => Array(r.getDouble(0), r.getDouble(1))
      }
      val cut = lo + (hi - lo) * 0.02
      // the explicit projection matters for ESTIMATION, not semantics:
      // the join prunes orders to these columns, and non-CBO size
      // estimates scale with the projected row width — measuring the
      // unpruned frame would overstate the join-side estimate ~2x and
      // put the computed threshold above it (both plans broadcast)
      def filtered = spark.table(cat).where(col("o_totalprice") < cut)
        .select("o_orderkey", "o_orderstatus")
      // a revenue-rollup-wide lineitem side: 4 columns survive pruning,
      // so ITS scan estimate stays well above the threshold (a 1-column
      // projection prunes so hard the fact side broadcasts by itself)
      def lSide = Tables.lineitem(spark, sfDir)
        .select("l_orderkey", "l_quantity", "l_extendedprice", "l_discount")
      def joined = lSide
        .join(filtered, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"),
          sum("l_quantity").as("qty"), count(lit(1)).as("n"))
      def est(df: => org.apache.spark.sql.DataFrame, cbo: Boolean): BigInt =
        withConf("spark.sql.cbo.enabled" -> cbo.toString) {
          df.queryExecution.optimizedPlan.stats.sizeInBytes
        }
      val estNoStats = est(filtered, cbo = false)
      val estWithStats = est(filtered, cbo = true)
      // the substantive claim: statistics make the estimate smaller
      // (range selectivity from min/max), enabling the better plan
      estWithStats should be < estNoStats
      // threshold below BOTH no-stats sides, above the with-stats side
      val upper = estNoStats.min(est(lSide, cbo = false))
      estWithStats should be < upper
      val threshold = ((estWithStats + upper) / 2).toString
      def plan(cbo: Boolean): String =
        withConf(
          "spark.sql.cbo.enabled" -> cbo.toString,
          "spark.sql.autoBroadcastJoinThreshold" -> threshold,
          // static plans: this pin is about the compile-time decision
          // (AQE would fix it at runtime — that is the engine's
          // default path; stats fix it before the first stage runs)
          "spark.sql.adaptive.enabled" -> "false") {
          joined.queryExecution.executedPlan.toString
        }
      val without = plan(cbo = false)
      val withStats = plan(cbo = true)
      without should (include("SortMergeJoin") or include("ShuffledHashJoin"))
      (without should not).include("BroadcastHashJoin")
      withStats should include("BroadcastHashJoin")
    } finally spark.sql(s"DROP TABLE IF EXISTS $cat")
  }
}
