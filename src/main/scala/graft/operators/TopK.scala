package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{EngineQuery, Tables}

/** Per-group top-N via the bounded-heap aggregate
  * [[graft.functions.TopKPairs]] instead of a window rank.
  *
  * The window formulation (`row_number() OVER (PARTITION BY g ORDER BY
  * s DESC) <= n` — [[Relational]]'s `window_rank_top_orders`) shuffles
  * and SORTS every group's complete row set before discarding all but
  * n rows; with a hot group at 100 TB that is one task sorting the
  * group's entire history. The aggregate formulation never holds more
  * than k pairs per (group, partition): partial heaps combine
  * map-side, the exchange carries ≤ k·partitions rows per group, and
  * there is no sort of corpus-scale data anywhere — only the final
  * k-element unpack. `TopKAggSpec` pins the executed plan to
  * ObjectHashAggregate with no Window/corpus Sort.
  */
object TopK {

  val K = 3

  /** Top-[[K]] orders by price within each priority, best-first, via
    * one aggregation pass.
    */
  def topOrdersPerPriority(orders: DataFrame): DataFrame = {
    orders
      .select(
        col("o_orderpriority"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)").as("cents"),
        col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(expr(s"topk_pairs(cents, o_orderkey, $K)").as("tk"))
      .select(col("o_orderpriority"), posexplode(col("tk")))
      .select(
        col("o_orderpriority"),
        (col("pos") + 1).cast("long").as("rnk"),
        col("col.score").as("cents"),
        col("col.id").as("o_orderkey"))
  }

  def engineQueries: Seq[EngineQuery] = Seq(
    EngineQuery(
      "topk_agg_orders",
      (s, dir) => topOrdersPerPriority(Tables.orders(s, dir))
        .orderBy("o_orderpriority", "rnk"),
      // oracle: the definitionally-equivalent window rank
      Some(s"""WITH c AS (
             |  SELECT o_orderpriority,
             |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
             |    o_orderkey
             |  FROM orders),
             |r AS (
             |  SELECT o_orderpriority, cents, o_orderkey,
             |    row_number() OVER (
             |      PARTITION BY o_orderpriority
             |      ORDER BY cents DESC, o_orderkey) AS rnk
             |  FROM c)
             |SELECT o_orderpriority, CAST(rnk AS BIGINT) AS rnk, cents, o_orderkey
             |FROM r WHERE rnk <= $K
             |ORDER BY o_orderpriority, rnk""".stripMargin),
    ),
  )
}
