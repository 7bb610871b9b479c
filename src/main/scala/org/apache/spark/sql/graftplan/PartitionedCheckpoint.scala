package org.apache.spark.sql.graftplan

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Eager local checkpoint that PRESERVES a hash partitioning.
  *
  * `Dataset.localCheckpoint` snapshots `physicalPlan.outputPartitioning`
  * into the resulting [[LogicalRDD]] — but under AQE the physical plan
  * is an un-finalized `AdaptiveSparkPlanExec` whose partitioning is
  * `UnknownPartitioning` at checkpoint time, so EVERY iterative loop
  * that checkpoints per round (PageRank, BFS, LPA, connected
  * components) loses the partitioning it just paid a shuffle for, and
  * each later round re-exchanges the corpus-scale relation it joins.
  *
  * This helper makes the partitioning survive: the caller's plan ends
  * in `repartition(numPartitions, keys*)` (an explicit user
  * repartition — AQE does not coalesce it, so rows land exactly by
  * `murmur3(keys) pmod numPartitions`, which is precisely the
  * [[HashPartitioning]] contract); the helper persists the
  * materialized rows and rebuilds the frame as a [[LogicalRDD]] that
  * DECLARES `HashPartitioning(keys, numPartitions)` over the original
  * output attributes. Downstream src-keyed joins and aggregations then see a
  * satisfied distribution and plan no exchange on this side.
  *
  * The declared partitioning is true by construction — same engine,
  * same codegen murmur3 hash, same modulo — the helper just carries
  * the fact across the RDD boundary that `localCheckpoint` drops.
  * Release discipline matches [[graft.Checkpoints]]: callers free the
  * blocks once no consumer re-scans the frame.
  */
object PartitionedCheckpoint {

  /** Materialize `df` AS IS and declare `HashPartitioning(keys,
    * numPartitions)` (plus, when `sortedByKeys`, an ascending
    * within-partition sort order on `keys`) over the persisted rows.
    *
    * CONTRACT: the caller must guarantee the physical layout really is
    * that partitioning — i.e. the plan ends in (or preserves) an
    * explicit `repartition(numPartitions, keys*)`, with only
    * distribution-preserving operators after it (partition-local
    * aggregates whose grouping contains the keys, windows partitioned
    * by the keys, filters, projections). Declaring a false layout makes
    * later co-partitioned joins silently DROP matches — this helper
    * trades that safety for the exchange it avoids, so keep call sites
    * few and audited. `sortedByKeys` is satisfied for free when the
    * last operator is a `Window.partitionBy(keys)` (WindowExec sorts
    * its input by the partition keys).
    */
  def localEagerDeclared(
      df: DataFrame,
      keys: Seq[String],
      numPartitions: Int,
      sortedByKeys: Boolean = false): (DataFrame, () => Unit) = {
    val spark = df.sparkSession.asInstanceOf[SparkSession]
    val qe = df.queryExecution
    // Same materialization as Dataset.localCheckpoint: copy unsafe rows
    // out of their per-partition buffers before persisting.
    val rdd = qe.toRdd.map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK)
    rdd.count() // eager
    // Cheap invariant guard on the caller contract above: the declared
    // partition COUNT must match the materialized layout. It catches the
    // likeliest contract drift (a call site whose plan stopped ending in
    // the expected repartition, or AQE re-planning the exchange width) —
    // a false declaration here would make later co-partitioned joins
    // silently drop matches, so fail loudly instead.
    require(
      rdd.getNumPartitions == numPartitions,
      s"PartitionedCheckpoint: plan materialized ${rdd.getNumPartitions} partitions " +
        s"but caller declared HashPartitioning($keys, $numPartitions) — " +
        "the call site's plan no longer ends in the expected repartition")
    val attrs = qe.analyzed.output
    val keyAttrs = keys.map { k =>
      attrs.find(_.name == k).getOrElse(
        throw new IllegalArgumentException(s"key $k not in ${attrs.map(_.name)}"))
    }
    val ordering =
      if (sortedByKeys)
        keyAttrs.map(a => org.apache.spark.sql.catalyst.expressions.SortOrder(
          a, org.apache.spark.sql.catalyst.expressions.Ascending))
      else Nil
    val plan = LogicalRDD(
      attrs, rdd, HashPartitioning(keyAttrs, numPartitions), ordering)(spark)
    (Dataset.ofRows(spark, plan), () => { rdd.unpersist(blocking = false); () })
  }
}
