package graft

import org.apache.spark.graftmetrics.PassListener
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one timed pass of the harness mains (`Bench`, `ScaleProbe`,
  * `SkewProbe`, `KmerBench`). A pass builds a frame and sinks it to
  * `noop`, which materializes every operator of the plan (a bare
  * `.count()` would let Catalyst prune work), and reports its wall
  * time split into construction and sink, its job walls and its
  * task-metric sums from one [[PassListener]].
  *
  * Construction is timed on its own because loop operators (EM rounds,
  * learner rounds, pinned scaffolds) run their own actions while the
  * frame is built. The pass adds no observation or plan node: the timed
  * plan is the caller's frame as is.
  */
final class Measure(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val listener = new PassListener
  sc.addSparkListener(listener)

  /** Times one pass of `build`: bumps the generation, builds the frame
    * (construct time), sinks it to `noop` (sink time), then flushes the
    * listener bus and reads the pass's job walls and task-metric sums.
    * Throws whatever building or sinking throws.
    */
  def pass(build: => DataFrame): Measure.Pass = {
    listener.nextPass(sc)
    try {
      val t0 = System.nanoTime()
      val df = build
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      listener.flush(sc)
      Measure.Pass((t2 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9,
        listener.jobWalls.map(_._2 / 1e9).toSeq, listener.metrics)
    } finally sc.setLocalProperty(PassListener.GenerationKey, null)
  }

  /** The task-metric sums of the latest pass so far: what a pass that
    * threw or was cancelled got through.
    */
  def latestMetrics: Seq[(String, Long)] = {
    listener.flush(sc)
    listener.metrics
  }

  /** Detaches the listener from the session's context. */
  def close(): Unit = sc.removeSparkListener(listener)
}

object Measure {

  /** One pass: wall, construct and sink seconds, the wall seconds of
    * each of its jobs (by job id), and its task-metric sums.
    */
  final case class Pass(wallSec: Double, constructSec: Double, sinkSec: Double,
                        jobSec: Seq[Double], metrics: Seq[(String, Long)])

  /** A pass that did not run or did not finish: -1 seconds, no job
    * walls, and the task-metric sums it got through.
    */
  def failed(metrics: Seq[(String, Long)]): Pass = Pass(-1.0, -1.0, -1.0, Nil, metrics)

  /** Task-metric sums of a pass that never ran. */
  val NoMetrics: Seq[(String, Long)] = PassListener.MetricNames.map(_ -> 0L)
}
