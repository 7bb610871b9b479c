package graft

import java.util.{Timer, TimerTask}

import scala.util.Try

import org.apache.spark.graftmetrics.PassListener
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one pass runner of the harness mains (`Bench`, `ScaleProbe`,
  * `SkewProbe`, `KmerBench`). A timed pass builds a frame and sinks it to
  * `noop`, which materializes every operator of the plan (a bare
  * `.count()` would let Catalyst prune work), and reports its wall
  * time split into construction and sink, its job walls and its
  * task-metric sums from one [[PassListener]].
  *
  * Construction is timed on its own because loop operators (EM rounds,
  * learner rounds, pinned scaffolds) run their own actions while the
  * frame is built. The pass adds no observation or plan node: the timed
  * plan is the caller's frame as is.
  *
  * Every pass, timed or not ([[run]]), runs on the caller's thread in a
  * job group of its own, `graft-pass-<generation>` (a cancelled group
  * stays cancelled). When its optional budget runs out, a daemon timer
  * cancels the group and its future jobs, cooperatively
  * (`interruptOnCancel = false`): the running job fails at once and a
  * later result job fails on submission. Spark neither refuses a later
  * map-stage job (an adaptive query stage) nor reaches a streaming
  * micro-batch, which runs in a group of its own, so any job carrying
  * the pass's generation is also cancelled as it starts. Once the pass
  * has returned or thrown, the session's storage is released
  * ([[GraftSession.releaseStorage]]) and no job group or generation is
  * left on the thread.
  */
final class Measure(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val listener = new PassListener

  /** Cancels pass `generation` when it runs (see above). */
  private final class Cancel(val generation: String, budgetSec: Int) extends TimerTask {
    val reason = s"exceeded ${budgetSec}s wall budget"
    @volatile var firedAt: Option[Long] = None
    def run(): Unit = {
      firedAt = Some(System.nanoTime())
      cancelled = Some(this)
      sc.cancelJobGroupAndFutureJobs(Measure.group(generation), reason)
    }
  }

  @volatile private var cancelled: Option[Cancel] = None
  private val lateJobs = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit =
      for (c <- cancelled if Option(j.properties).exists(_.getProperty(PassListener.GenerationKey) == c.generation))
        sc.cancelJob(j.jobId, c.reason)
  }
  Seq(listener, lateJobs).foreach(sc.addSparkListener)

  /** Runs `body` as one untimed pass (a query's setup half, say). Throws
    * what `body` throws or, once its budget has run out, an error saying
    * so, with `body`'s own error as its cause.
    */
  def run[T](budgetSec: Option[Int])(body: => T): T = {
    val generation = listener.nextPass(sc).toString
    sc.setJobGroup(Measure.group(generation), Measure.group(generation), interruptOnCancel = false)
    val cancel = budgetSec.map { b =>
      val c = new Cancel(generation, b)
      Measure.budgetTimer.schedule(c, b * 1000L)
      c
    }
    try {
      val result = Try(body)
      for (c <- cancel; at <- c.firedAt)
        throw new RuntimeException(f"${c.reason} (returned ${(System.nanoTime() - at) / 1e9}%.2fs after its cancel)",
          result.failed.toOption.orNull)
      result.get
    } finally {
      cancel.foreach(_.cancel())
      sc.clearJobGroup()
      sc.setLocalProperty(PassListener.GenerationKey, null)
      GraftSession.releaseStorage(spark)
    }
  }

  /** Times one pass of `build`, bounded by `budgetSec` if given: builds
    * the frame (construct time), sinks it to `noop` (sink time), then
    * flushes the listener bus and reads the pass's job walls and
    * task-metric sums. A pass that throws or runs out of budget throws
    * [[Measure.PassFailed]].
    */
  def pass(build: => DataFrame, budgetSec: Option[Int] = None): Measure.Pass =
    try run(budgetSec) {
      val t0 = System.nanoTime()
      val df = build
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      listener.flush(sc)
      Measure.Pass((t2 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9,
        listener.jobWalls.map(_._2 / 1e9).toSeq, listener.metrics)
    } catch {
      case e: Throwable =>
        listener.flush(sc)
        throw new Measure.PassFailed(Measure.failed(listener.metrics), e)
    }

  /** Detaches the listeners from the session's context. */
  def close(): Unit = Seq(listener, lateJobs).foreach(sc.removeSparkListener)
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

  /** A timed pass that failed: its [[failed]] record, and its error as
    * the cause, whose message this one repeats.
    */
  final class PassFailed(val pass: Pass, cause: Throwable) extends RuntimeException(cause.getMessage, cause)

  /** Task-metric sums of a pass that never ran. */
  val NoMetrics: Seq[(String, Long)] = PassListener.MetricNames.map(_ -> 0L)

  private def group(generation: String): String = s"graft-pass-$generation"

  // One daemon thread for every budget in the JVM, started by the first.
  private lazy val budgetTimer = new Timer("measure-budget", true)
}
