package org.apache.spark.graftmetrics

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, LongAdder}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}

/** Job walls and task-metric sums of one pass at a time — the engine
  * analog of the reference's SyclProfiler START/STOP window (reference
  * `src/helper.h:124-196`): Spark's execution already accumulates exact
  * task metrics, so the profiler reduces to summing them between
  * [[nextPass]] and a read.
  *
  * Every pass gets a generation, which travels with its jobs as a local
  * property of the submitting thread (Spark copies local properties to
  * the threads it starts for broadcasts and subqueries). Only jobs, and
  * the tasks of stages, whose job carried the current generation count:
  * a job or task of an earlier pass (a warm-up still in flight, or a
  * pass cancelled on its budget) is dropped even when its events reach
  * the listener after the bump.
  *
  * Lives under `org.apache.spark` because the deterministic flush —
  * `LiveListenerBus.waitUntilEmpty`, needed so a read sees every event
  * of the just-finished pass — is `private[spark]`.
  */
final class PassListener extends SparkListener {
  import PassListener._

  /** What one generation has seen. A bump swaps in a new window, so an
    * event of an older generation can only reach a discarded one.
    */
  private final class Window(val generation: Int) {
    val stages: java.util.Set[Integer] = ConcurrentHashMap.newKeySet[Integer]()
    // Boxed keys so remove() on a missing key returns null.
    val starts = new ConcurrentHashMap[Integer, java.lang.Long]()
    val walls = new ConcurrentLinkedQueue[(Int, Long)]()
    val sums: Seq[LongAdder] = MetricNames.map(_ => new LongAdder)
  }

  @volatile private var window = new Window(-1)

  /** Starts a new pass: jobs `sc` submits from this thread from now on
    * belong to it.
    */
  def nextPass(sc: SparkContext): Unit = {
    val g = generations.incrementAndGet()
    window = new Window(g)
    sc.setLocalProperty(GenerationKey, g.toString)
  }

  /** (job id, wall ns) of the current pass's finished jobs, by job id. */
  def jobWalls: Array[(Int, Long)] = window.walls.toArray(Array.empty[(Int, Long)]).sortBy(_._1)

  /** The current pass's task-metric sums, named as [[MetricNames]]. */
  def metrics: Seq[(String, Long)] = MetricNames.zip(window.sums.map(_.sum()))

  /** Waits (at most 10 s) until the listener bus has delivered every
    * event posted so far.
    */
  def flush(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty(10000L)
    catch { case _: java.util.concurrent.TimeoutException => () }

  private def generationOf(p: java.util.Properties): Int =
    Option(p).flatMap(p => Option(p.getProperty(GenerationKey))).fold(-1)(_.toInt)

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val w = window
    if (generationOf(j.properties) == w.generation) w.starts.put(j.jobId, System.nanoTime())
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = {
    val w = window
    val t0 = w.starts.remove(Integer.valueOf(j.jobId))
    if (t0 != null) w.walls.add(j.jobId -> (System.nanoTime() - t0))
  }

  override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = {
    val w = window
    if (generationOf(s.properties) == w.generation) w.stages.add(s.stageInfo.stageId)
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val w = window
    val m = t.taskMetrics
    if (m != null && w.stages.contains(t.stageId)) {
      val Seq(writeBytes, writeRecords, readBytes, input, spill) = w.sums
      writeBytes.add(m.shuffleWriteMetrics.bytesWritten)
      writeRecords.add(m.shuffleWriteMetrics.recordsWritten)
      readBytes.add(m.shuffleReadMetrics.totalBytesRead)
      input.add(m.inputMetrics.recordsRead)
      spill.add(m.diskBytesSpilled + m.memoryBytesSpilled)
    }
  }
}

object PassListener {
  val GenerationKey = "graft.measure.generation"

  /** The task-metric sums a pass reports, in this order. */
  val MetricNames: Seq[String] =
    Seq("shuffle_write_bytes", "shuffle_records", "shuffle_read_bytes", "input_records", "spill_bytes")

  // One counter for every listener in the JVM, so no two passes share a
  // generation even on two listeners of one context.
  private val generations = new AtomicInteger
}
