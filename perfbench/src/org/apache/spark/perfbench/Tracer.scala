package org.apache.spark.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds, the clock Spark's
  * scheduler events carry, so call spans and job/stage/task spans share
  * one axis; call spans keep sub-millisecond digits. `parent` is -1 for
  * a pass root.
  */
final case class Span(
    id: Long, name: String, kind: String, start: Double, end: Double,
    parent: Long, pass: Int, counts: Map[String, Double])

/** In-memory span recorder for the traced run.
  *
  * Call spans are opened by the benchmark around calls into the
  * program; the id of the innermost open span travels to the scheduler
  * as a job-local property, so the listener hangs every job under the
  * call that launched it, every stage under its job and every task
  * under its stage. Planning phases arrive through the query-execution
  * listener and are summed per pass.
  *
  * Lives under `org.apache.spark` for `listenerBus.waitUntilEmpty`,
  * which makes a pass's events visible before the pass is summarised.
  */
final class Tracer(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  private val Prop = "perfbench.span"
  private val ids = new AtomicLong(0)
  private val out = ArrayBuffer.empty[Span]
  private val openJobs = new ConcurrentHashMap[Int, (Long, Long, Long)]() // job -> (span, start, parent)
  private val stageJob = new ConcurrentHashMap[Int, Long]() // stage -> job span
  private val stageSpan = new ConcurrentHashMap[(Int, Int), Long]() // (stage, attempt) -> span
  private var stack = List.empty[(Long, String, Double, Long)] // (id, name, start, parent)
  @volatile var pass: Int = -1
  private val planSums = new ConcurrentHashMap[String, Double]()
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  def spans: Seq[Span] = out.synchronized(out.toList)

  def begin(name: String): Long = {
    val id = ids.incrementAndGet()
    stack = (id, name, nowMs, stack.headOption.map(_._1).getOrElse(-1L)) :: stack
    sc.setLocalProperty(Prop, id.toString)
    id
  }

  def end(): Span = {
    val (id, name, start, parent) = stack.head
    stack = stack.tail
    sc.setLocalProperty(Prop, stack.headOption.map(_._1.toString).orNull)
    val s = Span(id, name, "call", start, nowMs, parent, pass, Map.empty)
    add(s)
    s
  }

  def within[T](name: String)(body: => T): (T, Span) = {
    begin(name)
    val r = try body catch { case e: Throwable => end(); throw e }
    (r, end())
  }

  /** Descendants of `root` (transitively) among the recorded spans. */
  def under(root: Long): Seq[Span] = {
    val all = spans
    val kids = all.groupBy(_.parent)
    def walk(id: Long): Seq[Span] = kids.getOrElse(id, Nil).flatMap(s => s +: walk(s.id))
    walk(root)
  }

  /** Planning seconds and plan-signature counts summed since the last call. */
  def takePlanSums(): Map[String, Double] = {
    flush()
    planSums.synchronized {
      val snap = Map.from(planSums.entrySet().toArray(Array.empty[java.util.Map.Entry[String, Double]])
        .map(e => e.getKey -> e.getValue))
      planSums.clear()
      snap
    }
  }

  def flush(): Unit =
    try sc.listenerBus.waitUntilEmpty(30000L)
    catch { case _: java.util.concurrent.TimeoutException => () }

  private def add(s: Span): Unit = out.synchronized(out += s)

  private def bump(k: String, v: Double): Unit = planSums.synchronized {
    planSums.put(k, planSums.getOrDefault(k, 0.0) + v)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
      .map(_.toLong).getOrElse(-1L)
    val id = ids.incrementAndGet()
    openJobs.put(e.jobId, (id, e.time, parent))
    e.stageIds.foreach(s => stageJob.put(s, id))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(openJobs.remove(e.jobId)).foreach { case (id, start, parent) =>
      add(Span(id, s"job ${e.jobId}", "job", start.toDouble, e.time.toDouble, parent, pass, Map.empty))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSpan.put((e.stageInfo.stageId, e.stageInfo.attemptNumber()), ids.incrementAndGet())

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    Option(stageSpan.remove((i.stageId, i.attemptNumber()))).foreach { id =>
      add(Span(id, s"stage ${i.stageId}", "stage", i.submissionTime.getOrElse(0L).toDouble,
        i.completionTime.getOrElse(0L).toDouble, stageJob.getOrDefault(i.stageId, -1L), pass,
        Map("tasks" -> i.numTasks.toDouble)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val parent = stageSpan.getOrDefault((e.stageId, e.stageAttemptId), -1L)
      add(Span(ids.incrementAndGet(), s"task ${e.taskInfo.taskId}", "task",
        e.taskInfo.launchTime.toDouble, e.taskInfo.finishTime.toDouble, parent, pass, Map(
          "run_ms" -> m.executorRunTime.toDouble,
          "gc_ms" -> m.jvmGCTime.toDouble,
          "input_records" -> m.inputMetrics.recordsRead.toDouble,
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
          "shuffle_write_records" -> m.shuffleWriteMetrics.recordsWritten.toDouble,
          "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime.toDouble,
          "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def secs(p: String) = phases.get(p).map(_.durationMs.toDouble / 1000).getOrElse(0.0)
    bump("analysis_s", secs("analysis"))
    bump("optimizer_s", secs("optimization"))
    bump("physical_s", secs("planning"))
    val nodes = Tracer.nodes(qe.executedPlan)
    bump("codegen_stages", nodes.count(_.isInstanceOf[WholeStageCodegenExec]).toDouble)
    bump("fallback_nodes", nodes.count(_.expressions.exists(_.exists(_.isInstanceOf[CodegenFallback]))).toDouble)
    bump("single_partition_exchanges", nodes.count {
      case x: ShuffleExchangeExec => x.outputPartitioning == SinglePartition
      case _ => false
    }.toDouble)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Tracer extends AdaptiveSparkPlanHelper {
  /** Every physical node, through adaptive stages and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(p) { case n => n }
}
