package org.apache.spark.graftmetrics

import java.util.Properties

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.Success
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{JobSucceeded, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd, StageInfo, TaskInfo, TaskLocality}
import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions.{count, lit}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.{Measure, TestSpark}

class PassListenerSpec extends AnyFunSuite with Matchers {
  private val spark = TestSpark.spark
  private val sc = spark.sparkContext

  private def props(generation: Option[Int]): Properties = {
    val p = new Properties()
    generation.foreach(g => p.setProperty(PassListener.GenerationKey, g.toString))
    p
  }
  private def start(id: Int, generation: Option[Int]): SparkListenerJobStart =
    SparkListenerJobStart(id, 0L, Seq.empty, props(generation))
  private def end(id: Int) = SparkListenerJobEnd(id, 0L, JobSucceeded)
  private def generation: Int = sc.getLocalProperty(PassListener.GenerationKey).toInt

  private def stageSubmitted(stageId: Int, generation: Int) = SparkListenerStageSubmitted(
    new StageInfo(stageId, 0, s"stage $stageId", 1, Seq.empty, Seq.empty, "", resourceProfileId = 0),
    props(Some(generation)))
  private def taskEnd(stageId: Int, shuffleRecords: Long): SparkListenerTaskEnd = {
    val m = new TaskMetrics
    m.shuffleWriteMetrics.incRecordsWritten(shuffleRecords)
    m.inputMetrics.incRecordsRead(1L)
    val info = new TaskInfo(0L, 0, 0, 0, 0L, "driver", "localhost", TaskLocality.PROCESS_LOCAL, false)
    SparkListenerTaskEnd(stageId, 0, "ResultTask", Success, info, null, m)
  }

  test("a job started in an earlier run is never timed in the next one") {
    val jobs = new PassListener
    try {
      jobs.nextPass(sc) // the warm run
      val warm = generation
      jobs.onJobStart(start(1, Some(warm)))
      jobs.onJobStart(start(2, None)) // submitted before any run began
      jobs.onJobStart(start(3, Some(warm)))
      jobs.onJobEnd(end(3))
      jobs.jobWalls.map(_._1) shouldBe Array(3)
      jobs.nextPass(sc) // the timed run
      jobs.jobWalls shouldBe empty
      // a warm-run job whose start event is delivered after the bump
      jobs.onJobStart(start(4, Some(warm)))
      jobs.onJobStart(start(5, Some(generation)))
      Seq(1, 2, 4, 5, 6).foreach(id => jobs.onJobEnd(end(id))) // 6 was never seen starting
      jobs.jobWalls.map(_._1) shouldBe Array(5)
    } finally sc.setLocalProperty(PassListener.GenerationKey, null)
  }

  test("jobs the current thread submits after nextPass carry its generation") {
    val jobs = new PassListener
    sc.addSparkListener(jobs)
    try {
      jobs.nextPass(sc)
      spark.range(10).count()
      // listener-bus delivery is asynchronous: poll briefly
      val deadline = System.currentTimeMillis() + 30000
      while (jobs.jobWalls.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
      jobs.jobWalls should not be empty
    } finally {
      sc.removeSparkListener(jobs)
      sc.setLocalProperty(PassListener.GenerationKey, null)
    }
  }

  test("a task end from a stage submitted under an earlier generation is not summed") {
    val listener = new PassListener
    try {
      listener.nextPass(sc)
      val earlier = generation
      listener.onStageSubmitted(stageSubmitted(7, earlier))
      listener.onTaskEnd(taskEnd(7, 5L))
      listener.metrics.toMap.apply("shuffle_records") shouldBe 5L
      listener.nextPass(sc)
      listener.onStageSubmitted(stageSubmitted(8, generation))
      // stage 7's straggler ends after the bump; a stage submitted late
      // under the earlier generation counts no more than stage 7 does
      listener.onTaskEnd(taskEnd(7, 100L))
      listener.onStageSubmitted(stageSubmitted(9, earlier))
      listener.onTaskEnd(taskEnd(9, 1000L))
      listener.onTaskEnd(taskEnd(8, 3L))
      listener.metrics.toMap shouldBe Map("shuffle_write_bytes" -> 0L, "shuffle_records" -> 3L,
        "shuffle_read_bytes" -> 0L, "input_records" -> 1L, "spill_bytes" -> 0L)
    } finally sc.setLocalProperty(PassListener.GenerationKey, null)
  }

  test("a Measure pass over a shuffling query reports shuffle records, its job walls and an observed row count") {
    val measure = new Measure(spark)
    try {
      // the probes' row count: an Observation on the caller's own frame
      val rows = Observation()
      val p = measure.pass(spark.range(0, 10000, 1, 4).selectExpr("id % 97 AS k").groupBy("k").count()
        .observe(rows, count(lit(1)).as("rows")))
      Await.result(rows.future, 60.seconds).getLong(0) shouldBe 97L
      p.metrics.toMap.apply("shuffle_records") should be > 0L
      p.jobSec should not be empty
      p.jobSec.foreach(_ should be >= 0.0)
      p.constructSec should be >= 0.0
      p.sinkSec should be > 0.0
      p.wallSec shouldBe (p.constructSec + p.sinkSec) +- 1e-6
      // the pass leaves no generation on the thread
      sc.getLocalProperty(PassListener.GenerationKey) shouldBe null
    } finally measure.close()
  }
}
