package org.apache.spark.graftmetrics

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions.max
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.{Measure, TestSpark}

/** A pass bounded by a budget: its job group and that group's future
  * jobs are cancelled when the budget runs out, its storage is released,
  * and the caller's next pass runs as if nothing had happened.
  */
class MeasureSpec extends AnyFunSuite with Matchers {
  private val spark = TestSpark.spark
  private val sc = spark.sparkContext

  private def jobGroup: String = sc.getLocalProperty(SparkContext.SPARK_JOB_GROUP_ID)
  private def generation: String = sc.getLocalProperty(PassListener.GenerationKey)

  private def groupOf(j: SparkListenerJobStart): String =
    String.valueOf(Option(j.properties).map(_.getProperty(SparkContext.SPARK_JOB_GROUP_ID)).orNull)

  /** Runs `body` and returns it with the job group of every job that
    * started meanwhile, once the listener bus has delivered them all.
    */
  private def startedGroups[T](body: => T): (T, Seq[String]) = {
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = groups.add(groupOf(j))
    }
    sc.listenerBus.waitUntilEmpty(10000L)
    sc.addSparkListener(listener)
    try {
      val result = body
      sc.listenerBus.waitUntilEmpty(10000L)
      (result, groups.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** A pass that runs `first`, then waits until 1.5 s past its budget,
    * then would run one more job; returns its failure and its job group.
    * Nothing inside the pass asserts: the pass would report a failed
    * assertion as its own failure.
    */
  private def cancelledBetweenJobs(measure: Measure, budgetSec: Int = 1)(
      first: => Unit): (Measure.PassFailed, String) = {
    var group, passGeneration: String = null
    val failure = intercept[Measure.PassFailed] {
      measure.pass({
        val t0 = System.currentTimeMillis()
        group = jobGroup
        passGeneration = generation
        first
        Thread.sleep(math.max(0L, t0 + budgetSec * 1000L + 1500L - System.currentTimeMillis()))
        sc.parallelize(1 to 10, 2).count()
        spark.range(1).toDF()
      }, Some(budgetSec))
    }
    group shouldBe s"graft-pass-$passGeneration"
    (failure, group)
  }

  test("a pass cancelled between its two jobs starts no job of its group after the cancel and fails") {
    sc.parallelize(1 to 10, 2).count() // a warm context, so the first job fits the budget
    val measure = new Measure(spark)
    try {
      val ((failure, group), groups) = startedGroups(
        cancelledBetweenJobs(measure)(sc.parallelize(1 to 10, 2).count()))
      failure.getMessage should startWith("exceeded 1s wall budget")
      failure.pass.wallSec shouldBe -1.0
      // the first job started in the pass's group; the second was refused
      groups.count(_ == group) shouldBe 1
      jobGroup shouldBe null
      generation shouldBe null
    } finally measure.close()
  }

  test("a pass that caches a frame and is then cancelled leaves no cached frame or persisted RDD") {
    val measure = new Measure(spark)
    try {
      var persisted = 0
      var framesCached = false
      // a budget that leaves the first caching job ample time
      cancelledBetweenJobs(measure, budgetSec = 5) {
        spark.range(1000).toDF("id").cache().count()
        sc.parallelize(1 to 10).cache().count()
        persisted = sc.getPersistentRDDs.size
        framesCached = !spark.sharedState.cacheManager.isEmpty
      }
      persisted should be >= 2
      framesCached shouldBe true
      sc.getPersistentRDDs shouldBe empty
      spark.sharedState.cacheManager.isEmpty shouldBe true
    } finally measure.close()
  }

  test("after a cancelled pass, the caller's next pass runs normally and leaves no job group or generation") {
    val measure = new Measure(spark)
    try {
      cancelledBetweenJobs(measure)(sc.parallelize(1 to 10, 2).count())
      val (p, groups) = startedGroups(measure.pass(
        spark.range(0, 1000, 1, 2).selectExpr("id % 7 AS k").groupBy("k").count(), Some(60)))
      p.wallSec should be > 0.0
      p.jobSec should not be empty
      groups should not be empty
      all(groups) should startWith("graft-pass-")
      groups.distinct should have size 1
      jobGroup shouldBe null
      generation shouldBe null
    } finally measure.close()
  }

  test("a map-stage job that a pass submits after its cancel is cancelled as it starts") {
    val measure = new Measure(spark)
    val started = new ConcurrentLinkedQueue[(Int, String)]() // (job id, job group)
    val succeeded = new ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = started.add(j.jobId -> groupOf(j))
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        if (j.jobResult == JobSucceeded) succeeded.add(j.jobId)
    }
    sc.addSparkListener(listener)
    try {
      var group: String = null
      val failure = intercept[Measure.PassFailed] {
        measure.pass({
          group = jobGroup
          Thread.sleep(2500) // past the 1 s budget, before any job
          // an adaptive query stage, whose map-stage job Spark's cancel
          // of future jobs does not refuse; it runs for seconds uncancelled
          spark.range(0, 4000000, 1, 2).selectExpr("id % 97 AS k", "sha2(CAST(id AS STRING), 256) AS h")
            .groupBy("k").agg(max("h"))
        }, Some(1))
      }
      sc.listenerBus.waitUntilEmpty(10000L)
      failure.getMessage should startWith("exceeded 1s wall budget")
      val jobs = started.asScala.collect { case (id, g) if g == group => id }.toSeq
      jobs should not be empty
      succeeded.asScala.toSeq.intersect(jobs) shouldBe empty
    } finally {
      sc.removeSparkListener(listener)
      measure.close()
    }
  }
}
