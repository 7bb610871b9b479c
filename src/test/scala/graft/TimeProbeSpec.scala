package graft

import java.util.Properties

import org.apache.spark.scheduler.{JobSucceeded, SparkListenerJobEnd, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class TimeProbeSpec extends AnyFunSuite with Matchers {
  private val sc = TestSpark.spark.sparkContext

  private def start(id: Int, generation: Option[Int]): SparkListenerJobStart = {
    val p = new Properties()
    generation.foreach(g => p.setProperty(RunJobTimes.GenerationKey, g.toString))
    SparkListenerJobStart(id, 0L, Seq.empty, p)
  }
  private def end(id: Int) = SparkListenerJobEnd(id, 0L, JobSucceeded)

  test("a job started in an earlier run is never timed in the next one") {
    val jobs = new RunJobTimes
    try {
      jobs.nextRun(sc) // the warm run: generation 1
      jobs.onJobStart(start(1, Some(1)))
      jobs.onJobStart(start(2, None)) // submitted before any run began
      jobs.onJobStart(start(3, Some(1)))
      jobs.onJobEnd(end(3))
      jobs.current.map(_._1) shouldBe Array(3)
      jobs.nextRun(sc) // the timed run: generation 2
      jobs.current shouldBe empty
      // a warm-run job whose start event is delivered after the bump
      jobs.onJobStart(start(4, Some(1)))
      jobs.onJobStart(start(5, Some(2)))
      Seq(1, 2, 4, 5, 6).foreach(id => jobs.onJobEnd(end(id))) // 6 was never seen starting
      jobs.current.map(_._1) shouldBe Array(5)
    } finally sc.setLocalProperty(RunJobTimes.GenerationKey, null)
  }

  test("jobs the current thread submits after nextRun carry its generation") {
    val jobs = new RunJobTimes
    sc.addSparkListener(jobs)
    try {
      jobs.nextRun(sc)
      TestSpark.spark.range(10).count()
      // listener-bus delivery is asynchronous: poll briefly
      val deadline = System.currentTimeMillis() + 30000
      while (jobs.current.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
      jobs.current should not be empty
    } finally {
      sc.removeSparkListener(jobs)
      sc.setLocalProperty(RunJobTimes.GenerationKey, null)
    }
  }
}
