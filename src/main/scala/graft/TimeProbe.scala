package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Ad-hoc optimization-round profiler: for each named query, after one
  * discarded warm pass, times (a) `fn(spark, dir)` construction — which
  * for driver-orchestrated operators (EM loops, learner rounds, pinned
  * scaffolds) executes every internal action — and (b) the final noop
  * sink, separately. Also reports per-job wall seconds from a listener,
  * so "many small jobs" vs "one slow stage" is readable at a glance.
  *
  * usage: runMain graft.TimeProbe <name>[,<name>...]
  * env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as Bench.
  */
object TimeProbe {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val byName = Registry.all.map(q => q.name -> q).toMap
    val jobs = new RunJobTimes
    spark.sparkContext.addSparkListener(jobs)

    def cleanup(): Unit = try GraftSession.releaseStorage(spark) catch { case _: Throwable => () }

    names.foreach { name =>
      val q = byName(name)
      q.setup.foreach(_(spark, sfDir))
      // warm pass (codegen/JIT)
      try { q.fn(spark, sfDir).write.format("noop").mode("overwrite").save() }
      catch { case e: Throwable => System.err.println(s"$name warm failed: $e") }
      cleanup()
      jobs.nextRun(spark.sparkContext)
      val t0 = System.nanoTime()
      val df = q.fn(spark, sfDir)
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      val jl = jobs.current
      println(f"$name%-35s construct=${(t1 - t0) / 1e9}%6.2fs sink=${(t2 - t1) / 1e9}%6.2fs jobs=${jl.length}%3d " +
        jl.map(j => f"${j._2 / 1e9}%.2f").mkString("[", ",", "]"))
      cleanup()
    }
    spark.stop()
  }
}

/** Wall nanoseconds of each Spark job of the current run, by job id.
  *
  * Every run gets a generation, which travels with its jobs as a local
  * property of the submitting thread (Spark copies local properties to
  * the threads it starts for broadcasts and subqueries). A job ending
  * in the current run is counted only if it STARTED in it: a warm-run
  * job still in flight when the timed run begins is dropped, even when
  * its start event reaches the listener after the bump.
  */
class RunJobTimes extends SparkListener {
  @volatile private var generation = 0
  // Boxed key/value types so remove() on a missing key returns null.
  private val starts = new java.util.concurrent.ConcurrentHashMap[Integer, (Int, Long)]()
  private val ended = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()

  /** Starts a new run: jobs `sc` submits from this thread from now on
    * belong to it.
    */
  def nextRun(sc: SparkContext): Unit = {
    generation += 1
    ended.clear()
    sc.setLocalProperty(RunJobTimes.GenerationKey, generation.toString)
  }

  /** (job id, wall ns) of the current run's finished jobs, by job id. */
  def current: Array[(Int, Long)] = ended.toArray(Array.empty[(Int, Long)]).sortBy(_._1)

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val gen = Option(j.properties).flatMap(p => Option(p.getProperty(RunJobTimes.GenerationKey)))
    starts.put(j.jobId, (gen.fold(-1)(_.toInt), System.nanoTime()))
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = {
    val s = starts.remove(Integer.valueOf(j.jobId))
    if (s != null && s._1 == generation) ended.add(j.jobId -> (System.nanoTime() - s._2))
  }
}

object RunJobTimes {
  val GenerationKey = "graft.timeprobe.generation"
}
