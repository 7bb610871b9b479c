package org.apache.spark.graftmetrics

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Scheduler hooks for specs outside `org.apache.spark`, which can
  * neither flush the listener bus nor change a running context's conf.
  */
object TestScheduler {

  /** The shuffle-map tasks that end while `body` runs, counted after the
    * listener bus has delivered every event.
    */
  def mapTasks(sc: SparkContext)(body: => Unit): Int = {
    val tasks = new AtomicInteger
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskType == "ShuffleMapTask") tasks.incrementAndGet()
    }
    sc.listenerBus.waitUntilEmpty(10000L)
    sc.addSparkListener(listener)
    try {
      body
      sc.listenerBus.waitUntilEmpty(10000L)
      tasks.get
    } finally sc.removeSparkListener(listener)
  }

  /** Runs `body` with `sc.defaultParallelism` read as `slots` (a local
    * backend reads `spark.default.parallelism` on each call), then
    * restores the conf.
    */
  def withDefaultParallelism[T](sc: SparkContext, slots: Int)(body: => T): T = {
    val key = "spark.default.parallelism"
    val before = sc.conf.getOption(key)
    sc.conf.set(key, slots.toString)
    try body
    finally before.fold(sc.conf.remove(key))(sc.conf.set(key, _))
  }
}
