package org.apache.spark

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskStart}

import java.util.concurrent.atomic.AtomicInteger

/** Test access to the driver's listener bus, which Spark keeps
  * package-private: block until every posted event has reached every
  * listener, so a listener's counts are complete when a spec reads them. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

/** The Spark jobs and the tasks that a block started. */
final case class JobTally(jobs: Int, tasks: Int)

object JobTally {
  /** Counts job and task starts while `body` runs. The bus is drained
    * before the listener is added, so earlier work's queued events are
    * not counted, and again before the counts are read, so none of the
    * body's are missed. */
  def of(sc: SparkContext)(body: => Any): JobTally = {
    val jobs, tasks = new AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onTaskStart(e: SparkListenerTaskStart): Unit = {
        tasks.incrementAndGet(); ()
      }
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(counter)
    try {
      body
      ListenerBusDrain(sc)
    } finally sc.removeSparkListener(counter)
    JobTally(jobs.get, tasks.get)
  }
}
