package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the jobs a block of work starts, and only those: the block runs
  * under a fresh job group, and a job counts when its start event carries
  * that group id. Jobs other suites or threads start on the shared context
  * carry no such id, so they cannot land in the count. The listener bus is
  * drained before the block (no earlier event reaches the listener) and
  * after it (every event of the block has been delivered). */
object GroupJobCount {
  def apply[T](sc: SparkContext)(body: => T): (T, Int) = {
    val group = s"counted-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_GROUP_ID)))
            .contains(group)) { jobs.incrementAndGet(); () }
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted block")
      val r = try body finally sc.clearJobGroup()
      ListenerBusDrain(sc)
      (r, jobs.get())
    } finally sc.removeSparkListener(listener)
  }
}
