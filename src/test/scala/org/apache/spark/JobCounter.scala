package org.apache.spark

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs that `body` starts on the calling thread. The
  * listener bus is drained before the count is read, so every job-start
  * event of the body has been delivered; the bus is private to Spark,
  * hence the package. Jobs are matched by a job group set for the body, so
  * jobs of other threads are not counted.
  */
object JobCounter {
  def apply[T](sc: SparkContext)(body: => T): (T, Int) = {
    val group = s"job-counter-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(
            _.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted")
    try {
      val r = body
      sc.listenerBus.waitUntilEmpty()
      (r, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
