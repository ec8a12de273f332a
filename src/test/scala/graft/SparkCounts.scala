package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Spark jobs one block of code launched, and the shuffle bytes their
  * tasks wrote. */
final case class SparkCounts(jobs: Int, shuffleWriteBytes: Long)

object SparkCounts {

  /** Counts the jobs of job group `group`, or — when None — of the
    * block's own thread (under a fresh group), once the listener bus has
    * delivered every event the block caused. */
  def during(spark: SparkSession, group: Option[String] = None)(
      body: => Unit): SparkCounts = {
    val sc = spark.sparkContext
    val counted = group.getOrElse(s"counted-${java.util.UUID.randomUUID()}")
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val shuffle = new java.util.concurrent.atomic.AtomicLong()
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == counted) {
          jobs.incrementAndGet()
          e.stageIds.foreach(stages.add)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          shuffle.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(l)
    if (group.isEmpty) sc.setJobGroup(counted, "counted")
    try {
      body
      org.apache.spark.ListenerBusDrain(sc)
      SparkCounts(jobs.get(), shuffle.get())
    } finally {
      if (group.isEmpty) sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }
}
