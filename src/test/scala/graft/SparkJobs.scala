package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block starts on the calling thread: the block
  * runs under its own job group, so jobs of other threads do not count. */
object SparkJobs {
  def during[T](body: => T): (T, Int) = {
    val sc = TestSpark.spark.sparkContext
    val group = s"spark-jobs-${java.util.UUID.randomUUID}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted block")
    val result = try body finally sc.clearJobGroup()
    org.apache.spark.ListenerBusDrain(sc)
    sc.removeSparkListener(listener)
    (result, jobs.get)
  }
}
