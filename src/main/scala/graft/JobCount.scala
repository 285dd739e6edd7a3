package graft

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The Spark jobs a block of driver code submits. Listener events
  * arrive asynchronously, so a marker job after the block drains the
  * bus: once its start is seen, every job the block started has been
  * counted.
  */
object JobCount {
  def during[A](spark: SparkSession)(f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val drained = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.jobcount.marker") != null))
          drained.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      val a = f
      sc.setLocalProperty("graft.jobcount.marker", "1")
      sc.parallelize(Seq(0), 1).count()
      drained.await()
      (a, jobs.get())
    } finally {
      sc.setLocalProperty("graft.jobcount.marker", null)
      sc.removeSparkListener(l)
    }
  }
}
