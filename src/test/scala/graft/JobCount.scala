package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block starts — on the calling thread and on
  * the [[Par]] threads it hands work to, which carry the caller's job
  * group. */
object JobCount {
  def apply[T](spark: SparkSession)(f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = "jobcount-" + java.util.UUID.randomUUID()
    val jobs = new AtomicInteger()
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        if (g == tag) jobs.incrementAndGet()
        else if (g == tag + "-fence") fenced.countDown()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(tag, "counted")
      val r = f
      // listener delivery is asynchronous but ordered: once the fence
      // job's start arrives, every job the block started was counted
      sc.setJobGroup(tag + "-fence", "fence")
      spark.range(1).count()
      assert(fenced.await(60, TimeUnit.SECONDS), "listener never saw the fence job")
      (r, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
