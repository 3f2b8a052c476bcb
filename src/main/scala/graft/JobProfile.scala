package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import scala.collection.mutable

/** Optimization-round measurement harness (guide §1): runs one named
  * query twice (untimed warm, then timed) with a job listener attached
  * and prints every Spark job's wall time + description, so the
  * job-count/overhead structure of the lifecycle gates is a table, not
  * a guess. The header line also gives the timed run's Janino compiles
  * and their time — driver-side codegen counters, no extra job — so a
  * run that recompiles code its warm-up already compiled shows up as
  * compile-bound. Not part of the driver contract — a diagnostic main.
  *
  * Usage: jrun.sh graft.JobProfile <sfDir> <query>[,<query>...]
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.ready(GraftSession.builder(master = s"local[$cpus]",
      shufflePartitions = cpus.toInt, maxPartitionBytes = "4m").getOrCreate())
    spark.sparkContext.setLogLevel("WARN")

    final case class Job(id: Int, desc: String, var ms: Long = -1,
                         start: Long = System.currentTimeMillis())
    val jobs = mutable.ArrayBuffer[Job]()
    val byId = mutable.HashMap[Int, Job]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val desc = Option(e.properties.getProperty("spark.job.description"))
          .orElse(Option(e.properties.getProperty("callSite.short")))
          .orElse(if (e.stageInfos.isEmpty) None
                  else Some(e.stageInfos.maxBy(_.stageId).name))
          .getOrElse("?")
        val j = Job(e.jobId, desc)
        jobs += j; byId(e.jobId) = j
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        byId.get(e.jobId).foreach(j => j.ms = System.currentTimeMillis() - j.start)
      }
    }

    // Janino compiles in this JVM (driver and local executors)
    def compileCount(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

    def exec(df: org.apache.spark.sql.DataFrame): Unit =
      df.queryExecution.toRdd.count()

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      exec(fn(spark, sfDir)) // warm: JIT, codegen, footer caches
      jobs.synchronized { jobs.clear(); byId.clear() }
      spark.sparkContext.addSparkListener(listener)
      val (compiles0, compileNs0) = (compileCount(), CodeGenerator.compileTime)
      val t0 = System.nanoTime()
      exec(fn(spark, sfDir))
      val total = (System.nanoTime() - t0) / 1e9
      val compiles = compileCount() - compiles0
      val compileMs = (CodeGenerator.compileTime - compileNs0) / 1e6
      spark.sparkContext.removeSparkListener(listener)
      val snap = jobs.synchronized { jobs.toVector }
      println(f"== $name: ${total}%.2f s, ${snap.size} jobs, $compiles compiles " +
        f"(${compileMs}%.0f ms) ==")
      val byDesc = snap.groupBy(_.desc).map { case (d, js) =>
        (d, js.size, js.map(_.ms.max(0)).sum)
      }.toSeq.sortBy(-_._3)
      byDesc.foreach { case (d, n, ms) =>
        println(f"  ${ms}%6d ms  x$n%-3d  ${d.take(120)}")
      }
      println(f"  job-ms sum: ${snap.map(_.ms.max(0)).sum} of ${(total * 1000).toLong} wall")
    }
    spark.stop()
  }
}
