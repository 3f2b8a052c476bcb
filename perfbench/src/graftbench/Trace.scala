package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Interval arithmetic for attributing wall time: a layer's driver time
  * is its wall minus the UNION of the job intervals it caused (Par
  * overlaps jobs, so a sum would double-count). */
object Intervals {
  /** Total length covered by `iv`, each clipped to [lo, hi]. */
  def unionWithin(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Wall of [lo, hi] not covered by any interval of `iv`. */
  def uncovered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double =
    math.max(0.0, (hi - lo) - unionWithin(iv, lo, hi))
}

/** One recorded span: `req` is the request it served (a batch id, a
  * read id or a query name); times are epoch milliseconds. */
final case class SpanRec(id: Long, name: String, parent: Long, req: String,
                         startMs: Double, endMs: Double) {
  def wallMs: Double = endMs - startMs
}

/** One Spark job as the listener saw it, with its tasks' totals. */
final class JobRec(val id: Int, val group: String, val startMs: Double) {
  @volatile var endMs: Double = Double.NaN
  val stages = new LongAdder
  val tasks = new LongAdder
  val taskMs = new LongAdder
  val gcMs = new LongAdder
  val shuffleRead = new LongAdder
  val shuffleWrite = new LongAdder
  val spill = new LongAdder
  val recordsRead = new LongAdder
  val bytesWritten = new LongAdder
}

/** Per-call totals of one span, inclusive of its child spans' jobs. */
final case class SpanCost(span: SpanRec, jobs: Int, taskMs: Double, driverMs: Double,
                          selfMs: Double, shuffleMb: Double, spillMb: Double,
                          recordsRead: Long, bytesWritten: Long)

/** The benchmark's span recorder plus the listeners that attribute
  * Spark jobs to spans. A span tags the jobs its body starts with its
  * own `spark.jobGroup.id` (`Par` carries the caller's group to its
  * pool threads) and restores the caller's value afterwards. When
  * disabled, `span` runs its body and records nothing, and no listener
  * is registered: the untraced runs measure the program alone.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val GroupKey = "spark.jobGroup.id"
  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[SpanRec]
  private val jobs = new ConcurrentHashMap[Int, JobRec]
  private val stageJob = new ConcurrentHashMap[Int, Int]
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val costNs = new AtomicLong
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble

  def nowMs(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body finally costNs.addAndGet(System.nanoTime() - t0)
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey))).getOrElse("")
      val j = new JobRec(e.jobId, group, e.time.toDouble)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      Option(stageJob.get(e.stageInfo.stageId)).flatMap(j => Option(jobs.get(j)))
        .foreach(_.stages.increment())
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val m = e.taskMetrics
      Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
        j.tasks.increment()
        if (m != null) {
          j.taskMs.add(m.executorRunTime)
          j.gcMs.add(m.jvmGCTime)
          j.shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
          j.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
          j.spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
          j.recordsRead.add(m.inputMetrics.recordsRead)
          j.bytesWritten.add(m.outputMetrics.bytesWritten)
        }
      }
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      timed(progress.add(e.progress))
  }

  def span[T](name: String, req: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      val prev = sc.getLocalProperty(GroupKey)
      sc.setLocalProperty(GroupKey, s"gb-$id")
      stack.set(id :: stack.get)
      val start = nowMs()
      costNs.addAndGet(System.nanoTime() - t0)
      try body
      finally {
        val t1 = System.nanoTime()
        val end = nowMs()
        stack.set(stack.get.tail)
        sc.setLocalProperty(GroupKey, prev)
        spans.add(SpanRec(id, name, parent, req, start, end))
        costNs.addAndGet(System.nanoTime() - t1)
      }
    }

  /** Wait (bounded) until every started job has been seen to end: the
    * listener bus delivers events asynchronously. */
  def settle(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (jobs.values.asScala.exists(_.endMs.isNaN) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(50)
  }

  def allSpans: Seq[SpanRec] = spans.asScala.toSeq.sortBy(_.startMs)
  def allJobs: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.id)
  def progresses: Seq[StreamingQueryProgress] = progress.asScala.toSeq
  def overheadMs: Double = costNs.get / 1e6

  /** Inclusive costs of every span: jobs tagged with the span's group
    * or any descendant's. */
  def costs(): Seq[SpanCost] = {
    val all = allSpans
    val children = all.groupBy(_.parent)
    val byGroup = allJobs.groupBy(_.group)
    def subtree(s: SpanRec): Seq[SpanRec] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    all.map { s =>
      val tree = subtree(s)
      val js = tree.flatMap(t => byGroup.getOrElse(s"gb-${t.id}", Nil))
      val iv = js.map(j => (j.startMs, if (j.endMs.isNaN) s.endMs else j.endMs))
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs))
      SpanCost(s, js.size, js.map(_.taskMs.sum.toDouble).sum,
        Intervals.uncovered(iv, s.startMs, s.endMs),
        Intervals.uncovered(kids, s.startMs, s.endMs),
        js.map(j => j.shuffleRead.sum + j.shuffleWrite.sum).sum / 1048576.0,
        js.map(_.spill.sum).sum / 1048576.0,
        js.map(_.recordsRead.sum).sum, js.map(_.bytesWritten.sum).sum)
    }
  }

  /** Totals over every job that started in [lo, hi]. */
  def sparkTotals(lo: Double, hi: Double): Map[String, Double] = {
    val js = allJobs.filter(j => j.startMs >= lo && j.startMs <= hi)
    val iv = js.map(j => (j.startMs, if (j.endMs.isNaN) hi else j.endMs))
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> js.map(_.stages.sum).sum.toDouble,
      "spark.tasks" -> js.map(_.tasks.sum).sum.toDouble,
      "spark.task_ms" -> js.map(_.taskMs.sum).sum.toDouble,
      "spark.gc_ms" -> js.map(_.gcMs.sum).sum.toDouble,
      "spark.shuffle_read_mb" -> js.map(_.shuffleRead.sum).sum / 1048576.0,
      "spark.shuffle_write_mb" -> js.map(_.shuffleWrite.sum).sum / 1048576.0,
      "spark.spill_mb" -> js.map(_.spill.sum).sum / 1048576.0,
      "spark.driver_ms" -> Intervals.uncovered(iv, lo, hi))
  }

  /** Spans as JSON lines, with self time and driver time per span. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val lines = costs().map { c =>
      val s = c.span
      f"""{"id":${s.id},"name":${q(s.name)},"parent":${s.parent},"req":${q(s.req)},""" +
        f""""start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f,"self_ms":${c.selfMs}%.3f,""" +
        f""""jobs":${c.jobs},"task_ms":${c.taskMs}%.0f,"driver_ms":${c.driverMs}%.3f}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}
