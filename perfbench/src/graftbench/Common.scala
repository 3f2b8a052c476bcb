package graftbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

object Stats {
  /** Nearest-rank percentile, `p` in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

/** Closed-loop windows run whole units (batches, passes). Another unit
  * starts only if, at the average pace of the units so far, it ends
  * inside the `seconds` window; the first unit always runs. */
object Window {
  def another(units: Int, elapsedMs: Double, seconds: Int): Boolean =
    units == 0 || elapsedMs * (units + 1) / units <= seconds * 1000.0
}

/** Machine probes taken before every run, so throttle windows show next
  * to the numbers: a single-core FNV loop and a 256 MiB write + fsync. */
object Probes {
  def cpuSeconds(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var acc = 1469598103934665603L
      var i = 0
      while (i < 200000000) { acc = (acc ^ i) * 1099511628211L; i += 1 }
      if (acc == 42L) System.err.println("cpu probe sentinel")
      (System.nanoTime() - t0) / 1e9
    }
    once()
    math.min(once(), once())
  }

  def ioMbps(dir: java.nio.file.Path): Double = {
    val f = dir.resolve("ioprobe.bin").toFile
    try {
      val buf = new Array[Byte](1 << 20)
      val t0 = System.nanoTime()
      val out = new java.io.FileOutputStream(f)
      try {
        var i = 0
        while (i < 256) { out.write(buf); i += 1 }
        out.getFD.sync()
      } finally out.close()
      256.0 / ((System.nanoTime() - t0) / 1e9)
    } finally { f.delete(); () }
  }
}

/** Live heap: old-generation bytes in use right after a full
  * collection, sampled at fixed points of the run (end of set-up, end
  * of the measured window). The peak of those samples is reported.
  * A sample is the least of three collections 300 ms apart: retention
  * that waits on a collection or on an asynchronous queue (Spark's
  * ContextCleaner, its listener bus) can only inflate a reading. */
object Heap {
  private val oldPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

  private var peak = 0L

  def sample(): Unit = {
    val used = (1 to 3).map { _ =>
      System.gc()
      val u = oldPools.map(p => Option(p.getCollectionUsage).map(_.getUsed)
        .getOrElse(p.getUsage.getUsed)).sum
      Thread.sleep(300)
      u
    }.min
    System.err.println(f"[perfbench] live heap sample ${used / 1048576.0}%.1f MB")
    peak = math.max(peak, used)
  }

  def peakMb: Double = peak / 1048576.0
}

/** Tally of operations and checks for the result line. A failed
  * operation or check is recorded and counted, never dropped. */
final class Tally {
  var attempted = 0L
  var failed = 0L
  val failures = scala.collection.mutable.ArrayBuffer.empty[String]

  def op[T](body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case e: Throwable =>
      failed += 1
      failures += s"op failed: ${e.getClass.getSimpleName}: ${e.getMessage}"
      System.err.println(s"[perfbench] operation failed: $e")
      None
    }
  }

  def check(name: String, quiet: Boolean = false)(ok: => Boolean): Unit = {
    attempted += 1
    val pass = try ok catch { case e: Throwable =>
      System.err.println(s"[perfbench] check $name threw: $e"); false }
    if (!pass) {
      failed += 1
      failures += s"check failed: $name"
      System.err.println(s"[perfbench] CHECK FAILED: $name")
    } else if (!quiet) System.err.println(s"[perfbench] check ok: $name")
  }

  /** False as soon as any operation threw or any check failed: a thrown
    * operation never reached its check, so its output is unverified. */
  def correct: Boolean = failures.isEmpty
}

/** What one workload run produced. `e2e` and `layers` map metric name
  * to value; units come from [[Metrics]]. */
final case class Outcome(e2e: Map[String, Double], layers: Map[String, Double])

object Metrics {
  /** End-to-end metrics, printed by every untraced run. */
  val e2e: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "p50_ms" -> "ms", "ops_per_s" -> "1/s", "heap_live_peak_mb" -> "MB")

  private def layer(prefix: String, names: (String, String)*) =
    names.map { case (n, u) => s"$prefix.$n" -> u }
  private val callCost = Seq("wall_ms" -> "ms", "jobs" -> "count", "task_ms" -> "ms", "driver_ms" -> "ms")
  private val familyCost = Seq("wall_s" -> "s", "jobs" -> "count", "task_ms" -> "ms",
    "driver_ms" -> "ms", "shuffle_mb" -> "MB", "spill_mb" -> "MB")

  /** Per-layer metrics, printed by every traced run; a layer that does
    * not run in a workload reports 0. */
  val layers: Seq[(String, String)] =
    layer("streaming", "trigger_ms" -> "ms", "plan_ms" -> "ms", "offsets_ms" -> "ms",
      "input_lag_ms" -> "ms", "batches" -> "count", "rows_per_batch" -> "count",
      "state_rows" -> "count", "state_mb" -> "MB") ++
    layer("sinks.merge", "wall_ms" -> "ms", "wall_p95_ms" -> "ms", "jobs" -> "count",
      "task_ms" -> "ms", "driver_ms" -> "ms", "bytes_written" -> "bytes") ++
    layer("sinks.compact", "count" -> "count", "wall_ms" -> "ms") ++
    layer("sinks.tx", "versions" -> "count", "delta_depth_max" -> "count") ++
    layer("sinks", "write_amp" -> "ratio", "space_amp" -> "ratio") ++
    Seq("sinks.point", "sinks.range").flatMap(p => layer(p, "wall_ms" -> "ms",
      "jobs" -> "count", "driver_ms" -> "ms", "rows_examined_per_result" -> "ratio")) ++
    Seq("cdc.routine_load", "cdc.mv_agg", "cdc.mv_minmax", "cdc.mv_topk", "cdc.mv_join",
      "streaming.sketch_mv").flatMap(p => layer(p, callCost: _*)) ++
    Seq("cdc.mv.applied_ratio" -> "ratio") ++
    layer("plans.publish", "wall_ms" -> "ms", "jobs" -> "count", "driver_ms" -> "ms") ++
    layer("plans.mv_sql", "plan_ms" -> "ms", "exec_ms" -> "ms", "jobs" -> "count") ++
    Seq("plans.rewrite_hit_ratio" -> "ratio") ++
    Seq("reads.point", "reads.range", "reads.mv_sql").flatMap(p =>
      layer(p, "p50_ms" -> "ms", "max_ms" -> "ms")) ++
    Seq("e2e.p90_ms" -> "ms", "e2e.samples" -> "count") ++
    Seq("ops.dedup", "ops.ann", "ops.text", "ops.mm", "functions.sketch", "plans.olap")
      .flatMap(p => layer(p, familyCost: _*)) ++
    layer("spark", "jobs" -> "count", "stages" -> "count", "tasks" -> "count",
      "task_ms" -> "ms", "gc_ms" -> "ms", "shuffle_read_mb" -> "MB",
      "shuffle_write_mb" -> "MB", "spill_mb" -> "MB", "driver_ms" -> "ms",
      "persisted_rdds_end" -> "count") ++
    Seq("load.gen_late_ms_p99" -> "ms", "load.read_late_ms_p99" -> "ms",
      "probe.cpu_s" -> "s", "probe.io_mbps" -> "MB/s", "trace.overhead_pct" -> "%")

  /** Per-call p50 cost of every span named `name` (0 when none ran). */
  def callCosts(costs: Seq[SpanCost], name: String, metrics: Seq[String] =
                Seq("wall_ms", "jobs", "task_ms", "driver_ms")): Map[String, Double] = {
    val cs = costs.filter(_.span.name == name)
    metrics.map {
      case "wall_ms" => s"$name.wall_ms" -> Stats.median(cs.map(_.span.wallMs))
      case "wall_p95_ms" => s"$name.wall_p95_ms" -> Stats.pct(cs.map(_.span.wallMs), 95)
      case "jobs" => s"$name.jobs" -> Stats.median(cs.map(_.jobs.toDouble))
      case "task_ms" => s"$name.task_ms" -> Stats.median(cs.map(_.taskMs))
      case "driver_ms" => s"$name.driver_ms" -> Stats.median(cs.map(_.driverMs))
      case "bytes_written" => s"$name.bytes_written" -> cs.map(_.bytesWritten.toDouble).sum
    }.toMap
  }

  def json(correct: Boolean, attempted: Long, failed: Long,
           catalog: Seq[(String, String)], values: Map[String, Double]): String = {
    val ms = catalog.map { case (n, u) =>
      val v = values.getOrElse(n, 0.0)
      val num = if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
      s""""$n":{"value":$num,"unit":"$u"}"""
    }
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{${ms.mkString(",")}}}"""
  }
}
