package graftbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** Everything a workload needs from the harness. `sessionS` is the
  * session start time, counted into set-up. */
final case class Ctx(spark: SparkSession, tracer: Tracer, tally: Tally, seed: Long,
                     seconds: Int, work: Path, corpus: Path, cores: Int, sessionS: Double,
                     opts: Map[String, String] = Map.empty) {
  /** A load knob given on the command line (`--<name> <value>`), else `default`. */
  def knob(name: String, default: Double): Double = opts.get(name).map(_.toDouble).getOrElse(default)
  def dir(name: String): String = {
    val d = work.resolve(name); Files.createDirectories(d.getParent); d.toString
  }
}

/** Runs one workload and prints the result line:
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *  --corpus <dir> [--spans <file>] [--files-per-s <r>] [--reads-per-s <r>]`.
  * The two rates override fresh_mixed's load for a capacity sweep
  * (`perfbench/sweep.py`); benchmark runs use the defaults. */
object Main {
  val workloads = Seq("fresh_mixed", "bulk_ingest", "analytics_suite")

  def session(work: Path, cores: Int, shuffle: Int): SparkSession = {
    val spark = graft.GraftSession.ready(graft.GraftSession.builder(
        master = s"local[$cores]", shufflePartitions = shuffle, maxPartitionBytes = "4m")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("ckpt-default").toString)
      // fresh_mixed maps files to batches through offsets/<b> after the
      // run; keep every batch's offset file, not only the last 100
      .config("spark.sql.streaming.minBatchesToRetain", "100000")
      .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    spark
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(workloads.contains(workload), s"unknown workload $workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)
    val cores = Runtime.getRuntime.availableProcessors()

    val cpuS = Probes.cpuSeconds()
    val ioMbps = Probes.ioMbps(work)
    System.err.println(f"[perfbench] probes cpu_s=$cpuS%.3f io_mbps=$ioMbps%.1f")

    val t0 = System.nanoTime()
    // fresh_mixed's batches hold a dozen rows: one shuffle partition (and
    // one state store) per batch instead of one per core, so the fixed
    // per-batch cost the workload is about is not task fan-out
    val spark = session(work, cores, shuffle = if (workload == "fresh_mixed") 1 else cores)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tracer = new Tracer(spark.sparkContext, trace)
    if (trace) {
      spark.sparkContext.addSparkListener(tracer.sparkListener)
      spark.streams.addListener(tracer.streamListener)
    }
    val ctx = Ctx(spark, tracer, new Tally, seed, seconds, work,
      Paths.get(opts("corpus")).toAbsolutePath, cores, sessionS, opts)
    val runStart = tracer.nowMs()
    val out = try workload match {
      case "fresh_mixed"     => FreshMixed.run(ctx)
      case "bulk_ingest"     => BulkIngest.run(ctx)
      case "analytics_suite" => AnalyticsSuite.run(ctx)
    } finally {
      spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
    }
    val line =
      if (!trace) Metrics.json(ctx.tally.correct, ctx.tally.attempted, ctx.tally.failed,
        Metrics.e2e, out.e2e)
      else {
        tracer.settle()
        val wall = tracer.nowMs() - runStart
        opts.get("spans").foreach(p => tracer.writeSpans(Paths.get(p)))
        val values = out.layers ++ Map(
          "spark.persisted_rdds_end" -> spark.sparkContext.getPersistentRDDs.size.toDouble,
          "probe.cpu_s" -> cpuS, "probe.io_mbps" -> ioMbps,
          "trace.overhead_pct" -> 100.0 * tracer.overheadMs / wall)
        Metrics.json(ctx.tally.correct, ctx.tally.attempted, ctx.tally.failed,
          Metrics.layers, values)
      }
    ctx.tally.failures.foreach(f => System.err.println(s"[perfbench] $f"))
    spark.stop()
    println(line)
  }
}

/** Loads the classes every run needs (session start, SQL, parquet, the
  * lake) so that `build.py` can archive them for class-data sharing:
  * `Prime <work dir>`. */
object Prime {
  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0)).toAbsolutePath
    val spark = Main.session(work, Runtime.getRuntime.availableProcessors(), 2)
    import org.apache.spark.sql.functions._
    val df = spark.range(1000).select(col("id"), (col("id") % 7).cast("string").as("grp"),
      col("id").as("amount"), lit(1L).as("seq"), lit(1L).as("ver_ms"), lit(false).as("del"))
    val lake = work.resolve("lake").toString
    graft.sinks.PkTableSink.mergeTx(spark, lake, df, Seq("id"), Seq("ver_ms", "seq"), "del",
      writer = "prime", bloomCols = Seq("grp"))
    graft.sinks.PkTableSink.readTx(spark, lake, df.limit(0).drop("del"))
      .groupBy("grp").agg(count(lit(1)), sum("amount")).collect()
    df.write.json(work.resolve("json").toString)
    spark.read.json(work.resolve("json").toString).join(df, "id").count()
    spark.stop()
  }
}
