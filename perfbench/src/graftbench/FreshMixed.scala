package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.cdc.MaterializedAgg
import graft.plans.MvRewrite
import graft.sinks.{PkTableSink, TxLog}
import graft.streaming.{CdcStream, MvRefresher}

/** fresh_mixed: change-to-query freshness through lake → MV → rewrite.
  *
  * Open loop on both sides. A dropper thread moves pre-generated
  * envelope files atomically into the watched directory on a fixed
  * schedule; a reader thread issues point, range and MV-SQL reads on
  * its own fixed schedule. Each micro-batch runs `CdcStream.unwrap` →
  * `upsertStates`, then in `foreachBatch`: `PkTableSink.mergeTx` (lake),
  * `MaterializedAgg.maintainTx` (MV), `MvRefresher.runOnce` (publish
  * for the rewrite). An event's freshness runs from its due time to
  * the return of the publish covering its batch; batches are mapped to
  * files through the stream's own offset and source logs after the
  * run, so the measured path carries no extra Spark job.
  */
object FreshMixed {
  val Keys = 4000
  val Groups = 32
  // Rates at half of the measured knees (perfbench/sweep.py, see the
  // README): a one-file batch takes about 3.5-4 s on a 4-core machine,
  // so above about 0.3 files/s files queue behind running batches and
  // freshness climbs; the reader falls behind above about 1 read/s.
  val FilesPerS = 0.15
  val EventsPerFile = 12
  val ReadsPerS = 0.5
  val WarmFiles = 3
  val SetupReps = 3
  // compaction every 4 deltas: the two batches a window holds do not
  // compact, so freshness is the per-batch fixed cost; compaction is
  // measured on bulk_ingest
  val CompactAfter = 4

  private val payload = StructType(Seq(StructField("id", LongType),
    StructField("grp", StringType), StructField("amount", LongType), StructField("seq", LongType)))
  private val lakeSchema = StructType(Seq(StructField("id", LongType),
    StructField("grp", StringType), StructField("amount", LongType), StructField("seq", LongType),
    StructField("ver_ms", LongType)))
  private val mvSchema = StructType(Seq(StructField("grp", StringType),
    StructField("n", LongType), StructField("amount", LongType), StructField("batch_id", LongType)))
  val MvSql = "SELECT grp, count(*) AS n, sum(amount) AS amount_sum FROM fresh_orders GROUP BY grp"

  private def empty(spark: SparkSession, s: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], s)

  private final case class Roots(lake: String, mv: String, pub: String, src: String)

  def run(c: Ctx): Outcome = {
    val spark = c.spark
    val tr = c.tracer
    val gen = new ChangeStream(c.seed, Seq(Gen.freshSpec(Keys, Groups)))
    val snap = gen.snapshot(Gen.T0 - 60000L)
    val filesPerS = c.knob("files-per-s", FilesPerS)
    val readsPerS = c.knob("reads-per-s", ReadsPerS)
    val measured = math.ceil(c.seconds * filesPerS).toInt
    val files = (0 until WarmFiles + measured).map { i =>
      val due = math.round((i - WarmFiles) * 1000.0 / filesPerS)
      gen.file(i, due, Gen.T0 + math.round(i * 1000.0 / filesPerS), EventsPerFile)
    }
    val reads = Gen.reads(c.seed, math.ceil(c.seconds * readsPerS).toInt, readsPerS, Keys)
    val stage = Paths.get(c.dir("fresh/stage")); Files.createDirectories(stage)
    val input = Paths.get(c.dir("fresh/input")); Files.createDirectories(input)
    files.foreach(f => Files.write(stage.resolve(f"f${f.index}%05d.json"), f.bytes))

    val model = new Model
    snap.foreach(model.apply)
    files.foreach(_.all.foreach(model.apply))

    val snapDf = spark.createDataFrame(spark.sparkContext.parallelize(snap.map { e =>
      val m = e.image.toMap
      Row(m("id"), m("grp"), m("amount"), m("seq"), e.tsMs, false)
    }, c.cores), lakeSchema.add("del", BooleanType))

    def publish(r: Roots): Unit = MvRewrite.registerSketchSnapshot(spark, r.src,
      PkTableSink.readTxGroup(spark, r.mv, "mv", empty(spark, mvSchema))
        .select(col("grp"), col("n"), col("amount").as("amount_sum")),
      r.pub, Seq("grp"), Map("n" -> MvRewrite.CountStar, "amount_sum" -> MvRewrite.SumOf("amount")),
      mvRoot = Some(r.mv))

    // set-up, repeated: initial snapshot into the lake and the MV, then
    // the first publish; the last repetition's roots serve the run
    var roots: Roots = null
    val setupS = (0 until SetupReps).map { rep =>
      val r = Roots(c.dir(s"fresh/lake$rep"), c.dir(s"fresh/mv$rep"),
        c.dir(s"fresh/pub$rep"), c.dir(s"fresh/src$rep"))
      val t0 = System.nanoTime()
      PkTableSink.mergeTx(spark, r.lake, snapDf, Seq("id"), Seq("ver_ms", "seq"), "del",
        writer = "snapshot", compactAfterDeltas = CompactAfter, bloomCols = Seq("grp"))
      MaterializedAgg.maintainTx(r.mv, snapDf, 0L, Seq("id"), Seq("ver_ms", "seq"), col("del"),
        Seq("grp"), Seq("amount" -> col("amount")), writer = "snapshot")
      empty(spark, lakeSchema).write.parquet(r.src)
      publish(r)
      roots = r
      (System.nanoTime() - t0) / 1e9
    }
    val r = roots
    spark.read.parquet(r.src).createOrReplaceTempView("fresh_orders")
    val regs = Seq(MvRefresher.Refreshable("fresh", r.pub, publish = () => publish(r)))

    val batchStart = new java.util.concurrent.ConcurrentHashMap[Long, Double]()
    val publishEnd = new java.util.concurrent.ConcurrentHashMap[Long, Double]()
    val compacted = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val applied = new java.util.concurrent.atomic.AtomicInteger
    val tx0 = TxLog.versions(spark, r.lake).size
    val t1 = System.nanoTime()
    val ckpt = c.dir("fresh/ckpt")
    val states = CdcStream.upsertStates(CdcStream.unwrap(
      CdcStream.fileSource(spark, input.toString), "json", payload,
      keyField = "id", seqField = "seq"))
    val query = states.writeStream
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .foreachBatch { (batch: Dataset[CdcStream.KeyState], batchId: Long) =>
        batchStart.put(batchId, tr.nowMs())
        val b = batch.toDF()
          .select(from_json(col("payload"), payload).as("p"), col("versionMs"), col("deleted"))
          .select(col("p.id"), col("p.grp"), col("p.amount"), col("p.seq"),
            col("versionMs").as("ver_ms"), col("deleted").as("del"))
          .persist()
        try {
          val before = if (tr.enabled) TxLog.current(spark, r.lake).map(_.dataDir) else None
          tr.span("sinks.merge", s"b$batchId") {
            PkTableSink.mergeTx(spark, r.lake, b, Seq("id"), Seq("ver_ms", "seq"), "del",
              writer = "stream", compactAfterDeltas = CompactAfter, bloomCols = Seq("grp"))
          }
          if (tr.enabled && TxLog.current(spark, r.lake).map(_.dataDir) != before)
            compacted.add(s"b$batchId")
          val ok = tr.span("cdc.mv_agg", s"b$batchId") {
            MaterializedAgg.maintainTx(r.mv, b, batchId, Seq("id"), Seq("ver_ms", "seq"),
              col("del"), Seq("grp"), Seq("amount" -> col("amount")), writer = "stream")
          }
          if (ok) applied.incrementAndGet()
          tr.span("plans.publish", s"b$batchId")(MvRefresher.runOnce(spark, regs))
        } finally b.unpersist()
        publishEnd.put(batchId, tr.nowMs())
        ()
      }
      .start()

    def drop(f: EnvFile): Unit = {
      val name = f"f${f.index}%05d.json"
      Files.move(stage.resolve(name), input.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    }
    // warm pass: the first files and one read of each kind, untimed
    files.take(WarmFiles).foreach(drop)
    query.processAllAvailable()
    val warmReads = Seq(Read(-1, 0, "point", 1, 0), Read(-2, 0, "range", 0, 63), Read(-3, 0, "mv_sql", 0, 0))
    warmReads.foreach(rd => readOnce(c, r, rd))
    val streamWarmS = (System.nanoTime() - t1) / 1e9
    Heap.sample()
    val setup = c.sessionS + Stats.median(setupS) + streamWarmS
    System.err.println(f"[perfbench] fresh_mixed setup reps=${setupS.map(s => f"$s%.2f").mkString(",")} stream+warm=$streamWarmS%.2f")

    // ---- measured window: two open-loop clients
    val measureStart = tr.nowMs()
    val dropLate = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val dropper = new Thread(() => files.drop(WarmFiles).foreach { f =>
      val due = measureStart + f.dueMs
      val wait = due - tr.nowMs()
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      drop(f)
      dropLate.add(tr.nowMs() - due)
    }, "perfbench-dropper")
    val readLat = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double, Double)]()
    val reader = new Thread(() => reads.foreach { rd =>
      val due = measureStart + rd.dueMs
      val wait = due - tr.nowMs()
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      val late = tr.nowMs() - due
      c.tally.op(readOnce(c, r, rd)).foreach(_ => readLat.add((rd.kind, tr.nowMs() - due, late)))
    }, "perfbench-reader")
    dropper.start(); reader.start()
    dropper.join(); reader.join()
    query.processAllAvailable()
    val measureEnd = tr.nowMs()
    query.stop()
    val streamErr = query.exception
    streamErr.foreach(e => c.tally.op(throw e))

    // ---- freshness from the stream's offset and source logs
    val fileBatch = batchOfFile(Paths.get(ckpt))
    val measuredFiles = files.drop(WarmFiles)
    def batchOf(f: EnvFile) = fileBatch.get(f"f${f.index}%05d.json")
    c.tally.check(s"fresh_mixed: all $measured dropped files map to a batch in the offset log")(
      measuredFiles.forall(batchOf(_).nonEmpty))
    val freshOf = measuredFiles.flatMap { f =>
      batchOf(f).flatMap(b => Option(publishEnd.get(b))).map(end => f -> (end - (measureStart + f.dueMs)))
    }
    val fresh = freshOf.map(_._2)
    val batchesCovering = measuredFiles.flatMap(batchOf).toSet
    c.tally.attempted += batchesCovering.size
    c.tally.check(s"fresh_mixed: all $measured dropped files reached a publish")(fresh.size == measured)
    // pipeline capacity: changes the measured batches made queryable over
    // the summed foreachBatch busy time (batch start to publish return).
    // Changes, not envelopes: the redelivered copies vary with the seed.
    val busyS = batchesCovering.toSeq.flatMap(b =>
      Option(publishEnd.get(b)).map(_ - batchStart.get(b))).sum / 1000.0
    val changes = freshOf.map(_._1.originals.size).sum
    Heap.sample()
    val e2e = Map(
      "setup_s" -> setup,
      "p50_ms" -> Stats.median(fresh),
      "ops_per_s" -> changes / busyS,
      "heap_live_peak_mb" -> Heap.peakMb)
    val (early, late) = fresh.splitAt(fresh.size / 2)
    val rl = readLat.asScala.toSeq
    System.err.println(f"[perfbench] fresh_mixed files=${fresh.size} batches=${batchesCovering.size} " +
      f"fresh_p50=${Stats.median(fresh)}%.1f p90=${Stats.pct(fresh, 90)}%.1f " +
      f"first_half_p50=${Stats.median(early)}%.1f second_half_p50=${Stats.median(late)}%.1f " +
      f"busy_s=$busyS%.2f busy_share=${busyS * 1000 / (measureEnd - measureStart)}%.2f " +
      f"changes_per_busy_s=${e2e("ops_per_s")}%.1f reads=${rl.size} " +
      f"read_p50=${Stats.median(rl.map(_._2))}%.1f read_late_p99=${Stats.pct(rl.map(_._3), 99)}%.1f")

    // ---- checks against the reference model
    checks(c, r, model, reads)

    val layers = if (!tr.enabled) Map.empty[String, Double] else {
      tr.settle()
      val costs = tr.costs().filter(_.span.startMs >= measureStart)
      def readStats(kind: String) = {
        val xs = rl.filter(_._1 == kind).map(_._2)
        Map(s"reads.$kind.p50_ms" -> Stats.median(xs), s"reads.$kind.max_ms" -> xs.maxOption.getOrElse(0.0))
      }
      def rowsExamined(name: String) = {
        val cs = costs.filter(_.span.name == name)
        val results = cs.map(x => resultRows.getOrDefault(x.span.req, 0L)).sum
        s"$name.rows_examined_per_result" -> cs.map(_.recordsRead).sum.toDouble / math.max(1L, results)
      }
      val progs = tr.progresses.filter(_.numInputRows > 0)
      def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
        Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
      val lastState = tr.progresses.lastOption.flatMap(_.stateOperators.headOption)
      val inputLag = batchesCovering.toSeq.flatMap { b =>
        val dues = measuredFiles.filter(f => batchOf(f).contains(b))
          .map(f => measureStart + f.dueMs)
        Option(batchStart.get(b)).filter(_ => dues.nonEmpty).map(_ - dues.min)
      }
      val mvSql = costs.filter(_.span.name == "plans.mv_sql")
      val versions = TxLog.versions(spark, r.lake)
      val depthMax = versions.flatMap(v => TxLog.at(spark, r.lake, v)).map(_.deltas.size).maxOption.getOrElse(0)
      Metrics.callCosts(costs, "sinks.merge", Seq("wall_ms", "wall_p95_ms", "jobs", "task_ms",
          "driver_ms", "bytes_written")) ++
        Metrics.callCosts(costs, "cdc.mv_agg") ++
        Metrics.callCosts(costs, "plans.publish", Seq("wall_ms", "jobs", "driver_ms")) ++
        Metrics.callCosts(costs, "sinks.point", Seq("wall_ms", "jobs", "driver_ms")) ++
        Metrics.callCosts(costs, "sinks.range", Seq("wall_ms", "jobs", "driver_ms")) ++
        Map(rowsExamined("sinks.point"), rowsExamined("sinks.range")) ++
        readStats("point") ++ readStats("range") ++ readStats("mv_sql") ++
        tr.sparkTotals(measureStart, measureEnd) ++ Map(
        "streaming.trigger_ms" -> Stats.median(progs.map(dur(_, "triggerExecution"))),
        "streaming.plan_ms" -> Stats.median(progs.map(dur(_, "queryPlanning"))),
        "streaming.offsets_ms" -> Stats.median(progs.map(p =>
          dur(p, "latestOffset") + dur(p, "walCommit") + dur(p, "commitOffsets"))),
        "streaming.input_lag_ms" -> Stats.median(inputLag),
        "streaming.batches" -> batchesCovering.size.toDouble,
        "streaming.rows_per_batch" -> Stats.median(progs.map(_.numInputRows.toDouble)),
        "streaming.state_rows" -> lastState.map(_.numRowsTotal.toDouble).getOrElse(0.0),
        "streaming.state_mb" -> lastState.map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0),
        "sinks.compact.count" -> compacted.size.toDouble,
        "sinks.compact.wall_ms" -> compactWall(costs, "sinks.merge", compacted.asScala.toSet),
        "sinks.tx.versions" -> (versions.size - tx0).toDouble,
        "sinks.tx.delta_depth_max" -> depthMax.toDouble,
        "cdc.mv.applied_ratio" -> applied.get.toDouble / math.max(1, batchStart.size),
        "plans.mv_sql.plan_ms" -> Stats.median(mvSql.map(x => planMs.getOrDefault(x.span.req, 0.0))),
        "plans.mv_sql.exec_ms" -> Stats.median(mvSql.map(x => x.span.wallMs - planMs.getOrDefault(x.span.req, 0.0))),
        "plans.mv_sql.jobs" -> Stats.median(mvSql.map(_.jobs.toDouble)),
        "plans.rewrite_hit_ratio" -> rewriteHits.get.toDouble / math.max(1, rewriteTries.get),
        "e2e.p90_ms" -> Stats.pct(fresh, 90),
        "e2e.samples" -> fresh.size.toDouble,
        "load.gen_late_ms_p99" -> Stats.pct(dropLate.asScala.toSeq, 99),
        "load.read_late_ms_p99" -> Stats.pct(rl.map(_._3), 99))
    }
    MvRewrite.deregister(r.src)
    Outcome(e2e, layers)
  }

  /** Median wall of the merge calls during which a compaction ran
    * (the manifest's base dir changed), 0 when none did. */
  def compactWall(costs: Seq[SpanCost], name: String, compacted: Set[String]): Double = {
    val ws = costs.filter(x => x.span.name == name && compacted.contains(x.span.req)).map(_.span.wallMs)
    if (ws.isEmpty) 0.0 else Stats.median(ws)
  }

  private val resultRows = new java.util.concurrent.ConcurrentHashMap[String, Long]()
  private val planMs = new java.util.concurrent.ConcurrentHashMap[String, Double]()
  private val rewriteHits = new java.util.concurrent.atomic.AtomicInteger
  private val rewriteTries = new java.util.concurrent.atomic.AtomicInteger

  /** The optimized plan must scan the publish and never the source. */
  def scansPublish(df: DataFrame, pub: String, src: String): Boolean = {
    val roots = df.queryExecution.optimizedPlan.collect {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        fs.location.rootPaths.map(_.toUri.getPath)
    }.flatten
    val want = new org.apache.hadoop.fs.Path(pub).toUri.getPath
    val bad = new org.apache.hadoop.fs.Path(src).toUri.getPath
    roots.exists(_.startsWith(want)) && !roots.exists(_.startsWith(bad))
  }

  private def pointDf(c: Ctx, r: Roots, k: Long): DataFrame =
    PkTableSink.readTxPointOn(c.spark, r.lake, empty(c.spark, lakeSchema), "id", k.toString)
  private def rangeDf(c: Ctx, r: Roots, lo: Long, hi: Long): DataFrame =
    PkTableSink.readTxRange(c.spark, r.lake, empty(c.spark, lakeSchema), lo, hi)

  /** One read of the mix; returns its rows. */
  private def readOnce(c: Ctx, r: Roots, rd: Read): Array[Row] = {
    val req = s"r${rd.index}"
    rd.kind match {
      case "point" => c.tracer.span("sinks.point", req) {
        val rows = pointDf(c, r, rd.a).collect(); resultRows.put(req, rows.length.toLong); rows }
      case "range" => c.tracer.span("sinks.range", req) {
        val rows = rangeDf(c, r, rd.a, rd.b).collect(); resultRows.put(req, rows.length.toLong); rows }
      case _ => c.tracer.span("plans.mv_sql", req) {
        val df = c.spark.sql(MvSql)
        df.queryExecution.executedPlan
        val phases = df.queryExecution.tracker.phases
        planMs.put(req, phases.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum)
        rewriteTries.incrementAndGet()
        if (!scansPublish(df, r.pub, r.src))
          throw new IllegalStateException("MV-SQL was not rewritten onto the publish")
        rewriteHits.incrementAndGet()
        df.collect()
      }
    }
  }

  private def rowKey(row: Row): (Long, String, Long) =
    (row.getAs[Long]("id"), row.getAs[String]("grp"), row.getAs[Long]("amount"))

  private def checks(c: Ctx, r: Roots, model: Model, reads: Seq[Read]): Unit = {
    val spark = c.spark
    val live = model.liveByKey("orders").map { case (k, m) =>
      k -> ((k, m("grp").toString, m("amount").asInstanceOf[Long])) }
    val wantMv = model.countSum("orders", "grp", "amount")
    c.tally.check("fresh_mixed: final lake equals the model") {
      val got = PkTableSink.readTx(spark, r.lake, empty(spark, lakeSchema)).collect().map(rowKey)
      got.length == live.size && got.toSet == live.values.toSet
    }
    c.tally.check("fresh_mixed: MV equals the model") {
      val got = PkTableSink.readTxGroup(spark, r.mv, "mv", empty(spark, mvSchema)).collect()
        .map(x => x.getAs[String]("grp") -> ((x.getAs[Long]("n"), x.getAs[Long]("amount")))).toMap
      got == wantMv
    }
    c.tally.check("fresh_mixed: publish is current") { !MvRewrite.publishStale(spark, r.pub) }
    def sqlOk(): Boolean = {
      val df = spark.sql(MvSql)
      scansPublish(df, r.pub, r.src) && df.collect().map(x => x.getString(0) ->
        ((x.getLong(1), x.getLong(2)))).toMap == wantMv
    }
    c.tally.check("fresh_mixed: rewritten SQL equals the model")(sqlOk())
    // quiescent replay of the read mix: the first reads of each kind
    val replay = Seq("point", "range", "mv_sql").flatMap(k => reads.filter(_.kind == k).take(2))
    c.tally.check(s"fresh_mixed: quiescent replay of ${replay.size} reads equals the model") {
      replay.forall { rd => rd.kind match {
        case "point" => pointDf(c, r, rd.a).collect().map(rowKey).toSet == live.get(rd.a).toSet
        case "range" => rangeDf(c, r, rd.a, rd.b).collect().map(rowKey).toSet ==
          live.filter { case (k, _) => k >= rd.a && k <= rd.b }.values.toSet
        case _ => sqlOk()
      } }
    }
  }

  /** file name → micro-batch id, from the checkpoint: `offsets/<b>`
    * holds the file source log offset per batch, `sources/0` the
    * files per log offset. */
  def batchOfFile(ckpt: Path): Map[String, Long] = {
    def lines(p: Path) = Files.readAllLines(p).asScala.toSeq
    val OffRe = """.*"logOffset"\s*:\s*(\d+).*""".r
    val offsets = Files.list(ckpt.resolve("offsets")).iterator().asScala
      .filter(_.getFileName.toString.forall(_.isDigit)).flatMap { p =>
        lines(p).collectFirst { case OffRe(o) => o.toLong -> p.getFileName.toString.toLong }
      }.toSeq.sortBy(_._1)
    val EntryRe = """.*"path"\s*:\s*"([^"]+)".*"batchId"\s*:\s*(\d+).*""".r
    val entries = Files.list(ckpt.resolve("sources/0")).iterator().asScala
      .filterNot(_.getFileName.toString.startsWith(".")).flatMap(p => lines(p).collect {
        case EntryRe(path, b) => path.substring(path.lastIndexOf('/') + 1) -> b.toLong
      }).toMap
    entries.flatMap { case (f, logOff) =>
      offsets.find(_._1 >= logOff).map(o => f -> o._2) }
  }
}
