package graftbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.CdcPipeline
import graft.cdc.{MaterializedAgg, MaterializedJoin, MaterializedTopK}
import graft.sinks.{PkTableSink, TxLog}
import graft.streaming.{CdcStream, RbmMv}

/** bulk_ingest: closed loop, one writer, a pre-generated routine-load
  * backlog. Each batch file is routed by `source.table` into a fact
  * (orders) and a dimension (customers) feed, unwrapped, merged into
  * two PK lakes with bloom and stats sidecars, and applied to five MV
  * kernels. The next batch starts when the previous one has returned.
  * No readers run, so read-path changes predict no change here.
  */
object BulkIngest {
  val Orders = 20000
  val Customers = 2000
  val Statuses = 32
  val Regions = 8
  val EventsPerBatch = 3000
  val Backlog = 40
  val SetupReps = 3
  // compaction after every delta: a window holds one or two batches,
  // and each of them should include the compaction it triggers
  val CompactAfter = 1
  val TopK = 5

  private val ordersCfg = CdcPipeline.Config(StructType(Seq(
    StructField("id", LongType), StructField("cust", LongType), StructField("status", StringType),
    StructField("amount", LongType), StructField("seq", LongType))), "id", "seq")
  private val custCfg = CdcPipeline.Config(StructType(Seq(
    StructField("cust_id", LongType), StructField("region", StringType),
    StructField("seq", LongType))), "cust_id", "seq")

  private final case class Roots(orders: String, customers: String, agg: String, minmax: String,
                                 topk: String, join: String, rbm: String)

  def run(c: Ctx): Outcome = {
    val spark = c.spark
    val tr = c.tracer
    val gen = new ChangeStream(c.seed, Gen.bulkSpecs(Orders, Customers, Statuses, Regions))
    val snap = gen.snapshot(Gen.T0 - 60000L)
    val backlog = (1 to Backlog).map(i => gen.file(i, 0L, Gen.T0 + i * 1000L, EventsPerBatch))
    val dir = Paths.get(c.dir("bulk/backlog")); Files.createDirectories(dir)
    def path(i: Int) = dir.resolve(f"b$i%05d.json")
    Files.write(path(0), EnvFile(0, 0L, snap, snap).bytes)
    backlog.foreach(f => Files.write(path(f.index), f.bytes))

    var appliedCount = 0
    var kernelCalls = 0
    val compacted = scala.collection.mutable.Set.empty[String]
    def applyBatch(r: Roots, i: Int, lakes: Boolean = true, kernels: Boolean = true): Long = {
      val env = spark.read.text(path(i).toString).withColumnRenamed("value", "json")
      val (o, cu) = tr.span("cdc.routine_load", s"b$i") {
        val o = CdcPipeline.unwrapBatch(CdcStream.routeTable(env, "json", "orders"), "json", ordersCfg)
          .select(col("id"), col("cust"), col("status"), col("amount"), col("seq").as("o_seq"),
            col("__ts_ms").as("o_ts"), (col("__deleted") === "true").as("o_del"), col("__op").as("o_op"))
          .localCheckpoint(true)
        val cu = CdcPipeline.unwrapBatch(CdcStream.routeTable(env, "json", "customers"), "json", custCfg)
          .select(col("cust_id"), col("region"), col("seq").as("c_seq"),
            col("__ts_ms").as("c_ts"), (col("__deleted") === "true").as("c_del"))
          .localCheckpoint(true)
        (o, cu)
      }
      val rows = o.count() + cu.count()
      val of = o.drop("o_op")
      val oVer = Seq("o_ts", "o_seq")
      val req = s"b$i"
      // a compaction shows as the manifest's base dir changing across
      // the call; the manifest is read only when tracing
      def merge(root: String, table: String)(call: => Long): Unit = {
        val before = if (tr.enabled) TxLog.current(spark, root).map(_.dataDir) else None
        tr.span("sinks.merge", s"$req/$table")(call)
        if (tr.enabled && TxLog.current(spark, root).map(_.dataDir) != before)
          compacted += s"$req/$table"
      }
      if (lakes) {
        merge(r.orders, "orders") {
          PkTableSink.mergeTx(spark, r.orders, of, Seq("id"), oVer, "o_del", writer = "bulk",
            compactAfterDeltas = CompactAfter, bloomCols = Seq("cust"), statsCols = Seq("amount"))
        }
        merge(r.customers, "customers") {
          PkTableSink.mergeTx(spark, r.customers, cu, Seq("cust_id"), Seq("c_ts", "c_seq"), "c_del",
            writer = "bulk", compactAfterDeltas = CompactAfter, bloomCols = Seq("region"))
        }
      }
      if (kernels) {
        val applied = Seq(
          tr.span("cdc.mv_agg", req) {
            MaterializedAgg.maintainTx(r.agg, of, i, Seq("id"), oVer, col("o_del"), Seq("status"),
              Seq("amount" -> col("amount")), writer = "bulk") },
          tr.span("cdc.mv_minmax", req) {
            MaterializedAgg.maintainMinMaxTx(r.minmax, of, i, Seq("id"), oVer, col("o_del"),
              Seq("status"), Seq("amount" -> col("amount")),
              Seq(MaterializedAgg.Extremum("min_amount", col("amount"), isMin = true),
                MaterializedAgg.Extremum("max_amount", col("amount"), isMin = false)),
              writer = "bulk") },
          tr.span("cdc.mv_topk", req) {
            MaterializedTopK.maintainTx(r.topk, of, i, Seq("id"), oVer, col("o_del"), Seq("status"),
              col("amount"), TopK, writer = "bulk") },
          tr.span("cdc.mv_join", req) {
            MaterializedJoin.maintainAggTx(r.join, Seq(
                MaterializedJoin.BatchIn("o", of, Seq("id"), oVer, col("o_del")),
                MaterializedJoin.BatchIn("c", cu, Seq("cust_id"), Seq("c_ts", "c_seq"), col("c_del"))),
              Seq("cust" -> "cust_id"), Seq("region", "amount"), Seq("region"),
              Seq("amount" -> col("amount")), i, writer = "bulk") },
          tr.span("streaming.sketch_mv", req) {
            RbmMv.maintainTx(r.rbm, o.where(col("o_op").isin("c", "r")), i, Seq("status"),
              col("cust"), writer = "bulk") })
        appliedCount += applied.count(identity)
        kernelCalls += applied.size
      }
      o.unpersist(); cu.unpersist()
      rows
    }

    def roots(tag: String) = Roots(c.dir(s"bulk/$tag/orders"), c.dir(s"bulk/$tag/customers"),
      c.dir(s"bulk/$tag/agg"), c.dir(s"bulk/$tag/minmax"), c.dir(s"bulk/$tag/topk"),
      c.dir(s"bulk/$tag/join"), c.dir(s"bulk/$tag/rbm"))

    // set-up: the snapshot into both lakes, repeated into fresh roots
    // (the last repetition serves the run), then once into the five MVs
    var r: Roots = null
    val setupS = (0 until SetupReps).map { rep =>
      r = roots(s"rep$rep")
      val t0 = System.nanoTime()
      applyBatch(r, 0, kernels = false)
      (System.nanoTime() - t0) / 1e9
    }
    val tk = System.nanoTime()
    applyBatch(r, 0, lakes = false)
    val kernelS = (System.nanoTime() - tk) / 1e9
    Heap.sample()
    System.err.println(f"[perfbench] bulk_ingest setup reps=${setupS.map(s => f"$s%.2f").mkString(",")} mvs=$kernelS%.2f")
    appliedCount = 0; kernelCalls = 0; compacted.clear()

    // ---- measured window: closed loop over the backlog
    val bytesBefore = fsBytesWritten()
    val versions0 = TxLog.versions(spark, r.orders).size
    val measureStart = tr.nowMs()
    val batchMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    var rows = 0L
    var envBytes = 0L
    var next = 1
    while (Window.another(next - 1, tr.nowMs() - measureStart, c.seconds) && next <= Backlog) {
      val t0 = tr.nowMs()
      c.tally.op(applyBatch(r, next)).foreach { n =>
        rows += n; envBytes += Files.size(path(next)); batchMs += tr.nowMs() - t0 }
      next += 1
    }
    val measureEnd = tr.nowMs()
    if (next > Backlog) System.err.println("[perfbench] bulk_ingest: backlog exhausted before the window ended")
    val bytesWritten = fsBytesWritten() - bytesBefore
    Heap.sample()
    val e2e = Map(
      "setup_s" -> (c.sessionS + Stats.median(setupS) + kernelS),
      "p50_ms" -> Stats.median(batchMs.toSeq),
      "ops_per_s" -> rows / ((measureEnd - measureStart) / 1000.0),
      "heap_live_peak_mb" -> Heap.peakMb)
    System.err.println(f"[perfbench] bulk_ingest batches=${batchMs.size} rows=$rows " +
      f"batch_p50=${Stats.median(batchMs.toSeq)}%.1f rows_per_s=${e2e("ops_per_s")}%.0f")

    // ---- checks: the model folds every line of the applied batches
    val model = new Model
    (snap +: backlog.take(next - 1).map(_.all)).foreach(_.foreach { e => model.apply(e); model.applyRbm(e) })
    checks(c, r, model)

    val layers = if (!tr.enabled) Map.empty[String, Double] else {
      tr.settle()
      val costs = tr.costs().filter(_.span.startMs >= measureStart)
      val versions = TxLog.versions(spark, r.orders)
      val manifests = versions.flatMap(v => TxLog.at(spark, r.orders, v))
      Seq("cdc.routine_load", "cdc.mv_agg", "cdc.mv_minmax", "cdc.mv_topk", "cdc.mv_join",
        "streaming.sketch_mv").map(Metrics.callCosts(costs, _)).reduce(_ ++ _) ++
        Metrics.callCosts(costs, "sinks.merge", Seq("wall_ms", "wall_p95_ms", "jobs", "task_ms",
          "driver_ms", "bytes_written")) ++
        tr.sparkTotals(measureStart, measureEnd) ++ Map(
        "sinks.compact.count" -> compacted.size.toDouble,
        "sinks.compact.wall_ms" -> FreshMixed.compactWall(costs, "sinks.merge", compacted.toSet),
        "sinks.tx.versions" -> (versions.size - versions0).toDouble,
        "sinks.tx.delta_depth_max" -> manifests.map(_.deltas.size).maxOption.getOrElse(0).toDouble,
        "sinks.write_amp" -> bytesWritten.toDouble / math.max(1L, envBytes),
        "sinks.space_amp" -> spaceAmp(spark, r.orders),
        "cdc.mv.applied_ratio" -> appliedCount.toDouble / math.max(1, kernelCalls),
        "e2e.p90_ms" -> Stats.pct(batchMs.toSeq, 90),
        "e2e.samples" -> batchMs.size.toDouble)
    }
    Outcome(e2e, layers)
  }

  private def fsBytesWritten(): Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum
  }

  private def dirBytes(p: java.nio.file.Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  /** Bytes of the live version's dirs over the bytes of a compacted copy. */
  private def spaceAmp(spark: SparkSession, root: String): Double = {
    val m = TxLog.current(spark, root).get
    val live = (m.dataDir +: m.deltas).map(d => dirBytes(Paths.get(new java.net.URI(
      if (d.contains(":")) d else "file://" + d).getPath))).sum
    val copy = root + "-compacted-copy"
    PkTableSink.readTx(spark, root, spark.emptyDataFrame).write.parquet(copy)
    live.toDouble / math.max(1L, dirBytes(Paths.get(copy)))
  }

  private def checks(c: Ctx, r: Roots, model: Model): Unit = {
    val spark = c.spark
    def lakeOk(root: String, table: String, cols: Seq[String]): Boolean = {
      val got = PkTableSink.readTx(spark, root, spark.emptyDataFrame)
        .select(cols.map(col): _*).collect().map(_.toSeq.map(_.toString)).toSet
      val want = model.live(table).map(m => cols.map(k => m(k).toString)).toSet
      got == want && got.size == model.live(table).size
    }
    c.tally.check("bulk_ingest: orders lake equals the model")(
      lakeOk(r.orders, "orders", Seq("id", "cust", "status", "amount")))
    c.tally.check("bulk_ingest: customers lake equals the model")(
      lakeOk(r.customers, "customers", Seq("cust_id", "region")))
    def groups(root: String, g: String, cols: String*): Map[String, Seq[Long]] =
      PkTableSink.readTxGroup(spark, root, "mv", spark.emptyDataFrame).collect()
        .map(x => x.getAs[String](g) -> cols.map(x.getAs[Long](_))).toMap
    c.tally.check("bulk_ingest: count/sum MV equals the model") {
      groups(r.agg, "status", "n", "amount") ==
        model.countSum("orders", "status", "amount").map { case (k, (n, s)) => k -> Seq(n, s) }
    }
    c.tally.check("bulk_ingest: min/max MV equals the model") {
      val cs = model.countSum("orders", "status", "amount")
      val mm = model.minMax("orders", "status", "amount")
      groups(r.minmax, "status", "n", "amount", "min_amount", "max_amount") ==
        cs.map { case (k, (n, s)) => k -> Seq(n, s, mm(k)._1, mm(k)._2) }
    }
    c.tally.check("bulk_ingest: top-k MV equals the model") {
      val got = MaterializedTopK.readTx(spark, r.topk, Seq("status"), Seq("id"), "amount").collect()
        .groupBy(_.getAs[String]("status")).map { case (k, rs) =>
          k -> rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("amount")).toSeq }
      got == model.topK("orders", "status", "amount", TopK)
    }
    c.tally.check("bulk_ingest: join MV equals the model") {
      groups(r.join, "region", "n", "amount") ==
        model.joinAgg().map { case (k, (n, s)) => k -> Seq(n, s) }
    }
    c.tally.check("bulk_ingest: bitmap MV equals the model") {
      val got = RbmMv.rollup(RbmMv.readMv(spark, r.rbm, spark.emptyDataFrame), Seq("status")).collect()
        .map(x => x.getAs[String]("status") -> ((x.getAs[Long]("n_events"), x.getAs[Long]("n_distinct")))).toMap
      got == model.rbm
    }
  }
}
