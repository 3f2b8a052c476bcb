package graft.plans

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.{JobCount, SparkSpec, TestTmp}
import graft.cdc.{MaterializedAgg, MaterializedJoin, MaterializedTopK}
import graft.sinks.{PkTableSink, TxLog}
import graft.streaming.KmvMv

/** The write and publish paths run only the jobs that write data: the
  * blooms are built inside the parquet write, schemas are recorded by
  * the writer, and a publish does not re-read what it wrote. */
class JobCountSpec extends SparkSpec {
  import spark.implicits._

  test("a mergeTx commit with bloomCols and no compaction runs exactly one job") {
    val root = TestTmp.dir("jobs").toString + "/lake"
    // one partition, like a one-file micro-batch: the latest-per-key
    // compaction needs no exchange, so the write is the only job left
    def batch(from: Long) = (from until from + 50L)
      .map(i => (i, 1L, i * 7919L % 1000L, s"v$i", false)).toDF("id", "ver", "ref", "v", "del")
      .coalesce(1)
    def merge(from: Long) = PkTableSink.mergeTx(spark, root, batch(from), Seq("id"), Seq("ver"),
      "del", writer = "w", bloomCols = Seq("ref"), compactAfterDeltas = Int.MaxValue)
    val (_, baseJobs) = JobCount(spark)(merge(0L))
    val (_, deltaJobs) = JobCount(spark)(merge(25L))
    assert(TxLog.current(spark, root).get.deltas.size == 1)
    assert(baseJobs == 1, s"base commit ran $baseJobs jobs")
    assert(deltaJobs == 1, s"delta commit ran $deltaJobs jobs")
    assert(PkTableSink.readTx(spark, root, batch(0L).drop("del")).count() == 75L)
  }

  test("a mergeTx commit keyed on non-ASCII strings or on a decimal runs exactly one job") {
    // no commit writes a stats file, so no key type sends one down a
    // schema inference and a per-file stats job
    def check(name: String, key: org.apache.spark.sql.Column): Unit = {
      val root = TestTmp.dir("jobs").toString + s"/$name"
      def batch(from: Long) = (from until from + 50L)
        .map(i => (i, 1L, s"v$i", false)).toDF("i", "ver", "v", "del")
        .withColumn("k", key).drop("i")
        .coalesce(1)
      def merge(from: Long) = PkTableSink.mergeTx(spark, root, batch(from), Seq("k"), Seq("ver"),
        "del", writer = "w", compactAfterDeltas = Int.MaxValue)
      val (_, baseJobs) = JobCount(spark)(merge(0L))
      val (_, deltaJobs) = JobCount(spark)(merge(25L))
      assert(baseJobs == 1, s"$name: base commit ran $baseJobs jobs")
      assert(deltaJobs == 1, s"$name: delta commit ran $deltaJobs jobs")
      assert(PkTableSink.readTx(spark, root, batch(0L).drop("del")).count() == 75L)
    }
    // min "é100000", max "ü100049": both ends non-ASCII
    check("utf8", concat(when(col("i") % 2 === 0, lit("é")).otherwise(lit("ü")),
      (col("i") + 100000L).cast("string")))
    check("decimal", (col("i") * 1.25).cast("decimal(12,2)"))
  }

  test("registerSketchSnapshot runs only its write's jobs, and MvDef.rows equals count()") {
    val base = TestTmp.dir("jobs").toString
    val (root, src, snap) = (s"$base/kmv", s"$base/src", s"$base/snap")
    def batch(from: Int) = (from until from + 40)
      .map(i => (i.toLong, s"g${i % 5}")).toDF("id", "g")
    assert(KmvMv.maintainTx(root, batch(0), 1L, Seq("g"), col("id"), writer = "j"))
    assert(KmvMv.maintainTx(root, batch(20), 2L, Seq("g"), col("id"), writer = "j"))
    assert(TxLog.current(spark, root).get.tables("mv").split(",").length == 2,
      "a two-dir MV")
    val frame = KmvMv.readMv(spark, root, spark.emptyDataFrame)
    val (_, writeJobs) = JobCount(spark)(frame.write.parquet(s"$base/scratch"))
    val aggs = Map[String, MvRewrite.AggKind]("sk" -> MvRewrite.KmvSketchOf("id"))
    val (_, publishJobs) = JobCount(spark)(MvRewrite.registerSketchSnapshot(
      spark, src, frame, snap, Seq("g"), aggs, mvRoot = Some(root)))
    assert(publishJobs == writeJobs,
      s"publish ran $publishJobs jobs; writing the frame runs $writeJobs")
    val Seq(mv) = MvRewrite.lookup(MvRewrite.normalize(src))
    assert(mv.rows == spark.read.parquet(mv.mvPath).count())
    assert(mv.rows == 5L)
    MvRewrite.deregister(src)
  }

  test("reading a 40-layer table runs as many jobs as reading a 2-layer table") {
    // one layered scan at any depth: no listing job, no per-layer plan
    def lake(layers: Int): String = {
      val root = TestTmp.dir("jobs").toString + s"/l$layers"
      (0 until layers).foreach { i =>
        PkTableSink.mergeTx(spark, root,
          (0L until 10L).map(k => (k + i * 3L, i.toLong, s"v$i", k == 9L)).toDF("id", "ver", "v", "del"),
          Seq("id"), Seq("ver"), "del", writer = "w", compactAfterDeltas = Int.MaxValue)
      }
      assert(TxLog.current(spark, root).get.deltas.size == layers - 1)
      root
    }
    def read(root: String) = PkTableSink.readTx(spark, root, spark.emptyDataFrame).collect()
    val (two, forty) = (lake(2), lake(40))
    read(two); read(forty) // warm: the first read of a dir is not what is compared
    val (rows2, jobs2) = JobCount(spark)(read(two))
    val (rows40, jobs40) = JobCount(spark)(read(forty))
    assert(jobs40 == jobs2, s"40 layers ran $jobs40 jobs, 2 layers $jobs2")
    assert(rows2.length == 12 && rows40.length == 126)
  }

  // changelog rows over 20 keys: inserts, group moves and deletes
  private def mvBatch(i: Int): DataFrame = (0 until 12).map { j =>
    val k = ((i * 7 + j) % 20).toLong
    (k, i.toLong, s"g${(k + i) % 4}", (i * 10 + j).toDouble, j % 5 == 4, k % 5)
  }.toDF("k", "ver", "g", "v", "del", "c")

  private def custBatch(i: Int): DataFrame = (0 until 3).map { j =>
    val c = ((i + j) % 5).toLong
    (c, i.toLong, s"s${(c + i) % 2}", false)
  }.toDF("cid", "cver", "seg", "cdel")

  /** Jobs and `localCheckpoint` queries of round 4 of a kernel on a
    * fresh root (rounds 1-3 untimed, so round 4 reads a 3-layer state). */
  private def steadyRound(round: (String, Int) => Boolean): (Int, Int) = {
    val root = TestTmp.dir("jobs").toString + "/mv"
    (1 to 3).foreach(i => assert(round(root, i)))
    val ckpts = new AtomicInteger()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "localCheckpoint") ckpts.incrementAndGet()
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // the fence that ends JobCount's block rides the same listener
    // queue, so every checkpoint of the round has been seen after it
    try { val (ok, jobs) = JobCount(spark)(round(root, 4)); assert(ok); (jobs, ckpts.get) }
    finally spark.listenerManager.unregister(listener)
  }

  test("a steady MV round runs no more jobs than the two-pass round did, and one checkpoint") {
    val sums = Seq("total" -> col("v"))
    val exts = Seq(MaterializedAgg.Extremum("lo", col("v"), isMin = true),
      MaterializedAgg.Extremum("hi", col("v"), isMin = false))
    val got = Map(
      "agg" -> steadyRound((r, i) => MaterializedAgg.maintainTx(r, mvBatch(i), i.toLong,
        Seq("k"), Seq("ver"), col("del"), Seq("g"), sums, writer = "job")),
      "minmax" -> steadyRound((r, i) => MaterializedAgg.maintainMinMaxTx(r, mvBatch(i), i.toLong,
        Seq("k"), Seq("ver"), col("del"), Seq("g"), sums, exts, writer = "job")),
      "topk" -> steadyRound((r, i) => MaterializedTopK.maintainTx(r, mvBatch(i), i.toLong,
        Seq("k"), Seq("ver"), col("del"), Seq("g"), col("v"), k = 2, writer = "job")),
      "join" -> steadyRound((r, i) => MaterializedJoin.maintainAggTx(r, Seq(
          MaterializedJoin.BatchIn("o", mvBatch(i), Seq("k"), Seq("ver"), col("del")),
          MaterializedJoin.BatchIn("c", custBatch(i), Seq("cid"), Seq("cver"), col("cdel"))),
        Seq("c" -> "cid"), Seq("seg", "v"), Seq("seg"), sums, i.toLong, writer = "job")))
    info(got.toSeq.sortBy(_._1).map { case (k, (j, c)) => s"$k: $j jobs, $c checkpoints" }
      .mkString("; "))
    // jobs of the same round under the two-pass kernels, which ran 2
    // checkpoints for min/max and top-k (now 10, 16, 11 and 16 jobs)
    val before = Map("agg" -> 11, "minmax" -> 20, "topk" -> 15, "join" -> 22)
    got.foreach { case (k, (jobs, _)) =>
      assert(jobs <= before(k), s"$k: $jobs jobs, the two-pass round ran ${before(k)}") }
    assert(got("minmax")._2 == 1 && got("topk")._2 == 1,
      s"min/max and top-k checkpoints per round: ${got("minmax")._2}, ${got("topk")._2}")
  }
}
