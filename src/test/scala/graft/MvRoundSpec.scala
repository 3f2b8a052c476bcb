package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.cdc.MaterializedAgg
import graft.sinks.{PkTableSink, TxLog}

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

/** Parks the FIRST row any task evaluates through [[RoundGate.pass]]
  * until the test releases it — a deterministic stall of one round
  * after its replay guard (no job runs before the guard, so the first
  * gated row belongs to the round's first Spark job). */
object RoundGate {
  val entered = new CountDownLatch(1)
  val release = new CountDownLatch(1)
  private val first = new AtomicBoolean(false)
  def pass(): Unit =
    if (first.compareAndSet(false, true)) {
      entered.countDown()
      release.await(60, TimeUnit.SECONDS)
    }
}

/** Local filesystem under the `countfs` scheme that counts listings of
  * a TxLog `_log` dir. Hadoop may load it through another class loader
  * than the spec's, so the count is read reflectively off the cached
  * instance. */
class LogListCountingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  private val lists = new java.util.concurrent.atomic.AtomicInteger()
  def logLists(): Int = lists.get()
  override def getUri: java.net.URI = java.net.URI.create("countfs:///")
  override def getScheme: String = "countfs"
  override def listStatus(f: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] = {
    if (f.getName == "_log") lists.incrementAndGet()
    super.listStatus(f)
  }
}

/** The exactly-once MV round: one pinned manifest per round, the
  * watermark fenced inside the commit's compare-and-swap. */
class MvRoundSpec extends SparkSpec {
  import spark.implicits._

  // changelog rows: (key, version, group, value, deleted)
  private def chg(rows: (Long, Long, String, Double, Boolean)*): DataFrame =
    rows.toDF("k", "ver", "g", "v", "del")

  private def aggRound(root: String, b: DataFrame, id: Long): Boolean =
    MaterializedAgg.maintainTx(root, b, id, Seq("k"), Seq("ver"), col("del"),
      Seq("g"), Seq("total" -> col("v")), writer = "job")

  private def mv(root: String): Map[String, (Long, Double)] =
    PkTableSink.readTxGroup(spark, root, "mv", chg())
      .select(col("g"), col("n"), col("total"))
      .as[(String, Long, Double)].collect()
      .map { case (g, n, t) => g -> (n, t) }.toMap

  test("round: a stalled zombie cannot re-apply its batch or lower the watermark") {
    val root = TestTmp.dir("mvfence").toString + "/g"
    val b1 = chg((1L, 1L, "a", 10.0, false), (2L, 1L, "b", 4.0, false))
    val b2 = chg((1L, 2L, "b", 11.0, false), (3L, 1L, "a", 5.0, false))
    val gate = udf { (v: Double) => RoundGate.pass(); v }
    // round A: batch 1, stalls in its first job (past its guard)
    val zombie = Future(aggRound(root, b1.coalesce(1).withColumn("v", gate(col("v"))), 1L))
    try {
      assert(RoundGate.entered.await(60, TimeUnit.SECONDS), "round A never started")
      // its restart (round B) applies batch 1 and then batch 2
      assert(aggRound(root, b1, 1L))
      assert(aggRound(root, b2, 2L))
    } finally RoundGate.release.countDown()
    val zombieCommitted = Await.result(zombie, 120.seconds)
    // the stale round must not commit; batch 1 counts once
    // (a = {k3: 5}, b = {k1: 11, k2: 4}); the watermark stays at 2
    val wm = TxLog.current(spark, root).flatMap(_.meta.get("wm.job"))
    assert((zombieCommitted, mv(root), wm) ==
      ((false, Map("a" -> ((1L, 5.0)), "b" -> ((2L, 15.0))), Some("2"))))
  }

  test("round: reads stay on the pinned manifest while a foreign writer commits") {
    import graft.cdc.MvRound
    import PkTableSink.TableBatch
    val root = TestTmp.dir("mvpin").toString + "/g"
    def side(k: Long, ver: Long, v: Double) = Map("side" ->
      TableBatch(chg((k, ver, "s", v, false)), Seq("k"), Seq("ver"), "del"))
    def kv(df: DataFrame) = df.select("k", "v").as[(Long, Double)].collect().toSet
    PkTableSink.mergeTxGroup(spark, root, side(9L, 1L, 1.0), writer = "foreign")
    assert(aggRound(root, chg((1L, 1L, "a", 10.0, false)), 1L))
    val committed = MvRound.run(spark, root, 2L, "job", stateBatches = Nil) { r =>
      // another writer commits to another table of the root mid-round
      PkTableSink.mergeTxGroup(spark, root, side(9L, 2L, 2.0), writer = "foreign")
      assert(TxLog.current(spark, root).map(_.version) != r.manifest.map(_.version))
      assert(kv(r.read("side", chg())) == Set((9L, 1.0)))
      assert(kv(r.layers("state", chg(), deletedCol = "gone")) == Set((1L, 10.0)))
      assert(r.read("mv", chg()).select("g", "n").as[(String, Long)].collect().toSeq ==
        Seq(("a", 1L)))
      Map("mv" -> TableBatch(Seq(("a", 2L, 20.0, 2L, false))
        .toDF("g", "n", "total", "batch_id", "gone"), Seq("g"), Seq("batch_id"), "gone"))
    }
    assert(committed)
    // the round's commit lands on top of the foreign one
    assert(TxLog.current(spark, root).flatMap(_.meta.get("wm.job")).contains("2"))
    assert(kv(PkTableSink.readTxGroup(spark, root, "side", chg())) == Set((9L, 2.0)))
    assert(mv(root) == Map("a" -> ((2L, 20.0))))
  }

  test("round: a live round lists the log twice (pin + claim), a replay once") {
    spark.sparkContext.hadoopConfiguration.set("fs.countfs.impl",
      classOf[LogListCountingFs].getName)
    val root = "countfs://" + TestTmp.dir("mvlists").toString + "/g"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def lists() = fs.getClass.getMethod("logLists").invoke(fs).asInstanceOf[Int]
    def listsOf(f: => Boolean): (Boolean, Int) = {
      val before = lists()
      val r = f
      (r, lists() - before)
    }
    // an empty root has no log to list yet
    assert(listsOf(aggRound(root, chg((1L, 1L, "a", 10.0, false)), 1L)) == ((true, 0)))
    assert(listsOf(aggRound(root, chg((1L, 2L, "b", 4.0, false)), 2L)) == ((true, 2)))
    assert(listsOf(aggRound(root, chg((1L, 2L, "b", 4.0, false)), 2L)) == ((false, 1)))
    assert(mv(root) == Map("b" -> ((1L, 4.0))))
  }

  test("round: group tables fold at the lake's compaction depth, and the view stays exact") {
    val root = TestTmp.dir("mvfold").toString + "/g"
    // 40 rounds over 10 keys: inserts, updates that move groups, deletes
    val batches = (1 to 40).map { i =>
      (0 until 3).map { j =>
        val k = ((i * 3 + j) % 10).toLong
        (k, i.toLong, s"g${(k + i) % 3}", (i * 10 + j).toDouble, (i + j) % 7 == 0)
      }
    }
    batches.zipWithIndex.foreach { case (b, i) =>
      assert(aggRound(root, chg(b: _*), i + 1L))
    }
    val lists = TxLog.versions(spark, root).flatMap(TxLog.at(spark, root, _))
      .flatMap(_.tables.values.map(_.split(",").count(_.nonEmpty)))
    assert(lists.max <= PkTableSink.CompactAfterDeltas + 1,
      s"a table list reached ${lists.max} dirs")
    val now = TxLog.current(spark, root).get.tables
    assert(now("state").split(",").length < 40 && now("mv").split(",").length < 40,
      s"no group table was folded: $now")
    // the view equals a recompute over each key's latest change
    val latest = batches.flatten.groupBy(_._1).values.map(_.maxBy(_._2))
    val want = latest.filterNot(_._5).groupBy(_._3).map { case (g, rs) =>
      g -> ((rs.size.toLong, rs.map(_._4).sum)) }
    assert(mv(root) == want)
  }
}
