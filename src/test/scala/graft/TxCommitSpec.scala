package graft

import org.apache.spark.sql.functions._
import graft.sinks.{PkTableSink, TxLog}

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

/** Transactional commit protocol: concurrent writers, conflict retry,
  * reader isolation, torn-manifest safety, retention. */
class TxCommitSpec extends SparkSpec {
  import spark.implicits._

  private def batch(rows: (Long, Long, String, Boolean)*) =
    rows.toDF("id", "ver", "v", "del")

  private def tmpRoot(tag: String) =
    TestTmp.dir(tag).toString + "/t"

  test("tx: sequential merges commit ascending versions with correct contents") {
    val root = tmpRoot("txseq")
    val v0 = PkTableSink.mergeTx(spark, root,
      batch((1L, 1L, "a", false), (2L, 1L, "b", false)),
      Seq("id"), Seq("ver"), "del", writer = "w1")
    val v1 = PkTableSink.mergeTx(spark, root,
      batch((1L, 2L, "a2", false), (2L, 2L, "x", true), (3L, 1L, "c", false)),
      Seq("id"), Seq("ver"), "del", writer = "w1")
    assert(v0 == 0L && v1 == 1L)
    def live() = PkTableSink.readTx(spark, root, batch().drop("del"))
      .orderBy("id").select("id", "v").as[(Long, String)].collect().toSeq
    val t = live()
    assert(t == Seq((1L, "a2"), (3L, "c")))
    // replaying the second batch is idempotent (latest-wins by version)
    PkTableSink.mergeTx(spark, root,
      batch((1L, 2L, "a2", false), (2L, 2L, "x", true), (3L, 1L, "c", false)),
      Seq("id"), Seq("ver"), "del", writer = "w1")
    assert(live() == t)
    // time travel: version 0 still reads the pre-update snapshot
    val t0 = PkTableSink.readTxAt(spark, root, 0L)
      .orderBy("id").select("id", "v").as[(Long, String)].collect().toSeq
    assert(t0 == Seq((1L, "a"), (2L, "b")))
  }

  test("tx: create-exclusive claim — second writer at same version loses") {
    val root = tmpRoot("txclaim")
    assert(TxLog.tryCommit(spark, root, TxLog.Manifest(0L, s"$root/d0", -1L, "w1")))
    assert(!TxLog.tryCommit(spark, root, TxLog.Manifest(0L, s"$root/other", -1L, "w2")))
    // the winner's manifest is untouched by the losing attempt
    assert(TxLog.current(spark, root).exists(m =>
      m.writer == "w1" && m.dataDir == s"$root/d0"))
  }

  test("tx: loser retries onto the winner's snapshot — no lost batch") {
    val root = tmpRoot("txretry")
    // simulate a winner that committed v0 while our writer was planning
    PkTableSink.mergeTx(spark, root, batch((1L, 1L, "winner", false)),
      Seq("id"), Seq("ver"), "del", writer = "other-job")
    // our writer merges a disjoint key; its base re-read must pick up v0
    val v = PkTableSink.mergeTx(spark, root, batch((2L, 1L, "ours", false)),
      Seq("id"), Seq("ver"), "del", writer = "this-job")
    assert(v == 1L)
    val t = PkTableSink.readTx(spark, root, batch().drop("del"))
      .orderBy("id").select("id", "v").as[(Long, String)].collect().toSeq
    assert(t == Seq((1L, "winner"), (2L, "ours")))
  }

  test("tx: two concurrent writers — both batches land, versions distinct") {
    val root = tmpRoot("txrace")
    val fa = Future(PkTableSink.mergeTx(spark, root,
      (1L to 50L).map(i => (i, 1L, s"a$i", false)).toDF("id", "ver", "v", "del"),
      Seq("id"), Seq("ver"), "del", writer = "wa", maxAttempts = 10))
    val fb = Future(PkTableSink.mergeTx(spark, root,
      (51L to 100L).map(i => (i, 1L, s"b$i", false)).toDF("id", "ver", "v", "del"),
      Seq("id"), Seq("ver"), "del", writer = "wb", maxAttempts = 10))
    val (va, vb) = (Await.result(fa, 120.seconds), Await.result(fb, 120.seconds))
    assert(Set(va, vb) == Set(0L, 1L))
    val t = PkTableSink.readTx(spark, root, batch().drop("del"))
    assert(t.count() == 100L)
    assert(t.agg(sum("id")).as[Long].head() == (1L to 100L).sum)
  }

  test("tx: reader skips a torn manifest and lands on the previous version") {
    val root = tmpRoot("txtorn")
    PkTableSink.mergeTx(spark, root, batch((1L, 1L, "a", false)),
      Seq("id"), Seq("ver"), "del", writer = "w1")
    // hand-write a partial manifest for v1: content present but no
    // terminal ok=true (a reader racing the commit's content write)
    val dir = new java.io.File(s"$root/_log")
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(dir.toString, "1.manifest"),
      s"data=$root/bogus\nbase=0\nwriter=crashed\n")
    assert(TxLog.current(spark, root).exists(_.version == 0L))
    val t = PkTableSink.readTx(spark, root, batch().drop("del"))
      .select("v").as[String].collect().toSeq
    assert(t == Seq("a"))
  }

  test("tx: a crashed writer's torn claim is reclaimed — table never wedges") {
    val root = tmpRoot("txreclaim")
    PkTableSink.mergeTx(spark, root, batch((1L, 1L, "a", false)),
      Seq("id"), Seq("ver"), "del", writer = "w1")
    // crashed writer: v1 manifest created but content never finished
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(s"$root/_log", "1.manifest"),
      s"data=$root/bogus\nbase=0\nwriter=crashed\n")
    // torn claims don't count as committed versions (retention math)
    assert(TxLog.versions(spark, root) == Seq(0L))
    // next writer reclaims the corpse (grace 0 in test) and commits v1
    val v = PkTableSink.mergeTx(spark, root, batch((2L, 1L, "b", false)),
      Seq("id"), Seq("ver"), "del", writer = "w2", recoverTornAfterMs = 0L)
    assert(v == 1L)
    val t = PkTableSink.readTx(spark, root, batch().drop("del"))
      .orderBy("id").select("id", "v").as[(Long, String)].collect().toSeq
    assert(t == Seq((1L, "a"), (2L, "b")))
  }

  test("tx: two concurrent STREAMS feed one table through the tx sink") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.types._
    val root = tmpRoot("txstream")
    val payload = StructType(Seq(
      StructField("id", LongType), StructField("seq", LongType),
      StructField("v", StringType)))
    val cfg = CdcPipeline.Config(payload, keyField = "id", seqField = "seq")
    def env(id: Long, seq: Long, v: String, op: String, tsMs: Long): String = {
      val img = s"""{"id":$id,"seq":$seq,"v":"$v"}"""
      val (before, after) = if (op == "d") (img, "null") else ("null", img)
      s"""{"before":$before,"after":$after,"op":"$op","ts_ms":$tsMs}"""
    }
    val inA = MemoryStream[String]; val inB = MemoryStream[String]
    inA.addData(env(1, 1, "a1", "c", 10), env(2, 1, "a2", "c", 10))
    inB.addData(env(3, 1, "b3", "c", 10), env(2, 2, "x", "d", 20)) // B deletes key 2
    def start(in: MemoryStream[String], w: String) =
      CdcPipeline.toTxPkTableSink(
        CdcPipeline.stream(in.toDF().withColumnRenamed("value", "json"), "json", cfg),
        root, writer = w)
        .option("checkpointLocation", s"${root}_ckpt_$w")
        .start()
    val (qa, qb) = (start(inA, "wa"), start(inB, "wb"))
    qa.processAllAvailable(); qb.processAllAvailable()
    inA.addData(env(1, 2, "a1v2", "u", 30))
    qa.processAllAvailable()
    qa.stop(); qb.stop()
    val t = graft.sinks.PkTableSink.readTx(spark, root, spark.emptyDataFrame)
      .orderBy("key").select(col("key"), col("payload")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(t.map(_._1).toSeq == Seq(1L, 3L)) // 2 deleted by stream B
    assert(t.toMap.apply(1L).contains("a1v2"))
    // every stream commit is in the manifest log, writers interleaved
    val vs = graft.sinks.TxLog.versions(spark, root)
    assert(vs.size >= 3 && vs == (0L until vs.size.toLong))
  }

  test("tx group: one manifest flips several tables atomically; untouched tables carry forward") {
    import PkTableSink.TableBatch
    val root = tmpRoot("txgroup")
    def tb(rows: (Long, Long, String, Boolean)*) =
      TableBatch(batch(rows: _*), Seq("id"), Seq("ver"), "del")
    // commit v0: orders + customers together
    val v0 = PkTableSink.mergeTxGroup(spark, root, Map(
      "orders" -> tb((1L, 1L, "o1", false)),
      "customers" -> tb((9L, 1L, "c9", false))), writer = "loader")
    assert(v0 == 0L)
    // commit v1: only orders — customers must carry forward
    val v1 = PkTableSink.mergeTxGroup(spark, root, Map(
      "orders" -> tb((2L, 1L, "o2", false))), writer = "loader")
    assert(v1 == 1L)
    def readT(t: String) = PkTableSink.readTxGroup(spark, root, t, batch().drop("del"))
      .orderBy("id").select("id", "v").as[(Long, String)].collect().toSeq
    assert(readT("orders") == Seq((1L, "o1"), (2L, "o2")))
    assert(readT("customers") == Seq((9L, "c9")))
    // atomic view: v0's manifest references BOTH tables; v1 carries
    // customers' v0 dir forward unchanged
    val m0 = TxLog.at(spark, root, 0L).get
    val m1 = TxLog.at(spark, root, 1L).get
    assert(m0.tables.keySet == Set("orders", "customers"))
    assert(m1.tables("customers") == m0.tables("customers"))
    assert(m1.tables("orders") != m0.tables("orders"))
    // vacuum to 1 version: customers' carried-forward dir must survive
    val removed = PkTableSink.vacuumTxGroup(spark, root, keepVersions = 1)
    assert(removed == Seq(0L))
    assert(readT("customers") == Seq((9L, "c9")))
    assert(readT("orders") == Seq((1L, "o1"), (2L, "o2")))
    // merge-on-read: orders' v0 dir is the BASE of v1's dir list —
    // vacuum must keep it while the kept manifest references it
    assert(m1.tables("orders").split(",").contains(m0.tables("orders")))
    assert(new java.io.File(m0.tables("orders")).exists())
    // compaction folds orders' list to one dir; the next vacuum
    // reference-counts the old base + delta out of existence
    PkTableSink.compactTxGroup(spark, root, "orders", writer = "loader")
    PkTableSink.vacuumTxGroup(spark, root, keepVersions = 1)
    assert(!new java.io.File(m0.tables("orders")).exists())
    assert(TxLog.current(spark, root).get.tables("orders").split(",").length == 1)
    assert(readT("orders") == Seq((1L, "o1"), (2L, "o2")))
    assert(readT("customers") == Seq((9L, "c9")))
  }

  test("tx group: commit I/O is batch-proportional and deletes don't resurrect") {
    import PkTableSink.TableBatch
    val root = tmpRoot("txgroupmor")
    def tb(rows: (Long, Long, String, Boolean)*) =
      TableBatch(batch(rows: _*), Seq("id"), Seq("ver"), "del")
    val big = spark.range(5000)
      .select(col("id"), lit(1L).as("ver"), concat(lit("r"), col("id")).as("v"),
        lit(false).as("del"))
    PkTableSink.mergeTxGroup(spark, root,
      Map("orders" -> TableBatch(big, Seq("id"), Seq("ver"), "del")), writer = "w")
    val ordersRoot = new java.io.File(s"$root/orders")
    def snapshot(prefix: String) = ordersRoot.listFiles()
      .filter(_.getName.startsWith(prefix))
      .flatMap(d => d.listFiles().map(f => f.getPath -> f.lastModified())).toSet
    val baseFiles = snapshot("d0-")
    assert(baseFiles.nonEmpty)
    // small second commit: base untouched, delta holds just the batch
    PkTableSink.mergeTxGroup(spark, root, Map(
      "orders" -> tb((1L, 2L, "upd", false), (2L, 2L, "x", true))), writer = "w")
    assert(snapshot("d0-") == baseFiles, "group delta commit rewrote the base")
    val delta = ordersRoot.listFiles().filter(_.getName.startsWith("d1-"))
    assert(delta.length == 1 && spark.read.parquet(delta.head.getPath).count() == 2L)
    def readT() = PkTableSink.readTxGroup(spark, root, "orders", batch().drop("del"))
    assert(readT().count() == 4999L) // 5000 − 1 delete
    // an older straggler of the deleted key stays dead (tombstone)
    PkTableSink.mergeTxGroup(spark, root, Map(
      "orders" -> tb((2L, 1L, "ghost", false))), writer = "w")
    assert(readT().count() == 4999L)
  }

  test("tx group: staged write commits atomically with the batch tables") {
    import PkTableSink.TableBatch
    val root = tmpRoot("txgroupstaged")
    def tb(rows: (Long, Long, String, Boolean)*) =
      TableBatch(batch(rows: _*), Seq("id"), Seq("ver"), "del")
    // stage one table's write ahead of the commit (the maintenance-
    // round shape: the state delta starts while other waves run)
    val st = PkTableSink.stageTableBatch(spark, root, "orders",
      tb((1L, 1L, "o1", false), (2L, 1L, "dead", true)), writer = "w")
    // before any manifest references it, readers must not see the dir
    assert(PkTableSink.readTxGroup(spark, root, "orders", batch().drop("del"))
      .count() == 0L)
    val v = PkTableSink.mergeTxGroup(spark, root,
      Map("extras" -> tb((5L, 1L, "e", false))),
      writer = "w", staged = Seq(st))
    assert(v == 0L)
    def readT(t: String) = PkTableSink.readTxGroup(spark, root, t, batch().drop("del"))
      .orderBy("id").select("id", "v").as[(Long, String)].collect().toSeq
    assert(readT("orders") == Seq((1L, "o1"))) // compacted, tombstone applied
    assert(readT("extras") == Seq((5L, "e")))
    // the manifest references exactly the staged dir
    val m = TxLog.current(spark, root).get
    assert(m.tables("orders") == st.dir)
    // a second staged round layers a delta over the first
    val st2 = PkTableSink.stageTableBatch(spark, root, "orders",
      tb((1L, 2L, "o1b", false)), writer = "w")
    PkTableSink.mergeTxGroup(spark, root,
      Map("extras" -> tb((6L, 1L, "f", false))),
      writer = "w", staged = Seq(st2))
    assert(readT("orders") == Seq((1L, "o1b")))
    assert(TxLog.current(spark, root).get.tables("orders") ==
      s"${st.dir},${st2.dir}")
  }

  test("tx group: staged dirs are deleted when the commit fails") {
    import PkTableSink.TableBatch
    val root = tmpRoot("txgroupstagedfail")
    def tb(rows: (Long, Long, String, Boolean)*) =
      TableBatch(batch(rows: _*), Seq("id"), Seq("ver"), "del")
    PkTableSink.mergeTxGroup(spark, root,
      Map("orders" -> tb((1L, 1L, "o1", false))), writer = "w")
    // stage a write with DIFFERENT key columns: the commit's per-
    // attempt meta validation must fail, and the cleanup must remove
    // the staged dir (plus any local dirs of the same commit)
    val st = PkTableSink.stageTableBatch(spark, root, "orders",
      TableBatch(batch((1L, 2L, "x", false)), Seq("id", "ver"), Seq("ver"), "del"),
      writer = "w")
    intercept[IllegalArgumentException] {
      PkTableSink.mergeTxGroup(spark, root,
        Map("extras" -> tb((9L, 1L, "e", false))), writer = "w",
        staged = Seq(st))
    }
    assert(!new java.io.File(st.dir).exists(), "staged dir must be cleaned up")
    // no extras dir survived either, and the table still reads v0
    val extrasDir = new java.io.File(s"$root/extras")
    assert(!extrasDir.exists() || extrasDir.listFiles().isEmpty)
    assert(PkTableSink.readTxGroup(spark, root, "orders", batch().drop("del"))
      .select("v").as[String].collect().toSeq == Seq("o1"))
  }

  test("tx group: concurrent STAGED writers both land; a lost race retries without rewrite") {
    import PkTableSink.TableBatch
    val root = tmpRoot("txgroupstagedrace")
    def tb(rows: (Long, Long, String, Boolean)*) =
      TableBatch(batch(rows: _*), Seq("id"), Seq("ver"), "del")
    val fa = Future {
      val st = PkTableSink.stageTableBatch(spark, root, "a",
        tb((1L, 1L, "x", false)), writer = "wa")
      (st.dir, PkTableSink.mergeTxGroup(spark, root,
        Map("b" -> tb((1L, 1L, "y", false))), writer = "wa",
        maxAttempts = 10, staged = Seq(st)))
    }
    val fb = Future {
      val st = PkTableSink.stageTableBatch(spark, root, "a",
        tb((2L, 1L, "x2", false)), writer = "wb")
      (st.dir, PkTableSink.mergeTxGroup(spark, root,
        Map("b" -> tb((2L, 1L, "y2", false))), writer = "wb",
        maxAttempts = 10, staged = Seq(st)))
    }
    val ((da, va), (db, vb)) =
      (Await.result(fa, 120.seconds), Await.result(fb, 120.seconds))
    assert(Set(va, vb) == Set(0L, 1L))
    // both staged dirs are referenced by the final manifest — the
    // loser re-merged WITHOUT rewriting (its dir path is unchanged)
    val dirs = TxLog.current(spark, root).get.tables("a").split(",").toSet
    assert(dirs == Set(da, db))
    def readT(t: String) = PkTableSink.readTxGroup(spark, root, t, batch().drop("del"))
    assert(readT("a").count() == 2 && readT("b").count() == 2)
  }

  test("tx group: concurrent group writers both land with consistent snapshots") {
    import PkTableSink.TableBatch
    val root = tmpRoot("txgrouprace")
    def tb(rows: (Long, Long, String, Boolean)*) =
      TableBatch(batch(rows: _*), Seq("id"), Seq("ver"), "del")
    val fa = Future(PkTableSink.mergeTxGroup(spark, root, Map(
      "a" -> tb((1L, 1L, "x", false)), "b" -> tb((1L, 1L, "y", false))),
      writer = "wa", maxAttempts = 10))
    val fb = Future(PkTableSink.mergeTxGroup(spark, root, Map(
      "a" -> tb((2L, 1L, "x2", false)), "b" -> tb((2L, 1L, "y2", false))),
      writer = "wb", maxAttempts = 10))
    val (va, vb) = (Await.result(fa, 120.seconds), Await.result(fb, 120.seconds))
    assert(Set(va, vb) == Set(0L, 1L))
    def readT(t: String) = PkTableSink.readTxGroup(spark, root, t, batch().drop("del"))
    assert(readT("a").count() == 2 && readT("b").count() == 2)
  }

  test("tx: merge-on-read commit I/O is proportional to the batch, not the table") {
    val root = tmpRoot("txmor")
    // big-ish base: 10k keys
    val base = spark.range(10000)
      .select(col("id"), lit(1L).as("ver"), concat(lit("r"), col("id")).as("v"),
        lit(false).as("del"))
    PkTableSink.mergeTx(spark, root, base, Seq("id"), Seq("ver"), "del", writer = "w1")
    val fs = new java.io.File(root)
    def snapshot(prefix: String) = fs.listFiles().filter(_.getName.startsWith(prefix))
      .flatMap(d => d.listFiles().map(f => f.getPath -> f.lastModified())).toSet
    val baseFiles = snapshot("t0-")
    assert(baseFiles.nonEmpty)
    // commit a 3-row batch: base dir must be byte-identical (no rewrite),
    // and the new delta must hold exactly the batch's keys
    PkTableSink.mergeTx(spark, root, batch((1L, 2L, "upd", false), (2L, 2L, "x", true),
      (20000L, 1L, "new", false)), Seq("id"), Seq("ver"), "del", writer = "w1")
    assert(snapshot("t0-") == baseFiles, "delta commit rewrote the base snapshot")
    val deltaDirs = fs.listFiles().filter(_.getName.startsWith("d1-"))
    assert(deltaDirs.length == 1)
    assert(spark.read.parquet(deltaDirs.head.getPath).count() == 3L)
    // and the merged view is correct: 10000 - 1 delete + 1 insert
    val t = PkTableSink.readTx(spark, root, base.drop("del"))
    assert(t.count() == 10000L)
    assert(t.where(col("id") === 1L).select("v").as[String].head() == "upd")
  }

  test("tx: merge-on-read view equals the copy-on-write single-writer merge") {
    // same version-ordered batches through both paths, with updates and
    // a delete. (Out-of-order batches diverge by design: snapshotMerge
    // is epoch-stamped — arrival order wins, the binlog contract —
    // while the multi-writer tx path is version-respecting with stored
    // tombstones, tested below.)
    val batches = Seq(
      batch((1L, 1L, "a1", false), (2L, 1L, "b1", false), (3L, 1L, "c1", false)),
      batch((2L, 2L, "b2", false), (4L, 1L, "d1", false)),
      batch((2L, 3L, "b3", false), (3L, 2L, "c2", true)),   // b → b3; c deleted
      batch((5L, 1L, "e1", false)))
    val morRoot = tmpRoot("txmor2")
    batches.foreach(b =>
      PkTableSink.mergeTx(spark, morRoot, b, Seq("id"), Seq("ver"), "del", writer = "w1"))
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id").select("id", "ver", "v").as[(Long, Long, String)].collect().toSeq
    // reference: the copy-on-write merge — the whole snapshot re-merged
    // with each batch in turn
    val cow = dump(batches.foldLeft(batches.head.limit(0).drop("del")) { (cur, b) =>
      graft.cdc.PkTable.snapshotMerge(cur.withColumn("del", lit(false)), b,
        Seq("id"), Seq(col("ver")), deleteFlag = col("del")).drop("del")
    })
    val mor = dump(PkTableSink.readTx(spark, morRoot, batches.head.drop("del")))
    assert(mor == cow)
    // and compaction preserves the view exactly
    PkTableSink.compactTx(spark, morRoot, writer = "w1")
    assert(dump(PkTableSink.readTx(spark, morRoot, batches.head.drop("del"))) == cow)
  }

  test("tx: stored tombstones stop an older straggler resurrecting a deleted key") {
    val root = tmpRoot("txstraggler")
    PkTableSink.mergeTx(spark, root, batch((3L, 2L, "c2", true)),
      Seq("id"), Seq("ver"), "del", writer = "w1")
    // older version of the deleted key arrives late (commit order ≠
    // version order under concurrent writers)
    PkTableSink.mergeTx(spark, root, batch((3L, 1L, "c1", false)),
      Seq("id"), Seq("ver"), "del", writer = "w2")
    assert(PkTableSink.readTx(spark, root, batch().drop("del")).count() == 0L)
    // the tombstone survives compaction too
    PkTableSink.compactTx(spark, root, writer = "w1")
    assert(PkTableSink.readTx(spark, root, batch().drop("del")).count() == 0L)
  }

  test("tx: auto-compaction folds deltas at the threshold") {
    val root = tmpRoot("txauto")
    (1 to 6).foreach(i => PkTableSink.mergeTx(spark, root,
      batch((i.toLong, 1L, s"v$i", false)), Seq("id"), Seq("ver"), "del",
      writer = "w1", compactAfterDeltas = 3))
    val m = TxLog.current(spark, root).get
    assert(m.deltas.size < 3, s"auto-compaction never fired: ${m.deltas.size} deltas")
    assert(PkTableSink.readTx(spark, root, batch().drop("del")).count() == 6L)
  }

  test("tx: compaction bin-packs to target size with disjoint sorted key ranges") {
    val root = tmpRoot("txpack")
    val rows = spark.range(4000)
      .select(col("id"), lit(1L).as("ver"), concat(lit("v"), col("id")).as("v"),
        lit(false).as("del"))
    PkTableSink.mergeTx(spark, root, rows, Seq("id"), Seq("ver"), "del", writer = "w")
    PkTableSink.mergeTx(spark, root, batch((99999L, 1L, "x", false)),
      Seq("id"), Seq("ver"), "del", writer = "w")
    // 4001 live keys at 1000 rows/file → 5 files
    PkTableSink.compactTx(spark, root, writer = "w", targetRowsPerFile = 1000L)
    val dataDir = TxLog.current(spark, root).get.dataDir
    val files = new java.io.File(dataDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted
    assert(files.length == 5, s"expected 5 bin-packed files, got ${files.length}")
    // each file covers a key range disjoint from every other — the
    // layout parquet min/max stats need to prune point/range lookups
    val ranges = files.map { f =>
      val r = spark.read.parquet(f).agg(min("id"), max("id")).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    val sorted = ranges.sortBy(_._1)
    sorted.sliding(2).foreach { case Array((_, hi), (lo, _)) =>
      assert(hi < lo, s"overlapping file key ranges: $sorted")
    }
    // and a filtered read returns exactly the looked-up key
    val hit = PkTableSink.readTx(spark, root, rows.drop("del"))
      .where(col("id") === 2024L)
    assert(hit.count() == 1L)
  }

  test("tx: vacuum drops old versions, keeps recent, current stays readable") {
    val root = tmpRoot("txvac")
    (1 to 4).foreach(i =>
      PkTableSink.mergeTx(spark, root, batch((i.toLong, 1L, s"v$i", false)),
        Seq("id"), Seq("ver"), "del", writer = "w1"))
    assert(TxLog.versions(spark, root) == Seq(0L, 1L, 2L, 3L))
    val removed = PkTableSink.vacuumTx(spark, root, keepVersions = 2)
    assert(removed == Seq(0L, 1L))
    assert(TxLog.versions(spark, root) == Seq(2L, 3L))
    assert(PkTableSink.readTx(spark, root, batch().drop("del")).count() == 4L)
    // merge-on-read shares the base across versions: kept manifests
    // still reference t0, so vacuum must NOT delete it (only the
    // victims' manifests go)
    def dirs() = new java.io.File(root).listFiles().map(_.getName).toSet
    assert(dirs().exists(_.startsWith("t0-")))
    // compaction folds base+deltas into a fresh base; a second vacuum
    // then reference-counts the old base and deltas out of existence
    PkTableSink.compactTx(spark, root, writer = "w1")
    PkTableSink.vacuumTx(spark, root, keepVersions = 1)
    assert(!dirs().exists(_.startsWith("t0-")) && !dirs().exists(_.startsWith("d")))
    assert(PkTableSink.readTx(spark, root, batch().drop("del")).count() == 4L)
  }
}
