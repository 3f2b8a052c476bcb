package graft

import org.apache.spark.sql.functions._
import graft.sinks.{Footers, PkTableSink, TxLog}

/** D14: zone-map pruning on the transactional PK lake — the per-file
  * min/max every parquet footer records, probed on the driver, prunes
  * point and range reads; no commit writes a stats file. */
class ZoneMapSpec extends SparkSpec {
  import spark.implicits._

  private def batch(rows: (Long, Long, String, Boolean)*) =
    rows.toDF("id", "ver", "v", "del")

  private def freshRoot() =
    TestTmp.dir("zonemap").toString + "/t"

  test("compacted base prunes a point lookup to one file") {
    val root = freshRoot()
    PkTableSink.mergeTx(spark, root,
      batch((0L until 1000L).map(i => (i, 1L, s"v$i", false)): _*),
      Seq("id"), Seq("ver"), "del", writer = "w")
    // bin-pack into 10 key-range-sorted files: each covers ~100 ids
    PkTableSink.compactTx(spark, root, "w", targetRowsPerFile = 100)
    val (scan, total) = PkTableSink.pruneStats(spark, root, 700, 700)
    assert(total >= 8, s"expected a multi-file base, got $total")
    assert(scan.size == 1, s"point lookup should scan 1 file, got ${scan.size}")
    val got = PkTableSink.readTxRange(spark, root, batch(), 700, 700)
      .select("id", "v").as[(Long, String)].collect().toSet
    assert(got == Set((700L, "v700")))
  }

  test("range read ≡ full read filtered, across deltas and tombstones") {
    val root = freshRoot()
    PkTableSink.mergeTx(spark, root,
      batch((0L until 500L).map(i => (i, 1L, s"a$i", false)): _*),
      Seq("id"), Seq("ver"), "del", writer = "w")
    PkTableSink.compactTx(spark, root, "w", targetRowsPerFile = 100)
    // delta 1: update a key inside the probed range + one far outside
    PkTableSink.mergeTx(spark, root, batch((120L, 2L, "upd", false), (480L, 2L, "far", false)),
      Seq("id"), Seq("ver"), "del", writer = "w")
    // delta 2: delete a key inside the probed range
    PkTableSink.mergeTx(spark, root, batch((130L, 3L, "", true)),
      Seq("id"), Seq("ver"), "del", writer = "w")
    val expect = PkTableSink.readTx(spark, root, batch().drop("del"))
      .where(col("id").between(100, 199))
      .select("id", "ver", "v").as[(Long, Long, String)].collect().toSet
    val got = PkTableSink.readTxRange(spark, root, batch().drop("del"), 100, 199)
      .select("id", "ver", "v").as[(Long, Long, String)].collect().toSet
    assert(got == expect)
    assert(got.exists(_ == (120L, 2L, "upd")) && !got.exists(_._1 == 130L))
    // pruning skipped files: the base holds ~5 files of 100 ids, the
    // probe range covers one of them (+ both small delta dirs' files)
    val (scan, total) = PkTableSink.pruneStats(spark, root, 100, 199)
    assert(scan.size < total, s"pruned scan $scan should be < $total files")
  }

  test("a delta dir whose zone cannot match is skipped entirely") {
    val root = freshRoot()
    PkTableSink.mergeTx(spark, root,
      batch((0L until 100L).map(i => (i, 1L, s"a$i", false)): _*),
      Seq("id"), Seq("ver"), "del", writer = "w")
    PkTableSink.mergeTx(spark, root,
      batch((9000L, 1L, "far", false), (9001L, 1L, "far2", false)),
      Seq("id"), Seq("ver"), "del", writer = "w")
    val m = TxLog.current(spark, root).get
    assert(m.deltas.size == 1)
    val deltaFiles = Footers.pruneDir(spark, m.deltas.head, "id", 50L, 60L)
    assert(deltaFiles.isEmpty, "far-away delta should prune to zero files")
    val got = PkTableSink.readTxRange(spark, root, batch().drop("del"), 50, 60)
      .select("id").as[Long].collect().toSet
    assert(got == (50L to 60L).toSet)
  }

  test("legacy dir without a sidecar scans fully but stays correct") {
    val root = freshRoot()
    PkTableSink.mergeTx(spark, root,
      batch((0L until 200L).map(i => (i, 1L, s"a$i", false)): _*),
      Seq("id"), Seq("ver"), "del", writer = "w")
    val m = TxLog.current(spark, root).get
    // no commit writes a `_zonemap`; one left by an older writer is not
    // a data file and is never read
    val sidecar = new java.io.File(s"${m.dataDir.stripPrefix("file:")}/_zonemap")
    assert(!sidecar.exists(), "a commit wrote a _zonemap sidecar")
    java.nio.file.Files.writeString(sidecar.toPath, "f=stale\tn=1\tid.kind=long\tid.min=900\tid.max=999\n")
    assert(Footers.dataFiles(spark, m.dataDir).forall(!_.endsWith("_zonemap")))
    val kept = Footers.pruneDir(spark, m.dataDir, "id", 5L, 5L)
    assert(kept.nonEmpty, "the file holding id 5 is kept")
    val got = PkTableSink.readTxRange(spark, root, batch().drop("del"), 5, 5)
      .select("id", "v").as[(Long, String)].collect().toSet
    assert(got == Set((5L, "a5")))
  }

  test("group tables prune per-table dir lists (readTxGroupRange)") {
    val root = freshRoot()
    def commit(t: String, rows: (Long, Long, String, Boolean)*) =
      PkTableSink.mergeTxGroup(spark, root,
        Map(t -> PkTableSink.TableBatch(batch(rows: _*),
          Seq("id"), Seq("ver"), "del")), writer = "w")
    commit("orders", (0L until 100L).map(i => (i, 1L, s"o$i", false)): _*)
    commit("orders", (5000L, 1L, "far", false))
    commit("items", (0L until 50L).map(i => (i, 1L, s"i$i", false)): _*)
    val got = PkTableSink.readTxGroupRange(spark, root, "orders",
      batch().drop("del"), 10, 20)
      .select("id", "v").as[(Long, String)].collect().toSet
    assert(got == (10L to 20L).map(i => (i, s"o$i")).toSet)
    // the far-away delta dir contributes zero files to the pruned scan
    val m = TxLog.current(spark, root).get
    val dirs = m.tables("orders").split(",").toSeq
    assert(dirs.size == 2)
    assert(Footers.pruneDir(spark, dirs(1), "id", 10L, 20L).isEmpty)
  }

  test("sidecar rides inside the data dir and survives the commit race loser's cleanup") {
    // the zone map rides in the data files themselves: the
    // footers of a committed dir carry its row count and key min/max
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val root = freshRoot()
    PkTableSink.mergeTx(spark, root,
      batch((0L until 50L).map(i => (i, 1L, s"a$i", false)): _*),
      Seq("id"), Seq("ver"), "del", writer = "w")
    val m = TxLog.current(spark, root).get
    val files = Footers.dataFiles(spark, m.dataDir)
    assert(files.nonEmpty && files.forall(_.endsWith(".parquet")), s"data files: $files")
    assert(Footers.rowCount(spark, m.dataDir).contains(50L))
    val conf = spark.sessionState.newHadoopConf()
    val stats = files.flatMap { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f), conf))
      try r.getRowGroups.asScala.map(_.getColumns.asScala.find(_.getPath.toDotString == "id")
        .get.getStatistics)
      finally r.close()
    }.filter(_.hasNonNullValue)
    val mn = stats.map(_.genericGetMin.asInstanceOf[java.lang.Long].longValue).min
    val mx = stats.map(_.genericGetMax.asInstanceOf[java.lang.Long].longValue).max
    assert(mn == 0L && mx == 49L)
  }
}
