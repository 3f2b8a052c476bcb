package graft

import org.apache.spark.sql.functions._
import graft.sinks.{Footers, PkTableSink, TxLog}

/** D21: per-file bloom pruning — point lookups on columns zone maps
  * cannot help with, through the parquet-native blooms the writers
  * build inside the write task and the driver-side footer probe
  * ([[Footers]]). The spec keeps the name of the per-file sidecar
  * format those blooms replaced; its properties are unchanged. */
class BloomSidecarSpec extends SparkSpec {
  import spark.implicits._

  // ref is high-cardinality and UNCORRELATED with the id sort order —
  // the column shape where zone ranges prune nothing
  private def rows() = (0L until 2000L)
    .map(i => (i, 1L, (i * 48271L + 11L) % 1000000007L, s"v$i", false))
    .toDF("id", "ver", "ref", "v", "del")

  private def freshRoot() =
    TestTmp.dir("bloom").toString + "/t"

  private def build(root: String): Unit = {
    PkTableSink.mergeTx(spark, root, rows(), Seq("id"), Seq("ver"), "del",
      writer = "w")
    PkTableSink.compactTx(spark, root, "w", targetRowsPerFile = 200,
      bloomCols = Seq("ref"), bloomExpectedPerFile = 10000)
  }

  test("bloom point lookup prunes to ~1 file and never loses a match") {
    val root = freshRoot(); build(root)
    val dir = TxLog.current(spark, root).get.dataDir
    val total = new java.io.File(dir).listFiles()
      .count(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(total >= 8, s"expected a many-file base, got $total")
    val refs = (0L until 2000L by 97L).map(i => (i * 48271L + 11L) % 1000000007L)
    var scannedTotal = 0
    refs.foreach { r =>
      val files = Footers.pruneDir(spark, dir, "ref", r.toString, r.toString)
      scannedTotal += files.size
      val got = PkTableSink.readTxPointOn(spark, root, rows().drop("del"),
        "ref", r.toString).select("ref").as[Long].collect()
      assert(got.toSeq === Seq(r), s"lookup for ref=$r")
    }
    // fpp=1% on ~10 files → expected scan ≈ 1.1 files per probe; 2× is
    // generous slack
    assert(scannedTotal <= refs.size * 2,
      s"bloom pruning too weak: $scannedTotal files for ${refs.size} probes")
    // an absent value prunes to (almost always) zero files and returns
    // nothing either way
    val miss = PkTableSink.readTxPointOn(spark, root, rows().drop("del"),
      "ref", "123456789012")
    assert(miss.count() === 0)
  }

  test("delta-outstanding point lookups stay pruned (two-pass, <= 2x matching files)") {
    val root = freshRoot(); build(root)
    def ref(i: Long) = (i * 48271L + 11L) % 1000000007L
    // deltas carry their own blooms (mergeTx bloomCols):
    //  - key 5's ref value CHANGES (old value must not resurrect)
    //  - key 2500 is NEW with a fresh ref
    //  - key 7 is tombstoned (its ref must disappear)
    val newRef5 = 424242L
    val newRef2500 = 535353L
    PkTableSink.mergeTx(spark, root,
      Seq((5L, 2L, newRef5, "v5b", false), (2500L, 1L, newRef2500, "new", false))
        .toDF("id", "ver", "ref", "v", "del"),
      Seq("id"), Seq("ver"), "del", writer = "w", bloomCols = Seq("ref"))
    PkTableSink.mergeTx(spark, root,
      Seq((7L, 2L, ref(7), "x", true)).toDF("id", "ver", "ref", "v", "del"),
      Seq("id"), Seq("ver"), "del", writer = "w", bloomCols = Seq("ref"))
    assert(TxLog.current(spark, root).get.deltas.size == 2, "deltas outstanding")
    def lookup(r: Long) = PkTableSink.readTxPointOn(spark, root,
      rows().drop("del"), "ref", r.toString)
    // correctness under supersession / insert / tombstone
    assert(lookup(ref(5)).count() === 0, "old ref of an updated key must not resurrect")
    assert(lookup(newRef5).select("v").as[String].collect().toSeq === Seq("v5b"))
    assert(lookup(newRef2500).select("v").as[String].collect().toSeq === Seq("new"))
    assert(lookup(ref(7)).count() === 0, "tombstoned key's ref must disappear")
    // pruning: both passes together open ~2 files per probe, never the
    // full layer stack
    val probes = (100L until 2000L by 97L).map(ref)
    var opened = 0
    var total = 0
    probes.foreach { r =>
      val (p1, p2, tot) = PkTableSink.pointPruneStatsOn(spark, root, "ref", r.toString)
      opened += p1.size + p2.size; total = tot
      assert(lookup(r).count() === 1, s"probe ref=$r")
    }
    assert(total >= 10, s"expected a many-file stack, got $total")
    assert(opened <= probes.size * 2 + 4,
      s"two-pass pruning too weak: $opened files opened for ${probes.size} probes " +
        s"over a $total-file stack")
  }

  test("delta-outstanding range reads prune via per-delta zone stats") {
    // every delta's footers record min/max of every column, so
    // readTxRangeOn two-passes instead of full-merging a hot table
    val root = freshRoot()
    // val5 ascends with id (range-correlated) — compact sorts by id so
    // files cover disjoint val5 ranges too
    val base = (0L until 2000L).map(i => (i, 1L, i * 5, s"v$i", false))
      .toDF("id", "ver", "val5", "v", "del")
    PkTableSink.mergeTx(spark, root, base, Seq("id"), Seq("ver"), "del",
      writer = "w")
    PkTableSink.compactTx(spark, root, "w", targetRowsPerFile = 200)
    PkTableSink.mergeTx(spark, root,
      Seq((50L, 2L, 99999L, "moved", false)).toDF("id", "ver", "val5", "v", "del"),
      Seq("id"), Seq("ver"), "del", writer = "w")
    assert(TxLog.current(spark, root).get.deltas.nonEmpty)
    val got = PkTableSink.readTxRangeOn(spark, root, base.drop("del"),
      "val5", 1000L, 1040L).select("id").as[Long].collect().sorted
    assert(got.toSeq === (200L to 208L), s"range read returned $got")
    // the superseded row moved OUT of its old range
    val moved = PkTableSink.readTxRangeOn(spark, root, base.drop("del"),
      "val5", 250L, 250L)
    assert(moved.count() === 0, "id 50 left the range via its delta update")
    val atNew = PkTableSink.readTxRangeOn(spark, root, base.drop("del"),
      "val5", 99999L, 99999L).select("v").as[String].collect()
    assert(atNew.toSeq === Seq("moved"))
  }

  test("dictionary-encoded column: no bloom, matching files kept, lookups exact") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    // grp has 8 values: parquet-mr keeps the chunk dictionary-encoded
    // and writes no bloom for it, though bloomCols asks for one
    val df = rows().withColumn("grp", col("id") % 8)
    val root = freshRoot()
    PkTableSink.mergeTx(spark, root, df, Seq("id"), Seq("ver"), "del", writer = "w")
    PkTableSink.compactTx(spark, root, "w", targetRowsPerFile = 200,
      bloomCols = Seq("grp", "ref"), bloomExpectedPerFile = 10000)
    val dir = TxLog.current(spark, root).get.dataDir
    val files = Footers.dataFiles(spark, dir)
    val conf = spark.sessionState.newHadoopConf()
    def hasBloom(f: String, c: String) = {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f), conf))
      try r.getRowGroups.asScala.forall { b =>
        val chunk = b.getColumns.asScala.find(_.getPath.toDotString == c).get
        r.readBloomFilter(chunk) != null
      } finally r.close()
    }
    assert(files.size >= 8)
    assert(files.forall(f => !hasBloom(f, "grp")), "dictionary-encoded grp has no bloom")
    assert(files.forall(f => hasBloom(f, "ref")), "plain-encoded ref has a bloom")
    val byFile = spark.read.parquet(dir).select(col("grp"), input_file_name().as("f"))
      .distinct().collect().map(r => (r.getLong(0), new org.apache.hadoop.fs.Path(r.getString(1)).getName))
    (0L until 8L).foreach { g =>
      val kept = Footers.pruneDir(spark, dir, "grp", g.toString, g.toString)
        .map(f => new org.apache.hadoop.fs.Path(f).getName).toSet
      val needed = byFile.filter(_._1 == g).map(_._2).toSet
      assert(needed.subsetOf(kept), s"grp=$g: a file holding the value was pruned")
      val got = PkTableSink.readTxPointOn(spark, root, df.drop("del"), "grp", g.toString)
      assert(got.count() === 250, s"grp=$g")
    }
    assert(PkTableSink.readTxPointOn(spark, root, df.drop("del"), "grp", "9").count() === 0)
  }

  test("legacy dirs (no sidecar) and outstanding deltas stay correct") {
    val root = freshRoot()
    PkTableSink.mergeTx(spark, root, rows(), Seq("id"), Seq("ver"), "del",
      writer = "w")
    PkTableSink.compactTx(spark, root, "w", targetRowsPerFile = 200) // no blooms
    val r0 = (5L * 48271L + 11L) % 1000000007L
    assert(PkTableSink.readTxPointOn(spark, root, rows().drop("del"),
      "ref", r0.toString).count() === 1)
    // a delta updates the probed row: fallback path must see it
    PkTableSink.mergeTx(spark, root,
      Seq((5L, 2L, r0, "updated", false)).toDF("id", "ver", "ref", "v", "del"),
      Seq("id"), Seq("ver"), "del", writer = "w")
    val got = PkTableSink.readTxPointOn(spark, root, rows().drop("del"),
      "ref", r0.toString).select("v").as[String].collect()
    assert(got.toSeq === Seq("updated"))
  }
}
