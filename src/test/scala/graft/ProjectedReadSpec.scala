package graft

import org.apache.spark.sql.functions._
import graft.sinks.PkTableSink

/** D32: projected merge-on-read — the whole-row max_by(struct(*))
  * blocks Catalyst column pruning, so readTxCols pushes the narrow
  * schema below the merge where it reaches the parquet scan. */
class ProjectedReadSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot() =
    TestTmp.dir("prune").toString + "/t"

  private def seed(root: String) = {
    val rows = (0L until 100L).map(i => (i, 1L, s"a$i", s"b$i", s"c$i", false))
      .toDF("id", "ver", "ca", "cb", "cc", "del")
    PkTableSink.mergeTx(spark, root, rows, Seq("id"), Seq("ver"), "del", writer = "w")
    PkTableSink.mergeTx(spark, root,
      Seq((3L, 2L, "A3", "B3", "C3", false), (200L, 1L, "aN", "bN", "cN", true))
        .toDF("id", "ver", "ca", "cb", "cc", "del"),
      Seq("id"), Seq("ver"), "del", writer = "w")
    rows
  }

  test("plain readTx scans every column under a narrow projection (the gap)") {
    val root = freshRoot(); seed(root)
    val p = PkTableSink.readTx(spark, root, spark.emptyDataFrame)
      .select(col("id"), col("ca")).queryExecution.executedPlan.toString
    val reads = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(reads.nonEmpty && reads.forall(_.contains("cc:")),
      s"expected the unpruned baseline to read cc:\n${reads.mkString("\n")}")
  }

  test("readTxCols prunes the scans to keys+versions+requested and matches the wide read") {
    val root = freshRoot(); seed(root)
    val narrow = PkTableSink.readTxCols(spark, root, Seq("id", "ca"))
    val reads = narrow.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("ReadSchema")).toSeq
    // merge-on-read is one layered scan: it covers the base and the delta
    assert(reads.size == 1, s"expected 1 layered scan:\n${reads.mkString("\n")}")
    val m = graft.sinks.TxLog.current(spark, root).get
    def dirOf(p: String) = new org.apache.hadoop.fs.Path(p).toUri.getPath
    assert(narrow.inputFiles.map(f => dirOf(new org.apache.hadoop.fs.Path(f).getParent.toString))
      .toSet == (m.dataDir +: m.deltas).map(dirOf).toSet, "the scan must cover both dirs")
    reads.foreach { r =>
      assert(r.contains("id:") && r.contains("ver:") && r.contains("ca:"),
        s"required columns missing from scan: $r")
      assert(!r.contains("cb:") && !r.contains("cc:"),
        s"unrequested columns not pruned: $r")
    }
    val got = narrow.as[(Long, String)].collect().toSet
    val want = PkTableSink.readTx(spark, root, spark.emptyDataFrame)
      .select(col("id"), col("ca")).as[(Long, String)].collect().toSet
    assert(got == want && got.contains((3L, "A3")) && !got.exists(_._1 == 200L),
      "projected read must agree with the wide merge (upsert + tombstone included)")
  }

  test("readTxCols on a widened table: old dirs lack the new column, nulls fill") {
    val root = freshRoot(); seed(root)
    PkTableSink.mergeTx(spark, root,
      Seq((5L, 2L, "A5", "B5", "C5", 42L, false))
        .toDF("id", "ver", "ca", "cb", "cc", "score", "del"),
      Seq("id"), Seq("ver"), "del", writer = "w")
    val got = PkTableSink.readTxCols(spark, root, Seq("id", "score"))
      .as[(Long, Option[Long])].collect().toMap
    assert(got(5L).contains(42L) && got(7L).isEmpty && got.size == 100)
  }
}
