package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.cdc.MaterializedAgg
import graft.sinks.{PkTableSink, TxLog}

import scala.util.Random

/** Merge-on-read's one layered scan equals the per-dir union it
  * replaced: one scan per layer, unioned by name with missing columns
  * as null, the latest row per key by (versions, layer position), live
  * when its stored tombstone is false — kept here as the reference. */
class LayeredReadSpec extends SparkSpec {
  import spark.implicits._

  private val Tomb = "__graft_deleted"

  private def reference(dirs: Seq[String], keys: Seq[String], vers: Seq[String],
                        where: Column = lit(true)): DataFrame = {
    val layered = dirs.zipWithIndex
      .map { case (d, i) => spark.read.parquet(d).withColumn("__layer", lit(i.toLong)) }
      .reduce(_.unionByName(_, allowMissingColumns = true))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((vers :+ "__layer").map(c => col(c).desc): _*)
    layered.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1 && !col(Tomb) && where)
      .drop("__rn", "__layer", Tomb)
  }

  // rows as sets, columns in name order: the two reads must agree on
  // the column set too
  private def rows(df: DataFrame): (Seq[String], Set[Row]) = {
    val cols = df.columns.sorted.toSeq
    (cols, df.select(cols.map(col): _*).collect().toSet)
  }

  private def layers(root: String): Seq[String] = {
    val m = TxLog.current(spark, root).get
    m.dataDir +: m.deltas
  }

  private def merge(root: String, df: DataFrame, writer: String = "w"): Unit =
    PkTableSink.mergeTx(spark, root, df, Seq("id"), Seq("ver"), "del", writer = writer,
      compactAfterDeltas = Int.MaxValue)

  private def checkLake(root: String, ranges: Seq[(Long, Long)]): Unit = {
    val dirs = layers(root)
    assert(rows(PkTableSink.readTx(spark, root, spark.emptyDataFrame)) ==
      rows(reference(dirs, Seq("id"), Seq("ver"))), s"readTx over ${dirs.size} layers")
    ranges.foreach { case (lo, hi) =>
      assert(rows(PkTableSink.readTxRange(spark, root, spark.emptyDataFrame, lo, hi)) ==
        rows(reference(dirs, Seq("id"), Seq("ver"), col("id").between(lo, hi))),
        s"readTxRange($lo, $hi) over ${dirs.size} layers")
    }
  }

  test("random lakes with tombstones and a many-file base: full and pruned reads") {
    Seq(11, 12, 13).foreach { seed =>
      val rnd = new Random(seed)
      val root = TestTmp.dir("layered").toString + "/lake"
      def batch() = rnd.shuffle((0L until 40L).toList).take(15).map { k =>
        // versions 1-3: equal versions across layers are common
        (k, 1L + rnd.nextInt(3), s"v${rnd.nextInt(1000)}", rnd.nextInt(5) == 0)
      }.toDF("id", "ver", "v", "del")
      (1 to 3).foreach(_ => merge(root, batch()))
      // a key-range-sorted base of several files, so range reads prune
      // some of its files
      PkTableSink.compactTx(spark, root, "w", targetRowsPerFile = 6)
      (1 to 4).foreach(_ => merge(root, batch()))
      assert(layers(root).size == 5)
      val ranges = Seq((0L, 39L), (5L, 9L), (17L, 17L), (30L, 60L), (100L, 200L)) ++
        (1 to 3).map { _ => val lo = rnd.nextInt(40).toLong; (lo, lo + rnd.nextInt(8)) }
      checkLake(root, ranges)
      val (lo, hi) = (10L, 20L)
      assert(PkTableSink.pruneStats(spark, root, lo, hi)._1.size <
        PkTableSink.pruneStats(spark, root, lo, hi)._2, "the range read must prune some file")
    }
  }

  test("equal versions across layers: the later commit wins, its tombstone too") {
    val root = TestTmp.dir("layered").toString + "/lake"
    merge(root, Seq((1L, 1L, "a", false), (2L, 1L, "live", false), (3L, 2L, "x", false))
      .toDF("id", "ver", "v", "del"))
    merge(root, Seq((1L, 1L, "b", false), (2L, 1L, "gone", true), (3L, 1L, "y", false))
      .toDF("id", "ver", "v", "del"))
    val got = PkTableSink.readTx(spark, root, spark.emptyDataFrame)
      .select("id", "v").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "b", 3L -> "x"))
    checkLake(root, Seq((1L, 1L), (2L, 3L)))
  }

  test("widened schemas: older layers read the newer columns as null, pruned or not") {
    val root = TestTmp.dir("layered").toString + "/lake"
    merge(root, (0L until 20L).map(i => (i, 1L, s"a$i", false)).toDF("id", "ver", "v", "del"))
    merge(root, Seq((3L, 2L, "b3", 30L, false), (25L, 1L, "n25", 250L, false))
      .toDF("id", "ver", "v", "score", "del"))
    merge(root, Seq((4L, 2L, "c4", 40L, "t4", false), (26L, 1L, "n26", 260L, "t26", true))
      .toDF("id", "ver", "v", "score", "tag", "del"))
    // (0, 2) keeps only the base's file: the result still has every column
    val lo = PkTableSink.readTxRange(spark, root, spark.emptyDataFrame, 0L, 2L)
    assert(lo.columns.toSet == Set("id", "ver", "v", "score", "tag"))
    checkLake(root, Seq((0L, 2L), (3L, 4L), (20L, 30L), (0L, 100L)))
    assert(rows(PkTableSink.readTxCols(spark, root, Seq("id", "tag"))) ==
      rows(reference(layers(root), Seq("id"), Seq("ver")).select("id", "tag")))
  }

  test("a writer tag with a space and '%' reads back through lake and group tables") {
    val writer = "load 50%25 x"
    val root = TestTmp.dir("layered").toString + "/lake"
    (0 until 3).foreach(i => merge(root,
      (0L until 10L).map(k => (k + i * 5, i.toLong, s"v$i", k == 3L)).toDF("id", "ver", "v", "del"),
      writer))
    assert(layers(root).forall(_.contains(writer)))
    checkLake(root, Seq((0L, 4L), (6L, 6L), (0L, 30L)))
    val g = TestTmp.dir("layered").toString + "/mv"
    (1 to 3).foreach { i =>
      assert(MaterializedAgg.maintainTx(g,
        Seq((i.toLong, i.toLong, s"g${i % 2}", i * 1.5, false)).toDF("k", "ver", "g", "v", "del"),
        i.toLong, Seq("k"), Seq("ver"), col("del"), Seq("g"), Seq("total" -> col("v")), writer))
    }
    val mvDirs = TxLog.current(spark, g).get.tables("mv").split(",").toSeq
    assert(mvDirs.size == 3 && mvDirs.forall(_.contains(writer)))
    assert(rows(PkTableSink.readTxGroup(spark, g, "mv", spark.emptyDataFrame)) ==
      rows(reference(mvDirs, Seq("g"), Seq("batch_id"))))
  }
}
