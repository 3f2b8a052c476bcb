package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.cdc.{MaterializedAgg, MaterializedJoin, MaterializedTopK}
import graft.ops.{GraphIndex, IvfIndex, LshIndex}
import graft.sinks.{PkTableSink, TxLog}
import graft.streaming.KmvMv

/** Every writer of a TxLog dir records the schema it wrote: the record
  * equals what inference returns, and a read through the cache runs
  * no job. */
class SchemaRecordSpec extends SparkSpec {
  import spark.implicits._

  private def dirsOf(m: TxLog.Manifest): Set[String] =
    ((m.dataDir +: m.deltas) ++ m.tables.values.flatMap(_.split(",")))
      .filter(_.nonEmpty).toSet

  /** Run `write` against `root` and check every dir it added: nothing
    * has read them yet, so a job-free schema can only be a record. */
  private def checkNewDirs(root: String, expectAtLeast: Int)(write: => Any): Unit = {
    val before = TxLog.current(spark, root).map(dirsOf).getOrElse(Set.empty)
    write
    val added = dirsOf(TxLog.current(spark, root).get) -- before
    assert(added.size >= expectAtLeast, s"expected new dirs under $root, got $added")
    added.foreach { d =>
      val (recorded, jobs) = JobCount(spark)(SchemaCache.schemaOf(spark, d))
      assert(jobs == 0, s"$d: schema was not recorded by its writer")
      assert(recorded == spark.read.parquet(d).schema, s"$d: record differs from inference")
      val (_, readJobs) = JobCount(spark)(SchemaCache.read(spark, d))
      assert(readJobs == 0, s"$d: cached read ran a job")
    }
  }

  // changelog rows: (key, version, group, value, deleted)
  private def chg(rows: (Long, Long, String, Double, Boolean)*): DataFrame =
    rows.toDF("k", "ver", "g", "v", "del")
  private val b1 = chg((1L, 1L, "a", 10.0, false), (2L, 1L, "b", 4.0, false))
  private val b2 = chg((1L, 2L, "b", 11.0, false), (3L, 1L, "a", 5.0, true))

  test("mergeTx base and delta, compactTx and a widened table record their schemas") {
    val root = TestTmp.dir("schrec").toString + "/lake"
    def merge(df: DataFrame) = PkTableSink.mergeTx(spark, root, df, Seq("k"), Seq("ver"),
      "del", writer = "w", bloomCols = Seq("g"))
    checkNewDirs(root, 1)(merge(b1))
    checkNewDirs(root, 1)(merge(b2))
    checkNewDirs(root, 1)(PkTableSink.compactTx(spark, root, "w"))
    // widening: the delta carries a new column, the compaction folds it in
    checkNewDirs(root, 1)(merge(chg((4L, 1L, "c", 1.0, false)).withColumn("note", lit("n"))))
    checkNewDirs(root, 1)(PkTableSink.compactTx(spark, root, "w"))
    assert(PkTableSink.readTx(spark, root, spark.emptyDataFrame).columns.contains("note"))
  }

  test("pruned reads and the change feed span a widened table's per-dir schemas") {
    // each dir is read with its own recorded schema; the older dirs
    // lack the column a later commit added, and read it as null
    val root = TestTmp.dir("schrec").toString + "/wide"
    def merge(df: DataFrame) = PkTableSink.mergeTx(spark, root, df, Seq("k"), Seq("ver"),
      "del", writer = "w", bloomCols = Seq("g"))
    merge(b1)
    merge(chg((3L, 1L, "c", 1.0, false)).withColumn("note", lit("n")))
    merge(chg((4L, 1L, "d", 2.0, false)).withColumn("note", lit("m")))
    val schemaOf = b1.drop("del").withColumn("note", lit(""))
    def keys(df: DataFrame) = df.select("k").as[Long].collect().sorted.toSeq
    assert(keys(PkTableSink.readTxRange(spark, root, schemaOf, 0L, 10L)) == Seq(1L, 2L, 3L, 4L))
    assert(keys(PkTableSink.readTxRangeOn(spark, root, schemaOf, "ver", 1L, 1L)) ==
      Seq(1L, 2L, 3L, 4L))
    assert(PkTableSink.readTxPointOn(spark, root, schemaOf, "g", "c")
      .select("note").as[String].collect().toSeq == Seq("n"))
    assert(PkTableSink.readTxPointOn(spark, root, schemaOf, "k", "1")
      .select("note").as[Option[String]].collect().toSeq == Seq(None))
    assert(keys(PkTableSink.readTxChanges(spark, root, 0L, 2L)) == Seq(3L, 4L))
  }

  test("the Agg, MinMax, TopK, Join and sketch rounds record their state and mv dirs") {
    def rounds(root: String, dirs: Int = 2)(apply: (DataFrame, Long) => Boolean): Unit = {
      assert(apply(b1, 1L))
      checkNewDirs(root, dirs)(assert(apply(b2, 2L)))
    }
    val base = TestTmp.dir("schrec").toString
    rounds(s"$base/agg")((b, id) => MaterializedAgg.maintainTx(s"$base/agg", b, id,
      Seq("k"), Seq("ver"), col("del"), Seq("g"), Seq("total" -> col("v")), writer = "j"))
    rounds(s"$base/mm")((b, id) => MaterializedAgg.maintainMinMaxTx(s"$base/mm", b, id,
      Seq("k"), Seq("ver"), col("del"), Seq("g"), Seq("total" -> col("v")),
      Seq(MaterializedAgg.Extremum("hi", col("v"), isMin = false)), writer = "j"))
    rounds(s"$base/topk")((b, id) => MaterializedTopK.maintainTx(s"$base/topk", b, id,
      Seq("k"), Seq("ver"), col("del"), Seq("g"), col("v"), 2, writer = "j"))
    // the join's second table: customer key k → region r
    val cust = Seq((1L, 1L, "east", false), (2L, 1L, "west", false), (3L, 1L, "east", false))
      .toDF("ck", "cver", "r", "cdel")
    rounds(s"$base/join")((b, id) => MaterializedJoin.maintainAggTx(s"$base/join", Seq(
      MaterializedJoin.BatchIn("o", b, Seq("k"), Seq("ver"), col("del")),
      MaterializedJoin.BatchIn("c", if (id == 1L) cust else cust.limit(0), Seq("ck"),
        Seq("cver"), col("cdel"))),
      Seq("k" -> "ck"), Seq("r", "v"), Seq("r"), Seq("total" -> col("v")), id, writer = "j"))
    // a sketch MV keeps no key state: one mv dir, with a binary sk column
    rounds(s"$base/kmv", dirs = 1)((b, id) => KmvMv.maintainTx(s"$base/kmv", b, id, Seq("g"), col("k"),
      writer = "j"))
  }

  test("the LSH, IVF and graph indexes record the schemas of their unpartitioned dirs") {
    val base = TestTmp.dir("schrec").toString
    val docs = (0L until 40L).map(i => (i, s"doc ${i % 6} shares words with doc ${i % 4}"))
      .toDF("id", "text")
    val lsh = s"$base/lsh"
    checkNewDirs(lsh, 2)(LshIndex.build(docs.where(col("id") < 20), col("id"), col("text"), lsh))
    checkNewDirs(lsh, 2)(LshIndex.add(docs.where(col("id") >= 20), col("id"), col("text"), lsh))
    checkNewDirs(lsh, 2)(LshIndex.compact(spark, lsh))

    val vecs = (0L until 60L).map(i => (i, Seq((i % 7).toDouble, (i % 5).toDouble, 1.0 + i % 3)))
      .toDF("id", "vec")
    val gone = vecs.where(col("id") < 5).select("id")
    val ivf = s"$base/ivf"
    checkNewDirs(ivf, 2)(IvfIndex.build(vecs, col("id"), col("vec"), ivf, k = 2))
    checkNewDirs(ivf, 1)(IvfIndex.delete(spark, ivf, gone, col("id")))
    checkNewDirs(ivf, 2)(IvfIndex.retrain(spark, ivf, k = 2))

    val graph = s"$base/graph"
    checkNewDirs(graph, 2)(GraphIndex.build(vecs.where(col("id") < 40), col("id"), col("vec"), graph))
    checkNewDirs(graph, 2)(GraphIndex.add(vecs.where(col("id") >= 40), col("id"), col("vec"), graph))
    checkNewDirs(graph, 1)(GraphIndex.delete(spark, graph, gone, col("id")))
    checkNewDirs(graph, 2)(GraphIndex.compact(spark, graph))
  }
}
