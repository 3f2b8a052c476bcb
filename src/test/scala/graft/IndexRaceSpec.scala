package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{GraphIndex, IvfIndex, LshIndex}
import graft.sinks.TxLog

/** Local filesystem under the `hookfs` scheme that runs a one-shot hook
  * the first time a commit probes for the manifest it is about to
  * claim — after the committing verb has read the log and written its
  * dirs, before its claim. Hadoop may load it through another class
  * loader than the spec's, so the hook is set reflectively. */
class ClaimHookFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  private val hook = new java.util.concurrent.atomic.AtomicReference[Runnable]()
  def setHook(r: Runnable): Unit = hook.set(r)
  override def getUri: java.net.URI = java.net.URI.create("hookfs:///")
  override def getScheme: String = "hookfs"
  override def exists(f: Path): Boolean = {
    if (f.getName.endsWith(".manifest")) Option(hook.getAndSet(null)).foreach(_.run())
    super.exists(f)
  }
}

/** The index verbs on the group-commit path under a foreign commit
  * that lands mid-verb: concurrent adds both land with their drift
  * counts summed, a build aborts rather than drop the foreign commit,
  * a retrain/rebuild or a search-dependent add re-runs over it, and a
  * compaction folds it in. */
class IndexRaceSpec extends SparkSpec {
  import spark.implicits._

  private def emb = Tables.embeddings(spark, sfDir)
  private def ids(lo: Long, hi: Long): DataFrame =
    emb.where(col("vec_id") >= lo && col("vec_id") < hi)

  private def hookRoot(tag: String): String = {
    spark.sparkContext.hadoopConfiguration.set("fs.hookfs.impl", classOf[ClaimHookFs].getName)
    "hookfs://" + TestTmp.dir(tag).toString + "/idx"
  }

  /** Run `foreign` (once) inside the next commit's claim on `root`. */
  private def beforeNextClaim(root: String)(foreign: => Any): Unit = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.getClass.getMethod("setHook", classOf[Runnable])
      .invoke(fs, new Runnable { def run(): Unit = foreign })
  }

  private def meta(root: String, key: String): Option[String] =
    TxLog.current(spark, root).flatMap(_.meta.get(key))

  /** Every dir under the root's table dirs is one some manifest lists:
    * an aborted or lost commit left nothing behind. */
  private def noOrphans(root: String): Unit = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listed = TxLog.versions(spark, root).flatMap(TxLog.at(spark, root, _))
      .flatMap(_.tables.values.flatMap(_.split(",")))
      .map(d => new Path(d).getName).toSet
    val m = TxLog.current(spark, root).get
    val onDisk = m.tables.keys.toSeq.flatMap(t =>
      fs.listStatus(new Path(s"$root/$t")).map(_.getPath.getName))
    assert(onDisk.toSet == listed, s"orphan dirs: ${onDisk.toSet -- listed}")
  }

  test("IVF: racing adds both land and sum their drift; a build over a foreign " +
    "commit aborts; a retrain or an add re-runs over one; a compact folds a racing add in") {
    val root = hookRoot("ivfrace")
    def add(lo: Long, hi: Long, w: String) =
      IvfIndex.add(ids(lo, hi), col("vec_id"), col("embedding"), root, writer = w)
    IvfIndex.build(ids(0, 100), col("vec_id"), col("embedding"), root, k = 4)
    beforeNextClaim(root)(add(100, 110, "foreign"))
    assert(add(110, 130, "mine") == 2L)
    assert(IvfIndex.count(spark, root) == 130 &&
      meta(root, IvfIndex.AddsKey).contains("30"))

    beforeNextClaim(root)(add(130, 140, "foreign"))
    val e = intercept[IllegalStateException](
      IvfIndex.build(ids(0, 50), col("vec_id"), col("embedding"), root, k = 4))
    assert(e.getMessage.contains("concurrent commit"))
    assert(IvfIndex.count(spark, root) == 140 &&
      meta(root, IvfIndex.AddsKey).contains("40"))

    // a retrain overtaken by an add re-trains over the winner's vectors
    beforeNextClaim(root)(add(140, 150, "foreign"))
    IvfIndex.retrain(spark, root, k = 4)
    assert(IvfIndex.count(spark, root) == 150 &&
      meta(root, IvfIndex.AddsKey).contains("0"))

    // an add overtaken by a retrain to 3 cells is re-assigned against
    // the new centroids: no vector keeps a cell the index no longer has
    beforeNextClaim(root)(IvfIndex.retrain(spark, root, k = 3))
    add(150, 160, "mine")
    assert(IvfIndex.count(spark, root) == 160 &&
      meta(root, IvfIndex.AddsKey).contains("10"))
    val m = TxLog.current(spark, root).get
    assert(spark.read.parquet(m.tables("vectors").split(","): _*)
      .where(col("cell") >= 3).count() == 0L)

    beforeNextClaim(root)(add(160, 170, "foreign"))
    IvfIndex.compact(spark, root)
    assert(TxLog.current(spark, root).get.tables("vectors").split(",").length == 1)
    assert(IvfIndex.count(spark, root) == 170)
    noOrphans(root)
  }

  test("graph: racing adds both land and sum their drift, once per id; a build " +
    "over a foreign commit aborts; a rebuild re-runs over one; an add of a live id " +
    "overtaken by its delete resurrects it; a compact folds a racing delete in") {
    val root = hookRoot("graphrace")
    def add(lo: Long, hi: Long, w: String) =
      GraphIndex.add(ids(lo, hi), col("vec_id"), col("embedding"), root, writer = w)
    GraphIndex.build(ids(0, 80), col("vec_id"), col("embedding"), root)
    beforeNextClaim(root)(add(80, 85, "foreign"))
    assert(add(85, 95, "mine") == 2L)
    assert(GraphIndex.count(spark, root) == 95 &&
      meta(root, GraphIndex.AddsKey).contains("15"))

    beforeNextClaim(root)(add(95, 100, "foreign"))
    intercept[IllegalStateException](
      GraphIndex.build(ids(0, 20), col("vec_id"), col("embedding"), root))
    assert(GraphIndex.count(spark, root) == 100 &&
      meta(root, GraphIndex.AddsKey).contains("20"))

    // a rebuild overtaken by an add re-derives the graph over it
    beforeNextClaim(root)(add(100, 105, "foreign"))
    GraphIndex.rebuild(spark, root)
    assert(GraphIndex.count(spark, root) == 105 &&
      meta(root, GraphIndex.AddsKey).contains("0"))

    // two adds of the same new ids: the loser re-runs, finds them
    // live, and counts none of them again
    beforeNextClaim(root)(add(105, 110, "foreign"))
    add(105, 110, "mine")
    assert(GraphIndex.count(spark, root) == 110 &&
      meta(root, GraphIndex.AddsKey).contains("5"))

    // id 3 is live when its re-add starts and deleted before the
    // re-add claims: the re-add, committed later, leaves it live
    beforeNextClaim(root)(GraphIndex.delete(spark, root, Seq(3L).toDF("id"), col("id")))
    add(3, 4, "mine")
    assert(GraphIndex.liveIds(spark, root).where(col("id") === 3L).count() == 1L)
    assert(GraphIndex.count(spark, root) == 110 &&
      meta(root, GraphIndex.AddsKey).contains("6"))

    beforeNextClaim(root)(GraphIndex.delete(spark, root, Seq(1L, 2L).toDF("id"), col("id")))
    GraphIndex.compact(spark, root)
    val m = TxLog.current(spark, root).get
    assert(m.tables("vectors").split(",").length == 1 &&
      m.tables("graph").split(",").length == 1)
    assert(GraphIndex.count(spark, root) == 108)
    // the folded edges lost the dead nodes with the racing delete
    val dead = spark.read.parquet(m.tables("graph"))
      .where(col("src").isin(1L, 2L) || col("dst").isin(1L, 2L)).count()
    assert(dead == 0L)
    noOrphans(root)
  }

  test("LSH: racing adds both land; a build over a foreign commit aborts; a " +
    "compact folds a racing add in") {
    val root = hookRoot("lshrace")
    def docs(lo: Long, hi: Long) = (lo until hi)
      .map(i => (i, s"doc $i shares words with doc ${i % 7} and doc ${i % 5}"))
      .toDF("doc_id", "text")
    def add(lo: Long, hi: Long, w: String) =
      LshIndex.add(docs(lo, hi), col("doc_id"), col("text"), root, writer = w)
    LshIndex.build(docs(0, 20), col("doc_id"), col("text"), root)
    beforeNextClaim(root)(add(20, 25, "foreign"))
    assert(add(25, 30, "mine") == 2L)
    assert(LshIndex.count(spark, root) == 30)

    beforeNextClaim(root)(add(30, 35, "foreign"))
    intercept[IllegalStateException](
      LshIndex.build(docs(0, 10), col("doc_id"), col("text"), root))
    assert(LshIndex.count(spark, root) == 35)

    beforeNextClaim(root)(add(35, 40, "foreign"))
    LshIndex.compact(spark, root)
    val m = TxLog.current(spark, root).get
    assert(m.tables("sigs").split(",").length == 1 && m.tables("bands").split(",").length == 1)
    assert(LshIndex.count(spark, root) == 40)
    noOrphans(root)
  }
}
