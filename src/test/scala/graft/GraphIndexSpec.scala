package graft

import org.apache.spark.sql.functions._
import graft.ops.{GraphIndex, Similarity}
import graft.sinks.TxLog

/** Persisted NN-descent graph index (D-row lifecycle, the C8d/D16
  * discipline): build/search parity with the in-memory path,
  * incremental HNSW-style insert, version-ordered delete with
  * resurrection, compact's physical fold, rebuild, vacuum. */
class GraphIndexSpec extends SparkSpec {

  private def emb = Tables.embeddings(spark, sfDir)

  test("persisted graph index: build/search matches the in-memory path; lifecycle commits versions") {
    val root = TestTmp.dir("gidx").toString + "/idx"
    val half = emb.where(col("vec_id") < 250)
    val v0 = GraphIndex.build(half, col("vec_id"), col("embedding"), root)
    assert(v0 == 0L && GraphIndex.count(spark, root) == 250)

    // parity: searching the COMMITTED graph must equal the in-memory
    // kernel walking the same (freshly derived) graph for corpus-id
    // queries — same entries, same hops, same tie-breaks
    val queries = half.where(col("vec_id") % 40 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.select(col("qid"), col("rank"), col("nid")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val fromIndex = asSet(GraphIndex.search(spark, root, queries,
      col("qid"), col("qvec"), k = 3))
    val inMem = asSet(Similarity.nnDescentTopk(half, col("vec_id"),
      col("embedding"), isQuery = _ % 40 === 0, k = 3))
    assert(fromIndex == inMem)

    // incremental add: a version commits, new nodes become
    // SEARCHABLE (reachable via the old→new in-edges) with the graph
    // deltas alone — no rebuild
    val batch = emb.where(col("vec_id") >= 250 && col("vec_id") < 280)
    val v1 = GraphIndex.add(batch, col("vec_id"), col("embedding"), root)
    assert(v1 == 1L && GraphIndex.count(spark, root) == 280)
    // each new vector queried by ITSELF must surface itself as the
    // top hit (cos=1) — proof the inserted nodes are wired in
    val selfQ = batch.select(col("vec_id").as("qid"),
      col("embedding").as("qvec"))
    val self = GraphIndex.search(spark, root,
        selfQ.withColumn("qid", col("qid") + 100000L), col("qid"),
        col("qvec"), k = 1)
      .where(col("nid") === col("qid") - 100000L).count()
    assert(self == 30L, s"only $self/30 inserted nodes reachable")

    // compact folds deltas into one snapshot; search survives
    val v2 = GraphIndex.compact(spark, root)
    assert(v2 == 2L && GraphIndex.count(spark, root) == 280)
    assert(TxLog.current(spark, root).get.tables("vectors").split(",").length == 1)
    assert(GraphIndex.search(spark, root, queries,
      col("qid"), col("qvec"), k = 3).count() > 0)

    // rebuild re-derives the graph over the live 280; full parity with
    // a from-scratch in-memory build over the same corpus
    val v3 = GraphIndex.rebuild(spark, root)
    assert(v3 == 3L && GraphIndex.count(spark, root) == 280)
    val corpus280 = emb.where(col("vec_id") < 280)
    val rebuilt = asSet(GraphIndex.search(spark, root, queries,
      col("qid"), col("qvec"), k = 3))
    val fresh = asSet(Similarity.nnDescentTopk(corpus280, col("vec_id"),
      col("embedding"), isQuery = _ % 40 === 0, k = 3))
    assert(rebuilt == fresh)

    // vacuum to the last 2 versions; current stays fully readable
    val removed = GraphIndex.vacuum(spark, root, keepVersions = 2)
    assert(removed == Seq(0L, 1L))
    assert(TxLog.versions(spark, root) == Seq(2L, 3L))
    assert(GraphIndex.count(spark, root) == 280)
  }

  test("graph index deletes: tombstone delta, resurrection by re-add, physical fold on compact") {
    import spark.implicits._
    val root = TestTmp.dir("gidxdel").toString + "/idx"
    val corpus = emb.where(col("vec_id") < 100)
    GraphIndex.build(corpus, col("vec_id"), col("embedding"), root)
    assert(GraphIndex.count(spark, root) == 100)

    val victims = (0L until 20L).toDF("id")
    GraphIndex.delete(spark, root, victims, col("id"))
    assert(GraphIndex.count(spark, root) == 80)
    // deleted ids stop being scoreable — no search may return them
    val queries = corpus.select(col("vec_id").as("qid"),
      col("embedding").as("qvec"))
    val hits = GraphIndex.search(spark, root, queries,
        col("qid"), col("qvec"), k = 5)
      .select(col("nid")).as[Long].collect().toSet
    assert(hits.nonEmpty && hits.forall(_ >= 20),
      s"deleted ids surfaced in search: ${hits.filter(_ < 20)}")

    // re-add one deleted id AFTER the tombstone: it resurrects and is
    // searchable again (fresh edges from the add delta)
    GraphIndex.add(emb.where(col("vec_id") === 5), col("vec_id"),
      col("embedding"), root)
    assert(GraphIndex.count(spark, root) == 81)
    val q5 = emb.where(col("vec_id") === 5)
      .select((col("vec_id") + 100000L).as("qid"), col("embedding").as("qvec"))
    assert(GraphIndex.search(spark, root, q5, col("qid"), col("qvec"), k = 1)
      .where(col("nid") === 5L).count() == 1L)

    // compact folds physically: tombstone key gone, no dead id in the
    // raw vector files, no edge touching a dead id in the raw graph
    GraphIndex.compact(spark, root)
    val m = TxLog.current(spark, root).get
    assert(!m.tables.contains("tombstones"))
    val rawIds = spark.read.parquet(m.tables("vectors").split(","): _*)
      .select(col("id")).as[Long].collect().toSet
    assert(rawIds.size == 81 && !rawIds.exists(i => i < 20 && i != 5))
    val deadEdges = spark.read.parquet(m.tables("graph").split(","): _*)
      .where((col("src") < 20 && col("src") =!= 5) ||
             (col("dst") < 20 && col("dst") =!= 5)).count()
    assert(deadEdges == 0L)
  }

  test("graph index reads: adds keep the vectors a plain layered scan; a delete " +
    "makes the read merge per id until compact") {
    import spark.implicits._
    val root = TestTmp.dir("gidxscan").toString + "/idx"
    def add(lo: Long, hi: Long) = GraphIndex.add(
      emb.where(col("vec_id") >= lo && col("vec_id") < hi), col("vec_id"), col("embedding"), root)
    // the live-id read merges per id iff its plan aggregates
    def merges = GraphIndex.liveIds(spark, root).queryExecution.executedPlan
      .toString.contains("Aggregate")
    def liveOnce(n: Long) = {
      val ids = GraphIndex.liveIds(spark, root).as[Long].collect()
      assert(ids.length == n && ids.distinct.length == n)
    }
    GraphIndex.build(emb.where(col("vec_id") < 60), col("vec_id"), col("embedding"), root)
    add(60, 70); add(70, 80)
    assert(!merges); liveOnce(80)
    // re-adding live ids only densifies: no id lands twice
    add(65, 75)
    assert(!merges); liveOnce(80)
    GraphIndex.delete(spark, root, Seq(3L).toDF("id"), col("id"))
    assert(merges); liveOnce(79)
    add(3, 4)
    assert(merges); liveOnce(80)
    GraphIndex.compact(spark, root)
    add(80, 90)
    assert(!merges); liveOnce(90)
  }
}
