package graft

import org.apache.spark.sql.functions._
import graft.ops.Similarity

/** k-means|| seeding: determinism, shape, and clustering quality vs
  * the corpus-row-stand-in centroids. */
class KMeansSpec extends SparkSpec {

  private def emb = Tables.embeddings(spark, sfDir)

  private def cost(centers: Seq[(Long, Array[Double])]): Double = {
    // mean squared distance to the nearest center over the corpus
    val cents = centers.map(_._2)
    val d2 = cents.map { c =>
      val cn2 = c.map(x => x * x).sum
      col("n2") + lit(cn2) - lit(2.0) *
        call_function("double_dot", col("v"), typedLit(c.toSeq))
    }.reduce(least(_, _))
    emb.select(col("embedding").cast("array<double>").as("v"))
      .withColumn("n2", call_function("double_dot", col("v"), col("v")))
      .agg(avg(d2)).collect()(0).getDouble(0)
  }

  test("kmeans|| centroids are deterministic across runs") {
    val a = Similarity.kmeansCentroids(emb, col("vec_id"), col("embedding"), k = 8)
    val b = Similarity.kmeansCentroids(emb, col("vec_id"), col("embedding"), k = 8)
    assert(a.map(_._1) == b.map(_._1))
    assert(a.zip(b).forall { case ((_, x), (_, y)) => x.sameElements(y) })
  }

  test("returns k finite centroids of corpus dimensionality") {
    val c = Similarity.kmeansCentroids(emb, col("vec_id"), col("embedding"), k = 8)
    assert(c.size == 8)
    assert(c.forall(_._2.length == 64))
    assert(c.forall(_._2.forall(x => !x.isNaN && !x.isInfinite)))
  }

  test("kmeans|| centroids beat corpus-row stand-ins on clustering cost") {
    val trained = Similarity.kmeansCentroids(emb, col("vec_id"), col("embedding"), k = 16)
    val standIns = emb.where(col("vec_id") % 25 === 0)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
    val (ct, cs) = (cost(trained), cost(standIns))
    assert(ct < cs, s"kmeans cost $ct not below stand-in cost $cs")
  }

  test("seeded Lloyd trainer: deterministic, k finite centroids, beats stand-ins") {
    val a = Similarity.kmeansLloydSeeded(emb, col("vec_id"), col("embedding"), k = 16)
    val b = Similarity.kmeansLloydSeeded(emb, col("vec_id"), col("embedding"), k = 16)
    assert(a.map(_._1) == Seq.tabulate(16)(_.toLong))
    assert(a.zip(b).forall { case ((_, x), (_, y)) => x.sameElements(y) })
    assert(a.forall(_._2.length == 64))
    assert(a.forall(_._2.forall(x => !x.isNaN && !x.isInfinite)))
    // Lloyd rounds must improve on raw corpus-row stand-ins
    val standIns = emb.where(col("vec_id") % 25 === 0)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
    val (ct, cs) = (cost(a), cost(standIns))
    assert(ct < cs, s"seeded-Lloyd cost $ct not below stand-in cost $cs")
  }

  test("int8 rerank: deterministic, and recalls most exact top-1 neighbors") {
    val exact = Similarity.topkBruteForce(emb, col("vec_id"), col("embedding"),
        isQuery = _ % 40 === 0, k = 1)
      .select(col("qid"), col("nid"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Similarity.int8TopkRerank(emb, col("vec_id"), col("embedding"),
        isQuery = _ % 40 === 0, k = 3, rerankK = 20)
      .select(col("qid"), col("rank"), col("nid")).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    assert(got.keySet == exact.keySet)
    // the exact top-1 should survive quantized candidate generation
    // for nearly every query (SQ8 @ rerank 20 on 64-dim data)
    val hit = exact.count { case (q, n1) => got(q).contains(n1) }
    assert(hit.toDouble / exact.size >= 0.9,
      s"int8 top-1 recall ${hit.toDouble / exact.size} below 0.9")
  }

  test("PQ rerank: deterministic, and recalls most exact top-1 neighbors") {
    val exact = Similarity.topkBruteForce(emb, col("vec_id"), col("embedding"),
        isQuery = _ % 40 === 0, k = 1)
      .select(col("qid"), col("nid"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def run() = Similarity.pqTopkRerank(emb, col("vec_id"), col("embedding"),
        isQuery = _ % 40 === 0, m = 4, codes = 64, k = 3, rerankK = 50)
      .select(col("qid"), col("rank"), col("nid")).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(r => (r.getLong(1), r.getLong(2))).toSet).toMap
    val got = run()
    assert(got == run(), "PQ result not deterministic across runs")
    assert(got.keySet == exact.keySet)
    // ADC with 4×16 md5-sampled codewords is a coarse estimator —
    // rerank@20 still recovers the exact top-1 for most queries
    val hit = exact.count { case (q, n1) => got(q).map(_._2).contains(n1) }
    assert(hit.toDouble / exact.size >= 0.6,
      s"PQ top-1 recall ${hit.toDouble / exact.size} below 0.6")
  }

  test("persisted IVF index: build/search matches the in-memory path; lifecycle commits versions") {
    import graft.ops.{IvfIndex, Similarity}
    import graft.sinks.TxLog
    val root = TestTmp.dir("ivfidx").toString + "/idx"
    val half = emb.where(col("vec_id") < 250)
    val v0 = IvfIndex.build(half, col("vec_id"), col("embedding"), root, k = 8)
    assert(v0 == 0L && IvfIndex.count(spark, root) == 250)
    val queries = emb.where(col("vec_id") % 40 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val fromIndex = IvfIndex.search(spark, root, queries,
      col("qid"), col("qvec"), k = 3, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    // oracle: the in-memory path over the same corpus + same centroids
    val cents = Similarity.kmeansCentroids(half, col("vec_id"), col("embedding"), k = 8)
    val inMem = Similarity.ivfTopkCentroids(
      half.unionByName(emb.where(col("vec_id") % 40 === 0)).distinct(),
      col("vec_id"), col("embedding"), cents, isQuery = _ % 40 === 0, k = 3, nprobe = 2)
    // in-memory path searches corpus ∪ queries; restrict to corpus hits
    val inMemSet = inMem.where(col("nid") < 250)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    // ranks can shift when the in-memory variant sees extra vectors;
    // compare the neighbor SETS per query instead
    def byQ(s: Set[(Long, Long, Long)]) =
      s.groupBy(_._1).view.mapValues(_.map(_._3)).toMap
    assert(byQ(fromIndex) == byQ(inMemSet))

    // physical layout: the committed vectors dir stores each vector's
    // cell as a plain long column
    val m0 = TxLog.at(spark, root, 0L).get
    assert(spark.read.parquet(m0.tables("vectors")).schema("cell").dataType ==
      org.apache.spark.sql.types.LongType)

    // incremental add commits a delta version; contents grow
    val v1 = IvfIndex.add(emb.where(col("vec_id") >= 250 && col("vec_id") < 260),
      col("vec_id"), col("embedding"), root)
    assert(v1 == 1L && IvfIndex.count(spark, root) == 260)
    // compact folds the deltas into one snapshot, same contents
    val v2 = IvfIndex.compact(spark, root)
    assert(v2 == 2L && IvfIndex.count(spark, root) == 260)
    val afterCompact = IvfIndex.search(spark, root, queries,
      col("qid"), col("qvec"), k = 3, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    // retrain commits new centroids over all 260 vectors; search stays sane
    val v3 = IvfIndex.retrain(spark, root, k = 8)
    assert(v3 == 3L && IvfIndex.count(spark, root) == 260)
    val afterRetrain = IvfIndex.search(spark, root, queries,
      col("qid"), col("qvec"), k = 3, nprobe = 2).collect()
    assert(afterRetrain.nonEmpty)
    // vacuum to the last 2 versions; current stays fully readable
    val removed = IvfIndex.vacuum(spark, root, keepVersions = 2)
    assert(removed == Seq(0L, 1L))
    assert(TxLog.versions(spark, root) == Seq(2L, 3L))
    assert(IvfIndex.count(spark, root) == 260)
    // compact's v2 snapshot (still kept) must also stay readable: its
    // dirs are reference-counted against kept manifests
    val m2 = TxLog.at(spark, root, 2L).get
    assert(spark.read.parquet(
      m2.tables("vectors").split(","): _*).count() == 260)
    assert(afterCompact.nonEmpty)
  }

  test("IVF index deletes: tombstone delta, resurrection by re-add, physical fold on compact") {
    import graft.ops.IvfIndex
    import graft.sinks.TxLog
    val root = TestTmp.dir("ivfdel").toString + "/idx"
    val corpus = emb.where(col("vec_id") < 100)
    IvfIndex.build(corpus, col("vec_id"), col("embedding"), root, k = 4)
    assert(IvfIndex.count(spark, root) == 100)

    // delete a batch: count drops, searches stop returning the ids
    import spark.implicits._
    val victims = (0L until 20L).toDF("id")
    IvfIndex.delete(spark, root, victims, col("id"))
    assert(IvfIndex.count(spark, root) == 80)
    val queries = emb.where(col("vec_id") < 100)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val hits = IvfIndex.search(spark, root, queries,
      col("qid"), col("qvec"), k = 5, nprobe = 4)
      .select(col("nid")).as[Long].collect().toSet
    assert(hits.nonEmpty && hits.forall(_ >= 20),
      s"deleted ids surfaced in search: ${hits.filter(_ < 20)}")

    // re-add one deleted id AFTER the tombstone: it resurrects
    IvfIndex.add(emb.where(col("vec_id") === 5), col("vec_id"), col("embedding"), root)
    assert(IvfIndex.count(spark, root) == 81)

    // compact folds the delete physically: tombstone key gone from the
    // manifest, raw vector files no longer contain the dead ids
    IvfIndex.compact(spark, root)
    val m = TxLog.current(spark, root).get
    assert(!m.tables.contains("tombstones"))
    val raw = spark.read.parquet(m.tables("vectors").split(","): _*)
      .select(col("id")).as[Long].collect().toSet
    assert(raw.size == 81 && !raw.exists(i => i < 20 && i != 5))
    assert(raw.contains(5L))
  }

  test("IVF index: a re-added live id is stored once — counted once, ranked at most once per query") {
    import graft.ops.IvfIndex
    import spark.implicits._
    val root = TestTmp.dir("ivfreadd").toString + "/idx"
    IvfIndex.build(emb.where(col("vec_id") < 100), col("vec_id"), col("embedding"), root, k = 4)
    // re-add ten live ids, one of them twice in the same batch
    val again = emb.where(col("vec_id") < 10)
    IvfIndex.add(again.unionByName(again.where(col("vec_id") === 3)),
      col("vec_id"), col("embedding"), root)
    assert(IvfIndex.count(spark, root) == 100)
    // nprobe = k: every cell is probed, so a stored copy would surface
    val queries = emb.where(col("vec_id") < 40)
      .select((col("vec_id") + 100000L).as("qid"), col("embedding").as("qvec"))
    val hits = IvfIndex.search(spark, root, queries, col("qid"), col("qvec"), k = 10, nprobe = 4)
      .select(col("qid"), col("nid")).as[(Long, Long)].collect()
    assert(hits.exists(_._2 < 10))
    hits.groupBy(_._1).foreach { case (q, hs) =>
      assert(hs.map(_._2).distinct.length == hs.length, s"query $q ranked a neighbor twice")
    }
  }

  test("ann_ivf_kmeans query returns ranked neighbors for every query point") {
    val df = SparkEntry.queries("ann_ivf_kmeans")(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // per-query ranks are 1..n with n <= 3 and cosines non-increasing
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getLong(2))
      assert(sorted.map(_.getLong(2)).toSeq == (1L to sorted.length).toSeq)
      val coss = sorted.map(_.getDouble(4)).toSeq
      assert(coss == coss.sorted.reverse)
      assert(sorted.length <= 3)
    }
  }
}
