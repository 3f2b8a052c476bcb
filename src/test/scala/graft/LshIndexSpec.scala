package graft

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, LshIndex}
import graft.sinks.TxLog

/** Persisted MinHash-LSH dedup index lifecycle: build → probe →
  * incremental add (commit I/O ∝ batch) → compact → vacuum, with the
  * signature-estimate contract pinned against a plain-Scala replay. */
class LshIndexSpec extends SparkSpec {
  import spark.implicits._

  private def root(tag: String) =
    TestTmp.dir(tag).toString + "/ix"

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "completely different content about spark engines and shuffles at scale"),
    (3L, "yet another unrelated document discussing parquet file formats deeply")
  ).toDF("doc_id", "text")

  // near-dup of doc 1 (one word differs), plus an unrelated doc
  private val batch = Seq(
    (10L, "the quick brown fox jumps over the lazy dog again and again tomorrow"),
    (11L, "totally novel text mentioning streaming watermarks and state stores")
  ).toDF("doc_id", "text")

  test("build → probe finds the near-dup with the estimator's jaccard, not the stranger") {
    val r = root("lsh-probe")
    LshIndex.build(corpus, col("doc_id"), col("text"), r)
    val got = LshIndex.probe(batch, col("doc_id"), col("text"), r,
        thresholdNum = 1, thresholdDen = 2)
      .select(col("new_id"), col("prior_id"), col("est_jaccard"))
      .as[(Long, Long, Double)].collect().toSeq
    assert(got.map(p => (p._1, p._2)) == Seq((10L, 1L)), s"got $got")
    // the estimate is matching-components/k of the SAME signatures the
    // index stores — replay both sigs and compare component-wise
    val sigs = Dedup.minhashSignatures(
        Dedup.shingleRows(corpus.unionByName(batch), col("doc_id"), col("text"), 3), 32)
      .as[(Long, Seq[Long])].collect().toMap
    val expMatches = sigs(10L).zip(sigs(1L)).count { case (a, b) => a == b }
    assert(got.head._3 == math.floor(expMatches / 32.0 * 1e4 + 0.5) / 1e4)
    assert(expMatches * 2 >= 32, "fixture drifted: near-dup below probe threshold")
  }

  test("add is a delta commit: base dirs untouched, probe sees the increment") {
    val r = root("lsh-add")
    LshIndex.build(corpus, col("doc_id"), col("text"), r)
    val m0 = TxLog.current(spark, r).get
    def filesOf(dir: String) = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).map(s => (s.getPath.getName, s.getLen, s.getModificationTime))
        .sortBy(_._1).toSeq
    }
    val baseSigFiles = filesOf(m0.tables("sigs"))
    LshIndex.add(batch, col("doc_id"), col("text"), r)
    val m1 = TxLog.current(spark, r).get
    // merge-on-read: the add carried the base dir forward BYTE-UNTOUCHED
    assert(m1.tables("sigs").split(",").head == m0.tables("sigs"))
    assert(filesOf(m0.tables("sigs")) == baseSigFiles)
    assert(m1.tables("sigs").split(",").length == 2)
    assert(LshIndex.count(spark, r) == 5L)
    // a second crawl increment probes against corpus ∪ first batch:
    // doc 20 is a near-dup of the ADDED doc 11
    val batch2 = Seq(
      (20L, "totally novel text mentioning streaming watermarks and state machines")
    ).toDF("doc_id", "text")
    val hits = LshIndex.probe(batch2, col("doc_id"), col("text"), r,
        thresholdNum = 1, thresholdDen = 2)
      .select(col("new_id"), col("prior_id")).as[(Long, Long)].collect().toSeq
    assert(hits == Seq((20L, 11L)), s"got $hits")
  }

  test("compact folds dirs, preserves probe results; vacuum drops unreferenced dirs") {
    val r = root("lsh-compact")
    LshIndex.build(corpus, col("doc_id"), col("text"), r)
    LshIndex.add(batch, col("doc_id"), col("text"), r)
    val before = LshIndex.probe(batch, col("doc_id"), col("text"), r,
        thresholdNum = 1, thresholdDen = 2)
      .as[(Long, Long, Double)].collect().toSet
    LshIndex.compact(spark, r)
    val mc = TxLog.current(spark, r).get
    assert(mc.tables("sigs").split(",").length == 1)
    assert(mc.tables("bands").split(",").length == 1)
    val after = LshIndex.probe(batch, col("doc_id"), col("text"), r,
        thresholdNum = 1, thresholdDen = 2)
      .as[(Long, Long, Double)].collect().toSet
    assert(after == before && LshIndex.count(spark, r) == 5L)
    // retention: keep only the compacted version; the pre-compact dirs
    // disappear, the kept version still answers
    val removed = LshIndex.vacuum(spark, r, keepVersions = 1)
    assert(removed.nonEmpty)
    assert(LshIndex.count(spark, r) == 5L)
    val fs = new org.apache.hadoop.fs.Path(r)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = Seq("sigs", "bands").flatMap(t =>
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$r/$t")).map(_.getPath.getName))
    assert(live.sorted == Seq(mc.tables("sigs"), mc.tables("bands"))
      .map(d => new org.apache.hadoop.fs.Path(d).getName).sorted,
      s"expected only the compacted dirs, got $live")
  }

  test("a re-added id replaces its rows: counted once, at most once per probe") {
    val r = root("lsh-readd")
    LshIndex.build(corpus, col("doc_id"), col("text"), r)
    // re-add doc 1, twice in the same batch
    val again = corpus.where(col("doc_id") === 1L)
    LshIndex.add(again.unionByName(again), col("doc_id"), col("text"), r)
    assert(LshIndex.count(spark, r) == 3L)
    val got = LshIndex.probe(batch, col("doc_id"), col("text"), r,
        thresholdNum = 1, thresholdDen = 2)
      .select(col("new_id"), col("prior_id")).as[(Long, Long)].collect().toSeq
    assert(got == Seq((10L, 1L)), s"got $got")
  }
}
