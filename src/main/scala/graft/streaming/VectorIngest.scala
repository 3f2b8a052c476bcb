package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.GraphIndex
import graft.sinks.TxLog

/** Streaming EMBEDDING ingest front door over the persisted
  * transactional graph-ANN index ([[graft.ops.GraphIndex]]) — the
  * dense-vector sibling of the A34 text front door (LshIndex): each
  * micro-batch of `(id, vector)` rows PROBES the committed index
  * (cost ∝ batch · beam — never corpus), near-duplicates of anything
  * indexed by an EARLIER batch are dropped, and the novel rows both
  * flow downstream and extend the index as one delta commit
  * ([[GraphIndex.add]], the batched-HNSW insert).
  *
  * This is the shape of an embedding-dedup crawl/ingest tier at
  * 100 TB: the corpus lives in the index's committed parquet layers,
  * and a batch's membership and nearest-neighbor checks are an id
  * scan and bounded-broadcast beam walks over them. No stage shuffles
  * the corpus while the index has no deletes since its last compact:
  * until then no id repeats across the vectors layers, so their read
  * is a plain scan, not a merge per id.
  *
  * Duplicate-free downstream WITHOUT a watermark: the front door
  * anti-joins the batch against [[GraphIndex.liveIds]] first —
  * the beam search excludes self-matches by id, so membership is
  * checked by id, near-duplication by content. A replayed batch
  * (crash after the add committed) finds all its novel ids live and
  * emits nothing; a replayed FIRST batch (crash after build) takes
  * the probe path and likewise drains to empty. Note the delivery
  * contract this buys is at-LEAST-once dedup / at-MOST-once emit in
  * the crash window between the index commit and the caller's
  * downstream write: if the process dies there, the replay finds the
  * ids live and the rows never reach downstream. A caller needing
  * exactly-once must commit its downstream sink before (or
  * atomically with) consuming the returned frame — e.g. write the
  * novel rows to a transactional sink keyed by batch id FIRST, then
  * let a later batch's ingestTx observe the index. In-batch near-dup
  * resolution is deliberately out of scope (C28's
  * dropDuplicatesWithinWatermark / the batch dedup operators own
  * it) — this is the cross-batch, near-duplicate, restart-surviving
  * layer, same contract as A34.
  */
object VectorIngest {

  /** Apply one micro-batch from `foreachBatch`; returns the novel
    * rows `(id, vec)` that passed the front door (what the caller
    * hands downstream). First batch ever builds the index.
    *
    * @param minCos nearest-committed-neighbor cosine at or above
    *               which a row is a near-duplicate and is dropped
    */
  def ingestTx(root: String, batch: DataFrame, id: Column, vec: Column,
               minCos: Double = 0.995): DataFrame = {
    val spark = batch.sparkSession
    val b = batch.select(id.as("id"), vec.as("vec")).dropDuplicates("id")
      .localCheckpoint(true)
    if (TxLog.current(spark, root).isEmpty) {
      if (!b.isEmpty) GraphIndex.build(b, col("id"), col("vec"), root,
        writer = "vingest-build")
      b
    } else {
      // id membership first (redeliveries cost one anti-join, zero
      // beam walks), then content: top-1 committed neighbor per
      // surviving row, drop at >= minCos
      val fresh = b.join(GraphIndex.liveIds(spark, root), Seq("id"), "left_anti")
        .localCheckpoint(true)
      if (fresh.isEmpty) fresh
      else {
        val near = GraphIndex.search(spark, root, fresh,
            col("id"), col("vec"), k = 1)
          .where(col("cos") >= minCos)
          .select(col("qid").as("id")).distinct()
        val novel = fresh.join(near, Seq("id"), "left_anti")
          .localCheckpoint(true)
        if (novel.count() > 0)
          GraphIndex.add(novel, col("id"), col("vec"), root,
            writer = "vingest-add")
        novel
      }
    }
  }
}
