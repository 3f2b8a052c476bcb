package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cdc.MvRound
import graft.sinks.{PkTableSink, TxLog}

/** The transactional SKETCH-COLUMN materialized-view engine — the
  * sketch-agnostic core of [[QskMv]] (percentile compactor) and
  * [[KmvMv]] (bottom-k distinct), mirroring the StarRocks
  * aggregate-table column types (`PERCENTILE`, `HLL`) whose loads
  * fold to mergeable state and whose reads union stored state.
  *
  * The discipline is [[graft.cdc.MaterializedAgg.maintainTx]]'s for
  * the APPEND-ONLY case (mergeable sketches cannot retract, so the
  * feed contract is insert-only — the routine-load event shape):
  *
  *  - each micro-batch folds to ONE bounded state row per touched
  *    (groupCols) key — commit I/O ∝ batch ∪ touched keys, never
  *    history;
  *  - the stored state for a touched key is re-folded with the batch
  *    partial through the caller's MERGE aggregates (associative and
  *    order-free by contract, so distinct batches replay in any order
  *    and converge) and committed by one [[MvRound]] — one manifest
  *    flips state and watermark atomically;
  *  - exactly-once per `writer` via the round's `wm.<writer>` manifest
  *    meta key: a replayed/stale `batchId` runs ZERO Spark jobs and
  *    returns false (crash before commit → replay re-applies; after →
  *    replay skips; no partial state is reachable).
  *
  * The sketch flavor enters as two aggregate lists over the SAME
  * output names: `partialAggs` folds raw batch rows to state columns,
  * `mergeAggs` re-folds (stored ∪ partial) state rows keyed by those
  * names. Everything else — watermark, touched-key semi-join, the
  * atomic commit — is flavor-independent and lives here once.
  *
  * Flavor safety: both flavors commit to the same fixed table name,
  * so a QskMv writer pointed at a KmvMv root would silently
  * interleave incompatible sketch encodings. The FIRST commit stamps
  * `sketch.flavor` in the manifest meta; every later live round
  * fails fast on a mismatch instead of corrupting the view.
  */
object SketchMv {

  private val Mv = "mv"
  private val FlavorKey = "sketch.flavor"

  private def wmKey(writer: String) = s"wm.$writer"

  /** Last applied batch id for `writer`, if any. */
  def appliedWatermark(spark: SparkSession, root: String,
                       writer: String): Option[Long] =
    TxLog.current(spark, root).flatMap(_.meta.get(wmKey(writer))).map(_.toLong)

  /** Apply one micro-batch (see object doc). `stateCols` names the
    * outputs both aggregate lists produce, in stored order. */
  def maintainTx(root: String, batch: DataFrame, batchId: Long,
                 groupCols: Seq[String],
                 partialAggs: Seq[Column], mergeAggs: Seq[Column],
                 stateCols: Seq[String], writer: String,
                 gone: String, flavor: String): Boolean =
    MvRound.run(batch.sparkSession, root, batchId, writer, stateBatches = Nil,
        meta = Map(FlavorKey -> flavor)) { r =>
      r.manifest.foreach { m =>
        m.meta.get(FlavorKey) match {
          case Some(committed) =>
            require(committed == flavor,
              s"sketch MV at $root holds flavor '$committed'; a '$flavor' " +
                "writer would interleave incompatible sketch encodings")
          case None =>
            // a committed root with NO stamp is foreign (or pre-guard):
            // letting the first post-upgrade writer stamp its own flavor
            // would bless a wrong writer and interleave encodings — the
            // exact corruption the guard exists to prevent. Fail and
            // require an explicit migration; only an EMPTY root (no
            // committed manifest at all) may be claimed by a first write.
            throw new IllegalStateException(
              s"sketch MV at $root has committed state but no " +
                s"'$FlavorKey' stamp — foreign or pre-guard root; migrate " +
                "explicitly (re-commit its state with the stamp) before " +
                "writing")
        }
      }
      val gc = groupCols.map(col)
      // the batch's partial aggregate stays LAZY (r18): its consumers
      // (the touched-group broadcast and the merge union) both sit
      // inside the single commit write job, so a dedicated checkpoint
      // wave would buy one serial round-trip per batch — the recompute
      // is one extra batch-sized aggregation within that job
      val partial = batch.groupBy(gc: _*)
        .agg(partialAggs.head, partialAggs.tail: _*)
      // stored state for TOUCHED groups only — an untouched group's
      // row carries forward in its delta dir, unread
      val cur = r.read(Mv, partial.withColumn("batch_id", lit(batchId)))
      val touched = partial.select(gc: _*)
      val merged = cur.join(broadcast(touched), groupCols, "left_semi")
        .select((gc ++ stateCols.map(col)): _*)
        .unionByName(partial)
        .groupBy(gc: _*)
        .agg(mergeAggs.head, mergeAggs.tail: _*)
        .withColumn("batch_id", lit(batchId))
        .withColumn(gone, lit(false))
      Map(Mv -> PkTableSink.TableBatch(merged, groupCols,
        Seq("batch_id"), gone, preCompacted = true)) // one row per group
    }

  /** The committed view: (groupCols…, stateCols…, batch_id). */
  def readMv(spark: SparkSession, root: String,
             schemaOf: => DataFrame): DataFrame =
    PkTableSink.readTxGroup(spark, root, Mv, schemaOf)
}
