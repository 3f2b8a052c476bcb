package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sinks.{LayeredScan, PkTableSink, TxLog}
import graft.sinks.PkTableSink.TableBatch

/** The exactly-once maintenance round every transactional MV kernel
  * runs ([[MaterializedAgg]], [[MaterializedTopK]], [[MaterializedJoin]]
  * and the sketch MVs) — the reference's labelled StarRocks load
  * against one table version, in the shape of Delta's optimistic
  * transaction (read one snapshot, validate at commit):
  *
  *  1. PIN: the group root's current manifest is read ONCE; every read
  *     of the round resolves against it, so the `state` and `mv`
  *     tables a round merges come from one snapshot;
  *  2. GUARD: a `batchId` at or below the pinned `wm.<writer>` is a
  *     replay (foreachBatch redelivery after a crash) — the round
  *     returns false having run zero Spark jobs. A signed delta is not
  *     idempotent, so this, not the data, decides;
  *  3. STAGE: the key-state batches start writing on [[graft.Par]]
  *     threads, overlapping the compute, into dirs named for the
  *     pinned version + 1 (the data depends only on the batch);
  *  4. COMPUTE: `body` builds the view batches through the pinned
  *     readers;
  *  5. COMMIT: state batches, view batches and the new watermark flip
  *     in ONE [[PkTableSink.mergeTxGroup]] manifest. Its claim fences
  *     the watermark against the base it lands on: a stalled zombie of
  *     a batch its restart already committed is refused there (its
  *     dirs deleted) and the round returns false;
  *  6. FOLD: a table whose dir list the commit grew past
  *     [[PkTableSink.CompactAfterDeltas]] deltas is compacted in a
  *     commit of its own, so no round reads more layers than that.
  *
  * A live round lists the log twice: once to pin, once for the claim's
  * base. Single writer per `writer` id; different writers sharing a
  * root serialize through the commit protocol.
  */
private[graft] object MvRound {

  /** The round's readers, bound to the pinned manifest, plus the
    * frames it frees once the commit is done. */
  final class Pinned private[MvRound] (spark: SparkSession,
                                       val manifest: Option[TxLog.Manifest]) {
    private[MvRound] val held = scala.collection.mutable.ArrayBuffer[DataFrame]()

    /** Live rows of `table` at the pinned version. */
    def read(table: String, schemaOf: => DataFrame): DataFrame =
      PkTableSink.readGroupAt(spark, manifest, table, schemaOf)

    /** Every stored row of key-state table `table` at the pinned
      * version, unmerged, in one plan at any layer count:
      * [[graft.sinks.LayeredScan.CommitSeq]] orders equal versions by
      * commit, the stored tombstone reads as boolean `deletedCol`.
      * `schemaOf`'s empty frame (which carries `deletedCol`) when the
      * pinned version lacks the table. */
    def layers(table: String, schemaOf: => DataFrame, deletedCol: String): DataFrame =
      PkTableSink.layersAt(spark, manifest, table, deletedCol).getOrElse(
        schemaOf.limit(0).withColumn(LayeredScan.CommitSeq, lit(0L)))

    /** Live rows of view table `table` at the pinned version whose `on`
      * columns (its key columns or a prefix of them) appear in `keys`,
      * filtered before the latest-per-key fold; `schemaOf`'s empty
      * frame when the pinned version lacks the table. */
    def readKeys(table: String, schemaOf: => DataFrame, keys: DataFrame,
                 on: Seq[String]): DataFrame =
      PkTableSink.readKeysAt(spark, manifest, table, schemaOf, keyedBy(_, keys, on))

    /** Free these checkpoints once the round's commit has consumed
      * them. */
    def freeAfterCommit(dfs: DataFrame*): Unit = held ++= dfs
  }

  /** The rows of `df` whose `on` columns equal (null-safely) a row of
    * `keys`. The key set is broadcast: a round's keys are batch-sized,
    * and a broadcast filters `df` inside its own scan's stage, before
    * any shuffle above it. */
  def keyedBy(df: DataFrame, keys: DataFrame, on: Seq[String]): DataFrame = {
    val k = on.indices.map(i => s"__mv_k$i")
    df.join(broadcast(keys.select(on.zip(k).map { case (c, n) => col(c).as(n) }: _*)),
      on.zip(k).map { case (c, n) => col(c) <=> col(n) }.reduce(_ && _), "left_semi")
  }

  /** One key-state table's batch: the raw changes, delete flag
    * materialized. */
  def stateBatch(batch: DataFrame, keyCols: Seq[String], versionCols: Seq[String],
                 deleteFlag: Column): TableBatch =
    TableBatch(batch.withColumn("__state_del", coalesce(deleteFlag, lit(false))),
      keyCols, versionCols, "__state_del")

  /** Run one round (see object doc): `stateBatches` (table → batch)
    * are staged after the guard, `body` returns the view batches,
    * `meta` rides in the commit beside the watermark. Returns whether
    * the round committed. */
  def run(spark: SparkSession, root: String, batchId: Long, writer: String,
          stateBatches: Seq[(String, TableBatch)],
          meta: Map[String, String] = Map.empty)(
      body: Pinned => Map[String, TableBatch]): Boolean = {
    val pinned = TxLog.current(spark, root)
    val wmKey = s"wm.$writer"
    if (pinned.flatMap(_.meta.get(wmKey)).exists(batchId <= _.toLong)) return false
    val next = pinned.map(_.version + 1).getOrElse(0L)
    val staged = stateBatches.map { case (t, b) =>
      PkTableSink.stageAt(spark, root, t, b, writer, next, graft.Par.start[Unit]) }
    val r = new Pinned(spark, pinned)
    try {
      val views = try body(r).toSeq.map { case (t, b) =>
        PkTableSink.stageAt(spark, root, t, b, writer, next, PkTableSink.inline)
      } catch {
        case e: Throwable => PkTableSink.discard(spark, root, staged); throw e
      }
      PkTableSink.mergeTxGroup(spark, root, Map.empty, writer,
        extraMeta = meta + (wmKey -> batchId.toString), staged = staged ++ views)
      // FOLD: a table whose list the commit grew to the lake's
      // compaction depth is folded in its own commit, as mergeTx does;
      // the depth is judged on the pinned lists, so no listing is added
      val depth = PkTableSink.CompactAfterDeltas
      (staged ++ views).map(_.table).filter(t =>
        pinned.flatMap(_.tables.get(t)).exists(_.split(",").count(_.nonEmpty) >= depth))
        .foreach(PkTableSink.compactTxGroup(spark, root, _, writer, minDeltas = depth))
      true
    } catch {
      case _: PkTableSink.StaleWatermark => false
    } finally r.held.foreach(graft.Ckpt.free)
  }
}
