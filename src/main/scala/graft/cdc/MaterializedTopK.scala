package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sinks.PkTableSink

/** Incremental TOP-K-PER-GROUP materialized view over a keyed CDC
  * changelog — the materialized top-N the reference keeps warm as a
  * hand-run ranking query against the PK table (monitor.sh's "top
  * customers" checks; StarRocks/ClickHouse serve the same shape as
  * materialized TOPN). Like MIN/MAX ([[MaterializedAgg.mergeMvMinMax]],
  * whose k=1 special case this generalizes), top-k is NOT
  * self-maintainable: retracting a stored member says nothing about
  * which state row moves up to replace it. The maintenance rule keeps
  * the cost at its IVM minimum:
  *
  *  - INSERTS never rescan: the new top-k is a subset of
  *    (stored top-k ∪ inserted rows) — one bounded per-group rank over
  *    ≤ k + batch rows;
  *  - a RETRACTION rescans its group only if the retracted key is a
  *    STORED MEMBER (a below-k retraction cannot change membership);
  *    rescanned groups recompute exactly from the live key-state
  *    restricted to those groups (left-semi join), so the rescan costs
  *    Σ|affected groups|, never the view or the corpus;
  *  - an UPDATE to a member arrives as −member/+new and lands in the
  *    rescan leg; an update to a non-member merges like an insert.
  *
  * Deltas come from [[MaterializedAgg.fold]]'s state diff, so
  * out-of-order and duplicate deliveries cancel before they reach the
  * view (the A24/A39 discipline — tombstones stay in the state, a
  * straggler insert loses `latestPerKey`).
  *
  * The view stores (groupCols, keyCols, value) rows — at most k per
  * group; [[rank]] attaches the dense 1..k ordering (value desc, keys
  * asc) at read time.
  */
object MaterializedTopK {

  private[cdc] val Val = "__topk_v"

  /** Advance the view by one [[MaterializedAgg.Step]]. `state` must be
    * the step's NEW key-state (live + tombstones). */
  def mergeTopK(mv: Option[DataFrame], st: MaterializedAgg.Step,
                groupCols: Seq[String], keyCols: Seq[String],
                value: Column, k: Int): DataFrame = {
    require(k >= 1, s"mergeTopK: need k >= 1, got $k")
    val gCols = groupCols.map(col)
    val gkCols = (groupCols ++ keyCols).map(col)
    val wTop = Window.partitionBy(gCols: _*)
      .orderBy(col(Val).desc +: keyCols.map(col(_).asc): _*)
    def topK(df: DataFrame): DataFrame =
      df.withColumn("__rn", row_number().over(wTop))
        .where(col("__rn") <= k).drop("__rn")

    val stored = mv.getOrElse(
      st.state.select(gkCols :+ value.as(Val): _*).limit(0))

    // rescan set: a −1 row whose (group, key) is a stored member —
    // retracting below-k rows cannot change membership. NOT
    // deduplicated: both consumers are semi/anti joins (set
    // semantics), so the distinct's exchange bought nothing (r18)
    val rescanG = st.signedDelta.where(col(MaterializedAgg.Sign) === -1)
      .join(stored, groupCols ++ keyCols, "left_semi")
      .select(gCols: _*)

    // non-rescan groups: stored ∪ inserts, re-ranked (bounded per
    // group by k + batch rows; no key duplicates — a +1 for a stored
    // key implies a −1 for it too, which routed the group to rescan)
    val inserts = st.signedDelta.where(col(MaterializedAgg.Sign) === 1)
      .select(gkCols :+ value.as(Val): _*)
    val merged = stored.unionByName(inserts)
      .join(rescanG, groupCols, "left_anti")

    // rescanned groups: exact top-k from the live key-state of those
    // groups only
    val rescanned = st.state.where(!col(MaterializedAgg.Del))
      .join(rescanG, groupCols, "left_semi")
      .select(gkCols :+ value.as(Val): _*)

    // ONE rank pass over both legs (r18): the anti/semi split makes
    // their group sets DISJOINT, and the window partitions by group —
    // ranking the union is row-identical to ranking each leg, for one
    // exchange + one WindowGroupLimit instead of two of each
    topK(merged.unionByName(rescanned))
  }

  /** Attach the 1..k rank (value desc, keys asc) to a maintained view. */
  def rank(mv: DataFrame, groupCols: Seq[String], keyCols: Seq[String],
           valueName: String = "value"): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col(Val).desc +: keyCols.map(col(_).asc): _*)
    mv.withColumn("rank", row_number().over(w).cast("long"))
      .select((groupCols.map(col) :+ col("rank")) ++ keyCols.map(col) :+
        col(Val).as(valueName): _*)
  }

  /** EXACTLY-ONCE transactional maintenance —
    * [[MaterializedAgg.maintainTx]]'s round for the top-k view:
    * key-state, the (groupCols ++ keyCols)-keyed view table, and the
    * per-writer batch watermark commit ATOMICALLY in one manifest. A
    * replayed batch (id ≤ the committed watermark) is a driver-side
    * no-op running zero Spark jobs. The view's batch writes only
    * TOUCHED groups: the new top-k rows upsert, and previously-stored
    * members that fell out (demoted by inserts, retracted, or migrated
    * away) tombstone — commit I/O ∝ batch + touched groups' k, never
    * the view. Read the live view with `PkTableSink.readTxGroup(spark,
    * root, "mv", …)` and attach ranks with [[rank]]. */
  def maintainTx(root: String, batch: DataFrame, batchId: Long,
                 keyCols: Seq[String], versionCols: Seq[String],
                 deleteFlag: Column, groupCols: Seq[String], value: Column,
                 k: Int, writer: String): Boolean =
    MvRound.run(batch.sparkSession, root, batchId, writer,
        Seq("state" -> MvRound.stateBatch(batch, keyCols, versionCols, deleteFlag))) { r =>
      topKView(r, MaterializedAgg.pinnedStep(r, batch, keyCols, versionCols, deleteFlag),
        groupCols, keyCols, value, k, batchId)
    }

  /** The top-k view's batch for one round: the pinned view restricted
    * to the TOUCHED groups, the [[mergeTopK]] rule over exactly those
    * groups, then a tombstone diff against the stored members.
    * `st.state` is the live source a rescan reads. Shared with
    * [[MaterializedJoin.maintainTopKTx]]. */
  private[cdc] def topKView(r: MvRound.Pinned, st: MaterializedAgg.Step,
                            groupCols: Seq[String], keyCols: Seq[String],
                            value: Column, k: Int,
                            batchId: Long): Map[String, PkTableSink.TableBatch] = {
    val gkCols = groupCols ++ keyCols
    // semi-join right side — set semantics, no distinct exchange (r18)
    val touched = st.signedDelta.select(groupCols.map(col): _*)
    val mvSchema = st.state.select(gkCols.map(col) :+ value.as(Val): _*).limit(0)
    // project the stored view down to (group, key, value) — stored
    // rows also carry their commit's batch_id, which must not leak
    // into the merge unions. touched / curMv / the merge output stay
    // LAZY (r18): every consumer sits inside the single mv-batch write
    // job, so the recompute is 2-3 view-lake scans ∝ touched groups' k
    // within that job, never a new serial wave
    val curMv = r.readKeys("mv", mvSchema, touched, groupCols)
      .select(gkCols.map(col) :+ col(Val): _*)
    val newRows = mergeTopK(Some(curMv), st, groupCols, keyCols, value, k)
    // single-pass tombstone diff: union + per-(group,key) argmax — a
    // gk present in newRows keeps the NEW row (__mv_gone = false), a gk
    // only in curMv surfaces as a tombstone of its stored value. Each
    // side is unique per gk (topK emits ≤ one row per key; curMv is a
    // PK read), so the argmax output is too — preCompacted holds and
    // the write needs no compaction exchange.
    val mvBatch = newRows.withColumn("__is_new", lit(true))
      .unionByName(curMv.withColumn("__is_new", lit(false)))
      .groupBy(gkCols.map(col): _*)
      .agg(max_by(col(Val), col("__is_new")).as(Val),
        max(col("__is_new")).as("__is_new"))
      .select(gkCols.map(col) ++ Seq(col(Val),
        (!col("__is_new")).as("__mv_gone"), lit(batchId).as("batch_id")): _*)
    Map("mv" -> PkTableSink.TableBatch(mvBatch, gkCols, Seq("batch_id"),
      "__mv_gone", preCompacted = true))
  }

  /** Live ranked view of a [[maintainTx]] lake: (groupCols, rank,
    * keyCols, `valueName`), demoted/retracted members tombstoned out.
    *
    * `schemaOf`: optional example frame supplying the EMPTY-LAKE
    * fallback schema (only its group/key/[[Val]] column types are
    * used; no data is read). Without it a genuinely empty lake falls
    * back to StringType keys / DoubleType value — column names still
    * align but typed consumers of an empty result would see the wrong
    * leaf types (mirrors how maintainTx derives mvSchema from its
    * state). */
  def readTx(spark: org.apache.spark.sql.SparkSession, root: String,
             groupCols: Seq[String], keyCols: Seq[String],
             valueName: String = "value",
             schemaOf: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
    val gkCols = groupCols ++ keyCols
    val empty = schemaOf match {
      case Some(df) => df.select(gkCols.map(col) :+ col(Val): _*).limit(0)
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(gkCols.map(StructField(_, StringType)) :+
          StructField(Val, DoubleType)))
    }
    rank(PkTableSink.readTxGroup(spark, root, "mv", empty),
      groupCols, keyCols, valueName)
  }

  /** Drive a whole batch sequence; returns the final ranked view
    * (groupCols, rank, keyCols, `valueName`). Same checkpoint
    * discipline as [[MaterializedAgg.maintain]]. */
  def maintain(batches: Seq[DataFrame], keyCols: Seq[String],
               version: Seq[Column], deleteFlag: Column,
               groupCols: Seq[String], value: Column, k: Int,
               valueName: String = "value"): DataFrame = {
    require(batches.nonEmpty, "maintain: no batches")
    var state = MaterializedAgg.emptyState(batches.head, deleteFlag)
    var mv: Option[DataFrame] = None
    batches.foreach { batch =>
      // materialize via the hook: rescan leg and signed delta read the
      // checkpointed successor (see MaterializedAgg.maintain)
      val s = MaterializedAgg.step(state, batch, keyCols, version, deleteFlag,
        materialize = _.localCheckpoint(true))
      val prevState = state
      val prevMv = mv
      state = s.state
      mv = Some(mergeTopK(prevMv, s,
        groupCols, keyCols, value, k).localCheckpoint(true))
      graft.Ckpt.free(prevState)
      prevMv.foreach(graft.Ckpt.free)
    }
    graft.Ckpt.free(state)
    rank(mv.get, groupCols, keyCols, valueName)
  }
}
