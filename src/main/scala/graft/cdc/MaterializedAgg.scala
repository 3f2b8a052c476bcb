package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.sinks.LayeredScan
import graft.sinks.PkTableSink.TableBatch

/** Incremental materialized AGGREGATE view over a keyed CDC changelog
  * — the StarRocks materialized-view analogue (the reference keeps
  * hand-run aggregate queries warm against the PK table;
  * create-starrocks-tables.sh + monitor.sh's count reconciliation):
  * the view tracks `GROUP BY g: count, sum(v)` over the LIVE latest
  * state of every key, and each batch updates it with signed deltas
  * instead of a full recompute.
  *
  * Mechanism (sign-based retraction, the classic incremental
  * view-maintenance construction — Flink retract streams / DBSP):
  * a batch changes some keys' latest rows; for each touched key the
  * OLD live row (if any) enters the delta with sign −1 and the NEW
  * live row (if any) with sign +1. Aggregating the signed delta by
  * group yields per-group adjustments (Σsign for count, Σsign·v for
  * sums) that merge into the stored view. Group-changing updates move
  * a key between groups via the same −1/+1 pair; deletes retract
  * without inserting.
  *
  * Deltas are computed as a STATE DIFF (old latest-per-key vs new
  * latest-per-key on the touched keys) rather than from the raw
  * change rows, so out-of-order and duplicate deliveries are
  * harmless: a stale version loses `latestPerKey` and produces a
  * −row/+row pair that cancels to zero. Tombstones stay in the state
  * (the multi-writer rule from [[PkTable.latestPerKey]]), so a late
  * older insert cannot resurrect a deleted key's contribution.
  *
  * Scale shape: a step is ONE aggregation over the key-state's stored
  * layers ∪ the batch ([[Fold]]), which yields each key's old image,
  * new image and whether the batch touched it. The transactional
  * sum/count round filters the layers to the batch's keys (a
  * broadcast semi-join) before that aggregation, so its shuffle
  * carries only the touched keys; the non-self-maintainable views
  * (min/max, top-k, joins), whose rescans need the whole new state,
  * fold every key once and checkpoint the result once. The MV itself
  * stays group-cardinality-sized.
  */
object MaterializedAgg {

  private[cdc] val Sign = "__mv_sign"
  private[cdc] val Del = "__mv_del"

  /** One maintenance step's outputs: the successor key-state and the
    * signed row delta (old live rows −1, new live rows +1, only for
    * keys the batch touched). */
  final case class Step(state: DataFrame, signedDelta: DataFrame)

  /** Empty key-state with the right schema for `step`. */
  def emptyState(batch: DataFrame, deleteFlag: Column): DataFrame =
    batch.withColumn(Del, coalesce(deleteFlag, lit(false))).limit(0)

  /** Advance the key-state by one batch and emit the signed delta:
    * the single-layer case of [[fold]], `state` being one row per key.
    * The caller should checkpoint/persist the result between steps —
    * `materialize` (default identity) is applied to the fold, so
    * passing `_.localCheckpoint(true)` runs the one aggregation ONCE
    * for the successor state and the signed delta alike (every N-way
    * delta term in [[MaterializedJoin.stepN]] reads both). */
  def step(state: DataFrame, batch: DataFrame, keyCols: Seq[String],
           version: Seq[Column], deleteFlag: Column,
           materialize: DataFrame => DataFrame = identity): Step =
    fold(state.withColumn(LayeredScan.CommitSeq, lit(0L)), batch, keyCols, version, deleteFlag)
      .map(materialize).step

  // the batch's layer position: after every stored layer, so among
  // equal versions the batch wins, as the next round's layered read
  // (the batch staged as the newest delta) will decide
  private val BatchSeq = Long.MaxValue
  private val Old = "__mv_old"
  private val New = "__mv_new"
  private val Touched = "__mv_touched"

  /** One round's fold of a key-state with a batch: per key, in one
    * frame, the OLD image (latest stored row; set only for keys the
    * batch touched — an untouched key's old image is its new one), the
    * NEW image (latest over stored rows and batch) and whether the
    * batch touched the key. `cols` is the images' column list. Every
    * view of it is a projection, so materializing `frame` once
    * materializes all three. */
  private[cdc] final case class Fold(frame: DataFrame, cols: Seq[String]) {
    private def image(img: String): Seq[Column] = cols.map(c => col(s"$img.$c").as(c))

    def map(f: DataFrame => DataFrame): Fold = copy(frame = f(frame))

    /** Every key's latest row, tombstones kept (as [[Del]]). */
    def newState: DataFrame = frame.select(image(New): _*)

    /** Every key's latest stored row, tombstones kept. */
    def oldState: DataFrame =
      frame.select(when(col(Touched), col(Old)).otherwise(col(New)).as(Old))
        .where(col(Old).isNotNull).select(image(Old): _*)

    /** Touched keys' old live rows with sign −1 and new live rows with
      * sign +1, in one pass: a stale version loses to the stored one,
      * and its −row/+row pair cancels downstream. */
    def signedDelta: DataFrame = {
      def signed(img: String, sign: Long, live: Column) =
        when(live, struct(image(img) :+ lit(sign).as(Sign): _*))
      frame.where(col(Touched))
        .select(explode(array(
          signed(Old, -1L, col(Old).isNotNull && !col(s"$Old.$Del")),
          signed(New, 1L, !col(s"$New.$Del")))).as("__mv_d"))
        .where(col("__mv_d").isNotNull).select(col("__mv_d.*"))
    }

    def step: Step = Step(newState, signedDelta)
  }

  /** Fold `layers` — a key-state's stored rows, unmerged, each with its
    * layer position as [[LayeredScan.CommitSeq]] and boolean [[Del]] —
    * with `batch` as the newest layer, in ONE aggregation keyed by
    * `keyCols`. Rows order by (version…, layer position); the old image
    * is the `max_by` over stored rows only, the new image over all. A
    * column of the batch that the layers lack reads as null (the ADD
    * COLUMN default); the images take the batch's columns plus [[Del]]. */
  private[cdc] def fold(layers: DataFrame, batch: DataFrame, keyCols: Seq[String],
                        version: Seq[Column], deleteFlag: Column): Fold = {
    val seq = LayeredScan.CommitSeq
    val withDel = batch.withColumn(Del, coalesce(deleteFlag, lit(false)))
    val cols = withDel.columns.toSeq
    val stored = layers.select(cols.map(c =>
      if (layers.columns.contains(c)) col(c)
      else lit(null).cast(withDel.schema(c).dataType).as(c)) :+ col(seq): _*)
    val ord = struct(version :+ col(seq): _*)
    val payload = struct(cols.map(col): _*)
    val touched = max(col(seq)) === BatchSeq
    Fold(stored.unionByName(withDel.withColumn(seq, lit(BatchSeq)))
      .groupBy(keyCols.map(col): _*)
      .agg(when(touched, max_by(payload, when(col(seq) =!= BatchSeq, ord))).as(Old),
        max_by(payload, ord).as(New), touched.as(Touched))
      .drop(keyCols: _*), cols)
  }

  /** Per-group adjustment of a signed delta: `n` (Σsign) plus
    * Σ sign·expr for each named sum. */
  def groupDelta(signedDelta: DataFrame, groupCols: Seq[String],
                 sums: Seq[(String, Column)]): DataFrame =
    signedDelta.groupBy(groupCols.map(col): _*)
      .agg(sum(col(Sign)).as("n"),
        sums.map { case (n, c) => sum(col(Sign) * c).as(n) }: _*)

  /** Merge a group delta into the view; groups whose count reaches
    * zero vanish (all their keys deleted or migrated away). */
  def mergeMv(mv: Option[DataFrame], delta: DataFrame, groupCols: Seq[String],
              sumNames: Seq[String]): DataFrame = {
    val unioned = mv.map(_.unionByName(delta)).getOrElse(delta)
    unioned.groupBy(groupCols.map(col): _*)
      .agg(sum(col("n")).as("n"), sumNames.map(n => sum(col(n)).as(n)): _*)
      .where(col("n") > 0)
  }

  /** EXACTLY-ONCE transactional maintenance for the streaming
    * deployment (foreachBatch): key-state and the view commit
    * ATOMICALLY in one [[graft.sinks.PkTableSink.mergeTxGroup]]
    * manifest, with the per-writer batch watermark riding in the SAME
    * manifest's meta map (`wm.<writer>`) — one [[MvRound]]. foreachBatch
    * replays a batch after a crash, and a signed delta is NOT
    * idempotent (re-applying doubles it), so the watermark decides:
    * `batchId ≤` the committed watermark means the manifest landed and
    * the replay is a no-op (returns false, zero Spark jobs). Either
    * the crash happened before the commit (nothing landed, replay
    * re-applies cleanly) or after (everything landed, replay skips) —
    * no partial state is reachable because state, view, and watermark
    * flip in one manifest.
    *
    * Single-writer per `writer` id (the routine-load shape: one job
    * owns one view); concurrent DIFFERENT writers are serialized by
    * the commit protocol but must partition the key space.
    *
    * Read the live view with
    * `PkTableSink.readTxGroup(spark, root, "mv", …)` — groups whose
    * count reached zero are tombstoned out.
    */
  def maintainTx(root: String, batch: DataFrame, batchId: Long,
                 keyCols: Seq[String], versionCols: Seq[String], deleteFlag: Column,
                 groupCols: Seq[String], sums: Seq[(String, Column)],
                 writer: String): Boolean =
    MvRound.run(batch.sparkSession, root, batchId, writer,
        Seq("state" -> MvRound.stateBatch(batch, keyCols, versionCols, deleteFlag))) { r =>
      // the stored rows WITH tombstones: a deleted key's version must
      // stay visible so a straggler insert loses here exactly as it does
      // in the stored table — view and table can never diverge. Only
      // the batch's keys enter the fold, so its shuffle is batch-sized
      val touched = MvRound.keyedBy(r.layers("state", emptyState(batch, deleteFlag), Del),
        batch, keyCols)
      val f = fold(touched, batch, keyCols, versionCols.map(col), deleteFlag)
      val delta = groupDelta(f.signedDelta, groupCols, sums).localCheckpoint(true)
      r.freeAfterCommit(delta)
      sumView(r, delta, groupCols, sums.map(_._1), batchId)
    }

  /** The sum view's batch for one round: the pinned view's rows of the
    * delta's groups, merged additively; n = 0 becomes a tombstone.
    * Shared with [[MaterializedJoin.maintainAggTx]]. */
  private[cdc] def sumView(r: MvRound.Pinned, delta: DataFrame, groupCols: Seq[String],
                           sumNames: Seq[String], batchId: Long): Map[String, TableBatch] = {
    viewBatch(mergeMvAllowZero(r.readKeys("mv", delta, delta, groupCols),
      delta, groupCols, sumNames), groupCols, batchId)
  }

  /** The min/max view's batch for one round ([[attachExtrema]] over
    * the sum merge); `st.state` is the live source a rescan reads.
    * Shared with [[MaterializedJoin.maintainAggMinMaxTx]]. */
  private[cdc] def minMaxView(r: MvRound.Pinned, st: Step, groupCols: Seq[String],
                              sums: Seq[(String, Column)], exts: Seq[Extremum],
                              batchId: Long): Map[String, TableBatch] = {
    val delta = groupDelta(st.signedDelta, groupCols, sums)
    // empty-lake schema fallback: the view's shape derived from the
    // state (never evaluated once a manifest exists)
    val mvSchema = st.state.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sums.map { case (nm, c) => sum(c).as(nm) } ++
          exts.map(e => (if (e.isMin) min(e.value) else max(e.value)).as(e.name)): _*)
      .limit(0)
    val curMv = r.readKeys("mv", mvSchema, delta, groupCols)
    viewBatch(attachExtrema(
        mergeMvAllowZero(curMv.drop(exts.map(_.name): _*), delta, groupCols, sums.map(_._1)),
        Some(curMv), st, groupCols, sums, exts),
      groupCols, batchId)
  }

  // one row per group by construction (the merge aggregates by the
  // group key; attachExtrema's joins have per-group-unique right
  // sides) — preCompacted skips the write-side compaction exchange
  private def viewBatch(mv: DataFrame, groupCols: Seq[String],
                        batchId: Long): Map[String, TableBatch] =
    Map("mv" -> TableBatch(
      mv.withColumn("batch_id", lit(batchId)).withColumn("__mv_gone", col("n") <= 0),
      groupCols, Seq("batch_id"), "__mv_gone", preCompacted = true))

  /** [[mergeMv]] but keeping zero-count groups (the caller tombstones
    * them instead of dropping the rows). */
  private def mergeMvAllowZero(mv: DataFrame, delta: DataFrame,
                               groupCols: Seq[String], sumNames: Seq[String]): DataFrame =
    mv.unionByName(delta, allowMissingColumns = true)
      .select((groupCols.map(col) :+ col("n")) ++ sumNames.map(col): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(sum(col("n")).as("n"), sumNames.map(n => sum(col(n)).as(n)): _*)

  /** Drive a whole batch sequence: returns the final view
    * (groupCols, n, named sums). Convenience for queries/specs; a
    * streaming deployment calls [[step]]/[[groupDelta]]/[[mergeMv]]
    * from foreachBatch with the state in a PK lake table — or
    * [[maintainTx]] for the exactly-once transactional variant.
    */
  def maintain(batches: Seq[DataFrame], keyCols: Seq[String],
               version: Seq[Column], deleteFlag: Column,
               groupCols: Seq[String], sums: Seq[(String, Column)]): DataFrame = {
    require(batches.nonEmpty, "maintain: no batches")
    var state = emptyState(batches.head, deleteFlag)
    var mv: Option[DataFrame] = None
    batches.foreach { batch =>
      // materialize via step's hook so the signed delta reads the
      // CHECKPOINTED successor (checkpointing after the fact left the
      // delta on the lazy merge plan — the view's job then re-ran the
      // full state merge every round; r17 optimization, guide §1.2).
      // The checkpoint still bounds lazy-plan depth across steps and
      // pins the state each side of the diff reads the same snapshot of
      val s = step(state, batch, keyCols, version, deleteFlag,
        materialize = _.localCheckpoint(true))
      val prevState = state
      val prevMv = mv
      state = s.state
      mv = Some(mergeMv(mv, groupDelta(s.signedDelta, groupCols, sums),
        groupCols, sums.map(_._1)).localCheckpoint(true))
      // both successors are eager, so the superseded generation's
      // blocks are consumed — free them IN-LOOP (the cdc_mv_join
      // discipline; a run otherwise pins every state/view generation
      // until JVM exit and bench timings swing with block pressure)
      graft.Ckpt.free(prevState) // no-op on the initial empty state
      prevMv.foreach(graft.Ckpt.free)
    }
    // the final state checkpoint has no further consumer (the returned
    // view is itself an eager checkpoint) — release it too
    graft.Ckpt.free(state)
    mv.get
  }

  /** One maintained extremum column: output name, value expression,
    * `isMin` (false = max). */
  final case class Extremum(name: String, value: Column, isMin: Boolean)

  /** Per-group MIN/MAX maintained alongside count/sums. MIN and MAX
    * are NOT self-maintainable: a sum absorbs a retraction as `−v`,
    * but retracting the row that WAS the group minimum says nothing
    * about the new minimum — only the surviving rows do. The classic
    * IVM answer (Gupta/Mumick's non-distributive aggregates) is kept
    * here at its minimal cost:
    *
    *  - inserts merge monotonically: new_min = least(stored, batch-min
    *    of the +1 rows) — no state read;
    *  - a retraction triggers a RESCAN only when it could have removed
    *    the extremum (retracted value ≤ stored min / ≥ stored max).
    *    Rescanned groups recompute min/max exactly from the live
    *    key-state restricted to those groups (a left-semi join), so
    *    the rescan costs Σ|affected groups|, never the view or the
    *    corpus. Non-extremal deletes and pure-insert batches never
    *    touch the state.
    *
    * Count/sum arithmetic rides the existing [[groupDelta]]/[[mergeMv]]
    * path unchanged; groups whose count reaches zero vanish before the
    * extremum columns are attached.
    */
  def mergeMvMinMax(mv: Option[DataFrame], st: Step, groupCols: Seq[String],
                    sums: Seq[(String, Column)], exts: Seq[Extremum]): DataFrame =
    attachExtrema(
      mergeMv(mv.map(_.drop(exts.map(_.name): _*)),
        groupDelta(st.signedDelta, groupCols, sums), groupCols, sums.map(_._1)),
      mv, st, groupCols, sums, exts)

  /** The extremum half of [[mergeMvMinMax]], reusable over any
    * count/sum `base` (zero-dropping for the in-memory loop,
    * zero-keeping for the transactional tombstone path): attaches
    * `exts` to base's groups via the insert-merge / retraction-rescan
    * rule. */
  private[cdc] def attachExtrema(base: DataFrame, mv: Option[DataFrame], st: Step,
                                 groupCols: Seq[String], sums: Seq[(String, Column)],
                                 exts: Seq[Extremum]): DataFrame = {
    require(exts.nonEmpty, "attachExtrema: no extremum columns")
    val gCols = groupCols.map(col)

    // stored extrema, renamed so the final select can tell them apart
    val stored = mv.map(_.select(gCols ++
      exts.map(e => col(e.name).as("__old_" + e.name)): _*))

    // rescan set: groups where some −1 row ties-or-beats the stored
    // extremum (or the stored row is missing — conservatively rescan).
    // Retracting a strictly interior value cannot move min/max.
    val retracts = st.signedDelta.where(col(Sign) === -1)
    val rescanG = (stored match {
      case Some(m) => retracts.join(m, groupCols, "left").where(
        exts.map { e =>
          val old = col("__old_" + e.name)
          old.isNull || (if (e.isMin) e.value <= old else e.value >= old)
        }.reduce(_ || _))
      case None => retracts
    }).select(gCols: _*).distinct()

    // insert candidates (per-group extremum of this batch's +1 rows)
    // and the exact rescan recompute (ONLY over the rescanned groups'
    // live rows) in ONE union-tagged aggregation (r18): a left join of
    // each separate aggregate equals the combined groupBy with
    // side-conditional aggregates — a group missing one side gets
    // nulls there either way — for one exchange + one join fewer.
    val valCols = exts.zipWithIndex.map { case (e, i) => e.value.as(s"__x$i") }
    val insIn = st.signedDelta.where(col(Sign) === 1)
      .select(gCols ++ valCols :+ lit(true).as("__t_ins"): _*)
    val reIn = st.state.where(!col(Del))
      .join(rescanG, groupCols, "left_semi")
      .select(gCols ++ valCols :+ lit(false).as("__t_ins"): _*)
    def sideAgg(e: Extremum, i: Int, insSide: Boolean): Column = {
      val v = when(if (insSide) col("__t_ins") else !col("__t_ins"), col(s"__x$i"))
      (if (e.isMin) min(v) else max(v))
        .as((if (insSide) "__ins_" else "__re_") + e.name)
    }
    val sides = insIn.unionByName(reIn).groupBy(gCols: _*)
      .agg(sideAgg(exts.head, 0, insSide = true),
        exts.zipWithIndex.drop(1).map { case (e, i) => sideAgg(e, i, insSide = true) } ++
          exts.zipWithIndex.map { case (e, i) => sideAgg(e, i, insSide = false) }: _*)

    val withSides = base
      .join(sides, groupCols, "left")
      .join(rescanG.withColumn("__rescan", lit(true)), groupCols, "left")
    val joined = stored.map(withSides.join(_, groupCols, "left"))
      .getOrElse(exts.foldLeft(withSides)((d, e) =>
        d.withColumn("__old_" + e.name, lit(null))))

    // per group: rescanned value if rescanned, else the monotone merge
    // (least/greatest skip nulls, so a brand-new group takes __ins and
    // an untouched group keeps __old)
    joined.select((gCols :+ col("n")) ++ sums.map(s => col(s._1)) ++
      exts.map { e =>
        val merged = if (e.isMin) least(col("__old_" + e.name), col("__ins_" + e.name))
                     else greatest(col("__old_" + e.name), col("__ins_" + e.name))
        when(col("__rescan"), col("__re_" + e.name)).otherwise(merged).as(e.name)
      }: _*)
  }

  /** EXACTLY-ONCE transactional maintenance with MIN/MAX columns —
    * [[maintainTx]]'s round plus [[mergeMvMinMax]]'s extremum rule:
    * state, view, and the per-writer watermark flip in ONE manifest;
    * the view's batch writes only TOUCHED groups (zero-count groups
    * tombstone); stale replays run zero Spark jobs. */
  def maintainMinMaxTx(root: String, batch: DataFrame, batchId: Long,
                       keyCols: Seq[String], versionCols: Seq[String],
                       deleteFlag: Column, groupCols: Seq[String],
                       sums: Seq[(String, Column)], exts: Seq[Extremum],
                       writer: String): Boolean =
    MvRound.run(batch.sparkSession, root, batchId, writer,
        Seq("state" -> MvRound.stateBatch(batch, keyCols, versionCols, deleteFlag))) { r =>
      minMaxView(r, pinnedStep(r, batch, keyCols, versionCols, deleteFlag),
        groupCols, sums, exts, batchId)
    }

  /** A single-table round's [[Step]] for the non-self-maintainable
    * views (min/max, top-k): one [[fold]] of the pinned key-state's
    * layers — WITH tombstones, so a straggler insert of a deleted key
    * loses — and the batch, checkpointed ONCE. Their legs (insert
    * candidates, retraction trigger, rescan recompute) read the
    * successor state and the signed delta, both projections of that
    * checkpoint, which is freed after the commit. The group delta and
    * current view stay LAZY: every consumer sits inside the single
    * mv-batch write job. */
  private[cdc] def pinnedStep(r: MvRound.Pinned, batch: DataFrame, keyCols: Seq[String],
                              versionCols: Seq[String], deleteFlag: Column): Step = {
    val f = fold(r.layers("state", emptyState(batch, deleteFlag), Del), batch, keyCols,
        versionCols.map(col), deleteFlag)
      .map(_.localCheckpoint(true))
    r.freeAfterCommit(f.frame)
    f.step
  }

  /** [[maintain]] with MIN/MAX columns — same batch loop, same
    * checkpoint discipline, extrema maintained via [[mergeMvMinMax]].
    */
  def maintainMinMax(batches: Seq[DataFrame], keyCols: Seq[String],
                     version: Seq[Column], deleteFlag: Column,
                     groupCols: Seq[String], sums: Seq[(String, Column)],
                     exts: Seq[Extremum]): DataFrame = {
    require(batches.nonEmpty, "maintainMinMax: no batches")
    var state = emptyState(batches.head, deleteFlag)
    var mv: Option[DataFrame] = None
    batches.foreach { batch =>
      // materialize via the hook: the rescan leg AND the signed delta
      // both read the checkpointed successor (the post-hoc checkpoint
      // left the delta on the lazy merge plan — see maintain)
      val s = step(state, batch, keyCols, version, deleteFlag,
        materialize = _.localCheckpoint(true))
      val prevState = state
      val prevMv = mv
      state = s.state
      mv = Some(mergeMvMinMax(mv, s, groupCols, sums, exts)
        .localCheckpoint(true))
      graft.Ckpt.free(prevState)
      prevMv.foreach(graft.Ckpt.free)
    }
    graft.Ckpt.free(state)
    mv.get
  }
}
