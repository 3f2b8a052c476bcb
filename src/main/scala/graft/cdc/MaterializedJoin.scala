package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental materialized JOIN view over TWO keyed CDC changelogs —
  * the StarRocks multi-table (sync) materialized view: the view tracks
  * `SELECT <left cols>, <right cols> FROM L JOIN R ON L.jk = R.jk`
  * over the LIVE latest state of both tables, and each batch pair
  * updates it with signed deltas instead of a re-join.
  *
  * The delta algebra (the textbook bilinear IVM decomposition, cf.
  * DBSP / differential dataflow): with L_new = L_old + ΔL and
  * R_new = R_old + ΔR as SIGNED multisets,
  *
  *   Δ(L ⋈ R) = ΔL ⋈ R_new  ∪  L_old ⋈ ΔR
  *
  * — exact, including the ΔL⋈ΔR cross term (it lives inside the first
  * join because R_new already contains ΔR). Row signs multiply; since
  * live states carry +1, each delta row's sign is just its Δ-side
  * sign. Per-table signed deltas and key states come from
  * [[MaterializedAgg.step]], so the same out-of-order/duplicate-
  * delivery guarantees hold: a stale version's −/+ pair cancels.
  *
  * The MV is stored as projected rows + `__mult` (signed-count
  * multiplicity): a fact-PK-preserving projection keeps mult ≤ 1 (the
  * PK-table MV case), while an aggregating projection (e.g. just the
  * dim attribute) accumulates true join multiplicities — both fall
  * out of the same Σsign merge, and rows at mult ≤ 0 vanish.
  *
  * Scale shape: each step joins BATCH-sized deltas against live state
  * (delta side broadcastable), plus the two per-table state merges —
  * work ∝ batch + touched keys + delta fan-out, never ∝ the view. A
  * dim-side update fans out to exactly its referencing facts via the
  * L_old ⋈ ΔR join — the unavoidable cost of materializing a join.
  */
object MaterializedJoin {

  import MaterializedAgg.{Del, Sign}

  /** One maintenance step: successor states for both tables plus the
    * signed join delta projected to `outCols`. */
  final case class Step(stateL: DataFrame, stateR: DataFrame, delta: DataFrame)

  /** Advance both tables by one batch each (either may be empty) and
    * emit the signed join-row delta. `joinL`/`joinR` are the equi-join
    * columns; `outCols` the view's projection (column names must be
    * unambiguous across the two inputs after the join). Callers should
    * checkpoint the returned states between steps, as with
    * [[MaterializedAgg.step]]. */
  def step(stateL: DataFrame, batchL: DataFrame, keyL: Seq[String],
           verL: Seq[Column], delFlagL: Column,
           stateR: DataFrame, batchR: DataFrame, keyR: Seq[String],
           verR: Seq[Column], delFlagR: Column,
           joinL: Seq[String], joinR: Seq[String],
           outCols: Seq[String]): Step = {
    require(joinL.length == joinR.length && joinL.nonEmpty, "need equi-join keys")
    val sl = MaterializedAgg.step(stateL, batchL, keyL, verL, delFlagL)
    val sr = MaterializedAgg.step(stateR, batchR, keyR, verR, delFlagR)

    // the right side's join columns are renamed away before the join
    // (they duplicate the left's values anyway), so the common fk=pk
    // same-name case resolves; NON-join columns must be distinct
    // across the two tables — that's the view author's contract
    def joined(l: DataFrame, r: DataFrame): DataFrame = {
      val r2 = joinR.zipWithIndex.foldLeft(r) { case (df, (c, i)) =>
        df.withColumnRenamed(c, s"__graft_jr$i")
      }
      val cond = joinL.zipWithIndex.map { case (a, i) =>
        col(a) === col(s"__graft_jr$i")
      }.reduce(_ && _)
      l.join(r2, cond).select(col(Sign) +: outCols.map(col): _*)
    }

    // ΔL ⋈ R_new(live): delta rows keep their sign
    val left1 = joined(sl.signedDelta.drop(Del),
      sr.state.where(!col(Del)).drop(Del))
    // L_old(live) ⋈ ΔR: sign comes from the right delta
    val left2 = joined(stateL.where(!col(Del)).drop(Del),
      sr.signedDelta.drop(Del))

    Step(sl.state, sr.state, left1.unionByName(left2))
  }

  /** Merge a signed join delta into the view (projected rows +
    * `__mult`); rows whose multiplicity reaches zero vanish. */
  def mergeMv(mv: Option[DataFrame], delta: DataFrame,
              outCols: Seq[String]): DataFrame = {
    val d = delta.groupBy(outCols.map(col): _*)
      .agg(sum(col(Sign)).as("__mult"))
    mv.map(_.unionByName(d)).getOrElse(d)
      .groupBy(outCols.map(col): _*)
      .agg(sum(col("__mult")).as("__mult"))
      .where(col("__mult") > 0)
  }

  /** Empty left/right states for [[step]]. */
  def emptyState(batch: DataFrame, delFlag: Column): DataFrame =
    MaterializedAgg.emptyState(batch, delFlag)

  // ---- N-way (star) incremental maintenance --------------------------

  /** One table's inputs to [[stepN]]: its current key-state, the new
    * batch (may be empty), the PK/version/delete columns
    * ([[MaterializedAgg.step]]'s contract per table). */
  final case class TableIn(state: DataFrame, batch: DataFrame,
                           key: Seq[String], ver: Seq[Column], delFlag: Column)

  /** [[stepN]]'s outputs: successor states (one per table, caller
    * checkpoints between rounds) and the signed join-row delta. */
  final case class StepN(states: Seq[DataFrame], delta: DataFrame)

  /** Advance N ≥ 2 joined tables by one batch each and emit the signed
    * N-way join delta — the bilinear rule telescoped (the standard
    * multilinear IVM decomposition, DBSP / classic delta rules):
    *
    *   Δ(T₁ ⋈ … ⋈ Tₙ) = Σᵢ T₁ⁿᵉʷ ⋈ … ⋈ Tᵢ₋₁ⁿᵉʷ ⋈ ΔTᵢ ⋈ Tᵢ₊₁ᵒˡᵈ ⋈ … ⋈ Tₙᵒˡᵈ
    *
    * — exact including every cross term (each ΔTᵢ⋈ΔTⱼ, i<j, lives in
    * term j, whose prefix is already NEW). For n = 2 this is exactly
    * [[step]]'s ΔL ⋈ R_old + L_new ⋈ ΔR form (the mirrored twin of the
    * one `step` uses; both are exact). Signs multiply, and only the
    * Δ frame carries one, so each delta row's sign is its Δ-side sign.
    *
    * `joinPairs` are unordered equi-key column pairs spanning any two
    * tables — the [[graft.plans.MvRewrite.registerJoin]] shape. EVERY
    * column name (join keys included) must be unique across the N
    * tables, and the pair graph must CONNECT them (require()d — a
    * disconnected set would otherwise cross-join).
    *
    * Scale shape: each term's fold STARTS at the batch-sized signed
    * delta and walks the join graph outward (BFS over the equi-pair
    * edges), so every join attaches a state to an already-delta-
    * restricted frame — work ∝ batch + delta fan-out per term, never
    * corpus ⋈ corpus (a left-to-right fold would pay a full
    * fact ⋈ dim join in every dim-delta term). The N states advance
    * via per-table [[MaterializedAgg.step]] with its out-of-order/
    * duplicate guarantees.
    *
    * Each state is read by EVERY term whose prefix/delta touches it,
    * so each table's step is materialized once (measured 2-3×
    * recompute per round at N=3 without this); the returned states
    * ARE those checkpoints: callers must not re-checkpoint, and free
    * them once the round's delta is consumed. The N steps are
    * independent jobs — overlapped from driver threads (guide §2.6),
    * which recovers their fixed per-job overhead at any batch size. */
  def stepN(tables: Seq[TableIn], joinPairs: Seq[(String, String)],
            outCols: Seq[String]): StepN =
    foldedN(tables.map(_.batch), graft.Par.map(tables)(t => MaterializedAgg.fold(
        t.state.withColumn(graft.sinks.LayeredScan.CommitSeq, lit(0L)),
        t.batch, t.key, t.ver, t.delFlag).map(_.localCheckpoint(true))),
      joinPairs, outCols)

  /** [[stepN]] over the N tables' materialized [[MaterializedAgg.Fold]]s:
    * each term reads its tables' old states, new states and signed
    * delta as projections of one fold. */
  private def foldedN(batches: Seq[DataFrame], folds: Seq[MaterializedAgg.Fold],
                      joinPairs: Seq[(String, String)], outCols: Seq[String]): StepN = {
    require(batches.size >= 2, "stepN needs at least two tables")
    require(joinPairs.size >= batches.size - 1,
      s"need ≥ ${batches.size - 1} equi-key pairs to connect ${batches.size} tables")
    val cols: Seq[Set[String]] = batches.map(_.columns.toSet)
    // unique ownership of every pair column (names must not repeat
    // across tables — the registerJoin/MaterializedJoin contract)
    joinPairs.foreach { case (a, b) =>
      Seq(a, b).foreach { c =>
        require(cols.count(_.contains(c)) == 1,
          s"join key $c must belong to exactly one table")
      }
      require(cols.indexWhere(_.contains(a)) != cols.indexWhere(_.contains(b)),
        s"pair ($a, $b) must span two different tables")
    }
    def bfsFrom(start: Int): Seq[Int] = bfsOrder(start, cols, joinPairs)
    require(bfsFrom(0).size == batches.size,
      "the equi-pair graph must connect every table (no cross joins)")

    def live(df: DataFrame): DataFrame = df.where(!col(Del)).drop(Del)

    // term i of the telescoped delta: ΔTᵢ joined with the NEW states
    // of tables before i and the OLD states of tables after i —
    // folded delta-outward along the join graph
    def term(i: Int): DataFrame = {
      def frame(j: Int): DataFrame =
        if (j < i) live(folds(j).newState)
        else if (j == i) live(folds(i).signedDelta)
        else live(folds(j).oldState)
      joinAlong(bfsFrom(i), cols, joinPairs)(frame)
        .select(col(Sign) +: outCols.map(col): _*)
    }

    StepN(folds.map(_.newState), batches.indices.map(term).reduce(_ unionByName _))
  }

  // tables in BFS order over the equi-pair graph from `start`
  // (`cols(i)`: table i's column names)
  private def bfsOrder(start: Int, cols: Seq[Set[String]],
                       joinPairs: Seq[(String, String)]): Seq[Int] = {
    val edges: Seq[(Int, Int)] = joinPairs.map { case (a, b) =>
      (cols.indexWhere(_.contains(a)), cols.indexWhere(_.contains(b)))
    }
    val order = scala.collection.mutable.ArrayBuffer(start)
    val seen = scala.collection.mutable.Set(start)
    var q = List(start)
    while (q.nonEmpty) {
      val h = q.head; q = q.tail
      edges.foreach { case (x, y) =>
        val n = if (x == h) y else if (y == h) x else -1
        if (n >= 0 && !seen(n)) { seen += n; order += n; q = q :+ n }
      }
    }
    order.toSeq
  }

  // join frame(j) for each table of a BFS `order`, each onto the
  // tables already joined — every join has a condition by construction
  private def joinAlong(order: Seq[Int], cols: Seq[Set[String]],
                        joinPairs: Seq[(String, String)])(
      frame: Int => DataFrame): DataFrame = {
    var acc = frame(order.head)
    var seen = cols(order.head)
    order.tail.foreach { j =>
      val conds = joinPairs.collect {
        case (a, b) if seen.contains(a) && cols(j).contains(b) =>
          col(a) === col(b)
        case (a, b) if seen.contains(b) && cols(j).contains(a) =>
          col(b) === col(a)
      }
      acc = acc.join(frame(j), conds.reduce(_ && _))
      seen = seen ++ cols(j)
    }
    acc
  }

  /** One table's batch inputs to [[maintainAggTx]] (the transactional
    * N-way form: version columns by NAME, as stored in the lake). */
  final case class BatchIn(name: String, batch: DataFrame, key: Seq[String],
                           verCols: Seq[String], delFlag: Column)

  /** EXACTLY-ONCE transactional maintenance of an N-way JOIN+AGGREGATE
    * MV — [[MaterializedAgg.maintainTx]]'s contract lifted to N
    * tables: all N key-states, the group-aggregate view, and the
    * per-writer batch watermark commit ATOMICALLY in ONE
    * [[graft.sinks.PkTableSink.mergeTxGroup]] manifest, so a replayed
    * batch (foreachBatch crash redelivery) is either fully absent or
    * fully applied — no partial multi-table state is reachable, which
    * is the whole point of a multi-table MV commit (the StarRocks
    * multi-table async-MV refresh transaction).
    *
    * One `batchId` covers one multi-table CDC feed round (every table
    * advances by its slice of the round — a table with no changes
    * passes an empty batch). Signed deltas are NOT idempotent, so the
    * watermark decides replays exactly as in the single-table form; a
    * stale replay runs zero Spark jobs.
    *
    * `outCols` is the join-row projection the group delta aggregates
    * over (group columns + every sum input). Read the live view with
    * `PkTableSink.readTxGroup(spark, root, "mv", …)`. Single writer
    * per `writer` id. */
  def maintainAggTx(root: String, tables: Seq[BatchIn],
                    joinPairs: Seq[(String, String)], outCols: Seq[String],
                    groupCols: Seq[String], sums: Seq[(String, Column)],
                    batchId: Long, writer: String): Boolean =
    nWayRound(root, tables, batchId, writer) { r =>
      // each table's old state, new state and signed delta come from
      // its one checkpointed fold; the group delta below stays the
      // round's ONE materialization of the N-way join
      val folds = pinnedFolds(r, tables)
      val delta = MaterializedAgg.groupDelta(
          foldedN(tables.map(_.batch), folds, joinPairs, outCols).delta, groupCols, sums)
        .localCheckpoint(true)
      folds.foreach(f => graft.Ckpt.free(f.frame))
      r.freeAfterCommit(delta)
      MaterializedAgg.sumView(r, delta, groupCols, sums.map(_._1), batchId)
    }

  /** One N-way [[MvRound]]: the N key-state batches (`state_<name>`)
    * staged after the guard, `body` computing the view batch. */
  private def nWayRound(root: String, tables: Seq[BatchIn], batchId: Long,
                        writer: String)(
      body: MvRound.Pinned => Map[String, graft.sinks.PkTableSink.TableBatch]): Boolean = {
    require(tables.map(_.name).distinct.size == tables.size,
      "table names must be distinct")
    MvRound.run(tables.head.batch.sparkSession, root, batchId, writer,
      tables.map(t => s"state_${t.name}" ->
        MvRound.stateBatch(t.batch, t.key, t.verCols, t.delFlag)))(body)
  }

  /** The N tables' [[MaterializedAgg.fold]]s of their pinned key-state
    * layers (tombstones kept) with their batches, each checkpointed
    * once — independent jobs, overlapped from driver threads. */
  private def pinnedFolds(r: MvRound.Pinned, tables: Seq[BatchIn]): Seq[MaterializedAgg.Fold] =
    graft.Par.map(tables)(t => MaterializedAgg.fold(
      r.layers(s"state_${t.name}", MaterializedAgg.emptyState(t.batch, t.delFlag), Del),
      t.batch, t.key, t.verCols.map(col), t.delFlag).map(_.localCheckpoint(true)))

  /** Shared N-way scaffolding for the non-self-maintainable view
    * kinds (min/max, top-k): the N pinned folds ([[pinnedFolds]]), the
    * signed join delta over them checkpointed ONCE (it feeds several
    * maintenance legs — the N-way telescoped join must not re-run per
    * leg), paired with the LIVE JOIN of the round's NEW states as the
    * step's state (the rescan recompute source — lazy; consumers
    * restrict it with a group-keyed semi join that Catalyst pushes
    * below the join, so it never evaluates corpus ⋈ corpus). The
    * checkpoints are freed once the round's commit has consumed them. */
  private def stepNTx(r: MvRound.Pinned, tables: Seq[BatchIn],
                      joinPairs: Seq[(String, String)],
                      outCols: Seq[String]): MaterializedAgg.Step = {
    val folds = pinnedFolds(r, tables)
    val s = foldedN(tables.map(_.batch), folds, joinPairs, outCols)
    val signedDelta = s.delta.localCheckpoint(true)
    r.freeAfterCommit(folds.map(_.frame) :+ signedDelta: _*)
    // live join of the NEW states: BFS fold over the same pair graph
    val cols = tables.map(_.batch.columns.toSet)
    val liveJoin = joinAlong(bfsOrder(0, cols, joinPairs), cols, joinPairs)(i =>
      s.states(i).where(!col(Del)).drop(Del))
    MaterializedAgg.Step(
      state = liveJoin.select(outCols.map(col): _*).withColumn(Del, lit(false)),
      signedDelta = signedDelta)
  }

  /** [[maintainAggTx]] with MIN/MAX columns — the r15 verdict's #6
    * ask: the single-table extremum rule ([[MaterializedAgg
    * .mergeMvMinMax]]'s insert-merge / retraction-rescan, Gupta &
    * Mumick's treatment of non-self-maintainable aggregates) composed
    * with [[stepN]]'s N-way signed join delta. The pieces line up
    * because both speak signed rows:
    *
    *  - INSERT candidates: the round's +1 JOIN rows per group —
    *    `least/greatest` against the stored extremum (monotone, no
    *    rescan);
    *  - RETRACTIONS: a −1 join row that ties-or-beats the stored
    *    extremum marks its group for rescan. A join row retracts when
    *    ANY constituent table row dies or changes — stepN's telescoped
    *    delta already emits exactly those signed rows, so the
    *    single-table trigger rule transfers unchanged;
    *  - RESCAN source: the live N-way JOIN restricted to affected
    *    groups. Declared as the full join of the round's NEW live
    *    states semi-joined to the rescan groups — Catalyst pushes the
    *    group-keyed semi below the join to the group-carrying side
    *    (PushLeftSemiLeftAntiThroughJoin), so the recompute scans only
    *    rows joining into affected groups, never corpus ⋈ corpus.
    *
    * Same exactly-once envelope as [[maintainAggTx]]: all N states,
    * the extrema-carrying view, and the watermark flip in ONE
    * manifest. `outCols` must carry every extremum input column. */
  def maintainAggMinMaxTx(root: String, tables: Seq[BatchIn],
                          joinPairs: Seq[(String, String)], outCols: Seq[String],
                          groupCols: Seq[String], sums: Seq[(String, Column)],
                          exts: Seq[MaterializedAgg.Extremum],
                          batchId: Long, writer: String): Boolean = {
    require(exts.nonEmpty, "maintainAggMinMaxTx: no extremum columns")
    nWayRound(root, tables, batchId, writer) { r =>
      MaterializedAgg.minMaxView(r, stepNTx(r, tables, joinPairs, outCols),
        groupCols, sums, exts, batchId)
    }
  }

  /** TOP-K-PER-GROUP on the JOIN-MV path — [[MaterializedTopK]]'s
    * member-retraction-only rescan rule composed with [[stepN]]'s
    * N-way signed join delta (the second non-self-maintainable
    * aggregate the join path was missing after min/max):
    *
    *  - INSERTED join rows merge with the stored members (one bounded
    *    rank over ≤ k + batch rows per touched group, no state read);
    *  - a RETRACTED join row rescans its group only when its
    *    (group, key) is a STORED MEMBER — and a join row retracts
    *    when ANY constituent table row dies/changes, so dim-driven
    *    demotions route through the same rule;
    *  - the rescan recomputes over the live N-way JOIN restricted to
    *    affected groups (group-keyed semi pushed below the join).
    *
    * `keyCols` must be a JOIN-ROW unique key within its group (e.g.
    * the fact table's PK when dims are PK-joined): the merge leg's
    * completeness argument needs +1 rows for stored keys to imply a
    * matching −1 (which routes the group to rescan) — a fan-out join
    * that duplicates keys breaks that and must widen `keyCols`.
    * `outCols` must carry groupCols ++ keyCols ++ the value input.
    * Same exactly-once envelope as [[maintainAggTx]]: N states, the
    * (group, key)-keyed view (new top-k upserts; demoted/retracted
    * members tombstone), and the watermark flip in ONE manifest. Read
    * with `PkTableSink.readTxGroup(spark, root, "mv", …)` and rank
    * with [[MaterializedTopK.rank]]. */
  def maintainTopKTx(root: String, tables: Seq[BatchIn],
                     joinPairs: Seq[(String, String)], outCols: Seq[String],
                     groupCols: Seq[String], keyCols: Seq[String],
                     value: Column, k: Int,
                     batchId: Long, writer: String): Boolean =
    nWayRound(root, tables, batchId, writer) { r =>
      MaterializedTopK.topKView(r, stepNTx(r, tables, joinPairs, outCols),
        groupCols, keyCols, value, k, batchId)
    }
}
