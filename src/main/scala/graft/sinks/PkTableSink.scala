package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cdc.PkTable

/** Incremental primary-key table maintenance on a parquet lake path —
  * the continuously-refreshed StarRocks PK table, minus the database:
  * each micro-batch of changes lands as a delta dir under a
  * [[TxLog]]-committed manifest (latest-wins by version, deletes kept
  * as stored tombstones) and readers merge base ∪ deltas on read.
  * Single tables commit through [[mergeTx]], multi-table groups
  * (incremental MVs, schema history, index maintenance) through
  * [[mergeTxGroup]] — one storage protocol for every writer.
  */
object PkTableSink {

  private def fsOf(spark: SparkSession, root: String) =
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Transactional multi-writer merge on a [[TxLog]]-backed table,
    * MERGE-ON-READ: a commit writes ONLY its batch (compacted to one
    * row per key) as a delta dir and claims the next log version with
    * a create-exclusive manifest carrying base + ordered deltas
    * forward. Readers apply latest-per-key over base ∪ deltas (the
    * manifest stores the key/version columns, so the log is
    * self-describing); [[compactTx]] folds deltas back into a fresh
    * base on a count trigger. Losing a commit race costs a rewrite of
    * the (batch-sized) delta, never a torn table or a lost batch.
    * Returns the committed version.
    *
    * Scale notes: commit I/O is proportional to the BATCH, not the
    * table — the copy-on-write alternative (re-merge + rewrite the
    * full snapshot per commit) is an O(table) read+write per
    * micro-batch, which no 100 TB table survives. The trade is a
    * read-time merge (one hash aggregation over base ∪ deltas), which
    * auto-compaction keeps bounded at `compactAfterDeltas` layers.
    * No global lock is ever held across the data write, only across
    * the (tiny) manifest create, so N concurrent writers serialize on
    * metadata, not on data I/O — the Delta/Iceberg deletion-vector /
    * StarRocks PK-table merge-on-read shape.
    */
  // tombstone marker persisted in TxLog-backed tables: concurrent
  // writers commit in arbitrary order relative to the VERSIONS they
  // carry, so the merge must be version-respecting (latestPerKey, not
  // the epoch-stamped snapshotMerge) and deletes must survive as
  // stored tombstones — otherwise a commit carrying an older insert
  // resurrects a key a newer version already deleted. Tombstones also
  // survive COMPACTION for the same reason.
  private val Tombstone = "__graft_deleted"
  // manifest meta keys persisting the merge configuration
  private val MetaKeys = "keys"
  private val MetaVers = "vers"
  // bloom columns carried in the manifest so later commits and
  // auto-compaction keep writing them without re-passing the list
  private val MetaBloom = "bloom"
  // the table's CURRENT column set (ordered, Tombstone excluded) —
  // grows on widening commits, never shrinks; commits missing a
  // stored column are refused (a whole-row latest-wins merge would
  // silently null the column on every key the commit touches)
  private val MetaCols = "cols"
  // set on a commit-ordered table (no version columns) once a layer
  // may repeat a stored key or carries tombstones; a fold or replace
  // clears it. Unset, no key repeats across layers, so a read is the
  // plain layered scan, with no latest-per-key shuffle.
  private val MetaOverlap = "overlap"
  // per-commit layering order for the read-time merge: among EQUAL
  // versions of a key, the later commit wins (deterministic, where
  // copy-on-write tie-break was unspecified)
  private val CommitSeq = LayeredScan.CommitSeq

  // fresh dir names: two writers (even with the same writer tag) never
  // share a dir, so a loser's cleanup only ever deletes its own files
  private def nonce(): String = java.util.UUID.randomUUID().toString.take(8)

  private def metaOf(keyCols: Seq[String], versionCols: Seq[String]): Map[String, String] = {
    (keyCols ++ versionCols).foreach(c => require(
      !c.exists(ch => ch == ',' || ch == '=' || ch == '\n'),
      s"key/version column name '$c' unusable in a manifest"))
    Map(MetaKeys -> keyCols.mkString(","), MetaVers -> versionCols.mkString(","))
  }

  // partial-update deltas ([[mergeTxPartial]]) record their present
  // columns under this meta prefix; whole-row merge paths must refuse
  // such tables (a whole-row merge would read an absent column's null
  // as an explicit value)
  private val PcolsPrefix = "pcols."
  private def requireNoPartial(meta: Map[String, String], op: String): Unit =
    require(!meta.keys.exists(_.startsWith(PcolsPrefix)),
      s"$op: table has partial-update deltas outstanding — use " +
        "readTxPartial / compactTxPartial (or compact before whole-row ops)")

  /** Latest-per-key view of base ∪ deltas (tombstones retained), read
    * as one layered scan ([[LayeredScan]]): the plan is the same at any
    * delta depth. */
  private def mergeDirs(spark: SparkSession, dirs: Seq[String],
                        meta: Map[String, String],
                        project: Option[Seq[String]] = None): DataFrame = {
    requireNoPartial(meta, "whole-row merge")
    val scan = LayeredScan.scan(spark, dirs).getOrElse(LayeredScan.empty(spark, dirs))
    // projection applied BELOW the whole-row max_by: the latest-wins
    // aggregate packs its payload into one struct, which blocks
    // Catalyst's column pruning — so the narrow read must be requested
    // here, where it reaches the parquet scan (see readTxCols). A
    // widened table's older dirs simply lack some requested columns;
    // the scan reads them as null.
    val layered = project.fold(scan)(want => scan.select(
      scan.columns.filter(c => want.contains(c) || c == CommitSeq).map(col).toIndexedSeq: _*))
    if (versOf(meta).isEmpty && !meta.contains(MetaOverlap)) layered.drop(CommitSeq)
    else latest(layered, dirs.size, storedKeys(meta), versOf(meta))
  }

  /** A table's version columns; none for a commit-ordered table (the
    * index tables), whose latest row per key is its latest commit's. */
  private def versOf(meta: Map[String, String]): Seq[String] =
    meta.getOrElse(MetaVers, "").split(",").toSeq.filter(_.nonEmpty)

  /** Latest per key over a layered scan of `layers` dirs, equal
    * versions ordered by commit; a single layer is already one row per
    * key. */
  private def latest(layered: DataFrame, layers: Int, keys: => Seq[String],
                     vers: => Seq[String]): DataFrame =
    if (layers == 1) layered.drop(CommitSeq)
    else PkTable.latestPerKey(layered, keys, vers.map(col) :+ col(CommitSeq)).drop(CommitSeq)

  /** The delta depth at which a table is folded back into one base:
    * [[mergeTx]]'s default and the MV rounds' group tables. */
  val CompactAfterDeltas = 32

  private def mergedTx(spark: SparkSession, m: TxLog.Manifest): DataFrame =
    mergeDirs(spark, m.dataDir +: m.deltas, m.meta)

  /** @param recoverTornAfterMs reclaim a crashed writer's torn
    *   manifest claim older than this before retrying (a live writer's
    *   create→content window is milliseconds; default 60 s is far past
    *   any real flush)
    * @param compactAfterDeltas fold deltas into a new base once this
    *   many layers accumulate (post-commit, its own transaction);
    *   `Int.MaxValue` disables — run [[compactTx]] as maintenance
    * @param bloomCols non-key columns to give a parquet-native bloom
    *   filter in EVERY written dir — deltas included (plus the first
    *   key column), so point lookups ([[readTxPointOn]]) stay pruned
    *   while a hot table has deltas outstanding. Persisted in the
    *   manifest; later commits and auto-compaction inherit it when
    *   they pass Nil.
    * @param statsCols ignored: every dir's parquet footers record
    *   min/max for every column, which is what [[readTxRangeOn]]
    *   prunes on; kept so existing callers compile
    * @param bloomExpectedPerFile expected distinct values per file
    *   for the blooms of DELTA dirs (batch-sized files — compaction
    *   sizes its own from `targetRowsPerFile`) */
  def mergeTx(spark: SparkSession, root: String, changes: DataFrame,
              keyCols: Seq[String], versionCols: Seq[String], deleteFlag: String,
              writer: String, maxAttempts: Int = 5,
              recoverTornAfterMs: Long = 60000L,
              compactAfterDeltas: Int = CompactAfterDeltas,
              bloomCols: Seq[String] = Nil,
              statsCols: Seq[String] = Nil,
              bloomExpectedPerFile: Long = 1L << 16): Long = {
    // one row per key per delta: read-time merge cost scales with keys
    // TOUCHED per commit, not rows ingested
    val chg = PkTable.latestPerKey(
      changes.withColumn(Tombstone, coalesce(col(deleteFlag), lit(false)))
        .drop(deleteFlag),
      keyCols, versionCols.map(col))
    val meta = metaOf(keyCols, versionCols)
    // a commit passing Nil inherits the table's recorded bloom columns
    // instead of silently dropping them from the manifest
    def bloomMeta(prev: Map[String, String]): Map[String, String] =
      (if (bloomCols.nonEmpty) Some(bloomCols.mkString(",")) else prev.get(MetaBloom))
        .map(MetaBloom -> _).toMap
    // the blooms are built inside the write task: no job beyond the
    // write's own
    def write(dir: String, m: Map[String, String]): Unit = {
      // the first key column rides along in every delta's bloom: a
      // sparse delta (keys scattered across the domain) min/max-covers
      // almost any candidate range, but a POINT candidate can still be
      // bloom-rejected per file (see readTxPointOn pass 2)
      val blooms = m.get(MetaBloom).map(_.split(",").toSeq :+ keyCols.head).getOrElse(Nil)
      graft.SchemaCache.writeNew(chg, dir, Footers.bloomOptions(blooms, bloomExpectedPerFile))
    }
    val batchCols = chg.columns.toSeq.filterNot(_ == Tombstone)
    batchCols.foreach(c => require(!c.exists(ch => ch == ',' || ch == '=' || ch == '\n'),
      s"column name '$c' unusable in a manifest"))
    val v = TxLog.commitWith(spark, root, writer, maxAttempts, recoverTornAfterMs) { base =>
      val next = base.map(_.version + 1).getOrElse(0L)
      base match {
        case None =>
          val dataDir = s"$root/t$next-$writer-${nonce()}"
          val fullMeta = meta ++ bloomMeta(Map.empty) +
            (MetaCols -> batchCols.mkString(","))
          write(dataDir, fullMeta)
          TxLog.Prepared(dataDir = dataDir, meta = fullMeta, written = Seq(dataDir))
        case Some(m) =>
          requireNoPartial(m.meta, "mergeTx") // meta replace would drop pcols
          m.meta.get(MetaKeys).foreach(k => require(k == meta(MetaKeys) &&
            m.meta(MetaVers) == meta(MetaVers),
            s"mergeTx key/version columns differ from the table's " +
              s"(stored keys=$k vers=${m.meta(MetaVers)})"))
          // SCHEMA EVOLUTION: the column set may WIDEN (new columns
          // append; older dirs read them as null — the ADD COLUMN
          // default) but never narrow — a whole-row commit missing a
          // stored column would null it on every touched key
          val stored = m.meta.get(MetaCols).map(_.split(",").toSeq).getOrElse(batchCols)
          val missing = stored.filterNot(batchCols.contains)
          require(missing.isEmpty,
            s"mergeTx: batch is missing stored columns ${missing.mkString(", ")} — " +
              "schema can widen, never narrow (use mergeTxPartial for column subsets)")
          val widened = stored ++ batchCols.filterNot(stored.contains)
          val deltaDir = s"$root/d$next-$writer-${nonce()}"
          val fullMeta = meta ++ bloomMeta(m.meta) +
            (MetaCols -> widened.mkString(","))
          write(deltaDir, fullMeta)
          TxLog.Prepared(dataDir = m.dataDir, deltas = m.deltas :+ deltaDir,
            meta = fullMeta, written = Seq(deltaDir))
      }
    }
    if (TxLog.current(spark, root).exists(_.deltas.size >= compactAfterDeltas))
      compactTx(spark, root, writer, minDeltas = compactAfterDeltas,
        maxAttempts = maxAttempts, recoverTornAfterMs = recoverTornAfterMs)
    v
  }

  private final case class CompactSkip(version: Long) extends RuntimeException

  /** What one compaction writes into one new dir under `dirPrefix`:
    * the merged `rows`, laid out by `pack` into the given number of
    * files and written with `options`. */
  private final case class Fold(rows: DataFrame, pack: (DataFrame, Int) => DataFrame,
                                dirPrefix: String, options: Map[String, String] = Map.empty)

  /** The base rewrite every compaction shares: under `root`'s claim,
    * `plan` sees the current manifest and returns the folds to write
    * and the commit of their new dirs (in fold order) — or None to
    * skip, returning the current version with no commit. A count pass
    * sizes each fold's file count (compaction is already an O(live
    * keys) rewrite; one aggregate-only pass is noise), and the packed
    * rows land in a fresh nonce-named `t<version>` dir. */
  private def compactWith(spark: SparkSession, root: String, writer: String, op: String,
                          targetRowsPerFile: Long, maxAttempts: Int, recoverTornAfterMs: Long)(
      plan: TxLog.Manifest => Option[(Seq[Fold], Seq[String] => TxLog.Prepared)]): Long =
    try TxLog.commitWith(spark, root, writer, maxAttempts, recoverTornAfterMs) { base =>
      val m = base.getOrElse(throw new IllegalStateException(
        s"$op: no committed version under $root"))
      val (folds, claim) = plan(m).getOrElse(throw CompactSkip(m.version))
      val dirs = folds.map { f =>
        val dir = s"${f.dirPrefix}/t${m.version + 1}-$writer-${nonce()}"
        val rows = f.rows.count()
        val nFiles = math.max(1L, (rows + targetRowsPerFile - 1) / targetRowsPerFile).toInt
        graft.SchemaCache.writeNew(f.pack(f.rows, nFiles), dir, f.options)
        dir
      }
      claim(dirs).copy(written = dirs)
    } catch { case CompactSkip(v) => v }

  /** Key-range-sorted bin-packing: each file covers a disjoint range
    * of `keyCols`. */
  private def byKey(keyCols: Seq[String])(df: DataFrame, nFiles: Int): DataFrame =
    if (keyCols.isEmpty) df.repartition(nFiles)
    else df.repartitionByRange(nFiles, keyCols.map(col): _*)
      .sortWithinPartitions(keyCols.map(col): _*)

  /** Fold base + deltas into ONE fresh base dir, bin-packed to
    * `targetRowsPerFile` and RANGE-SORTED by the table's key columns —
    * each output file covers a disjoint key range, so the footers'
    * min/max prune point/range lookups to the files that can match
    * (the small-files cure and the sorted-layout optimization in one
    * rewrite). Tombstones are RETAINED: a later commit may still carry
    * an older version of a deleted key, and only the stored tombstone
    * stops its resurrection. Conflict-safe — a retry re-reads the
    * winner's manifest, so a concurrent delta commit is folded in,
    * never dropped.
    *
    * @param minDeltas skip (returning the current version, no commit)
    *   unless at least this many deltas are stacked — lets concurrent
    *   auto-compacting writers not compact twice */
  def compactTx(spark: SparkSession, root: String, writer: String,
                minDeltas: Int = 0, targetRowsPerFile: Long = 4L << 20,
                maxAttempts: Int = 5, recoverTornAfterMs: Long = 60000L,
                bloomCols: Seq[String] = Nil,
                bloomExpectedPerFile: Long = -1L): Long =
    compactWith(spark, root, writer, "compactTx", targetRowsPerFile, maxAttempts,
        recoverTornAfterMs) { m0 =>
      val m = requireSingleTable(m0, root)
      if (m.deltas.size < minDeltas) None
      else {
        // explicit bloom columns win, else the manifest's record
        // (written by mergeTx) — auto-compaction keeps a bloomed table
        // bloomed without re-passing the columns
        val effBloom = if (bloomCols.nonEmpty) bloomCols
          else m.meta.get(MetaBloom).map(_.split(",").toSeq).getOrElse(Nil)
        val keptMeta = m.meta ++
          (if (bloomCols.nonEmpty) Map(MetaBloom -> bloomCols.mkString(",")) else Map.empty)
        // default bloom capacity = the packing target, so each file's
        // filter is sized for the rows actually landing in it (a fixed
        // smaller default realizes ~25-30% fpp at 4M-row files)
        Some(Seq(Fold(mergedTx(spark, m), byKey(keyColsOf(m.meta)), root,
          Footers.bloomOptions(effBloom,
            if (bloomExpectedPerFile > 0) bloomExpectedPerFile else targetRowsPerFile))) ->
          (ds => TxLog.Prepared(dataDir = ds.head, meta = keptMeta)))
      }
    }

  private def keyColsOf(meta: Map[String, String]): Seq[String] =
    meta.get(MetaKeys).map(_.split(",").toSeq).getOrElse(Nil)

  /** [[compactTx]] variant that clusters the rewritten base in
    * Z-ORDER of two NUMERIC columns (Delta `OPTIMIZE ZORDER BY`
    * analogue, [[ZOrder]]): files then cover rectangles of the
    * (zCols(0), zCols(1)) space, so the footers' min/max prune a range
    * read on EITHER z column ([[readTxRangeOn]]) to ~√F of F files —
    * where key-range-sorted compaction prunes only the first key
    * column and scans everything for the rest.
    *
    * The z-column bounds come from one aggregate-only scalar job over
    * the merged rows (maintenance path, same budget class as the
    * compaction's own sizing count). Merge/tombstone semantics are
    * identical to [[compactTx]] — clustering changes LAYOUT, never
    * content.
    */
  def compactTxZOrder(spark: SparkSession, root: String, writer: String,
                      zCols: Seq[String], minDeltas: Int = 0,
                      targetRowsPerFile: Long = 4L << 20,
                      maxAttempts: Int = 5,
                      recoverTornAfterMs: Long = 60000L): Long = {
    require(zCols.size >= 2 && zCols.size <= 4,
      s"z-order takes 2-4 columns, got $zCols")
    def zorder(merged: DataFrame, nFiles: Int): DataFrame = {
      val boundAggs = zCols.flatMap(c => Seq(
        min(col(c).cast("double")), max(col(c).cast("double"))))
      val b = merged.agg(boundAggs.head, boundAggs.tail: _*).head()
      def bound(i: Int) = if (b.isNullAt(i)) 0.0 else b.getDouble(i)
      val zc = "__graft_z"
      merged
        .withColumn(zc, ZOrder.zvalueN(zCols.zipWithIndex.map { case (c, i) =>
          (col(c), bound(2 * i), bound(2 * i + 1)) }))
        .repartitionByRange(nFiles, col(zc))
        .sortWithinPartitions(col(zc))
        .drop(zc)
    }
    compactWith(spark, root, writer, "compactTxZOrder", targetRowsPerFile, maxAttempts,
        recoverTornAfterMs) { m0 =>
      val m = requireSingleTable(m0, root)
      if (m.deltas.size < minDeltas) None
      else Some(Seq(Fold(mergedTx(spark, m), zorder, root)) -> (ds => TxLog.Prepared(
        dataDir = ds.head, meta = m.meta + ("zorder" -> zCols.mkString(",")))))
    }
  }

  /** Point lookup on an arbitrary column, BLOOM pruned — the
    * [[readTxRangeOn]] twin for columns with no layout correlation
    * (uuid-ish ids, foreign keys) where min/max ranges cannot prune:
    * scans only the files whose footers ([[Footers]]: the parquet
    * bloom filters `bloomCols` asks the writers for, dictionaries,
    * min/max) admit `value` — ~1 + fpp·F of F files, decided
    * driver-side with zero jobs. Matching rows are re-filtered
    * exactly after the scan, so false positives cost I/O, never
    * correctness. `value` is the column's STRING rendering (the
    * filter is a cast-to-string compare), so pass e.g. "42" for a
    * long column.
    *
    * With DELTAS OUTSTANDING a one-pass bloom prune on a non-key
    * column is UNSOUND — a pruned-away delta row can supersede (or
    * tombstone) a matching base row, resurrecting a stale value — so
    * the hot-table path runs TWO passes, both pruned:
    *  1. candidate discovery: bloom-pruned files of EVERY layer
    *     (mergeTx writes per-delta blooms) are scanned for rows
    *     matching `value`, aggregated to the candidates' first-key
    *     bounds (a scalar job ∝ matching files);
    *  2. key resolution: the footer-pruned latest-per-key merge over
    *     that key range (sound — key ranges prune correctly through
    *     deltas), exact-filtered to `value`.
    * Any key whose LATEST row matches is bloom-found in pass 1 (no
    * false negatives) and fully resolved in pass 2; a key whose match
    * was superseded is eliminated by the final filter. File opens
    * ≈ 2× the matching files (+ fpp), vs the full O(layers) merge.
    */
  def readTxPointOn(spark: SparkSession, root: String, schemaOf: => DataFrame,
                    colName: String, value: String): DataFrame =
    prunedRead(spark, root, schemaOf, "readTxPointOn",
      col(colName).cast("string") === value, Footers.mayHold(spark, colName, value, value))

  /** The pruned non-key read behind [[readTxPointOn]] and
    * [[readTxRangeOn]]: rows matching `cond`, `keep` picking the
    * candidate files — one pass over a single-dir table, the two
    * passes with deltas outstanding. */
  private def prunedRead(spark: SparkSession, root: String, schemaOf: => DataFrame,
                         op: String, cond: org.apache.spark.sql.Column,
                         keep: Path => Boolean): DataFrame =
    TxLog.current(spark, root) match {
      case None => schemaOf.limit(0)
      case Some(m0) =>
        val m = requireSingleTable(m0, root)
        requireNoPartial(m.meta, op)
        val dirs = m.dataDir +: m.deltas
        if (m.deltas.isEmpty)
          LayeredScan.scan(spark, dirs, keep).fold(schemaOf.limit(0))(s =>
            dropTombstones(s.drop(CommitSeq)).where(cond))
        else {
          val keys = storedKeys(m.meta)
          candidateKeyBounds(spark, dirs, keys.head, cond, keep) match {
            case None => schemaOf.limit(0)
            case Some((lo, hi)) =>
              readPrunedDirs(spark, dirs, keys, m.meta(MetaVers).split(",").toSeq, lo, hi)
                .where(cond)
          }
        }
    }

  private def storedKeys(meta: Map[String, String]): Seq[String] =
    meta.get(MetaKeys).filter(_.nonEmpty).getOrElse(throw new IllegalStateException(
      "manifest has no stored key columns")).split(",").toSeq

  /** Pass 1 of the delta-outstanding pruned lookups: scan the layers'
    * kept files for rows matching `cond` and return the candidates'
    * (min, max) on `keyCol` — None when nothing matches. One scalar
    * aggregate job over the matching files only. */
  private def candidateKeyBounds(spark: SparkSession, dirs: Seq[String],
                                 keyCol: String, cond: org.apache.spark.sql.Column,
                                 keep: Path => Boolean): Option[(Any, Any)] =
    LayeredScan.scan(spark, dirs, keep).flatMap { s =>
      val r = s.where(cond).agg(min(col(keyCol)), max(col(keyCol))).head()
      if (r.isNullAt(0)) None else Some((r.get(0), r.get(1)))
    }

  /** PARTIAL-COLUMN upsert — the StarRocks primary-key
    * `partial_update` mode (Debezium patch-event shape): `changes`
    * carries the key + version + delete-flag columns plus ONLY the
    * value columns this batch sets. Columns ABSENT from the batch
    * schema leave existing rows unchanged; a PRESENT column set to
    * null writes an explicit null (the two cases stay distinguishable
    * because the manifest records each partial delta's present-column
    * set under `pcols.<dir>`). The delta dir stores just the present
    * columns — commit I/O ∝ batch rows × touched columns, the point of
    * partial updates for wide tables.
    *
    * Read side: [[readTxPartial]] coalesces per COLUMN by version
    * order (merge-on-read, cost ∝ scanned rows, two passes).
    * Whole-row paths (readTx / mergeTx / compactTx / range reads)
    * REFUSE the table while partial deltas are outstanding — a
    * whole-row merge would read an absent column's null as a value;
    * [[compactTxPartial]] folds partials back to full rows and lifts
    * the restriction.
    *
    * Delete semantics: a tombstone hides every older record entirely;
    * a partial update NEWER than the tombstone resurrects the key with
    * nulls in the columns it does not write.
    *
    * Requires a committed base (bootstrap with [[mergeTx]]).
    */
  def mergeTxPartial(spark: SparkSession, root: String, changes: DataFrame,
                     keyCols: Seq[String], versionCols: Seq[String],
                     deleteFlag: String, writer: String, maxAttempts: Int = 5,
                     recoverTornAfterMs: Long = 60000L): Long = {
    val chg = PkTable.latestPerKey(
      changes.withColumn(Tombstone, coalesce(col(deleteFlag), lit(false)))
        .drop(deleteFlag),
      keyCols, versionCols.map(col))
    val present = chg.columns.toSeq
      .filterNot(c => keyCols.contains(c) || versionCols.contains(c) || c == Tombstone)
    present.foreach(c => require(
      !c.exists(ch => ch == ',' || ch == '=' || ch == '\n'),
      s"partial-update column name '$c' unusable in a manifest"))
    TxLog.commitWith(spark, root, writer, maxAttempts, recoverTornAfterMs) { base =>
      val m = requireSingleTable(base.getOrElse(throw new IllegalStateException(
        s"mergeTxPartial: no committed base under $root — bootstrap with mergeTx")),
        root)
      require(m.meta.get(MetaKeys).contains(keyCols.mkString(",")) &&
        m.meta.get(MetaVers).contains(versionCols.mkString(",")),
        s"mergeTxPartial key/version columns differ from the table's " +
          s"(stored keys=${m.meta.get(MetaKeys)} vers=${m.meta.get(MetaVers)})")
      // a misspelled / schema-drifted change column would commit its
      // values into an unreadable grave (partialMerge only projects
      // base-schema columns) — refuse loudly instead. Footer-only read.
      val baseValueCols = graft.SchemaCache.read(spark, m.dataDir).schema.fieldNames
        .filterNot(c => keyCols.contains(c) || versionCols.contains(c) ||
          c == Tombstone).toSet
      val unknown = present.filterNot(baseValueCols)
      require(unknown.isEmpty,
        s"mergeTxPartial: change columns ${unknown.mkString(", ")} do not " +
          s"exist in the base table (known value columns: " +
          s"${baseValueCols.toSeq.sorted.mkString(", ")})")
      val deltaDir = s"$root/p${m.version + 1}-$writer-${nonce()}"
      graft.SchemaCache.writeNew(chg, deltaDir)
      val dirName = deltaDir.substring(deltaDir.lastIndexOf('/') + 1)
      TxLog.Prepared(dataDir = m.dataDir, deltas = m.deltas :+ deltaDir,
        meta = m.meta + (s"$PcolsPrefix$dirName" -> present.mkString(",")),
        written = Seq(deltaDir))
    }
  }

  /** The partial-aware two-phase merge: (live full rows, dead-key
    * tombstone rows). Phase 1 finds each key's latest tombstone order;
    * phase 2 takes, per column, the newest explicitly-written value
    * among records newer than that tombstone. */
  private def partialMerge(spark: SparkSession, m: TxLog.Manifest)
      : (DataFrame, DataFrame) = {
    val keys = m.meta(MetaKeys).split(",").toSeq
    val vers = m.meta(MetaVers).split(",").toSeq
    val baseDf = graft.SchemaCache.read(spark, m.dataDir)
    val valueCols = baseDf.columns.toSeq
      .filterNot(c => keys.contains(c) || vers.contains(c) || c == Tombstone)
    val types = valueCols.map(c => c -> baseDf.schema(c).dataType).toMap
    def dirName(d: String) = d.substring(d.lastIndexOf('/') + 1)
    val frames = (m.dataDir +: m.deltas).zipWithIndex.map { case (d, i) =>
      val p: Set[String] =
        if (i == 0) valueCols.toSet
        else m.meta.get(PcolsPrefix + dirName(d))
          .map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(valueCols.toSet)
      val sel = keys.map(col) ++ vers.map(col) ++
        Seq(col(Tombstone), lit(i.toLong).as(CommitSeq)) ++
        valueCols.flatMap(c => Seq(
          (if (p(c)) col(c) else lit(null).cast(types(c))).as(c),
          lit(p(c)).as(s"__has_$c")))
      graft.SchemaCache.read(spark, d).select(sel: _*)
    }
    val u = frames.reduce(_ unionByName _)
    val ord = struct((vers.map(col) :+ col(CommitSeq)): _*)
    val t = u.groupBy(keys.map(col): _*)
      .agg(max(when(col(Tombstone), ord)).as("__tord"), max(ord).as("__lord"))
    val valid = u.join(t, keys)
      .where(!col(Tombstone) &&
        (col("__tord").isNull || ord > col("__tord")))
    val liveAggs = max(ord).as("__o") +:
      valueCols.map(c => max_by(col(c), when(col(s"__has_$c"), ord)).as(c))
    val live = valid.groupBy(keys.map(col): _*)
      .agg(liveAggs.head, liveAggs.tail: _*)
      .select(keys.map(col) ++ vers.map(v => col("__o").getField(v).as(v)) ++
        valueCols.map(col): _*)
    val dead = t.where(col("__tord").isNotNull && !(col("__lord") > col("__tord")))
      .select(keys.map(col) ++ vers.map(v => col("__tord").getField(v).as(v)) ++
        valueCols.map(c => lit(null).cast(types(c)).as(c)): _*)
    (live, dead)
  }

  /** Live contents of a table with partial-update deltas: full rows
    * with every column coalesced to its newest explicitly-written
    * value (works on fully-compacted tables too). Two passes over the
    * scanned dirs; [[compactTxPartial]] restores one-pass reads. */
  def readTxPartial(spark: SparkSession, root: String,
                    schemaOf: => DataFrame): DataFrame =
    TxLog.current(spark, root) match {
      case None    => schemaOf.limit(0)
      case Some(m) => partialMerge(spark, requireSingleTable(m, root))._1
    }

  /** Fold partial deltas into a fresh FULL-ROW base (key-range-sorted
    * bin-packing like [[compactTx]], dead keys retained as tombstone
    * rows, `pcols.*` meta cleared) — after this the whole-row
    * read/merge/compact surface applies again. */
  def compactTxPartial(spark: SparkSession, root: String, writer: String,
                       targetRowsPerFile: Long = 4L << 20,
                       maxAttempts: Int = 5,
                       recoverTornAfterMs: Long = 60000L): Long =
    compactWith(spark, root, writer, "compactTxPartial", targetRowsPerFile, maxAttempts,
        recoverTornAfterMs) { m0 =>
      val m = requireSingleTable(m0, root)
      val (live, dead) = partialMerge(spark, m)
      val full = live.withColumn(Tombstone, lit(false))
        .unionByName(dead.withColumn(Tombstone, lit(true)))
      Some(Seq(Fold(full, byKey(keyColsOf(m.meta)), root)) -> (ds => TxLog.Prepared(
        dataDir = ds.head, meta = m.meta.filterNot(_._1.startsWith(PcolsPrefix)))))
    }

  /** CHANGE FEED between two committed versions (Delta CDF /
    * "incremental read" analogue): the NET per-key difference of the
    * two snapshots, one row per changed key with `_change_type` ∈
    * insert | update | delete (update/insert carry the to-version row,
    * delete the last visible from-version row). A key whose visible
    * row is identical in both versions emits nothing — including the
    * no-op case where a late delta carried an OLDER version that lost
    * the merge.
    *
    * Cost shape: when `to`'s dir list extends `from`'s (the common
    * no-compaction-between case) both snapshots are first semi-joined
    * to the keys TOUCHED by the new deltas, so the diff's shuffle is
    * ∝ touched keys, never table keys (the scans stay full-width but
    * key-sorted bases make the semi-join's exchange the only real
    * cost). Across a compaction boundary the dir lists diverge and
    * the diff falls back to the full snapshot pair — correct, just
    * unpruned; vacuumed `from` dirs fail like [[readTxAt]].
    */
  def readTxChanges(spark: SparkSession, root: String,
                    fromVersion: Long, toVersion: Long): DataFrame =
    changesImpl(spark, root, fromVersion, toVersion, cdf = false)

  /** [[readTxChanges]] with BOTH update images (the Delta CDF row
    * convention): an updated key emits `update_preimage` (the
    * from-version row) AND `update_postimage` (the to-version row)
    * instead of one `update` row. Exactly what delta-proportional
    * maintenance of subtractable aggregates needs — [[TableStats]]'
    * incremental refresh subtracts the preimage's contribution and
    * adds the postimage's, which the single-image feed cannot
    * express. Same cost shape as [[readTxChanges]]. */
  def readTxChangesCdf(spark: SparkSession, root: String,
                       fromVersion: Long, toVersion: Long): DataFrame =
    changesImpl(spark, root, fromVersion, toVersion, cdf = true)

  private def changesImpl(spark: SparkSession, root: String,
                          fromVersion: Long, toVersion: Long,
                          cdf: Boolean): DataFrame = {
    require(toVersion >= fromVersion,
      s"readTxChanges: to=$toVersion < from=$fromVersion")
    def manifest(v: Long) = TxLog.at(spark, root, v)
      .map(requireSingleTable(_, root)).getOrElse(throw new IllegalArgumentException(
        s"readTxChanges: no committed version $v under $root"))
    val mF = manifest(fromVersion); val mT = manifest(toVersion)
    requireNoPartial(mF.meta, "readTxChanges"); requireNoPartial(mT.meta, "readTxChanges")
    val keys = storedKeys(mT.meta)
    val ChangeType = "_change_type"
    // across a WIDENING boundary the from-image lacks the new columns;
    // align both sides to the union schema (nulls fill the gap — the
    // same ADD COLUMN default the merged read serves), so the diff
    // reports a widened row as an update carrying the new column
    def align(df: DataFrame, ref: DataFrame): DataFrame =
      ref.schema.fields.filterNot(f => df.columns.contains(f.name))
        .foldLeft(df)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
    val sFrom0 = {
      val a = mergeDirs(spark, mF.dataDir +: mF.deltas, mF.meta)
      align(a, mergeDirs(spark, mT.dataDir +: mT.deltas, mT.meta))
    }
    val sTo0 = align(mergeDirs(spark, mT.dataDir +: mT.deltas, mT.meta), sFrom0)
    val outCols = sTo0.columns.toSeq.filterNot(_ == Tombstone)
    val newDirs =
      if (mF.dataDir == mT.dataDir && mT.deltas.startsWith(mF.deltas))
        Some(mT.deltas.drop(mF.deltas.size))
      else None
    if (newDirs.contains(Nil))
      return sTo0.select(outCols.map(col): _*).limit(0)
        .withColumn(ChangeType, lit(""))
    val (sFrom, sTo) = newDirs match {
      case Some(dirs) =>
        val touched = dirs.map(graft.SchemaCache.read(spark, _).select(keys.map(col): _*))
          .reduce(_ unionByName _).distinct()
        (sFrom0.join(touched, keys, "left_semi"),
          sTo0.join(touched, keys, "left_semi"))
      case None => (sFrom0, sTo0)
    }
    // internal rename prefixes follow the __graft_* reserved-name
    // convention so a user column literally named f_<col> / t_<col> /
    // __present__ can never collide with the diff join's columns
    val pF = "__graft_f_"
    val pT = "__graft_t_"
    def tag(df: DataFrame, p: String) = df.columns.foldLeft(df) { (d, c) =>
      if (keys.contains(c)) d else d.withColumnRenamed(c, s"$p$c")
    }.withColumn(s"${p}__present__", lit(true))
    val j = tag(sFrom, pF).join(tag(sTo, pT), keys, "full_outer")
    val nonKey = sTo0.columns.toSeq.filterNot(c => keys.contains(c) || c == Tombstone)
    val visF = coalesce(col(s"${pF}__present__"), lit(false)) &&
      !coalesce(col(s"$pF$Tombstone"), lit(true))
    val visT = coalesce(col(s"${pT}__present__"), lit(false)) &&
      !coalesce(col(s"$pT$Tombstone"), lit(true))
    val rowF = struct(nonKey.map(c => col(s"$pF$c")): _*)
    val rowT = struct(nonKey.map(c => col(s"$pT$c")): _*)
    val ct = when(!visF && visT, lit("insert"))
      .when(visF && !visT, lit("delete"))
      .when(visF && visT && !(rowF <=> rowT), lit("update"))
    val tagged = j.withColumn(ChangeType, ct).where(col(ChangeType).isNotNull)
    if (!cdf)
      tagged.select(keys.map(col) ++ nonKey.map(c =>
        when(col(ChangeType) === "delete", col(s"$pF$c"))
          .otherwise(col(s"$pT$c")).as(c)) :+ col(ChangeType): _*)
    else {
      // CDF form: updates fan out to (preimage, postimage); schema
      // alignment above guarantees the two image structs agree
      def img(p: String, tag: String) = struct(
        nonKey.map(c => col(s"$p$c").as(c)) :+ lit(tag).as(ChangeType): _*)
      val arr = when(col(ChangeType) === "insert", array(img(pT, "insert")))
        .when(col(ChangeType) === "delete", array(img(pF, "delete")))
        .otherwise(array(img(pF, "update_preimage"),
          img(pT, "update_postimage")))
      tagged.select(keys.map(col) :+ explode(arr).as("__graft_img"): _*)
        .select(keys.map(col) ++ nonKey.map(c =>
          col(s"__graft_img.$c").as(c)) :+
          col(s"__graft_img.$ChangeType").as(ChangeType): _*)
    }
  }

  /** One table's batch inside a multi-table transactional commit.
    * `preCompacted = true` asserts the caller guarantees ≤ 1 row per
    * key (e.g. the frame is itself a per-key aggregate) and skips the
    * write-side latest-per-key compaction — one whole exchange per
    * table per commit. Safety: merge-on-read re-compacts over
    * base ∪ deltas at read time anyway, but the caller MUST keep the
    * uniqueness guarantee — two rows with one key AND one version in
    * one delta dir would tie max_by nondeterministically.
    *
    * `newKeys = true`, for a table with no version columns, asserts
    * that the batch has no tombstones and none of its keys is live in
    * the table at the base the commit claims. While every layer since
    * the table's last fold or replace was so written, no key repeats
    * across layers and the table's reads skip the latest-per-key
    * merge. */
  final case class TableBatch(changes: DataFrame, keyCols: Seq[String],
                              versionCols: Seq[String], deleteFlag: String,
                              preCompacted: Boolean = false, newKeys: Boolean = false)

  private def groupMetaOf(table: String, keyCols: Seq[String],
                          versionCols: Seq[String]): Map[String, String] =
    metaOf(keyCols, versionCols).map { case (k, v) => s"$k.$table" -> v }

  private def validGroupTableName(t: String): Unit = require(
    t.nonEmpty && !t.exists(c => c == '=' || c == '\n' || c == '/' ||
      c == ',' || c == '.'),
    s"invalid table name '$t'")

  private def compactedWithTomb(b: TableBatch): DataFrame = {
    val withTomb = b.changes
      .withColumn(Tombstone, coalesce(col(b.deleteFlag), lit(false)))
      .drop(b.deleteFlag)
    if (b.preCompacted) withTomb
    else PkTable.latestPerKey(withTomb, b.keyCols, b.versionCols.map(col))
  }

  /** One table's delta dir written AHEAD of its [[mergeTxGroup]]
    * commit — see [[stageTableBatch]]. */
  final case class StagedBatch private[sinks] (table: String, dir: String,
                                               meta: Map[String, String],
                                               join: () => Unit)

  /** START one table's delta write NOW (on a [[graft.Par]] thread, so
    * it overlaps the caller's other pre-commit waves — the state
    * merges and delta checkpoints of a maintenance round) for a later
    * [[mergeTxGroup]] commit. Sound because the written DATA depends
    * only on the batch, never on the manifest the commit will see:
    * the commit still validates the table's key/version meta against
    * the current manifest per attempt, and a lost CAS race re-merges
    * and retries WITHOUT re-writing (the dir contents are valid at
    * any base version). The dir is invisible to readers until a
    * manifest references it. On commit failure mergeTxGroup deletes
    * it; a caller that stages but never commits leaks the dir until
    * vacuum — the same hazard window as a crash between a commit
    * attempt's write and its claim. Callers MUST pass every staged
    * handle to exactly one mergeTxGroup call, and MUST stage only
    * after their replay/watermark guard (a skipped batch must run
    * zero jobs). */
  def stageTableBatch(spark: SparkSession, groupRoot: String, table: String,
                      b: TableBatch, writer: String): StagedBatch =
    stageAt(spark, groupRoot, table, b, writer,
      TxLog.current(spark, groupRoot).map(_.version + 1).getOrElse(0L),
      graft.Par.start[Unit])

  /** [[stageTableBatch]] with the dir named for log version `next` — a
    * caller holding a pinned manifest names its dirs without listing
    * the log again — and the write run by `run`: [[graft.Par.start]]
    * overlaps it with the caller, [[inline]] runs it now. Either way a
    * write failure surfaces at the handle's join. */
  private[graft] def stageAt(spark: SparkSession, groupRoot: String, table: String,
                             b: TableBatch, writer: String, next: Long,
                             run: (() => Unit) => (() => Unit)): StagedBatch = {
    require(!groupRoot.contains(","), s"groupRoot may not contain ',': $groupRoot")
    validGroupTableName(table)
    val dir = s"$groupRoot/$table/d$next-$writer-${nonce()}"
    val chg = compactedWithTomb(b)
    // the recorded schema spares the dir's first reader (next round's
    // merge-on-read) its inference job
    val overlap =
      if (b.versionCols.isEmpty && !b.newKeys) Map(s"$MetaOverlap.$table" -> "1") else Map()
    StagedBatch(table, dir, groupMetaOf(table, b.keyCols, b.versionCols) ++ overlap,
      run(() => graft.SchemaCache.writeNew(chg, dir)))
  }

  /** Run `f` now on the caller's thread; its failure is deferred to the
    * returned join. */
  private[graft] def inline(f: () => Unit): () => Unit = {
    val r = scala.util.Try(f())
    () => r.get
  }

  /** A commit refused by the watermark fence of [[mergeTxGroup]]: the
    * claimed base already carries this writer's batch or a later one. */
  final class StaleWatermark(msg: String) extends IllegalStateException(msg)

  // per-writer batch watermarks in the manifest meta (MV rounds,
  // schema history, incremental snapshot) — fenced monotone
  private val WmPrefix = "wm."

  /** Multi-table ATOMIC commit, MERGE-ON-READ like [[mergeTx]]: each
    * touched table's batch (compacted to one row per key) lands as a
    * NEW delta dir appended to that table's comma-joined dir list, and
    * one manifest flips every table — a reader of any committed
    * version sees a cross-table-consistent snapshot (orders and
    * customers from the same source batch appear together or not at
    * all; single-table logs cannot promise this). Commit I/O is
    * proportional to the batch, never to any table. Tables absent
    * from `batches` carry their dir lists forward. Same optimistic
    * protocol, torn-claim reclaim, and tombstone semantics as
    * [[mergeTx]], with one refinement (r18): the delta writes are
    * HOISTED out of the claim loop — the written data depends only on
    * the batch, never on the manifest, so a lost CAS race re-merges
    * the manifest and retries WITHOUT re-writing (per-attempt work is
    * driver-side only), and every written dir is deleted iff the
    * whole commit fails. `staged` accepts writes the caller started
    * earlier via [[stageTableBatch]] (overlapping its own pre-commit
    * waves); their tables must be disjoint from `batches`.
    *
    * `wm.*` keys in `extraMeta` are FENCED inside the claim: an
    * attempt whose base already holds an equal or higher value for the
    * key fails with [[StaleWatermark]] (dirs deleted, nothing
    * committed), so a zombie round and its restart cannot both commit
    * one batch and a late retry cannot lower the watermark.
    * [[compactTxGroup]] folds a table's list back to one dir;
    * [[vacuumTxGroup]] reference-counts shared dirs.
    *
    * A table named in `replace` becomes its batch alone (its dir
    * replaces the list instead of extending it, one row per key) — a
    * rebuild. `onClaim`
    * runs in every claim attempt with the base that attempt claims:
    * the meta it returns rides in the manifest (a counter added to
    * the base the commit LANDS on, not the one its caller read, so a
    * lost race drops no other writer's count), and a throw aborts
    * the commit, every written dir deleted (how an index verb refuses
    * a base that moved since it read its input, before re-running).
    */
  def mergeTxGroup(spark: SparkSession, groupRoot: String,
                   batches: Map[String, TableBatch], writer: String,
                   maxAttempts: Int = 5,
                   recoverTornAfterMs: Long = 60000L,
                   extraMeta: Map[String, String] = Map.empty,
                   staged: Seq[StagedBatch] = Nil,
                   replace: Set[String] = Set.empty,
                   onClaim: Option[TxLog.Manifest] => Map[String, String] = _ => Map.empty): Long = {
    require(batches.nonEmpty || staged.nonEmpty, "mergeTxGroup: no batches")
    // ',' joins dir LISTS in manifest values — keep it out of every
    // path component we control
    require(!groupRoot.contains(","), s"groupRoot may not contain ',': $groupRoot")
    batches.keys.foreach(validGroupTableName)
    val allNames = batches.keys.toSeq ++ staged.map(_.table)
    require(allNames.distinct.size == allNames.size,
      s"mergeTxGroup: duplicate table across batches/staged: $allNames")
    // only named when this call writes dirs itself: an all-staged
    // commit lists the log once, for the claim
    lazy val next0 = TxLog.current(spark, groupRoot).map(_.version + 1).getOrElse(0L)
    // the per-table delta writes land in DISTINCT dirs and share no
    // state — independent jobs, overlapped from driver threads
    // (guide §2.6) so one multi-table commit pays one write's fixed
    // job overhead, not one per table
    val run: (() => Unit) => (() => Unit) =
      if (batches.size < 2) inline else graft.Par.start[Unit]
    val all = scala.collection.mutable.ArrayBuffer[StagedBatch](staged: _*)
    try {
      batches.foreach { case (t, b) =>
        all += stageAt(spark, groupRoot, t, b, writer, next0, run) }
      // a write failure surfaces here, before any claim
      all.foreach(_.join())
      TxLog.commitWith(spark, groupRoot, writer, maxAttempts, recoverTornAfterMs) { base =>
        val prevTables = base.map(_.tables).getOrElse(Map.empty)
        val prevMeta = base.map(_.meta).getOrElse(Map.empty)
        all.foreach { s =>
          s.meta.foreach { case (k, v) => prevMeta.get(k).foreach(pv => require(pv == v,
            s"mergeTxGroup: ${s.table} key/version columns differ from the table's ($pv)")) }
        }
        extraMeta.foreach { case (k, v) =>
          if (k.startsWith(WmPrefix))
            prevMeta.get(k).filter(pv => v.toLong <= pv.toLong).foreach(pv =>
              throw new StaleWatermark(
                s"mergeTxGroup: $k=$v is not above the committed $pv on $groupRoot"))
        }
        // caller meta (e.g. per-writer batch watermarks) rides in the
        // same manifest flip — readable driver-side with zero jobs;
        // table key/version meta wins on any key collision
        val claimMeta = onClaim(base)
        TxLog.Prepared(
          tables = prevTables ++ all.map { s =>
            s.table -> (if (replace(s.table)) s.dir
              else (prevTables.get(s.table).toSeq.filter(_.nonEmpty) :+ s.dir).mkString(","))
          },
          meta = (prevMeta ++ extraMeta ++ claimMeta ++ all.flatMap(_.meta)) --
            replace.map(t => s"$MetaOverlap.$t"),
          written = Nil)
      }
    } catch { case e: Throwable => discard(spark, groupRoot, all.toSeq); throw e }
  }

  /** Delete staged dirs that will never commit, after every write
    * has finished (a still-running write would recreate its dir). */
  private[graft] def discard(spark: SparkSession, groupRoot: String,
                             staged: Seq[StagedBatch]): Unit = {
    staged.foreach(s => scala.util.Try(s.join()))
    val fs = fsOf(spark, groupRoot)
    staged.foreach(s =>
      try fs.delete(new org.apache.hadoop.fs.Path(s.dir), true)
      catch { case _: java.io.IOException => () })
  }

  /** Fold one group table's base + deltas into a single fresh dir
    * (same key-range-sorted bin-packing as [[compactTx]]); other
    * tables carry forward untouched.
    *
    * @param minDeltas skip (returning the current version, no commit)
    *   unless the table has at least this many deltas (and always
    *   unless it has one) */
  def compactTxGroup(spark: SparkSession, groupRoot: String, table: String,
                     writer: String, minDeltas: Int = 0,
                     targetRowsPerFile: Long = 4L << 20,
                     maxAttempts: Int = 5, recoverTornAfterMs: Long = 60000L): Long =
    compactGroup(spark, groupRoot, Seq(table), writer, minDeltas, targetRowsPerFile,
      maxAttempts, recoverTornAfterMs)()

  /** [[compactTxGroup]] over several tables in ONE commit: once any of
    * them has enough deltas, every one is folded, `keep(m, table,
    * rows)` choosing which of a table's merged rows the fold writes.
    * A commit-ordered table (no version columns) also drops its
    * tombstones: whatever commits after the fold is newer than it. */
  private[graft] def compactGroup(spark: SparkSession, groupRoot: String, tables: Seq[String],
                                  writer: String, minDeltas: Int = 0,
                                  targetRowsPerFile: Long = 4L << 20, maxAttempts: Int = 5,
                                  recoverTornAfterMs: Long = 60000L)(
      keep: (TxLog.Manifest, String, DataFrame) => DataFrame = (_, _, rows) => rows): Long =
    compactWith(spark, groupRoot, writer, "compactTxGroup", targetRowsPerFile, maxAttempts,
        recoverTornAfterMs) { m =>
      val dirs = tables.map(t => m.tables.getOrElse(t, throw new IllegalArgumentException(
        s"compactTxGroup: no table '$t' under $groupRoot")).split(",").toSeq)
      if (dirs.forall(_.size - 1 < math.max(minDeltas, 1))) None
      else Some(tables.zip(dirs).map { case (t, ds) =>
        val meta = groupTableMeta(m, t)
        val rows = mergeDirs(spark, ds, meta)
        Fold(keep(m, t, if (versOf(meta).isEmpty) rows.where(!col(Tombstone)) else rows),
          byKey(storedKeys(meta)), s"$groupRoot/$t")
      } -> (ds => TxLog.Prepared(tables = m.tables ++ tables.zip(ds),
        meta = m.meta -- tables.map(t => s"$MetaOverlap.$t"))))
    }

  /** Live contents of one table of a group-committed snapshot —
    * merge-on-read over the table's dir list. */
  def readTxGroup(spark: SparkSession, groupRoot: String, table: String,
                  schemaOf: => DataFrame): DataFrame =
    readGroupAt(spark, TxLog.current(spark, groupRoot), table, schemaOf)

  /** Live rows of one group table as of manifest `m`, narrowed to the
    * `project` columns when given; `schemaOf`'s empty frame when `m`
    * is absent or lacks the table. */
  private[graft] def readGroupAt(spark: SparkSession, m: Option[TxLog.Manifest],
                                 table: String, schemaOf: => DataFrame,
                                 project: Option[Seq[String]] = None): DataFrame =
    m.flatMap(mf => mf.tables.get(table).map(list => dropTombstones(
      mergeDirs(spark, list.split(",").toSeq.filter(_.nonEmpty), groupTableMeta(mf, table),
        project.map(_ :+ Tombstone)))))
      .getOrElse(schemaOf.limit(0))

  /** Every stored row of one group table as of manifest `m`, unmerged:
    * one [[LayeredScan]], whose plan is the same at any layer count,
    * with the stored tombstone as boolean `deletedCol` (a layer written
    * without one reads as live). None when `m` lacks the table. */
  private[graft] def layersAt(spark: SparkSession, m: Option[TxLog.Manifest], table: String,
                              deletedCol: String): Option[DataFrame] =
    m.flatMap(_.tables.get(table)).map { list =>
      val dirs = list.split(",").toSeq.filter(_.nonEmpty)
      val scan = LayeredScan.scan(spark, dirs).getOrElse(LayeredScan.empty(spark, dirs))
      scan.select(scan.columns.filterNot(_ == Tombstone).map(col).toIndexedSeq :+
        (if (scan.columns.contains(Tombstone)) coalesce(col(Tombstone), lit(false))
         else lit(false)).as(deletedCol): _*)
    }

  /** Live rows of one group table as of manifest `m` for the keys
    * `restrict` keeps: it filters the raw layers ([[layersAt]]) BEFORE
    * the latest-per-key fold, so the fold's shuffle carries only those
    * keys. `restrict` must keep or drop all of a key's rows together
    * (filter on key columns or a prefix of them). `schemaOf`'s empty
    * frame when `m` lacks the table. */
  private[graft] def readKeysAt(spark: SparkSession, m: Option[TxLog.Manifest], table: String,
                                schemaOf: => DataFrame,
                                restrict: DataFrame => DataFrame): DataFrame =
    m.flatMap(mf => layersAt(spark, m, table, Tombstone).map { layers =>
      val meta = groupTableMeta(mf, table)
      PkTable.latestPerKey(restrict(layers), storedKeys(meta),
        versOf(meta).map(col) :+ col(CommitSeq))
        .where(!col(Tombstone)).drop(Tombstone, CommitSeq)
    }).getOrElse(schemaOf.limit(0))

  // one group table's key/version meta in the single-table shape
  // mergeDirs reads
  private def groupTableMeta(m: TxLog.Manifest, table: String): Map[String, String] =
    Map(MetaKeys -> m.meta.getOrElse(s"$MetaKeys.$table", ""),
      MetaVers -> m.meta.getOrElse(s"$MetaVers.$table", "")) ++
      m.meta.get(s"$MetaOverlap.$table").map(MetaOverlap -> _)

  /** Group retention: drop manifests older than the `keepVersions`
    * most recent, then delete only data dirs NO KEPT manifest still
    * references — untouched tables carry dirs forward across
    * versions, so reference-counting (not age) decides data deletion.
    */
  def vacuumTxGroup(spark: SparkSession, groupRoot: String,
                    keepVersions: Int = 2): Seq[Long] =
    vacuumWith(spark, groupRoot, keepVersions, "vacuumTxGroup", _ => ())

  /** The reference-counting retention behind [[vacuumTx]] and
    * [[vacuumTxGroup]]: every manifest is read and passed to `refuse`
    * before any delete; then each victim's manifest is deleted, and
    * after it the dirs (`dataDir +: deltas` plus every table's dir
    * list) that no kept manifest references. Returns the versions
    * removed. */
  private def vacuumWith(spark: SparkSession, root: String, keepVersions: Int, op: String,
                         refuse: TxLog.Manifest => Unit): Seq[Long] = {
    require(keepVersions >= 1, "must keep at least the current version")
    val fs = fsOf(spark, root)
    def dirsOf(m: TxLog.Manifest): Seq[String] =
      ((m.dataDir +: m.deltas) ++ m.tables.values.flatMap(_.split(","))).filter(_.nonEmpty)
    val all = TxLog.versions(spark, root).map(v => v -> TxLog.at(spark, root, v))
    all.flatMap(_._2).foreach(refuse)
    val (victims, kept) = all.splitAt(all.size - keepVersions)
    // a destructive op must be FAIL-SAFE on read errors: a kept
    // manifest that can't be re-read would silently drop its dirs
    // from the reference count and let the loop delete live data
    val keptDirs = kept.flatMap { case (v, m) => dirsOf(m.getOrElse(
      throw new IllegalStateException(s"$op: kept manifest $v under $root is unreadable — aborting")))
    }.toSet
    victims.foreach { case (v, m) =>
      // manifest FIRST, and only touch data once the manifest is
      // confirmed gone: a crash or failed delete must leave an
      // orphaned (harmless) data dir, never a live manifest pointing
      // at deleted data
      if (TxLog.delete(spark, root, v))
        m.foreach(dirsOf(_).filterNot(keptDirs)
          .foreach(d => fs.delete(new org.apache.hadoop.fs.Path(d), true)))
    }
    victims.map(_._1)
  }

  private def dropTombstones(df: DataFrame): DataFrame =
    if (df.columns.contains(Tombstone))
      df.where(!col(Tombstone)).drop(Tombstone)
    else df

  // group/index manifests have no top-level dataDir; the single-table
  // APIs would otherwise fail deep inside a parquet read (or, for
  // vacuum, AFTER deleting manifests) with an empty-path error
  private def requireSingleTable(m: TxLog.Manifest, root: String): TxLog.Manifest = {
    require(m.dataDir.nonEmpty && m.tables.isEmpty,
      s"$root holds a multi-table/index log (version ${m.version}) — " +
        "use the Group/IvfIndex APIs")
    m
  }

  private def committed(spark: SparkSession, root: String): TxLog.Manifest =
    TxLog.current(spark, root).map(requireSingleTable(_, root))
      .getOrElse(throw new IllegalStateException(s"no committed version under $root"))

  /** Current LIVE contents of a [[TxLog]]-backed table — the
    * merge-on-read view (latest-per-key over base ∪ deltas), stored
    * tombstones filtered out (empty frame with `schemaOf`'s schema if
    * no version is committed yet). */
  def readTx(spark: SparkSession, root: String, schemaOf: => DataFrame): DataFrame =
    TxLog.current(spark, root) match {
      case Some(m) => dropTombstones(mergedTx(spark, requireSingleTable(m, root)))
      case None    => schemaOf.limit(0)
    }

  /** The table's key/version column lists as recorded in the CURRENT
    * manifest — what makes [[deleteWhereTx]]/[[updateWhereTx]]
    * self-describing. */
  private def keyMetaOf(spark: SparkSession, root: String): (Seq[String], Seq[String]) = {
    val m = TxLog.current(spark, root).getOrElse(throw new IllegalStateException(
      s"no committed version under $root"))
    val keys = m.meta.get(MetaKeys).filter(_.nonEmpty).map(_.split(",").toSeq)
      .getOrElse(throw new IllegalStateException(s"no key meta under $root"))
    val vers = m.meta.get(MetaVers).filter(_.nonEmpty).map(_.split(",").toSeq)
      .getOrElse(throw new IllegalStateException(s"no version meta under $root"))
    (keys, vers)
  }

  /** The rows matching `predicate`, with their FIRST version column
    * bumped by one so the emitted batch supersedes the rows it read.
    * Refuses non-numeric version columns loudly. */
  /** Matched rows of the current snapshot, UNBUMPED — callers apply
    * their rewrite against the old row and then [[bumpVersion]]. */
  private def matchedRows(spark: SparkSession, root: String,
                          predicate: org.apache.spark.sql.Column): DataFrame = {
    val matched = readTx(spark, root, spark.emptyDataFrame).where(predicate)
    val v0 = keyMetaOf(spark, root)._2.head
    require(matched.schema(v0).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"deleteWhereTx/updateWhereTx need a numeric first version column; " +
        s"'$v0' is ${matched.schema(v0).dataType.simpleString}")
    matched
  }

  private def bumpVersion(df: DataFrame, v0: String): DataFrame =
    df.withColumn(v0, col(v0) + lit(1))

  /** `DELETE FROM <root> WHERE predicate` (the StarRocks PK-table
    * DELETE verb): matched rows re-commit as version-bumped
    * tombstones — ONE delta commit whose write cost is ∝ matched
    * rows (the scan to find them prunes like any filtered read), the
    * standard merge-on-read delete shape. Returns the matched count
    * (0 ⇒ no commit). Concurrency contract is the table's usual
    * optimistic version-wins merge: a writer updating a matched key
    * with a higher version AFTER our snapshot read wins over the
    * tombstone — DELETE is a CDC participant, not a lock. */
  def deleteWhereTx(spark: SparkSession, root: String,
                    predicate: org.apache.spark.sql.Column,
                    writer: String, maxAttempts: Int = 5): Long = {
    val (keys, vers) = keyMetaOf(spark, root)
    val batch = bumpVersion(matchedRows(spark, root, predicate), vers.head)
      .withColumn("__graft_delw", lit(true))
      .localCheckpoint(true) // pin the snapshot: count + commit see one read
    val n = batch.count()
    if (n > 0)
      mergeTx(spark, root, batch, keys, vers, "__graft_delw", writer,
        maxAttempts = maxAttempts)
    n
  }

  /** `UPDATE <root> SET col = expr, ... WHERE predicate` (the
    * StarRocks PK-table UPDATE verb): matched rows re-commit with the
    * SET columns applied and the version bumped — one delta commit,
    * write ∝ matched rows. Key and version columns refuse assignment
    * (an UPDATE that moves a key is a delete + insert — say so).
    * Same optimistic concurrency contract as [[deleteWhereTx]]. */
  def updateWhereTx(spark: SparkSession, root: String,
                    predicate: org.apache.spark.sql.Column,
                    set: Map[String, org.apache.spark.sql.Column],
                    writer: String, maxAttempts: Int = 5): Long = {
    require(set.nonEmpty, "updateWhereTx: empty SET")
    val (keys, vers) = keyMetaOf(spark, root)
    set.keys.foreach { c =>
      require(!keys.contains(c) && !vers.contains(c),
        s"updateWhereTx may not assign key/version column '$c' " +
          "(a key move is a delete + insert)")
    }
    val matched = matchedRows(spark, root, predicate)
    set.keys.foreach(c => require(matched.columns.contains(c),
      s"updateWhereTx: unknown column '$c'"))
    // SQL UPDATE semantics: every SET right-hand side reads the OLD
    // row — all assignments applied in ONE select over the pre-update
    // snapshot (a sequential withColumn fold would let one SET read
    // another's already-updated value, with Map-iteration-order
    // nondeterminism), and the version bump lands only afterwards so
    // an RHS referencing the version column sees the pre-bump value.
    val updated = bumpVersion(
      matched.select(matched.columns.map(c => set.getOrElse(c, col(c)).as(c)): _*),
      vers.head)
      .withColumn("__graft_delw", lit(false))
      .localCheckpoint(true)
    val n = updated.count()
    if (n > 0)
      mergeTx(spark, root, updated, keys, vers, "__graft_delw", writer,
        maxAttempts = maxAttempts)
    n
  }

  /** PROJECTED merge-on-read: the same rows as
    * `readTx(...).select(columns)` but with the narrow schema pushed
    * BELOW the latest-per-key merge, so the parquet scans read only
    * (keys ∪ versions ∪ requested) columns. The plain form reads every
    * column regardless of the projection above it — the whole-row
    * `max_by(struct(*))` blocks Catalyst's column pruning — which on a
    * wide 100 TB table turns a 2-column report into a full-table byte
    * scan. Sound because the winning row per key is chosen by
    * key + version alone: restricting the payload cannot change which
    * row wins, only which columns ride along. */
  def readTxCols(spark: SparkSession, root: String,
                 columns: Seq[String]): DataFrame = {
    require(columns.nonEmpty, "readTxCols: no columns requested")
    val m = committed(spark, root)
    val keys = m.meta.get(MetaKeys).filter(_.nonEmpty).map(_.split(",").toSeq)
      .getOrElse(Nil)
    val vers = m.meta.get(MetaVers).filter(_.nonEmpty).map(_.split(",").toSeq)
      .getOrElse(Nil)
    val want = (keys ++ vers ++ columns :+ Tombstone).distinct
    dropTombstones(mergeDirs(spark, m.dataDir +: m.deltas, m.meta, Some(want)))
      .select(columns.map(col): _*)
  }

  /** Point/range lookup on a [[TxLog]]-backed table, FOOTER PRUNED:
    * resolves the key range [lo,hi] (inclusive, on the table's FIRST
    * key column) against each dir's parquet footers ([[Footers]]:
    * min/max, dictionary, and for a point the bloom) and scans ONLY
    * the files that can match — after [[compactTx]]'s key-range-sorted
    * bin-packing that is typically one file per dir. The probe opens
    * each file's footer on the driver, with zero jobs.
    *
    * Correctness under merge-on-read: every stored version of a key k
    * lives in files whose [min,max] contains k, so pruning can never
    * hide a newer version from the latest-per-key merge; keys outside
    * [lo,hi] that ride along in kept files are filtered after the
    * merge. Returns the same rows as
    * `readTx(...).where(key between lo and hi)`.
    */
  def readTxRange(spark: SparkSession, root: String, schemaOf: => DataFrame,
                  lo: Long, hi: Long): DataFrame =
    TxLog.current(spark, root) match {
      case None => schemaOf.limit(0)
      case Some(m0) =>
        val m = requireSingleTable(m0, root)
        requireNoPartial(m.meta, "readTxRange")
        readPrunedDirs(spark, m.dataDir +: m.deltas, storedKeys(m.meta),
          m.meta(MetaVers).split(",").toSeq, lo, hi)
    }

  /** [[readTxRange]] for one table of a multi-table group commit. */
  def readTxGroupRange(spark: SparkSession, groupRoot: String, table: String,
                       schemaOf: => DataFrame, lo: Long, hi: Long): DataFrame =
    TxLog.current(spark, groupRoot).flatMap { m =>
      m.tables.get(table).map { list =>
        val keys = m.meta.getOrElse(s"$MetaKeys.$table",
          throw new IllegalStateException(
            s"readTxGroupRange: no stored key columns for '$table'")).split(",").toSeq
        readPrunedDirs(spark, list.split(",").toSeq.filter(_.nonEmpty), keys,
          m.meta(s"$MetaVers.$table").split(",").toSeq, lo, hi)
      }
    }.getOrElse(schemaOf.limit(0))

  // footer-pruned latest-per-key merge over an ordered dir list;
  // bounds are Any (long/string/double/date key domains) — the probe
  // reads them as the column's type, the row filter as a typed lit
  private def readPrunedDirs(spark: SparkSession, dirs: Seq[String],
                             keys: Seq[String], vers: Seq[String],
                             lo: Any, hi: Any): DataFrame = {
    val keyCol = keys.head
    dropTombstones(LayeredScan.scan(spark, dirs, Footers.mayHold(spark, keyCol, lo, hi)) match {
      case None => LayeredScan.empty(spark, dirs).drop(CommitSeq)
      case Some(layered) => latest(layered.where(col(keyCol).between(lo, hi)), dirs.size, keys, vers)
    })
  }

  /** Footer pruning decision for [lo,hi] on a table's first key
    * column, without reading data: (files that would be scanned, total
    * data files across the current version's dirs). For plan asserts
    * and ops introspection. */
  def pruneStats(spark: SparkSession, root: String,
                 lo: Long, hi: Long): (Seq[String], Int) = {
    val m = committed(spark, root)
    pruneStatsOn(spark, root, m.meta(MetaKeys).split(",").head, lo, hi)
  }

  /** [[pruneStats]] on any column (a [[compactTxZOrder]] clustering
    * column, typically). */
  def pruneStatsOn(spark: SparkSession, root: String, column: String,
                   lo: Long, hi: Long): (Seq[String], Int) = {
    val m = committed(spark, root)
    val dirs = m.dataDir +: m.deltas
    val total = dirs.map(Footers.dataFiles(spark, _).size).sum
    (dirs.flatMap(Footers.pruneDir(spark, _, column, lo, hi)), total)
  }

  /** Pruning decision of the TWO-PASS point lookup ([[readTxPointOn]]
    * with deltas outstanding) on `colName = value`: (pass-1
    * bloom-matched files, pass-2 key-resolution files, total data
    * files across the current version's dirs). Runs pass 1's scalar
    * candidate-bounds job; reads no other row data. For plan asserts
    * and ops introspection. */
  def pointPruneStatsOn(spark: SparkSession, root: String, colName: String,
                        value: String): (Seq[String], Seq[String], Int) = {
    val m = committed(spark, root)
    val dirs = m.dataDir +: m.deltas
    val total = dirs.map(Footers.dataFiles(spark, _).size).sum
    val pass1 = dirs.flatMap(Footers.pruneDir(spark, _, colName, value, value))
    val keyCol = m.meta(MetaKeys).split(",").head
    val pass2 = candidateKeyBounds(spark, dirs, keyCol,
      col(colName).cast("string") === value, Footers.mayHold(spark, colName, value, value)) match {
      case None => Nil
      case Some((lo, hi)) => dirs.flatMap(Footers.pruneDir(spark, _, keyCol, lo, hi))
    }
    (pass1, pass2, total)
  }

  /** Range read pruned on ANY column by the footers' min/max — the
    * read side of [[compactTxZOrder]] (the clustering columns are
    * exactly the non-key columns worth range-scanning). Pruning on a
    * non-key column in ONE pass is only sound when no delta can
    * supersede a pruned base row, so: a fully-compacted table (single
    * dir) scans just the matching files; a table with DELTAS
    * OUTSTANDING runs the same two-pass scheme as [[readTxPointOn]] —
    * footer-pruned candidate discovery over every layer, then the
    * key-pruned latest-per-key merge over the candidates' key range,
    * re-filtered exactly. Key-column ranges should use
    * [[readTxRange]], which prunes correctly through deltas in one
    * pass.
    */
  def readTxRangeOn(spark: SparkSession, root: String, schemaOf: => DataFrame,
                    column: String, lo: Long, hi: Long): DataFrame =
    prunedRead(spark, root, schemaOf, "readTxRangeOn", col(column).between(lo, hi),
      Footers.mayHold(spark, column, lo, hi))

  /** Live contents as of a specific committed version (time travel). */
  def readTxAt(spark: SparkSession, root: String, version: Long): DataFrame =
    TxLog.at(spark, root, version) match {
      case Some(m) => dropTombstones(mergedTx(spark, requireSingleTable(m, root)))
      case None => throw new IllegalArgumentException(
        s"no committed version $version under $root")
    }

  /** Retention for [[TxLog]]-backed tables: drop manifests older than
    * the `keepVersions` most recent commits, then delete only data/
    * delta dirs NO KEPT manifest still references. Merge-on-read
    * shares the base (and earlier deltas) across versions — a delta
    * commit carries them forward — so deletion must reference-count,
    * never age out a dir by the version that first wrote it. Returns
    * the versions removed. */
  def vacuumTx(spark: SparkSession, root: String, keepVersions: Int = 2): Seq[Long] =
    // a group/index root needs the group vacuum's table-dir handling:
    // refused before any destructive step
    vacuumWith(spark, root, keepVersions, "vacuumTx", requireSingleTable(_, root))
}
