package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, countDistinct, when}

/** Table-health DIAGNOSTIC — the code counterpart of
  * docs/TROUBLESHOOTING.md: one call reports everything the freshness
  * protocols know about a TxLog-backed table root, so an operator
  * reads WHY a query took the slow path instead of rediscovering each
  * sidecar's staleness rule by hand.
  *
  * Every check mirrors the serving rule exactly (same version-stamp
  * comparisons [[TableStats]]/[[GlobalDict]] apply, same chain walk
  * [[InvertedIndex.isCurrent]] does), so the report can never disagree
  * with what readers will actually do. Pure read-only: no repair is
  * attempted — each finding names the call that would fix it.
  */
object Doctor {

  /** One finding: what was checked, its state, and — when degraded —
    * the remedy call. */
  final case class Finding(check: String, ok: Boolean, detail: String,
                           remedy: String = "")

  final case class Report(root: String, version: Long, findings: Seq[Finding]) {
    def degraded: Seq[Finding] = findings.filterNot(_.ok)
    def healthy: Boolean = degraded.isEmpty
    def render: String = {
      val head = s"table $root @ v$version"
      val body = findings.map { f =>
        val mark = if (f.ok) "ok  " else "WARN"
        val remedy = if (f.remedy.nonEmpty) s" -> ${f.remedy}" else ""
        s"  [$mark] ${f.check}: ${f.detail}$remedy"
      }
      (head +: body).mkString("\n")
    }
  }

  private def fsOf(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def idxDirs(m: TxLog.Manifest, key: String): Seq[String] =
    m.tables.get(key).toSeq.flatMap(_.split(",")).filter(_.nonEmpty)

  /** Examine `root` — a PK lake table OR one of the three persisted
    * index roots (IVF / LSH / graph-ANN), dispatched on the
    * manifest's tables vocabulary. Index findings read the index's
    * group tables the way a search does (`count()` = live rows of the
    * merged layers) plus the drift counters the index verbs maintain,
    * so the report cannot disagree with what a search actually pays.
    * Throws only when the root has no committed version at all
    * (nothing to diagnose). */
  def examine(spark: SparkSession, root: String): Report = {
    val m = TxLog.current(spark, root).getOrElse(throw new IllegalStateException(
      s"Doctor.examine: no committed version under $root"))
    val t = m.tables
    if (t.contains("centroids") && t.contains("vectors"))
      return examineVectors(spark, root, m, "IvfIndex", graft.ops.IvfIndex.count(spark, root),
        graft.ops.IvfIndex.AddsKey, "centroid staleness",
        "vector(s) added since the centroids were trained",
        "IvfIndex.retrain re-trains on the live set (then compact)")
    if (t.contains("graph") && t.contains("vectors"))
      return examineVectors(spark, root, m, "GraphIndex", graft.ops.GraphIndex.count(spark, root),
        graft.ops.GraphIndex.AddsKey, "graph drift",
        "node(s) inserted incrementally since the last full build",
        "GraphIndex.rebuild re-derives the NN-descent graph")
    if (t.contains("sigs") && t.contains("bands"))
      return examineLsh(spark, root, m)
    if (t.nonEmpty)
      return examineGroup(spark, root, m)
    val fs = fsOf(spark, root)
    val names = fs.listStatus(new Path(root)).map(_.getPath.getName).toSeq
    val findings = Seq.newBuilder[Finding]

    // merge-on-read depth: how many delta dirs every read must merge
    val nDeltas = m.deltas.size
    findings += Finding("delta chain", nDeltas <= 8,
      s"$nDeltas outstanding delta dir(s) behind the base",
      if (nDeltas > 8) "PkTableSink.compactTx folds them into one sorted base" else "")

    // partial-column deltas gate whole-row readers entirely
    val partial = m.meta.keys.count(_.startsWith("pcols."))
    findings += Finding("partial-column deltas", partial == 0,
      if (partial == 0) "none outstanding"
      else s"$partial partial delta(s): whole-row reads refuse this table",
      if (partial > 0) "PkTableSink.compactTxPartial folds back to full rows" else "")

    // ANALYZE stats: stale stats silently withdraw the measured
    // broadcast path
    findings += (TableStats.statsTx(spark, root) match {
      case Some(st) => Finding("table stats", ok = true,
        s"fresh at v${m.version} (${st.rows} rows, ${st.bytes} bytes)")
      case None =>
        val any = names.exists(_.startsWith("_stats.v"))
        Finding("table stats", ok = false,
          if (any) "present but STALE (a commit landed since ANALYZE)"
          else "never analyzed — dimension broadcasts rely on planner guesses",
          if (any) "TableStats.refreshTx extends them from the change feed (∝ delta)"
          else "TableStats.analyzeTx measures at the current version")
    })

    // global dictionaries: per encoded column, serving or withdrawn
    val dictCols = names.collect {
      case n if n.startsWith("_dict.") =>
        n.stripPrefix("_dict.").takeWhile(_ != '.')
    }.distinct
    dictCols.foreach { c =>
      findings += (GlobalDict.dictTx(spark, root, c) match {
        case Some(_) => Finding(s"dict '$c'", ok = true, s"fresh at v${m.version}")
        case None => Finding(s"dict '$c'", ok = false,
          "stale — encoded reads fall back to raw strings",
          s"GlobalDict.refreshTx(root, \"$c\") appends new codes from " +
            "the change feed (buildTx for a sorted full rebuild)")
      })
    }

    // inverted index: live chain must reach the current version
    if (names.exists(_.startsWith("_invidx."))) {
      val current = InvertedIndex.isCurrent(spark, root)
      findings += Finding("inverted index", current,
        if (current) "chain reaches the current version"
        else "chain broken — MATCH queries run the exact full-scan fallback",
        if (!current) "InvertedIndex.updateTx extends the chain from the change feed" else "")
    }

    // sidecar garbage: stale stamped generations are dead weight
    val staleStats = names.count(n => n.startsWith("_stats.v") &&
      n != s"_stats.v${m.version}")
    val staleDicts = names.count(n => n.startsWith("_dict.") &&
      !n.endsWith(s".v${m.version}"))
    val garbage = staleStats + staleDicts
    findings += Finding("sidecar garbage", garbage == 0,
      s"$garbage stale stamped sidecar generation(s)",
      if (garbage > 0) "SidecarGc.vacuum removes unreachable generations" else "")

    Report(root, m.version, findings.result())
  }

  /** IVF or graph-ANN index root, checked over its `vectors` table:
    * merge-on-read chain depth (every search merges its layers),
    * tombstone mass vs live rows (dead rows are read and merged away
    * on every search until a compact drops them), and the DRIFT the
    * index's adds counter measures — IVF's `adds_since_retrain`
    * (vectors assigned to stale centroids crowd the wrong cells and
    * cell-probe recall decays) or the graph's `adds_since_rebuild`
    * (incremental inserts never revisit old nodes' edge lists, so
    * neighborhood quality decays). Compact carries either counter:
    * folding files neither retrains nor re-derives the graph. `live`
    * is the index's own count. */
  private def examineVectors(spark: SparkSession, root: String, m: TxLog.Manifest,
                             index: String, live: Long, addsKey: String,
                             drift: String, added: String, cure: String): Report = {
    val layers = idxDirs(m, "vectors").size
    val chain = Finding("delta chain", layers <= 8,
      s"$layers layer(s) merged per read",
      if (layers > 8) s"$index.compact folds them into one snapshot" else "")
    // the tombstoned ids of every layer, counted in one job
    val tombRows = PkTableSink.layersAt(spark, Some(m), "vectors", "dead").fold(0L)(
      _.agg(countDistinct(when(col("dead"), col("id")))).head().getLong(0))
    val tombOk = tombRows == 0 || tombRows * 5 <= live
    val tomb = Finding("tombstone mass", tombOk,
      s"$tombRows tombstoned id(s) vs $live live — every read merges them away",
      if (!tombOk) s"$index.compact drops dead rows physically" else "")
    val adds = m.meta.get(addsKey).map(_.toLong).getOrElse(0L)
    val driftOk = adds == 0 || adds * 2 <= live
    Report(root, m.version, Seq(chain, tomb,
      Finding(drift, driftOk, s"$adds $added ($live live)", if (!driftOk) cure else "")))
  }

  /** LSH dedup index root: chain depth only — signatures are exact
    * content functions (no drift), and the index has no delete verb
    * (dedup corpora only grow; quality never decays, only probe cost
    * as the layers accumulate). */
  private def examineLsh(spark: SparkSession, root: String,
                         m: TxLog.Manifest): Report = {
    val nSigs = idxDirs(m, "sigs").size
    val findings = Seq(Finding("delta chain", nSigs <= 8,
      s"$nSigs signature layer(s) merged per probe " +
        s"(${graft.ops.LshIndex.count(spark, root)} signatures live)",
      if (nSigs > 8) "LshIndex.compact folds them into one snapshot" else ""))
    Report(root, m.version, findings)
  }

  /** Generic multi-table GROUP root (mergeTxGroup commits: the
    * sketch-MV roots QskMv/KmvMv maintain, or any TableBatch group):
    * one merge-on-read chain finding PER TABLE — every read of table
    * `t` merges its listed layers, and a per-micro-batch writer grows
    * each list by one dir per commit, so an unmaintained MV degrades
    * linearly in batches until a compact folds it. */
  private def examineGroup(spark: SparkSession, root: String,
                           m: TxLog.Manifest): Report = {
    val findings = m.tables.keys.toSeq.sorted.map { tbl =>
      val n = idxDirs(m, tbl).size
      Finding(s"delta chain '$tbl'", n <= 8,
        s"$n layer(s) merged per read of '$tbl'",
        if (n > 8)
          s"""PkTableSink.compactTxGroup(root, "$tbl") folds them into one snapshot"""
        else "")
    }
    Report(root, m.version, findings)
  }

  /** Apply each degraded INDEX finding's remedy and re-examine —
    * compact for chain/tombstone findings, retrain/rebuild for drift
    * (compaction first: retrain/rebuild read the live set, and
    * folding tombstones first keeps that read minimal). A lake root
    * passed here dispatches to the full [[repair]]. */
  def repairIndex(spark: SparkSession, root: String,
                  writer: String = "doctor"): Report = {
    val before = examine(spark, root)
    def bad(check: String) = before.degraded.exists(_.check == check)
    val t = TxLog.current(spark, root).map(_.tables).getOrElse(Map.empty)
    if (t.contains("centroids") && t.contains("vectors")) {
      if (bad("delta chain") || bad("tombstone mass"))
        graft.ops.IvfIndex.compact(spark, root, writer = writer)
      if (bad("centroid staleness")) {
        val k = PkTableSink.readTxGroup(spark, root, "centroids", spark.emptyDataFrame)
          .count().toInt
        graft.ops.IvfIndex.retrain(spark, root, k = math.max(1, k),
          writer = writer)
      }
    } else if (t.contains("graph") && t.contains("vectors")) {
      if (bad("delta chain") || bad("tombstone mass"))
        graft.ops.GraphIndex.compact(spark, root, writer = writer)
      if (bad("graph drift"))
        graft.ops.GraphIndex.rebuild(spark, root, writer = writer)
    } else if (t.contains("sigs") && t.contains("bands")) {
      if (bad("delta chain"))
        graft.ops.LshIndex.compact(spark, root, writer = writer)
    } else if (t.nonEmpty) {
      // generic group root (sketch MVs et al.): compact each
      // over-chained table — reads after this merge ONE layer per table
      t.keys.toSeq.sorted.foreach { tbl =>
        if (bad(s"delta chain '$tbl'"))
          PkTableSink.compactTxGroup(spark, root, tbl, writer = writer)
      }
    } else return repair(spark, root, writer)
    examine(spark, root)
  }

  /** CLOSED-LOOP maintenance: apply the remedy each degraded finding
    * names, under the same concurrency contracts as doing it by hand
    * (compactions are ordinary optimistic commits; refreshes write
    * new stamped generations readers only see once complete) — so
    * concurrent readers are never disturbed and a re-run on a healthy
    * table is a no-op. Order matters and is fixed here:
    *
    *  1. structural compactions FIRST (partial-column fold, then
    *     delta-chain fold) — they commit new versions, which would
    *     immediately re-stale any freshness work done before them;
    *  2. freshness refreshes (stats, dicts, inverted index), each ∝
    *     the change feed via the refreshTx/updateTx paths;
    *  3. sidecar GC LAST — it removes superseded generations, and
    *     must run after the refreshes that consume them as bases.
    *
    * `invertedIndexCols` carries the (idCol, textCol) the index was
    * built over; without it a broken index chain is left degraded
    * (reported, not guessed). A dict whose refresh overflows
    * `dictMaxCardinality` also stays degraded — the report says so.
    * Returns the post-repair report; callers compare
    * `examine(...)` before / after or just check `.healthy`. */
  def repair(spark: SparkSession, root: String, writer: String,
             invertedIndexCols: Option[(String, String)] = None,
             dictMaxCardinality: Long = 1L << 22): Report = {
    val before = examine(spark, root)
    def bad(check: String) = before.degraded.exists(_.check == check)
    if (bad("partial-column deltas"))
      PkTableSink.compactTxPartial(spark, root, writer)
    if (bad("delta chain"))
      PkTableSink.compactTx(spark, root, writer)
    val compacted = bad("partial-column deltas") || bad("delta chain")
    val names = fsOf(spark, root).listStatus(new Path(root))
      .map(_.getPath.getName).toSeq
    // stats: refresh when stale/absent, or when a compaction above
    // re-staled a previously-fresh sidecar (refreshTx falls back to
    // the full analyze exactly when no generation exists to extend)
    val statsPresent = names.exists(_.startsWith("_stats.v"))
    if (bad("table stats") || (statsPresent && compacted))
      TableStats.refreshTx(spark, root)
    // dicts: every column with any generation on disk
    names.collect {
      case n if n.startsWith("_dict.") =>
        n.stripPrefix("_dict.").takeWhile(_ != '.')
    }.distinct.foreach { c =>
      if (GlobalDict.dictTx(spark, root, c).isEmpty)
        GlobalDict.refreshTx(spark, root, c, dictMaxCardinality)
    }
    if (names.exists(_.startsWith("_invidx.")) &&
        (!InvertedIndex.isCurrent(spark, root) || compacted))
      invertedIndexCols.foreach { case (id, txt) =>
        InvertedIndex.updateTx(spark, root, id, txt)
      }
    SidecarGc.vacuum(spark, root)
    examine(spark, root)
  }

  /** CLI: `sbt "runMain graft.sinks.Doctor <tableRoot> [...]"` —
    * prints one report per root; exits 1 if any is degraded (usable
    * as a health gate in a cron/CI step). */
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Doctor <tableRoot> [...]")
    val spark = graft.GraftSession.get()
    val reports = args.toSeq.map(examine(spark, _))
    reports.foreach(r => println(r.render))
    spark.stop()
    if (reports.exists(!_.healthy)) sys.exit(1)
  }
}
