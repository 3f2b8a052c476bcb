package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sinks.TxLog

/** Persisted TRANSACTIONAL graph-ANN index — the NN-descent K-NN
  * graph + small-world long links of [[Similarity.nndSearchGraph]],
  * stored on the same commit log the PK lake and the IVF/LSH indexes
  * use ([[graft.sinks.TxLog]]):
  *
  * {{{
  *   <root>/_log/<v>.manifest   t.vectors=<d1,…>  t.graph=<d1,…>
  *   <root>/v-<nonce>/          vector deltas  (id, v, n2)
  *   <root>/g-<nonce>/          edge   deltas  (src, dst)
  *   <root>/t<ord>-<nonce>/     id tombstones (kill ordinal in name)
  * }}}
  *
  * Every op commits a manifest and never mutates a committed dir, so
  * concurrent searches are isolated and a crash mid-op leaves the
  * previous version current. The lifecycle mirrors [[IvfIndex]]
  * (build / add / delete / compact / rebuild / search / vacuum); what
  * differs is the INCREMENTAL INSERT, which is the HNSW idea batched:
  * [[add]] finds each new vector's neighbors by beam-searching the
  * CURRENT graph (cost ∝ batch, not corpus), then commits
  * bidirectional edges new↔found plus the batch's own internal K-NN
  * graph — new nodes are immediately reachable (old→new in-edges)
  * and immediately useful as waypoints.
  *
  * Delete is merge-on-read: a tombstoned node stops being scoreable,
  * which also removes it from every frontier (the beam only admits
  * scoreable nodes), so its out-edges go dormant rather than being
  * rewritten — recall degrades gracefully under heavy deletion until
  * [[compact]] folds the tombstones into the files or [[rebuild]]
  * re-derives the graph (the drift cure).
  */
object GraphIndex {

  private val Vectors = "vectors"
  private val Graph = "graph"
  private val Tombstones = "tombstones"

  /** Manifest-meta drift counter: live vectors added INCREMENTALLY
    * since the last full build/rebuild. Incremental inserts never
    * revisit old nodes' edge lists, so graph quality decays as this
    * grows relative to the corpus — [[graft.sinks.Doctor]] reads it
    * (it deliberately SURVIVES [[compact]], which folds files without
    * re-deriving the graph; only [[rebuild]]/[[build]] reset it). */
  val AddsKey = "adds_since_rebuild"

  private def addsOf(m: TxLog.Manifest): Long =
    m.meta.get(AddsKey).map(_.toLong).getOrElse(0L)

  private def nonce() = java.util.UUID.randomUUID().toString.take(8)

  /** Same kill-ordinal convention as [[IvfIndex]]: the Vectors-list
    * LENGTH at delete time, embedded in the dir name, kills ids only
    * in vector dirs committed BEFORE it — a later add resurrects. */
  private def tombOrd(dir: String): Int = {
    val name = dir.substring(dir.lastIndexOf('/') + 1)
    name.stripPrefix("t").takeWhile(_.isDigit).toInt
  }

  private def dirs(m: TxLog.Manifest, key: String): Seq[String] =
    m.tables.get(key).toSeq.flatMap(_.split(",")).filter(_.nonEmpty)

  private def commitWith(spark: SparkSession, root: String, writer: String,
                         maxAttempts: Int, recoverTornAfterMs: Long)(
      work: Option[TxLog.Manifest] =>
        (Map[String, String], Map[String, String], Seq[String])): Long = {
    require(!root.contains(","), s"index root may not contain ',': $root")
    TxLog.commitWith(spark, root, writer, maxAttempts, recoverTornAfterMs) { base =>
      val (tables, meta, written) = work(base)
      TxLog.Prepared(tables = tables, meta = meta, written = written)
    }
  }

  private def prep(df: DataFrame, id: Column, vec: Column): DataFrame =
    df.select(id.as("id"), Similarity.toDouble(vec).as("v"))
      .withColumn("n2", Similarity.normSq(col("v")))

  private def writeVectors(spark: SparkSession, root: String,
                           v: DataFrame): String = {
    val dir = s"$root/v-${nonce()}"
    graft.SchemaCache.writeNew(v.select(col("id"), col("v"), col("n2")), dir)
    dir
  }

  private def writeEdges(spark: SparkSession, root: String,
                         g: DataFrame): String = {
    val dir = s"$root/g-${nonce()}"
    graft.SchemaCache.writeNew(g.select(col("src"), col("dst")).distinct(), dir)
    dir
  }

  /** Live vectors at a manifest: delta union minus tombstones (by
    * kill ordinal vs each row's dir position). */
  private def readVectors(spark: SparkSession, m: TxLog.Manifest): DataFrame = {
    val base = dirs(m, Vectors).zipWithIndex
      .map { case (d, i) => graft.SchemaCache.read(spark, d).withColumn("_ord", lit(i)) }
      .reduce(_ unionByName _)
    val tdirs = dirs(m, Tombstones)
    if (tdirs.isEmpty) base.drop("_ord")
    else {
      val tomb = tdirs
        .map(d => graft.SchemaCache.read(spark, d).withColumn("_tord", lit(tombOrd(d))))
        .reduce(_ unionByName _)
        .groupBy(col("id")).agg(max(col("_tord")).as("_tord"))
      base.join(tomb, Seq("id"), "left")
        .where(col("_tord").isNull || col("_tord") <= col("_ord"))
        .drop("_ord", "_tord")
    }
  }

  private def readEdges(spark: SparkSession, m: TxLog.Manifest): DataFrame =
    dirs(m, Graph).map(graft.SchemaCache.read(spark, _)).reduce(_ unionByName _)

  private def currentOrFail(spark: SparkSession, root: String): TxLog.Manifest =
    TxLog.current(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed graph index under $root"))

  /** Full NN-descent build + commit as the next version. Like
    * [[IvfIndex.build]], a full rebuild REPLACES the index, so a
    * concurrent commit ABORTS the build loudly instead of being
    * silently dropped. Returns the committed version. */
  def build(df: DataFrame, id: Column, vec: Column, root: String,
            writer: String = "build",
            maxAttempts: Int = 5, recoverTornAfterMs: Long = 60000L,
            graphOpt: Option[DataFrame] = None): Long = {
    val spark = df.sparkSession
    val v = prep(df, id, vec)
    // graphOpt: a caller already holding THE nndSearchGraph of df
    // (e.g. an amortized per-corpus build shared with in-memory
    // queries) passes it in to skip the recompute — the build is
    // deterministic, so the committed index is identical either way
    val g = graphOpt.getOrElse(Similarity.nndSearchGraph(df, id, vec))
    val baseAtEntry = TxLog.current(spark, root).map(_.version)
    commitWith(spark, root, writer, maxAttempts, recoverTornAfterMs) { base =>
      if (base.map(_.version) != baseAtEntry)
        throw new IllegalStateException(
          s"GraphIndex.build: concurrent commit landed on $root during the " +
            "rebuild (its data would be silently dropped) — re-run build " +
            "against the new current version")
      val vDir = writeVectors(spark, root, v)
      val gDir = writeEdges(spark, root, g)
      (Map(Vectors -> vDir, Graph -> gDir), Map(AddsKey -> "0"),
        Seq(vDir, gDir))
    }
  }

  /** Incremental insert — the batched HNSW construction step: beam-
    * search the CURRENT graph with the batch as queries, keep each new
    * node's top-[[Similarity.NndGraphK]] indexed neighbors, and commit
    * the batch's vectors plus three edge groups as deltas:
    * new→found (out-edges for onward routing), found→new (in-edges
    * that make the node REACHABLE from the old graph), and the
    * batch's own internal K-NN graph (so a dense new cluster routes
    * within itself). Work ∝ batch·hops·beam·K — independent of the
    * indexed corpus size. Returns the committed version. */
  def add(df: DataFrame, id: Column, vec: Column, root: String,
          writer: String = "add",
          maxAttempts: Int = 5, recoverTornAfterMs: Long = 60000L): Long = {
    val spark = df.sparkSession
    // within-batch dedupe: the live anti-join below can't see a batch
    // that carries the same id twice — without this, both copies
    // would commit and inflate count()/duplicate top-k slots
    val batch = prep(df, id, vec).dropDuplicates("id").localCheckpoint(true)
    val internal =
      if (batch.limit(2).count() < 2)
        spark.range(0).select(col("id").as("src"), col("id").as("dst"))
      else Similarity.nnDescentGraph(batch, col("id"), col("v"))
    commitWith(spark, root, writer, maxAttempts, recoverTornAfterMs) { base =>
      val m = base.getOrElse(throw new IllegalStateException(
        s"GraphIndex.add: no committed index under $root — build first"))
      val live = readVectors(spark, m)
      val q = batch.select(col("id").as("qid"), col("v").as("qv"),
        col("n2").as("qn2"))
      val found = Similarity.nndBeamSearch(live, readEdges(spark, m), q,
          k = Similarity.NndGraphK)
        .select(col("qid").as("src"), col("nid").as("dst"))
        .localCheckpoint(true)
      val edges = found
        .unionByName(found.select(col("dst").as("src"), col("src").as("dst")))
        .unionByName(internal)
      // an id that is ALREADY LIVE must not commit a second vector
      // copy (count() would inflate and beam search could rank the
      // duplicate into two top-k slots, displacing a real neighbor) —
      // anti-join it away. Its edges stay: every endpoint is live, so
      // a re-add just densifies the existing node's neighborhood. A
      // TOMBSTONED id is not live and so still resurrects, unchanged.
      // CONTRACT: re-adding a live id is edge densification ONLY —
      // the stored vector is kept even if the batch carries a changed
      // one (the index has no in-place update verb; a vector UPDATE
      // is delete(id) then add(id), two commits).
      val fresh = batch.join(live.select(col("id")), Seq("id"), "left_anti")
        .localCheckpoint(true)
      val nFresh = fresh.count()
      val vDir = writeVectors(spark, root, fresh)
      val gDir = writeEdges(spark, root, edges)
      (m.tables
        + (Vectors -> (dirs(m, Vectors) :+ vDir).mkString(","))
        + (Graph -> (dirs(m, Graph) :+ gDir).mkString(",")),
        m.meta + (AddsKey -> (addsOf(m) + nFresh).toString),
        Seq(vDir, gDir))
    }
  }

  /** Tombstone a batch of node ids as a delta commit (I/O ∝ batch; no
    * vector or edge file is rewritten). Version-ordered like the PK
    * lake: a subsequent [[add]] of the same id resurrects it. */
  def delete(spark: SparkSession, root: String, ids: DataFrame, idCol: Column,
             writer: String = "delete",
             maxAttempts: Int = 5, recoverTornAfterMs: Long = 60000L): Long =
    commitWith(spark, root, writer, maxAttempts, recoverTornAfterMs) { base =>
      val m = base.getOrElse(throw new IllegalStateException(
        s"GraphIndex.delete: no committed index under $root"))
      val ord = dirs(m, Vectors).length
      val dir = s"$root/t$ord-${nonce()}"
      graft.SchemaCache.writeNew(ids.select(idCol.cast("long").as("id")).distinct(), dir)
      (m.tables + (Tombstones -> (dirs(m, Tombstones) :+ dir).mkString(",")),
        m.meta, Seq(dir))
    }

  /** Fold the deltas: one vector snapshot of the LIVE rows, one edge
    * snapshot with dormant edges (either endpoint dead) physically
    * dropped, tombstone list emptied. Conflict-safe: a retry re-reads
    * the winner's delta lists. */
  def compact(spark: SparkSession, root: String,
              writer: String = "compact",
              maxAttempts: Int = 5, recoverTornAfterMs: Long = 60000L): Long =
    commitWith(spark, root, writer, maxAttempts, recoverTornAfterMs) { base =>
      val m = base.getOrElse(throw new IllegalStateException(
        s"GraphIndex.compact: no committed index under $root"))
      val live = readVectors(spark, m).localCheckpoint(true)
      val ids = live.select(col("id"))
      val edges = readEdges(spark, m)
        .join(ids.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
        .join(ids.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
      val vDir = writeVectors(spark, root, live)
      val gDir = writeEdges(spark, root, edges)
      (m.tables - Tombstones + (Vectors -> vDir) + (Graph -> gDir),
        m.meta, Seq(vDir, gDir))
    }

  /** Re-derive the whole graph from the live vectors (the drift cure
    * after many adds/deletes — incremental inserts never revisit old
    * nodes' edge lists, so neighborhood quality decays slowly).
    * Conflict-safe like [[compact]]. */
  def rebuild(spark: SparkSession, root: String,
              writer: String = "rebuild",
              maxAttempts: Int = 5, recoverTornAfterMs: Long = 60000L): Long =
    commitWith(spark, root, writer, maxAttempts, recoverTornAfterMs) { base =>
      val m = base.getOrElse(throw new IllegalStateException(
        s"GraphIndex.rebuild: no committed index under $root"))
      val live = readVectors(spark, m).localCheckpoint(true)
      val g = Similarity.nndSearchGraph(live, col("id"), col("v"))
      val vDir = writeVectors(spark, root, live)
      val gDir = writeEdges(spark, root, g)
      (Map(Vectors -> vDir, Graph -> gDir), Map(AddsKey -> "0"),
        Seq(vDir, gDir))
    }

  /** Top-k cosine neighbors from the CURRENT version for an external
    * query frame `(qid, qvec)` — [[Similarity.nndBeamSearch]] over
    * the committed graph. Output (qid, rank, nid, cos). */
  def search(spark: SparkSession, root: String, queries: DataFrame,
             qid: Column, qvec: Column, k: Int): DataFrame = {
    val m = currentOrFail(spark, root)
    val q = queries.select(qid.as("qid"),
        Similarity.toDouble(qvec).as("qv"))
      .withColumn("qn2", Similarity.normSq(col("qv")))
    Similarity.nndBeamSearch(readVectors(spark, m), readEdges(spark, m), q, k)
  }

  /** Metadata-FILTERED top-k from the CURRENT version: neighbors of
    * each query among the ELIGIBLE ids only ([[FilteredAnn]]'s
    * two-regime strategy). `eligible` carries the ids satisfying the
    * caller's metadata predicate (evaluated wherever the metadata
    * lives — this index stores vectors only):
    *
    *  - selectivity ≤ `bruteCut` → exact brute top-k over the eligible
    *    slice (recall 1.0; the slice is small by the branch);
    *  - else → beam-search the FULL graph (routing may cross
    *    ineligible nodes — pre-filtering the walk would disconnect
    *    it) over-fetching k·overFetch, post-filter to eligible,
    *    re-rank; under-filled queries fall back to the exact leg, so
    *    every query returns min(k, |eligible∖{self}|) rows.
    *
    * Output (qid, rank, nid, cos) — [[search]]'s shape. */
  def searchFiltered(spark: SparkSession, root: String, queries: DataFrame,
                     qid: Column, qvec: Column, k: Int,
                     eligible: DataFrame, eligibleId: Column,
                     overFetch: Int = 4, bruteCut: Double = 0.2): DataFrame = {
    require(k >= 1 && overFetch >= 1)
    val m = currentOrFail(spark, root)
    val live = readVectors(spark, m)
    val elig = eligible.select(eligibleId.cast("long").as("id")).distinct()
    val liveElig = live.join(elig, Seq("id"), "left_semi")
    val q = queries.select(qid.as("qid"), Similarity.toDouble(qvec).as("qv"))
      .withColumn("qn2", Similarity.normSq(col("qv")))
    val nLive = live.count()
    val nElig = liveElig.count()
    if (nElig == 0)
      return q.select(col("qid"), lit(0L).as("rank"),
        col("qid").as("nid"), lit(0.0).as("cos")).where(lit(false))
    if (nLive == 0 || nElig.toDouble / nLive <= bruteCut)
      FilteredAnn.bruteTopk(liveElig, q, k)
    else {
      val raw = Similarity.nndBeamSearch(live, readEdges(spark, m), q,
        k * overFetch).select(col("qid"), col("nid"), col("cos"))
      FilteredAnn.fillExact(
        FilteredAnn.postFilterTopk(raw, elig, k), liveElig, q, k, nElig)
    }
  }

  /** Live node count at the current version. */
  def count(spark: SparkSession, root: String): Long =
    readVectors(spark, currentOrFail(spark, root)).count()

  /** Live node ids at the current version — the membership probe a
    * streaming front door anti-joins to drop id REDELIVERIES before
    * they reach the (self-excluding, so membership-blind) beam
    * search. Column-pruned: only `id` (+ the tombstone merge) is
    * read from the vector deltas, never the vector payloads. */
  def liveIds(spark: SparkSession, root: String): DataFrame =
    readVectors(spark, currentOrFail(spark, root)).select(col("id"))

  /** Retention: reference-counted against kept manifests (shared
    * carried-forward delta dirs survive). */
  def vacuum(spark: SparkSession, root: String, keepVersions: Int = 2): Seq[Long] =
    graft.sinks.PkTableSink.vacuumTxGroup(spark, root, keepVersions)
}
