package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sinks.{PkTableSink, TxLog}

/** Persisted TRANSACTIONAL graph-ANN index — the NN-descent K-NN
  * graph + small-world long links of [[Similarity.nndSearchGraph]],
  * stored like the IVF and LSH indexes as PK group tables under the
  * root's manifest ([[IndexTables]]):
  *
  * {{{
  *   <root>/_log/<v>.manifest   t.vectors=<dirs>  t.graph=<dirs>
  *   <root>/vectors/<dir>/      (id, v, n2)   keyed by id
  *   <root>/graph/<dir>/        (src, dst)    keyed by (src, dst)
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
  * [[compact]] drops the dead nodes and their edges or [[rebuild]]
  * re-derives the graph (the drift cure).
  */
object GraphIndex {

  private val Vectors = "vectors"
  private val Graph = "graph"

  /** Manifest-meta drift counter: live vectors added INCREMENTALLY
    * since the last full build/rebuild. Incremental inserts never
    * revisit old nodes' edge lists, so graph quality decays as this
    * grows relative to the corpus — [[graft.sinks.Doctor]] reads it
    * (it deliberately SURVIVES [[compact]], which folds files without
    * re-deriving the graph; only [[rebuild]]/[[build]] reset it). */
  val AddsKey = "adds_since_rebuild"

  /** The committed edges for a walk: the stored rows, unmerged. An
    * add that densifies a live node can store an edge again in a later
    * layer; both walks dedupe their frontier's neighbors, so the
    * repeat costs them nothing, while a latest-per-key merge would
    * shuffle every edge on every read. */
  private def walkEdges(spark: SparkSession, m: TxLog.Manifest): DataFrame =
    IndexTables.stored(spark, m, Graph).select(col("src"), col("dst"))

  private def replaceAll(spark: SparkSession, root: String, m: Option[TxLog.Manifest],
                         v: DataFrame, g: DataFrame, writer: String,
                         maxAttempts: Int, recoverTornAfterMs: Long): Long =
    IndexTables.rebuild(spark, root, m, Map(
        Vectors -> IndexTables.rows(v.select(col("id"), col("v"), col("n2")), "id"),
        Graph -> IndexTables.rows(g.select(col("src"), col("dst")).distinct(), "src", "dst")),
      Map(AddsKey -> "0"), writer, maxAttempts, recoverTornAfterMs)

  /** Full NN-descent build + commit as the next version. Like
    * [[IvfIndex.build]], a full rebuild REPLACES the index, so a
    * concurrent commit ABORTS the build loudly instead of being
    * silently dropped. Returns the committed version. */
  def build(df: DataFrame, id: Column, vec: Column, root: String,
            writer: String = "build",
            maxAttempts: Int = 5, recoverTornAfterMs: Long = 60000L,
            graphOpt: Option[DataFrame] = None): Long = {
    // graphOpt: a caller already holding THE nndSearchGraph of df
    // (e.g. an amortized per-corpus build shared with in-memory
    // queries) passes it in to skip the recompute — the build is
    // deterministic, so the committed index is identical either way
    val g = graphOpt.getOrElse(Similarity.nndSearchGraph(df, id, vec))
    IndexTables.optimistic(df.sparkSession, root, "GraphIndex.build", 1)(m =>
      replaceAll(df.sparkSession, root, m, IndexTables.vectors(df, id, vec), g, writer,
        maxAttempts, recoverTornAfterMs))
  }

  /** Incremental insert — the batched HNSW construction step: beam-
    * search the CURRENT graph with the batch as queries, keep each new
    * node's top-[[Similarity.NndGraphK]] indexed neighbors, and commit
    * the batch's vectors plus three edge groups as layers:
    * new→found (out-edges for onward routing), found→new (in-edges
    * that make the node REACHABLE from the old graph), and the
    * batch's own internal K-NN graph (so a dense new cluster routes
    * within itself). Work ∝ batch·hops·beam·K — independent of the
    * indexed corpus size. The search and the live anti-join below
    * read one version; if another commit lands before the claim, the
    * add re-runs against it (so a delete of a re-added id that lands
    * first is resurrected, and two adds of one new id count it once).
    * Returns the committed version. */
  def add(df: DataFrame, id: Column, vec: Column, root: String,
          writer: String = "add",
          maxAttempts: Int = 5, recoverTornAfterMs: Long = 60000L): Long = {
    val spark = df.sparkSession
    val batch = IndexTables.vectors(df, id, vec).localCheckpoint(true)
    val internal =
      if (batch.limit(2).count() < 2)
        spark.range(0).select(col("id").as("src"), col("id").as("dst"))
      else Similarity.nnDescentGraph(batch, col("id"), col("v"))
    IndexTables.optimistic(spark, root, "GraphIndex.add", maxAttempts) { cur =>
      val m = IndexTables.get(cur, root, "graph")
      val live = IndexTables.read(spark, m, Vectors)
      val q = batch.select(col("id").as("qid"), col("v").as("qv"),
        col("n2").as("qn2"))
      val found = Similarity.nndBeamSearch(live, walkEdges(spark, m), q,
          k = Similarity.NndGraphK)
        .select(col("qid").as("src"), col("nid").as("dst"))
        .localCheckpoint(true)
      val edges = found
        .unionByName(found.select(col("dst").as("src"), col("src").as("dst")))
        .unionByName(internal)
      // CONTRACT: re-adding a live id is edge densification ONLY — the
      // stored vector is kept even if the batch carries a changed one
      // (a vector UPDATE is delete(id) then add(id), two commits), so
      // the anti-join keeps it out of the vectors layer and out of the
      // drift counter. Its edges stay: every endpoint is live. A
      // TOMBSTONED id is not live and so resurrects.
      val fresh = batch.join(live.select(col("id")), Seq("id"), "left_anti")
        .localCheckpoint(true)
      val nFresh = fresh.count()
      PkTableSink.mergeTxGroup(spark, root, Map(
          Vectors -> IndexTables.rows(fresh.select(col("id"), col("v"), col("n2")), "id")
            .copy(newKeys = true),
          Graph -> IndexTables.rows(edges.select(col("src"), col("dst")).distinct(),
            "src", "dst")),
        writer, maxAttempts, recoverTornAfterMs,
        onClaim = base => IndexTables.unmoved(base.map(_.version).contains(m.version))(
          Map(AddsKey -> (IndexTables.counter(base, AddsKey) + nFresh).toString)))
    }
  }

  /** Tombstone a batch of node ids as a layer (I/O ∝ batch; no vector
    * or edge file is rewritten). A later [[add]] of the same id
    * resurrects it (the latest commit of an id wins). */
  def delete(spark: SparkSession, root: String, ids: DataFrame, idCol: Column,
             writer: String = "delete",
             maxAttempts: Int = 5, recoverTornAfterMs: Long = 60000L): Long =
    IndexTables.delete(spark, root, "graph", ids, idCol, writer, maxAttempts, recoverTornAfterMs)

  /** Fold both tables into one layer each, in one commit: the live
    * vectors, and the edges minus the dormant ones (either endpoint
    * dead). Conflict-safe: a retry re-reads the winner's layers. */
  def compact(spark: SparkSession, root: String,
              writer: String = "compact",
              maxAttempts: Int = 5, recoverTornAfterMs: Long = 60000L): Long =
    PkTableSink.compactGroup(spark, root, Seq(Vectors, Graph), writer,
        maxAttempts = maxAttempts, recoverTornAfterMs = recoverTornAfterMs) { (m, t, rows) =>
      if (t != Graph) rows
      else {
        val ids = IndexTables.read(spark, m, Vectors, Some(Seq("id")))
        rows.join(ids.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
          .join(ids.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
      }
    }

  /** Re-derive the whole graph from the live vectors (the drift cure
    * after many adds/deletes — incremental inserts never revisit old
    * nodes' edge lists, so neighborhood quality decays slowly). It
    * replaces the index, so a commit that lands meanwhile makes it
    * re-run over the winner's vectors, never drop them. */
  def rebuild(spark: SparkSession, root: String,
              writer: String = "rebuild",
              maxAttempts: Int = 5, recoverTornAfterMs: Long = 60000L): Long =
    IndexTables.optimistic(spark, root, "GraphIndex.rebuild", maxAttempts) { m =>
      val live = IndexTables.read(spark, IndexTables.get(m, root, "graph"), Vectors)
        .localCheckpoint(true)
      replaceAll(spark, root, m, live, Similarity.nndSearchGraph(live, col("id"), col("v")),
        writer, maxAttempts, recoverTornAfterMs)
    }

  /** Top-k cosine neighbors from the CURRENT version for an external
    * query frame `(qid, qvec)` — [[Similarity.nndBeamSearch]] over
    * the committed graph. Output (qid, rank, nid, cos). */
  def search(spark: SparkSession, root: String, queries: DataFrame,
             qid: Column, qvec: Column, k: Int): DataFrame = {
    val m = IndexTables.current(spark, root, "graph")
    Similarity.nndBeamSearch(IndexTables.read(spark, m, Vectors), walkEdges(spark, m),
      IndexTables.queries(queries, qid, qvec), k)
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
    val m = IndexTables.current(spark, root, "graph")
    val live = IndexTables.read(spark, m, Vectors)
    val q = IndexTables.queries(queries, qid, qvec)
    FilteredAnn.overIndex(live, eligible, eligibleId, q, k, bruteCut) { (_, elig) =>
      FilteredAnn.postFilterTopk(Similarity.nndBeamSearch(live, walkEdges(spark, m), q,
        k * overFetch).select(col("qid"), col("nid"), col("cos")), elig, k)
    }
  }

  /** Live node count at the current version. */
  def count(spark: SparkSession, root: String): Long =
    IndexTables.read(spark, IndexTables.current(spark, root, "graph"), Vectors).count()

  /** Live node ids at the current version — the membership probe a
    * streaming front door anti-joins to drop id REDELIVERIES before
    * they reach the (self-excluding, so membership-blind) beam
    * search. Column-pruned: only `id` (+ the tombstone merge) is
    * read from the vector layers, never the vector payloads. */
  def liveIds(spark: SparkSession, root: String): DataFrame =
    IndexTables.read(spark, IndexTables.current(spark, root, "graph"), Vectors,
      Some(Seq("id")))

  /** Retention: reference-counted against kept manifests (shared
    * carried-forward layer dirs survive). */
  def vacuum(spark: SparkSession, root: String, keepVersions: Int = 2): Seq[Long] =
    graft.sinks.PkTableSink.vacuumTxGroup(spark, root, keepVersions)
}
