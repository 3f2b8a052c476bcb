package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sinks.{PkTableSink, TxLog}

/** Persisted TRANSACTIONAL IVF index — the train / add / search
  * lifecycle (FAISS's public split) as two PK group tables under the
  * root's manifest ([[IndexTables]]):
  *
  * {{{
  *   <root>/_log/<v>.manifest   t.centroids=<dirs>  t.vectors=<dirs>
  *   <root>/centroids/<dir>/    (cid, cv, cn2)        keyed by cid
  *   <root>/vectors/<dir>/      (id, v, n2, cell)     keyed by id
  * }}}
  *
  * Every maintenance op commits a manifest and never mutates a
  * committed dir, so concurrent searches are isolated and a crash
  * mid-op leaves the previous index version current:
  *  - [[build]]  trains k-means|| centroids, assigns the corpus,
  *    replaces both tables;
  *  - [[add]]    assigns a NEW batch against the CURRENT centroids
  *    and commits it as a vectors layer (no retraining — the
  *    standard IVF incremental path);
  *  - [[delete]] commits tombstone rows as a vectors layer;
  *  - [[compact]] folds the vectors layers into one (the
  *    many-small-files cure);
  *  - [[retrain]] re-trains centroids on the indexed vectors and
  *    re-assigns everything (the drift cure);
  *  - [[search]] resolves the current manifest and probes the top
  *    nprobe cells of each query;
  *  - [[vacuum]] drops old manifests and any dir no kept manifest
  *    references (delegates to the reference-counted group vacuum).
  */
object IvfIndex {

  private val Centroids = "centroids"
  private val Vectors = "vectors"

  /** Manifest-meta drift counter: vectors added since the CENTROIDS
    * were last trained ([[build]]/[[retrain]] reset it; [[add]]
    * accumulates; [[compact]] deliberately carries it forward — it
    * folds files without retraining, so assignment-quality drift
    * persists). [[graft.sinks.Doctor]] reads it. */
  val AddsKey = "adds_since_retrain"

  /** Train k centroids on `v` (id, v, n2), assign every vector, and
    * replace both tables (see [[IndexTables.rebuild]]); `v` was read
    * at `m`. */
  private def trainAndReplace(v: DataFrame, k: Int, root: String, m: Option[TxLog.Manifest],
                              writer: String,
                              maxAttempts: Int, recoverTornAfterMs: Long): Long = {
    val spark = v.sparkSession
    import spark.implicits._
    val cents = Similarity.kmeansCentroids(v, col("id"), col("v"), k)
      .map { case (cid, c) => (cid, c.toSeq) }.toDF("cid", "cv")
      .withColumn("cn2", Similarity.normSq(col("cv"))).coalesce(1)
    IndexTables.rebuild(spark, root, m, Map(
        Centroids -> IndexTables.rows(cents, "cid"),
        Vectors -> IndexTables.rows(Similarity.assignCells(v, cents), "id")),
      Map(AddsKey -> "0"), writer, maxAttempts, recoverTornAfterMs)
  }

  /** Train + assign + commit version 0, or a full rebuild as the next
    * version. A rebuild REPLACES the whole index, so a commit that
    * lands concurrently (e.g. an add() that was told it succeeded)
    * ABORTS the build loudly instead of being silently dropped.
    * Returns the committed version. */
  def build(df: DataFrame, id: Column, vec: Column, root: String,
            k: Int = 16, writer: String = "build",
            maxAttempts: Int = 5, recoverTornAfterMs: Long = 60000L): Long = {
    IndexTables.optimistic(df.sparkSession, root, "IvfIndex.build", 1)(m =>
      trainAndReplace(IndexTables.vectors(df, id, vec), k, root, m, writer, maxAttempts, recoverTornAfterMs))
  }

  /** Assign a new batch against the CURRENT centroids and commit it
    * as a vectors layer (no retraining); a re-added id replaces its
    * stored vector. If a retrain or rebuild replaces the centroids
    * before the claim, the batch is re-assigned against the new ones.
    * Returns the committed version. */
  def add(df: DataFrame, id: Column, vec: Column, root: String,
          writer: String = "add",
          maxAttempts: Int = 5, recoverTornAfterMs: Long = 60000L): Long = {
    val spark = df.sparkSession
    IndexTables.optimistic(spark, root, "IvfIndex.add", maxAttempts) { cur =>
      val m = IndexTables.get(cur, root, "IVF")
      val assigned = Similarity.assignCells(IndexTables.vectors(df, id, vec),
          IndexTables.read(spark, m, Centroids))
        .localCheckpoint(true)
      val nAdded = assigned.count()
      PkTableSink.mergeTxGroup(spark, root, Map(Vectors -> IndexTables.rows(assigned, "id")),
        writer, maxAttempts, recoverTornAfterMs, onClaim = base =>
          IndexTables.unmoved(base.flatMap(_.tables.get(Centroids)) == m.tables.get(Centroids))(
            Map(AddsKey -> (IndexTables.counter(base, AddsKey) + nAdded).toString)))
    }
  }

  /** Tombstone a batch of vector ids as a layer (no rewrite of any
    * vector file — commit I/O ∝ the id batch). A later [[add]] of
    * the same id resurrects it (the latest commit of an id wins);
    * [[compact]] drops the dead rows physically. Returns the
    * committed version. */
  def delete(spark: SparkSession, root: String, ids: DataFrame, idCol: Column,
             writer: String = "delete",
             maxAttempts: Int = 5, recoverTornAfterMs: Long = 60000L): Long =
    IndexTables.delete(spark, root, "IVF", ids, idCol, writer, maxAttempts, recoverTornAfterMs)

  /** Fold the vectors layers into ONE (same live rows, deleted rows
    * gone). Conflict-safe: a retry re-reads the winner's layers, so a
    * concurrent add or delete is folded in, never dropped; with one
    * layer there is nothing to fold and the current version returns. */
  def compact(spark: SparkSession, root: String,
              writer: String = "compact",
              maxAttempts: Int = 5, recoverTornAfterMs: Long = 60000L): Long =
    PkTableSink.compactTxGroup(spark, root, Vectors, writer,
      maxAttempts = maxAttempts, recoverTornAfterMs = recoverTornAfterMs)

  /** Re-train centroids on everything indexed and re-assign (the
    * drift cure after many adds). It replaces the index, so a commit
    * that lands while it trains makes it re-run over the winner's
    * vectors, never drop them. */
  def retrain(spark: SparkSession, root: String, k: Int = 16,
              writer: String = "retrain",
              maxAttempts: Int = 5, recoverTornAfterMs: Long = 60000L): Long =
    IndexTables.optimistic(spark, root, "IvfIndex.retrain", maxAttempts)(m =>
      trainAndReplace(IndexTables.read(spark, IndexTables.get(m, root, "IVF"), Vectors)
          .select(col("id"), col("v"), col("n2")),
        k, root, m, writer, maxAttempts, recoverTornAfterMs))

  /** Top-k cosine neighbors from the CURRENT index version for a
    * query frame `(qid, qvec)`. Output: (qid, cell, rank, nid, cos). */
  def search(spark: SparkSession, root: String, queries: DataFrame,
             qid: Column, qvec: Column, k: Int, nprobe: Int = 1): DataFrame = {
    val m = IndexTables.current(spark, root, "IVF")
    Similarity.searchAssigned(IndexTables.read(spark, m, Vectors),
      IndexTables.read(spark, m, Centroids), IndexTables.queries(queries, qid, qvec), k, nprobe)
  }

  /** Metadata-FILTERED top-k from the CURRENT index version —
    * [[FilteredAnn]]'s two-regime strategy with IVF's natural
    * PRE-FILTER on the broad branch: unlike a graph walk (whose
    * connectivity a pre-filter would break), cell probing is
    * unaffected by dropping ineligible rows, so the eligible
    * semi-join lands BEFORE in-cell scoring — only eligible vectors
    * are ranked, and recall relative to the filtered ground truth
    * matches the unfiltered index's cell-probe recall at the same
    * `nprobe`. Sharp filters (selectivity ≤ bruteCut) take the exact
    * brute leg; under-filled queries fall back exactly, so the
    * min(k, |eligible∖{self}|) fill guarantee matches
    * [[GraphIndex.searchFiltered]]'s.
    *
    * Output (qid, rank, nid, cos) — flat, without [[search]]'s cell
    * column (fallback rows have no probed cell). */
  def searchFiltered(spark: SparkSession, root: String, queries: DataFrame,
                     qid: Column, qvec: Column, k: Int,
                     eligible: DataFrame, eligibleId: Column,
                     nprobe: Int = 2, bruteCut: Double = 0.2): DataFrame = {
    require(k >= 1 && nprobe >= 1)
    val m = IndexTables.current(spark, root, "IVF")
    val assigned = IndexTables.read(spark, m, Vectors)
    val q = IndexTables.queries(queries, qid, qvec)
    FilteredAnn.overIndex(assigned, eligible, eligibleId, q, k, bruteCut) { (assignedElig, _) =>
      Similarity.searchAssigned(assignedElig, IndexTables.read(spark, m, Centroids), q, k, nprobe)
        .select(col("qid"), col("rank"), col("nid"), col("cos"))
    }
  }

  /** Indexed row count at the current version. */
  def count(spark: SparkSession, root: String): Long =
    IndexTables.read(spark, IndexTables.current(spark, root, "IVF"), Vectors).count()

  /** Retention: reference-counted against kept manifests, so dirs
    * shared across versions (carried-forward deltas) survive. */
  def vacuum(spark: SparkSession, root: String, keepVersions: Int = 2): Seq[Long] =
    graft.sinks.PkTableSink.vacuumTxGroup(spark, root, keepVersions)
}
