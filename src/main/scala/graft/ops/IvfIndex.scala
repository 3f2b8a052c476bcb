package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sinks.TxLog

/** Persisted TRANSACTIONAL IVF index — the train / add / search
  * lifecycle (FAISS's public split) on the same commit log the PK
  * lake uses ([[graft.sinks.TxLog]]):
  *
  * {{{
  *   <root>/_log/<v>.manifest    t.centroids=<dir>  t.vectors=<d1,d2,…>
  *   <root>/c-<nonce>/           centroid snapshots (cid, cv, cn2)
  *   <root>/v-<nonce>/           vector deltas (id, v, n2, cell=…)
  * }}}
  *
  * Every maintenance op commits a manifest and never mutates a
  * committed dir, so concurrent searches are isolated and a crash
  * mid-op leaves the previous index version current:
  *  - [[build]]  trains k-means|| centroids, assigns the corpus,
  *    commits {centroids, vectors};
  *  - [[add]]    assigns a NEW batch against the CURRENT centroids
  *    into a fresh delta dir and commits vectors = prev ⧺ delta
  *    (no retraining — the standard IVF incremental path);
  *  - [[compact]] rewrites the accumulated deltas into one
  *    cell-partitioned snapshot (many-small-files cure);
  *  - [[retrain]] re-trains centroids on the indexed vectors and
  *    re-assigns everything (the drift cure);
  *  - [[search]] resolves the current manifest and probes top-nprobe
  *    cells — cell-partitioned parquet prunes directories, so a probe
  *    reads its cells, not the corpus;
  *  - [[vacuum]] drops old manifests and any dir no kept manifest
  *    references (delegates to the reference-counted group vacuum).
  */
object IvfIndex {

  private val Centroids = "centroids"
  private val Vectors = "vectors"
  private val Tombstones = "tombstones"

  /** Manifest-meta drift counter: vectors added since the CENTROIDS
    * were last trained ([[build]]/[[retrain]] reset it; [[add]]
    * accumulates; [[compact]] deliberately carries it forward — it
    * folds files without retraining, so assignment-quality drift
    * persists). [[graft.sinks.Doctor]] reads it. */
  val AddsKey = "adds_since_retrain"

  private def addsOf(m: TxLog.Manifest): Long =
    m.meta.get(AddsKey).map(_.toLong).getOrElse(0L)

  private def nonce() = java.util.UUID.randomUUID().toString.take(8)

  /** A tombstone dir's kill ordinal: the Vectors-list LENGTH at delete
    * time, embedded in the dir name (`t<ord>-<nonce>`), so it kills
    * ids only in vector dirs committed BEFORE it (list positions
    * 0..ord-1) — an add after the delete resurrects the id. In the
    * name rather than manifest meta so vacuum's reference counting
    * keeps seeing plain paths. */
  private def tombOrd(dir: String): Int = {
    val name = dir.substring(dir.lastIndexOf('/') + 1)
    name.stripPrefix("t").takeWhile(_.isDigit).toInt
  }

  private def dirs(m: TxLog.Manifest, key: String): Seq[String] =
    m.tables.get(key).toSeq.flatMap(_.split(",")).filter(_.nonEmpty)

  private def fsOf(spark: SparkSession, root: String) =
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** [[graft.sinks.TxLog.commitWith]] adapted to the index's
    * tables-only manifests, with the ','-in-root guard (',' joins the
    * delta dir list in manifest values). */
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

  private def writeCentroids(spark: SparkSession, root: String,
                             cents: Seq[(Long, Array[Double])]): String = {
    import spark.implicits._
    val dir = s"$root/c-${nonce()}"
    graft.SchemaCache.writeNew(cents.map { case (cid, c) => (cid, c.toSeq) }.toDF("cid", "cv")
      .select(col("cid"), col("cv").cast("array<double>").as("cv"))
      .withColumn("cn2", Similarity.normSq(col("cv")))
      .coalesce(1), dir)
    dir
  }

  private def writeAssigned(spark: SparkSession, root: String,
                            assigned: DataFrame): String = {
    val dir = s"$root/v-${nonce()}"
    assigned.write.partitionBy("cell").parquet(dir)
    dir
  }

  private def readVectors(spark: SparkSession, m: TxLog.Manifest): DataFrame = {
    // one read per delta dir (each is its own partitioned root — a
    // multi-path read trips partition discovery), unioned; and restore
    // cell to the LongType the in-memory path emits (partition-column
    // inference types cell=N dirs as INT)
    val base = dirs(m, Vectors).zipWithIndex
      .map { case (d, i) => graft.SchemaCache.read(spark, d)
        .withColumn("cell", col("cell").cast("long"))
        .withColumn("_ord", lit(i)) }
      .reduce(_ unionByName _)
    val tdirs = dirs(m, Tombstones)
    if (tdirs.isEmpty) base.drop("_ord")
    else {
      // a row survives unless SOME tombstone was committed after its
      // dir: max kill-ordinal per id vs the row's dir position
      val tomb = tdirs
        .map(d => graft.SchemaCache.read(spark, d).withColumn("_tord", lit(tombOrd(d))))
        .reduce(_ unionByName _)
        .groupBy(col("id")).agg(max(col("_tord")).as("_tord"))
      base.join(tomb, Seq("id"), "left")
        .where(col("_tord").isNull || col("_tord") <= col("_ord"))
        .drop("_ord", "_tord")
    }
  }

  private def currentOrFail(spark: SparkSession, root: String): TxLog.Manifest =
    TxLog.current(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed IVF index under $root"))

  /** Train + assign + commit version 0 (or a full rebuild as the next
    * version). A full rebuild REPLACES the whole index, so a commit
    * that lands concurrently (e.g. an add() that was told it
    * succeeded) must not be silently discarded — build ABORTS loudly
    * on such a conflict instead of retrying over it, the same rule
    * Delta/Iceberg apply to full-overwrite transactions. Returns the
    * committed version. */
  def build(df: DataFrame, id: Column, vec: Column, root: String,
            k: Int = 16, writer: String = "build",
            maxAttempts: Int = 5, recoverTornAfterMs: Long = 60000L): Long = {
    val spark = df.sparkSession
    val cents = Similarity.kmeansCentroids(df, id, vec, k)
    val v = df.select(id.as("id"), vec.cast("array<double>").as("v"))
      .withColumn("n2", Similarity.normSq(col("v")))
    val baseAtEntry = TxLog.current(spark, root).map(_.version)
    commitWith(spark, root, writer, maxAttempts, recoverTornAfterMs) { base =>
      if (base.map(_.version) != baseAtEntry)
        throw new IllegalStateException(
          s"IvfIndex.build: concurrent commit landed on $root during the " +
            "rebuild (its data would be silently dropped) — re-run build " +
            "against the new current version")
      val cDir = writeCentroids(spark, root, cents)
      val vDir = writeAssigned(spark, root,
        Similarity.assignCells(v, graft.SchemaCache.read(spark, cDir)))
      (Map(Centroids -> cDir, Vectors -> vDir), Map(AddsKey -> "0"),
        Seq(cDir, vDir))
    }
  }

  /** Assign a new batch against the CURRENT centroids and commit it
    * as a delta (no retraining). Returns the committed version. */
  def add(df: DataFrame, id: Column, vec: Column, root: String,
          writer: String = "add",
          maxAttempts: Int = 5, recoverTornAfterMs: Long = 60000L): Long = {
    val spark = df.sparkSession
    val v = df.select(id.as("id"), vec.cast("array<double>").as("v"))
      .withColumn("n2", Similarity.normSq(col("v")))
    commitWith(spark, root, writer, maxAttempts, recoverTornAfterMs) { base =>
      val m = base.getOrElse(throw new IllegalStateException(
        s"IvfIndex.add: no committed index under $root — build first"))
      val cDir = m.tables(Centroids)
      val assigned = Similarity.assignCells(v, graft.SchemaCache.read(spark, cDir))
        .localCheckpoint(true)
      val nAdded = assigned.count()
      val delta = writeAssigned(spark, root, assigned)
      (m.tables + (Vectors -> (dirs(m, Vectors) :+ delta).mkString(",")),
        m.meta + (AddsKey -> (addsOf(m) + nAdded).toString),
        Seq(delta))
    }
  }

  /** Tombstone a batch of vector ids as a delta commit (no rewrite of
    * any vector file — commit I/O ∝ the id batch). The tombstone
    * applies to vectors committed BEFORE it; a subsequent [[add]] of
    * the same id resurrects it (version-ordered semantics, same rule
    * as the PK lake's stored tombstones). [[compact]] folds deletes
    * into the files and drops the tombstone list. Returns the
    * committed version. */
  def delete(spark: SparkSession, root: String, ids: DataFrame, idCol: Column,
             writer: String = "delete",
             maxAttempts: Int = 5, recoverTornAfterMs: Long = 60000L): Long =
    commitWith(spark, root, writer, maxAttempts, recoverTornAfterMs) { base =>
      val m = base.getOrElse(throw new IllegalStateException(
        s"IvfIndex.delete: no committed index under $root"))
      val ord = dirs(m, Vectors).length
      val dir = s"$root/t$ord-${nonce()}"
      graft.SchemaCache.writeNew(ids.select(idCol.cast("long").as("id")).distinct(), dir)
      (m.tables + (Tombstones -> (dirs(m, Tombstones) :+ dir).mkString(",")),
        m.meta, Seq(dir))
    }

  /** Rewrite the accumulated vector deltas into ONE cell-partitioned
    * snapshot (same contents, fewer files) and fold tombstones in
    * physically (deleted rows leave the files, the tombstone list
    * empties). Conflict-safe: a retry re-reads the winner's delta
    * list, so a concurrent add or delete is folded in, never
    * dropped. */
  def compact(spark: SparkSession, root: String,
              writer: String = "compact",
              maxAttempts: Int = 5, recoverTornAfterMs: Long = 60000L): Long =
    commitWith(spark, root, writer, maxAttempts, recoverTornAfterMs) { base =>
      val m = base.getOrElse(throw new IllegalStateException(
        s"IvfIndex.compact: no committed index under $root"))
      val merged = readVectors(spark, m).repartition(col("cell"))
      val vDir = writeAssigned(spark, root, merged)
      (m.tables - Tombstones + (Vectors -> vDir), m.meta, Seq(vDir))
    }

  /** Re-train centroids on everything indexed and re-assign (the
    * drift cure after many adds). Conflict-safe like [[compact]]: a
    * retry re-trains over the winner's vector set. */
  def retrain(spark: SparkSession, root: String, k: Int = 16,
              writer: String = "retrain",
              maxAttempts: Int = 5, recoverTornAfterMs: Long = 60000L): Long =
    commitWith(spark, root, writer, maxAttempts, recoverTornAfterMs) { base =>
      val m = base.getOrElse(throw new IllegalStateException(
        s"IvfIndex.retrain: no committed index under $root"))
      val vectors = readVectors(spark, m).select(col("id"), col("v"))
      val cents = Similarity.kmeansCentroids(vectors, col("id"), col("v"), k)
      val cDir = writeCentroids(spark, root, cents)
      val withNorm = vectors.withColumn("n2", Similarity.normSq(col("v")))
      val vDir = writeAssigned(spark, root,
        Similarity.assignCells(withNorm, graft.SchemaCache.read(spark, cDir)))
      (Map(Centroids -> cDir, Vectors -> vDir), Map(AddsKey -> "0"),
        Seq(cDir, vDir))
    }

  /** Top-k cosine neighbors from the CURRENT index version for a
    * query frame `(qid, qvec)`. Output: (qid, cell, rank, nid, cos). */
  def search(spark: SparkSession, root: String, queries: DataFrame,
             qid: Column, qvec: Column, k: Int, nprobe: Int = 1): DataFrame = {
    val m = currentOrFail(spark, root)
    val cent = graft.SchemaCache.read(spark, m.tables(Centroids))
    val q = queries.select(qid.as("qid"), qvec.cast("array<double>").as("qv"))
      .withColumn("qn2", Similarity.normSq(col("qv")))
    Similarity.searchAssigned(readVectors(spark, m), cent, q, k, nprobe)
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
    val m = currentOrFail(spark, root)
    val assigned = readVectors(spark, m)
    val elig = eligible.select(eligibleId.cast("long").as("id")).distinct()
    val assignedElig = assigned.join(elig, Seq("id"), "left_semi")
    val q = queries.select(qid.as("qid"), qvec.cast("array<double>").as("qv"))
      .withColumn("qn2", Similarity.normSq(col("qv")))
    val nLive = assigned.count()
    val nElig = assignedElig.count()
    if (nElig == 0)
      return q.select(col("qid"), lit(0L).as("rank"),
        col("qid").as("nid"), lit(0.0).as("cos")).where(lit(false))
    val corpusElig = assignedElig.select(col("id"), col("v"), col("n2"))
    if (nLive == 0 || nElig.toDouble / nLive <= bruteCut)
      FilteredAnn.bruteTopk(corpusElig, q, k)
    else {
      val cent = graft.SchemaCache.read(spark, m.tables(Centroids))
      val probed = Similarity.searchAssigned(assignedElig, cent, q, k, nprobe)
        .select(col("qid"), col("rank"), col("nid"), col("cos"))
      FilteredAnn.fillExact(probed, corpusElig, q, k, nElig)
    }
  }

  /** Indexed row count at the current version. */
  def count(spark: SparkSession, root: String): Long =
    readVectors(spark, currentOrFail(spark, root)).count()

  /** Retention: reference-counted against kept manifests, so dirs
    * shared across versions (carried-forward deltas) survive. */
  def vacuum(spark: SparkSession, root: String, keepVersions: Int = 2): Seq[Long] =
    graft.sinks.PkTableSink.vacuumTxGroup(spark, root, keepVersions)
}
