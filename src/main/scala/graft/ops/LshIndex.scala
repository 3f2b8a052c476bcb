package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sinks.TxLog

/** Persisted TRANSACTIONAL MinHash-LSH dedup index — the
  * build / add / probe lifecycle of incremental crawl dedup
  * ([[Dedup.minhashLshPairsAgainst]]'s "corpus band rows are a
  * precomputed table" made literal) on the same commit log the PK lake
  * and the IVF index use ([[graft.sinks.TxLog]]):
  *
  * {{{
  *   <root>/_log/<v>.manifest   t.bands=<d1,d2,…>  t.sigs=<d1,d2,…>
  *   <root>/b-<nonce>/          (id, band, bh) band-bucket rows
  *   <root>/s-<nonce>/          (id, sig[k])   MinHash signatures
  * }}}
  *
  * The index stores k longs + `bands` bucket keys per document — NEVER
  * the shingle sets (those are corpus-sized; re-deriving them for
  * verification is the caller's join against its own text store).
  * [[probe]] therefore returns SIGNATURE-estimated Jaccard (matching
  * components / k, the standard unbiased MinHash estimator): candidates
  * from the band join, estimate from the sig join, both ∝ batch.
  *
  * Every op commits a manifest and never mutates a committed dir —
  * commit I/O ∝ batch, concurrent probes are isolated, a crash mid-op
  * leaves the previous version current, retention reference-counts
  * shared dirs (the D9/C8d contract).
  *
  * Reference parity: the role StarRocks' PK indexes play for upsert,
  * here for content identity (`/root/reference/docs/ARCHITECTURE.md`
  * pipeline stage 4); dedup semantics per Lee et al. 2022 / CCNet.
  */
object LshIndex {

  private val Bands = "bands"
  private val Sigs = "sigs"

  private def nonce() = java.util.UUID.randomUUID().toString.take(8)

  private def dirs(m: TxLog.Manifest, key: String): Seq[String] =
    m.tables.get(key).toSeq.flatMap(_.split(",")).filter(_.nonEmpty)

  /** Like IvfIndex's adapter, plus a meta map — banding parameters
    * live in manifest META, never in `tables`, whose values the
    * reference-counted vacuum treats as directory paths. */
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

  /** Write one batch's (sigs, bands) dirs and return them. */
  private def writeBatch(df: DataFrame, id: Column, text: Column, root: String,
                         shingleN: Int, k: Int, bands: Int): (String, String) = {
    val spark = df.sparkSession
    val sigs = Dedup.minhashSignatures(
      Dedup.shingleRows(df, id, text, shingleN), k)
    val sDir = s"$root/s-${nonce()}"
    graft.SchemaCache.writeNew(sigs, sDir)
    val bDir = s"$root/b-${nonce()}"
    // derive bands from the WRITTEN sigs so both tables of the commit
    // are consistent even if the input frame is non-deterministic
    graft.SchemaCache.writeNew(Dedup.bandRowsOfSigs(graft.SchemaCache.read(spark, sDir), k, bands), bDir)
    (sDir, bDir)
  }

  private def currentOrFail(spark: SparkSession, root: String): TxLog.Manifest =
    TxLog.current(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed LSH index under $root"))

  private def readAll(spark: SparkSession, m: TxLog.Manifest,
                      key: String): DataFrame =
    dirs(m, key).map(graft.SchemaCache.read(spark, _)).reduce(_ unionByName _)

  /** Index a corpus as version 0 (or a full rebuild). Like
    * IvfIndex.build, a rebuild REPLACES the index, so it aborts loudly
    * if a concurrent commit lands mid-build. k/bands/shingleN are
    * fixed at build time and recorded in the manifest meta — adds and
    * probes read them back, so every delta banded compatibly. */
  def build(df: DataFrame, id: Column, text: Column, root: String,
            shingleN: Int = 3, k: Int = 32, bands: Int = 8,
            writer: String = "build",
            maxAttempts: Int = 5, recoverTornAfterMs: Long = 60000L): Long = {
    require(k > 0 && bands > 0 && k % bands == 0,
      s"k ($k) must divide evenly into bands ($bands)")
    val spark = df.sparkSession
    val baseAtEntry = TxLog.current(spark, root).map(_.version)
    commitWith(spark, root, writer, maxAttempts, recoverTornAfterMs) { base =>
      if (base.map(_.version) != baseAtEntry)
        throw new IllegalStateException(
          s"LshIndex.build: concurrent commit landed on $root during the " +
            "rebuild — re-run build against the new current version")
      val (sDir, bDir) = writeBatch(df, id, text, root, shingleN, k, bands)
      (Map(Sigs -> sDir, Bands -> bDir),
        Map("shingleN" -> shingleN.toString, "k" -> k.toString,
          "bands" -> bands.toString),
        Seq(sDir, bDir))
    }
  }

  private def params(m: TxLog.Manifest): (Int, Int, Int) =
    (m.meta("shingleN").toInt, m.meta("k").toInt, m.meta("bands").toInt)

  /** Index a NEW batch as a delta commit (crawl-increment shape):
    * signatures + band rows for the batch only, appended to the
    * manifest's dir lists — commit I/O ∝ batch, the existing corpus is
    * untouched. Batch ids are assumed fresh (dedup decisions happen at
    * probe time; re-adding an id duplicates its rows until the caller
    * rewrites via build). */
  def add(df: DataFrame, id: Column, text: Column, root: String,
          writer: String = "add",
          maxAttempts: Int = 5, recoverTornAfterMs: Long = 60000L): Long = {
    val spark = df.sparkSession
    commitWith(spark, root, writer, maxAttempts, recoverTornAfterMs) { base =>
      val m = base.getOrElse(throw new IllegalStateException(
        s"LshIndex.add: no committed index under $root — build first"))
      val (n, k, b) = params(m)
      val (sDir, bDir) = writeBatch(df, id, text, root, n, k, b)
      (m.tables
        + (Sigs -> (dirs(m, Sigs) :+ sDir).mkString(","))
        + (Bands -> (dirs(m, Bands) :+ bDir).mkString(",")),
        m.meta, Seq(sDir, bDir))
    }
  }

  /** Near-duplicates of a BATCH against the CURRENT index version:
    * band-bucket candidate join → signature-agreement estimate ≥
    * thresholdNum/thresholdDen (integer cross-multiplied — no FP
    * boundary). Output: (new_id, prior_id, est_jaccard). The batch
    * never joins the corpus row-wise — only its band keys and
    * candidate signatures do. */
  def probe(batch: DataFrame, id: Column, text: Column, root: String,
            thresholdNum: Int = 4, thresholdDen: Int = 5): DataFrame = {
    val spark = batch.sparkSession
    val m = currentOrFail(spark, root)
    val (n, k, b) = params(m)
    val sigs = Dedup.minhashSignatures(
      Dedup.shingleRows(batch, id, text, n), k)
    val bandRows = Dedup.bandRowsOfSigs(sigs, k, b)
    val cand = bandRows.as("q").join(readAll(spark, m, Bands).as("c"),
        col("q.band") === col("c.band") && col("q.bh") === col("c.bh"))
      .select(col("q.id").as("new_id"), col("c.id").as("prior_id"))
      .distinct()
    val matches = size(filter(
      zip_with(col("qsig"), col("csig"), (x, y) => (x === y).cast("int")),
      x => x === 1))
    cand
      .join(sigs.select(col("id").as("new_id"), col("sig").as("qsig")), "new_id")
      .join(readAll(spark, m, Sigs)
        .select(col("id").as("prior_id"), col("sig").as("csig")), "prior_id")
      .withColumn("mk", matches)
      .where(col("mk") * thresholdDen >= lit(k) * thresholdNum)
      .select(col("new_id"), col("prior_id"),
        graft.functions.Rounding.r(col("mk").cast("double") / k, 4)
          .as("est_jaccard"))
  }

  /** Fold the accumulated delta dirs into ONE dir per table (same
    * contents, fewer files). Conflict-safe: a retry re-reads the
    * winner's dir lists, so a concurrent add is folded, never
    * dropped. */
  def compact(spark: SparkSession, root: String,
              writer: String = "compact",
              maxAttempts: Int = 5, recoverTornAfterMs: Long = 60000L): Long =
    commitWith(spark, root, writer, maxAttempts, recoverTornAfterMs) { base =>
      val m = base.getOrElse(throw new IllegalStateException(
        s"LshIndex.compact: no committed index under $root"))
      val sDir = s"$root/s-${nonce()}"
      graft.SchemaCache.writeNew(readAll(spark, m, Sigs).coalesce(4), sDir)
      val bDir = s"$root/b-${nonce()}"
      graft.SchemaCache.writeNew(readAll(spark, m, Bands).coalesce(4), bDir)
      (m.tables + (Sigs -> sDir) + (Bands -> bDir), m.meta, Seq(sDir, bDir))
    }

  /** Indexed document count at the current version. */
  def count(spark: SparkSession, root: String): Long =
    readAll(spark, currentOrFail(spark, root), Sigs).count()

  /** Retention: reference-counted against kept manifests (shared
    * carried-forward dirs survive). */
  def vacuum(spark: SparkSession, root: String, keepVersions: Int = 2): Seq[Long] =
    graft.sinks.PkTableSink.vacuumTxGroup(spark, root, keepVersions)
}
