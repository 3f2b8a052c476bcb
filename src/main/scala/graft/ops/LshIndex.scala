package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sinks.{PkTableSink, TxLog}

/** Persisted TRANSACTIONAL MinHash-LSH dedup index — the
  * build / add / probe lifecycle of incremental crawl dedup
  * ([[Dedup.minhashLshPairsAgainst]]'s "corpus band rows are a
  * precomputed table" made literal) as two PK group tables under the
  * root's manifest, like the IVF and graph indexes ([[IndexTables]]):
  *
  * {{{
  *   <root>/_log/<v>.manifest   t.bands=<dirs>  t.sigs=<dirs>
  *   <root>/bands/<dir>/        (id, band, bh)  keyed by (id, band)
  *   <root>/sigs/<dir>/         (id, sig[k])    keyed by id
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

  /** One batch's rows of both tables, one document per id (a batch
    * carrying an id twice keeps one copy): the bands derive from the
    * same materialized signatures, so both tables of the commit agree
    * even if the input frame is non-deterministic. */
  private def batchRows(df: DataFrame, id: Column, text: Column,
                        shingleN: Int, k: Int, bands: Int): Map[String, PkTableSink.TableBatch] = {
    val docs = df.select(id.as("id"), text.as("text")).dropDuplicates("id")
    val sigs = Dedup.minhashSignatures(
      Dedup.shingleRows(docs, col("id"), col("text"), shingleN), k).localCheckpoint(true)
    Map(Sigs -> IndexTables.rows(sigs, "id"),
      Bands -> IndexTables.rows(Dedup.bandRowsOfSigs(sigs, k, bands), "id", "band"))
  }

  /** Index a corpus as version 0 (or a full rebuild). Like
    * IvfIndex.build, a rebuild REPLACES the index, so it aborts loudly
    * if a concurrent commit lands mid-build. k/bands/shingleN are
    * fixed at build time and recorded in the manifest meta — adds and
    * probes read them back, so every layer banded compatibly. */
  def build(df: DataFrame, id: Column, text: Column, root: String,
            shingleN: Int = 3, k: Int = 32, bands: Int = 8,
            writer: String = "build",
            maxAttempts: Int = 5, recoverTornAfterMs: Long = 60000L): Long = {
    require(k > 0 && bands > 0 && k % bands == 0,
      s"k ($k) must divide evenly into bands ($bands)")
    val spark = df.sparkSession
    IndexTables.optimistic(spark, root, "LshIndex.build", 1)(m =>
      IndexTables.rebuild(spark, root, m, batchRows(df, id, text, shingleN, k, bands),
        Map("shingleN" -> shingleN.toString, "k" -> k.toString, "bands" -> bands.toString),
        writer, maxAttempts, recoverTornAfterMs))
  }

  private def params(m: TxLog.Manifest): (Int, Int, Int) =
    (m.meta("shingleN").toInt, m.meta("k").toInt, m.meta("bands").toInt)

  /** Index a NEW batch as a layer of each table (crawl-increment
    * shape): signatures + band rows for the batch only — commit I/O ∝
    * batch, the existing corpus is untouched. Dedup decisions happen
    * at probe time; a re-added id replaces its signature and bands
    * (the latest commit of a key wins). If a rebuild changes the
    * banding before the claim, the batch is re-banded to match. */
  def add(df: DataFrame, id: Column, text: Column, root: String,
          writer: String = "add",
          maxAttempts: Int = 5, recoverTornAfterMs: Long = 60000L): Long = {
    val spark = df.sparkSession
    IndexTables.optimistic(spark, root, "LshIndex.add", maxAttempts) { m =>
      val p @ (n, k, b) = params(IndexTables.get(m, root, "LSH"))
      PkTableSink.mergeTxGroup(spark, root, batchRows(df, id, text, n, k, b),
        writer, maxAttempts, recoverTornAfterMs,
        onClaim = base => IndexTables.unmoved(base.map(params).contains(p))(Map.empty))
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
    val m = IndexTables.current(spark, root, "LSH")
    val (n, k, b) = params(m)
    val sigs = Dedup.minhashSignatures(
      Dedup.shingleRows(batch, id, text, n), k)
    val bandRows = Dedup.bandRowsOfSigs(sigs, k, b)
    val cand = bandRows.as("q").join(IndexTables.read(spark, m, Bands).as("c"),
        col("q.band") === col("c.band") && col("q.bh") === col("c.bh"))
      .select(col("q.id").as("new_id"), col("c.id").as("prior_id"))
      .distinct()
    val matches = size(filter(
      zip_with(col("qsig"), col("csig"), (x, y) => (x === y).cast("int")),
      x => x === 1))
    cand
      .join(sigs.select(col("id").as("new_id"), col("sig").as("qsig")), "new_id")
      .join(IndexTables.read(spark, m, Sigs)
        .select(col("id").as("prior_id"), col("sig").as("csig")), "prior_id")
      .withColumn("mk", matches)
      .where(col("mk") * thresholdDen >= lit(k) * thresholdNum)
      .select(col("new_id"), col("prior_id"),
        graft.functions.Rounding.r(col("mk").cast("double") / k, 4)
          .as("est_jaccard"))
  }

  /** Fold both tables' layers into ONE layer each, in one commit
    * (same contents, fewer files). Conflict-safe: a retry re-reads the
    * winner's layers, so a concurrent add is folded, never dropped. */
  def compact(spark: SparkSession, root: String,
              writer: String = "compact",
              maxAttempts: Int = 5, recoverTornAfterMs: Long = 60000L): Long =
    PkTableSink.compactGroup(spark, root, Seq(Sigs, Bands), writer,
      maxAttempts = maxAttempts, recoverTornAfterMs = recoverTornAfterMs)()

  /** Indexed document count at the current version. */
  def count(spark: SparkSession, root: String): Long =
    IndexTables.read(spark, IndexTables.current(spark, root, "LSH"), Sigs).count()

  /** Retention: reference-counted against kept manifests (shared
    * carried-forward dirs survive). */
  def vacuum(spark: SparkSession, root: String, keepVersions: Int = 2): Seq[Long] =
    graft.sinks.PkTableSink.vacuumTxGroup(spark, root, keepVersions)
}
