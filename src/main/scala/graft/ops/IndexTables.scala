package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sinks.{PkTableSink, TxLog}
import graft.sinks.PkTableSink.TableBatch

/** The persisted indexes ([[IvfIndex]], [[GraphIndex]], [[LshIndex]])
  * store their tables as PK group tables under the index root's
  * manifest ([[PkTableSink.mergeTxGroup]]): keyed, with no version
  * column, so a key's latest COMMIT wins. A delete is a tombstone row,
  * an add after it resurrects the id, and a re-added id replaces its
  * row instead of duplicating it. Every read is one
  * [[graft.sinks.LayeredScan]] over the table's layers, whatever their
  * number.
  */
private[ops] object IndexTables {

  private val Gone = "__gone"

  /** Rows to upsert; the caller guarantees one row per key. */
  def rows(df: DataFrame, keys: String*): TableBatch =
    TableBatch(df.withColumn(Gone, lit(false)), keys, Nil, Gone, preCompacted = true)

  /** A batch's vectors `(id, v, n2)`, one row per id (a batch
    * carrying an id twice keeps one copy). */
  def vectors(df: DataFrame, id: Column, vec: Column): DataFrame =
    df.select(id.as("id"), Similarity.toDouble(vec).as("v")).dropDuplicates("id")
      .withColumn("n2", Similarity.normSq(col("v")))

  /** A search's query frame `(qid, qv, qn2)`. */
  def queries(df: DataFrame, qid: Column, qvec: Column): DataFrame =
    df.select(qid.as("qid"), Similarity.toDouble(qvec).as("qv"))
      .withColumn("qn2", Similarity.normSq(col("qv")))

  /** Commit tombstone rows for the ids in `ids` as one layer of the
    * `vectors` table of the `kind` index at `root`. */
  def delete(spark: SparkSession, root: String, kind: String, ids: DataFrame, idCol: Column,
             writer: String, maxAttempts: Int, recoverTornAfterMs: Long): Long = {
    current(spark, root, kind)
    PkTableSink.mergeTxGroup(spark, root, Map("vectors" -> TableBatch(
        ids.select(idCol.cast("long").as("id")).distinct().withColumn(Gone, lit(true)),
        Seq("id"), Nil, Gone, preCompacted = true)),
      writer, maxAttempts, recoverTornAfterMs)
  }

  def current(spark: SparkSession, root: String, kind: String): TxLog.Manifest =
    get(TxLog.current(spark, root), root, kind)

  def get(m: Option[TxLog.Manifest], root: String, kind: String): TxLog.Manifest =
    m.getOrElse(throw new IllegalStateException(s"no committed $kind index under $root"))

  /** Live rows of `table` at `m`, narrowed to `project` (key columns
    * included) when given. */
  def read(spark: SparkSession, m: TxLog.Manifest, table: String,
           project: Option[Seq[String]] = None): DataFrame =
    PkTableSink.readGroupAt(spark, Some(m), table, spark.emptyDataFrame, project)

  /** Every live-flagged row of `table` at `m`, unmerged: one layered
    * scan with no latest-per-key shuffle, for a reader that tolerates
    * a key repeated across layers. */
  def stored(spark: SparkSession, m: TxLog.Manifest, table: String): DataFrame =
    PkTableSink.layersAt(spark, Some(m), table, Gone).get.where(!col(Gone)).drop(Gone)

  /** A drift counter of the manifest meta (0 when absent). */
  def counter(m: Option[TxLog.Manifest], key: String): Long =
    m.flatMap(_.meta.get(key)).fold(0L)(_.toLong)

  /** Thrown in a claim whose base moved off the manifest its verb
    * computed from ([[unmoved]]); [[optimistic]] re-runs the verb. */
  private object Moved extends RuntimeException(null, null, false, false)

  /** A claim of a verb under [[optimistic]]: its `meta` when `ok` —
    * the claimed base is still what the verb's rows were computed
    * from — else the claim aborts (its dirs deleted). */
  def unmoved(ok: Boolean)(meta: => Map[String, String]): Map[String, String] =
    if (ok) meta else throw Moved

  /** Optimistic concurrency for a verb whose rows depend on what it
    * read: `verb` computes from the current manifest and commits with
    * [[unmoved]] in its claim; when a foreign commit moved the base
    * meanwhile, the verb re-runs against the new current version, at
    * most `attempts` times, and then throws. `attempts = 1` is a full
    * build's rule: replacing the index over a commit it never saw
    * would silently drop that commit's data, so it aborts instead. */
  def optimistic(spark: SparkSession, root: String, op: String, attempts: Int)(
      verb: Option[TxLog.Manifest] => Long): Long = {
    def run(n: Int): Long =
      try verb(TxLog.current(spark, root))
      catch {
        case Moved if n < attempts => run(n + 1)
        case Moved => throw new IllegalStateException(
          s"$op: a concurrent commit landed on $root while it computed, $n time(s) — " +
            "re-run it against the new current version")
      }
    run(1)
  }

  /** Replace the tables of `batches` with their rows alone and set
    * `meta` — a full (re)build, computed from manifest `m` of `root`
    * inside [[optimistic]]. */
  def rebuild(spark: SparkSession, root: String, m: Option[TxLog.Manifest],
              batches: Map[String, TableBatch], meta: Map[String, String], writer: String,
              maxAttempts: Int, recoverTornAfterMs: Long): Long =
    PkTableSink.mergeTxGroup(spark, root, batches, writer, maxAttempts, recoverTornAfterMs,
      replace = batches.keySet,
      onClaim = base => unmoved(base.map(_.version) == m.map(_.version))(meta))
}
