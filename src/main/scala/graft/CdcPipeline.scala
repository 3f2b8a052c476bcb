package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.cdc.{Envelope, PkTable}
import graft.streaming.CdcStream
import graft.sinks.StarRocksSink

/** End-to-end pipeline facade — the library's equivalent of wiring the
  * reference stack (register Debezium connector → Kafka topics →
  * routine load → StarRocks PK tables; see /root/reference/setup.sh,
  * register-debezium.sh, create-routine-load.sh) with one object.
  *
  * Batch path: `snapshot` + `applyChangelog` materialize a primary-key
  * table from an initial load plus captured changes. Streaming path:
  * `stream` consumes envelope JSON continuously and emits upserted key
  * states to any sink. Both share the same unwrap + latest-wins
  * semantics, so a backfill and the live tail agree.
  */
object CdcPipeline {

  /** Connector-style configuration, mirroring the knobs of
    * /root/reference/debezium-connector.json that affect data shape.
    */
  final case class Config(
      payload: StructType,
      keyField: String,
      seqField: String,
      dropTombstones: Boolean = false,
      deleteHandlingRewrite: Boolean = true)

  /** Batch: parse + unwrap a frame of envelope JSON lines. */
  def unwrapBatch(envelopes: DataFrame, jsonCol: String, cfg: Config): DataFrame = {
    val parsed = envelopes.select(
      Envelope.parse(col(jsonCol), cfg.payload).as("env"))
    Envelope.extractNewRecordState(parsed, col("env"), cfg.payload)
  }

  /** Batch: materialize a PK table = snapshot + changelog (both in the
    * payload schema + `__deleted`/`__ts_ms` markers from unwrapBatch).
    */
  def materialize(snapshot: DataFrame, unwrapped: DataFrame, cfg: Config): DataFrame = {
    val snap = snapshot
      .withColumn("__deleted", lit("false"))
      .withColumn("__op", lit(Envelope.OpRead))
      .withColumn("__ts_ms", lit(0L))
    PkTable.snapshotMerge(snap, unwrapped, Seq(cfg.keyField),
      Seq(col("__ts_ms"), col(cfg.seqField)), col("__deleted") === "true")
      .drop("__deleted", "__op", "__ts_ms")
  }

  /** Streaming: envelope JSON stream → keyed latest-state updates. */
  def stream(envelopes: DataFrame, jsonCol: String, cfg: Config): org.apache.spark.sql.Dataset[CdcStream.KeyState] =
    CdcStream.upsertStates(
      CdcStream.unwrap(envelopes, jsonCol, cfg.payload, cfg.keyField, cfg.seqField))

  /** Streaming: wire the state stream into a Stream-Load-shaped sink
    * via foreachBatch (each micro-batch ships as labeled chunks —
    * idempotent on retry, like Routine Load's label-deduplicated
    * transactions).
    */
  def toStreamLoadSink(states: org.apache.spark.sql.Dataset[CdcStream.KeyState],
                       label: String, transport: StarRocksSink.Transport): DataStreamWriter[CdcStream.KeyState] =
    states.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[CdcStream.KeyState], batchId: Long) =>
        StarRocksSink.write(batch.toDF(), s"$label-b$batchId", transport)
        ()
      }

  /** Streaming: continuously materialize the keyed states into a
    * PK lake table on the TRANSACTIONAL commit log
    * (graft.sinks.TxLog) — the lake equivalent of the StarRocks target
    * table, refreshed per micro-batch and idempotent under batch
    * replay (latest-wins by version). Multiple streaming queries — the
    * reference's concurrent Routine Load + Stream Load into one PK
    * table — can target the same root; commit races re-merge onto the
    * winner, and readers never observe a torn table. `writer` tags the
    * stream's commits in the manifest log (use distinct ids per query).
    */
  def toTxPkTableSink(states: org.apache.spark.sql.Dataset[CdcStream.KeyState],
                      root: String, writer: String,
                      maxAttempts: Int = 10): DataStreamWriter[CdcStream.KeyState] =
    states.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[CdcStream.KeyState], batchId: Long) =>
        graft.sinks.PkTableSink.mergeTx(batch.sparkSession, root, batch.toDF(),
          keyCols = Seq("key"), versionCols = Seq("versionMs", "seq"),
          deleteFlag = "deleted", writer = s"$writer-b$batchId",
          maxAttempts = maxAttempts)
        ()
      }

  /** Streaming dimension ENRICHMENT against a live PK lake table —
    * the realtime star-join (StarRocks serves it as a colocated/
    * broadcast join per query; here each micro-batch joins against the
    * dimension's CURRENT committed version): the dim is re-resolved
    * from the TxLog INSIDE foreachBatch, so an upsert landing between
    * batches is visible to the next batch — a stream-static join
    * planned once against a cached frame would serve the stale
    * snapshot forever. Reads through [[graft.sinks.TableStats
    * .readTxAnalyzed]], so an ANALYZEd dimension broadcast-joins on
    * its MEASURED size (the merge-on-read scan's estimate cannot be
    * trusted); un-analyzed versions fall back to Spark's planning.
    *
    * `left` join: facts with no dim row (yet) pass through with nulls
    * instead of silently dropping — late dimension arrival is the
    * normal CDC race and dropped facts are unrecoverable downstream.
    *
    * `dimSchema`: the dimension's schema, used when the dim root has
    * NO committed version yet (the not-yet-bootstrapped case) — the
    * batch then left-joins an empty frame OF THAT SCHEMA, so facts
    * still pass through with null dim columns instead of the
    * zero-column `dim(dimKey)` AnalysisException killing the stream.
    */
  def toEnrichedSink(facts: DataFrame, dimRoot: String,
                     factKey: String, dimKey: String,
                     dimSchema: org.apache.spark.sql.types.StructType,
                     sink: (DataFrame, Long) => Unit): DataStreamWriter[org.apache.spark.sql.Row] = {
    require(dimSchema.fieldNames.contains(dimKey),
      s"toEnrichedSink: dimSchema has no column '$dimKey' " +
        s"(has: ${dimSchema.fieldNames.mkString(", ")})")
    facts.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val dim = graft.sinks.TableStats.readTxAnalyzed(spark, dimRoot,
          spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            dimSchema))
        sink(batch.join(dim, batch(factKey) === dim(dimKey), "left"), batchId)
        ()
      }
  }
}
