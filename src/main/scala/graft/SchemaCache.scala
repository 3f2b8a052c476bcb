package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Schema cache for parquet dirs that are IMMUTABLE for the life of
  * the JVM (guide §1: measure the overhead, then remove it).
  *
  * A bare `spark.read.parquet(dir)` EAGERLY infers the schema, and the
  * footer read runs as a one-task Spark job (~50-100 ms of serial
  * driver latency at any data size — measured with ReadProbe-style
  * listeners: infer ≈ 100 ms + 1 job, `.schema(...)` ≈ 25 ms + 0
  * jobs). The Tx read paths re-open every delta dir once per consumer
  * per round, and every query re-opens its corpus tables, so the suite
  * paid hundreds of these jobs per run.
  *
  * Two ways in:
  *  - [[writeNew]] — the writer of a fresh dir records the schema it
  *    wrote. The write refuses an existing dir, so the record is the
  *    dir's schema by construction; this covers every TxLog dir the
  *    lake and the MV rounds write (`t/d/p<version>-<writer>-<nonce>`,
  *    written once, never appended, the nonce making name reuse
  *    impossible), and the unpartitioned nonce-named dirs of the LSH,
  *    IVF and graph indexes.
  *  - [[read]]/[[schemaOf]] on a miss infer once and cache. Sound only
  *    for dirs that never change content: corpus tables
  *    (`Tables.load`) and TxLog dirs written by an earlier JVM.
  *    Callers whose paths can be REWRITTEN in place (gate-level flat
  *    tables, ResultCache regeneration, MV publish generations, whose
  *    numbers a failed publish reuses) must keep using bare
  *    `spark.read.parquet`. [[invalidatePrefix]] covers the one
  *    rewrite the bench does (the 10× scaling replica).
  *
  * A cached read is plan-identical to the inferred one: a parquet read
  * returns its file schema made nullable, which is what is recorded.
  */
object SchemaCache {

  private val cache = new java.util.concurrent.ConcurrentHashMap[String, StructType]()
  // far above any real run's dir count — a leak guard, not a tuning knob
  private val MaxEntries = 100000

  private def put(dir: String, schema: StructType): Unit = {
    if (cache.size >= MaxEntries) cache.clear()
    cache.put(dir, schema)
  }

  /** `spark.read.parquet(dir)`, schema-cached: job-free once the
    * schema is recorded or inferred. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val hit = cache.get(dir)
    if (hit != null) spark.read.schema(hit).parquet(dir)
    else { val df = spark.read.parquet(dir); put(dir, df.schema); df }
  }

  /** The schema of `dir`: recorded by its writer, else inferred once
    * (one footer job) and cached. */
  def schemaOf(spark: SparkSession, dir: String): StructType = {
    val hit = cache.get(dir)
    if (hit != null) hit else read(spark, dir).schema
  }

  /** Write `df` as parquet into `dir`, which must not exist yet, with
    * the given writer `options`, and record the schema a read of the
    * dir returns — later reads skip inference entirely. */
  private[graft] def writeNew(df: DataFrame, dir: String,
                              options: Map[String, String] = Map.empty): Unit = {
    df.write.mode(SaveMode.ErrorIfExists).options(options).parquet(dir)
    put(dir, nullable(df.schema).asInstanceOf[StructType])
  }

  // Spark's `asNullable`, which is private to Spark
  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType),
      valueContainsNull = true)
    case other => other
  }

  /** Drop entries under `prefix` — for the one path the bench rewrites
    * in place (the scaling replica dir). */
  def invalidatePrefix(prefix: String): Unit = {
    val it = cache.keySet.iterator()
    while (it.hasNext) if (it.next().startsWith(prefix)) it.remove()
  }
}
