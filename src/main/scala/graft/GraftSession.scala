package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's tuned defaults.
  *
  * Local testing runs `local[N]`; the same settings are what we would
  * ship on a 1000-executor cluster, with `shuffle.partitions` sized to
  * ~2-3x total cores and AQE coalescing handling the rest at runtime.
  *
  * Cluster sizing notes (1000 executors × 4 cores, ~100 TB inputs):
  *  - `spark.sql.shuffle.partitions` ≈ 8000-12000 (2-3× cores); AQE
  *    coalesces small post-shuffle partitions, so err high.
  *  - `spark.sql.files.maxPartitionBytes` at the default 128 MB keeps
  *    ~800k scan tasks for 100 TB — fine; raise to 256 MB if task
  *    startup dominates.
  *  - `autoBroadcastJoinThreshold` 64 MB: every dimension in this
  *    schema (region/nation/supplier/part) broadcasts even at SF 100k.
  *  - skew: AQE skew-join splitting is on; for aggregation skew use
  *    `PkTable.compactSalted`.
  *  - executor memory ≥ 4 GB/core so a 128 MB scan partition plus its
  *    shuffle buffers never spill on the common path.
  */
object GraftSession {
  /** @param maxPartitionBytes scan split size. Cluster default 128m;
    *   local test corpora are single small parquet files, which would
    *   otherwise arrive as ONE scan partition and serialize per-row
    *   work (JSON codecs etc.) onto one task — test mains pass "4m".
    */
  def builder(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]",
              shufflePartitions: Int = 32,
              maxPartitionBytes: String = "128m"): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.files.maxPartitionBytes", maxPartitionBytes)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.filterPushdown", "true")
      // test corpus stores events.ts as TIMESTAMP(NANOS); read as long
      // nanos and convert at the loader (Tables.events)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Janino compiles a generated class in 4-5 ms; the cache, keyed
      // by the generated source, is what lets a steady round reuse it.
      // Measured working set: one perfbench fresh_mixed cycle (lake
      // merge, MV round, publish, point/range/MV-SQL reads) touches
      // 150-175 distinct classes. With the cache at 100, 125 or 150
      // entries steady batches recompiled 30-100 classes each, as
      // least-recently-used eviction dropped them before the next
      // batch; at 175 and above, 2 (CodegenMetrics counts per span,
      // 4 vCPUs). 400 holds that set with room for the query mix;
      // larger only adds heap. Static: read once, at first codegen.
      .config("spark.sql.codegen.cache.maxEntries", "400")
      // A generated class is named for its whole-stage codegen stage
      // number by default, and the name is part of the cached source:
      // a plan that gains or loses a stage upstream renumbers, and so
      // recompiles, every stage after it. Without the number, equal
      // stages share one cached class. Measured with graft.JobProfile
      // (sf0.01, 4 vCPUs, compiles of a timed run after a warm one):
      // mv_star_incremental 34 → 0, mv_join_rewrite 44 → 0 and
      // cdc_mv_join_agg 30 → 0 with this setting alone, and 0 on all
      // 19 MV gates with it. The cost: stack traces and codegen dumps
      // no longer name the stage (the `codegenStageId` comment in a
      // dump still does).
      .config("spark.sql.codegen.useIdInClassName", "false")

  /** Post-create session setup that the Builder API cannot express:
    * registers the SQL-named aggregate surface (bitmap_* / mg_sketch —
    * [[graft.functions.SqlFunctions]]). Idempotent; call on every
    * session handed to SQL users. */
  def ready(spark: SparkSession): SparkSession = {
    graft.functions.SqlFunctions.register(spark)
    spark
  }

  def get(): SparkSession = {
    val spark = ready(builder().getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
