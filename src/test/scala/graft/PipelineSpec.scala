package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.sinks.StarRocksSink

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val payload = StructType(Seq(
    StructField("id", LongType), StructField("seq", LongType),
    StructField("v", StringType)))
  private val cfg = CdcPipeline.Config(payload, keyField = "id", seqField = "seq")

  private def env(id: Long, seq: Long, v: String, op: String, tsMs: Long): String = {
    val img = s"""{"id":$id,"seq":$seq,"v":"$v"}"""
    val (before, after) = if (op == "d") (img, "null") else ("null", img)
    s"""{"before":$before,"after":$after,"op":"$op","ts_ms":$tsMs}"""
  }

  test("batch: snapshot + changelog materializes like the reference pipeline") {
    val snapshot = Seq((1L, 0L, "s1"), (2L, 0L, "s2")).toDF("id", "seq", "v")
    val changes = Seq(
      env(2, 1, "u2", "u", 100),  // update key 2
      env(3, 1, "n3", "c", 100),  // insert key 3
      env(1, 1, "x", "d", 100))   // delete key 1
      .toDF("json")
    val table = CdcPipeline.materialize(snapshot,
      CdcPipeline.unwrapBatch(changes, "json", cfg), cfg)
      .orderBy("id").select("id", "v").as[(Long, String)].collect().toSeq
    assert(table == Seq((2L, "u2"), (3L, "n3")))
  }

  test("replay idempotency: materializing the same changelog twice gives the same table") {
    val snapshot = Seq((1L, 0L, "s1"), (2L, 0L, "s2")).toDF("id", "seq", "v")
    val changes = Seq(env(2, 1, "u2", "u", 100), env(3, 1, "n3", "c", 100)).toDF("json")
    val once = CdcPipeline.materialize(snapshot,
      CdcPipeline.unwrapBatch(changes, "json", cfg), cfg)
    // at-least-once upstream: the tail is delivered again
    val replayed = CdcPipeline.unwrapBatch(changes.union(changes), "json", cfg)
    val twice = CdcPipeline.materialize(snapshot, replayed, cfg)
    assert(once.orderBy("id").collect().toSeq == twice.orderBy("id").collect().toSeq)
  }

  test("schema evolution: widened payload types absorb old messages") {
    val old = Seq("""{"id":1,"seq":1,"v":"x","amount":42}""").toDF("json")
    val widened = StructType(Seq(
      StructField("id", LongType), StructField("seq", LongType),
      StructField("v", StringType), StructField("amount", DoubleType)))
    val out = graft.cdc.RoutineLoad.fromJsonTyped(old, col("json"), widened).collect()(0)
    assert(out.getAs[Double]("amount") == 42.0) // int literal read into widened double
  }

  test("streaming: states materialize into the versioned PK lake table") {
    implicit val sqlCtx = spark.sqlContext
    val root = TestTmp.dir("pipe_pk").toString + "/t"
    val input = MemoryStream[String]
    input.addData(env(1, 1, "a", "c", 10), env(2, 1, "b", "c", 10))
    val q = CdcPipeline.toTxPkTableSink(
      CdcPipeline.stream(input.toDF().withColumnRenamed("value", "json"), "json", cfg),
      root, writer = "pipe")
      .option("checkpointLocation", root + "_ckpt").start()
    q.processAllAvailable()
    input.addData(env(1, 2, "a2", "u", 20), env(2, 2, "b", "d", 30)) // update 1, delete 2
    q.processAllAvailable(); q.stop()
    val t = graft.sinks.PkTableSink.readTx(spark, root,
      spark.emptyDataFrame).orderBy("key").collect()
    assert(t.length == 1)
    assert(t(0).getAs[Long]("key") == 1L && t(0).getAs[String]("payload").contains("a2"))
  }

  test("streaming: envelope stream lands in the stream-load sink as chunks") {
    implicit val sqlCtx = spark.sqlContext
    val dir = TestTmp.dir("pipe").toString
    val input = MemoryStream[String]
    // data must exist before start: AvailableNow snapshots offsets at start
    input.addData(env(1, 1, "a", "c", 10), env(2, 1, "b", "c", 10), env(2, 2, "b2", "u", 20))
    val q = CdcPipeline.toStreamLoadSink(
      CdcPipeline.stream(input.toDF().withColumnRenamed("value", "json"), "json", cfg),
      label = "t", transport = StarRocksSink.fileTransport(dir))
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", dir + "/_ckpt")
      .start()
    q.processAllAvailable(); q.stop()
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".json"))
    val lines = files.flatMap(f => scala.io.Source.fromFile(f).getLines())
    // payload is a JSON string field, so inner quotes arrive escaped
    assert(lines.exists(_.contains("b2")))
    assert(lines.count(_.contains("\"key\":1")) == 1)
  }
}
