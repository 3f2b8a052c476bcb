package graft

import org.apache.spark.sql.functions._
import graft.sinks.StarRocksSink

class SinkSpec extends SparkSpec {
  import spark.implicits._

  test("D3: stream-load sink ships all rows as labeled JSON-line chunks") {
    val dir = TestTmp.dir("srsink").toString
    val df = (1 to 100).map(i => (i.toLong, s"name_$i")).toDF("id", "name")
    val chunks = StarRocksSink.write(df, "load1", StarRocksSink.fileTransport(dir),
      maxChunkBytes = 512)
    val files = new java.io.File(dir).listFiles().toSeq
    assert(files.nonEmpty && chunks == files.length)
    assert(files.forall(_.getName.startsWith("load1-")))
    val lines = files.flatMap(f =>
      scala.io.Source.fromFile(f).getLines().toSeq)
    assert(lines.length == 100)
    assert(lines.forall(l => l.startsWith("{") && l.contains("\"id\":")))
  }

  test("D1: partitioned PK-table parquet sink round-trips") {
    val dir = TestTmp.dir("pksink").toString + "/t"
    val df = Tables.orders(spark, sfDir)
      .withColumn("order_month", date_format(col("o_orderdate"), "yyyy-MM"))
    StarRocksSink.writePkTable(df, dir, "order_month")
    val back = spark.read.parquet(dir)
    assert(back.count() == df.count())
    // partition pruning: a single-month read touches one directory
    val months = back.select("order_month").distinct().count()
    assert(months > 1)
  }

  test("incremental PK-table sink: micro-batch merges accumulate correctly") {
    import graft.sinks.{PkTableSink, TxLog}
    val root = TestTmp.dir("pkinc").toString + "/t"
    def batch(rows: (Long, Long, String, Boolean)*) =
      rows.toDF("id", "ver", "v", "del")
    def merge(df: org.apache.spark.sql.DataFrame) =
      PkTableSink.mergeTx(spark, root, df, Seq("id"), Seq("ver"), "del", writer = "w1")
    def live() = PkTableSink.readTx(spark, root, batch().drop("del"))
      .orderBy("id").select("id", "v").as[(Long, String)].collect().toSeq
    // batch 1: two inserts
    merge(batch((1L, 1L, "a", false), (2L, 1L, "b", false)))
    // batch 2: update 1, delete 2, insert 3
    merge(batch((1L, 2L, "a2", false), (2L, 2L, "x", true), (3L, 1L, "c", false)))
    val t = live()
    assert(t == Seq((1L, "a2"), (3L, "c")))
    // replaying batch 2 is idempotent
    merge(batch((1L, 2L, "a2", false), (2L, 2L, "x", true), (3L, 1L, "c", false)))
    assert(live() == t)
    assert(TxLog.current(spark, root).map(_.version).contains(2L))
  }

  test("PK-table sink vacuum keeps recent versions, never the current") {
    import graft.sinks.{PkTableSink, TxLog}
    val root = TestTmp.dir("pkvac").toString + "/t"
    def batch(rows: (Long, Long, String, Boolean)*) =
      rows.toDF("id", "ver", "v", "del")
    (1 to 4).foreach { i =>
      PkTableSink.mergeTx(spark, root, batch((i.toLong, i.toLong, s"v$i", false)),
        Seq("id"), Seq("ver"), "del", writer = "w1")
    }
    // versions 0..3 exist, current = 3; keep 2 → delete 0 and 1
    val deleted = PkTableSink.vacuumTx(spark, root, keepVersions = 2)
    assert(deleted == Seq(0L, 1L))
    assert(TxLog.current(spark, root).map(_.version).contains(3L))
    val t = PkTableSink.readTx(spark, root, batch().drop("del"))
    assert(t.count() == 4) // table content untouched
    // idempotent
    assert(PkTableSink.vacuumTx(spark, root, keepVersions = 2).isEmpty)
  }

  test("PK-table sink commit refuses to overwrite a concurrent writer's pointer") {
    import graft.sinks.{PkTableSink, TxLog}
    val root = TestTmp.dir("pkconc").toString + "/t"
    def batch(rows: (Long, Long, String, Boolean)*) =
      rows.toDF("id", "ver", "v", "del")
    PkTableSink.mergeTx(spark, root, batch((1L, 1L, "a", false)),
      Seq("id"), Seq("ver"), "del", writer = "w1")
    // our writer plans v1 on top of v0 …
    val ours = TxLog.current(spark, root).get.copy(version = 1L, baseVersion = 0L)
    // … but another writer wins the race to v1 first
    PkTableSink.mergeTx(spark, root, batch((2L, 1L, "b", false)),
      Seq("id"), Seq("ver"), "del", writer = "rival")
    // the claim must FAIL (create-exclusive), never clobber the winner
    assert(!TxLog.tryCommit(spark, root, ours))
    assert(TxLog.current(spark, root).exists(m => m.version == 1L && m.writer == "rival"))
    val t = PkTableSink.readTx(spark, root, batch().drop("del"))
      .orderBy("id").select("id", "v").as[(Long, String)].collect().toSeq
    assert(t == Seq((1L, "a"), (2L, "b")))
  }

  test("PK-table sink commit survives crash debris and legacy pointers") {
    import graft.sinks.{PkTableSink, TxLog}
    import java.nio.file.{Files, Paths}
    val root = TestTmp.dir("pkcrash").toString + "/t"
    def batch(rows: (Long, Long, String, Boolean)*) =
      rows.toDF("id", "ver", "v", "del")
    def merge(df: org.apache.spark.sql.DataFrame) =
      PkTableSink.mergeTx(spark, root, df, Seq("id"), Seq("ver"), "del", writer = "w1")
    def live() = PkTableSink.readTx(spark, root, batch().drop("del"))
      .orderBy("id").select("id", "v").as[(Long, String)].collect().toSeq
    merge(batch((1L, 1L, "a", false)))
    merge(batch((2L, 1L, "b", false)))
    // crash debris: a torn higher-version claim and an orphaned temp
    // file in the log must not affect resolution
    Files.writeString(Paths.get(root, "_log", "7.manifest"),
      s"data=$root/bogus\nbase=1\nwriter=crashed\n")
    Files.writeString(Paths.get(root, "_log", "tmp7.manifest"), "ok=true\n")
    // pointer files of the pre-log layout are inert: the log alone
    // decides the current version
    Files.writeString(Paths.get(root, "_CURRENT"), "0")
    Files.writeString(Paths.get(root, "_CURRENT.v9"), "9")
    assert(TxLog.current(spark, root).map(_.version).contains(1L))
    assert(TxLog.versions(spark, root) == Seq(0L, 1L))
    assert(live() == Seq((1L, "a"), (2L, "b")))
    // the next merge commits past the debris
    assert(merge(batch((3L, 1L, "c", false))) == 2L)
    assert(TxLog.current(spark, root).map(_.version).contains(2L))
    assert(live() == Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("D2: JSON-lines and CSV sources read with explicit schemas") {
    val dir = TestTmp.dir("src").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "a.json"),
      "{\"id\":1,\"v\":\"x\"}\n{\"id\":2,\"v\":\"y\"}\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "a.csv"),
      "id,v\n3,z\n")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))
    val j = spark.read.schema(schema).json(s"$dir/a.json")
    val c = spark.read.schema(schema).option("header", "true").csv(s"$dir/a.csv")
    assert(j.count() == 2 && c.count() == 1)
    assert(j.unionByName(c).count() == 3)
    // ORC round-trip (the other columnar lake format Spark ships)
    j.write.mode("overwrite").orc(s"$dir/orc")
    assert(spark.read.orc(s"$dir/orc").count() == 2)
  }
}
