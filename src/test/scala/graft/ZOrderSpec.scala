package graft

import org.apache.spark.sql.functions._
import graft.sinks.{PkTableSink, ZOrder}

/** D18: Z-order compaction — multi-column zone-map pruning on the
  * transactional PK lake. */
class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  // 4096 rows over a 64×64 (a, b) grid in row-major id order: sorted
  // by id (≡ a-major) every file is a slab of a — a range on b matches
  // ALL files; z-ordered, files are rectangles and both prune.
  private def grid() = (0L until 4096L)
    .map(i => (i, 1L, i / 64L, i % 64L, s"v$i", false))
    .toDF("id", "ver", "a", "b", "v", "del")

  private def freshRoot() =
    TestTmp.dir("zorder").toString + "/t"

  test("morton2 interleaves bits: x even, y odd, full 32-bit range") {
    val got = spark.range(1).select(
      ZOrder.morton2(lit(3L), lit(0L)).as("m30"),
      ZOrder.morton2(lit(0L), lit(3L)).as("m03"),
      ZOrder.morton2(lit(0xffffL), lit(0xffffL)).as("mff"),
      ZOrder.morton2(lit(1L), lit(1L)).as("m11")).head()
    assert(got.getLong(0) === 0x5L)          // 0b0101
    assert(got.getLong(1) === 0xaL)          // 0b1010
    assert(got.getLong(2) === 0xffffffffL)   // all 32 bits
    assert(got.getLong(3) === 0x3L)
  }

  test("bucket16 clamps and degrades on degenerate bounds") {
    val got = spark.range(1).select(
      ZOrder.bucket16(lit(5.0), 0.0, 10.0).as("mid"),
      ZOrder.bucket16(lit(-3.0), 0.0, 10.0).as("lo"),
      ZOrder.bucket16(lit(42.0), 0.0, 10.0).as("hi"),
      ZOrder.bucket16(lit(7.0), 7.0, 7.0).as("const")).head()
    assert(got.getLong(0) === 32767L)
    assert(got.getLong(1) === 0L && got.getLong(2) === 65535L)
    assert(got.getLong(3) === 0L)
  }

  test("z-order compaction prunes ranges on BOTH columns; key sort does not") {
    val rootK = freshRoot(); val rootZ = freshRoot()
    for (root <- Seq(rootK, rootZ))
      PkTableSink.mergeTx(spark, root, grid(), Seq("id"), Seq("ver"), "del",
        writer = "w")
    PkTableSink.compactTx(spark, rootK, "w", targetRowsPerFile = 256)
    PkTableSink.compactTxZOrder(spark, rootZ, "w", Seq("a", "b"),
      targetRowsPerFile = 256)

    // key-sorted baseline: id-major files are a-slabs, so a narrow b
    // range intersects every file
    val (scanKb, totalK) = PkTableSink.pruneStatsOn(spark, rootK, "b", 10, 13)
    assert(totalK >= 12, s"expected a many-file base, got $totalK")
    assert(scanKb.size === totalK, "key-sorted layout cannot prune on b")

    // z-ordered: both a and b ranges prune to a strict subset (~√F
    // of F files for a narrow range; allow slack for bucket edges)
    val (scanZa, totalZ) = PkTableSink.pruneStatsOn(spark, rootZ, "a", 10, 13)
    val (scanZb, _)      = PkTableSink.pruneStatsOn(spark, rootZ, "b", 10, 13)
    assert(totalZ >= 12, s"expected a many-file base, got $totalZ")
    assert(scanZa.size <= totalZ / 2,
      s"a-range should prune, scans ${scanZa.size}/$totalZ")
    assert(scanZb.size <= totalZ / 2,
      s"b-range should prune, scans ${scanZb.size}/$totalZ")
  }

  test("N-column z-order: ranges on EACH of three columns prune; row parity holds") {
    // 4096 rows over a 16×16×16 (a, b, c) cube in a-major order
    val cube = (0L until 4096L)
      .map(i => (i, 1L, i / 256L, (i / 16L) % 16L, i % 16L, false))
      .toDF("id", "ver", "a", "b", "c", "del")
    val root = freshRoot()
    PkTableSink.mergeTx(spark, root, cube, Seq("id"), Seq("ver"), "del",
      writer = "w")
    PkTableSink.compactTxZOrder(spark, root, "w", Seq("a", "b", "c"),
      targetRowsPerFile = 256)
    // each dimension's narrow range intersects only a strict subset of
    // files (boxes, not slabs) — F^(2/3) ideally, assert ≤ 3/4 with
    // bucket-edge slack
    for (dim <- Seq("a", "b", "c")) {
      val (scan, total) = PkTableSink.pruneStatsOn(spark, root, dim, 3, 4)
      assert(total >= 12, s"expected a many-file base, got $total")
      assert(scan.size <= total * 3 / 4,
        s"$dim-range should prune, scans ${scan.size}/$total")
    }
    // pruned read ≡ full read filtered, on every dimension
    for (dim <- Seq("a", "b", "c")) {
      val pruned = PkTableSink.readTxRangeOn(spark, root,
          spark.emptyDataFrame, dim, 3, 4)
        .select(col("id")).as[Long].collect().toSet
      val full = PkTableSink.readTx(spark, root, spark.emptyDataFrame)
        .where(col(dim) >= 3 && col(dim) <= 4)
        .select(col("id")).as[Long].collect().toSet
      assert(pruned == full && full.nonEmpty, s"$dim parity")
    }
    // the interleave itself round-trips: mortonN bit positions
    val z = spark.range(1).select(ZOrder.mortonN(Seq(lit(1L), lit(2L), lit(4L)))
      .as("z")).as[Long].head()
    // bit 0 of col0 -> pos 0; bit 1 of col1 -> pos 4; bit 2 of col2 -> pos 8
    assert(z == ((1L << 0) | (1L << 4) | (1L << 8)), s"z=$z")
    // 2-5 column arity is enforced
    intercept[IllegalArgumentException](ZOrder.mortonN(Seq(lit(1L))))
    intercept[IllegalArgumentException](
      ZOrder.mortonN(Seq(lit(1L), lit(1L), lit(1L), lit(1L), lit(1L))))
  }

  test("readTxRangeOn ≡ full read filtered; unpruned-but-correct with deltas") {
    val root = freshRoot()
    PkTableSink.mergeTx(spark, root, grid(), Seq("id"), Seq("ver"), "del",
      writer = "w")
    PkTableSink.compactTxZOrder(spark, root, "w", Seq("a", "b"),
      targetRowsPerFile = 256)
    def expect() = PkTableSink.readTx(spark, root, grid().drop("del"))
      .where(col("b").between(20, 24))
      .select("id", "a", "b", "v").as[(Long, Long, Long, String)].collect().toSet
    def got() = PkTableSink.readTxRangeOn(spark, root, grid().drop("del"),
      "b", 20, 24)
      .select("id", "a", "b", "v").as[(Long, Long, Long, String)].collect().toSet
    assert(got() === expect())
    assert(got().size === 64 * 5)
    // a delta updates a row INTO the probed b-range and deletes one in
    // it; the fallback path must see both (this is exactly the case
    // base-pruning on a non-key column would get wrong)
    PkTableSink.mergeTx(spark, root,
      Seq((0L, 2L, 0L, 22L, "moved", false), (1300L, 2L, 20L, 20L, "", true))
        .toDF("id", "ver", "a", "b", "v", "del"),
      Seq("id"), Seq("ver"), "del", writer = "w")
    val after = got()
    assert(after === expect())
    assert(after.exists(_ == (0L, 0L, 22L, "moved")) && !after.exists(_._1 == 1300L))
    // compacting folds the delta; pruning resumes
    PkTableSink.compactTxZOrder(spark, root, "w", Seq("a", "b"),
      targetRowsPerFile = 256)
    assert(got() === expect())
  }
}
