package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.sinks.Footers

/** The footer probe ([[Footers.pruneDir]]) against Spark itself:
  * for a range [lo, hi] it keeps every file in which a Spark
  * `where(c between lo and hi)` finds a row — the bounds given either
  * as typed values or as their string renderings — and it prunes, or
  * the check would hold vacuously. Types the probe does not read
  * (decimal, timestamp) keep every file. */
class ZoneMapFooterSpec extends SparkSpec {
  import spark.implicits._

  private def name(f: String) = new Path(f).getName

  /** The files in which Spark's `where(c between lo and hi)` finds a row. */
  private def sparkFiles(dir: String, c: String, lo: Any, hi: Any): Set[String] =
    spark.read.parquet(dir).where(col(c).between(lo, hi))
      .select(input_file_name()).distinct().as[String].collect().map(name).toSet

  private def probe(dir: String, c: String, lo: Any, hi: Any): Set[String] =
    Footers.pruneDir(spark, dir, c, lo, hi).map(name).toSet

  private def allFiles(dir: String): Set[String] = Footers.dataFiles(spark, dir).map(name).toSet

  /** Every pair of `bounds` (a point when equal) as typed and as
    * rendered bounds: the probe ⊇ Spark's files. Returns the smallest
    * kept set seen. */
  private def checkColumn(dir: String, c: String, bounds: Seq[Any]): Int = {
    var smallest = Int.MaxValue
    for (lo <- bounds; hi <- bounds) {
      val want = sparkFiles(dir, c, lo, hi)
      for ((l, h) <- Seq((lo, hi), (String.valueOf(lo), String.valueOf(hi)))) {
        val kept = probe(dir, c, l, h)
        assert(want.subsetOf(kept), s"$c in [$l, $h]: probe kept $kept, Spark matched in $want")
        smallest = smallest.min(kept.size)
      }
    }
    smallest
  }

  test("footer path ≡ job path: files, rows, min/max renderings, kinds") {
    val dir = TestTmp.dir("zmfooter").toString + "/d"
    // 16 rows in 4 id-range files; every column rises with id, so each
    // file covers its own range of every column. fr holds 0.3f, whose
    // double widening 0.30000001192092896 once pruned the file that
    // held it
    (0 until 16).map { i =>
      (i.toLong, i * 1.5 - 4.0, i / 10f, f"n$i%02d", i)
    }.toDF("id", "score", "fr", "name", "d")
      .withColumn("day", date_add(lit(java.sql.Date.valueOf("2024-01-01")), col("d") * 10))
      .withColumn("dec", (col("id") * 1.25).cast("decimal(10,2)"))
      .withColumn("ts", timestamp_seconds(col("id") * 3600 + 1700000000L))
      .drop("d")
      .repartitionByRange(4, col("id"))
      .write.parquet(dir)
    val total = allFiles(dir).size
    assert(total == 4)
    assert(Footers.rowCount(spark, dir).contains(16L))
    val pruning = Map(
      "id" -> Seq[Any](-1L, 3L, 4L, 15L, 99L),
      "score" -> Seq[Any](-10.0, -0.5, 2.0, 2.25, 1.0e7),
      "fr" -> Seq[Any](-1.0f, 0.3f, 0.4f, 1.5f),
      "name" -> Seq[Any]("", "n03", "n035", "n07", "z"),
      "day" -> Seq("2023-12-01", "2024-01-31", "2024-02-10", "2025-01-01")
        .map(java.sql.Date.valueOf))
    pruning.foreach { case (c, bounds) =>
      assert(checkColumn(dir, c, bounds) <= 1, s"$c: no range pruned to one file")
    }
    // the float point 0.3f is found in the one file that holds it
    val withPoint = sparkFiles(dir, "fr", 0.3f, 0.3f)
    assert(withPoint.size == 1 && probe(dir, "fr", "0.3", "0.3") == withPoint)
    // decimal and timestamp columns are not read: every file is kept
    for (lo <- Seq[Any](0, 5); hi <- Seq[Any](5, 30)) {
      assert(probe(dir, "dec", lo, hi) == allFiles(dir))
      assert(probe(dir, "ts", lo, hi) == allFiles(dir))
    }
    // an absent column, a NaN and a bound of the wrong kind keep every file
    assert(probe(dir, "absent", 1L, 2L) == allFiles(dir))
    assert(probe(dir, "score", Double.NaN, 1.0) == allFiles(dir))
    assert(probe(dir, "name", 1L, 2L) == allFiles(dir))
    assert(probe(dir, "id", "x", "y") == allFiles(dir))
  }

  test("all-null column: recorded as unprunable by both paths") {
    val dir = TestTmp.dir("zmfooter").toString + "/nulls"
    (0L until 8L).map(i => (i, Option.empty[String])).toDF("id", "v")
      .repartitionByRange(2, col("id"))
      .write.mode("overwrite").parquet(dir)
    assert(checkColumn(dir, "v", Seq("", "a", "zz")) == 0)
    // Spark finds no row in a range of an all-null column, and the
    // footers, whose null counts equal their row counts, agree
    assert(probe(dir, "v", "", "zz").isEmpty)
    assert(checkColumn(dir, "id", Seq(0L, 3L, 7L)) <= 1)
  }

  test("non-ASCII string stats force the job fallback; write() stays correct") {
    // parquet and Spark both order strings by UTF-8 bytes, so
    // non-ASCII bounds need no fallback. U+FF21 sorts before U+1F600
    // in UTF-8 but after it in UTF-16, the order Java's compareTo uses
    val dir = TestTmp.dir("zmfooter").toString + "/uni"
    val words = Seq("abc", "café", "zz", "été", "Ａ", "😀")
    // one file per word
    words.zipWithIndex.foreach { case (w, i) =>
      Seq((i.toLong, w)).toDF("id", "v").coalesce(1).write.mode("append").parquet(dir)
    }
    assert(allFiles(dir).size == words.size)
    assert(checkColumn(dir, "v", words :+ "￿") <= 1)
    // the UTF-8 order: a range up to U+FF21 excludes the emoji's file
    val emoji = sparkFiles(dir, "v", "😀", "😀")
    assert(emoji.size == 1)
    assert(probe(dir, "v", "", "Ａ").intersect(emoji).isEmpty)
  }
}
