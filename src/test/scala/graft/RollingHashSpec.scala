package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.graftshim.DatasetShim
import graft.functions.{CdcBoundaries, CdcBoundariesImpl}
import org.apache.spark.unsafe.types.UTF8String

/** Pins the CdcBoundaries rolling-hash kernel to the per-window
  * polynomial SUM the DuckDB oracle replays — the BpeEncode pattern:
  * the kernel and the oracle can only change together or this fails.
  */
class RollingHashSpec extends SparkSpec {
  import spark.implicits._

  private val K = 8
  private val Base = 31L
  private val Mod = 61L

  /** The oracle's form: exact 8-term window sum per position. */
  private def bruteBoundaries(s: String): Seq[Int] = {
    val cp = s.codePoints().toArray
    (K to cp.length).filter { i =>
      val h = (0 until K).map(j => cp(i - K + j) * math.pow(Base.toDouble, (K - 1 - j).toDouble).toLong).sum
      h % Mod == 0
    }
  }

  test("kernel == per-window polynomial sum on synthetic + non-BMP strings") {
    val samples = Seq(
      "", "a", "short", "abcdefg", "abcdefgh",
      "the quick brown fox jumps over the lazy dog " * 20,
      "aaaaaaaaaaaaaaaaaaaaaaaaaaaa",
      "mixed 123 punctuation!? and\ttabs\nnewlines " * 10,
      // non-BMP: each emoji is ONE codepoint position on both engines
      "surrogate 😀 pairs 🚀 in the middle of text padded out to length")
    samples.foreach { s =>
      val got = CdcBoundariesImpl.compute(UTF8String.fromString(s), K, Base, Mod)
        .toIntArray().toSeq
      assert(got == bruteBoundaries(s), s"mismatch on ${s.take(40)}…")
    }
  }

  test("kernel column == spelled-out window-sum SQL form on real documents") {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val kernel = docs.withColumn("bnds",
      GraftSqlBridge.column(CdcBoundaries(DatasetShim.expression(col("text")))))
    // the same rule written the oracle's way: filter positions k..L by
    // the exact 8-term polynomial (ascii(substring) = DuckDB ord)
    val weights = (0 until K).map(j => math.pow(Base.toDouble, (K - 1 - j).toDouble).toLong)
    val spelled = docs
      .withColumn("L", length(col("text")))
      .withColumn("bnds2",
        when(col("L") >= K,
          filter(sequence(lit(K), col("L")), i =>
            weights.zipWithIndex.map { case (w, j) =>
              ascii(col("text").substr(i - (K - 1 - j), lit(1))) * lit(w)
            }.reduce(_ + _) % Mod === 0))
          .otherwise(array().cast("array<int>")))
    val diff = kernel.join(spelled.select(col("doc_id"), col("bnds2")), "doc_id")
      .where(not(col("bnds") <=> col("bnds2").cast("array<int>")))
      .count()
    assert(diff == 0, s"$diff documents disagree between kernel and SQL form")
    // sanity: the rule actually cuts (avg chunk ≈ mod chars on prose)
    val nB = kernel.select(sum(size(col("bnds")))).as[Long].head()
    assert(nB > 0, "no boundaries found on the corpus")
  }

  test("SQL surface: cdc_boundaries(text) == the kernel column; config must be literal") {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    docs.createOrReplaceTempView("rh_docs")
    val viaSql = spark.sql(
      "SELECT doc_id, cdc_boundaries(text) AS b FROM rh_docs")
    val viaKernel = docs.withColumn("b2",
      GraftSqlBridge.column(CdcBoundaries(DatasetShim.expression(col("text")))))
    val diff = viaSql.join(viaKernel.select(col("doc_id"), col("b2")), "doc_id")
      .where(not(col("b") <=> col("b2"))).count()
    assert(diff == 0)
    // the kernel runs inside whole-stage codegen — the `*(n)` stage
    // marker must sit on the Project computing the boundaries
    val plan = viaSql.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
        l.contains("cdc_boundaries") && l.trim.startsWith("*(")),
      s"boundary pass fell out of codegen:\n${plan.take(600)}")
    // explicit config args work; non-literal / NULL config is a named error
    assert(spark.sql("SELECT cdc_boundaries('abcdefghij', 8, 31, 61) AS b")
      .collect().nonEmpty)
    val e1 = intercept[Exception](
      spark.sql("SELECT cdc_boundaries(text, length(text)) FROM rh_docs").collect())
    assert(e1.getMessage.contains("literal"))
    val e2 = intercept[Exception](
      spark.sql("SELECT cdc_boundaries('abc', NULL) AS b").collect())
    assert(e2.getMessage.contains("non-NULL"))
  }

  test("config guard: a base^k that could overflow Int64 is refused at construction") {
    // base=31,k=8 is proven safe; base=127,k=8 would overflow for high
    // codepoints — the kernel must refuse rather than wrap silently
    val e = intercept[IllegalArgumentException] {
      CdcBoundaries(DatasetShim.expression(lit("x")), k = 8, base = 127L)
    }
    assert(e.getMessage.contains("overflow"))
    // custom-but-safe config works end to end
    val got = CdcBoundariesImpl.compute(
      UTF8String.fromString("abcdefghij"), 4, 7L, 3L).toIntArray().toSeq
    val brute = {
      val cp = "abcdefghij".codePoints().toArray
      (4 to cp.length).filter { i =>
        (0 until 4).map(j => cp(i - 4 + j) * math.pow(7.0, (3 - j).toDouble).toLong)
          .sum % 3 == 0
      }
    }
    assert(got == brute)
  }

  test("content-defined property: an insertion shifts O(1) chunks, not all downstream") {
    val base = "it was the best of times it was the worst of times " * 8
    val edited = base.patch(10, "XYZ", 0) // insert near the front
    def chunks(s: String): Seq[String] = {
      val b = CdcBoundariesImpl.compute(UTF8String.fromString(s), K, Base, Mod)
        .toIntArray().toSeq
      val starts = 1 +: b.map(_ + 1)
      val ends = b :+ s.codePoints().toArray.length
      starts.zip(ends).collect { case (st, en) if st <= en =>
        new String(s.codePoints().toArray, st - 1, en - st + 1) }
    }
    val a = chunks(base).toSet
    val b = chunks(edited).toSet
    // all chunks after the edit's chunk re-align: the two docs share
    // most chunks (fixed-width blocking would share none)
    val shared = a.intersect(b).size
    assert(shared >= a.size - 3,
      s"expected O(1) chunk churn, shared $shared of ${a.size}")
  }
}
