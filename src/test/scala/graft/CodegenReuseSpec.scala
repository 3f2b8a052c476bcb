package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.cdc.MaterializedAgg
import graft.sinks.PkTableSink

/** Steady maintenance rounds reuse their generated code: merge-on-read
  * is one layered scan whatever the delta depth, and the codegen cache
  * holds the round's classes, so a round compiles only what differs in
  * it (its `batch_id` literal). */
class CodegenReuseSpec extends SparkSpec {
  import spark.implicits._

  // Janino compiles, JVM-wide (driver and local executors)
  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  // twelve distinct keys out of 20 per round: inserts, updates that
  // move a key's group, and deletes
  private def batch(i: Int): DataFrame = (0 until 12).map { j =>
    val k = ((i * 7 + j) % 20).toLong
    (k, i.toLong, s"g${(k + i) % 4}", (i * 10 + j).toDouble, j % 5 == 4)
  }.toDF("k", "ver", "g", "v", "del")

  test("MaterializedAgg rounds 4-6 on one root compile at most 2 classes each") {
    val root = TestTmp.dir("codegen").toString + "/mv"
    def round(i: Int): Unit = assert(MaterializedAgg.maintainTx(root, batch(i), i.toLong,
      Seq("k"), Seq("ver"), col("del"), Seq("g"), Seq("total" -> col("v")), writer = "job"))
    (1 to 3).foreach(round)
    val perRound = (4 to 6).map { i => val c0 = compiles(); round(i); compiles() - c0 }
    assert(perRound.forall(_ <= 2), s"compiles in rounds 4-6: ${perRound.mkString(", ")}")
    // and the rounds stay exact
    val latest = (1 to 6).flatMap(i => batch(i).as[(Long, Long, String, Double, Boolean)]
      .collect()).groupBy(_._1).values.map(_.maxBy(_._2))
    val want = latest.filterNot(_._5).groupBy(_._3).map { case (g, rs) =>
      g -> ((rs.size.toLong, rs.map(_._4).sum)) }
    val got = PkTableSink.readTxGroup(spark, root, "mv", batch(1))
      .select(col("g"), col("n"), col("total")).as[(String, Long, Double)].collect()
      .map { case (g, n, t) => g -> ((n, t)) }.toMap
    assert(got == want)
  }
}
