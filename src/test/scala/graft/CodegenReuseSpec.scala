package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.cdc.{MaterializedAgg, MaterializedJoin, MaterializedTopK}
import graft.sinks.PkTableSink

/** Steady maintenance rounds reuse their generated code: an MV round
  * reads its tables' layers as one scan whatever their count, and the
  * codegen cache holds the round's classes, so a round compiles only
  * what differs in it (its `batch_id` literal). */
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

  // three of five customers per round, one of them renamed
  private def custs(i: Int): DataFrame = (0 until 3).map { j =>
    val c = ((i + j) % 5).toLong
    (c, i.toLong, s"s${(c + i) % 2}", false)
  }.toDF("cid", "cver", "seg", "cdel")

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

  test("agg, min/max, top-k and join rounds 2-6 compile at most 2 classes each") {
    val sums = Seq("total" -> col("v"))
    val exts = Seq(MaterializedAgg.Extremum("lo", col("v"), isMin = true),
      MaterializedAgg.Extremum("hi", col("v"), isMin = false))
    val kernels = Seq[(String, (String, Int) => Boolean)](
      "agg" -> ((r, i) => MaterializedAgg.maintainTx(r, batch(i), i.toLong, Seq("k"),
        Seq("ver"), col("del"), Seq("g"), sums, writer = "job")),
      "min/max" -> ((r, i) => MaterializedAgg.maintainMinMaxTx(r, batch(i), i.toLong, Seq("k"),
        Seq("ver"), col("del"), Seq("g"), sums, exts, writer = "job")),
      "top-k" -> ((r, i) => MaterializedTopK.maintainTx(r, batch(i), i.toLong, Seq("k"),
        Seq("ver"), col("del"), Seq("g"), col("v"), k = 2, writer = "job")),
      "join" -> ((r, i) => MaterializedJoin.maintainAggTx(r, Seq(
          MaterializedJoin.BatchIn("o", batch(i).withColumn("c", col("k") % 5), Seq("k"),
            Seq("ver"), col("del")),
          MaterializedJoin.BatchIn("c", custs(i), Seq("cid"), Seq("cver"), col("cdel"))),
        Seq("c" -> "cid"), Seq("seg", "v"), Seq("seg"), sums, i.toLong, writer = "job")))
    val counts = kernels.map { case (name, round) =>
      // a first root's first two rounds: a first round has no layers to
      // read, so the lake-side code first runs, and compiles, in the
      // second; from then on the plan is the same at every depth
      val warm = TestTmp.dir("codegen").toString + "/warm"
      (1 to 2).foreach(i => assert(round(warm, i)))
      val root = TestTmp.dir("codegen").toString + "/mv"
      name -> (1 to 6).map { i => val c0 = compiles(); assert(round(root, i)); compiles() - c0 }
    }
    assert(counts.forall(_._2.drop(1).forall(_ <= 2)), counts.map { case (k, c) =>
      s"$k compiles in rounds 1-6: ${c.mkString(", ")}" }.mkString("; "))
  }

  test("IVF and graph index searches after 40 adds run the jobs and compile the " +
    "classes of a search after 2") {
    // a layered read's plan is the same at every depth; an N-way union
    // of the layers would add a branch, and its classes, per add. A
    // search follows every add, so the search's classes stay recently
    // used in the codegen cache: only a plan that changes with depth
    // compiles anew, not one the adds' own classes pushed out
    import graft.ops.{GraphIndex, IvfIndex}
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.where(col("vec_id") % 50 === 0)
      .select((col("vec_id") + 100000L).as("qid"), col("embedding").as("qvec"))
    def one(i: Int) = emb.where(col("vec_id") === 200L + i)
    // (jobs, compiles) of one search
    def cost(search: => DataFrame): (Int, Long) = {
      val c0 = compiles()
      val (_, jobs) = JobCount(spark)(search.collect())
      (jobs, compiles() - c0)
    }
    val indexes = Seq[(String, String => Unit, (String, Int) => Unit, String => DataFrame)](
      ("ivf",
        r => IvfIndex.build(emb.where(col("vec_id") < 200), col("vec_id"), col("embedding"), r,
          k = 4),
        (r, i) => IvfIndex.add(one(i), col("vec_id"), col("embedding"), r),
        r => IvfIndex.search(spark, r, queries, col("qid"), col("qvec"), k = 3, nprobe = 2)),
      ("graph",
        r => GraphIndex.build(emb.where(col("vec_id") < 200), col("vec_id"), col("embedding"), r),
        (r, i) => GraphIndex.add(one(i), col("vec_id"), col("embedding"), r),
        r => GraphIndex.search(spark, r, queries, col("qid"), col("qvec"), k = 3)))
    indexes.foreach { case (name, build, add, search) =>
      val root = TestTmp.dir("codegen").toString + s"/$name"
      build(root)
      (0 until 2).foreach(add(root, _))
      search(root).collect() // warm: the first search compiles its plan
      val at2 = cost(search(root))
      (2 until 39).foreach { i => add(root, i); search(root).collect() }
      add(root, 39)
      val at40 = cost(search(root))
      // compiles are counted JVM-wide, so allow the MV cases' 2 strays
      assert(at40._1 == at2._1 && at40._2 <= at2._2 + 2,
        s"$name (jobs, compiles) after 2 adds $at2, after 40 $at40")
    }
  }
}
