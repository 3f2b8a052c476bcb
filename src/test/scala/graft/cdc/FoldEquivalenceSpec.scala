package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.{SparkSpec, TestTmp}
import graft.sinks.{PkTableSink, TxLog}

/** The one-pass fold of an MV round (the key-state's stored layers and
  * the batch in one aggregate) against two references on random lakes:
  * a from-scratch recompute of every delivered row, and the two-pass
  * step it replaced (a full latest-per-key merge, then the touched keys
  * semi-joined out of the old and new states). Every transactional
  * kernel — sum/count, min/max, top-k, join — must match both. */
class FoldEquivalenceSpec extends SparkSpec {
  import spark.implicits._
  import FoldEquivalenceSpec.{Cust, Ord}

  /** Rounds of distinct-key batches over small key and version spaces:
    * deletes, equal versions in different rounds (the later round wins,
    * as the next round's layered read decides), late older versions. */
  private def lake(seed: Int, rounds: Int): Seq[(Seq[Ord], Seq[Cust])] = {
    val rnd = new scala.util.Random(seed)
    (1 to rounds).map { r =>
      val ords = rnd.shuffle((0L until 25L).toList).take(6 + rnd.nextInt(5)).map(k =>
        Ord(k, rnd.nextInt(4) + r / 8, "g" + rnd.nextInt(3), rnd.nextInt(100).toLong,
          rnd.nextInt(5) == 0, rnd.nextInt(6).toLong))
      val custs = rnd.shuffle((0L until 6L).toList).take(1 + rnd.nextInt(3)).map(c =>
        Cust(c, rnd.nextInt(3) + r / 8, "s" + rnd.nextInt(2), rnd.nextInt(7) == 0))
      (ords, custs)
    }
  }

  // latest row per key over rounds, equal versions going to the later round
  private def latest[R, K](rounds: Seq[Seq[R]], key: R => K, ver: R => Long): Map[K, R] =
    rounds.zipWithIndex.flatMap { case (rs, i) => rs.map(r => (r, i)) }
      .groupBy(x => key(x._1)).map { case (k, xs) => k -> xs.maxBy(x => (ver(x._1), x._2))._1 }

  /** The step the fold replaced: latest per key over state ∪ batch
    * (equal versions ordered by round, the layered read's order), then
    * the touched keys' live rows semi-joined out of each state. */
  private def twoPass(state: DataFrame, batch: DataFrame, round: Int, key: String,
                      ver: String, del: String): MaterializedAgg.Step = {
    import MaterializedAgg.{Del, Sign}
    val withDel = batch.withColumn(Del, col(del)).withColumn("__pos", lit(round.toLong))
    val newState = PkTable.latestPerKey(state.unionByName(withDel), Seq(key),
      Seq(col(ver), col("__pos"))).localCheckpoint(true)
    def liveTouched(df: DataFrame) =
      df.join(withDel.select(key), Seq(key), "left_semi").where(!col(Del))
    MaterializedAgg.Step(newState, liveTouched(state).withColumn(Sign, lit(-1L))
      .unionByName(liveTouched(newState).withColumn(Sign, lit(1L))))
  }

  private def emptyState(df: DataFrame, del: String): DataFrame =
    df.withColumn(MaterializedAgg.Del, col(del)).withColumn("__pos", lit(0L)).limit(0)

  /** Append a layer of `rows` to `table`, written without the stored
    * tombstone column, as a writer that predates it would have. */
  private def legacyLayer(root: String, table: String, rows: DataFrame): Unit = {
    val dir = s"$root/$table/legacy-${java.util.UUID.randomUUID().toString.take(8)}"
    rows.write.parquet(dir)
    TxLog.commitWith(spark, root, "legacy") { base =>
      val m = base.get
      TxLog.Prepared(tables = m.tables + (table -> (m.tables(table) + "," + dir)), meta = m.meta)
    }
  }

  test("every Tx kernel's view equals a recompute and the two-pass step on random lakes") {
    val rounds = lake(seed = 11, rounds = 34)
    val base = TestTmp.dir("fold").toString
    val roots = Seq("agg", "minmax", "topk", "join").map(k => k -> s"$base/$k").toMap
    val sums = Seq("total" -> col("v"))
    val exts = Seq(MaterializedAgg.Extremum("lo", col("v"), isMin = true),
      MaterializedAgg.Extremum("hi", col("v"), isMin = false))
    val (k, topK) = (Seq("k"), 2)
    def ordDf(rs: Seq[Ord]) = rs.toDF()
    def custDf(rs: Seq[Cust]) = rs.toDF()

    // the two-pass reference, one key-state per table and one view per kernel
    var refL = emptyState(ordDf(Nil), "del")
    var refR = emptyState(custDf(Nil), "cdel")
    var refAgg, refMinMax, refTopK, refJoin: Option[DataFrame] = None
    var seen = Seq.empty[(Seq[Ord], Seq[Cust])]

    def check(r: Int): Unit = {
      val ords = latest(seen.map(_._1), (o: Ord) => o.k, (o: Ord) => o.ver).values.filterNot(_.del)
      val custs = latest(seen.map(_._2), (c: Cust) => c.cid, (c: Cust) => c.cver)
        .values.filterNot(_.cdel).map(c => c.cid -> c).toMap
      val byG = ords.groupBy(_.g)
      val wantAgg = byG.map { case (g, os) => (g, os.size.toLong, os.map(_.v).sum) }.toSet
      val wantMinMax = byG.map { case (g, os) =>
        (g, os.size.toLong, os.map(_.v).sum, os.map(_.v).min, os.map(_.v).max) }.toSet
      val wantTopK = byG.toSeq.flatMap { case (g, os) =>
        os.toSeq.sortBy(o => (-o.v, o.k)).take(topK).zipWithIndex.map { case (o, i) =>
          (g, i + 1L, o.k, o.v) } }.toSet
      val wantJoin = ords.flatMap(o => custs.get(o.c).map(c => (c.seg, o.v))).groupBy(_._1)
        .map { case (s, xs) => (s, xs.size.toLong, xs.map(_._2).sum) }.toSet

      def view(root: String) = PkTableSink.readTxGroup(spark, root, "mv", spark.emptyDataFrame)
      val aggCols = Seq(col("g"), col("n"), col("total"))
      val gotAgg = view(roots("agg")).select(aggCols: _*).as[(String, Long, Long)].collect().toSet
      val gotMinMax = view(roots("minmax")).select(aggCols :+ col("lo") :+ col("hi"): _*)
        .as[(String, Long, Long, Long, Long)].collect().toSet
      val gotTopK = MaterializedTopK.readTx(spark, roots("topk"), Seq("g"), k, "v")
        .select(col("g"), col("rank"), col("k"), col("v")).as[(String, Long, Long, Long)]
        .collect().toSet
      val gotJoin = view(roots("join")).select(col("seg"), col("n"), col("total"))
        .as[(String, Long, Long)].collect().toSet
      def ref[T: org.apache.spark.sql.Encoder](mv: DataFrame, cols: Column*) =
        mv.select(cols: _*).as[T].collect().toSet
      assert(gotAgg == wantAgg, s"round $r: sum/count")
      assert(ref[(String, Long, Long)](refAgg.get, aggCols: _*) == wantAgg, s"round $r: ref sum")
      assert(gotMinMax == wantMinMax, s"round $r: min/max")
      assert(ref[(String, Long, Long, Long, Long)](refMinMax.get,
        aggCols :+ col("lo") :+ col("hi"): _*) == wantMinMax, s"round $r: ref min/max")
      assert(gotTopK == wantTopK, s"round $r: top-k")
      assert(ref[(String, Long, Long, Long)](MaterializedTopK.rank(refTopK.get, Seq("g"), k, "v"),
        col("g"), col("rank"), col("k"), col("v")) == wantTopK, s"round $r: ref top-k")
      assert(gotJoin == wantJoin, s"round $r: join")
      assert(ref[(String, Long, Long)](refJoin.get.where(col("n") > 0),
        col("seg"), col("n"), col("total")) == wantJoin, s"round $r: ref join")
    }

    rounds.zipWithIndex.foreach { case ((os, cs), i) =>
      val r = i + 1
      val (ob, cb) = (ordDf(os), custDf(cs))
      assert(MaterializedAgg.maintainTx(roots("agg"), ob, r, k, Seq("ver"), col("del"),
        Seq("g"), sums, writer = "job"))
      assert(MaterializedAgg.maintainMinMaxTx(roots("minmax"), ob, r, k, Seq("ver"), col("del"),
        Seq("g"), sums, exts, writer = "job"))
      assert(MaterializedTopK.maintainTx(roots("topk"), ob, r, k, Seq("ver"), col("del"),
        Seq("g"), col("v"), topK, writer = "job"))
      assert(MaterializedJoin.maintainAggTx(roots("join"), Seq(
          MaterializedJoin.BatchIn("o", ob, k, Seq("ver"), col("del")),
          MaterializedJoin.BatchIn("c", cb, Seq("cid"), Seq("cver"), col("cdel"))),
        Seq("c" -> "cid"), Seq("seg", "v"), Seq("seg"), sums, r, writer = "job"))

      val sl = twoPass(refL, ob, r, "k", "ver", "del")
      val sr = twoPass(refR, cb, r, "cid", "cver", "cdel")
      def live(df: DataFrame) = df.where(!col(MaterializedAgg.Del))
      // ΔL ⋈ R_new ∪ L_old ⋈ ΔR, each row signed by its delta side
      val joinDelta = live(sl.signedDelta).join(live(sr.state).drop(MaterializedAgg.Sign),
          col("c") === col("cid")).select(col(MaterializedAgg.Sign), col("seg"), col("v"))
        .unionByName(live(refL).join(live(sr.signedDelta), col("c") === col("cid"))
          .select(col(MaterializedAgg.Sign), col("seg"), col("v")))
      val groups = Seq("g")
      refAgg = Some(MaterializedAgg.mergeMv(refAgg,
        MaterializedAgg.groupDelta(sl.signedDelta, groups, sums), groups, Seq("total"))
        .localCheckpoint(true))
      refMinMax = Some(MaterializedAgg.mergeMvMinMax(refMinMax, sl, groups, sums, exts)
        .localCheckpoint(true))
      refTopK = Some(MaterializedTopK.mergeTopK(refTopK, sl, groups, k, col("v"), topK)
        .localCheckpoint(true))
      refJoin = Some(MaterializedAgg.mergeMv(refJoin,
        MaterializedAgg.groupDelta(joinDelta, Seq("seg"), sums), Seq("seg"), Seq("total"))
        .localCheckpoint(true))
      refL = sl.state
      refR = sr.state
      seen = seen :+ ((os, cs))

      if (r == 5) {
        // a widened layer: copies of live latest rows, no tombstone column
        val live = latest(seen.map(_._1), (o: Ord) => o.k, (o: Ord) => o.ver)
          .values.filterNot(_.del).toSeq.sortBy(_.k).take(4)
        assert(live.nonEmpty)
        Seq("agg" -> "state", "minmax" -> "state", "topk" -> "state", "join" -> "state_o")
          .foreach { case (kn, t) => legacyLayer(roots(kn), t, ordDf(live)) }
      }
      if (Set(1, 2, 3, 6, 20, 33, 34)(r)) check(r)
    }
    // the state tables folded back to one base on the way
    roots.values.foreach(root => assert(
      TxLog.current(spark, root).get.tables.filter(_._1.startsWith("state"))
        .forall(_._2.split(",").length < 32), root))
  }
}

object FoldEquivalenceSpec {
  // an order: key, version, group, value, deleted, customer
  final case class Ord(k: Long, ver: Long, g: String, v: Long, del: Boolean, c: Long)
  // a customer: key, version, segment, deleted
  final case class Cust(cid: Long, cver: Long, seg: String, cdel: Boolean)
}
