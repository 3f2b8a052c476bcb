package graftbench

/** Independent reference model: folds the generated changelog in plain
  * Scala, with no call into the library under test. Per (table, key)
  * the highest (tsMs, seq) version wins, deletes leave a tombstone, so
  * duplicate and late redeliveries fold exactly as at-least-once
  * delivery requires. Every view the benchmark checks is computed here
  * from the live rows.
  */
final class Model {
  private final case class Ver(tsMs: Long, seq: Long, deleted: Boolean, image: Map[String, Any])
  private val rows = scala.collection.mutable.Map.empty[(String, Long), Ver]
  /** RbmMv is insert-only: per status, the set of customer ids and the
    * row count over every order row ever applied. */
  private val rbmIds = scala.collection.mutable.Map.empty[String, Set[Long]]
  private val rbmRows = scala.collection.mutable.Map.empty[String, Long]

  def apply(e: Ev): Unit = {
    val k = (e.table, e.key)
    val newer = rows.get(k).forall(v => e.tsMs > v.tsMs || (e.tsMs == v.tsMs && e.seq > v.seq))
    if (newer) rows(k) = Ver(e.tsMs, e.seq, e.deleted, e.image.toMap)
  }

  /** Record one delivered order insert or snapshot line (redeliveries
    * included) for the insert-only bitmap view. */
  def applyRbm(e: Ev): Unit = if (e.table == "orders" && (e.op == "c" || e.op == "r")) {
    val st = e.image.toMap.apply("status").toString
    rbmIds(st) = rbmIds.getOrElse(st, Set.empty) + e.image.toMap.apply("cust").asInstanceOf[Long]
    rbmRows(st) = rbmRows.getOrElse(st, 0L) + 1
  }

  def live(table: String): Seq[Map[String, Any]] =
    rows.iterator.collect { case ((t, _), v) if t == table && !v.deleted => v.image }.toSeq

  def liveByKey(table: String): Map[Long, Map[String, Any]] =
    rows.iterator.collect { case ((t, k), v) if t == table && !v.deleted => k -> v.image }.toMap

  private def lng(m: Map[String, Any], c: String): Long = m(c).asInstanceOf[Long]

  /** group → (n, sum) over live rows of `table`. */
  def countSum(table: String, groupCol: String, sumCol: String): Map[String, (Long, Long)] =
    live(table).groupBy(_(groupCol).toString).map { case (g, rs) =>
      g -> ((rs.size.toLong, rs.map(lng(_, sumCol)).sum)) }

  def minMax(table: String, groupCol: String, col: String): Map[String, (Long, Long)] =
    live(table).groupBy(_(groupCol).toString).map { case (g, rs) =>
      val vs = rs.map(lng(_, col)); g -> ((vs.min, vs.max)) }

  /** group → the top-k values of `col`, descending. */
  def topK(table: String, groupCol: String, col: String, k: Int): Map[String, Seq[Long]] =
    live(table).groupBy(_(groupCol).toString).map { case (g, rs) =>
      g -> rs.map(lng(_, col)).sorted(Ordering[Long].reverse).take(k) }

  /** region → (n, sum(amount)) over live orders ⋈ live customers. */
  def joinAgg(): Map[String, (Long, Long)] = {
    val cust = liveByKey("customers")
    live("orders").flatMap(o => cust.get(lng(o, "cust")).map(c => c("region").toString -> lng(o, "amount")))
      .groupBy(_._1).map { case (r, xs) => r -> ((xs.size.toLong, xs.map(_._2).sum)) }
  }

  def rbm: Map[String, (Long, Long)] =
    rbmIds.keys.map(s => s -> ((rbmRows(s), rbmIds(s).size.toLong))).toMap
}
