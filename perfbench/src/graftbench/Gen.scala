package graftbench

/** Seeded load generator, separate from the system under test: it
  * produces Debezium envelope lines, the read schedule and the
  * routine-load backlog from nothing but the seed. The same seed gives
  * the same bytes; the program under test sees only the written files.
  *
  * Shape of the change stream: an initial snapshot of `keys` rows
  * (op `r`), then changes at an insert/update/delete mix of 60/30/10
  * with Zipf-skewed update/delete keys, rows spread over `groups`
  * groups of which group 0 is hot, and a small share of at-least-once
  * redeliveries: exact duplicates in the same file and late copies of
  * an older version a few files later.
  */
final class Rng(seed: Long) {
  private var s = seed * 0x5DEECE66DL + 0x2545F4914F6CDD1DL
  def next(): Long = {
    s += 0x9E3779B97F4A7C15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def below(n: Int): Int = ((next() >>> 1) % n).toInt
  def unit(): Double = (next() >>> 11) * (1.0 / (1L << 53))
}

/** Zipf(s) over ranks [0, n): rank 0 is the most frequent. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x / tot; acc }
  }
  def sample(r: Rng): Int = {
    val u = r.unit()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** One change event: `image` is the row image (the `after` image, or
  * the `before` image of a delete). Version order is (tsMs, seq). */
final case class Ev(table: String, op: String, key: Long, tsMs: Long,
                    seq: Long, image: Seq[(String, Any)]) {
  def deleted: Boolean = op == "d"

  def json: String = {
    val img = image.map {
      case (k, v: String) => "\"" + k + "\":\"" + v + "\""
      case (k, v)         => "\"" + k + "\":" + v
    }.mkString("{", ",", "}")
    val (before, after) = if (deleted) (img, "null") else ("null", img)
    s"""{"before":$before,"after":$after,"source":{"connector":"mysql","db":"bench","table":"$table"},"op":"$op","ts_ms":$tsMs}"""
  }
}

/** One envelope file: its original events (in order) and every line
  * it holds, which adds the redelivered duplicates and late copies. */
final case class EnvFile(index: Int, dueMs: Long, originals: Seq[Ev], all: Seq[Ev]) {
  def bytes: Array[Byte] = all.map(_.json).mkString("", "\n", "\n").getBytes("UTF-8")
}

final case class Read(index: Int, dueMs: Long, kind: String, a: Long, b: Long)

/** The change source for one table family. `tables` lists (name,
  * share of changes, keys in the snapshot, row maker). */
final class ChangeStream(seed: Long, val specs: Seq[Gen.TableSpec]) {
  private val rng = new Rng(seed)
  private var seq = 0L
  private final class TState(val spec: Gen.TableSpec) {
    val live = scala.collection.mutable.LongMap.empty[Seq[(String, Any)]]
    var nextKey: Long = spec.keys.toLong
    val zipf = new Zipf(spec.keys, 0.99)
  }
  private val st = specs.map(s => s.name -> new TState(s)).toMap
  private val late = scala.collection.mutable.Map.empty[Int, Vector[Ev]]

  private def nextSeq(): Long = { seq += 1; seq }

  def snapshot(tsMs: Long): Seq[Ev] = specs.flatMap { spec =>
    val t = st(spec.name)
    (0L until spec.keys.toLong).map { k =>
      val img = spec.row(k, nextSeq(), rng, None)
      t.live(k) = img
      Ev(spec.name, "r", k, tsMs, img.collectFirst { case ("seq", s: Long) => s }.get, img)
    }
  }

  private def pickLive(t: TState): Long = {
    var k = t.zipf.sample(rng).toLong
    var tries = 0
    while (!t.live.contains(k) && tries < 64) { k = (k + 1) % t.nextKey; tries += 1 }
    if (t.live.contains(k)) k else t.live.keysIterator.next()
  }

  /** One change: op by the 60/30/10 mix, table by its share. */
  private def change(tsMs: Long): Ev = {
    val u = rng.unit()
    var acc = 0.0
    val spec = specs.find { s => acc += s.share; u < acc }.getOrElse(specs.last)
    val t = st(spec.name)
    val roll = rng.below(100)
    if (roll < 60 || t.live.size < 16) {
      val k = t.nextKey; t.nextKey += 1
      val s = nextSeq()
      val img = spec.row(k, s, rng, None)
      t.live(k) = img
      Ev(spec.name, "c", k, tsMs, s, img)
    } else if (roll < 90 || !spec.deletes) {
      val k = pickLive(t)
      val s = nextSeq()
      val img = spec.row(k, s, rng, Some(t.live(k)))
      t.live(k) = img
      Ev(spec.name, "u", k, tsMs, s, img)
    } else {
      val k = pickLive(t)
      val s = nextSeq()
      val img = t.live(k).map { case ("seq", _) => "seq" -> s; case kv => kv }
      t.live.remove(k)
      Ev(spec.name, "d", k, tsMs, s, img)
    }
  }

  /** File `index` of `n` original events, all stamped `tsMs`. 2% of
    * originals are repeated at the end of the same file, 2% are
    * re-sent two files later (then older than what has landed). */
  def file(index: Int, dueMs: Long, tsMs: Long, n: Int): EnvFile = {
    val orig = Vector.fill(n)(change(tsMs))
    val dups = orig.filter(_ => rng.below(100) < 2)
    orig.filter(_ => rng.below(100) < 2).foreach(e =>
      late(index + 2) = late.getOrElse(index + 2, Vector.empty) :+ e)
    val lates = late.remove(index).getOrElse(Vector.empty)
    EnvFile(index, dueMs, orig, orig ++ dups ++ lates)
  }
}

object Gen {
  /** Logical epoch of generated `ts_ms`: event time = run start + (ts − T0). */
  val T0 = 1700000000000L

  final case class TableSpec(name: String, share: Double, keys: Int, deletes: Boolean,
                             row: (Long, Long, Rng, Option[Seq[(String, Any)]]) => Seq[(String, Any)])

  def group(r: Rng, groups: Int): String = {
    val g = if (r.below(100) < 30) 0 else 1 + r.below(groups - 1)
    f"g$g%02d"
  }

  /** fresh_mixed's one table: (id, grp, amount, seq). Updates change
    * the amount and move 20% of rows to another group. */
  def freshSpec(keys: Int, groups: Int): TableSpec =
    TableSpec("orders", 1.0, keys, deletes = true, (k, s, r, prev) => {
      val grp = prev match {
        case Some(p) if r.below(100) >= 20 => p.collectFirst { case ("grp", g) => g }.get
        case _ => group(r, groups)
      }
      Seq("id" -> k, "grp" -> grp, "amount" -> (1L + r.below(100000)), "seq" -> s)
    })

  /** bulk_ingest's fact and dimension tables, routed by source.table. */
  def bulkSpecs(orders: Int, customers: Int, statuses: Int, regions: Int): Seq[TableSpec] = {
    val custZipf = new Zipf(customers, 0.8)
    Seq(
      TableSpec("orders", 0.85, orders, deletes = true, (k, s, r, prev) => {
        val status = prev match {
          case Some(p) if r.below(100) >= 20 => p.collectFirst { case ("status", g) => g }.get
          case _ => group(r, statuses)
        }
        val cust = prev.flatMap(_.collectFirst { case ("cust", c: Long) => c })
          .getOrElse(custZipf.sample(r).toLong)
        Seq("id" -> k, "cust" -> cust, "status" -> status,
          "amount" -> (1L + r.below(1000000)), "seq" -> s)
      }),
      TableSpec("customers", 0.15, customers, deletes = false, (k, s, r, _) =>
        Seq("cust_id" -> k, "region" -> f"r${r.below(regions)}%d", "seq" -> s)))
  }

  /** Open-loop read schedule: 40% point, 30% range, 30% MV-SQL, in a
    * fixed cycle of ten so that a window of a few reads holds every
    * kind; the seed draws the keys and ranges. */
  def reads(seed: Long, n: Int, ratePerS: Double, keys: Int): Seq[Read] = {
    val r = new Rng(seed ^ 0x5EAD5L)
    val z = new Zipf(keys, 0.99)
    val cycle = Seq("point", "range", "mv_sql", "point", "range", "mv_sql", "point", "range", "mv_sql", "point")
    (0 until n).map { i =>
      val due = math.round(i * 1000.0 / ratePerS)
      cycle(i % cycle.size) match {
        case "point" => Read(i, due, "point", z.sample(r).toLong, 0L)
        case "range" =>
          val lo = r.below(keys - 64).toLong
          Read(i, due, "range", lo, lo + 63)
        case _ => Read(i, due, "mv_sql", 0L, 0L)
      }
    }
  }
}
