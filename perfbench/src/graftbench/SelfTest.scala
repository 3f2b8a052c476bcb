package graftbench

/** The benchmark's own tests, run with `python3 perfbench/build.py test`:
  * generator determinism and the interval arithmetic behind
  * `driver_ms` and span self time. Exits non-zero on the first failure. */
object SelfTest {
  private var failures = 0
  private def expect(name: String)(ok: => Boolean): Unit =
    if (ok) println(s"ok   $name") else { failures += 1; println(s"FAIL $name") }

  private def freshBytes(seed: Long): Seq[Array[Byte]] = {
    val g = new ChangeStream(seed, Seq(Gen.freshSpec(500, 8)))
    val snap = EnvFile(-1, 0L, Nil, g.snapshot(Gen.T0)).bytes
    snap +: (0 until 20).map(i => g.file(i, i * 250L, Gen.T0 + i * 250L, 25).bytes)
  }
  private def bulkBytes(seed: Long): Seq[Array[Byte]] = {
    val g = new ChangeStream(seed, Gen.bulkSpecs(1000, 100, 8, 4))
    (0 until 5).map(i => g.file(i, 0L, Gen.T0 + i, 500).bytes)
  }
  private def same(a: Seq[Array[Byte]], b: Seq[Array[Byte]]) =
    a.size == b.size && a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x, y) }

  def main(args: Array[String]): Unit = {
    expect("same seed gives identical envelope bytes")(same(freshBytes(7), freshBytes(7)))
    expect("different seed gives different envelope bytes")(!same(freshBytes(7), freshBytes(8)))
    expect("same seed gives identical backlog bytes")(same(bulkBytes(7), bulkBytes(7)))
    expect("different seed gives different backlog bytes")(!same(bulkBytes(7), bulkBytes(8)))
    expect("same seed gives the same read schedule")(
      Gen.reads(3, 50, 4.0, 1000) == Gen.reads(3, 50, 4.0, 1000))
    expect("different seed gives another read schedule")(
      Gen.reads(3, 50, 4.0, 1000) != Gen.reads(4, 50, 4.0, 1000))
    expect("op mix is about 60/30/10 with redeliveries") {
      val g = new ChangeStream(11, Seq(Gen.freshSpec(2000, 8)))
      g.snapshot(Gen.T0)
      val fs = (0 until 200).map(i => g.file(i, 0L, Gen.T0 + i, 50))
      val ops = fs.flatMap(_.originals).groupBy(_.op).map { case (k, v) => k -> v.size / 10000.0 }
      val extra = fs.map(f => f.all.size - f.originals.size).sum
      math.abs(ops("c") - 0.6) < 0.03 && math.abs(ops("u") - 0.3) < 0.03 &&
        math.abs(ops("d") - 0.1) < 0.02 && extra > 200 && extra < 600
    }
    expect("model keeps the newest version and honours tombstones") {
      val m = new Model
      val img = Seq[(String, Any)]("id" -> 1L, "grp" -> "g00", "amount" -> 5L, "seq" -> 1L)
      m.apply(Ev("orders", "c", 1L, 10L, 1L, img))
      m.apply(Ev("orders", "d", 1L, 20L, 2L, img))
      m.apply(Ev("orders", "u", 1L, 15L, 3L, img)) // late, older version
      m.apply(Ev("orders", "c", 1L, 10L, 1L, img)) // duplicate
      m.live("orders").isEmpty
    }

    expect("a thrown operation makes the run incorrect") {
      val t = new Tally
      t.op(1)
      t.check("passes", quiet = true)(true)
      val before = t.correct
      t.op[Int](throw new IllegalStateException("query failed"))
      before && !t.correct && t.failed == 1 && t.attempted == 3
    }
    expect("a failed check makes the run incorrect") {
      val t = new Tally
      t.check("fails", quiet = true)(false)
      !t.correct && t.failed == 1
    }

    expect("a closed-loop window runs whole units that fit, at least one")(
      Window.another(0, 0, 10) && Window.another(0, 15000, 10) &&
        Window.another(2, 6000, 10) && !Window.another(1, 6000, 10) && !Window.another(2, 8000, 10))

    // overlapping job intervals: union, not sum
    expect("union of overlapping intervals")(
      Intervals.unionWithin(Seq((0.0, 10.0), (5.0, 15.0), (20.0, 25.0)), 0, 100) == 20.0)
    expect("nested and identical intervals count once")(
      Intervals.unionWithin(Seq((0.0, 10.0), (2.0, 3.0), (0.0, 10.0)), 0, 100) == 10.0)
    expect("intervals are clipped to the span")(
      Intervals.unionWithin(Seq((-5.0, 5.0), (8.0, 30.0)), 0, 10) == 7.0)
    expect("driver time is wall minus the union")(
      Intervals.uncovered(Seq((1.0, 4.0), (3.0, 6.0), (8.0, 9.0)), 0, 10) == 4.0)
    expect("no jobs: driver time is the whole wall")(Intervals.uncovered(Nil, 2, 7) == 5.0)
    expect("percentile is nearest-rank")(
      Stats.pct((1 to 100).map(_.toDouble), 95) == 95.0 && Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)

    expect("BENCHMARK.json lists exactly the metrics the runs print") {
      val root = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new java.io.File("BENCHMARK.json"))
      def listed(key: String) = {
        val it = root.get(key).elements()
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
          .map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq
      }
      listed("end_to_end") == Metrics.e2e && listed("per_layer") == Metrics.layers
    }

    if (failures > 0) { println(s"$failures failed"); sys.exit(1) }
    println("all passed")
  }
}
