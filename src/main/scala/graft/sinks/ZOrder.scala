package graft.sinks

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Z-order (Morton) interleaving for multi-column clustering — the
  * Delta `OPTIMIZE ZORDER BY` / StarRocks sort-key analogue for the
  * TxLog lake. [[PkTableSink.compactTx]]'s key-range sort makes
  * point/range reads on the FIRST key column prune to ~1 file, but a
  * range on any other column matches every file. Interleaving the bits
  * of two columns' 16-bit buckets makes files cover small RECTANGLES
  * of the (a, b) value space instead of slabs of a, so a range on
  * EITHER column intersects only ~√F of F files' zones.
  *
  * Bucketing is value-scaled (per-column min/max from the compaction's
  * own merge pass, linear to 2¹⁶ buckets): one pass, deterministic, no
  * per-column global sort. Heavily skewed columns concentrate buckets
  * the way they concentrate values — rank-based bucketing (a
  * range-partition-id pass per column) is the upgrade path if a
  * production corpus needs it; pruning is unaffected because it reads
  * the files' footer min/max, never the bucketing.
  *
  * All ops are plain integer Catalyst expressions inside whole-stage
  * codegen.
  */
object ZOrder {

  /** Spread the low 16 bits of `c` to even bit positions 0,2,…,30
    * (the classic mask-shift cascade, on longs). */
  def spread16(c: Column): Column = {
    var x = c.cast("long").bitwiseAND(lit(0xffffL))
    x = x.bitwiseOR(shiftleft(x, 8)).bitwiseAND(lit(0x00ff00ffL))
    x = x.bitwiseOR(shiftleft(x, 4)).bitwiseAND(lit(0x0f0f0f0fL))
    x = x.bitwiseOR(shiftleft(x, 2)).bitwiseAND(lit(0x33333333L))
    x = x.bitwiseOR(shiftleft(x, 1)).bitwiseAND(lit(0x55555555L))
    x
  }

  /** 32-bit Morton code of two 16-bit bucket columns: bits of `bx` on
    * even positions, `by` on odd. */
  def morton2(bx: Column, by: Column): Column =
    spread16(bx).bitwiseOR(shiftleft(spread16(by), 1))

  /** Linear 16-bit bucket of a numeric column over [mn, mx], clamped.
    * A degenerate range (mx ≤ mn: constant or empty column) buckets
    * everything to 0 — clustering then degrades gracefully to the
    * other column. */
  def bucket16(c: Column, mn: Double, mx: Double): Column =
    if (!(mx > mn)) lit(0L)
    else least(lit(65535L), greatest(lit(0L),
      floor((c.cast("double") - mn) * 65535.0 / (mx - mn)).cast("long")))

  /** The z-value of two numeric columns given their value bounds. */
  def zvalue(a: Column, aMin: Double, aMax: Double,
             b: Column, bMin: Double, bMax: Double): Column =
    morton2(bucket16(a, aMin, aMax), bucket16(b, bMin, bMax))

  /** Round-robin bit interleave of 2-4 16-bit bucket columns: bit `b`
    * of column `j` lands at position `b·N + j`, so files cover
    * N-dimensional boxes and a range on ANY of the N columns
    * intersects ~F^((N−1)/N) of F files' zones. 16·N ≤ 64 bits. The
    * N=2 case keeps the mask-cascade fast path; N>2 is a 16·N-term
    * shift-mask sum — constant shifts, folded flat in codegen, and
    * only ever evaluated once per compaction rewrite. */
  def mortonN(codes: Seq[Column]): Column = {
    require(codes.size >= 2 && codes.size <= 4,
      s"z-order interleave takes 2-4 columns, got ${codes.size}")
    val n = codes.size
    if (n == 2) morton2(codes(0), codes(1))
    else {
      val terms = for {
        (c, j) <- codes.zipWithIndex
        b <- 0 until 16
      } yield shiftleft(shiftright(c, b).bitwiseAND(lit(1L)), b * n + j)
      terms.reduce(_ bitwiseOR _)
    }
  }

  /** The z-value of N numeric columns given (col, min, max) bounds. */
  def zvalueN(cols: Seq[(Column, Double, Double)]): Column =
    mortonN(cols.map { case (c, mn, mx) => bucket16(c, mn, mx) })
}
