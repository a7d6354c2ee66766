package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.LongType

/** Z-order (Morton) code: interleave the low `bits` bits of two long
  * keys — bit `b` of x lands at position 2b, bit `b` of y at 2b+1 — as a
  * native codegen expression.
  *
  * This is the data-LAYOUT lever for multi-dimensional locality at
  * 100 TB: range-partitioning and sorting files by the Z-code clusters
  * rows that are close in BOTH dimensions into the same files, so
  * min/max file statistics prune scans filtered on either key (the
  * standard OPTIMIZE ZORDER technique). The code itself is a pure
  * per-row function — cheap, shuffle-free, and reproducible — which is
  * also what makes it oracle-checkable bit-for-bit.
  *
  * Callers mask inputs to `bits` beforehand if the domain exceeds it
  * (the expression itself uses only the low `bits` of each key, so
  * higher bits are ignored rather than corrupting the interleave).
  */
object ZOrderCode {

  /** Bit interleave shared by interpreted and generated code. */
  def interleave(x: Long, y: Long, bits: Int): Long = {
    var z = 0L
    var b = 0
    while (b < bits) {
      z |= ((x >> b) & 1L) << (2 * b)
      z |= ((y >> b) & 1L) << (2 * b + 1)
      b += 1
    }
    z
  }

  /** Column form: `ZOrderCode(x, y, bits)`; inputs cast to long. */
  def apply(x: Column, y: Column, bits: Int): Column = {
    require(bits > 0 && bits <= 31, s"bits must be in [1, 31], got $bits")
    ColumnBridge.kernel("zorder_code", this, "interleave", LongType,
      Seq(x.cast("long") -> LongType, y.cast("long") -> LongType), Seq(bits))
  }
}
