package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Z-order (Morton) keys — the multi-dimensional extension of range
  * clustering: interleaving the bits of two coordinates makes points
  * that are close in (x, y) close in z, so files range-clustered on z carry
  * TIGHT min/max footer stats on BOTH columns at once and a predicate
  * on either dimension (or a 2-D box) skips most files — the layout
  * trick behind Delta/Iceberg Z-ORDER, as a plain deterministic
  * integer expression (Morton 1966, public).
  *
  * Pure-builtin bit arithmetic (shifts/masks, 32 disjoint-bit terms —
  * addition of disjoint bits IS the interleave), fully codegen'd and
  * restatable verbatim in SQL, so an oracle can recompute every key.
  */
object ZOrder {

  /** Interleave the low 16 bits of `x` (even positions) and `y` (odd
    * positions) into a 32-bit Morton key. Inputs are masked to 16
    * bits; callers quantize/offset coordinates into [0, 65536) first.
    */
  def interleave16(x: Column, y: Column): Column = {
    val xm = x.cast("long").bitwiseAND(lit(65535L))
    val ym = y.cast("long").bitwiseAND(lit(65535L))
    (0 until 16).map { b =>
      shiftleft(shiftright(xm, b).bitwiseAND(lit(1L)), 2 * b) +
        shiftleft(shiftright(ym, b).bitwiseAND(lit(1L)), 2 * b + 1)
    }.reduce(_ + _)
  }

  /** DuckDB twin of [[interleave16]] over SQL expressions (BIGINT). */
  def interleave16Sql(x: String, y: String): String = {
    val xs = s"(($x) & 65535)"
    val ys = s"(($y) & 65535)"
    (0 until 16).map { b =>
      s"((($xs >> $b) & 1) << ${2 * b}) + ((($ys >> $b) & 1) << ${2 * b + 1})"
    }.mkString("(", " + ", ")")
  }
}
