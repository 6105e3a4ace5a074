package graft.spatial

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** PRIO-GRID geometry (reference utilities.py:145-216): the global 0.5°
  * grid has 720 columns, `lon = pgid % 720`, `lat = pgid / 720`
  * (PG_STRIDE=720, utilities.py:158,167-168). All spatial operators work
  * in (lon, lat) cell coordinates; the reference's centred power-of-two
  * embedding is an FFT/quadtree execution detail, not semantics — the
  * operators here only need cell coordinates.
  */
object Grid {
  val PgStride = 720

  def pgidLon(pgid: Column): Column = pgid % PgStride
  def pgidLat(pgid: Column): Column = (pgid / PgStride).cast("long")
  def toPgid(lon: Column, lat: Column): Column = lat * PgStride + lon

  /** Deterministic embedding of the testdata's `unit_id` space onto a
    * 40-column block of the PRIO grid: lon = unit % 40, lat = unit / 40.
    * Used to exercise grid operators against the DuckDB oracle (which
    * applies the same formula in SQL).
    */
  val UnitCols = 40
  def unitLon(unit: Column): Column = unit % UnitCols
  def unitLat(unit: Column): Column = (unit / UnitCols).cast("long")

  /** Kernel offset/weight table for splag4d (reference
    * build_kernel_weights, splag4d.py:95-118): square of side
    * `2(inner+width) − 1`; cells with |dx|<inner AND |dy|<inner zeroed
    * (omitted here — zero weight contributes nothing); others weighted
    * 1/r^power; optionally normalised by the FULL kernel sum (including
    * the zeroed centre block, which contributes 0).
    */
  def kernelOffsets(inner: Int, width: Int, power: Double,
                    norm: Boolean): Seq[(Int, Int, Double)] = {
    val size = 2 * (inner + width) - 1
    val centre = (size + 1) / 2 - 1
    val cells = for {
      ix <- 0 until size
      iy <- 0 until size
      dx = ix - centre
      dy = iy - centre
      if !(math.abs(dx) < inner && math.abs(dy) < inner)
    } yield {
      val r = math.sqrt(dx * dx + dy * dy)
      (dx, dy, 1.0 / math.pow(r, power))
    }
    if (norm) {
      val total = cells.map(_._3).sum
      cells.map { case (dx, dy, w) => (dx, dy, w / total) }
    } else cells
  }

  /** The same kernel as a SQL VALUES list `(dx, dy, w)` for the oracle. */
  def kernelValuesSql(inner: Int, width: Int, power: Double, norm: Boolean): String =
    kernelOffsets(inner, width, power, norm)
      .map { case (dx, dy, w) => s"($dx, $dy, ${fmt(w)})" }
      .mkString(", ")

  /** Full-precision double literal (round-trips exactly). */
  def fmt(d: Double): String =
    if (d == d.floor && math.abs(d) < 1e15) s"${d.toLong}.0"
    else s"$d"
}
