package graft.spatial

import graft.Panel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** First/nth-order grid spatial lag — reference get_splag4d
  * (splag4d.py:9-192): per-(month, feature) 2-D convolution of the panel
  * over the pgid grid with a `1/r^power` kernel (zeroed centre block,
  * optional normalisation), zero-padded at the grid boundary
  * (ndimage.convolve mode='constant' cval=0, splag4d.py:140).
  *
  * Spark-first formulation: a per-month stencil in one
  * [[graft.Panel.kernel]] keyed on month_id — ONE input-sized hash
  * exchange and one grouped map, as [[FourierLag]] runs.
  * Each month's cells are indexed by their exact (lon, lat) coordinate,
  * and every cell sums `value·w` over the kernel offsets
  * ([[Grid.kernelOffsets]]) found in that index — coordinate space,
  * not pgid arithmetic, so grid-row wraparound can't manufacture false
  * neighbours. A missing neighbour contributes nothing (the zero
  * padding), a null value is skipped, and a cell whose sum is NaN or
  * that has no non-null neighbour gets 0.0. Cost: |panel| × |kernel|
  * hash probes inside the month's task — no join, no aggregation
  * exchange, no dense tensor.
  */
object KernelLag {

  /** @param lonCol/latCol cell coordinates of each unit
    * @param out output column (reference returns input names unchanged;
    *            we name explicitly for composability)
    * @return (month_id, unit_id, out)
    */
  def splag4d(panel: DataFrame, valueCol: String,
              inner: Int, width: Int, power: Double, norm: Boolean,
              lonCol: String = "lon", latCol: String = "lat",
              out: String = "splag"): DataFrame =
    splag4dMulti(panel, Seq(valueCol), inner, width, power, norm, lonCol, latCol)
      .withColumnRenamed(s"splag_$valueCol", out)

  /** Multi-feature form: all features convolved in ONE pass over each
    * month's index (the reference loops features over tensor slices,
    * splag4d.py:134-140). Outputs (month_id, unit_id, `splag_<c>`…).
    */
  def splag4dMulti(panel: DataFrame, valueCols: Seq[String],
                   inner: Int, width: Int, power: Double, norm: Boolean,
                   lonCol: String = "lon", latCol: String = "lat"): DataFrame = {
    val T = Panel.TimeCol
    val U = Panel.UnitCol
    val outs = valueCols.map(c => s"splag_$c")
    // only the columns the stencil reads cross the month exchange
    val cells = panel.select(
      col(T) +: col(U) +: col(lonCol) +: col(latCol) +: valueCols.map(col): _*)
    withSplag4d(cells, valueCols, outs, inner, width, power, norm, lonCol, latCol)
      .select(col(T) +: col(U) +: outs.map(col): _*)
  }

  /** The stencil itself: every input row comes back with one
    * non-null double column `outs(i)` appended per `valueCols(i)`.
    */
  def withSplag4d(panel: DataFrame, valueCols: Seq[String], outs: Seq[String],
                  inner: Int, width: Int, power: Double, norm: Boolean,
                  lonCol: String = "lon", latCol: String = "lat"): DataFrame = {
    require(valueCols.size == outs.size, "one output column per value column")
    val kernel = Grid.kernelOffsets(inner, width, power, norm).toArray

    Panel.kernel(panel, Panel.TimeCol, None, Seq(Panel.TimeCol, lonCol, latCol) ++ valueCols,
        Panel.doubles(outs: _*)) { g =>
      val month = g.nulls(0)
      val (lon, lonNul) = (g.doubles(1), g.nulls(1))
      val (lat, latNul) = (g.doubles(2), g.nulls(2))
      // (lon, lat) → this month's cells there (a well-formed panel has
      // one; duplicates all contribute, as rows of a join would)
      val at = (0 until g.n).filter(i => !lonNul(i) && !latNul(i)).groupBy(i => (lon(i), lat(i)))
      Panel.Emit(Array.tabulate(valueCols.size) { f =>
        val (v, vNul) = (g.doubles(3 + f), g.nulls(3 + f))
        Array.tabulate(g.n) { i =>
          var sum = 0.0
          var seen = false
          if (!month(i) && !lonNul(i) && !latNul(i)) kernel.foreach { case (dx, dy, w) =>
            at.get((lon(i) + dx, lat(i) + dy)).foreach(_.foreach { j =>
              if (!vNul(j)) { sum += v(j) * w; seen = true }
            })
          }
          if (!seen || sum.isNaN) 0.0 else sum
        }
      }: _*)
    }
  }
}
