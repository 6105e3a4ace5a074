package graft.spatial

import graft.{Panel, Shuffle}
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** First/nth-order grid spatial lag — reference get_splag4d
  * (splag4d.py:9-192): per-(month, feature) 2-D convolution of the panel
  * over the pgid grid with a `1/r^power` kernel (zeroed centre block,
  * optional normalisation), zero-padded at the grid boundary
  * (ndimage.convolve mode='constant' cval=0, splag4d.py:140).
  *
  * Spark-first formulation: a per-month stencil behind ONE input-sized
  * hash exchange on month_id ([[graft.Shuffle.by]], then
  * `groupBy(month).as[...].flatMapGroups`, the [[FourierLag]] idiom).
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
    val T = Panel.TimeCol
    val schema = panel.schema
    val lonI = schema.fieldIndex(lonCol)
    val latI = schema.fieldIndex(latCol)
    val vI = valueCols.map(schema.fieldIndex).toArray
    val nf = vI.length
    val kernel = Grid.kernelOffsets(inner, width, power, norm).toArray
    val outSchema = StructType(schema.fields ++
      outs.map(StructField(_, DoubleType, nullable = false)))
    def num(r: Row, i: Int): Double = r.get(i).asInstanceOf[Number].doubleValue

    Shuffle.by(panel, col(T)).groupBy(col(T))
      .as(Encoders.row(StructType(Seq(schema(T)))), Encoders.row(schema))
      .flatMapGroups { (month: Row, rows: Iterator[Row]) =>
        val cells = rows.toArray
        // (lon, lat) → this month's cells there (a well-formed panel has
        // one; duplicates all contribute, as rows of a join would)
        val at = cells.indices
          .filter(i => !cells(i).isNullAt(lonI) && !cells(i).isNullAt(latI))
          .groupBy(i => (num(cells(i), lonI), num(cells(i), latI)))
        cells.iterator.map { r =>
          val sums = new Array[Double](nf)
          val seen = new Array[Boolean](nf)
          if (!month.isNullAt(0) && !r.isNullAt(lonI) && !r.isNullAt(latI)) {
            val lon = num(r, lonI)
            val lat = num(r, latI)
            kernel.foreach { case (dx, dy, w) =>
              at.get((lon + dx, lat + dy)).foreach(_.foreach { j =>
                var f = 0
                while (f < nf) {
                  if (!cells(j).isNullAt(vI(f))) {
                    sums(f) += num(cells(j), vI(f)) * w
                    seen(f) = true
                  }
                  f += 1
                }
              })
            }
          }
          Row.fromSeq(r.toSeq ++
            sums.indices.map(f => if (!seen(f) || sums(f).isNaN) 0.0 else sums(f)))
        }
      }(Encoders.row(outSchema))
  }
}
