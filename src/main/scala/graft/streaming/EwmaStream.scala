package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming EWMA — the incremental twin of
  * [[graft.ops.UnitScan.Ewma]] (span-truncated, `adjust=true`
  * renormalisation at the leading edge). Per-unit state is the last
  * span−1 observations, newest first — O(span) per unit, bounded by
  * construction; each arriving row folds the identical
  * Σ αʲ·x_{t−j} / Σ αʲ the batch window expression computes, in the
  * same j-ascending summation order, so a batch replay equals the
  * window formulation bit-for-bit and one DuckDB oracle pins both.
  */
object EwmaStream {

  case class PanelRow(unit_id: Long, month_id: Long, value: Double)
  case class EwmaState(recent: Seq[Double])
  case class EwmaOut(unit_id: Long, month_id: Long, ewma: Double)

  def updateGroup(alpha: Double, span: Int)(
      unit: Long, rows: Iterator[PanelRow],
      state: GroupState[EwmaState]): Iterator[EwmaOut] = {
    var recent = state.getOption.map(_.recent).getOrElse(Seq.empty)
    val out = rows.toSeq.sortBy(_.month_id).map { r =>
      val avail = r.value +: recent // x_{t-j} at index j
      var num = 0.0
      var den = 0.0
      var j = 0
      while (j < span && j < avail.length) {
        val w = math.pow(alpha, j)
        num += avail(j) * w
        den += w
        j += 1
      }
      recent = avail.take(span - 1)
      EwmaOut(unit, r.month_id, num / den)
    }
    state.update(EwmaState(recent))
    out.iterator
  }

  /** Batch or streaming: per-unit span-truncated EWMA. On a stream,
    * feed in-order per-unit micro-batches; the state's trailing-window
    * carry makes the value at a batch boundary identical to the batch
    * operator's.
    */
  def ewma(rowsDs: Dataset[PanelRow], alpha: Double,
           span: Int): Dataset[EwmaOut] = {
    require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0,1), got $alpha")
    require(span > 0, s"span must be positive, got $span")
    val spark = rowsDs.sparkSession
    import spark.implicits._
    rowsDs.groupByKey(_.unit_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(updateGroup(alpha, span))
  }
}
