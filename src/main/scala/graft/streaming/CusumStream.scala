package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming CUSUM drift detection — the incremental twin of
  * [[graft.ops.UnitScan.Cusum]], which is inherently a monitoring
  * (streaming) use case: watch each unit's series as it arrives and
  * flag when the cumulative deviation from a FITTED baseline crosses
  * h·σ.
  *
  * The baseline (per-unit μ, σ) is an input, not derived from the
  * stream: a drift monitor scores against reference statistics fitted
  * on a training window — the batch operator's full-series mean IS
  * that reference when the twin replays the same panel, which is what
  * lets one DuckDB oracle pin both. Stats ride a broadcast join onto
  * the stream (static side, streaming-safe); per-unit state is just
  * (n, Σx) — O(1) per row, the TickStream discipline.
  *
  * Determinism mirrors the batch operator exactly — integer
  * fixed-point end to end (`Σx − n·μ` is a catastrophic cancellation,
  * so even a sequential float accumulation leaks the inputs'
  * cross-engine ULP noise into the output): the WIRE carries values
  * already on the 1e-9 integer grid (`v9` — per-event fixings summed
  * as longs, [[graft.Panel.densePanel9]]; a float value entering via
  * [[fix9]] quantizes on arrival), the baseline carries μ fixed to
  * the same grid (`mu9`), and the state carries a LONG Σ — the
  * running statistic is exact integer arithmetic until the final
  * divide back to double, which itself goes through the 1e-6 integer
  * grid (`cs6 = sign·((|cs9|+500) div 1000)`) so the emitted double
  * is a deterministic function of exact integers. The breach decision
  * is the batch operator's r13 integer certificate symbol for symbol:
  * the baseline carries the exact `ex = N·Σv9² − (Σv9)²` (as a
  * decimal STRING — it exceeds long range, and the default BigDecimal
  * encoder's (38,18) cannot hold it) plus the fit count N, and
  * scoring compares `(N·(|cs9| − 500))²·d ≥ u·ex` in BigInteger — no
  * float, no sqrt, no σ anywhere in the flag.
  */
object CusumStream {

  case class ScoredRow(unit_id: Long, month_id: Long, v9: Long,
                       mu9: Long, nb: Long, ex: String)
  case class CusumState(n: Long, s9: Long)
  case class CusumOut(unit_id: Long, month_id: Long, cusum: Double,
                      breach: Int)

  /** Per-unit reference stats, the batch fit, over an ALREADY-FIXED
    * 1e-9-grid long column: (unit_id, mu9, nb, ex) with μ fixed to
    * the grid from the exact integer value total and `ex` the exact
    * integer N²σ9² — UnitScan.Cusum's discipline, symbol for
    * symbol. A NULL `ex` under a non-empty fit can only be decimal
    * overflow with ANSI off (the certificate's loud-failure contract,
    * ADVICE r13) — promoted to the named error here, at fit time,
    * instead of a cryptic NPE when scoring first parses the string.
    */
  def fitBaseline9(panel9: DataFrame, v9Col: String = "v9"): DataFrame = {
    val v9 = col(v9Col)
    val d19 = "decimal(19,0)"
    val v9d = v9.cast(d19)
    val exRaw = count(v9).cast(d19) * sum(v9d * v9d) -
      sum(v9).cast(d19) * sum(v9).cast(d19)
    panel9.groupBy(col(graft.Panel.UnitCol))
      .agg(round(sum(v9).cast("double") / count(v9).cast("double"))
             .cast("long").as("mu9"),
        count(v9).as("nb"),
        when(exRaw.isNull && count(v9) > 0, raise_error(lit(
            "cusum breach certificate overflow: the baseline fit's " +
              "N*Σv9² exceeds the Decimal(38,0) domain — rescale the " +
              "series")).cast("decimal(38,0)"))
          .otherwise(exRaw)
          .cast("string").as("ex"))
  }

  /** Float-input fit: quantize to the 1e-9 grid at the scan, then
    * [[fitBaseline9]]. For gate parity prefer feeding the integer
    * panel directly — a float panel SUM's last ULP is merge-order-
    * dependent, which is exactly the rendezvous the grid closes.
    */
  def fitBaseline(panel: DataFrame, valueCol: String = "value"): DataFrame =
    fitBaseline9(panel.withColumn("__v9", graft.Panel.fix9(col(valueCol))),
      "__v9")

  /** `round(value·1e9)` exactly as Spark's `round()` computes it:
    * BigDecimal HALF_UP on the double's shortest decimal rendering —
    * a float value entering the stream must quantize to the identical
    * grid as the batch plan's Round expression.
    */
  def fix9(value: Double): Long =
    BigDecimal(value * 1e9).setScale(0, BigDecimal.RoundingMode.HALF_UP)
      .toLong

  /** cs9 → the emitted double via the 1e-6 integer grid — the batch
    * operator's emission arithmetic exactly: integer HALF-UP to
    * micro-units, then one exact long→double cast and one correctly-
    * rounded division.
    */
  private[streaming] def emit(cs9: Long): Double = {
    val q6 = (math.abs(cs9) + 500L) / 1000L
    (if (cs9 < 0L) -q6 else q6).toDouble / 1e6
  }

  private def breachOf(cs9: Long, nb: Long, ex: String, h: Double): Int = {
    // the batch side's integer certificate: A = |cs9| − 500,
    // breach ⟺ A ≥ 0 AND (A·N)²·d ≥ u·ex with h² = u/d exact.
    // Null-taxonomy (r15, ADVICE r14): an all-null baseline (nb = 0)
    // also carries ex = NULL — that is "no observations", not decimal
    // overflow, and gets its own diagnosis instead of the misleading
    // rescale message (the batch side emits NULL breach for all-null
    // units; a typed Int stream has no null lane, so scoring such a
    // unit is a caller error named as such).
    require(!(ex == null && nb == 0L),
      "cusum baseline has no observations for this unit (all-null " +
        "series): no breach decision is defined — filter all-null " +
        "units out of the scored stream (the batch operator emits " +
        "NULL breach for them)")
    require(ex != null,
      "cusum breach certificate overflow: the baseline carries a null " +
        "ex — the fit's decimal domain was exceeded; rescale the series")
    val a = math.abs(cs9) - 500L
    if (a < 0L) 0
    else {
      val (u, d) = graft.ops.TemporalOps.cusumRational(h)
      val an = BigInt(a) * BigInt(nb)
      if (BigDecimal(an * an) * d >= u * BigDecimal(BigInt(ex))) 1 else 0
    }
  }

  def updateGroup(h: Double)(unit: Long, rows: Iterator[ScoredRow],
                             state: GroupState[CusumState]): Iterator[CusumOut] = {
    var st = state.getOption.getOrElse(CusumState(0L, 0L))
    val out = rows.toSeq.sortBy(_.month_id).map { r =>
      st = CusumState(st.n + 1, st.s9 + r.v9)
      val cs9 = st.s9 - st.n * r.mu9
      CusumOut(unit, r.month_id, emit(cs9), breachOf(cs9, r.nb, r.ex, h))
    }
    state.update(st)
    out.iterator
  }

  /** Batch or streaming: per-unit running CUSUM + breach flag against
    * the supplied baseline. On a stream, feed in-order per-unit
    * micro-batches (the state carries (n, Σx) across batches); in
    * batch mode the group iterator sees the whole series and the
    * result equals [[graft.ops.UnitScan.Cusum]] row for row.
    */
  def cusum(scored: Dataset[ScoredRow], h: Double = 3.0): Dataset[CusumOut] = {
    val spark = scored.sparkSession
    import spark.implicits._
    scored.groupByKey(_.unit_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(updateGroup(h))
  }

  /** Join the baseline onto an integer-grid (unit, month, v9) frame
    * and score it — the wire shape the gate registration uses
    * ([[graft.Panel.densePanel9]] + [[fitBaseline9]]).
    */
  def scoreAgainst9(panel9: DataFrame, baseline: DataFrame,
                    h: Double = 3.0): Dataset[CusumOut] = {
    val spark = panel9.sparkSession
    import spark.implicits._
    cusum(panel9
      .join(broadcast(baseline), graft.Panel.UnitCol)
      .select(col(graft.Panel.UnitCol), col(graft.Panel.TimeCol),
        col("v9"), col("mu9"), col("nb"), col("ex"))
      .as[ScoredRow], h)
  }

  /** Float-input convenience: quantize `value` to the grid on entry,
    * then [[scoreAgainst9]].
    */
  def scoreAgainst(panel: DataFrame, baseline: DataFrame,
                   h: Double = 3.0): Dataset[CusumOut] =
    scoreAgainst9(
      panel.withColumn("v9", graft.Panel.fix9(col("value"))), baseline, h)
}
