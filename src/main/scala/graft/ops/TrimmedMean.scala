package graft.ops

import graft.functions.SparkRound
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.expressions.Aggregator

/** Per-group exact trimmed mean as ONE bounded-shape aggregation.
  *
  * The two-pass form (exact `percentile` bounds pass, then a broadcast
  * join + filter + second aggregation over a second source scan) pays
  * two parquet scans, three exchanges and a broadcast for state the
  * percentile pass already holds: Spark's exact Percentile buffers
  * every group value to interpolate the quantiles, and the trim filter
  * plus the surviving-value mean are pure functions of that same
  * buffer. This Aggregator buffers the values once (the identical
  * memory bound the exact percentile already pays — at 100 TB swap the
  * caller for `approx_percentile`, the profileApprox envelope
  * discipline) and emits (q_lo, q_hi, n_kept, trimmed_mean) in one
  * pass: one scan, one exchange, no join.
  *
  * Bit-identity with the two-pass form, piece by piece:
  *  - quantiles mirror `PercentileBase.getPercentile` exactly: sorted
  *    values (java.util.Arrays.sort — same total order as Spark's
  *    PhysicalDoubleType ordering; equal-key permutations can't change
  *    the selected values), position = (count−1).toDouble × p, floor/
  *    ceil bracket, the boxed-equality shortcut (doubleToLongBits —
  *    what java.lang.Double.equals compares), and the identical
  *    `(higher − pos) × lowKey + (pos − lower) × hiKey` double
  *    arithmetic. Merge is concatenation and finish sorts, so the
  *    result is independent of partial-merge order.
  *  - the trim filter compares with SQLOrderingUtil.compareDoubles —
  *    the exact comparator Catalyst codegen emits for double >=/<=
  *    (NaN greatest, -0.0 == 0.0).
  *  - cents ride `SparkRound(x, 0)` (BigDecimal.valueOf, HALF_UP) then a
  *    truncating long cast — Round's DoubleType codegen and the
  *    non-ANSI double→long Cast — summed exactly (BigInteger = the
  *    decimal(38,0) sum), and the mean replays Cast(dec→double) /
  *    Cast(count→double) / literal in the two-pass form's order.
  * Pinned value-for-value against the two-pass reference in
  * R16TrimmedMeanSpec.
  */
object TrimmedMean {

  import ExactPercentile.{Buf, pct}

  /** Output of one group: exact quantile bounds rounded to 6 (as the
    * two-pass form's groupBy keys), survivor count, exact-cent mean.
    * A group whose survivors are empty (possible for tiny groups: both
    * values of a 2-row group can fall strictly outside the open
    * interpolated bounds) emits n_kept = 0 and must be dropped by the
    * caller — the two-pass form's inner filter removed those groups.
    */
  final case class Out(q_lo: Double, q_hi: Double, n_kept: Long,
                       trimmed_mean: Double)

  class Agg(lo: Double, hi: Double)
      extends Aggregator[Double, Buf, Out] {
    override def zero: Buf = ExactPercentile.emptyBuf()
    override def reduce(b: Buf, v: Double): Buf = ExactPercentile.append(b, v)
    override def merge(a: Buf, b: Buf): Buf = ExactPercentile.concat(a, b)
    override def finish(b: Buf): Out = {
      val v = ExactPercentile.sorted(b)
      val qLo = pct(v, lo)
      val qHi = pct(v, hi)
      var i = 0
      var kept = 0L
      var cents = java.math.BigInteger.ZERO
      var centsSmall = 0L // batched into `cents` to keep adds cheap
      while (i < v.length) {
        val x = v(i)
        if (SQLOrderingUtil.compareDoubles(x, qLo) >= 0 &&
            SQLOrderingUtil.compareDoubles(x, qHi) <= 0) {
          kept += 1
          val c = SparkRound(x * 100, 0).toLong
          try centsSmall = Math.addExact(centsSmall, c)
          catch {
            case _: ArithmeticException =>
              cents = cents.add(java.math.BigInteger.valueOf(centsSmall))
              centsSmall = c
          }
        }
        i += 1
      }
      cents = cents.add(java.math.BigInteger.valueOf(centsSmall))
      val mean =
        if (kept == 0L) 0.0
        else SparkRound(new java.math.BigDecimal(cents).doubleValue() /
          kept.toDouble / 100.0, 6)
      Out(SparkRound(qLo, 6), SparkRound(qHi, 6), kept, mean)
    }
    override def bufferEncoder: Encoder[Buf] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    override def outputEncoder: Encoder[Out] = Encoders.product[Out]
  }
}
