package graft.ops

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Mann–Kendall S as a bounded single-pass aggregate.
  *
  * S = Σ_{i<j by time} sign(v_j − v_i) used to be produced by a
  * unit-keyed SELF-JOIN (a ⋈ b with m1 < m2): T²/2 rows per unit
  * through a join and a shuffle before the sign sum — ~10M
  * materialized rows at sf0.1 grid density, and a months²×units
  * explosion at scale (r15 measurement: the join dominated
  * q_emerging_hotspots). The series length T is panel-bounded
  * (≤ ~600 months by the panel contract — the same boundedness
  * argument as collect_list and `text.Index`'s MinK buffer), so the
  * right shape is one bounded-buffer aggregation: buffer the (t, v)
  * pairs, sort by t at finish, and run the O(T²) sign loop row-local
  * in the JVM. No pair table exists anywhere in the plan.
  *
  * Determinism: the buffer merge is concatenation and finish SORTS by
  * t before the loop, so the result is independent of partial-merge
  * order; S sums ±1 longs (integer, associative) over exactly the
  * pairs the join produced, comparing exactly the same doubles — the
  * emitted S is bit-identical to the join form's.
  */
object MannKendall {

  /** (S, n) over the buffered series — n kept so callers get the pair
    * count without a second aggregate.
    */
  final case class SN(s: Long, n: Long)

  class MkS extends Aggregator[(Long, Double), Seq[(Long, Double)], SN] {
    override def zero: Seq[(Long, Double)] = Seq.empty
    override def reduce(b: Seq[(Long, Double)], a: (Long, Double)): Seq[(Long, Double)] =
      b :+ a
    override def merge(a: Seq[(Long, Double)], b: Seq[(Long, Double)]): Seq[(Long, Double)] =
      a ++ b
    override def finish(r: Seq[(Long, Double)]): SN = {
      // sort by time: tie-free by the panel contract (one row per
      // (unit, month)), so the pair order matches the m1 < m2 join
      val v = r.sortBy(_._1).map(_._2).toArray
      var s = 0L
      var i = 0
      while (i < v.length) {
        var j = i + 1
        while (j < v.length) {
          val d = v(j) - v(i)
          if (d > 0) s += 1 else if (d < 0) s -= 1
          j += 1
        }
        i += 1
      }
      SN(s, v.length.toLong)
    }
    override def bufferEncoder: Encoder[Seq[(Long, Double)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    override def outputEncoder: Encoder[SN] = Encoders.product[SN]
  }
}
