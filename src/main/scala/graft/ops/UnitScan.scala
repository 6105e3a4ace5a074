package graft.ops

import graft.Panel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, NumericType}

/** The per-unit series steps of the temporal family (views_2.py lag,
  * lead, delta, moving, mean, cweq, time_since, tick) as ONE scan over each
  * unit's rows — the reference's reshape-operate-flatten idiom (it
  * stacks the panel into a time × unit tensor and shifts/rolls along
  * time) applied per unit instead of per panel.
  *
  * Plan shape: one [[Panel.kernel]] on `unit_id`, sorted by month — one
  * input-sized exchange, one sort and one grouped map that reads each
  * unit's values once into primitive arrays and applies every step in
  * order. A chain of steps is one operator, where the window formulation
  * stacked one `Window` operator per step (dependent windows never
  * collapse: each reads its predecessor's output). A `bucketBy(unit_id)`
  * table is scanned by bucket without an exchange.
  *
  * Every value equals the window formulation's bit for bit:
  *  - lag/lead are positional over the unit's rows in month order;
  *  - trailing-frame sums and averages are rebuilt for each row from 0.0
  *    with the oldest row added first, skipping nulls (Spark's sliding
  *    frame recomputes its buffer the same way), and a frame without a
  *    value is null;
  *  - `max` orders NaN above every value and keeps the earlier of two
  *    equal values (so −0.0 before 0.0 stays −0.0);
  *  - the `cweq` mask is SQL `===` (NaN equals NaN, −0.0 equals 0.0),
  *    and `cweq`/`time_since` drop the rows whose input is null.
  *
  * The scan reads `value` as a double: a value of another numeric type
  * is cast to double first (so every step's output is double), anything
  * else is rejected. The output keeps the input's columns, with `value`
  * replaced (and nullable). Rows stay clustered on `unit_id`, but Spark
  * cannot see that across the grouped map: a per-unit window planned
  * above a scan gets its own exchange.
  */
object UnitScan {
  private val T = Panel.TimeCol
  private val U = Panel.UnitCol
  private val V = "value"
  /** The seeded `cweq`'s per-row marker: the unit's first kept month, on
    * the rows of the run that starts there.
    */
  private val SeedCol = "__seed_month"

  /** One step of the scan. */
  sealed trait Step extends Serializable

  /** Shift back `t` rows (t >= 1) — views_2.py:82-97. */
  final case class Lag(t: Int) extends Step {
    require(t >= 1, s"tlag requires time >= 1, got $t")
  }

  /** Shift forward `t` rows (t >= 1) — views_2.py:100-115. */
  final case class Lead(t: Int) extends Step {
    require(t >= 1, s"tlead requires time >= 1, got $t")
  }

  /** s − tlag(s, t) — views_2.py:12-24. */
  final case class Delta(t: Int) extends Step {
    require(t >= 1, s"delta requires time >= 1, got $t")
  }

  /** Mean over the trailing `t` rows, `min_periods=0` (expanding at the
    * series start) — views_2.py:117-142.
    */
  final case class MovingAverage(t: Int) extends Step {
    require(t >= 1, s"moving_average requires a window >= 1, got $t")
  }

  /** Sum over the trailing `t` rows, same frame rules — views_2.py:144-169. */
  final case class MovingSum(t: Int) extends Step {
    require(t >= 1, s"moving_sum requires a window >= 1, got $t")
  }

  /** Max over the trailing `t` rows, min_periods=0 — views_2.py:337-352. */
  final case class RollMax(t: Int) extends Step {
    require(t >= 1, s"rollmax requires a window >= 1, got $t")
  }

  /** The unit's mean over all its rows, on every row (nulls skipped;
    * summed in month order) — views_2.py:295-306 (`transform("mean")`).
    * An unordered window sums in whatever order the rows reach it; in
    * month order, as after any lag or moving step, its bits are these.
    */
  case object Mean extends Step

  /** s − the unit's mean — views_2.py:321-335. */
  case object Demean extends Step

  /** Run-length counter: the rows whose value is null drop out, then the
    * count of consecutive rows with value == `v` (0 on a row that
    * differs) — views_2.py:172-242. The reference's block-grouper
    * (`cumsum(!mask)` per unit, then a cumulative sum per block) is
    * this one running counter.
    *
    * `seed`: the count injected at the panel's first kept month where
    * the condition already holds there ("assumed prior history",
    * views_2.py:186-201); 0 or None is ignored, like the reference's
    * falsy `if seed:` (views_2.py:232). The panel-wide first month is a
    * global fact, so a seeded step ends its scan: the counts of the run
    * that starts at a unit's first kept month are raised by `seed − 1`
    * afterwards where that month is the panel's first (a broadcast
    * one-row aggregate over the scan's output).
    */
  final case class Cweq(v: Double, seed: Option[Int] = None) extends Step {
    private[UnitScan] def seedValue: Option[Int] = seed.filter(_ != 0)
  }

  /** time_since = cweq(tlag(s, 1), v, seed) — views_2.py:244-277: the
    * lag keeps the counter from being simultaneous with the event, and a
    * unit's first row (lag undefined) drops out.
    */
  def timeSince(v: Double = 0.0, seed: Option[Int] = None): Seq[Step] =
    Seq(Lag(1), Cweq(v, seed))

  /** Incremental time_since update — views_2.py:385-418, composed with
    * time_since the way `q_tick` composes them: over the rows time_since
    * keeps, 0 if the previous kept row's input value is non-null and
    * differs from 0, else that row's time_since + 1 (null on a unit's
    * first kept row).
    */
  case object TickTimeSince extends Step

  private def seeded(s: Step): Boolean = s match {
    case c: Cweq => c.seedValue.isDefined
    case _ => false
  }

  /** `df`'s `value` series after `steps`, per unit in month order: one
    * [[Panel.kernel]] exchange on `unit_id`, one sort, one scan.
    */
  def apply(df: DataFrame, steps: Seq[Step]): DataFrame = {
    require(steps.nonEmpty, "a scan needs at least one step")
    val in = df.schema(V).dataType match {
      case DoubleType => df
      case _: NumericType => df.withColumn(V, col(V).cast(DoubleType))
      case t => throw new IllegalArgumentException(
        s"the per-unit scan reads a numeric `$V` column, got ${t.simpleString}")
    }
    val cut = steps.indexWhere(seeded)
    if (cut < 0) scan(in, steps, seedMark = false)
    else {
      val out = withSeed(scan(in, steps.take(cut + 1), seedMark = true),
        steps(cut).asInstanceOf[Cweq].seedValue.get)
      if (cut + 1 == steps.size) out else apply(out, steps.drop(cut + 1))
    }
  }

  /** Adds `seed − 1` to the counts of the runs marked by the scan that
    * start at the panel's first kept month.
    */
  private def withSeed(out: DataFrame, seed: Int): DataFrame = {
    val t0 = out.agg(min(col(T)).as("__t0"))
    out.crossJoin(broadcast(t0))
      .withColumn(V, when(col(SeedCol) === col("__t0"), col(V) + lit((seed - 1).toDouble))
        .otherwise(col(V)))
      .drop(SeedCol, "__t0")
  }

  /** One [[Panel.kernel]] per unit, in month order: each kept row with
    * `value` replaced (with `seedMark`, also the unit's first kept month
    * as a double, on the rows of its first run).
    */
  private def scan(df: DataFrame, steps: Seq[Step], seedMark: Boolean): DataFrame = {
    val stepArr = steps.toArray
    Panel.kernel(df, U, Some(T), Seq(V, T), if (seedMark) Seq(V, SeedCol) else Seq(V),
        nullable = true) { g =>
      val s = new Series(g.doubles(0), g.nulls(0))
      stepArr.foreach(s.run)
      if (!seedMark) new Panel.Emit(s.n, s.idx, Array(s.v), Array(s.nul))
      else {
        val (t, tNul) = (g.doubles(1), g.nulls(1))
        val at = if (s.n > 0) s.idx(0) else 0
        new Panel.Emit(s.n, s.idx, Array(s.v, Array.fill(s.n)(t(at))),
          Array(s.nul, Array.tabulate(s.n)(k => !s.first(k) || tNul(at))))
      }
    }
  }

  /** One unit's series while the steps run: `n` rows, their values
    * (`nul` marks SQL nulls) and each row's position among the unit's
    * input rows. A step writes the next state into the `*2` arrays and
    * swaps them in.
    */
  private final class Series(var v: Array[Double], var nul: Array[Boolean]) {
    var n = v.length
    var idx = Array.range(0, n)
    var v2 = new Array[Double](n)
    var nul2 = new Array[Boolean](n)
    var idx2 = new Array[Int](n)
    /** Rows of the run that starts at the unit's first kept row (seeded cweq). */
    val first = new Array[Boolean](n)

    private def swap(n2: Int): Unit = {
      val a = v; v = v2; v2 = a
      val b = nul; nul = nul2; nul2 = b
      val c = idx; idx = idx2; idx2 = c
      n = n2
    }

    private def set(i: Int, isNull: Boolean, x: Double, at: Int): Unit = {
      nul2(i) = isNull; v2(i) = if (isNull) 0.0 else x; idx2(i) = at
    }

    /** SQL `x === y` on doubles. */
    private def sqlEq(x: Double, y: Double): Boolean =
      x == y || (java.lang.Double.isNaN(x) && java.lang.Double.isNaN(y))

    /** SQL ordering on doubles: NaN above everything, −0.0 equal to 0.0. */
    private def sqlGreater(x: Double, y: Double): Boolean =
      x != y && java.lang.Double.compare(x, y) > 0

    def run(step: Step): Unit = step match {
      case Lag(t) =>
        var i = 0
        while (i < n) { val j = i - t; set(i, j < 0 || nul(j), if (j < 0) 0.0 else v(j), idx(i)); i += 1 }
        swap(n)
      case Lead(t) =>
        var i = 0
        while (i < n) { val j = i + t; set(i, j >= n || nul(j), if (j >= n) 0.0 else v(j), idx(i)); i += 1 }
        swap(n)
      case Delta(t) =>
        var i = 0
        while (i < n) {
          val j = i - t
          set(i, j < 0 || nul(i) || nul(j), if (j < 0) 0.0 else v(i) - v(j), idx(i)); i += 1
        }
        swap(n)
      case MovingSum(t) => frame(t, average = false)
      case MovingAverage(t) => frame(t, average = true)
      case RollMax(t) =>
        var i = 0
        while (i < n) {
          var j = math.max(0, i - t + 1)
          var has = false
          var m = 0.0
          while (j <= i) {
            if (!nul(j) && (!has || sqlGreater(v(j), m))) { m = v(j); has = true }
            j += 1
          }
          set(i, !has, m, idx(i)); i += 1
        }
        swap(n)
      case Mean | Demean =>
        var acc = 0.0
        var cnt = 0L
        var i = 0
        while (i < n) { if (!nul(i)) { acc += v(i); cnt += 1 }; i += 1 }
        val mean = acc / cnt.toDouble
        i = 0
        while (i < n) {
          if (step == Mean) set(i, cnt == 0, mean, idx(i))
          else set(i, cnt == 0 || nul(i), v(i) - mean, idx(i))
          i += 1
        }
        swap(n)
      case c: Cweq =>
        var k = 0
        var count = 0L
        var inFirst = true
        var i = 0
        while (i < n) {
          if (!nul(i)) {
            val hit = sqlEq(v(i), c.v)
            count = if (hit) count + 1 else 0L
            inFirst = inFirst && hit
            first(k) = inFirst
            set(k, isNull = false, count.toDouble, idx(i))
            k += 1
          }
          i += 1
        }
        swap(k)
      case TickTimeSince =>
        // time_since over the rows whose lag is non-null, then the tick
        // over those kept rows, reading the previous kept row's input
        var k = 0
        var prev = -1
        var prevTs = 0.0
        var count = 0L
        var i = 1
        while (i < n) {
          if (!nul(i - 1)) {
            count = if (sqlEq(v(i - 1), 0.0)) count + 1 else 0L
            if (prev < 0) set(k, isNull = true, 0.0, idx(i))
            else if (!nul(prev) && !sqlEq(v(prev), 0.0)) set(k, isNull = false, 0.0, idx(i))
            else set(k, isNull = false, prevTs + 1.0, idx(i))
            prev = i
            prevTs = count.toDouble
            k += 1
          }
          i += 1
        }
        swap(k)
    }

    /** Trailing-frame sum or average, rebuilt per row from 0.0. */
    private def frame(t: Int, average: Boolean): Unit = {
      var i = 0
      while (i < n) {
        var j = math.max(0, i - t + 1)
        var acc = 0.0
        var cnt = 0
        while (j <= i) { if (!nul(j)) { acc += v(j); cnt += 1 }; j += 1 }
        set(i, cnt == 0, if (average) acc / cnt.toDouble else acc, idx(i)); i += 1
      }
      swap(n)
    }
  }
}
