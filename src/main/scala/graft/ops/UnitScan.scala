package graft.ops

import graft.Panel
import graft.functions.SparkRound
import java.math.BigInteger
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Add, Cast, EvalMode, Expression, Literal, Subtract}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, NumericType, StructField}

/** Every per-unit series step of the panel family as ONE scan over each
  * unit's rows — the reference's reshape-operate-flatten idiom (it
  * stacks the panel into a time × unit tensor and operates along time)
  * applied per unit: lag, lead, delta, the moving frames, mean, cweq,
  * time_since, tick and onset (views_2.py), temporal entropy, the
  * multi-lag (tlag3d.py), fill and extrapolate (missing.py), and the
  * extensions winsorize, robust_scale, ewma, cusum, decompose, trend,
  * rolling_corr and the rolling median.
  *
  * Plan shape: one [[Panel.kernel]] on `unit_id`, sorted by month — one
  * input-sized exchange, one sort and one grouped map that reads each
  * unit's values once into primitive arrays and applies every step in
  * order, where a window formulation stacks one `Window` operator per
  * dependent step. A `bucketBy(unit_id)` table is scanned by bucket.
  *
  * Values equal the window formulation's (the test-side
  * `WindowReference`) bit for bit where its frame is month-ordered:
  * lag/lead are positional over the unit's rows in month order; frame
  * sums are rebuilt per row from 0.0, oldest row first, skipping nulls
  * (as Spark's sliding frame recomputes its buffer), and a frame without
  * a value is null; comparisons and `max` are SQL's (NaN above every
  * value, −0.0 equal to 0.0, the earlier of two equal values kept);
  * `cweq`/`time_since` drop the rows whose input is null; `round(…, 9)`
  * is [[SparkRound]] and `log` is `StrictMath.log` (what Spark's
  * generated code calls). Where a window sums the whole series in
  * arrival order (`trend`, `decompose`'s phase means) the scan sums in
  * month order, and `percentile` keys −0.0 and 0.0 as one value while
  * the scan sorts −0.0 first: there the bits are not guaranteed equal.
  *
  * `value` is read as a double (another numeric type is cast first,
  * anything else is rejected). A step either rewrites `value` (nullable
  * as its window form's would be) or appends columns that follow the
  * rows a later step drops. Spark cannot see the output's `unit_id`
  * clustering: a per-unit window planned above a scan shuffles again.
  */
object UnitScan {
  private val T = Panel.TimeCol
  private val U = Panel.UnitCol
  private val V = "value"
  /** The seeded `cweq`'s per-row marker: the unit's first kept month, on
    * the rows of the run that starts there.
    */
  private val SeedCol = "__seed_month"

  private def nullableDoubles(names: String*): Seq[StructField] =
    names.map(StructField(_, DoubleType, nullable = true))

  /** One step of the scan. */
  sealed trait Step extends Serializable {
    /** The input columns it reads. */
    def reads: Seq[String] = Seq(V)
    /** The columns it appends (a step that appends keeps `value`). */
    def appends: Seq[StructField] = Nil
    /** Whether it rewrites `value` (or drops rows). */
    def writesValue: Boolean = appends.isEmpty
    /** Whether the `value` it writes can be null, given its input's. */
    def nullable(in: Boolean): Boolean = true
  }

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

  /** Spark's exact `percentile` at 0.5 of the non-null values over the
    * trailing `t` rows (min_periods=0), null where there is none — the
    * outlier-robust smoother pandas `rolling(t).median()` provides where
    * the moving average chases spikes.
    */
  final case class RollingMedian(t: Int) extends Step {
    require(t >= 1, s"rollingMedian requires t >= 1, got $t")
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

  /** Clip to the unit's own [pLow, pHigh] quantiles (Spark's exact
    * `percentile`: linear interpolation between order statistics, nulls
    * skipped) — `least(greatest(s, lo), hi)`; a null cell stays null.
    * Extension, no reference counterpart.
    */
  final case class Winsorize(pLow: Double, pHigh: Double) extends Step {
    require(pLow >= 0.0 && pHigh <= 1.0 && pLow <= pHigh,
      s"need 0 <= pLow <= pHigh <= 1, got ($pLow, $pHigh)")
    override def nullable(in: Boolean): Boolean = in
  }

  /** (s − median) / IQR over the unit's series, with every row of a unit
    * whose IQR is 0 mapped to 0.0.
    */
  case object RobustScale extends Step

  /** Exponentially weighted mean truncated at `span` lags:
    * Σ_{j<span} αʲ·x_{t−j} / Σ_{j: x_{t−j} exists} αʲ (pandas'
    * `ewm(alpha=1−α, adjust=True)` shape over a finite horizon), each sum
    * folded from j = 0; null where no lag exists.
    */
  final case class Ewma(alpha: Double, span: Int) extends Step {
    require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0, 1), got $alpha")
    require(span > 0, s"span must be positive, got $span")
  }

  /** CUSUM drift statistic on the 1e-9 integer grid, read from `fixed`:
    * the series itself, fixed in the scan as [[Panel.fix9]] fixes it (so a
    * `cusum` after a step that rewrites `value` stays in the same scan),
    * or a long column already on the grid (the integer-grid panel's
    * `v9`). Appends `cusum` (double) and `breach` (int), both null
    * before the unit's first value. The running `cs9 = Σv9 − n·μ9`
    * (μ9 = round(Σv9 / N)) is exact long arithmetic, so no merge order
    * moves a bit; `cusum` is its HALF-UP 1e-6 grid value
    * `sign(cs9)·((|cs9| + 500) div 1000) / 1e6`. `breach` is the integer
    * certificate of `|cs| − h·σ ≥ 0.5e-6`: with `ex = N·Σv9² − (Σv9)²`,
    * `A = |cs9| − 500` and h² = u/d ([[TemporalOps.cusumRational]]),
    * breach ⟺ A ≥ 0 AND (A·N)²·d ≥ u·ex, in `BigInteger`. A term outside
    * Decimal(38,0) (the oracle's and the streaming twin's domain) raises
    * the named "cusum breach certificate overflow" error; a long sum that
    * overflows raises `ArithmeticException`.
    */
  final case class Cusum(h: Double, fixed: String = V) extends Step {
    override def reads: Seq[String] = Seq(fixed)
    override def appends: Seq[StructField] = Seq(StructField("cusum", DoubleType, nullable = true),
      StructField("breach", IntegerType, nullable = true))
    private[UnitScan] val (hNum, hDen) = TemporalOps.cusumRational(h) match {
      case (u, d) => (u.bigDecimal.toBigIntegerExact, d.bigDecimal.toBigIntegerExact)
    }
  }

  /** Classical additive decomposition; appends `trend` (the centred
    * mean over rows ±`half`, partial at the edges), `seasonal` (the mean
    * of value − trend over the unit's rows of the same phase,
    * `month_id` mod `period`, summed in month order) and `residual`.
    */
  final case class Decompose(period: Int, half: Int) extends Step {
    require(period > 1 && half > 0)
    override def appends: Seq[StructField] = nullableDoubles("trend", "seasonal", "residual")
  }

  /** Per-unit OLS fit of the value on `month_id` (as a double): appends
    * `slope`, `fitted` and `detrended`. The normal-equation sums run in
    * month order (the month sums over every row with a month); slope and
    * intercept are rounded to 1e-9 before the fit.
    */
  case object Trend extends Step {
    override def appends: Seq[StructField] = nullableDoubles("slope", "fitted", "detrended")
  }

  /** Pearson correlation of `value` and `value2` over the trailing `win`
    * rows, appended as `rcorr`: each sum skips only its own nulls, the
    * pair count needs both values; both variance terms are rounded to
    * 1e-9, and fewer than 2 pairs or a variance ≤ 0 gives null.
    */
  final case class RollingCorr(win: Int) extends Step {
    require(win > 1, s"window must exceed 1, got $win")
    override def reads: Seq[String] = Seq(V, "value2")
    override def appends: Seq[StructField] = nullableDoubles("rcorr")
  }

  /** 1.0 iff the max of the 1-lagged, 0-filled series over the trailing
    * `win` rows is 0 (the first row is always possible), else 0.0 —
    * views_2.py:354-367.
    */
  final case class OnsetPossible(win: Int) extends Step {
    require(win >= 1, s"onset_possible requires a window >= 1, got $win")
    override def nullable(in: Boolean): Boolean = false
  }

  /** onset_possible AND s != 0 (a null s is no onset) — views_2.py:369-383. */
  final case class Onset(win: Int) extends Step {
    require(win >= 1, s"onset requires a window >= 1, got $win")
    override def nullable(in: Boolean): Boolean = false
  }

  /** Shannon entropy over the trailing `win` rows with `offset` added to
    * every value — temporal_entropy.py:7-102, as
    * H = log2(X) − (Σ x·log2 x)/X with X = Σ x over the frame (0·log 0 := 0;
    * 0.0 where X is not positive).
    */
  final case class TemporalEntropy(win: Int, offset: Double) extends Step {
    require(win >= 1, s"temporal_entropy requires a window >= 1, got $win")
  }

  /** Multi-lag — tlag3d.py:6-134: appends `tlag_<l>` per lag, the value
    * `l` rows back, 0.0 where there is none or it is null (a DELIBERATE
    * DEVIATION: the reference's negative index wraps in numpy, filling
    * the first `lag` steps with end-of-series values).
    */
  final case class TLags(lags: Seq[Int]) extends Step {
    require(lags.nonEmpty, "tlags3d needs at least one lag")
    override def appends: Seq[StructField] = Panel.doubles(lags.map(l => s"tlag_$l"): _*)
  }

  /** Forward/backward fill with pandas' limit_direction/limit_area —
    * missing.py:100-161; only a SQL null is missing (NaN is a value):
    *  - area None: forward → ffill, backward → bfill, else ffill then bfill;
    *  - inside: only nulls between two values (ffill unless backward);
    *  - outside: bfill before the first value, ffill after the last.
    */
  final case class Fill(direction: String = "both", area: Option[String] = None) extends Step {
    area.filterNot(Set("inside", "outside")).foreach(a =>
      throw new IllegalArgumentException(s"unknown limit_area: $a"))
    override def nullable(in: Boolean): Boolean = in || area.isDefined
  }

  /** Linear interpolation of interior nulls over row offsets,
    * `prev + (next − prev)·(rn − prevRn)/(nextRn − prevRn)`, and the
    * nearest value at the edges, gated by `direction` (forward,
    * backward, both) and `area` (inside: interior only; outside: edges
    * only) — missing.py:72-98.
    */
  final case class Extrapolate(direction: String = "both", area: Option[String] = None)
      extends Step

  private def seeded(s: Step): Boolean = s match {
    case c: Cweq => c.seedValue.isDefined
    case _ => false
  }

  /** `df`'s `value` series after `steps`, per unit in month order: one
    * [[Panel.kernel]] exchange on `unit_id`, one sort, one scan.
    */
  def apply(df: DataFrame, steps: Seq[Step]): DataFrame = {
    require(steps.nonEmpty, "a scan needs at least one step")
    val in = asDouble(df, V, "the per-unit scan")
    val cut = steps.indexWhere(seeded)
    if (cut < 0) scan(in, steps, seedMark = false)
    else {
      val out = withSeed(scan(in, steps.take(cut + 1), seedMark = true),
        steps(cut).asInstanceOf[Cweq].seedValue.get)
      if (cut + 1 == steps.size) out else apply(out, steps.drop(cut + 1))
    }
  }

  /** `df` with its column `c`, where it has one, read as a double: another
    * numeric type is cast, anything else is rejected (`reader` names the
    * operator in the error).
    */
  private[ops] def asDouble(df: DataFrame, c: String, reader: String): DataFrame =
    df.schema.find(_.name == c).map(_.dataType) match {
      case None | Some(DoubleType) => df
      case Some(_: NumericType) => df.withColumn(c, col(c).cast(DoubleType))
      case Some(t) => throw new IllegalArgumentException(
        s"$reader reads a numeric `$c` column, got ${t.simpleString}")
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
    * `value` replaced if a step rewrites it (with `seedMark`, also the
    * unit's first kept month as a double, on the rows of its first run)
    * and the steps' appended columns.
    */
  private def scan(df: DataFrame, steps: Seq[Step], seedMark: Boolean): DataFrame = {
    val stepArr = steps.toArray
    val reads = (steps.flatMap(_.reads) :+ T).distinct
    val writes = steps.exists(_.writesValue)
    val value = if (!writes) Nil else Seq(StructField(V, DoubleType, nullable = steps
      .filter(_.writesValue).foldLeft(df.schema(V).nullable)((in, s) => s.nullable(in))))
    val seed = if (seedMark) nullableDoubles(SeedCol) else Nil
    val extra = steps.flatMap(_.appends).distinctBy(_.name)
    val names = extra.map(_.name).toArray
    val ansi = df.sparkSession.sessionState.conf.ansiEnabled
    Panel.kernel(df, U, Some(T), reads, value ++ seed ++ extra) { g =>
      val s = new Series(g, reads, names, ansi)
      stepArr.foreach(s.run)
      val vs = Array.newBuilder[Array[Double]]
      val ns = Array.newBuilder[Array[Boolean]]
      if (writes) { vs += s.v; ns += s.nul }
      if (seedMark) {
        val (t, tNul) = (g.doubles(reads.indexOf(T)), g.nulls(reads.indexOf(T)))
        val at = if (s.n > 0) s.idx(0) else 0
        vs += Array.fill(s.n)(t(at)); ns += Array.tabulate(s.n)(k => !s.first(k) || tNul(at))
      }
      names.indices.foreach { j =>
        vs += Array.tabulate(s.n)(k => s.outV(j)(s.idx(k)))
        ns += Array.tabulate(s.n)(k => s.outNul(j)(s.idx(k)))
      }
      new Panel.Emit(s.n, s.idx, vs.result(), ns.result())
    }
  }

  /** [[Panel.fix9]] of one value as Spark computes it. */
  private def fix9(x: Double, ansi: Boolean): Long = roundLong(x * 1e9, ansi)

  /** `round(x)` cast to long as Spark computes it: the double → long cast
    * raises Spark's `CAST_OVERFLOW` error for NaN, ±Infinity and values
    * outside the long range under ANSI, and otherwise saturates (NaN to 0).
    */
  private[ops] def roundLong(x: Double, ansi: Boolean): Long = {
    val r = SparkRound(x, 0)
    if (r > -9.2e18 && r < 9.2e18) r.toLong
    else Cast(Literal(r), LongType, None, mode(ansi)).eval().asInstanceOf[Long]
  }

  private def mode(ansi: Boolean) = if (ansi) EvalMode.ANSI else EvalMode.LEGACY

  /** Spark's long `+` and `-` (a `sum`'s running total among them):
    * two's-complement wrapping, or Spark's `ARITHMETIC_OVERFLOW` error
    * under ANSI.
    */
  private[ops] def plus(a: Long, b: Long, ansi: Boolean): Long = exact(a, b, ansi)(Math.addExact, Add(_, _, _))
  private[ops] def minus(a: Long, b: Long, ansi: Boolean): Long =
    exact(a, b, ansi)(Math.subtractExact, Subtract(_, _, _))

  private def exact(a: Long, b: Long, ansi: Boolean)(op: (Long, Long) => Long,
                    expr: (Expression, Expression, EvalMode.Value) => Expression): Long =
    try op(a, b) catch {
      case _: ArithmeticException => expr(Literal(a), Literal(b), mode(ansi)).eval().asInstanceOf[Long]
    }

  /** SQL `x === y` on doubles: NaN equals NaN, −0.0 equals 0.0. */
  private[ops] def sqlEq(x: Double, y: Double): Boolean =
    x == y || (java.lang.Double.isNaN(x) && java.lang.Double.isNaN(y))

  /** SQL ordering on doubles: NaN above everything, −0.0 equal to 0.0. */
  private[ops] val sqlOrder: Ordering[Double] = (x, y) =>
    if (sqlEq(x, y)) 0 else java.lang.Double.compare(x, y)

  /** SQL `x > y` on doubles. */
  private[graft] def sqlGreater(x: Double, y: Double): Boolean =
    x != y && java.lang.Double.compare(x, y) > 0

  /** Spark's exact `percentile` of the sorted non-empty `xs` at `p`:
    * linear interpolation between the order statistics around
    * (n − 1)·p, or the statistic itself where both are equal.
    */
  private def percentile(xs: Array[Double], p: Double): Double = {
    val pos = (xs.length - 1).toLong * p
    val lo = math.floor(pos).toLong
    val hi = math.ceil(pos).toLong
    val (a, b) = (xs(lo.toInt), xs(hi.toInt))
    if (hi == lo || a == b) a else (hi - pos) * a + (pos - lo) * b
  }

  /** One unit's series while the steps run: `n` rows, their values
    * (`nul` marks SQL nulls) and each row's position among the unit's
    * input rows. A step writes the next state into the `*2` arrays and
    * swaps them in. Appended columns (`outNames`) are kept by input row,
    * so a row a later step drops takes its appended values with it.
    */
  private[ops] final class Series(g: Panel.Group, reads: Seq[String], outNames: Array[String],
                             ansi: Boolean) {
    private val readsValue = reads.contains(V)
    var v: Array[Double] = if (readsValue) g.doubles(reads.indexOf(V)) else new Array[Double](g.n)
    var nul: Array[Boolean] = if (readsValue) g.nulls(reads.indexOf(V)) else new Array[Boolean](g.n)
    var n = g.n
    var idx = Array.range(0, n)
    var v2 = new Array[Double](n)
    var nul2 = new Array[Boolean](n)
    var idx2 = new Array[Int](n)
    /** Rows of the run that starts at the unit's first kept row (seeded cweq). */
    val first = new Array[Boolean](n)
    val outV: Array[Array[Double]] = Array.fill(outNames.length)(new Array[Double](g.n))
    val outNul: Array[Array[Boolean]] = Array.fill(outNames.length)(new Array[Boolean](g.n))
    private lazy val month = g.longs(reads.indexOf(T))
    private lazy val monthNul = g.nulls(reads.indexOf(T))

    private def swap(n2: Int): Unit = {
      val a = v; v = v2; v2 = a
      val b = nul; nul = nul2; nul2 = b
      val c = idx; idx = idx2; idx2 = c
      n = n2
    }

    private def set(i: Int, isNull: Boolean, x: Double, at: Int): Unit = {
      nul2(i) = isNull; v2(i) = if (isNull) 0.0 else x; idx2(i) = at
    }

    /** Rewrites `value` to `f(i)` on every row `i` (None: null); the rows stay. */
    private def rewrite(f: Int => Option[Double]): Unit = {
      var i = 0
      while (i < n) { val x = f(i); set(i, x.isEmpty, x.getOrElse(0.0), idx(i)); i += 1 }
      swap(n)
    }

    /** Appended column `j`'s value on current row `i`. */
    private def put(j: Int, i: Int, x: Option[Double]): Unit = {
      outNul(j)(idx(i)) = x.isEmpty; outV(j)(idx(i)) = x.getOrElse(0.0)
    }

    private def slot(name: String): Int = outNames.indexOf(name)

    /** Σ of `f(j)` over the rows `from..to` where it is defined, from
      * 0.0 in row order; None where no row is.
      */
    private def sum(from: Int, to: Int)(f: Int => Option[Double]): Option[Double] = {
      var acc = 0.0
      var has = false
      var j = math.max(from, 0)
      while (j <= math.min(to, n - 1)) {
        f(j).foreach { x => acc += x; has = true }
        j += 1
      }
      if (has) Some(acc) else None
    }

    /** Mean of `f(j)` over the rows `from..to` where it is defined. */
    private def avg(from: Int, to: Int)(f: Int => Option[Double]): Option[Double] =
      sum(from, to)(f).map(_ / sum(from, to)(f(_).map(_ => 1.0)).get)

    /** Row `j`'s value; None where it is null or `j` is −1. */
    private def value(j: Int): Option[Double] = if (j < 0 || nul(j)) None else Some(v(j))

    /** The non-null values, sorted (NaN last, −0.0 before 0.0). */
    private def sorted(): Array[Double] =
      (0 until n).filterNot(nul).map(v).sorted(Ordering.Double.TotalOrdering).toArray

    /** Each row's nearest row with a value at or before it, and at or
      * after it (−1: none).
      */
    private def prevNext(): (Array[Int], Array[Int]) = (
      (0 until n).scanLeft(-1)((p, i) => if (nul(i)) p else i).tail.toArray,
      (n - 1 to 0 by -1).scanLeft(-1)((q, i) => if (nul(i)) q else i).tail.reverse.toArray)

    /** SQL max of `f(j)` over the rows `from..to` where it is defined
      * (NaN above every value, the earlier of two equal values kept).
      */
    private def max(from: Int, to: Int)(f: Int => Option[Double]): Option[Double] =
      (math.max(from, 0) to math.min(to, n - 1)).flatMap(f)
        .reduceOption((m, x) => if (sqlGreater(x, m)) x else m)

    /** onset_possible on row `i`: the SQL max of the 1-lagged, 0-filled
      * series over the trailing `win` rows is 0.
      */
    private def possible(i: Int, win: Int): Boolean = {
      val from = math.max(0, i - win + 1)
      var m = 0.0
      for (j <- from to i) {
        val x = if (j >= 1 && !nul(j - 1)) v(j - 1) else 0.0
        if (j == from || sqlGreater(x, m)) m = x
      }
      m == 0.0
    }

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
      case RollMax(t) => rewrite(i => max(i - t + 1, i)(value))
      case RollingMedian(t) => rewrite { i =>
        val xs = (math.max(0, i - t + 1) to i).filterNot(nul).map(v)
          .sorted(Ordering.Double.TotalOrdering).toArray
        if (xs.isEmpty) None else Some(percentile(xs, 0.5))
      }
      case Mean | Demean =>
        val mean = avg(0, n - 1)(value)
        rewrite(i => if (step == Mean) mean else for (x <- value(i); m <- mean) yield x - m)
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
      case Winsorize(pLow, pHigh) =>
        val xs = sorted()
        val (lo, hi) = if (xs.isEmpty) (0.0, 0.0) else (percentile(xs, pLow), percentile(xs, pHigh))
        rewrite { i =>
          value(i).map { x =>
            val up = if (sqlGreater(lo, x)) lo else x
            if (sqlGreater(up, hi)) hi else up
          }
        }
      case RobustScale =>
        val xs = sorted()
        if (xs.isEmpty) rewrite(_ => None)
        else {
          val med = percentile(xs, 0.5)
          val iqr = percentile(xs, 0.75) - percentile(xs, 0.25)
          rewrite(i => if (iqr == 0.0) Some(0.0) else value(i).map(x => (x - med) / iqr))
        }
      case Ewma(alpha, span) =>
        val w = Array.tabulate(span)(math.pow(alpha, _))
        rewrite { i =>
          var num = 0.0
          var den = 0.0
          var j = 0
          while (j < span) {
            val k = i - j
            val (x, a) = if (k >= 0 && !nul(k)) (v(k) * w(j), w(j)) else (0.0, 0.0)
            if (j == 0) { num = x; den = a } else { num += x; den += a }
            j += 1
          }
          if (den == 0.0) None else Some(num / den)
        }
      case c: Cusum => cusum(c)
      case Decompose(period, half) =>
        val trend = Array.tabulate(n)(i => avg(i - half, i + half)(value))
        val dev = Array.tabulate(n)(i => for (x <- value(i); t <- trend(i)) yield x - t)
        val phase = Array.tabulate(n)(i =>
          if (monthNul(idx(i))) -1L else java.lang.Math.floorMod(month(idx(i)), period.toLong))
        val seasonal = (0 until n).groupBy(phase).map { case (p, rows) =>
          p -> avg(0, rows.size - 1)(k => dev(rows(k)))
        }
        val Seq(tj, sj, rj) = Seq("trend", "seasonal", "residual").map(slot)
        for (i <- 0 until n) {
          put(tj, i, trend(i))
          put(sj, i, seasonal(phase(i)))
          put(rj, i, for (d <- dev(i); s <- seasonal(phase(i))) yield d - s)
        }
      case Trend =>
        val t = Array.tabulate(n)(i => if (monthNul(idx(i))) None else Some(month(idx(i)).toDouble))
        val cnt = (0 until n).count(!nul(_)).toDouble
        val st = sum(0, n)(t)
        val sx = sum(0, n)(value)
        val stx = sum(0, n)(i => for (ti <- t(i); x <- value(i)) yield ti * x)
        val stt = sum(0, n)(i => t(i).map(ti => ti * ti))
        val slope = for (a <- stt; b <- st; den = cnt * a - b * b;
                         s <- if (den == 0.0) Some(0.0)
                              else for (c <- stx; d <- sx) yield (cnt * c - b * d) / den)
          yield SparkRound(s, 9)
        val intercept = for (x <- sx; s <- slope; b <- st) yield SparkRound(x / cnt - s * (b / cnt), 9)
        val Seq(sj, fj, dj) = Seq("slope", "fitted", "detrended").map(slot)
        for (i <- 0 until n) {
          val fitted = for (s <- slope; ti <- t(i); b <- intercept) yield s * ti + b
          put(sj, i, slope)
          put(fj, i, fitted)
          put(dj, i, for (x <- value(i); f <- fitted) yield x - f)
        }
      case RollingCorr(win) =>
        val (y0, yNul0) = (g.doubles(reads.indexOf("value2")), g.nulls(reads.indexOf("value2")))
        val y = (j: Int) => if (yNul0(idx(j))) None else Some(y0(idx(j)))
        val rj = slot("rcorr")
        for (i <- 0 until n) {
          val lo = i - win + 1
          val pairs = sum(lo, i)(j => for (_ <- value(j); _ <- y(j)) yield 1.0).getOrElse(0.0)
          put(rj, i, if (pairs < 2.0) None else {
            val (sx, sy) = (sum(lo, i)(value).get, sum(lo, i)(y).get)
            val sxx = sum(lo, i)(j => value(j).map(x => x * x)).get
            val syy = sum(lo, i)(j => y(j).map(b => b * b)).get
            val sxy = sum(lo, i)(j => for (x <- value(j); b <- y(j)) yield x * b).get
            val vx = SparkRound(pairs * sxx - sx * sx, 9)
            val vy = SparkRound(pairs * syy - sy * sy, 9)
            if (vx <= 0.0 || vy <= 0.0) None
            else Some((pairs * sxy - sx * sy) / math.sqrt(vx * vy))
          })
        }
      case OnsetPossible(win) => rewrite(i => Some(if (possible(i, win)) 1.0 else 0.0))
      case Onset(win) =>
        rewrite(i => Some(if (possible(i, win) && !nul(i) && v(i) != 0.0) 1.0 else 0.0))
      case TemporalEntropy(win, offset) =>
        val x = Array.tabulate(n)(value(_).map(_ + offset))
        val log2 = StrictMath.log(2.0)
        val term = x.map(_.map(a => if (sqlGreater(a, 0.0)) a * (StrictMath.log(a) / log2) else 0.0))
        rewrite { i =>
          Some(sum(i - win + 1, i)(x(_)) match {
            case Some(total) if sqlGreater(total, 0.0) =>
              StrictMath.log(total) / log2 - sum(i - win + 1, i)(term(_)).get / total
            case _ => 0.0
          })
        }
      case TLags(lags) =>
        for (l <- lags; out = slot(s"tlag_$l"); i <- 0 until n) {
          val j = i - l
          put(out, i, Some(if (j < 0 || j >= n || nul(j)) 0.0 else v(j)))
        }
      case Fill(direction, area) =>
        val (prev, next) = prevNext()
        rewrite { i =>
          val from = if (!nul(i)) i else area match {
            case Some("inside") =>
              if (prev(i) < 0 || next(i) < 0) -1 else if (direction == "backward") next(i) else prev(i)
            case Some(_) => if (prev(i) < 0) next(i) else if (next(i) < 0) prev(i) else -1
            case None => direction match {
              case "forward" => prev(i)
              case "backward" => next(i)
              case _ => if (prev(i) >= 0) prev(i) else next(i)
            }
          }
          value(from)
        }
      case Extrapolate(direction, area) =>
        val (prev, next) = prevNext()
        val edges = !area.contains("inside")
        val forward = direction == "forward" || direction == "both"
        val backward = direction == "backward" || direction == "both"
        val interior = area.isEmpty || area.contains("inside")
        rewrite { i =>
          val (p, q) = (prev(i), next(i))
          if (!nul(i)) Some(v(i))
          else if (edges && backward && p < 0) value(q)
          else if (edges && forward && q < 0) value(p)
          else if (interior && p >= 0 && q >= 0)
            Some(v(p) + (v(q) - v(p)) * (i - p).toDouble / (q - p).toDouble)
          else None
        }
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

    private def cusum(c: Cusum): Unit = {
      val v9: Array[Option[Long]] =
        if (c.fixed == V) Array.tabulate(n)(i => if (nul(i)) None else Some(fix9(v(i), ansi)))
        else {
          val (f, fNul) = (g.longs(reads.indexOf(c.fixed)), g.nulls(reads.indexOf(c.fixed)))
          Array.tabulate(n)(i => if (fNul(idx(i))) None else Some(f(idx(i))))
        }
      val xs = v9.flatten
      val big = BigInteger.TEN.pow(38)
      def dec(x: BigInteger): BigInteger =
        if (x.abs.compareTo(big) < 0) x
        else throw new ArithmeticException("cusum breach certificate overflow: N*(|cs9|+500) " +
          "exceeds the Decimal(38,0) domain — rescale the series")
      val nAll = xs.size.toLong
      val s1 = xs.foldLeft(0L)(Math.addExact)
      lazy val mu9 = SparkRound(s1.toDouble / nAll.toDouble, 0).toLong
      lazy val ex = {
        val bn = BigInteger.valueOf(nAll)
        val sq = dec(xs.foldLeft(BigInteger.ZERO)((a, x) => a.add(BigInteger.valueOf(x).pow(2))))
        dec(dec(bn.multiply(sq)).subtract(BigInteger.valueOf(s1).pow(2)))
      }
      val (cj, bj) = (slot("cusum"), slot("breach"))
      var cumS = 0L
      var cumN = 0L
      for (i <- 0 until n) {
        v9(i).foreach { x => cumS = Math.addExact(cumS, x); cumN += 1 }
        if (cumN == 0) { put(cj, i, None); put(bj, i, None) }
        else {
          val cs9 = Math.subtractExact(cumS, Math.multiplyExact(cumN, mu9))
          val q6 = Math.addExact(Math.abs(cs9), 500L) / 1000L
          put(cj, i, Some((if (cs9 < 0) -q6 else q6).toDouble / 1e6))
          val a = Math.abs(cs9) - 500L
          put(bj, i, Some(if (a < 0) 0.0 else {
            val an = dec(BigInteger.valueOf(a).multiply(BigInteger.valueOf(nAll)))
            val lhs = dec(dec(an.multiply(an)).multiply(c.hDen))
            val rhs = dec(c.hNum.multiply(ex))
            if (lhs.compareTo(rhs) >= 0) 1.0 else 0.0
          }))
        }
      }
    }
  }
}
