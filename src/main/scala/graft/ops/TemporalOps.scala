package graft.ops

import graft.Panel
import graft.functions.SparkRound
import java.math.BigInteger
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{CheckOverflowInSum, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-unit time-series diagnostics (SURVEY §2.5) that emit one row per
  * unit (or per unit and lag): ACF/PACF, the seasonal-naive backtest,
  * the runs, Mann–Kendall and Theil–Sen tests, the dominant period, the
  * seasonal/trend strength and the changepoint argmax. Every per-unit
  * series step (lag, moving frames, cweq, onset, entropy, the
  * multi-lag, the rolling median, …) runs as one per-unit scan,
  * [[UnitScan]].
  *
  * Plan shape: each diagnostic is one [[Panel.reduce]] on `unit_id`
  * sorted by month (one exchange, one sort, one grouped map) that
  * reduces a unit's values in month order to its statistics; the closed
  * forms over them stay `select`s, so their rounding and null rules are
  * Spark's. Values equal the SQL formulations the oracle mirrors (the
  * test-side `DiagnosticReference`) bit for bit: `value` is read as a
  * double, observed when neither null nor NaN; sums start from 0.0;
  * sorts and comparisons are SQL's; a fixing, a long sum and a
  * decimal(38,0) sum raise under ANSI and otherwise saturate, wrap or
  * null as Spark's do. Theil–Sen and runs drop a null `unit_id`.
  */
object TemporalOps {
  private val T = Panel.TimeCol
  private val U = Panel.UnitCol

  /** h² as a rational u/d (d = 10^s, s ≤ 12), shared by the batch
    * operator, the streaming twin and the oracle generator so all
    * three compare the IDENTICAL integers — engine-identity needs a
    * shared value, not a perfect one. Exact when the double h·h is a
    * short decimal (every gate h: 9/1, 4/1, 625/100); a long-tail
    * double (h = 1.7 → 52 digits) is rounded HALF_EVEN to 12 decimal
    * places — 1e-12 relative on the threshold, four orders tighter
    * than the old float margin, and capped so (A·N)²·d keeps
    * Decimal(38,0) headroom (A·N ≤ ~3e15 at the worst-case d = 1e12).
    */
  private[graft] def cusumRational(h: Double): (BigDecimal, BigDecimal) = {
    val raw = new java.math.BigDecimal(h * h).stripTrailingZeros
    val hh = (if (raw.scale > 12)
      raw.setScale(12, java.math.RoundingMode.HALF_EVEN)
    else raw).stripTrailingZeros
    val s = math.max(hh.scale, 0)
    (BigDecimal(hh.movePointRight(s)), BigDecimal(java.math.BigDecimal.ONE
      .movePointRight(s)))
  }

  /** One unit's rows in month order: `x` read as a double (`nul`: SQL
    * null), and the `month_id` cells.
    */
  private final class Series(val group: Panel.Group) {
    val n: Int = group.n
    val x: Array[Double] = group.doubles(0)
    val nul: Array[Boolean] = group.nulls(0)
    def month: Array[Any] = group.cells(1)
    /** Whether row `i` holds an observed value (neither null nor NaN). */
    def ok(i: Int): Boolean = !nul(i) && !java.lang.Double.isNaN(x(i))
    /** The observed rows, in month order. */
    lazy val obs: Array[Int] = (0 until n).filter(ok).toArray
  }

  private def longs(names: String*): Seq[StructField] = names.map(StructField(_, LongType))

  /** One [[Panel.reduce]] per unit, in month order, over `valueCol` read
    * as a double: `f` answers each unit with rows of the `out` columns.
    */
  private def perUnit(df: DataFrame, valueCol: String, out: Seq[StructField])
                     (f: Series => Seq[Row]): DataFrame =
    Panel.reduce(UnitScan.asDouble(df, valueCol, "a per-unit diagnostic"), U, Some(T),
      Seq(valueCol, T), out)(g => f(new Series(g)))

  private def ansi(df: DataFrame): Boolean = df.sparkSession.sessionState.conf.ansiEnabled

  /** The lag-`l` pair statistics of one unit, for the [[acfOf]] closed
    * form: the pair count n (as a double) and the sums of x, y, x², y²
    * and xy over the pairs where both the value and its lag (positional
    * over the unit's rows) are observed, null where there is no pair.
    */
  private def pairStats(s: Series, l: Int): Seq[Any] = {
    var (n, sx, sy, sxx, syy, sxy) = (0L, 0.0, 0.0, 0.0, 0.0, 0.0)
    for (i <- l until s.n if s.ok(i) && s.ok(i - l)) {
      val (x, y) = (s.x(i), s.x(i - l))
      n += 1; sx += x; sy += y; sxx += x * x; syy += y * y; sxy += x * y
    }
    n.toDouble +: (if (n == 0) Seq.fill(5)(null) else Seq(sx, sy, sxx, syy, sxy))
  }

  private def pairFields(suffix: String): Seq[StructField] =
    StructField("n" + suffix, DoubleType, nullable = false) +:
      Seq("sx", "sy", "sxx", "syy", "sxy").map(c => StructField(c + suffix, DoubleType))

  /** The Pearson ratio over [[pairStats]]: both variance terms rounded
    * 1e-9 before the ratio, the ratio rounded 1e-6; null under 2 pairs or
    * on a variance ≤ 0.
    */
  private def acfOf(suffix: String): Column = {
    def c(name: String) = col(name + suffix)
    val n = c("n")
    val vx = round(n * c("sxx") - c("sx") * c("sx"), 9)
    val vy = round(n * c("syy") - c("sy") * c("sy"), 9)
    when(n < 2.0 || vx <= 0.0 || vy <= 0.0, lit(null).cast("double"))
      .otherwise(round(round(n * c("sxy") - c("sx") * c("sy"), 9) / sqrt(vx * vy), 6))
  }

  /** Autocorrelation function — the seasonality/persistence diagnostic:
    * for each lag 1..maxLag, the Pearson correlation between the
    * unit's series and its own l-step lag over the overlapping pairs.
    * One output row per (unit, lag); lags with < 2 complete pairs or
    * zero variance on either side report null.
    *
    * Determinism: the [[UnitScan.RollingCorr]] discipline — explicit
    * month-order sums, both variance terms rounded 1e-9 before the
    * ratio, output rounded 1e-6.
    *
    * @return (unit_id, lag, n_pairs, acf)
    */
  def acf(df: DataFrame, valueCol: String, maxLag: Int): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1, got $maxLag")
    perUnit(df, valueCol, StructField("lag", IntegerType, nullable = false) +: pairFields("")) { s =>
      (1 to maxLag).map(l => Row.fromSeq(l +: pairStats(s, l)))
    }.select(col(U), col("lag"), col("n").cast("long").as("n_pairs"), acfOf("").as("acf"))
  }

  /** Partial autocorrelation (lags 1..3) via the Durbin–Levinson
    * closed forms — the [[acf]] companion that isolates each lag's
    * DIRECT effect (the Box–Jenkins AR-order diagnostic: an AR(p)
    * series cuts off after lag p in PACF but decays in ACF).
    *
    * Determinism: the inputs are [[acf]]'s 1e-6-rounded coefficients
    * (layout-proof by its own discipline), and every PACF is a short
    * closed form over them — both engines compose identical rounded
    * operands. Zero-variance/short units carry ACF nulls through;
    * singular denominators (|ρ₁| = 1) yield null.
    *
    * @return (unit_id, lag, pacf)
    */
  def pacf(df: DataFrame, valueCol: String): DataFrame = {
    val lags = 1 to 3
    val wide = perUnit(df, valueCol, lags.flatMap(l => pairFields(l.toString))) { s =>
      Seq(Row.fromSeq(lags.flatMap(pairStats(s, _))))
    }
    val Seq(r1, r2, r3) = lags.map(l => acfOf(l.toString))
    val den2 = lit(1.0) - r1 * r1
    val phi22 = (r2 - r1 * r1) / den2
    val phi21 = r1 * (lit(1.0) - phi22)
    val den3 = lit(1.0) - phi21 * r1 - phi22 * r2
    val phi33 = (r3 - phi21 * r2 - phi22 * r1) / den3
    val p1 = round(r1, 6)
    val p2 = when(den2 === 0.0, lit(null).cast("double"))
      .otherwise(round(phi22, 6))
    val p3 = when(den2 === 0.0 || den3 === 0.0, lit(null).cast("double"))
      .otherwise(round(phi33, 6))
    wide.select(col(U), posexplode(array(p1, p2, p3)).as(Seq("__p", "pacf")))
      .select(col(U), (col("__p") + 1).cast("int").as("lag"), col("pacf"))
  }

  /** Seasonal-naive forecast backtest: predict x(t) = x(t − period)
    * and grade the unit with sMAPE over every month the forecast
    * exists — the baseline any real forecaster must beat, and the
    * drift smoke test (a regime change blows the score up). Per-row
    * terms 2|f−a|/(|f|+|a|) (0 when both sides are 0) are fixed to
    * 1e-9 integers before the per-unit mean — exact integer
    * aggregation. A unit with no forecast month is absent.
    *
    * @return (unit_id, n_eval, smape) — smape in [0, 2]
    */
  def forecastBacktest(df: DataFrame, valueCol: String,
                       period: Int = 7): DataFrame = {
    require(period >= 1, s"period must be >= 1, got $period")
    val a = ansi(df)
    perUnit(df, valueCol, Seq(StructField("n_eval", LongType, nullable = false),
        StructField("__s9", LongType))) { s =>
      val t9 = (period until s.n).filter(i => s.ok(i) && s.ok(i - period)).map { i =>
        val (x, f) = (s.x(i), s.x(i - period))
        val denom = math.abs(f) + math.abs(x)
        UnitScan.roundLong((if (denom == 0.0) 0.0 else 2.0 * math.abs(f - x) / denom) * 1e9, a)
      }
      if (t9.isEmpty) Nil else Seq(Row(t9.size.toLong, t9.reduce(UnitScan.plus(_, _, a))))
    }.select(col(U), col("n_eval"),
      round(col("__s9").cast("double") / col("n_eval") / 1e9, 6).as("smape"))
  }

  /** The positions (0-based) of `n` sorted items' middle order
    * statistics: one when `n` is odd, two when even, none when 0.
    */
  private def middle(n: Int): Seq[Int] = if (n == 0) Nil else ((n + 1) / 2 to (n + 2) / 2).map(_ - 1)

  /** Wald–Wolfowitz RUNS test per unit — "is the series random noise
    * around its level, or does it streak": rows are classified
    * above/below the unit's exact median (values AT the median drop,
    * the standard treatment), the run count R is one ordered boundary
    * scan, and the large-sample z compares R to its randomness
    * expectation μ_R = 2ab/(a+b) + 1. Too few runs (z ≪ 0) means
    * persistence/regimes; too many means oscillation.
    *
    * Determinism: the median is the average of the explicit middle
    * order statistics (the [[theilSen]] discipline, ties by month); a,
    * b, R are exact integers; z is one closed form, 1e-6-rounded. A
    * unit whose every value sits at its median is absent.
    *
    * @return (unit_id, n_above, n_below, runs, z)
    */
  def runsTest(df: DataFrame, valueCol: String): DataFrame = {
    val u = perUnit(df.filter(col(U).isNotNull), valueCol, longs("n_above", "n_below", "runs")) { s =>
      val byValue = s.obs.sortWith((i, j) => UnitScan.sqlOrder.compare(s.x(i), s.x(j)) < 0)
      val mid = middle(byValue.length).map(k => s.x(byValue(k)))
      val med = mid.foldLeft(0.0)(_ + _) / mid.size
      val above = s.obs.filterNot(i => UnitScan.sqlEq(s.x(i), med))
        .map(i => UnitScan.sqlGreater(s.x(i), med))
      if (above.isEmpty) Nil
      else Seq(Row(above.count(identity).toLong, above.count(!_).toLong,
        1L + above.indices.tail.count(k => above(k) != above(k - 1))))
    }
    val a = col("n_above"); val b = col("n_below")
    val muR = lit(2.0) * a * b / (a + b) + 1.0
    val sigR = sqrt(lit(2.0) * a * b * (lit(2.0) * a * b - a - b) /
      ((a + b) * (a + b) * (a + b - 1)).cast("double"))
    u.select(col(U), a, b, col("runs"),
      when(a === 0 || b === 0 || (a + b) < 2, lit(null).cast("double"))
        .otherwise(round((col("runs") - muR) / sigR, 6)).as("z"))
  }

  /** Dominant PERIOD per unit — the argmax of the discrete-Fourier
    * power spectrum over frequencies k = 1..⌊n/2⌋ (the "what cycle
    * does this series actually run on" answer [[UnitScan.Decompose]]
    * makes the caller guess): power(k) = (Σxₜ·cos(2πkt/n))² +
    * (Σxₜ·sin(2πkt/n))², over the unit's observed values with t their
    * rank in month order. A one-value unit tries k = 1 and 0 (SQL's
    * descending `sequence(1, 0)`), so its period divides by zero.
    *
    * Determinism: each trig factor is rounded 1e-9 BEFORE the multiply
    * (collapsing libm's cross-engine ULP — the Survival log
    * discipline), each term fixed to 1e-9 integers before the sum, the
    * power to 1e-6 integers before the argmax (smallest-k tie-break).
    *
    * @return (unit_id, n, k, period, power) — period = n/k
    */
  def dominantPeriod(df: DataFrame, valueCol: String): DataFrame = {
    val a = ansi(df)
    val twoPi = 2.0 * math.Pi
    perUnit(df, valueCol, longs("n", "k", "__p9")) { s =>
      val v = s.obs.map(s.x)
      val n = v.length.toLong
      def fixed(k: Long, trig: Double => Double) = v.indices.map { t =>
        UnitScan.roundLong(v(t) * SparkRound(trig(twoPi * k * t / n), 9) * 1e9, a)
      }.foldLeft(0L)(UnitScan.plus(_, _, a))
      val p9 = (if (n >= 2) 1L to n / 2 else if (n == 1) Seq(1L, 0L) else Nil).map { k =>
        val (c, sn) = (fixed(k, math.cos) / 1e9, fixed(k, math.sin) / 1e9)
        UnitScan.roundLong((c * c + sn * sn) * 1e6, a) -> k
      }
      p9.reduceOption((x, y) => if (y._1 > x._1 || (y._1 == x._1 && y._2 < x._2)) y else x)
        .map { case (p, k) => Row(n, k, p) }.toSeq
    }.select(col(U), col("n"), col("k"),
      round(col("n").cast("double") / col("k"), 6).as("period"),
      round(col("__p9") / 1e6, 6).as("power"))
  }

  private val Dec2 = "decimal(38,0)"
  private val Big38 = BigInteger.TEN.pow(38)

  /** A decimal(38,0) `sum` of exact integers as Spark ends it: null out
    * of range, or Spark's overflow error under ANSI.
    */
  private def decSum(x: BigInteger, ansi: Boolean): java.math.BigDecimal =
    if (x.abs.compareTo(Big38) < 0) new java.math.BigDecimal(x)
    else CheckOverflowInSum(Literal(null, DecimalType(38, 0)), DecimalType(38, 0), !ansi, null)
      .eval().asInstanceOf[java.math.BigDecimal]

  /** Seasonal/trend STRENGTH per unit from the [[UnitScan.Decompose]]
    * components (Hyndman's FeatureS/T): F_t = max(0, 1 − Var(R)/Var(T+R))
    * and F_s = max(0, 1 − Var(R)/Var(S+R)) — "how much of the series the
    * trend/seasonal structure explains" (≈0 noise, →1 structured). The
    * decomposition and the reduction run in the same kernel.
    *
    * Determinism: the components are fixed to 1e-6 integers per row
    * (collapsing the decomposition's sub-1e-6 summation-order noise
    * exactly like q_decompose's output rounding), and each variance RATIO is a
    * quotient of two exact integer quantities n·Σx²−(Σx)² whose n
    * factors cancel — floats only at the final division.
    *
    * @return (unit_id, n, f_trend, f_seasonal) — null on zero variance
    */
  def seasonalStrength(df: DataFrame, valueCol: String,
                       period: Int, half: Int): DataFrame = {
    val a = ansi(df)
    val step = UnitScan.Decompose(period, half)
    val comps = Seq("r", "dt", "ds")
    val sums = comps.flatMap(c => Seq(s"__s_$c", s"__q_$c")).map(StructField(_, DecimalType(38, 0)))
    val in = df.select(col(T), col(U), col(valueCol).as("value"))
    val g = perUnit(in, "value", StructField("n", LongType, nullable = false) +: sums) { s =>
      val scan = new UnitScan.Series(s.group, Seq("value", T), step.appends.map(_.name).toArray, a)
      scan.run(step)
      def comp(j: Int, i: Int) = if (scan.outNul(j)(i)) None else Some(scan.outV(j)(i))
      val rows = (0 until s.n).flatMap { i =>
        for (t <- comp(0, i); se <- comp(1, i) if !s.nul(i)) yield {
          val x = s.x(i)
          Seq(x - t - se, x - t, x - se).map(d => BigInteger.valueOf(UnitScan.roundLong(d * 1e6, a)))
        }
      }
      if (rows.isEmpty) Nil
      else Seq(Row.fromSeq(rows.size.toLong +: comps.indices.flatMap { c =>
        val xs = rows.map(_(c))
        Seq(decSum(xs.reduce(_ add _), a), decSum(xs.map(x => x.multiply(x)).reduce(_ add _), a))
      }))
    }
    def ss(c: String) = col("n").cast(Dec2) * col(s"__q_$c") - col(s"__s_$c") * col(s"__s_$c")
    def f(v: String) = when(col(v) === 0, lit(null).cast("double"))
      .otherwise(round(greatest(lit(0.0),
        lit(1.0) - col("__vr").cast("double") / col(v).cast("double")), 6))
    g.select(col(U), col("n"), ss("r").as("__vr"), ss("dt").as("__vdt"), ss("ds").as("__vds"))
      .select(col(U), col("n"), f("__vds").as("f_trend"), f("__vdt").as("f_seasonal"))
  }

  /** Mann–Kendall S = Σ_{i<j} sign(xⱼ − xᵢ) over `xs` in month order
    * (equal values and NaN differences contribute 0).
    */
  private[graft] def mannKendallS(xs: Array[Double]): Long = {
    var s = 0L
    for (i <- xs.indices; j <- i + 1 until xs.length) {
      val d = xs(j) - xs(i)
      if (d > 0) s += 1 else if (d < 0) s -= 1
    }
    s
  }

  /** Mann–Kendall trend test per unit: S = Σ_{i<j} sign(xⱼ − xᵢ) and
    * Kendall's tau = S / (n(n−1)/2) — the nonparametric "IS there a
    * monotone trend" decision that pairs with [[theilSen]]'s "how
    * steep" estimate (the same pairs, in the unit's kernel: O(T²) sign
    * comparisons per unit, T bounded by the panel's months). S is an
    * exact integer; tau one division. Sign ties (equal values)
    * contribute 0, the standard treatment. A unit with fewer than two
    * observed values is absent.
    *
    * @return (unit_id, n, s, tau)
    */
  def mannKendall(df: DataFrame, valueCol: String): DataFrame = {
    val np = (col("n") * (col("n") - 1) / lit(2L)).cast("long")
    perUnit(df, valueCol, longs("n", "s")) { s =>
      if (s.obs.length < 2) Nil else Seq(Row(s.obs.length.toLong, mannKendallS(s.obs.map(s.x))))
    }.select(col(U), col("n"), col("s"), round(col("s") / np, 6).as("tau"))
  }

  /** Theil–Sen robust trend: per unit, the MEDIAN of all pairwise
    * slopes (vⱼ−vᵢ)/(tⱼ−tᵢ) — the outlier-proof companion of
    * [[UnitScan.Trend]]'s OLS (one wild month barely moves it; breakdown
    * point 29%). The pairs are formed inside the unit's kernel (O(T²)
    * per unit — T is the series length, bounded and small by the panel
    * contract, never corpus-sized).
    *
    * Determinism: the median is the average of the explicit middle
    * order statistics (slopes in SQL order, ties by the pair's months),
    * not an engine-native percentile: both engines average the SAME one
    * or two floats. A unit with fewer than two observed values is absent.
    *
    * @return (unit_id, n_pairs, ts_slope)
    */
  def theilSen(df: DataFrame, valueCol: String): DataFrame =
    perUnit(df.filter(col(U).isNotNull), valueCol, Seq(StructField("n_pairs", LongType),
        StructField("__ssum", DoubleType), StructField("__scnt", LongType, nullable = false))) { s =>
      val at = s.obs.filter(s.month(_) != null)
      val m = s.month.map(t => if (t == null) 0L else t.asInstanceOf[Number].longValue)
      val pairs = for (i <- at; j <- at if m(i) < m(j))
        yield ((s.x(j) - s.x(i)) / (m(j) - m(i)).toDouble, m(i), m(j))
      if (pairs.isEmpty) Nil
      else {
        val sorted = pairs.sorted(Ordering.Tuple3(UnitScan.sqlOrder, Ordering.Long, Ordering.Long))
        val mid = middle(pairs.length).map(sorted(_)._1)
        Seq(Row(pairs.length.toLong, mid.foldLeft(0.0)(_ + _), mid.size.toLong))
      }
    }.select(col(U), col("n_pairs"), round(col("__ssum") / col("__scnt"), 6).as("ts_slope"))

  /** Single most-likely level-shift changepoint per unit — the offline
    * companion of [[UnitScan.Cusum]]'s sequential drift flag: for every split
    * boundary t (left = rows 1..t, right = t+1..T) the standardized
    * mean-shift statistic |mean_R − mean_L|·√(t·(T−t)/T) is evaluated,
    * and the argmax boundary is reported (the first step of binary
    * segmentation). All candidate statistics derive from ONE ordered
    * cumulative sum of 1e-9-FIXED INTEGER values (the fixed-cusum
    * discipline: the running sum is exact in any accumulation order, so
    * the statistic survives the 1e-6 gate rounding by construction),
    * the statistic is fixed to 1e-9 integers, and the argmax takes the
    * largest statistic, the earliest month on a tie.
    *
    * @return (unit_id, n, cp_month, shift, stat) — cp_month is the
    *   LAST month of the left segment; shift = mean_R − mean_L
    */
  def changepoint(df: DataFrame, valueCol: String): DataFrame = {
    val a = ansi(df)
    val out = longs("n") ++ Seq(StructField("cp_month", df.schema(T).dataType)) ++ longs("__d9", "__s9")
    perUnit(df, valueCol, out) { s =>
      val x9 = s.obs.map(i => UnitScan.roundLong(s.x(i) * 1e9, a))
      val cum = x9.scanLeft(0L)(UnitScan.plus(_, _, a))
      val (total, n) = (cum.last, x9.length.toLong)
      val cands = (1 until x9.length).map { t =>
        val meanL = cum(t).toDouble / 1e9 / t
        val meanR = UnitScan.minus(total, cum(t), a).toDouble / 1e9 / (n - t)
        val shift = meanR - meanL
        val stat = math.abs(shift) * math.sqrt((t * (n - t)).toDouble / n)
        (UnitScan.roundLong(stat * 1e9, a), UnitScan.roundLong(shift * 1e9, a), s.obs(t - 1))
      }
      if (cands.isEmpty) Nil
      else {
        val (s9, d9, i) = cands.reduce((p, q) => if (q._1 > p._1) q else p)
        Seq(Row(n, s.month(i), d9, s9))
      }
    }.select(col(U), col("n"), col("cp_month"),
      round(col("__d9") / 1e9, 6).as("shift"),
      round(col("__s9") / 1e9, 6).as("stat"))
  }
}
