package graft.ops

import graft.Panel
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-unit time-series diagnostics (SURVEY §2.5) that emit one row per
  * unit (or per unit and lag): ACF/PACF, the seasonal-naive backtest,
  * the runs, Mann–Kendall and Theil–Sen tests, the dominant period, the
  * seasonal/trend strength and the changepoint argmax — plus the rolling
  * median, a trailing-window percentile that is not a wire step. Every
  * per-unit series step of the reference (lag, moving frames, cweq,
  * onset, entropy, the multi-lag, …) and the extensions winsorize,
  * robust_scale, ewma, cusum, decompose, trend and rolling_corr run as
  * one per-unit scan, [[UnitScan]].
  */
object TemporalOps {
  private def w = Panel.w

  /** Rolling MEDIAN over trailing `t` rows (min_periods=0, expanding
    * at the series start) — the outlier-robust smoother pandas
    * `rolling(t).median()` provides where the moving average chases
    * spikes. Same shared unit partitioning as every temporal op; the
    * exact interpolated percentile over a ≤t-row frame is
    * engine-portable (quantile_cont parity).
    */
  def rollingMedian(c: Column, t: Int): Column = {
    require(t >= 1, s"rollingMedian requires t >= 1, got $t")
    percentile(c, lit(0.5)).over(Panel.trailing(t))
  }

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

  /** Autocorrelation function — the seasonality/persistence diagnostic:
    * for each lag 1..maxLag, the Pearson correlation between the
    * unit's series and its own l-step lag over the overlapping pairs.
    * One output row per (unit, lag); lags with < 2 complete pairs or
    * zero variance on either side report null.
    *
    * Scale shape: the lagged pairs and all six sufficient statistics
    * per lag ride windows on the ONE shared unit partitioning (the
    * family's single shuffle); the per-unit reduction to one row is a
    * row_number on the same spec, and the lag dimension is an in-plan
    * posexplode of a maxLag-wide array — no joins, no extra passes.
    *
    * Determinism: the [[UnitScan.RollingCorr]] discipline — explicit sums, both
    * variance terms rounded 1e-9 before the ratio, output rounded 1e-6.
    *
    * @return (unit_id, lag, n_pairs, acf)
    */
  def acf(df: DataFrame, valueCol: String, maxLag: Int): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1, got $maxLag")
    val wAll = Window.partitionBy(Panel.UnitCol)
    val x = col(valueCol)
    val lagged = (1 to maxLag).foldLeft(df) { (d, l) =>
      d.withColumn(s"__y$l", lag(x, l).over(w))
    }
    val stats = (1 to maxLag).foldLeft(lagged) { (d, l) =>
      val y = col(s"__y$l")
      val ok = x.isNotNull && !isnan(x) && y.isNotNull && !isnan(y)
      val n = count(when(ok, 1)).over(wAll).cast("double")
      val sx = sum(when(ok, x)).over(wAll)
      val sy = sum(when(ok, y)).over(wAll)
      val sxx = sum(when(ok, x * x)).over(wAll)
      val syy = sum(when(ok, y * y)).over(wAll)
      val sxy = sum(when(ok, x * y)).over(wAll)
      val vx = round(n * sxx - sx * sx, 9)
      val vy = round(n * syy - sy * sy, 9)
      d.withColumn(s"__acf$l",
        struct(n.cast("long").as("n_pairs"),
          when(n < 2.0 || vx <= 0.0 || vy <= 0.0, lit(null).cast("double"))
            .otherwise(round(round(n * sxy - sx * sy, 9) / sqrt(vx * vy), 6))
            .as("acf")))
    }
    stats
      .withColumn("__rn", row_number().over(
        w.orderBy(col(Panel.TimeCol))))
      .filter(col("__rn") === 1)
      .select(col(Panel.UnitCol),
        posexplode(array((1 to maxLag).map(l => col(s"__acf$l")): _*))
          .as(Seq("__p", "__s")))
      .select(col(Panel.UnitCol), (col("__p") + 1).cast("int").as("lag"),
        col("__s.n_pairs").as("n_pairs"), col("__s.acf").as("acf"))
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
    val a = acf(df, valueCol, maxLag = 3)
    val wide = a.groupBy(col(Panel.UnitCol))
      .agg(max(when(col("lag") === 1, col("acf"))).as("__r1"),
        max(when(col("lag") === 2, col("acf"))).as("__r2"),
        max(when(col("lag") === 3, col("acf"))).as("__r3"))
    val r1 = col("__r1"); val r2 = col("__r2"); val r3 = col("__r3")
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
    wide.select(col(Panel.UnitCol),
        posexplode(array(p1, p2, p3)).as(Seq("__p", "pacf")))
      .select(col(Panel.UnitCol), (col("__p") + 1).cast("int").as("lag"),
        col("pacf"))
  }

  /** Seasonal-naive forecast backtest: predict x(t) = x(t − period)
    * and grade the unit with sMAPE over every month the forecast
    * exists — the baseline any real forecaster must beat, and the
    * drift smoke test (a regime change blows the score up). Per-row
    * terms 2|f−a|/(|f|+|a|) (0 when both sides are 0) are fixed to
    * 1e-9 integers before the per-unit mean — one lag window on the
    * shared unit partitioning, exact integer aggregation.
    *
    * @return (unit_id, n_eval, smape) — smape in [0, 2]
    */
  def forecastBacktest(df: DataFrame, valueCol: String,
                       period: Int = 7): DataFrame = {
    require(period >= 1, s"period must be >= 1, got $period")
    val x = col(valueCol)
    val f = lag(x, period).over(w)
    val ok = x.isNotNull && !isnan(x) && f.isNotNull && !isnan(f)
    val denom = abs(f) + abs(x)
    val term = when(denom === 0.0, lit(0.0))
      .otherwise(lit(2.0) * abs(f - x) / denom)
    df.select(col(Panel.UnitCol),
        when(ok, round(term * 1e9).cast("long")).as("__t9"))
      .filter(col("__t9").isNotNull)
      .groupBy(col(Panel.UnitCol))
      .agg(count(lit(1)).as("n_eval"),
        round(sum(col("__t9")).cast("double") / count(lit(1)) / 1e9, 6)
          .as("smape"))
  }

  /** Wald–Wolfowitz RUNS test per unit — "is the series random noise
    * around its level, or does it streak": rows are classified
    * above/below the unit's exact median (values AT the median drop,
    * the standard treatment), the run count R is one ordered boundary
    * scan, and the large-sample z compares R to its randomness
    * expectation μ_R = 2ab/(a+b) + 1. Too few runs (z ≪ 0) means
    * persistence/regimes; too many means oscillation.
    *
    * Determinism: the median is the average of the explicit middle
    * order statistics (the [[theilSen]] discipline); a, b, R are exact
    * integers; z is one closed form, 1e-6-rounded.
    *
    * @return (unit_id, n_above, n_below, runs, z)
    */
  def runsTest(df: DataFrame, valueCol: String): DataFrame = {
    val x = col(valueCol)
    val obs = df.filter(x.isNotNull && !isnan(x))
      .select(col(Panel.UnitCol), col(Panel.TimeCol), x.as("__v"))
    val wS = Window.partitionBy(Panel.UnitCol)
      .orderBy(col("__v"), col(Panel.TimeCol))
    val wA = Window.partitionBy(Panel.UnitCol)
    val med = obs
      .withColumn("__rn", row_number().over(wS))
      .withColumn("__nn", count(lit(1)).over(wA))
      .filter(col("__rn") === floor((col("__nn") + 1) / lit(2.0)) ||
        col("__rn") === floor((col("__nn") + 2) / lit(2.0)))
      .groupBy(col(Panel.UnitCol))
      .agg((sum(col("__v")) / count(lit(1))).as("__med"))
    val signed = obs.join(med, Panel.UnitCol)
      .filter(col("__v") =!= col("__med"))
      .withColumn("__s", (col("__v") > col("__med")).cast("int"))
    val wT = Window.partitionBy(Panel.UnitCol).orderBy(col(Panel.TimeCol))
    val st = signed
      .withColumn("__chg",
        when(lag(col("__s"), 1).over(wT).isNull ||
          lag(col("__s"), 1).over(wT) =!= col("__s"), 1L).otherwise(0L))
      .groupBy(col(Panel.UnitCol))
      .agg(sum(col("__s").cast("long")).as("n_above"),
        sum(lit(1L) - col("__s")).as("n_below"),
        sum(col("__chg")).as("runs"))
    val a = col("n_above"); val b = col("n_below")
    val muR = lit(2.0) * a * b / (a + b) + 1.0
    val sigR = sqrt(lit(2.0) * a * b * (lit(2.0) * a * b - a - b) /
      ((a + b) * (a + b) * (a + b - 1)).cast("double"))
    st.select(col(Panel.UnitCol), a, b, col("runs"),
      when(a === 0 || b === 0 || (a + b) < 2, lit(null).cast("double"))
        .otherwise(round((col("runs") - muR) / sigR, 6)).as("z"))
  }

  /** Dominant PERIOD per unit — the argmax of the discrete-Fourier
    * power spectrum over frequencies k = 1..⌊n/2⌋ (the "what cycle
    * does this series actually run on" answer [[UnitScan.Decompose]] makes the
    * caller guess): power(k) = (Σxₜ·cos(2πkt/n))² + (Σxₜ·sin(2πkt/n))².
    *
    * Scale shape: an in-plan explode of ⌊n/2⌋ frequencies per row —
    * n·⌊n/2⌋ terms per unit through one (unit, k) aggregation, all on
    * series-bounded cardinalities. Determinism: each trig factor is
    * rounded 1e-9 BEFORE the multiply (collapsing libm's cross-engine
    * ULP — the Survival log discipline), each term fixed to 1e-9
    * integers before the sum, the power to 1e-6 integers before the
    * struct-max argmax (smallest-k tie-break).
    *
    * @return (unit_id, n, k, period, power) — period = n/k
    */
  def dominantPeriod(df: DataFrame, valueCol: String): DataFrame = {
    val x = col(valueCol)
    val wAll = Window.partitionBy(Panel.UnitCol)
    val obs = df.filter(x.isNotNull && !isnan(x))
      .select(col(Panel.UnitCol), x.as("__v"),
        (row_number().over(w) - 1).cast("long").as("__t"),
        count(lit(1)).over(wAll).as("__n"))
    val twoPi = lit(2.0 * math.Pi)
    val ang = twoPi * col("k") * col("__t") / col("__n")
    val terms = obs
      .select(col(Panel.UnitCol), col("__v"), col("__t"), col("__n"),
        explode(sequence(lit(1L),
          floor(col("__n") / lit(2.0)).cast("long"))).as("k"))
      .select(col(Panel.UnitCol), col("__n"), col("k"),
        round(col("__v") * round(cos(ang), 9) * 1e9).cast("long").as("__c9"),
        round(col("__v") * round(sin(ang), 9) * 1e9).cast("long").as("__s9"))
    val g = terms.groupBy(col(Panel.UnitCol), col("__n"), col("k"))
      .agg(sum(col("__c9")).as("__c"), sum(col("__s9")).as("__s"))
    val p9 = round(((col("__c") / 1e9) * (col("__c") / 1e9) +
      (col("__s") / 1e9) * (col("__s") / 1e9)) * 1e6).cast("long")
    g.select(col(Panel.UnitCol), col("__n"), col("k"), p9.as("__p9"))
      .groupBy(col(Panel.UnitCol))
      .agg(max(struct(col("__p9"), (-col("k")).as("__nk"),
        col("k").as("__k"), col("__n").as("__nn"))).as("__b"))
      .select(col(Panel.UnitCol), col("__b.__nn").as("n"),
        col("__b.__k").as("k"),
        round(col("__b.__nn").cast("double") / col("__b.__k"), 6)
          .as("period"),
        round(col("__b.__p9") / 1e6, 6).as("power"))
  }

  /** Seasonal/trend STRENGTH per unit from the [[UnitScan.Decompose]] components
    * (Hyndman's FeatureS/T): F_t = max(0, 1 − Var(R)/Var(T+R)) and
    * F_s = max(0, 1 − Var(R)/Var(S+R)) — "how much of the series the
    * trend/seasonal structure explains" (≈0 noise, →1 structured).
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
    val d = UnitScan(df.select(col(Panel.TimeCol), col(Panel.UnitCol), col(valueCol).as("value")),
      Seq(UnitScan.Decompose(period, half)))
    val (x, trend, seasonal) = (col("value"), col("trend"), col("seasonal"))
    val comp = d.select(col(Panel.UnitCol),
        round((x - trend - seasonal) * 1e6).cast("long").as("__r6"),
        round((x - trend) * 1e6).cast("long").as("__dt6"),
        round((x - seasonal) * 1e6).cast("long").as("__ds6"))
      .filter(col("__r6").isNotNull)
    def ss(c: String) =
      (count(lit(1)).cast(Dec2) * sum(col(c).cast(Dec2) * col(c)) -
        sum(col(c).cast(Dec2)) * sum(col(c).cast(Dec2)))
    val g = comp.groupBy(col(Panel.UnitCol))
      .agg(count(lit(1)).as("n"), ss("__r6").as("__vr"),
        ss("__dt6").as("__vdt"), ss("__ds6").as("__vds"))
    def f(v: String) = when(col(v) === 0, lit(null).cast("double"))
      .otherwise(round(greatest(lit(0.0),
        lit(1.0) - col("__vr").cast("double") / col(v).cast("double")), 6))
    g.select(col(Panel.UnitCol), col("n"),
      f("__vds").as("f_trend"), f("__vdt").as("f_seasonal"))
  }

  private val Dec2 = "decimal(38,0)"

  /** Mann–Kendall trend test per unit: S = Σ_{i<j} sign(xⱼ − xᵢ) and
    * Kendall's tau = S / (n(n−1)/2) — the nonparametric "IS there a
    * monotone trend" decision that pairs with [[theilSen]]'s "how
    * steep" estimate (same pair generation, same unit-keyed self-join
    * bounded by the series length). S is an exact integer; tau one
    * division. Sign ties (equal values) contribute 0, the standard
    * treatment.
    *
    * @return (unit_id, n, s, tau)
    */
  def mannKendall(df: DataFrame, valueCol: String): DataFrame = {
    val x = col(valueCol)
    val obs = df.filter(x.isNotNull && !isnan(x))
      .select(col(Panel.UnitCol), col(Panel.TimeCol), x.as("__v"))
    // bounded single-pass aggregate (graft.ops.MannKendall — r15)
    // instead of the former T²-row self-join: same pairs, same sign
    // comparisons, same associative ±1 sum — identical S — with one
    // exchange and no pair table. Single-observation units produced
    // no pair rows under the inner join (absent from the output), so
    // the n ≥ 2 filter preserves the exact row set.
    val mkS = udaf(new graft.ops.MannKendall.MkS)
    val np = (col("__mk.n") * (col("__mk.n") - 1) / lit(2L)).cast("long")
    obs.groupBy(col(Panel.UnitCol))
      .agg(mkS(col(Panel.TimeCol).cast("long"), col("__v")).as("__mk"))
      .filter(col("__mk.n") >= 2)
      .select(col(Panel.UnitCol), col("__mk.n").as("n"),
        col("__mk.s").as("s"),
        round(col("__mk.s") / np, 6).as("tau"))
  }

  /** Theil–Sen robust trend: per unit, the MEDIAN of all pairwise
    * slopes (vⱼ−vᵢ)/(tⱼ−tᵢ) — the outlier-proof companion of
    * [[UnitScan.Trend]]'s OLS (one wild month barely moves it; breakdown
    * point 29%). The pair generation is a unit-keyed self-join (O(T²)
    * per unit — T is the series length, bounded and small by the panel
    * contract, never corpus-sized), so the quadratic blowup stays
    * inside one unit's partition and scales out across units.
    *
    * Determinism: the median is taken as the average of the explicit
    * middle order statistics (row_number over the unit's sorted
    * slopes; one value when odd, two when even) rather than an
    * engine-native percentile — both engines then average the SAME two
    * floats, and two-term IEEE addition is commutative, so no
    * interpolation-formula or summation-order variance exists.
    *
    * @return (unit_id, n_pairs, ts_slope)
    */
  def theilSen(df: DataFrame, valueCol: String): DataFrame = {
    val x = col(valueCol)
    val a = df.filter(x.isNotNull && !isnan(x))
      .select(col(Panel.UnitCol), col(Panel.TimeCol).as("__m1"),
        x.as("__v1"))
    val b = df.filter(x.isNotNull && !isnan(x))
      .select(col(Panel.UnitCol), col(Panel.TimeCol).as("__m2"),
        x.as("__v2"))
    val pairs = a.join(b, Seq(Panel.UnitCol))
      .filter(col("__m1") < col("__m2"))
      .select(col(Panel.UnitCol),
        ((col("__v2") - col("__v1")) /
          (col("__m2") - col("__m1")).cast("double")).as("__s"),
        col("__m1"), col("__m2"))
    val wS = Window.partitionBy(Panel.UnitCol)
      .orderBy(col("__s"), col("__m1"), col("__m2"))
    val wA = Window.partitionBy(Panel.UnitCol)
    pairs
      .withColumn("__rn", row_number().over(wS))
      .withColumn("__np", count(lit(1)).over(wA))
      .filter(col("__rn") === floor((col("__np") + 1) / lit(2.0)) ||
        col("__rn") === floor((col("__np") + 2) / lit(2.0)))
      .groupBy(col(Panel.UnitCol))
      .agg(max(col("__np")).as("n_pairs"),
        round(sum(col("__s")) / count(lit(1)), 6).as("ts_slope"))
  }

  /** Single most-likely level-shift changepoint per unit — the offline
    * companion of [[UnitScan.Cusum]]'s sequential drift flag: for every split
    * boundary t (left = rows 1..t, right = t+1..T) the standardized
    * mean-shift statistic |mean_R − mean_L|·√(t·(T−t)/T) is evaluated,
    * and the argmax boundary is reported (the first step of binary
    * segmentation). All candidate statistics derive from ONE ordered
    * cumulative sum of 1e-9-FIXED INTEGER values (the fixed-cusum
    * discipline: values quantize to longs at the scan, so the running
    * sum is exact under ANY accumulation order — no cross-engine
    * window-reassociation noise can exist, which is what lets the
    * statistic survive the 1e-6 gate rounding by construction rather
    * than by magnitude luck), the statistic is fixed to 1e-9 integers,
    * and the argmax is a lexicographic struct-max with a
    * smallest-month tie-break — engine- and layout-deterministic.
    *
    * @return (unit_id, n, cp_month, shift, stat) — cp_month is the
    *   LAST month of the left segment; shift = mean_R − mean_L
    */
  def changepoint(df: DataFrame, valueCol: String): DataFrame = {
    val x = col(valueCol)
    val ok = x.isNotNull && !isnan(x)
    val x9 = when(ok, round(x * 1e9).cast("long"))
    val wAll = Window.partitionBy(Panel.UnitCol)
    val cSum9 = sum(x9).over(Panel.cumulative)
    val tIdx = count(x9).over(Panel.cumulative)
    val sTot9 = sum(x9).over(wAll)
    val nTot = count(x9).over(wAll)
    val meanL = cSum9.cast("double") / 1e9 / tIdx
    val meanR = (sTot9 - cSum9).cast("double") / 1e9 / (nTot - tIdx)
    val shift = meanR - meanL
    val stat = abs(shift) *
      sqrt((tIdx * (nTot - tIdx)).cast("double") / nTot)
    df.select(col(Panel.UnitCol), col(Panel.TimeCol),
        round(stat * 1e9).cast("long").as("__s9"),
        round(shift * 1e9).cast("long").as("__d9"),
        tIdx.as("__cpt"), nTot.as("__cpn"), ok.as("__ok"))
      .filter(col("__ok") && col("__cpt") >= 1 && col("__cpt") < col("__cpn"))
      .groupBy(col(Panel.UnitCol))
      .agg(max(struct(col("__s9"), (-col(Panel.TimeCol)).as("__nm"),
        col(Panel.TimeCol).as("__m"), col("__d9"), col("__cpn"))).as("__b"))
      .select(col(Panel.UnitCol), col("__b.__cpn").as("n"),
        col("__b.__m").as("cp_month"),
        round(col("__b.__d9") / 1e9, 6).as("shift"),
        round(col("__b.__s9") / 1e9, 6).as("stat"))
  }


}
