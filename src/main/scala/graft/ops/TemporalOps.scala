package graft.ops

import graft.Panel
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-unit time-series window operators (SURVEY §2.5). Every op
  * partitions by `unit_id` (most also order by `month_id`), so a chain of
  * them needs one `unit_id` exchange; each op is still its own `Window`
  * operator, because a window over another window's output never
  * collapses into it. The lag/lead/delta/moving/max/mean/cweq/
  * time_since/tick steps of the reference are not here: they run as one
  * per-unit scan, [[UnitScan]].
  *
  * Reference: views_2.py (onset), tlag3d.py (multi-lag),
  * temporal_entropy.py (windowed Shannon entropy).
  */
object TemporalOps {
  private def w = Panel.w
  private def trailing(n: Int) = Panel.trailing(n)
  private def cum = Panel.cumulative

  /** Multi-lag in one pass — tlag3d.py:6-134: one output column per
    * requested lag. Out-of-range positions are 0.0, not null — a
    * DELIBERATE DEVIATION from the reference: get_tlags indexes
    * tensor3d[tindex - lag], and a negative index WRAPS in numpy (the
    * try/except at tlag3d.py:66 never fires), so the reference
    * actually fills the first `lag` timesteps with end-of-series
    * values — almost certainly a reference bug, and zeros are the
    * semantics its np.zeros initialisation intended. All columns share
    * the same window spec → still one shuffle.
    */
  def tlags(df: DataFrame, valueCol: String, lags: Seq[Int]): DataFrame =
    lags.foldLeft(df) { (d, l) =>
      d.withColumn(s"tlag_$l", coalesce(lag(col(valueCol), l).over(w), lit(0.0)))
    }

  /** Rolling MEDIAN over trailing `t` rows (min_periods=0, expanding
    * at the series start) — the outlier-robust smoother pandas
    * `rolling(t).median()` provides where the moving average chases
    * spikes. Same shared unit partitioning as every temporal op; the
    * exact interpolated percentile over a ≤t-row frame is
    * engine-portable (quantile_cont parity).
    */
  def rollingMedian(c: Column, t: Int): Column = {
    require(t >= 1, s"rollingMedian requires t >= 1, got $t")
    percentile(c, lit(0.5)).over(trailing(t))
  }

  /** Winsorize: clip to the unit's own [pLow, pHigh] quantiles
    * (linear-interpolated, the SQL `percentile` ≡ DuckDB
    * `quantile_cont` definition). The standard outlier guard before
    * scaling/standardising panel features; extension — no reference
    * counterpart.
    *
    * An unbounded per-unit window (no join back), so it chains with the
    * other per-unit windows at one shuffle total.
    */
  def winsorize(c: Column, pLow: Double, pHigh: Double): Column = {
    require(pLow >= 0.0 && pHigh <= 1.0 && pLow <= pHigh,
      s"need 0 <= pLow <= pHigh <= 1, got ($pLow, $pHigh)")
    val w = Window.partitionBy(Panel.UnitCol)
    least(greatest(c, percentile(c, lit(pLow)).over(w)),
      percentile(c, lit(pHigh)).over(w))
  }

  /** Robust per-unit scaling: (s − median) / IQR, with constant-series
    * units (IQR 0) mapped to 0.0 — the outlier-insensitive
    * standardisation for mixing heterogeneous panel features.
    */
  def robustScale(c: Column): Column = {
    val w = Window.partitionBy(Panel.UnitCol)
    val med = percentile(c, lit(0.5)).over(w)
    val iqr = percentile(c, lit(0.75)).over(w) - percentile(c, lit(0.25)).over(w)
    when(iqr === 0.0, 0.0).otherwise((c - med) / iqr)
  }

  /** Exponentially weighted moving average, truncated at `span` lags:
    *
    *   ewma_t = Σ_{j=0..span−1} αʲ·x_{t−j} / Σ_{j: x_{t−j} exists} αʲ
    *
    * — pandas' `ewm(alpha=1−α).mean()` shape with a finite horizon
    * (the αʲ tail beyond `span` is negligible for any α < 1 worth
    * using, and a finite horizon is what keeps this a pure stack of
    * lag expressions over the panel family's ONE shared unit-window
    * shuffle; the exact infinite recursion would need a sequential
    * scan per unit). Leading-edge rows renormalise over the lags that
    * exist, matching pandas' `adjust=True`.
    */
  def ewma(c: Column, alpha: Double, span: Int): Column = {
    require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0, 1), got $alpha")
    require(span > 0, s"span must be positive, got $span")
    val terms = (0 until span).map { j =>
      val x = if (j == 0) c else lag(c, j).over(w)
      (when(x.isNotNull, x * math.pow(alpha, j)).otherwise(lit(0.0)),
        when(x.isNotNull, lit(math.pow(alpha, j))).otherwise(lit(0.0)))
    }
    val num = terms.map(_._1).reduce(_ + _)
    val den = terms.map(_._2).reduce(_ + _)
    when(den === 0.0, lit(null).cast("double")).otherwise(num / den)
  }

  /** CUSUM drift statistic: the running sum of deviations from the
    * unit's own mean, plus a breach flag at `h` unit standard
    * deviations — the classic sequential change-point signal (a level
    * shift makes the cusum ramp; |cusum| crossing h·σ marks the
    * drift). Two stacked windows on the shared unit partitioning.
    *
    * Determinism — integer fixed-point end to end (the changepoint /
    * PageRank discipline): `S_t − n_t·μ` is a catastrophic
    * cancellation (two ~n·μ-sized quantities whose small difference IS
    * the statistic), so ANY float accumulation — even a sequential
    * one — leaks engine-specific last-ULP noise into the 1e-6-rounded
    * output: the inputs themselves are float group-sums whose ULPs
    * differ across engines, and window SUMs may be reassociated
    * (segment trees) vs sequential. The cure is to leave float space
    * at the scan: fix each value to a 1e-9-unit long
    * (`round(value·1e9)` — half-away-from-zero in both engines, and
    * the half-ULP input noise ~1e-13 is far below the 5e-10
    * quantization boundary), then EVERY sum, count, and the
    * cancellation itself is exact integer arithmetic that no
    * reassociation can perturb. μ is fixed to the same grid from the
    * exact integer total (`round(Σv9 / n)` — one float division of
    * identical exact operands, bit-deterministic). Only the final
    * divide back to double touches floats again.
    * Long headroom: |n_t·μ9| ≤ n·|v|·1e9, safe for series of 1e6 rows
    * with |value| up to ~9e3 — per-unit series, not corpus-sized.
    *
    * The BREACH decision is pure integer arithmetic end to end (r13;
    * the project's only recurring driver-only hash flip — r08, r09,
    * r12 — was this margin): the old
    * `round(|cs| − h·round(stddev_pop, 9), 6) > 0` kept one float
    * aggregate whose last-ULP value differs across engines and merge
    * orders, and a σ within an ULP of a rounding boundary flips the
    * bit. Even the "sqrt of an exact integer" repair leaks: DuckDB's
    * int128→double cast is NOT correctly rounded (measured ~0.6% of
    * big integers off by 1 ULP vs round-to-nearest), so any float
    * rendezvous loses. Instead the margin test
    * `|cs| − h·σ ≥ 0.5e-6` (exactly the old HALF_UP round-6 boundary)
    * is algebraized on the 1e-9 integer grid: with
    * `ex = N·Σv9² − (Σv9)²  (= N²·σ9², exact)` and `A = |cs9| − 500`,
    *   breach ⟺ A ≥ 0  AND  A²·N²·d ≥ u·ex
    * where h² = u/d as the exact rational of the double h·h — every
    * operand an exact Decimal(38,0) integer in Spark and a HUGEINT in
    * DuckDB, no conversion, no sqrt, no rounding. Headroom: all terms
    * fit 38 digits while N·(|cs9|+500)·√d ≤ 9.9e18 (monthly panels
    * with |value| ≤ ~1e4 clear this by orders of magnitude); past it
    * the run fails LOUDLY either way — under ANSI mode (the Spark 4
    * default) the decimal multiply throws Spark's overflow error, and
    * with ANSI off the null-guard below promotes the silent NULL to
    * the named certificate error. DuckDB HUGEINT overflow errors on
    * its own. The certificate can never silently degrade.
    *
    * @return (cusum DOUBLE, breach INT) as a struct column
    */
  def cusum(c: Column, h: Double = 3.0): Column =
    cusumFixed(Panel.fix9(c), h)

  /** [[cusum]] over an ALREADY-FIXED 1e-9-grid long column — the wire
    * form the gate twins use (r14): fed from [[Panel.densePanel9]],
    * every value the operator touches is an integer SUM of per-event
    * fixings, so not one engine- or merge-order-variant float exists
    * anywhere upstream of the statistic. The emitted `cusum` is also
    * integer-derived: `cs6 = sign(cs9)·((|cs9|+500) div 1000)` (the
    * HALF-UP 1e-6 grid value, computed in pure integer arithmetic so
    * an exact .5 tie cannot fall to engine-specific float rounding),
    * then ONE long→double cast and ONE division by 1e6 — both
    * correctly-rounded IEEE ops every engine performs identically.
    * No further output rounding is needed or wanted.
    *
    * Long.MinValue edge (ADVICE r14, documentation only): at
    * cs9 == Long.MinValue, `abs` overflows — JVM math.abs returns
    * Long.MinValue while Spark/DuckDB differ (ANSI error vs wrap).
    * That requires |Σv9 − n·μ9| > 9.2e18, i.e. drift at the full
    * documented ~9.2e18 integer headroom — the series is rescaled
    * long before then per the loud-failure contract above; no code
    * path guards it because no representable gate input reaches it.
    */
  def cusumFixed(v9: Column, h: Double = 3.0): Column = {
    val wAll = Window.partitionBy(Panel.UnitCol)
    val nAll = count(v9).over(wAll)
    val s1 = sum(v9).over(wAll)
    val mu9 = round(s1.cast("double") / nAll.cast("double")).cast("long")
    val cs9 = sum(v9).over(cum) - count(v9).over(cum) * mu9
    val q6 = call_function("div", abs(cs9) + lit(500L), lit(1000L))
    val cs6 = when(cs9 < 0L, -q6).otherwise(q6)
    val cs = cs6.cast("double") / lit(1e6)
    // exact N²σ9² from integer sums: ex = N·Σv9² − (Σv9)²
    val d19 = "decimal(19,0)"
    val v9d = v9.cast(d19)
    val ex = nAll.cast(d19) * sum(v9d * v9d).over(wAll) -
      s1.cast(d19) * s1.cast(d19)
    val (hNum, hDen) = cusumRational(h)
    val a = abs(cs9) - lit(500L)
    val an = a.cast(d19) * nAll.cast(d19)
    val lhs = an * an * lit(hDen)
    val rhs = lit(hNum) * ex
    // null taxonomy (ADVICE r13): cs9 NULL means the unit has no
    // observed value up to this row (leading/all-null inputs — the
    // operator's aggregates are deliberately null-aware), and the
    // breach is NULL like the oracle's CASE; a NULL certificate term
    // under a NON-null cs9 can only be decimal overflow with ANSI off
    // (nAll ≥ 1 and s1 non-null whenever cs9 is), and THAT raises the
    // named error instead of silently nulling the flag.
    val breach = when(cs9.isNull, lit(null).cast("int"))
      .when(a < 0L, lit(0))
      .when(lhs.isNull || rhs.isNull, raise_error(lit(
        "cusum breach certificate overflow: N*(|cs9|+500) exceeds the " +
          "Decimal(38,0) domain — rescale the series")).cast("int"))
      .otherwise((lhs >= rhs).cast("int"))
    struct(cs.as("cusum"), breach.as("breach"))
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

  /** Per-unit OLS trend fit of the feature on time — the classic panel
    * detrend: slope/intercept from the closed-form normal equations
    * over the unit's full series, fitted value `a·t + b`, and the
    * detrended residual. All five sufficient statistics (n, Σt, Σx,
    * Σtx, Σt²) come from ONE unbounded window on the shared unit
    * partitioning — no join back, no extra shuffle, and at 100 TB the
    * per-unit statistics are map-side-combinable aggregates.
    *
    * Determinism: slope and intercept are rounded to 1e-9 before the
    * t-multiplying fit (the cusum discipline — an unordered window
    * sum's last-ULP noise must not be amplified by t past the 1e-6
    * output rounding), and the intercept is derived from the already
    * rounded slope so both engines compose identical arithmetic.
    *
    * @return struct (slope, fitted, detrended)
    */
  def trendFit(c: Column): Column = {
    val wAll = Window.partitionBy(Panel.UnitCol)
    val t = col(Panel.TimeCol).cast("double")
    val n = count(c).over(wAll).cast("double")
    val st = sum(t).over(wAll)
    val sx = sum(c).over(wAll)
    val stx = sum(t * c).over(wAll)
    val stt = sum(t * t).over(wAll)
    val den = n * stt - st * st
    val slope = round(when(den === 0.0, 0.0)
      .otherwise((n * stx - st * sx) / den), 9)
    val intercept = round(sx / n - slope * (st / n), 9)
    val fitted = slope * t + intercept
    struct(slope.as("slope"), fitted.as("fitted"),
      (c - fitted).as("detrended"))
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
    * Determinism: the [[rollingCorr]] discipline — explicit sums, both
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
    * does this series actually run on" answer [[decompose]] makes the
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

  /** Seasonal/trend STRENGTH per unit from the [[decompose]] components
    * (Hyndman's FeatureS/T): F_t = max(0, 1 − Var(R)/Var(T+R)) and
    * F_s = max(0, 1 − Var(R)/Var(S+R)) — "how much of the series the
    * trend/seasonal structure explains" (≈0 noise, →1 structured).
    *
    * Determinism: the components are fixed to 1e-6 integers per row
    * (collapsing the decompose windows' sub-1e-6 layout noise exactly
    * like q_decompose's output rounding), and each variance RATIO is a
    * quotient of two exact integer quantities n·Σx²−(Σx)² whose n
    * factors cancel — floats only at the final division.
    *
    * @return (unit_id, n, f_trend, f_seasonal) — null on zero variance
    */
  def seasonalStrength(df: DataFrame, valueCol: String,
                       period: Int, half: Int): DataFrame = {
    val d = decompose(col(valueCol), period, half)
    val comp = df.select(col(Panel.UnitCol),
        round((col(valueCol) - d.getField("trend")
          - d.getField("seasonal")) * 1e6).cast("long").as("__r6"),
        round((col(valueCol) - d.getField("trend")) * 1e6).cast("long")
          .as("__dt6"),
        round((col(valueCol) - d.getField("seasonal")) * 1e6).cast("long")
          .as("__ds6"))
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
    * [[trendFit]]'s OLS (one wild month barely moves it; breakdown
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
    * companion of [[cusum]]'s sequential drift flag: for every split
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
    val cSum9 = sum(x9).over(cum)
    val tIdx = count(x9).over(cum)
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

  /** Trailing-window Pearson correlation between two features — the
    * rolling co-movement signal (lead/lag co-drift of two panel
    * series). Computed from explicit windowed sums via the textbook
    *   r = (n·Σxy − Σx·Σy) / √((n·Σx² − (Σx)²)(n·Σy² − (Σy)²))
    * rather than an engine-native `corr`, so both engines run the
    * SAME arithmetic (native corr implementations differ in update
    * order / Welford form across engines). Windows with fewer than 2
    * rows or zero variance in either series yield NULL. Six windowed
    * sums over ONE trailing frame on the shared unit partitioning.
    */
  def rollingCorr(x: Column, y: Column, win: Int): Column = {
    require(win > 1, s"window must exceed 1, got $win")
    val f = trailing(win)
    val n = count(when(x.isNotNull && y.isNotNull, 1)).over(f).cast("double")
    val sx = sum(x).over(f); val sy = sum(y).over(f)
    val sxx = sum(x * x).over(f); val syy = sum(y * y).over(f)
    val sxy = sum(x * y).over(f)
    val vx = round(n * sxx - sx * sx, 9)
    val vy = round(n * syy - sy * sy, 9)
    when(n < 2.0 || vx <= 0.0 || vy <= 0.0, lit(null).cast("double"))
      .otherwise((n * sxy - sx * sy) / sqrt(vx * vy))
  }

  /** Classical seasonal decomposition (additive):
    *   trend_t    = centered moving average, window ±half
    *   seasonal_t = mean of (x − trend) over the unit's same phase
    *                (month_id mod period)
    *   residual_t = x − trend − seasonal
    * Edges use the partial centered window (avg over available rows).
    * All three components come from the unit partitioning the temporal
    * family already shuffles on, plus one (unit, phase) window — no
    * joins, no extra passes.
    *
    * @return struct (trend, seasonal, residual)
    */
  def decompose(c: Column, period: Int, half: Int): Column = {
    require(period > 1 && half > 0)
    val trend = avg(c).over(w.rowsBetween(-half, half))
    val phase = pmod(col(Panel.TimeCol), lit(period))
    val seasonal = avg(c - trend)
      .over(Window.partitionBy(col(Panel.UnitCol), phase))
    struct(trend.as("trend"), seasonal.as("seasonal"),
      (c - trend - seasonal).as("residual"))
  }

  /** 1 iff no event in the preceding `win` steps (rolling max of the
    * 1-lagged, 0-filled series is 0); the first step is always possible —
    * views_2.py:354-367.
    */
  def onsetPossible(c: Column, win: Int): Column = {
    val laggedFilled = coalesce(lag(c, 1).over(w), lit(0.0))
    when(max(laggedFilled).over(trailing(win)) === 0.0, 1).otherwise(0)
  }

  /** onset = onset_possible AND s != 0 — views_2.py:369-383. */
  def onset(c: Column, win: Int): Column =
    when(onsetPossible(c, win) === 1 && c =!= 0.0, 1).otherwise(0)

  /** Shannon entropy over the trailing `win` rows (truncated at the
    * series start), with `offset` added to every value to dodge 0·log 0 —
    * temporal_entropy.py:7-102.
    *
    * Uses the algebraic identity H = log2(X) − (Σ x·log2 x)/X with
    * X = Σ x over the frame, which turns the reference's per-window
    * normalised-probability loop into two codegen'd window sums.
    */
  def temporalEntropy(c: Column, win: Int, offset: Double): Column = {
    val x = c + offset
    val total = sum(x).over(trailing(win))
    // 0·log 0 := 0 (the information-theoretic convention; the reference
    // dodges the case by requiring offset > 0, temporal_entropy.py:54)
    val term = when(x > 0.0, x * log(2.0, x)).otherwise(0.0)
    val sLog = sum(term).over(trailing(win))
    when(total > 0.0, log(2.0, total) - sLog / total).otherwise(0.0)
  }
}
