package graft

import graft.ops.{MissingOps, PointwiseOps, TemporalOps, UnitScan}
import graft.ops.UnitScan._
import org.apache.spark.sql.functions._

/** Golden tests for the temporal window family, from the reference's own
  * worked examples (views_2.py docstrings; FIXTURES.md F5) and
  * hand-computed values per the documented semantics.
  */
class TemporalOpsSpec extends SparkSpec {
  import spark.implicits._
  private val T = Panel.TimeCol
  private val U = Panel.UnitCol

  /** 1-unit panel from a sequence of values, months 1..n. */
  private def panel1(vs: Double*) =
    vs.zipWithIndex.map { case (v, i) => (i + 1L, 1L, v) }.toDF(T, U, "value")

  private def outInts(df: org.apache.spark.sql.DataFrame, c: String): Seq[Int] =
    df.orderBy(T).select(c).collect().map(_.getInt(0)).toSeq

  private def outDoubles(df: org.apache.spark.sql.DataFrame, c: String): Seq[Any] =
    df.orderBy(T).select(c).collect().map(r => if (r.isNullAt(0)) null else r.getDouble(0)).toSeq

  /** The panel after a scan of `steps`, the series as `out`. */
  private def scan(p: org.apache.spark.sql.DataFrame, out: String, steps: UnitScan.Step*) =
    UnitScan(p, steps).withColumnRenamed("value", out)

  /** (cusum, breach) per row in month order, through the wire step. */
  private def cusum(p: org.apache.spark.sql.DataFrame, h: Double): Seq[(Double, Int)] =
    Registry.apply(p, Registry.Step("cusum", Seq(h))).orderBy(T).select("cusum", "breach")
      .collect().map(r => (r.getDouble(0), r.getInt(1))).toSeq

  /** A counting scan's series as an int column `out`, like the direct queries. */
  private def count(p: org.apache.spark.sql.DataFrame, out: String, steps: UnitScan.Step*) =
    UnitScan(p, steps).withColumn(out, col("value").cast("int"))

  test("cweq matches the worked example views_2.py:255-266") {
    // event  : 0, 0, 1, 1, 0, 0 -> cweq_0 : 1, 2, 0, 0, 1, 2
    val p = panel1(0, 0, 1, 1, 0, 0)
    assert(outInts(count(p, "cweq", Cweq(0.0)), "cweq") == Seq(1, 2, 0, 0, 1, 2))
  }

  test("time_since matches the worked example (first row dropped)") {
    // tisiev : ., 1, 2, 0, 0, 1
    val p = panel1(0, 0, 1, 1, 0, 0)
    val out = count(p, "time_since", UnitScan.timeSince(): _*)
    assert(outInts(out, "time_since") == Seq(1, 2, 0, 0, 1))
    assert(out.count() == 5) // month 1 dropped (lag undefined -> dropna)
  }

  test("cweq seed injects prior history at the panel's first timestep") {
    val p = panel1(0, 0, 1, 0, 0, 0)
    assert(outInts(count(p, "cweq", Cweq(0.0, seed = Some(10))), "cweq")
      == Seq(10, 11, 0, 1, 2, 3))
    // seed ignored when the first step doesn't satisfy the condition
    val p2 = panel1(1, 0, 0, 0, 0, 0)
    assert(outInts(count(p2, "cweq", Cweq(0.0, seed = Some(10))), "cweq")
      == Seq(0, 1, 2, 3, 4, 5))
    // seed=0 is falsy in the reference (views_2.py:232) -> ignored
    assert(outInts(count(p, "cweq", Cweq(0.0, seed = Some(0))), "cweq")
      == Seq(1, 2, 0, 1, 2, 3))
  }

  test("cweq drops NaN rows before counting (views_2.py:211)") {
    val p = Seq((1L, 1L, Some(0.0)), (2L, 1L, None), (3L, 1L, Some(0.0)))
      .toDF(T, U, "value")
    // NaN row removed -> consecutive run continues across the gap
    assert(outInts(count(p, "cweq", Cweq(0.0)), "cweq") == Seq(1, 2))
  }

  test("cweq resets independently per unit") {
    val p = Seq(
      (1L, 1L, 0.0), (2L, 1L, 5.0), (3L, 1L, 0.0),
      (1L, 2L, 0.0), (2L, 2L, 0.0), (3L, 2L, 0.0)).toDF(T, U, "value")
    val out = count(p, "cweq", Cweq(0.0))
      .orderBy(U, T).select("cweq").collect().map(_.getInt(0)).toSeq
    assert(out == Seq(1, 0, 1, 1, 2, 3))
  }

  test("moving ops use min_periods=0 expanding starts (views_2.py:135-137)") {
    val p = panel1(1, 2, 3, 4)
    assert(outDoubles(scan(p, "m", MovingAverage(3)), "m")
      == Seq(1.0, 1.5, 2.0, 3.0))
    assert(outDoubles(scan(p, "m", MovingSum(2)), "m")
      == Seq(1.0, 3.0, 5.0, 7.0))
    assert(outDoubles(scan(p, "m", RollMax(2)), "m")
      == Seq(1.0, 2.0, 3.0, 4.0))
    // rolling median ignores a spike the moving average would chase:
    // series 1,100,3,5 window 3 -> 1, 50.5 (interp of 2), 3, 5
    val sp = panel1(1, 100, 3, 5)
    assert(outDoubles(scan(sp, "m", RollingMedian(3)), "m")
      == Seq(1.0, 50.5, 3.0, 5.0))
  }

  test("tlag/tlead/delta") {
    val p = panel1(1, 2, 4, 8)
    assert(outDoubles(scan(p, "m", Lag(1)), "m")
      == Seq(null, 1.0, 2.0, 4.0))
    assert(outDoubles(scan(p, "m", Lead(2)), "m")
      == Seq(4.0, 8.0, null, null))
    assert(outDoubles(scan(p, "m", Delta(1)), "m")
      == Seq(null, 1.0, 2.0, 4.0))
    intercept[IllegalArgumentException](Lag(0))
  }

  test("onset semantics (views_2.py:354-383)") {
    // events at months 2 and 5; window 2
    val p = panel1(0, 3, 0, 0, 7, 0)
    val op = outInts(count(p, "op", OnsetPossible(2)), "op")
    // lagged series: -,0,3,0,0,7 filled 0 -> rollmax2: 0,0,3,3,0,7
    assert(op == Seq(1, 1, 0, 0, 1, 0))
    val on = outInts(count(p, "on", Onset(2)), "on")
    assert(on == Seq(0, 1, 0, 0, 1, 0))
  }

  test("temporal entropy: uniform window hits log2(w), constant-zero is 0") {
    // all-equal values with offset keep x_i identical -> H = log2(#rows in frame)
    val p = panel1(0, 0, 0, 0)
    val h = outDoubles(scan(p, "h", TemporalEntropy(4, 1.0)), "h")
    val exp = Seq(0.0, 1.0, math.log(3) / math.log(2), 2.0)
    h.zip(exp).foreach { case (a, e) =>
      assert(math.abs(a.asInstanceOf[Double] - e) < 1e-12)
    }
  }

  test("tick_time_since reproduces time_since one step ahead (views_2.py:385-418)") {
    val p = panel1(0, 0, 1, 1, 0, 0)
    val tick = outDoubles(scan(p, "tk", TickTimeSince), "tk")
    // months 2..6; lag within kept rows: tick = ., 2, 0, 0, 1
    assert(tick == Seq(null, 2.0, 0.0, 0.0, 1.0))
  }

  test("winsorize clips to the unit's own quantiles; robustScale centres on the median") {
    // unit 0: 1..9 plus an outlier 100 at month 10 and a missing cell
    // at month 11
    val rows = (1L to 9L).map(m => (m, 0L, Option(m.toDouble))) :+ ((10L, 0L, Some(100.0))) :+
      ((11L, 0L, None))
    val p = rows.toDF(T, U, "value")
    val w = outDoubles(scan(p, "w", Winsorize(0.0, 0.9)), "w")
    // p90 of (1..9,100) at index 0.9*(10-1)=8.1 → 9 + 0.1*(100-9) = 18.1
    assert(math.abs(w(9).asInstanceOf[Double] - 18.1) < 1e-9, w(9))
    assert(w.take(9) == (1 to 9).map(_.toDouble))
    // the missing cell stays missing (not the low quantile)
    assert(w(10) == null, w)
    val rs = outDoubles(scan(p, "s", RobustScale), "s")
    // median 5.5, IQR = 7.75 − 3.25 = 4.5
    assert(math.abs(rs.head.asInstanceOf[Double] - (1.0 - 5.5) / 4.5) < 1e-9)
    // constant unit → IQR 0 → all zeros, no division error
    val const = Seq((1L, 7L, 3.0), (2L, 7L, 3.0)).toDF(T, U, "value")
    val cs = outDoubles(scan(const, "s", RobustScale), "s")
    assert(cs.forall(_ == 0.0))
  }

  test("ewma matches the hand-computed adjusted weighted mean") {
    val p = Seq((1L, 0L, 2.0), (2L, 0L, 4.0), (3L, 0L, 8.0)).toDF(T, U, "value")
    val got = outDoubles(scan(p, "e", Ewma(0.5, 4)), "e").map(_.asInstanceOf[Double])
    // t1: 2/1; t2: (4 + 2·0.5)/1.5; t3: (8 + 4·0.5 + 2·0.25)/1.75
    assert(math.abs(got(0) - 2.0) < 1e-12)
    assert(math.abs(got(1) - 5.0 / 1.5) < 1e-12)
    assert(math.abs(got(2) - 10.5 / 1.75) < 1e-12)
  }

  test("cusum ramps on a level shift and flags the breach") {
    // flat at 0 for 10 steps, then a +10 shift for 10 steps
    val rows = (1L to 10L).map(m => (m, 0L, 0.0)) ++
      (11L to 20L).map(m => (m, 0L, 10.0))
    val p = rows.toDF(T, U, "value")
    val out = cusum(p, 1.0)
    // mean 5, sd 5: cusum walks to −25 then back; |−25| > 1·5 → breaches
    assert(math.abs(out.head._1 - (-5.0)) < 1e-9)
    assert(math.abs(out(9)._1 - (-50.0 + 0.0)) < 1e-9 || out(9)._1 == -50.0)
    assert(out.map(_._2).sum > 0, "no breach flagged on an obvious shift")
    // the minimum (largest drift) sits at the change point
    val minIdx = out.map(_._1).zipWithIndex.minBy(_._1)._2
    assert(minIdx == 9, s"drift extreme at $minIdx, expected 9")
  }

  test("cusumRational renders h² as a shared bounded rational") {
    assert(TemporalOps.cusumRational(3.0) == (BigDecimal(9), BigDecimal(1)))
    assert(TemporalOps.cusumRational(2.5) ==
      (BigDecimal(625), BigDecimal(100)))
    assert(TemporalOps.cusumRational(2.0) == (BigDecimal(4), BigDecimal(1)))
    // a long-tail double: d capped at 10^12 (Decimal(38,0) literal
    // headroom), u/d within 1e-12 relative of h·h — and DETERMINISTIC,
    // which is the actual contract (all three sides share the value)
    val (u, d) = TemporalOps.cusumRational(1.7)
    assert(d <= BigDecimal(10).pow(12))
    assert(((u / d) - BigDecimal(1.7 * 1.7)).abs / BigDecimal(1.7 * 1.7)
      < BigDecimal(1e-12))
  }

  test("cusum breach certificate: the integer margin test agrees with " +
      "the analytic h·σ boundary on exact cases") {
    // values chosen so σ and the cusum walk are exact decimals: the
    // breach set must match |cs| − h·σ ≥ 0.5e-6 computed by hand
    val rows = (1L to 4L).map(m => (m, 0L, if (m <= 2) 0.0 else 8.0))
    val p = rows.toDF(T, U, "value")
    // mean 4, σ = 4; walk: −4, −8, −4, 0 ⇒ |−8| ≥ 2·4 exactly at t=2:
    // margin 0 < 0.5e-6 ⇒ NOT a breach at h=2 (the old round-6 > 0
    // boundary, preserved exactly); at h=1.9 the margin is 0.4 ⇒ breach
    def breaches(h: Double) = cusum(p, h).map(_._2)
    assert(breaches(2.0) == Seq(0, 0, 0, 0))
    assert(breaches(1.9) == Seq(0, 1, 0, 0))
  }

  test("cusum certificate overflow raises loudly instead of returning " +
      "a silent NULL breach") {
    // |value| ~ 4e8 over 40 rows pushes (A·N)² past Decimal(38,0):
    // the run must FAIL — under ANSI (the Spark 4 default) the decimal
    // multiply throws Spark's own overflow; with ANSI off the operator's
    // null-guard raises the named certificate error. Either way: loud.
    val rows = (1L to 40L).map(m =>
      (m, 0L, if (m % 2 == 0) 4.0e8 else -4.0e8))
    val p = rows.toDF(T, U, "value")
    val e = intercept[Exception] {
      Registry.apply(p, Registry.Step("cusum", Seq(3.0))).collect()
    }
    def chain = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).take(10).map(t => String.valueOf(t.getMessage))
    assert(chain.exists(m => m.contains("cusum breach certificate") ||
      m.contains("NUMERIC_VALUE_OUT_OF_RANGE") ||
      m.contains("ARITHMETIC_OVERFLOW") || m.contains("overflow")),
      s"unexpected error: ${e.getMessage}")
  }

  test("cusum null taxonomy: in-contract null inputs yield null rows, " +
      "not the certificate-overflow error (ADVICE r13)") {
    // unit 0: leading null then values — cs9 is null until the first
    // observed value, like the oracle's CASE; unit 1: ALL null — every
    // row null. The old guard conflated these with decimal overflow
    // and raise_error'd the whole query.
    val rows = Seq[(Long, Long, Option[Double])](
      (1L, 0L, None), (2L, 0L, Some(2.0)), (3L, 0L, Some(4.0)),
      (1L, 1L, None), (2L, 1L, None))
    val p = rows.toDF(T, U, "value")
    val out = Registry.apply(p, Registry.Step("cusum", Seq(3.0)))
      .orderBy(U, T).select(U, "cusum", "breach").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getDouble(1)),
        if (r.isNullAt(2)) None else Some(r.getInt(2))))
    // unit 0: null row, then exact walk around mean 3: −1, 0
    assert(out(0) == ((0L, None, None)))
    assert(out(1) == ((0L, Some(-1.0), Some(0))))
    assert(out(2) == ((0L, Some(0.0), Some(0))))
    // unit 1: all null in, all null out
    assert(out(3) == ((1L, None, None)) && out(4) == ((1L, None, None)))
  }

  test("cusumFixed: the integer wire equals the float wrapper, and the " +
      "emitted value is integer-grid-derived (exact at .5e-6 ties)") {
    // same series through both entries: cusum(value) fixes at the scan,
    // cusumFixed(v9) consumes the already-fixed grid — identical output
    val rows = (1L to 8L).map(m => (m, 0L, m * 0.7300001))
    val p = rows.toDF(T, U, "value")
    val viaFloat = cusum(p, 3.0)
    val viaFixed = UnitScan(p.withColumn("v9", graft.Panel.fix9(col("value"))),
        Seq(Cusum(3.0, "v9")))
      .orderBy(T).collect().map(r => (r.getAs[Double]("cusum"), r.getAs[Int]("breach"))).toSeq
    assert(viaFloat == viaFixed)
    // a .5e-6 tie: cs9 lands exactly on ±(k·1000 + 500) — the integer
    // HALF-UP must resolve away from zero deterministically (a float
    // round() of cs9/1e9 would sit on engine-specific last-bit noise).
    // series 0, 1e-6·1.5 → mean 7.5e-7, v9 = (0, 1500), mu9 = 750:
    // cs9 walk: −750, 0 — not a tie; use (0, 1e-6) : v9=(0,1000),
    // mu9=500, cs9: −500, 0 → |−500|+500 = 1000 → cs6 = −1 → −1e-6
    val tie = Seq((1L, 0L, 0.0), (2L, 0L, 1.0e-6)).toDF(T, U, "value")
    val got = cusum(tie, 3.0).map(_._1).sorted
    assert(got == Seq(-1.0e-6, 0.0))
  }

  test("decompose recovers a planted period-3 seasonal pattern") {
    val season = Array(3.0, -1.0, -2.0)
    val rows = (0L until 30L).map(m => (m, 0L, 10.0 + season((m % 3).toInt)))
    val p = rows.toDF(T, U, "value")
    val out = UnitScan(p, Seq(Decompose(period = 3, half = 3)))
      .orderBy(T).select(col(T), struct("trend", "seasonal", "residual")).collect()
      .map(r => (r.getLong(0), r.getStruct(1)))
    // away from the edges, trend ≈ level and seasonal ≈ planted values
    // (half=3 spans 7 rows ≈ 2⅓ periods; the seasonal means then absorb
    // the residual trend wobble, so check the MIDDLE rows loosely)
    out.filter(t => t._1 >= 5 && t._1 < 25).foreach { case (m, s) =>
      val expSeason = season((m % 3).toInt)
      assert(math.abs(s.getDouble(1) - expSeason) < 0.8,
        s"month $m seasonal ${s.getDouble(1)} vs $expSeason")
      assert(math.abs(s.getDouble(2)) < 0.8, s"month $m residual ${s.getDouble(2)}")
    }
  }

  test("trendFit recovers a planted linear trend exactly") {
    // unit 0: x = 3t + 7 exactly; unit 1: constant (zero-variance t? no —
    // constant VALUE, slope 0, intercept = the constant)
    val rows = (1L to 10L).map(m => (m, 0L, 3.0 * m + 7.0)) ++
      (1L to 10L).map(m => (m, 1L, 5.0))
    val p = rows.toDF(T, U, "value")
    val out = UnitScan(p, Seq(Trend))
      .select(col(T), col(U), struct("slope", "fitted", "detrended")).collect()
      .map(r => ((r.getLong(1), r.getLong(0)), r.getStruct(2)))
      .toMap
    val f0 = out((0L, 4L))
    assert(math.abs(f0.getDouble(0) - 3.0) < 1e-9, "slope")
    assert(math.abs(f0.getDouble(1) - 19.0) < 1e-6, "fitted at t=4")
    assert(math.abs(f0.getDouble(2)) < 1e-6, "residual on exact line")
    val f1 = out((1L, 7L))
    assert(math.abs(f1.getDouble(0)) < 1e-9, "constant series slope 0")
    assert(math.abs(f1.getDouble(1) - 5.0) < 1e-6)
  }

  test("rollingCorr is ±1 on exact linear co-movement and null on constants") {
    // y = 2x exactly → +1; y = −x → −1; constant y → null (zero variance)
    val rows = (1L to 8L).map(m => (m, 0L, m.toDouble, 2.0 * m)) ++
      (1L to 8L).map(m => (m, 1L, m.toDouble, -m.toDouble)) ++
      (1L to 8L).map(m => (m, 2L, m.toDouble, 4.0))
    val p = rows.toDF(T, U, "value", "value2")
    val out = UnitScan(p, Seq(RollingCorr(4))).select(col(T), col(U), col("rcorr")).collect()
      .map(r => ((r.getLong(1), r.getLong(0)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(math.abs(out((0L, 6L)).get - 1.0) < 1e-9)
    assert(math.abs(out((1L, 6L)).get + 1.0) < 1e-9)
    assert(out((2L, 6L)).isEmpty, "zero-variance window must be null")
    assert(out((0L, 1L)).isEmpty, "single-row window must be null")
  }

  test("decay halves per halflife; ln is log1p (views_2.py:279-319)") {
    val p = panel1(0, 12, 24)
    val d = outDoubles(p.select(col(T), col(U),
      PointwiseOps.decay(col("value"), 12.0).as("d")), "d")
    assert(d.map(_.asInstanceOf[Double]).zip(Seq(1.0, 0.5, 0.25))
      .forall { case (a, e) => math.abs(a - e) < 1e-12 })
    val l = outDoubles(p.select(col(T), col(U),
      PointwiseOps.ln(col("value")).as("l")), "l")
    assert(math.abs(l.head.asInstanceOf[Double]) < 1e-12)
  }

  test("pacf: lag-1 equals acf; a perfectly autocorrelated series " +
      "nulls the higher lags (singular Durbin-Levinson)") {
    // linear series: acf = 1 at every lag → den2 = 1 − 1 = 0
    val lin = panel1((1 to 12).map(_.toDouble): _*)
    val got = TemporalOps.pacf(lin, "value")
      .collect().map(r => r.getInt(1) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(got(1).contains(1.0))
    assert(got(2).isEmpty && got(3).isEmpty)
    // irregular series (|r1| < 1): hand-check phi22 from the
    // Durbin–Levinson closed form over the ROUNDED acf values
    val irr = panel1(3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, 8)
    val acfs = TemporalOps.acf(irr, "value", 3)
      .collect().map(r => r.getInt(1) -> r.getDouble(3)).toMap
    val p = TemporalOps.pacf(irr, "value")
      .collect().map(r => r.getInt(1) -> r.getDouble(2)).toMap
    assert(p(1) === acfs(1))
    val r1 = acfs(1); val r2 = acfs(2)
    val exp22 = BigDecimal((r2 - r1 * r1) / (1.0 - r1 * r1))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(p(2) === exp22)
  }

  test("forecastBacktest: an exact period-7 cycle backcasts to sMAPE 0") {
    val cyc = panel1((0 until 21).map(i => (i % 7 + 1).toDouble): _*)
    val r = TemporalOps.forecastBacktest(cyc, "value", period = 7)
      .collect().head
    assert(r.getLong(1) === 14L && r.getDouble(2) === 0.0)
    // doubling series: f = a/2 → term = 2·(a/2)/(3a/2) = 2/3 each
    val dbl = panel1(1, 2, 4, 8, 16, 32, 64, 128)
    val r2 = TemporalOps.forecastBacktest(dbl, "value", period = 1)
      .collect().head
    assert(r2.getLong(1) === 7L)
    assert(math.abs(r2.getDouble(2) - 2.0 / 3.0) < 1e-6)
  }

  test("dominantPeriod recovers a planted cycle") {
    // pure 6-month cosine over 24 months → k = 24/6 = 4 wins
    val cyc = panel1((0 until 24).map(t =>
      10.0 * math.cos(2 * math.Pi * t / 6.0)): _*)
    val r = TemporalOps.dominantPeriod(cyc, "value").collect().head
    assert(r.getLong(1) === 24L && r.getLong(2) === 4L)
    assert(r.getDouble(3) === 6.0)
    // a linear ramp concentrates power at the lowest frequency k = 1
    val ramp = panel1((1 to 24).map(_.toDouble): _*)
    assert(TemporalOps.dominantPeriod(ramp, "value")
      .collect().head.getLong(2) === 1L)
  }

  test("seasonalStrength: pure cycle scores seasonal ~1, noise-free " +
      "line scores trend ~1") {
    // 18 months of a period-3 sawtooth: detrended variance is all
    // seasonal structure → f_seasonal high, f_trend ≈ 0
    val saw = panel1((1 to 18).map(i => (i % 3) * 10.0): _*)
    val rs = TemporalOps.seasonalStrength(saw, "value", period = 3,
      half = 1).collect().head
    assert(rs.getDouble(3) > 0.8, s"sawtooth must be seasonal: $rs")
    // a straight line: residuals vanish against the trend component
    val line = panel1((1 to 18).map(_ * 2.0): _*)
    val rl = TemporalOps.seasonalStrength(line, "value", period = 3,
      half = 1).collect().head
    assert(rl.getDouble(2) > 0.8, s"line must be trend: $rl")
  }

  test("mannKendall: monotone series S = n(n-1)/2, tau = ±1, flat 0") {
    val up = panel1(1, 2, 3, 4, 5)
    val ru = TemporalOps.mannKendall(up, "value").collect().head
    assert((ru.getLong(1), ru.getLong(2), ru.getDouble(3)) ===
      ((5L, 10L, 1.0)))
    val down = panel1(5, 4, 3, 2, 1)
    assert(TemporalOps.mannKendall(down, "value")
      .collect().head.getDouble(3) === -1.0)
    val flat = panel1(3, 3, 3, 3)
    val rf = TemporalOps.mannKendall(flat, "value").collect().head
    assert(rf.getLong(2) === 0L && rf.getDouble(3) === 0.0)
  }

  test("theilSen ignores the outlier OLS absorbs") {
    // y = 2t except one wild month: the median pairwise slope stays 2
    val p = panel1(2, 4, 6, 8, 1000, 12, 14)
    val r = TemporalOps.theilSen(p, "value").collect().head
    assert(r.getLong(1) === 21L)         // C(7,2) pairs
    assert(r.getDouble(2) === 2.0)
    // even pair count: slopes of (1,3,5,7) on months 1..4 are all 2
    // except pair medians still 2; constant series → slope 0
    val flat = panel1(5, 5, 5, 5)
    assert(TemporalOps.theilSen(flat, "value")
      .collect().head.getDouble(2) === 0.0)
  }

  test("changepoint finds the level-shift boundary") {
    // clean shift after month 4: 0,0,0,0,10,10,10,10
    val p = panel1(0, 0, 0, 0, 10, 10, 10, 10)
    val r = TemporalOps.changepoint(p, "value").collect().head
    assert(r.getLong(1) === 8L)          // n
    assert(r.getLong(2) === 4L)          // cp_month = last left month
    assert(r.getDouble(3) === 10.0)      // shift = mean_R − mean_L
    // stat = |10|·sqrt(4·4/8) = 10·sqrt(2)
    assert(math.abs(r.getDouble(4) - 10.0 * math.sqrt(2.0)) < 1e-6)
    // constant series: all boundaries tie at 0 → smallest month wins
    val flat = panel1(3, 3, 3, 3)
    val rf = TemporalOps.changepoint(flat, "value").collect().head
    assert(rf.getLong(2) === 1L && rf.getDouble(4) === 0.0)
  }
}
