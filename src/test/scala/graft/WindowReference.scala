package graft

import graft.ops.TemporalOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** The window formulation of the per-unit steps that run as
  * [[graft.ops.UnitScan]]: each step Spark windows over [[w]]
  * (partition by unit, order by month) or over the unit's whole series.
  * This is the semantics the scan reproduces — bit for bit where the
  * window's frame is month-ordered — kept here as the reference the
  * parity tests compare against (the oracle SQL is the other one).
  *
  * Reference: views_2.py (lag/lead/delta/moving/cweq/tick/onset),
  * tlag3d.py, temporal_entropy.py, missing.py (fill/extrapolate).
  */
object WindowReference {
  /** Per-unit time window — the order every per-unit step shares. */
  def w: WindowSpec = Window.partitionBy(Panel.UnitCol).orderBy(Panel.TimeCol)

  /** `w` with a trailing row frame of `n` rows (current row included). */
  def trailing(n: Int): WindowSpec = w.rowsBetween(-(n - 1), 0)

  /** Cumulative (expanding) frame. */
  def cumulative: WindowSpec = w.rowsBetween(Window.unboundedPreceding, 0)
  private def cum = cumulative

  /** Shift back `t` steps (t >= 1) — views_2.py:82-97. */
  def tlag(c: Column, t: Int): Column = {
    require(t >= 1, s"tlag requires time >= 1, got $t")
    lag(c, t).over(w)
  }

  /** Shift forward `t` steps (t >= 1) — views_2.py:100-115. */
  def tlead(c: Column, t: Int): Column = {
    require(t >= 1, s"tlead requires time >= 1, got $t")
    lead(c, t).over(w)
  }

  /** s − tlag(s, t) — views_2.py:12-24. */
  def delta(c: Column, t: Int): Column = c - tlag(c, t)

  /** Rolling mean over trailing `t` rows, `min_periods=0` — views_2.py:117-142. */
  def movingAverage(c: Column, t: Int): Column = avg(c).over(trailing(t))

  /** Rolling sum, same frame rules — views_2.py:144-169. */
  def movingSum(c: Column, t: Int): Column = sum(c).over(trailing(t))

  /** Rolling max, min_periods=0 — views_2.py:337-352. */
  def rollmax(c: Column, win: Int): Column = max(c).over(trailing(win))

  /** Per-unit mean over all time — views_2.py:295-306. */
  def mean(c: Column): Column = avg(c).over(Window.partitionBy(Panel.UnitCol))

  /** s − per-unit mean — views_2.py:321-335. */
  def demean(c: Column): Column = c - mean(c)

  /** Run-length counter (views_2.py:172-242) by the reference's
    * block-grouper trick: `block = cumsum(!mask)` per unit is constant
    * across a consecutive true-spell, so a cumulative sum of the mask
    * partitioned by (unit, block) restarts per spell. Null rows drop
    * first; `seed` (ignored when 0) replaces the count at the panel's
    * first kept month where the condition holds.
    */
  def cweq(df: DataFrame, valueCol: String, v: Double,
           seed: Option[Int] = None, out: String = "cweq"): DataFrame = {
    val kept = df.filter(col(valueCol).isNotNull)
    val mask = when(col(valueCol) === v, 1).otherwise(0)
    val withBlock = kept.withColumn("__block",
      sum(when(col(valueCol) === v, 0).otherwise(1)).over(cum))
    val seeded = seed.filter(_ != 0) match {
      case Some(s) =>
        withBlock
          .crossJoin(broadcast(kept.agg(min(col(Panel.TimeCol)).as("__t0"))))
          .withColumn("__cnt",
            when(col(Panel.TimeCol) === col("__t0") && mask === 1, s)
              .otherwise(mask))
          .drop("__t0")
      case None => withBlock.withColumn("__cnt", mask)
    }
    val w2 = Window.partitionBy(col(Panel.UnitCol), col("__block"))
      .orderBy(Panel.TimeCol).rowsBetween(Window.unboundedPreceding, 0)
    seeded
      .withColumn(out, sum(col("__cnt")).over(w2).cast("int"))
      .drop("__block", "__cnt")
  }

  /** time_since = cweq(tlag(s,1), value, seed) — views_2.py:244-277. */
  def timeSince(df: DataFrame, valueCol: String, v: Double = 0.0,
                seed: Option[Int] = None, out: String = "time_since"): DataFrame = {
    val lagged = df.withColumn("__lagged", tlag(col(valueCol), 1))
    cweq(lagged, "__lagged", v, seed, out).drop("__lagged")
  }

  /** 0 if the previous step had an event, else previous time_since + 1 —
    * views_2.py:385-418.
    */
  def tickTimeSince(eventCol: Column, timeSinceCol: Column): Column =
    when(lag(eventCol, 1).over(w) =!= 0.0, 0.0)
      .otherwise(lag(timeSinceCol, 1).over(w) + 1.0)

  /** Multi-lag in one pass — tlag3d.py:6-134: one 0-filled `tlag_<l>`
    * column per requested lag.
    */
  def tlags(df: DataFrame, valueCol: String, lags: Seq[Int]): DataFrame =
    lags.foldLeft(df) { (d, l) =>
      d.withColumn(s"tlag_$l", coalesce(lag(col(valueCol), l).over(w), lit(0.0)))
    }

  /** Clip to the unit's own [pLow, pHigh] `percentile`s; a null stays null. */
  def winsorize(c: Column, pLow: Double, pHigh: Double): Column = {
    val u = Window.partitionBy(Panel.UnitCol)
    when(c.isNotNull, least(greatest(c, percentile(c, lit(pLow)).over(u)),
      percentile(c, lit(pHigh)).over(u)))
  }

  /** (s − median) / IQR per unit; 0.0 where the IQR is 0. */
  def robustScale(c: Column): Column = {
    val u = Window.partitionBy(Panel.UnitCol)
    val med = percentile(c, lit(0.5)).over(u)
    val iqr = percentile(c, lit(0.75)).over(u) - percentile(c, lit(0.25)).over(u)
    when(iqr === 0.0, 0.0).otherwise((c - med) / iqr)
  }

  /** Span-truncated EWMA as a stack of lag expressions. */
  def ewma(c: Column, alpha: Double, span: Int): Column = {
    val terms = (0 until span).map { j =>
      val x = if (j == 0) c else lag(c, j).over(w)
      (when(x.isNotNull, x * math.pow(alpha, j)).otherwise(lit(0.0)),
        when(x.isNotNull, lit(math.pow(alpha, j))).otherwise(lit(0.0)))
    }
    val num = terms.map(_._1).reduce(_ + _)
    val den = terms.map(_._2).reduce(_ + _)
    when(den === 0.0, lit(null).cast("double")).otherwise(num / den)
  }

  /** CUSUM over a 1e-9-fixed long column: struct (cusum, breach), the
    * breach an exact Decimal(38,0) certificate.
    */
  def cusumFixed(v9: Column, h: Double): Column = {
    val wAll = Window.partitionBy(Panel.UnitCol)
    val nAll = count(v9).over(wAll)
    val s1 = sum(v9).over(wAll)
    val mu9 = round(s1.cast("double") / nAll.cast("double")).cast("long")
    val cs9 = sum(v9).over(cum) - count(v9).over(cum) * mu9
    val q6 = call_function("div", abs(cs9) + lit(500L), lit(1000L))
    val cs = when(cs9 < 0L, -q6).otherwise(q6).cast("double") / lit(1e6)
    val d19 = "decimal(19,0)"
    val ex = nAll.cast(d19) * sum(v9.cast(d19) * v9.cast(d19)).over(wAll) -
      s1.cast(d19) * s1.cast(d19)
    val (hNum, hDen) = TemporalOps.cusumRational(h)
    val a = abs(cs9) - lit(500L)
    val an = a.cast(d19) * nAll.cast(d19)
    val lhs = an * an * lit(hDen)
    val rhs = lit(hNum) * ex
    val breach = when(cs9.isNull, lit(null).cast("int"))
      .when(a < 0L, lit(0))
      .when(lhs.isNull || rhs.isNull, raise_error(lit(
        "cusum breach certificate overflow: N*(|cs9|+500) exceeds the " +
          "Decimal(38,0) domain — rescale the series")).cast("int"))
      .otherwise((lhs >= rhs).cast("int"))
    struct(cs.as("cusum"), breach.as("breach"))
  }

  /** Per-unit OLS fit on month: struct (slope, fitted, detrended). */
  def trendFit(c: Column): Column = {
    val wAll = Window.partitionBy(Panel.UnitCol)
    val t = col(Panel.TimeCol).cast("double")
    val n = count(c).over(wAll).cast("double")
    val st = sum(t).over(wAll)
    val sx = sum(c).over(wAll)
    val stx = sum(t * c).over(wAll)
    val stt = sum(t * t).over(wAll)
    val den = n * stt - st * st
    val slope = round(when(den === 0.0, 0.0).otherwise((n * stx - st * sx) / den), 9)
    val intercept = round(sx / n - slope * (st / n), 9)
    val fitted = slope * t + intercept
    struct(slope.as("slope"), fitted.as("fitted"), (c - fitted).as("detrended"))
  }

  /** Trailing-window Pearson correlation from explicit sums. */
  def rollingCorr(x: Column, y: Column, win: Int): Column = {
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

  /** Additive decomposition: struct (trend, seasonal, residual). */
  def decompose(c: Column, period: Int, half: Int): Column = {
    val trend = avg(c).over(w.rowsBetween(-half, half))
    val phase = pmod(col(Panel.TimeCol), lit(period))
    val seasonal = avg(c - trend).over(Window.partitionBy(col(Panel.UnitCol), phase))
    struct(trend.as("trend"), seasonal.as("seasonal"), (c - trend - seasonal).as("residual"))
  }

  /** 1 iff the rolling max of the 1-lagged, 0-filled series is 0 —
    * views_2.py:354-367.
    */
  def onsetPossible(c: Column, win: Int): Column =
    when(max(coalesce(lag(c, 1).over(w), lit(0.0))).over(trailing(win)) === 0.0, 1).otherwise(0)

  /** onset = onset_possible AND s != 0 — views_2.py:369-383. */
  def onset(c: Column, win: Int): Column =
    when(onsetPossible(c, win) === 1 && c =!= 0.0, 1).otherwise(0)

  /** Shannon entropy over the trailing `win` rows — temporal_entropy.py. */
  def temporalEntropy(c: Column, win: Int, offset: Double): Column = {
    val x = c + offset
    val total = sum(x).over(trailing(win))
    val sLog = sum(when(x > 0.0, x * log(2.0, x)).otherwise(0.0)).over(trailing(win))
    when(total > 0.0, log(2.0, total) - sLog / total).otherwise(0.0)
  }

  private def future = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)

  /** ffill/bfill with limit_direction/limit_area — missing.py:100-161. */
  def fill(df: DataFrame, valueCol: String, direction: String, area: Option[String],
           out: String): DataFrame = {
    val v = col(valueCol)
    val ff = last(v, ignoreNulls = true).over(cum)
    val bf = first(v, ignoreNulls = true).over(future)
    val filled = area match {
      case Some("inside") =>
        when(v.isNull && ff.isNotNull && bf.isNotNull, if (direction == "backward") bf else ff)
          .otherwise(v)
      case Some("outside") =>
        when(v.isNull && ff.isNull, bf).when(v.isNull && bf.isNull, ff).otherwise(v)
      case None => direction match {
        case "forward" => coalesce(v, ff)
        case "backward" => coalesce(v, bf)
        case _ => coalesce(v, ff, bf)
      }
      case Some(other) => throw new IllegalArgumentException(s"unknown limit_area: $other")
    }
    df.withColumn(out, filled)
  }

  /** Linear interpolation / constant extrapolation — missing.py:72-98. */
  def extrapolate(df: DataFrame, valueCol: String, direction: String, area: Option[String],
                  out: String): DataFrame = {
    val v = col(valueCol)
    val rn = col("__rn")
    val validRn = when(v.isNotNull, rn)
    val prevVal = last(v, ignoreNulls = true).over(cum)
    val nextVal = first(v, ignoreNulls = true).over(future)
    val prevRn = last(validRn, ignoreNulls = true).over(cum)
    val nextRn = first(validRn, ignoreNulls = true).over(future)
    val blend = prevVal + (nextVal - prevVal) * (rn - prevRn) / (nextRn - prevRn)
    val fillEdges = !area.contains("inside")
    var filled: Column = v
    if (area.isEmpty || area.contains("inside"))
      filled = when(v.isNull && prevVal.isNotNull && nextVal.isNotNull, blend).otherwise(filled)
    if (fillEdges && (direction == "forward" || direction == "both"))
      filled = when(v.isNull && nextVal.isNull, prevVal).otherwise(filled)
    if (fillEdges && (direction == "backward" || direction == "both"))
      filled = when(v.isNull && prevVal.isNull, nextVal).otherwise(filled)
    df.withColumn("__rn", row_number().over(w)).withColumn(out, filled).drop("__rn")
  }

  /** One wire step of a panel pipeline in its window form (`value`
    * replaced, or the step's columns appended); other steps go through
    * the registry.
    */
  def step(df: DataFrame, s: Registry.Step): DataFrame = {
    def n(i: Int) = s.args(i).asInstanceOf[Double]
    def nOpt(i: Int) = s.args.lift(i).map(_.asInstanceOf[Double])
    def str(i: Int) = s.args.lift(i).map(_.asInstanceOf[String])
    def fields(c: Column, names: String*) =
      names.foldLeft(df)((d, f) => d.withColumn(f, c.getField(f)))
    val v = col("value")
    s.name match {
      case "tlag" => df.withColumn("value", tlag(v, n(0).toInt))
      case "tlead" => df.withColumn("value", tlead(v, n(0).toInt))
      case "delta" => df.withColumn("value", delta(v, n(0).toInt))
      case "moving_average" => df.withColumn("value", movingAverage(v, n(0).toInt))
      case "moving_sum" => df.withColumn("value", movingSum(v, n(0).toInt))
      case "rollmax" => df.withColumn("value", rollmax(v, n(0).toInt))
      case "mean" => df.withColumn("value", mean(v))
      case "demean" => df.withColumn("value", demean(v))
      case "cweq" =>
        cweq(df, "value", n(0), nOpt(1).map(_.toInt), out = "__cw")
          .withColumn("value", col("__cw").cast("double")).drop("__cw")
      case "time_since" =>
        timeSince(df, "value", nOpt(0).getOrElse(0.0), nOpt(1).map(_.toInt), out = "__ts")
          .withColumn("value", col("__ts").cast("double")).drop("__ts")
      case "tick_time_since" =>
        val tis = timeSince(df, "value", 0.0, out = "__ts")
          .withColumn("__ts", col("__ts").cast("double"))
        tis.withColumn("value", tickTimeSince(col("value"), col("__ts"))).drop("__ts")
      case "winsorize" => df.withColumn("value", winsorize(v, n(0), n(1)))
      case "robust_scale" => df.withColumn("value", robustScale(v))
      case "ewma" => df.withColumn("value", ewma(v, n(0), n(1).toInt))
      case "cusum" => fields(cusumFixed(Panel.fix9(v), nOpt(0).getOrElse(3.0)), "cusum", "breach")
      case "decompose" => fields(decompose(v, n(0).toInt, n(1).toInt), "trend", "seasonal", "residual")
      case "trend" => fields(trendFit(v), "slope", "fitted", "detrended")
      case "rolling_corr" => df.withColumn("rcorr", rollingCorr(v, col("value2"), n(0).toInt))
      case "onset_possible" => df.withColumn("value", onsetPossible(v, n(0).toInt).cast("double"))
      case "onset" => df.withColumn("value", onset(v, n(0).toInt).cast("double"))
      case "temporal_entropy" => df.withColumn("value", temporalEntropy(v, n(0).toInt, n(1)))
      case "tlags3d" => tlags(df, "value", s.args.indices.map(n(_).toInt))
      case "fill" => fill(df, "value", str(0).getOrElse("both"), str(1), "__f")
        .withColumn("value", col("__f")).drop("__f")
      case "extrapolate" => extrapolate(df, "value", str(0).getOrElse("both"), str(1), "__f")
        .withColumn("value", col("__f")).drop("__f")
      case _ => Registry.transforms(s.name)(df, s.args)
    }
  }

  /** A panel pipeline spec, every scan step in its window form. */
  def pipeline(df: DataFrame, json: String): DataFrame =
    Registry.parse(json).foldLeft(df)(step)
}
