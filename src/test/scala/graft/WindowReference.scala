package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The window formulation of the temporal steps that run as
  * [[graft.ops.UnitScan]]: each step one Spark window over
  * `Panel.w` (partition by unit, order by month). This is the semantics
  * the scan reproduces bit for bit, kept here as the reference the
  * parity tests compare against (the oracle SQL is the other one).
  *
  * Reference: views_2.py (lag/lead/delta/moving/cweq/tick).
  */
object WindowReference {
  private def w = Panel.w
  private def trailing(n: Int) = Panel.trailing(n)
  private def cum = Panel.cumulative

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

  /** One wire step of a panel pipeline in its window form (`value`
    * replaced); other steps go through the registry.
    */
  def step(df: DataFrame, s: Registry.Step): DataFrame = {
    def n(i: Int) = s.args(i).asInstanceOf[Double]
    def nOpt(i: Int) = s.args.lift(i).map(_.asInstanceOf[Double])
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
      case _ => Registry.transforms(s.name)(df, s.args)
    }
  }

  /** A panel pipeline spec, every scan step in its window form. */
  def pipeline(df: DataFrame, json: String): DataFrame =
    Registry.parse(json).foldLeft(df)(step)
}
