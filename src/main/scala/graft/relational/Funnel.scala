package graft.relational

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Ordered conversion funnel over an event stream: step i counts only
  * when it happens STRICTLY after the user's first completion of step
  * i−1 (the standard product-analytics funnel — a purchase logged
  * before the first view does not convert that view).
  *
  * Plan shape: ONE pass over each user's events. The stream is read
  * once and filtered to the funnel's steps; one user-keyed exchange and
  * one sort by time feed a sorted grouped map
  * (`groupBy(user).as[Row, Row].flatMapSortedGroups(t)`, the
  * [[graft.ops.UnitScan]] operator) that walks each user's events in
  * time order through the funnel recurrence ([[Position]]). Per-user
  * state is k longs and the sort spills, so a user's history is never
  * buffered in the heap; nothing after the map is larger than |users|.
  * The streaming funnel ([[graft.streaming.FunnelStream]]) runs the
  * same recurrence per micro-batch.
  */
object Funnel {

  /** One user's funnel position — the funnel recurrence. Fed the user's
    * events in ascending time, [[advance]] sets stage i+1 at the first
    * step-(i+1) event strictly after stage i's time (and at most
    * `gapMicros` after it, when a gap is given). Stages are reached in
    * order and each once, so that event is
    * `min {t : type = step_{i+1}, t > t_i [, t <= t_i + gap]}`, the batch
    * definition: the first qualifying event in time order is the least,
    * and an event that ties stage i's time never passes the strict gate,
    * whatever the order among equal times. The null user reaches the
    * first stage at most: the stage-to-stage rule is an equality on the
    * user, which a null key never meets.
    */
  private[graft] final class Position(k: Int, nullUser: Boolean, gapMicros: Option[Long]) {
    private val times = new Array[Long](k)
    private val last = if (nullUser) 1 else k
    /** Stages reached: times(0 until reached) are set. */
    private var reached = 0

    def stagesReached: Int = reached

    /** Stage i's time (0-based), None while unreached. */
    def time(i: Int): Option[Long] = if (i < reached) Some(times(i)) else None

    /** Feeds one event — its step index (0-based) and time; returns
      * whether a stage advanced.
      */
    def advance(step: Int, t: Long): Boolean =
      if (step != reached || reached == last) false
      else if (reached > 0 && (t <= times(reached - 1) ||
          gapMicros.exists(g => t > times(reached - 1) + g))) false
      else { times(reached) = t; reached += 1; true }
  }

  /** Per-user funnel stage times: (user, t_1 .. t_k) in epoch micros,
    * t_i null once the funnel stalls (strictly-after gate unmet). A
    * user has a row when it has a step-1 event (t_1 is null when every
    * such event's time is null); a null-time event advances no stage.
    */
  def funnelTimes(events: DataFrame, steps: Seq[String],
                  userCol: String = "user_id",
                  typeCol: String = "event_type",
                  tsCol: String = "ts",
                  maxGapSec: Option[Long] = None): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct.length == steps.length,
      s"funnel steps must be distinct: $steps")
    require(maxGapSec.forall(_ > 0), "maxGapSec must be positive")
    val k = steps.length
    val gapMicros = maxGapSec.map(_ * 1000000L)
    val stepIdx = steps.indices.tail.foldLeft(when(col(typeCol) === steps.head, 0)) {
      (c, i) => c.when(col(typeCol) === steps(i), i)
    }
    val base = events.filter(col(typeCol).isin(steps: _*))
      .select(col(userCol), unix_micros(col(tsCol)).as("__t"), stepIdx.as("__step"))
    val schema = base.schema
    val outSchema = StructType(schema.head +:
      (1 to k).map(i => StructField(s"t_$i", LongType)))
    base.groupBy(col(userCol))
      .as(Encoders.row(StructType(Seq(schema.head))), Encoders.row(schema))
      .flatMapSortedGroups(col("__t")) { (user: Row, rows: Iterator[Row]) =>
        val pos = new Position(k, user.isNullAt(0), gapMicros)
        var first = false
        rows.foreach { r =>
          val step = r.getInt(2)
          first ||= step == 0
          if (!r.isNullAt(1)) pos.advance(step, r.getLong(1))
        }
        if (!first) Iterator.empty
        else Iterator.single(Row.fromSeq(
          user.get(0) +: (0 until k).map(pos.time(_).getOrElse(null))))
      }(Encoders.row(outSchema))
  }

  /** The funnel report: one row per step — (stage, step, n_users) with
    * n_users the count of users whose funnel reached that step.
    */
  def funnel(events: DataFrame, steps: Seq[String],
             userCol: String = "user_id",
             typeCol: String = "event_type",
             tsCol: String = "ts",
             maxGapSec: Option[Long] = None): DataFrame =
    report(funnelTimes(events, steps, userCol, typeCol, tsCol, maxGapSec), steps)

  /** The funnel report of per-user stage times in [[funnelTimes]]' shape. */
  private[graft] def report(times: DataFrame, steps: Seq[String]): DataFrame = {
    val counts = times.agg(
      count(col("t_1")).as("c_1"),
      steps.indices.drop(1).map(i =>
        count(col(s"t_${i + 1}")).as(s"c_${i + 1}")): _*)
    counts.select(explode(array(steps.zipWithIndex.map { case (s, i) =>
        struct(lit(i + 1).as("stage"), lit(s).as("step"),
          col(s"c_${i + 1}").as("n_users"))
      }: _*)).as("f"))
      .select(col("f.stage").as("stage"), col("f.step").as("step"),
        col("f.n_users").as("n_users"))
  }

  /** Cohort retention matrix: users bucket into the period of their
    * first event (cohort); each (cohort, offset) cell counts the
    * users of that cohort active `offset` periods later — the classic
    * engagement triangle. Period arithmetic is integer `div` over
    * epoch micros (float division of ~1e15 micros drifts at period
    * boundaries).
    *
    * Shape: one user-keyed min-aggregation (first period), one
    * user-keyed join back, one (cohort, offset, user) distinct and
    * one count — all keyed shuffles, output ≤ periods² rows however
    * large the stream.
    *
    * @return (cohort_period, period_offset, n_users)
    */
  def retention(events: DataFrame, periodSec: Long = 7L * 86400L,
                userCol: String = "user_id",
                tsCol: String = "ts"): DataFrame = {
    require(periodSec > 0, s"periodSec must be positive, got $periodSec")
    val perMicros = periodSec * 1000000L
    val base = events.select(col(userCol),
      expr(s"unix_micros(`${tsCol.replace("`", "``")}`) div ${perMicros}L")
        .as("__w"))
    val cohorts = base.groupBy(col(userCol))
      .agg(min(col("__w")).as("cohort_period"))
    base.join(cohorts, userCol)
      .select(col("cohort_period"),
        (col("__w") - col("cohort_period")).as("period_offset"),
        col(userCol))
      .distinct()
      .groupBy(col("cohort_period"), col("period_offset"))
      .agg(count(lit(1)).as("n_users"))
  }
}
