package graft.streaming

import graft.relational.Funnel
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming conversion funnel — the incremental twin of
  * [[graft.relational.Funnel]]: per-user state is the stage-time
  * vector (first completion of each step under the strictly-after
  * gate), advanced event by event as micro-batches arrive. A user's
  * funnel can take days to convert, so the monitoring use case is
  * inherently streaming; state is k longs per ACTIVE user — bounded
  * by the audience, not the event history.
  *
  * Equivalence to the batch operator: both run the one funnel
  * recurrence, [[graft.relational.Funnel.Position]], over a user's
  * events in ascending event-time — the batch kernel over the user's
  * whole history, this state machine over each micro-batch in turn,
  * resuming from the stored stage times — so a batch replay matches the
  * batch funnel row for row and one oracle pins both. Feed in-order
  * per-user micro-batches (the AsofStream watermark-replay discipline
  * applies upstream for out-of-order logs). A null-time event advances
  * no stage and is dropped on entry; the null user is a group of its
  * own (hence the boxed user id) and reaches the first stage at most.
  *
  * Emission: one row per user per micro-batch IN WHICH the user's
  * stage vector advanced (append-mode-friendly; the latest row per
  * user is the current funnel position).
  */
object FunnelStream {

  case class EventRow(user_id: java.lang.Long, t: Long, step_idx: Int)
  case class FunnelState(times: Seq[Option[Long]])
  case class FunnelOut(user_id: java.lang.Long, reached: Int, times: Seq[Option[Long]])

  def updateGroup(nSteps: Int)(
      user: java.lang.Long, rows: Iterator[EventRow],
      state: GroupState[FunnelState]): Iterator[FunnelOut] = {
    val pos = new Funnel.Position(nSteps, user == null, None)
    // the stored times are a valid position: replaying them restores it
    state.getOption.foreach(_.times.flatten.zipWithIndex.foreach {
      case (t, i) => pos.advance(i, t)
    })
    var changed = false
    rows.toSeq.sortBy(_.t).foreach(e => changed |= pos.advance(e.step_idx, e.t))
    val times = (0 until nSteps).map(pos.time)
    state.update(FunnelState(times))
    if (changed) Iterator.single(FunnelOut(user, pos.stagesReached, times))
    else Iterator.empty
  }

  /** Batch or streaming: per-user funnel positions. In batch mode every
    * user's full history lands in one group, so a user's times equal its
    * [[graft.relational.Funnel.funnelTimes]] row (a user that reaches no
    * stage emits no row).
    */
  def funnelPositions(events: DataFrame, steps: Seq[String],
                      userCol: String = "user_id",
                      typeCol: String = "event_type",
                      tsCol: String = "ts"): Dataset[FunnelOut] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct.length == steps.length,
      s"funnel steps must be distinct: $steps")
    val spark = events.sparkSession
    import spark.implicits._
    val idx = steps.zipWithIndex
      .foldRight(lit(-1)) { case ((s, i), acc) =>
        when(col(typeCol) === s, lit(i)).otherwise(acc)
      }
    events
      .select(col(userCol).cast("long").as("user_id"),
        unix_micros(col(tsCol)).as("t"), idx.as("step_idx"))
      .filter(col("step_idx") >= 0 && col("t").isNotNull)
      .as[EventRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(updateGroup(steps.length))
  }

  /** The funnel report from the streaming positions — in batch mode
    * identical to [[graft.relational.Funnel.funnel]], so the same
    * DuckDB oracle pins the incremental state machine.
    */
  def funnelReport(events: DataFrame, steps: Seq[String],
                   userCol: String = "user_id",
                   typeCol: String = "event_type",
                   tsCol: String = "ts"): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val pos = funnelPositions(events, steps, userCol, typeCol, tsCol)
    val counts = pos.toDF().agg(
      sum(when(col("reached") >= 1, 1L).otherwise(0L)).as("c_1"),
      steps.indices.drop(1).map(i =>
        sum(when(col("reached") >= i + 1, 1L).otherwise(0L))
          .as(s"c_${i + 1}")): _*)
    counts.select(explode(array(steps.zipWithIndex.map { case (s, i) =>
        struct(lit(i + 1).as("stage"), lit(s).as("step"),
          coalesce(col(s"c_${i + 1}"), lit(0L)).as("n_users"))
      }: _*)).as("f"))
      .select(col("f.stage").as("stage"), col("f.step").as("step"),
        col("f.n_users").as("n_users"))
  }
}
