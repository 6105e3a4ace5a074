package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The relational formulation of [[graft.relational.Funnel]]: one
  * filtered min-aggregation per step over the raw events, each stage's
  * per-user table left-joined on the user into the next stage's
  * aggregation. This is the semantics the one-pass kernel reproduces
  * row for row, kept here as the reference the parity tests compare
  * against (the oracle SQL is the other one). Its joins fix two edge
  * cases: the null user reaches the first stage at most (an equi-join
  * never matches a null key), and a user whose step-1 events all have a
  * null time still has a row, with t_1 null.
  */
object FunnelReference {

  /** (user, t_1 .. t_k) in epoch micros: t_1 the user's first step-1
    * time, t_{i+1} = min {t : type = step_{i+1}, t > t_i [, t <= t_i + gap]}.
    */
  def funnelTimes(events: DataFrame, steps: Seq[String],
                  userCol: String = "user_id",
                  typeCol: String = "event_type",
                  tsCol: String = "ts",
                  maxGapSec: Option[Long] = None): DataFrame = {
    val base = events.select(col(userCol), col(typeCol),
      unix_micros(col(tsCol)).as("__t"))
    val first = base.filter(col(typeCol) === steps.head)
      .groupBy(col(userCol)).agg(min(col("__t")).as("t_1"))
    steps.zipWithIndex.drop(1).foldLeft(first) { case (acc, (s, i)) =>
      val prior = (1 to i).map(j => col(s"t_$j"))
      val gate = maxGapSec match {
        case None => col("__t") > col(s"t_$i")
        case Some(g) => col("__t") > col(s"t_$i") &&
          col("__t") <= col(s"t_$i") + g * 1000000L
      }
      acc.join(base.filter(col(typeCol) === s).drop(typeCol),
          Seq(userCol), "left")
        .groupBy((col(userCol) +: prior): _*)
        .agg(min(when(gate, col("__t"))).as(s"t_${i + 1}"))
    }
  }

  /** The funnel report over [[funnelTimes]]: (stage, step, n_users). */
  def funnel(events: DataFrame, steps: Seq[String],
             maxGapSec: Option[Long] = None): DataFrame =
    graft.relational.Funnel.report(funnelTimes(events, steps, maxGapSec = maxGapSec), steps)
}
