package graft

import graft.relational.Funnel
import graft.streaming.FunnelStream
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

/** The one-pass funnel kernel ([[Funnel.funnelTimes]]) and the streaming
  * funnel against the relational formulation ([[FunnelReference]]):
  * schemas and rows on seeded random event streams with nulls, ties and
  * gap-boundary events, the edge cases the relational joins fix, and the
  * plan shape and job budget of the wire-format funnel.
  */
class FunnelSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val steps = Seq("view", "click", "purchase")
  private val gapSec = 3L

  private def events(rows: Seq[(Option[Long], Option[Long], Option[String])]): DataFrame =
    rows.toDF("user_id", "sec", "event_type")
      .withColumn("ts", timestamp_seconds(col("sec")))

  /** A seeded stream: users 1..12 and the null user, seconds 0..14 or
    * null, the funnel's steps, another type or null. The narrow time
    * range makes repeated step events, equal times across steps and
    * events exactly `gapSec` after a stage common.
    */
  private def stream(seed: Long): Seq[(Option[Long], Option[Long], Option[String])] = {
    val rnd = new scala.util.Random(seed)
    val types = steps.map(Option(_)) ++ Seq(Some("other"), None)
    Seq.fill(240) {
      val u = rnd.nextInt(13)
      (if (u == 0) None else Some(u.toLong),
        if (rnd.nextInt(12) == 0) None else Some(rnd.nextInt(15).toLong),
        types(rnd.nextInt(types.length)))
    }
  }

  /** Rows as sorted strings. */
  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def assertSame(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.schema == want.schema, s"$what: ${got.schema} vs ${want.schema}")
    assert(rowsOf(got) == rowsOf(want), what)
  }

  test("the one-pass funnel equals the relational formulation on random streams: " +
      "funnelTimes, funnel, funnel_windowed (direct and on the wire), the streaming report") {
    (1L to 4L).foreach { seed =>
      val rows = stream(seed)
      val ev = events(rows)
      val seen = rows.groupBy(r => (r._1, r._3)).filter(_._2.size > 1)
      assert(rows.exists(_._1.isEmpty) && rows.exists(_._2.isEmpty) && rows.exists(_._3.isEmpty) &&
        seen.keys.exists(k => k._1.nonEmpty && k._2.contains("click")),
        s"seed $seed: the stream must hold null users, times, types and repeated steps")
      Seq(None, Some(gapSec)).foreach { gap =>
        val want = FunnelReference.funnelTimes(ev, steps, maxGapSec = gap)
        assertSame(Funnel.funnelTimes(ev, steps, maxGapSec = gap), want,
          s"seed $seed, gap $gap: funnelTimes")
        // stage i+1 events at exactly t_i (never counted) and at t_i + gap
        val times = want.collect().filter(!_.isNullAt(0))
          .map(r => r.getLong(0) -> (1 to 3).map(i => Option(r.get(i)).map(_.asInstanceOf[Long])))
        def at(user: Long, step: String, t: Long) =
          rows.contains((Some(user), Some(t / 1000000L), Some(step)))
        assert(times.exists { case (u, ts) => ts(0).exists(at(u, "click", _)) },
          s"seed $seed: no click at exactly t_1")
        gap.foreach(g => assert(times.exists { case (u, ts) =>
          ts(0).exists(t => at(u, "click", t + g * 1000000L))
        }, s"seed $seed: no click at t_1 + gap"))
        val report = FunnelReference.funnel(ev, steps, gap)
        assertSame(Funnel.funnel(ev, steps, maxGapSec = gap), report,
          s"seed $seed, gap $gap: funnel")
        val wire = gap match {
          case None => """[{"type":"funnel","args":["view","click","purchase"]}]"""
          case Some(g) => s"""[{"type":"funnel_windowed","args":[$g,"view","click","purchase"]}]"""
        }
        assertSame(Registry.runEvents(ev, wire), report, s"seed $seed, gap $gap: $wire")
        if (gap.isEmpty)
          assertSame(FunnelStream.funnelReport(ev, steps), report, s"seed $seed: funnelReport")
      }
    }
  }

  test("funnel edge cases: the null user, null times, ties at t_i, the inclusive gap") {
    val ev = events(Seq(
      // the null user reaches the first stage only
      (None, Some(1L), Some("view")), (None, Some(2L), Some("click")),
      // a null-time click never advances; the later one does
      (Some(1L), Some(1L), Some("view")), (Some(1L), None, Some("click")),
      (Some(1L), Some(4L), Some("click")),
      // every view's time null: a row with t_1 null
      (Some(2L), None, Some("view")), (Some(2L), Some(3L), Some("click")),
      // a click at exactly t_1 does not count, one after it does
      (Some(3L), Some(5L), Some("view")), (Some(3L), Some(5L), Some("click")),
      (Some(3L), Some(9L), Some("click")),
      // gap 3: a click at exactly t_1 + 3 counts, at t_1 + 4 it does not
      (Some(4L), Some(0L), Some("view")), (Some(4L), Some(3L), Some("click")),
      (Some(5L), Some(0L), Some("view")), (Some(5L), Some(4L), Some("click")),
      // no view: no row
      (Some(6L), Some(1L), Some("click")), (Some(6L), Some(2L), None)))
    val s = 1000000L
    def times(df: DataFrame): Map[Option[Long], Seq[Option[Long]]] =
      df.collect().map(r => Option(r.get(0)).map(_.asInstanceOf[Long]) ->
        (1 to 2).map(i => Option(r.get(i)).map(_.asInstanceOf[Long]))).toMap
    val two = Seq("view", "click")
    val want = Map(
      None -> Seq(Some(1 * s), None),
      Some(1L) -> Seq(Some(1 * s), Some(4 * s)),
      Some(2L) -> Seq(None, None),
      Some(3L) -> Seq(Some(5 * s), Some(9 * s)),
      Some(4L) -> Seq(Some(0L), Some(3 * s)),
      Some(5L) -> Seq(Some(0L), Some(4 * s)))
    assert(times(FunnelReference.funnelTimes(ev, two)) == want)
    assert(times(Funnel.funnelTimes(ev, two)) == want)
    val windowed = want ++ Map(Some(3L) -> Seq(Some(5 * s), None), Some(5L) -> Seq(Some(0L), None))
    assert(times(FunnelReference.funnelTimes(ev, two, maxGapSec = Some(3L))) == windowed)
    assert(times(Funnel.funnelTimes(ev, two, maxGapSec = Some(3L))) == windowed)
    // the streaming report counts the same users: 5 reach view (user 2's
    // view has no time), 4 reach click (the null user does not)
    assert(FunnelStream.funnelReport(ev, two).collect().map(_.getLong(2)).toSeq == Seq(5L, 4L))
  }

  /** A 4,000-event stream written as parquet, so the plan has a scan. */
  private lazy val eventsPath: String = {
    val rows = (0 until 4000).map { i =>
      val u = (i * 7919L) % 500L
      (u, (i * 37L) % 9000L, steps((i * 13 + (i / 500)) % 3))
    }
    val dir = java.nio.file.Files.createTempDirectory("funnel-spec").toString + "/events"
    rows.toDF("user_id", "sec", "event_type").withColumn("ts", timestamp_seconds(col("sec")))
      .write.parquet(dir)
    dir
  }

  test("the wire funnel scans the events once, exchanges once on user_id, joins " +
      "nothing and runs at most 3 jobs, in the suite and a 200-partition session") {
    // the relational formulation (FunnelReference: a filtered scan per
    // step, a join per step after the first) ran 5 jobs here in the suite
    // session, its plan 3 scans and 2 joins
    val s200 = spark.newSession()
    s200.conf.set("spark.sql.shuffle.partitions", "200")
    Seq("suite" -> spark, "200-partition" -> s200).foreach { case (name, s) =>
      val ev = s.read.parquet(eventsPath)
      var out: Array[Row] = null
      val df = Registry.runEvents(ev, """[{"type":"funnel","args":["view","click","purchase"]}]""")
      val n = jobsOf { out = df.collect() }
      val plan = df.queryExecution.executedPlan
      assert(collectWithSubqueries(plan) { case f: FileSourceScanExec => f }.size == 1,
        s"$name:\n$plan")
      val hashed = collectWithSubqueries(plan) {
        case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] =>
          e.outputPartitioning.asInstanceOf[HashPartitioning].expressions
      }
      assert(hashed.size == 1 && (hashed.head match {
        case Seq(a: AttributeReference) => a.name == "user_id"
        case _ => false
      }), s"$name:\n$plan")
      assert(collectWithSubqueries(plan) { case j: BaseJoinExec => j }.isEmpty, s"$name:\n$plan")
      assert(graft.plans.PlanLint.lint(df).isEmpty, name)
      assert(n <= 3, s"$name: $n jobs")
      assert(out.map(_.getLong(2)).toSeq ==
        FunnelReference.funnel(ev, steps).collect().map(_.getLong(2)).toSeq, name)
    }
  }
}
