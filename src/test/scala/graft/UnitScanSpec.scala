package graft

import graft.ops.UnitScan
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** [[UnitScan]] against the window formulation ([[WindowReference]]),
  * bit for bit: doubles by `doubleToLongBits`, everything else exactly.
  * The panels have several units, nulls, NaN, ±0.0 and ±Inf, units with
  * one row and gaps in the months.
  */
class UnitScanSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._
  private val T = Panel.TimeCol
  private val U = Panel.UnitCol

  private val specials = Array(Double.NaN, 0.0, -0.0, Double.PositiveInfinity,
    Double.NegativeInfinity, 1.0, -2.5)

  /** A seeded random panel: 12 units over months 1..30 with gaps; unit 0
    * has one row, unit 1 one null row, unit 2 starts on month 1 with a
    * zero. Values: 15% null, 35% zeros (runs for cweq), 15% specials, the
    * rest Gaussian. Shuffled over three partitions.
    */
  private def randomPanel(seed: Long): DataFrame = {
    val rnd = new scala.util.Random(seed)
    def value(): Option[Double] = {
      val r = rnd.nextDouble()
      if (r < 0.15) None
      else if (r < 0.50) Some(0.0)
      else if (r < 0.65) Some(specials(rnd.nextInt(specials.length)))
      else Some(rnd.nextGaussian() * 10.0)
    }
    val rows = Seq((7L, 0L, Some(3.0)), (4L, 1L, None), (1L, 2L, Some(0.0))) ++
      (for {
        u <- 2L until 12L
        m <- 2L to 30L if rnd.nextDouble() < 0.75
      } yield (m, u, value()))
    rnd.shuffle(rows).toDF(T, U, "value").repartition(3)
  }

  /** Rows as sorted strings, doubles by their bits. */
  private def bits(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToLongBits(d).toHexString
      case x => String.valueOf(x)
    }.mkString("|")).toSeq.sorted

  private def assertSame(name: String, got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema.map(f => (f.name, f.dataType)) == want.schema.map(f => (f.name, f.dataType)),
      s"$name: schema ${got.schema.simpleString} vs ${want.schema.simpleString}")
    val (g, w) = (bits(got), bits(want))
    assert(g.nonEmpty || w.isEmpty, name)
    assert(g == w, s"$name: ${g.diff(w).take(3)} vs ${w.diff(g).take(3)}")
  }

  private def step(t: String, args: Any*): String = {
    val a = args.map { case s: String => "\"" + s + "\""; case x => x.toString }
    s"""{"type":"$t","args":[${a.mkString(",")}]}"""
  }
  private def spec(steps: String*): String = steps.mkString("[", ",", "]")

  private val single = Seq(
    step("tlag", 1), step("tlag", 3), step("tlead", 1), step("tlead", 2),
    step("delta", 1), step("delta", 2), step("moving_average", 1),
    step("moving_average", 3), step("moving_average", 12), step("moving_sum", 1),
    step("moving_sum", 5), step("rollmax", 1), step("rollmax", 4), step("rollmax", 24),
    step("cweq", 0), step("cweq", 1), step("time_since", 0), step("time_since", 1),
    step("tick_time_since"))

  test("every scan step alone equals its window, bit for bit") {
    Seq(1L, 2L, 3L).foreach { seed =>
      val p = randomPanel(seed).cache()
      single.foreach { s =>
        val st = Registry.parse(spec(s)).head
        assertSame(s"seed $seed $s", Registry.apply(p, st), WindowReference.step(p, st))
      }
      p.unpersist()
    }
  }

  test("an int or long value is read as double; a non-numeric value is rejected") {
    val finite = randomPanel(10L).withColumn("value",
      when(col("value").isNaN || abs(col("value")) === Double.PositiveInfinity, lit(null))
        .otherwise(col("value")))
    Seq("int", "bigint").foreach { t =>
      val p = finite.withColumn("value", col("value").cast(t)).cache()
      (single :+ step("mean") :+ step("demean")).foreach { s =>
        val st = Registry.parse(spec(s)).head
        assertSame(s"$t $s", Registry.apply(p, st),
          WindowReference.step(p, st).withColumn("value", col("value").cast("double")))
      }
      val sp = chains.head._2
      assertSame(s"$t ${chains.head._1}", Registry.run(p, sp), WindowReference.pipeline(p, sp))
      p.unpersist()
    }
    val e = intercept[IllegalArgumentException](Registry.apply(
      finite.withColumn("value", col("value").cast("string")), Registry.Step("tlag", Seq(1.0))))
    assert(e.getMessage.contains("numeric `value`"), e.getMessage)
  }

  test("cweq on NaN and the direct scan API equal the window form") {
    val p = randomPanel(4L)
    assertSame("cweq NaN",
      UnitScan(p, Seq(UnitScan.Cweq(Double.NaN))).withColumn("value", col("value").cast("int")),
      WindowReference.cweq(p, "value", Double.NaN, out = "__c")
        .withColumn("value", col("__c")).drop("__c"))
    assertSame("tlag(2) then tlead(2)",
      UnitScan(p, Seq(UnitScan.Lag(2), UnitScan.Lead(2))),
      p.withColumn("value", WindowReference.tlag(col("value"), 2))
        .withColumn("value", WindowReference.tlead(col("value"), 2)))
  }

  private val chains = Seq(
    "panel_batch temporal chain" -> spec(step("replace_na", 0), step("tlag", 1),
      step("moving_average", 12), step("delta", 1), step("time_since", 0), step("decay", 12)),
    "wire time_since_decay" -> spec(step("replace_na", 0), step("delta", 1),
      step("time_since", 0), step("decay", 12)),
    "wire moving_average" -> spec(step("replace_na", 0), step("moving_average", 3)),
    "lag, moving average, demean" -> spec(step("tlag", 1), step("moving_average", 3),
      step("demean")),
    "a row-local step between two scan runs (two scans)" -> spec(step("tlag", 1), step("ge", 0),
      step("moving_sum", 3), step("cweq", 1), step("rollmax", 2)),
    "a filtering step mid-run" -> spec(step("time_since", 0), step("tlag", 1),
      step("tick_time_since"), step("moving_average", 2)))

  test("pipelines of scan and row-local steps equal their window form") {
    Seq(5L, 6L).foreach { seed =>
      val p = randomPanel(seed).cache()
      chains.foreach { case (name, sp) =>
        assertSame(s"seed $seed $name", Registry.run(p, sp), WindowReference.pipeline(p, sp))
      }
      p.unpersist()
    }
  }

  /** Unit 10 keeps month 1 (the panel's first) with a zero; unit 11's
    * first kept month is 2 with a zero; unit 12 starts on a null at
    * month 1, then zeros; unit 13 starts on month 1 with a non-zero.
    */
  private lazy val seedPanel: DataFrame = Seq(
    (1L, 10L, Some(0.0)), (2L, 10L, Some(0.0)), (3L, 10L, Some(4.0)), (4L, 10L, Some(0.0)),
    (2L, 11L, Some(0.0)), (3L, 11L, Some(0.0)), (4L, 11L, Some(0.0)),
    (1L, 12L, None), (2L, 12L, Some(0.0)), (3L, 12L, Some(0.0)), (4L, 12L, Some(1.0)),
    (1L, 13L, Some(2.0)), (2L, 13L, Some(0.0)), (3L, 13L, Some(0.0)))
    .toDF(T, U, "value")

  test("seeded cweq and time_since: on and off the panel's first kept month") {
    val cw = Registry.apply(seedPanel, Registry.parse(spec(step("cweq", 0, 5))).head)
    // unit 10's run starts on month 1, the panel's first: 5, 6, 0, 1;
    // unit 11's starts on month 2: no seed
    assert(cw.filter(col(U) === 10L).orderBy(T).collect().map(_.getDouble(2)).toSeq ==
      Seq(5.0, 6.0, 0.0, 1.0))
    assert(cw.filter(col(U) === 11L).orderBy(T).collect().map(_.getDouble(2)).toSeq ==
      Seq(1.0, 2.0, 3.0))
    val seeded = Seq(step("cweq", 0, 5), step("cweq", 0, 1), step("cweq", 2, 7),
      step("time_since", 0, 5), step("time_since", 0, 0))
    val panels = Seq("seed panel" -> seedPanel, "random panel" -> randomPanel(7L))
    for ((pn, p) <- panels; s <- seeded) {
      val st = Registry.parse(spec(s)).head
      assertSame(s"$pn $s", Registry.apply(p, st), WindowReference.step(p, st))
    }
    // a seeded step mid-pipeline ends its scan; the rest scans again
    val sp = spec(step("time_since", 0, 5), step("tlag", 1), step("decay", 12))
    for ((pn, p) <- panels)
      assertSame(s"$pn $sp", Registry.run(p, sp), WindowReference.pipeline(p, sp))
  }

  test("tlag next to ewma gives the window rows at one unit_id exchange") {
    val p = randomPanel(8L)
    val sp = spec(step("tlag", 1), step("ewma", 0.5, 3))
    val out = Registry.run(p, sp)
    assertSame(sp, out, WindowReference.pipeline(p, sp))
    val plan = out.queryExecution.executedPlan
    // the unit_id exchange (the random panel adds a round-robin one; a
    // width of 1 plans the unit_id exchange as a single partition):
    // ewma is a scan step, so the spec is one scan
    val byUnit = collectWithSubqueries(plan) {
      case e: ShuffleExchangeExec if !e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] => e
    }
    assert(byUnit.size == 1, plan)
  }

  /** [[randomPanel]] with a `value2` column: 10% null, some specials. */
  private def withValue2(p: DataFrame): DataFrame = {
    val h = pmod(col(T) * 7 + col(U) * 13, lit(29))
    p.withColumn("value2", when(h < 3, lit(null).cast("double")).when(h === 3, Double.NaN)
      .when(h === 4, -0.0).otherwise(sin(col(T) * 0.7 + col(U)) * 4.0 + col(T) * 0.25))
  }

  /** [[randomPanel]] with every NaN and ±Inf made null: `cusum` fixes its
    * input to a long, which a non-finite value does not have.
    */
  private def finitePanel(seed: Long): DataFrame = randomPanel(seed).withColumn("value",
    when(col("value").isNaN || abs(col("value")) === Double.PositiveInfinity, lit(null))
      .otherwise(col("value")))

  /** The steps that were Spark windows before they joined the scan. The
    * windows of `trend` and `decompose` sum a unit in arrival order and
    * `percentile` sorts −0.0 and 0.0 as one key, so their bits are not
    * guaranteed; on these panels (month-ordered arrival) they match too.
    */
  private val moved = Seq(
    step("ewma", 0.5, 3), step("ewma", 0.3, 6), step("ewma", 0.9, 1),
    step("rolling_corr", 2), step("rolling_corr", 6),
    step("onset_possible", 1), step("onset_possible", 12), step("onset", 3), step("onset", 12),
    step("temporal_entropy", 4, 1), step("temporal_entropy", 12, 0),
    step("tlags3d", 1, 2, 12), step("tlags3d", 3, 3),
    step("fill"), step("fill", "forward"), step("fill", "backward"), step("fill", "both", "inside"),
    step("fill", "backward", "inside"), step("fill", "both", "outside"),
    step("extrapolate"), step("extrapolate", "forward"), step("extrapolate", "backward"),
    step("extrapolate", "both", "inside"), step("extrapolate", "both", "outside"),
    step("extrapolate", "forward", "outside"), step("winsorize", 0.05, 0.95),
    step("winsorize", 0, 1), step("winsorize", 0.25, 0.5), step("robust_scale"),
    step("decompose", 3, 1), step("decompose", 7, 2), step("trend"))

  private def nullability(df: DataFrame) = df.schema.map(f => (f.name, f.dataType, f.nullable))

  test("every step that was a window equals its window form, with its nullability") {
    Seq(11L, 12L, 13L).foreach { seed =>
      val p = withValue2(randomPanel(seed)).cache()
      val f = finitePanel(seed).cache()
      def check(s: String, in: DataFrame): Unit = {
        val st = Registry.parse(spec(s)).head
        val (got, want) = (Registry.apply(in, st), WindowReference.step(in, st))
        assert(nullability(got) == nullability(want), s"seed $seed $s: ${got.schema} vs ${want.schema}")
        assertSame(s"seed $seed $s", got, want)
      }
      moved.foreach(check(_, p))
      Seq(step("cusum"), step("cusum", 1.7), step("cusum", 0.5)).foreach(check(_, f))
      p.unpersist(); f.unpersist()
    }
  }

  test("pipelines that mix the moved steps with the others equal their window form") {
    val mixes = Seq(
      spec(step("replace_na", 0), step("tlag", 1), step("ewma", 0.5, 3), step("onset", 6),
        step("tlags3d", 1, 2)),
      // the tlag columns follow the rows cweq drops
      spec(step("tlags3d", 1, 2), step("cweq", 0), step("fill"), step("tlags3d", 2, 5)),
      spec(step("time_since", 0), step("temporal_entropy", 3, 1), step("extrapolate", "forward"),
        step("rolling_corr", 3), step("moving_sum", 2)),
      // a cusum after a step that rewrote value fixes the rewritten series
      spec(step("cusum"), step("tlag", 1), step("cusum", 2), step("onset_possible", 4)))
    Seq(14L, 15L).foreach { seed =>
      val p = withValue2(finitePanel(seed)).cache()
      mixes.foreach { sp =>
        val got = Registry.run(p, sp)
        val want = WindowReference.pipeline(p, sp)
        assert(nullability(got) == nullability(want), s"seed $seed $sp: ${got.schema} vs ${want.schema}")
        assertSame(s"seed $seed $sp", got, want)
      }
      p.unpersist()
    }
  }

  test("cusum fixes NaN, ±Inf, −0.0 and out-of-range values in the scan as Spark's round " +
      "and long cast do, under ANSI and legacy casts") {
    val edges = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, 1e12, -1e12,
      9.3e9, 9.2233720368547758e9, -0.0, 2.5)
    /** The rows, or the error's root cause: class, condition, first line. */
    def outcome(df: => DataFrame): Either[String, Seq[String]] =
      try Right(bits(df)) catch {
        case e: Exception =>
          var c: Throwable = e
          while (c.getCause != null && !c.isInstanceOf[ArithmeticException]) c = c.getCause
          val cond = c match { case t: org.apache.spark.SparkThrowable => t.getCondition; case _ => "" }
          Left(s"${c.getClass.getName} $cond ${String.valueOf(c.getMessage).linesIterator.next()}")
      }
    for (ansi <- Seq(true, false); x <- edges) {
      val s = spark.newSession()
      s.conf.set("spark.sql.ansi.enabled", ansi.toString)
      val p = s.createDataFrame(Seq((1L, 1L, Some(1.0)), (2L, 1L, Some(x)), (3L, 1L, Some(3.0)),
        (4L, 1L, None), (5L, 1L, Some(0.5)), (1L, 2L, Some(4.0)), (2L, 2L, Some(1.0))))
        .toDF(T, U, "value")
      def projected(in: DataFrame, h: Double) = UnitScan(in.withColumn("__v9",
        Panel.fix9(col("value"))), Seq(UnitScan.Cusum(h, "__v9"))).drop("__v9")
      val one = outcome(Registry.run(p, spec(step("cusum"))))
      assert(one == outcome(projected(p, 3.0)), s"ansi=$ansi x=$x cusum")
      val two = outcome(Registry.run(p, spec(step("tlag", 1), step("cusum", 2))))
      assert(two == outcome(projected(UnitScan(p, Seq(UnitScan.Lag(1))), 2.0)),
        s"ansi=$ansi x=$x tlag 1, cusum")
      if (x == 2.5) assert(one.isRight && two.isRight)
      if (ansi && x.isNaN) assert(one.left.exists(_.contains("CAST_OVERFLOW")), one)
    }
  }

  test("the direct queries' output columns keep their types") {
    val p = randomPanel(9L)
    val cw = UnitScan(p, Seq(UnitScan.Cweq(0.0))).select(col("value").cast("int").as("cweq"))
    val want = WindowReference.cweq(p, "value", 0.0).select("cweq")
    assert(cw.schema == want.schema)
    assertSame("cweq as int", cw, want)
    // the flags and the multi-lag are never null, as their windows were not
    Seq("q_onset" -> Seq("onset"), "q_onset_possible" -> Seq("onset_possible"),
        "q_tlags3d" -> Seq("tlag_1", "tlag_3", "tlag_6")).foreach { case (q, cols) =>
      val schema = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001").schema
      cols.foreach(c => assert(!schema(c).nullable, s"$q: ${schema.simpleString}"))
    }
  }
}
