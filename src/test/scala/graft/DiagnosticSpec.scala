package graft

import graft.ops.{TemporalOps, UnitScan}
import graft.spatial.{Grid, SpatialStats}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The per-unit diagnostics of [[TemporalOps]] (one `Panel.reduce` each),
  * the rolling median (a scan step) and the per-unit aggregate of
  * `SpatialStats.emergingHotspots` against their SQL formulation
  * ([[DiagnosticReference]]): schemas by names, types and nullability,
  * rows by `doubleToLongBits`, and under ANSI the same error where the
  * SQL formulation raises one. The seeded panels hold nulls, NaN, ±0.0,
  * ±Inf, one-row units, all-null units, a constant unit and a null
  * `unit_id`, and each runs again with int keys.
  */
class DiagnosticSpec extends SparkSpec {
  private val T = Panel.TimeCol
  private val U = Panel.UnitCol

  private val specials = Array(Double.NaN, 0.0, -0.0, Double.PositiveInfinity,
    Double.NegativeInfinity, 1.0, -2.5)

  /** Units 4..13 over months 1..30 with gaps: values 15% null, 20%
    * zeros, 15% specials, 20% small integers (ties), the rest Gaussian.
    * Unit 0 has one row, unit 1 one null row, unit 2 three null rows,
    * unit 3 a constant series, unit 14 the pair −Inf, +Inf, and six rows
    * have a null `unit_id`.
    */
  private def rows(seed: Long): Seq[(java.lang.Long, Long, Option[Double])] = {
    val rnd = new scala.util.Random(seed)
    def value(): Option[Double] = {
      val r = rnd.nextDouble()
      if (r < 0.15) None
      else if (r < 0.35) Some(0.0)
      else if (r < 0.50) Some(specials(rnd.nextInt(specials.length)))
      else if (r < 0.70) Some(rnd.nextInt(4).toDouble)
      else Some(rnd.nextGaussian() * 10.0)
    }
    def unit(u: Long): java.lang.Long = java.lang.Long.valueOf(u)
    val fixed = Seq((unit(0), 7L, Some(3.0)), (unit(1), 4L, None)) ++
      (1L to 3L).map(m => (unit(2), m, None)) ++ (2L to 11L).map(m => (unit(3), m, Some(2.0))) ++
      Seq((unit(14), 1L, Some(Double.NegativeInfinity)), (unit(14), 2L, Some(Double.PositiveInfinity))) ++
      Seq(3L, 5L, 6L, 9L, 10L, 12L).map(m => (null: java.lang.Long, m, value()))
    val random = for (u <- 4L until 14L; m <- 1L to 30L if rnd.nextDouble() < 0.8)
      yield (unit(u), m, value())
    rnd.shuffle(fixed ++ random)
  }

  private def panel(s: SparkSession, seed: Long, finite: Boolean = false,
                    intKeys: Boolean = false): DataFrame = {
    import s.implicits._
    val p = rows(seed).map { case (u, m, v) => (m, u, v) }.toDF(T, U, "value").repartition(3)
    val f = if (!finite) p else p.withColumn("value",
      when(isnan(col("value")) || abs(col("value")) === Double.PositiveInfinity, lit(null))
        .otherwise(col("value")))
    if (!intKeys) f else f.select(col(T).cast("int").as(T), col(U).cast("int").as(U), col("value"))
  }

  private val diagnostics: Seq[(String, DataFrame => DataFrame, DataFrame => DataFrame)] = Seq(
    ("acf 3", TemporalOps.acf(_, "value", 3), DiagnosticReference.acf(_, "value", 3)),
    ("acf 1", TemporalOps.acf(_, "value", 1), DiagnosticReference.acf(_, "value", 1)),
    ("pacf", TemporalOps.pacf(_, "value"), DiagnosticReference.pacf(_, "value")),
    ("forecast 7", TemporalOps.forecastBacktest(_, "value", 7),
      DiagnosticReference.forecastBacktest(_, "value", 7)),
    ("forecast 1", TemporalOps.forecastBacktest(_, "value", 1),
      DiagnosticReference.forecastBacktest(_, "value", 1)),
    ("runs", TemporalOps.runsTest(_, "value"), DiagnosticReference.runsTest(_, "value")),
    ("dominant period", TemporalOps.dominantPeriod(_, "value"),
      DiagnosticReference.dominantPeriod(_, "value")),
    ("seasonal 7 2", TemporalOps.seasonalStrength(_, "value", 7, 2),
      DiagnosticReference.seasonalStrength(_, "value", 7, 2)),
    ("seasonal 3 1", TemporalOps.seasonalStrength(_, "value", 3, 1),
      DiagnosticReference.seasonalStrength(_, "value", 3, 1)),
    ("mann kendall", TemporalOps.mannKendall(_, "value"), DiagnosticReference.mannKendall(_, "value")),
    ("theil sen", TemporalOps.theilSen(_, "value"), DiagnosticReference.theilSen(_, "value")),
    ("changepoint", TemporalOps.changepoint(_, "value"), DiagnosticReference.changepoint(_, "value")),
    ("rolling median 3", UnitScan(_, Seq(UnitScan.RollingMedian(3))),
      p => p.withColumn("value", DiagnosticReference.rollingMedian(col("value"), 3))),
    ("rolling median 7", UnitScan(_, Seq(UnitScan.RollingMedian(7))),
      p => p.withColumn("value", DiagnosticReference.rollingMedian(col("value"), 7))))

  /** The schema (names, types, nullability) and the rows as sorted
    * strings, doubles by their bits; or the error's root cause (class
    * and condition).
    */
  private def outcome(df: => DataFrame): Either[String, (Seq[String], Seq[String])] =
    try {
      val d = df
      Right((d.schema.map(f => s"${f.name} ${f.dataType.simpleString} ${f.nullable}"),
        d.collect().map(_.toSeq.map {
          case x: Double => java.lang.Double.doubleToLongBits(x).toHexString
          case x => String.valueOf(x)
        }.mkString("|")).toSeq.sorted))
    } catch {
      case e: Exception =>
        var c: Throwable = e
        while (c.getCause != null && !c.isInstanceOf[ArithmeticException]) c = c.getCause
        val cond = c match { case t: org.apache.spark.SparkThrowable => t.getCondition; case _ => "" }
        Left(s"${c.getClass.getName} $cond")
    }

  private def legacy: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.ansi.enabled", "false")
    s
  }

  test("the panels hold the edge cases the diagnostics must agree on") {
    val r = rows(1L)
    val vs = r.flatMap(_._3)
    assert(r.exists(_._3.isEmpty) && vs.exists(_.isNaN) && vs.exists(_.isPosInfinity) &&
      vs.exists(_.isNegInfinity))
    assert(vs.exists(x => x == 0.0 && 1.0 / x < 0) && vs.exists(x => x == 0.0 && 1.0 / x > 0))
    assert(r.exists(_._1 == null))
    val byUnit = r.filter(_._1 != null).groupBy(_._1.longValue)
    assert(byUnit.exists(_._2.size == 1) && byUnit.exists(u => u._2.size > 1 && u._2.forall(_._3.isEmpty)))
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
  }

  test("every diagnostic and the rolling median equal their SQL formulation, under ANSI " +
      "and legacy arithmetic, with long and int keys") {
    val cases = Seq(
      ("ansi", spark, 1L, false, false), ("ansi finite", spark, 1L, true, false),
      ("ansi", spark, 2L, false, false), ("ansi finite", spark, 2L, true, false),
      ("ansi finite int keys", spark, 3L, true, true), ("legacy", legacy, 4L, false, false),
      ("legacy int keys", legacy, 5L, false, true))
    for ((name, s, seed, finite, intKeys) <- cases) {
      val p = panel(s, seed, finite, intKeys).cache()
      diagnostics.foreach { case (d, got, want) =>
        // under ANSI the dominant period of unit 0 (one value) divides by
        // zero, and an infinite value fails its cast: which error surfaces
        // first depends on the order the units run in, so the cast is
        // checked without unit 0 (the finite panels check the division)
        val in = if (d == "dominant period" && !finite && name.startsWith("ansi")) p.filter(col(U) =!= 0)
                 else p
        val (g, w) = (outcome(got(in)), outcome(want(in)))
        assert(g == w, s"$d, $name, seed $seed: ${g.map(_._2.diff(w.map(_._2).getOrElse(Nil))
          .take(3))} vs ${w.map(_._2.diff(g.map(_._2).getOrElse(Nil)).take(3))}")
        if (!name.startsWith("ansi") || finite) assert(g.isRight || d == "dominant period", s"$d, $name: $g")
      }
      p.unpersist()
    }
  }

  test("emerging hotspots' per-unit reduce equals the grouped aggregate with its typed " +
      "Mann–Kendall aggregate") {
    for ((s, seed) <- Seq(spark -> 6L, legacy -> 7L)) {
      val p = panel(s, seed, finite = true)
        .withColumn("lon", Grid.unitLon(col(U))).withColumn("lat", Grid.unitLat(col(U)))
        .na.fill(0.0, Seq("value")).cache()
      val gi = SpatialStats.getisOrdGi(p, "value").select(col(T), col(U), col("gi"))
        .filter(col("gi").isNotNull)
      val got = outcome(SpatialStats.emergingHotspots(p, "value", z = 0.5))
      assert(got == outcome(DiagnosticReference.hotspotTaxonomy(gi, z = 0.5)), s"seed $seed")
      assert(got.exists(_._2.map(_.split('|').last).toSet.size >= 3), got)
      p.unpersist()
    }
  }
}
