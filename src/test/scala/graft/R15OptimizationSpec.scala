package graft

import graft.ops.Ranking
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Focused pins for the r15 optimization rewrites: each replaced an
  * operator's internals with a cheaper plan that must emit BIT-
  * IDENTICAL values — these tests hold the equivalence against the
  * textbook formulation the rewrite removed.
  */
class R15OptimizationSpec extends SparkSpec {
  import spark.implicits._

  // ---- mannKendall: the per-unit kernel vs the brute-force pair loop

  private def series = Seq(
    // unit 1: noisy up-trend with ties; unit 2: flat (all ties);
    // unit 3: single observation (no pairs); unit 4: strict down
    (1L, 1L, 2.0), (1L, 2L, 1.0), (1L, 3L, 2.0), (1L, 4L, 5.0),
    (1L, 5L, 4.0), (1L, 6L, 6.0),
    (2L, 1L, 3.0), (2L, 2L, 3.0), (2L, 3L, 3.0),
    (3L, 9L, 7.0),
    (4L, 1L, 9.0), (4L, 2L, 5.0), (4L, 3L, 1.0)
  ).toDF("unit_id", "month_id", "value")

  test("mannKendall's S and n equal the brute-force pair loop per unit") {
    val got = graft.ops.TemporalOps.mannKendall(series, "value")
      .select(col("unit_id"), col("s"), col("n"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val rows = series.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val want = rows.groupBy(_._1).map { case (u, rs) =>
      val v = rs.sortBy(_._2).map(_._3)
      val s = (for {
        i <- v.indices; j <- (i + 1) until v.length
      } yield math.signum(v(j) - v(i)).toLong).sum
      u -> ((s, v.length.toLong))
    }
    // the single-observation unit 3 has no pair and no output row
    assert(want(3L) == ((0L, 1L)))
    assert(got == want - 3L)
  }

  test("mannKendall output matches the pre-r15 join form's row set") {
    // single-observation units produced no pair rows under the inner
    // join — the aggregate form must keep them out of the output too
    val out = graft.ops.TemporalOps.mannKendall(series, "value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(!out.exists(_._1 == 3L), "single-obs unit must be absent")
    val byUnit = out.map(t => t._1 -> ((t._2, t._3))).toMap
    assert(byUnit(2L) == ((3L, 0L)))   // flat: all sign ties
    assert(byUnit(4L) == ((3L, -3L)))  // strict down: S = -n(n-1)/2
  }

  // ---- globalCumsumN: fused multi-column pass vs chained single calls

  test("globalCumsumN equals chained globalCumsum and exact totals") {
    val df = (1L to 500L)
      .map(i => (i * 31 % 97, i % 7, i % 5)).toDF("v", "a", "b")
      .groupBy("v").agg(sum(col("a")).as("a"), sum(col("b")).as("b"))
    val (cum, totals, parted) = Ranking.globalCumsumN(df, Seq(col("v")),
      Seq("a" -> "ca", "b" -> "cb"), numPartitions = 7)
    val gotA = cum.select("v", "ca").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gotB = cum.select("v", "cb").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wantA = Ranking.globalCumsum(df, Seq(col("v")), "a", "ca", 7)
      .select("v", "ca").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wantB = Ranking.globalCumsum(df, Seq(col("v")), "b", "cb", 7)
      .select("v", "cb").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotA == wantA && gotB == wantB)
    val t = totals.collect().head
    val want = df.agg(sum("a"), sum("b")).collect().head
    assert(t.getLong(0) == want.getLong(0) && t.getLong(1) == want.getLong(1))
    assert(parted.count() == df.count(), "parted holds exactly the input rows")
  }

  // ---- rankDot: single-branch Σ rank·x vs the globalRank join form

  test("rankDot matches globalRank-based sum(rank*x), nulls ranked but unsummed") {
    val df = (1L to 997L)
      .map(i => (i, if (i % 13 == 0) null else java.lang.Long.valueOf(i * 7919 % 1000)))
      .toDF("u", "x")
    val got = Ranking.rankDot(df, Seq(col("x"), col("u")), "x")
      .select(col("__n"), col("__sx").cast("decimal(38,0)"),
        col("__srx").cast("decimal(38,0)"))
      .collect().head
    val ranked = Ranking.rank(df, Seq(col("x"), col("u")), "__r")
    val want = ranked.agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum(col("__r").cast("decimal(38,0)") *
          col("x").cast("decimal(38,0)")).as("srx"))
      .collect().head
    assert(got.getLong(0) == want.getLong(0))
    assert(got.getDecimal(1).compareTo(want.getDecimal(1)) == 0)
    assert(got.getDecimal(2).compareTo(want.getDecimal(2)) == 0)
  }

  test("rankDot on an empty frame aggregates to one all-null row") {
    val df = Seq.empty[(Long, java.lang.Long)].toDF("u", "x")
    val r = Ranking.rankDot(df, Seq(col("x"), col("u")), "x").collect().head
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
  }

  // ---- distinctProfile: split exact/HLL passes still agree

  test("distinctProfile exact counts are exact after the split-pass rewrite") {
    val df = (1L to 300L).map(i => (i % 17, (i % 5).toString))
      .toDF("k", "s")
    val out = relational.Profile.distinctProfile(df, Seq("k", "s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("k") == 17L && out("s") == 5L)
  }

  // ---- emergingHotspots: the Mann-Kendall pair JOIN must stay gone

  test("emergingHotspots plans no self-join for the trend statistic") {
    val panel = (for {
      u <- 1L to 9L; m <- 1L to 8L
    } yield (m, u, (u % 3).toDouble * m, (u % 3).toDouble, (u / 3).toDouble))
      .toDF("month_id", "unit_id", "value", "lon", "lat")
    val plan = spatial.SpatialStats.emergingHotspots(panel, "value")
      .queryExecution.optimizedPlan
    val joins = plan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    // getisOrdGi legitimately joins cells to neighbours; the T²/2
    // pair join re-keyed gi AGAINST ITSELF on unit_id alone — assert
    // no remaining join has a single-column unit-only equi-condition
    val unitOnly = joins.filter { j =>
      val refs = j.condition.toSeq.flatMap(_.references.map(_.name)).distinct
      refs.nonEmpty && refs.forall(_.startsWith("unit_id"))
    }
    assert(unitOnly.isEmpty,
      s"found unit-only self-join(s) in emergingHotspots: $unitOnly")
  }

  // ---- spacetime event-month search: one-cell grid still exact

  test("banded spacetime with a fully-certified level-0 ladder (short-" +
    "circuited escalations + skipped fallback) matches broadcast") {
    // every unit sits in ONE 40°-wide band cell, so each month's first
    // ring already covers every occupied cell and holds ALL of that
    // month's events: the event-month search stops there without
    // widening. Values must still equal the broadcast path
    // bit-for-bit.
    val units = for (y <- 0L until 3L; x <- 0L until 3L) yield y * 40L + x
    val rows = for (m <- 1L to 4L; u <- units) yield
      (m, u, if ((u + m) % 4L == 0L) 500.0 + (u % 7L) else 1.0)
    val p = rows.toDF(Panel.TimeCol, Panel.UnitCol, "value")
      .withColumn("lon", spatial.Grid.unitLon(col(Panel.UnitCol)))
      .withColumn("lat", spatial.Grid.unitLat(col(Panel.UnitCol)))
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    for (k <- Seq(1, 5)) {
      val base = keyed(spatial.SpacetimeDist.spacetimeDistances(
        p, "value", "distances", k, 2.0, 0.0, eventThreshold = 400.0))
      val band = keyed(spatial.SpacetimeDist.spacetimeDistances(
        p, "value", "distances", k, 2.0, 0.0, eventThreshold = 400.0,
        banded = Some(spatial.SpacetimeDist.Band(40.0, 1))))
      assert(base.keySet == band.keySet)
      base.foreach { case (key, v) =>
        val bv = band(key)
        assert(v == bv || math.abs(v - bv) < 1e-9, s"k=$k at $key: $v vs $bv")
      }
    }
  }

  // ---- equiDepthHistogram: single-scan rewrite keeps null/NaN bins

  test("equiDepthHistogram single-scan rewrite bins nulls low, NaN high") {
    val df = (Seq.tabulate(16)(i => java.lang.Double.valueOf(i + 1.0)) ++
      Seq(null.asInstanceOf[java.lang.Double],
        java.lang.Double.valueOf(Double.NaN))).toDF("v")
    val got = relational.Stats.equiDepthHistogram(df, "v", nbins = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    // 16 real values split 4/4/4/4; the null row lands in bin 0
    // (null > q is null → otherwise-0), NaN compares above every cut
    // (bin 3) — the pre-rewrite semantics, pinned
    assert(got == Map(0L -> 5L, 1L -> 4L, 2L -> 4L, 3L -> 5L))
  }

  test("equiDepthHistogram constant column emits only bin 0 (ADVICE r15)") {
    // every quantile cut equals the value, every row fails v > cut, so
    // bins 1..n-1 are ABSENT — the one shape where the per-bin __mx
    // replaces a global max no emitted row needs: the top emitted bin
    // (bin 0) must still carry q_lo == q_hi == the value, exactly as
    // the pre-rewrite global-bounds scan produced
    val df = Seq.fill(12)(7.5).toDF("v")
    val rows = relational.Stats.equiDepthHistogram(df, "v", nbins = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getLong(3)))
    assert(rows.toSeq == Seq((0L, 7.5, 7.5, 12L)))
  }
}
