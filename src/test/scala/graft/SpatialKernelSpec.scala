package graft

import graft.spatial.{CountryLag, FourierLag, Grid, KernelLag, SpacetimeDist, TreeLag}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** The local spatial kernels — the per-month splag4d stencil and the
  * per-unit spacetime top-k — against plain-Scala models of the join
  * semantics they replace and against the banded spacetime path, plus
  * the plan shapes, job budgets and row contract of the panel lags'
  * wire-format entries.
  */
class SpatialKernelSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._
  private val T = Panel.TimeCol
  private val U = Panel.UnitCol

  private def withGrid(df: DataFrame): DataFrame =
    df.withColumn("lon", Grid.unitLon(col(U))).withColumn("lat", Grid.unitLat(col(U)))

  // ---- splag4d stencil ----------------------------------------------

  /** Stencil rows: a 6×4 block with a hole at (2, 1), the grid-row seam
    * (lon 39 next to lon 0 of the following row in pgid order), a cell
    * with no neighbour present, null and NaN values, over two months.
    */
  private val stencilRows: Seq[(Long, Long, Option[Double], Option[Double])] = {
    val block = for (lat <- 0L until 4L; lon <- 0L until 6L if !(lon == 2L && lat == 1L))
      yield lat * 40L + lon
    val units = block ++ Seq(39L, 79L, 40L * 20L + 20L)
    for (m <- Seq(1L, 2L); u <- units) yield {
      val h = (u * 7L + m * 3L) % 13L
      val v = if (h == 0L) None else if (h == 1L) Some(Double.NaN) else Some(u.toDouble + m)
      val v2 = if (h == 2L) None else Some((u % 5L) * 0.5 - m)
      (m, u, v, v2)
    }
  }

  /** The join semantics: sum of neighbour value·w over kernel offsets in
    * coordinate space, null neighbours skipped, 0.0 when the sum is NaN
    * or no non-null neighbour exists.
    */
  private def stencilModel(inner: Int, width: Int, power: Double, norm: Boolean,
                           feature: ((Long, Long, Option[Double], Option[Double])) => Option[Double])
      : Map[(Long, Long), Double] = {
    val kernel = Grid.kernelOffsets(inner, width, power, norm)
    val at = stencilRows.map(r => (r._1, r._2 % 40L, r._2 / 40L) -> r).toMap
    stencilRows.map { r =>
      val terms = kernel.flatMap { case (dx, dy, w) =>
        at.get((r._1, r._2 % 40L + dx, r._2 / 40L + dy)).flatMap(feature).map(_ * w)
      }
      val s = terms.foldLeft(0.0)(_ + _)
      (r._1, r._2) -> (if (terms.isEmpty || s.isNaN) 0.0 else s)
    }.toMap
  }

  private def stencilPanel: DataFrame =
    withGrid(stencilRows.toDF(T, U, "value", "value2"))

  private def assertSame(got: Map[(Long, Long), Double], want: Map[(Long, Long), Double],
                         what: String): Unit = {
    assert(got.keySet == want.keySet, what)
    want.foreach { case (key, w) =>
      val g = got(key)
      assert(g == w || math.abs(g - w) <= 1e-12 * math.max(1.0, math.abs(w)),
        s"$what at $key: $g, want $w")
    }
  }

  test("splag4d stencil equals the join semantics: holes, borders, seam, null, NaN, isolated") {
    val got = KernelLag.splag4d(stencilPanel, "value", 1, 1, 1.0, norm = false)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val want = stencilModel(1, 1, 1.0, norm = false, _._3)
    assertSame(got, want, "splag4d")
    // the cases are really there: the isolated cell and the seam cells
    // see nothing across the gap, NaN neighbourhoods fold to 0.0
    assert(got((1L, 820L)) == 0.0 && got((2L, 820L)) == 0.0)
    assert(stencilRows.exists(_._3.exists(_.isNaN)) && stencilRows.exists(_._3.isEmpty))
  }

  test("splag4dMulti convolves two features with their own null/NaN handling") {
    val got = KernelLag.splag4dMulti(stencilPanel, Seq("value", "value2"), 1, 1, 1.0,
        norm = false)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getDouble(3)))
      .toMap
    assertSame(got.map { case (k, v) => k -> v._1 }, stencilModel(1, 1, 1.0, false, _._3),
      "splag_value")
    assertSame(got.map { case (k, v) => k -> v._2 }, stencilModel(1, 1, 1.0, false, _._4),
      "splag_value2")
  }

  test("splag4d stencil with inner=1, width=2, power=2, norm=true equals the model") {
    val got = KernelLag.splag4d(stencilPanel, "value", 1, 2, 2.0, norm = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assertSame(got, stencilModel(1, 2, 2.0, norm = true, _._3), "splag4d norm")
  }

  // ---- spacetime kernel vs the banded path ---------------------------

  /** 8×8 block with a hole; no event in month 1, a single event in
    * month 2 (so k > 1 sees fewer than k events), scattered events from
    * month 3 on, NaN cells (Spark's `NaN > x` is true: they are events)
    * and null cells (never events).
    */
  private def spacetimePanel: DataFrame = {
    val units = for (y <- 0L until 8L; x <- 0L until 8L if !(x == 3L && y == 4L))
      yield y * 40L + x
    val rows = for (m <- 1L to 6L; u <- units) yield {
      val v: Option[Double] =
        if (m == 1L) Some(1.0)
        else if (m == 2L) Some(if (u == 41L) 700.0 else 1.0)
        else if ((u * 7L + m * 13L) % 11L == 0L) Some(500.0 + (u % 9L))
        else if ((u + m) % 17L == 0L) Some(Double.NaN)
        else if ((u + m) % 19L == 0L) None
        else Some(1.0)
      (m, u, v)
    }
    withGrid(rows.toDF(T, U, "value"))
  }

  private def keyed(df: DataFrame): Map[(Long, Long), Double] =
    df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  private def kernelVsBanded(rv: String, k: Int, nu: Double, power: Double,
                             monthCap: Option[Int] = None): Map[(Long, Long), Double] = {
    val p = spacetimePanel
    val kern = keyed(SpacetimeDist.spacetimeDistances(p, "value", rv, k, nu, power,
      eventThreshold = 400.0, monthCap = monthCap))
    val band = keyed(SpacetimeDist.spacetimeDistances(p, "value", rv, k, nu, power,
      eventThreshold = 400.0, monthCap = monthCap, banded = Some(SpacetimeDist.Band(2.0, 1))))
    assert(kern.keySet == band.keySet)
    // the kernel mirrors the banded path's arithmetic: equal to the bit
    band.foreach { case (key, b) =>
      assert(kern(key) == b, s"$rv k=$k cap=$monthCap at $key: ${kern(key)} vs $b")
    }
    kern
  }

  test("spacetime kernel equals the banded path: distances k=1 and k=5") {
    val k1 = kernelVsBanded("distances", 1, 1.0, 0.0)
    assert(k1((1L, 0L)) == 999.0)                  // before the first event
    assert(k1((2L, 41L)) == 0.0)                   // at the event
    assert(math.abs(k1((2L, 42L)) - 0.5) < 1e-12)  // one cell away
    val k5 = kernelVsBanded("distances", 5, 2.0, 0.0)
    assert(k5((1L, 0L)) == 999.0)
    assert(k5((2L, 0L)).isPosInfinity)             // 1 past event < k
    assert(k5.exists { case ((m, _), v) => m >= 4L && !v.isInfinite && v != 999.0 })
  }

  test("spacetime kernel equals the banded path: weights k=3, power 2, NaN events") {
    val w = kernelVsBanded("weights", 3, 1.0, 2.0)
    assert(w((2L, 41L)) == 700.0)                  // d = 0 gives the size
    assert(w((1L, 41L)) == 999.0)
    // NaN events are events: their weights poison the mean, which the
    // sentinel fill turns into 999.0 on both paths
    val nanCells = spacetimePanel.filter(isnan(col("value")))
      .select(T, U).as[(Long, Long)].collect()
    assert(nanCells.nonEmpty && nanCells.forall(c => w(c) == 999.0))
  }

  test("spacetime kernel equals the banded path under monthCap = Some(2)") {
    val capped = kernelVsBanded("distances", 1, 1.0, 0.0, monthCap = Some(2))
    assert(capped((2L, 42L)) == 0.5)
    assert(capped.collect { case ((m, _), v) if m > 2L => v }.forall(_ == 999.0))
  }

  test("banded spacetime builds and reads in at most 5 jobs") {
    val p = spacetimePanel
    val n = jobsOf {
      SpacetimeDist.spacetimeDistances(p, "value", "distances", 5, 2.0, 0.0,
        eventThreshold = 400.0, banded = Some(SpacetimeDist.Band(4.0, 1))).collect()
    }
    assert(n <= 5, s"$n jobs")
  }

  test("banded spacetime leaves the session conf alone") {
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.unset(key)
    try {
      SpacetimeDist.spacetimeDistances(spacetimePanel, "value", "distances", 5, 2.0, 0.0,
        eventThreshold = 400.0, banded = Some(SpacetimeDist.Band(4.0, 1))).collect()
      assert(!spark.conf.getAll.contains(key), spark.conf.getOption(key))
    } finally prev.foreach(spark.conf.set(key, _))
  }

  test("spacetime bound check: passes at AutoBandEvents, names bound and size above it") {
    val bound = SpacetimeDist.AutoBandEvents
    SpacetimeDist.checkBound("event month 7", bound)
    val e = intercept[IllegalArgumentException] {
      SpacetimeDist.checkBound("event month 7", bound + 1)
    }
    assert(e.getMessage.contains("event month 7") && e.getMessage.contains(s"${bound + 1}") &&
      e.getMessage.contains("AutoBandEvents") && e.getMessage.contains(s"$bound"), e.getMessage)
  }

  // ---- wire-format job budget ----------------------------------------

  /** A 12×10 grid over 6 months, built by a Spark job (not a local
    * relation, which Catalyst would fold away), with own lon/lat columns
    * that must pass through the wire ops untouched.
    */
  private def wirePanel: DataFrame =
    spark.range(0L, 720L, 1L, 2).select(
      (floor(col("id") / 120L) + 1L).as(T),
      (floor(col("id") % 120L / 12L) * 40L + col("id") % 12L).as(U),
      when(col("id") % 7L === 0L, 3.0).otherwise(0.0).as("value"),
      lit(-1L).as("lon"), lit(-1L).as("lat"))

  test("splag4d on the wire runs at most 3 jobs and replaces value in place") {
    val p = wirePanel
    var out: Array[org.apache.spark.sql.Row] = null
    val n = jobsOf {
      out = Registry.run(p, """[{"type":"splag4d","args":[1,1,0]}]""").collect()
    }
    assert(n <= 3, s"$n jobs")
    assert(out.head.schema.fieldNames.toSeq == p.columns.toSeq)
    assert(out.length == 720 && out.forall(r => r.getLong(3) == -1L && r.getLong(4) == -1L))
  }

  test("spacetime_dist on the wire runs at most 5 jobs and replaces value in place") {
    val p = wirePanel
    var out: Array[org.apache.spark.sql.Row] = null
    val n = jobsOf {
      out = Registry.run(p,
        """[{"type":"spacetime_dist","args":["distances",1,1,0,0]}]""").collect()
    }
    assert(n <= 5, s"$n jobs")
    assert(out.head.schema.fieldNames.toSeq == p.columns.toSeq)
    val direct = keyed(SpacetimeDist.spacetimeDistances(withGrid(p.drop("lon", "lat")),
      "value", "distances", 1, 1.0, 0.0))
    assert(out.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap == direct)
  }

  /** The other five column-producing panel lags, with the `wirePanel`
    * shape each must have: hash exchanges (None: not pinned), joins,
    * and a job budget for a warm run. The budgets are what the re-join
    * form these steps replaced took on this panel (with 1, 3, 4, 4 and 5
    * joins), so appending in place may not cost a job more.
    */
  private val panelLags = Seq(
    ("fourier_lag", """[{"type":"replace_na","args":[0]},{"type":"fourier_lag"}]""",
      Some(1), 0, 3),
    ("temporal_tree_lag", """[{"type":"temporal_tree_lag","args":[0.8,"uniform"]}]""",
      Some(1), 0, 7),
    ("tree_lag", """[{"type":"tree_lag","args":[0.5,0]}]""", None, 3, 8),
    ("grid_lag", """[{"type":"grid_lag","args":[2000,0]}]""", None, 3, 10),
    ("splag_country", """[{"type":"splag_country","args":[1,1,0,false]}]""", None, 4, 8))

  testAtCoreWidth("panel lags on the wire: the Fourier and temporal tree kernels are one hash " +
      "exchange and no join, the relational lags join once, all within the job budget") {
    val p = wirePanel
    panelLags.foreach { case (name, spec, hashExchanges, joins, budget) =>
      Registry.run(p, spec).collect() // warm the geometry caches
      var df: DataFrame = null
      val n = jobsOf { df = Registry.run(p, spec); df.collect() }
      val plan = df.queryExecution.executedPlan
      val hashed = collectWithSubqueries(plan) {
        case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
      }
      hashExchanges.foreach(h => assert(hashed.size == h, s"$name:\n$plan"))
      assert(collectWithSubqueries(plan) { case j: BaseJoinExec => j }.size == joins,
        s"$name:\n$plan")
      assert(n <= budget, s"$name: $n jobs")
    }
  }

  test("temporal_tree_lag on the wire exchanges the panel's own columns only: " +
      "no grid column crosses its unit_id exchange") {
    // the Fourier lag reads the grid only for its embedding
    Seq(panelLags(1), panelLags(0)).foreach { case (name, spec, _, _, _) =>
      val df = Registry.run(wirePanel, spec)
      df.collect()
      val plan = df.queryExecution.executedPlan
      val carried = collectWithSubqueries(plan) {
        case e: ShuffleExchangeExec => e.child.output.map(_.name)
      }
      assert(carried.nonEmpty && carried.forall(_.forall(n => n != "__lon" && n != "__lat")),
        s"$name: $carried\n$plan")
    }
  }

  /** The row contract's edge cases: columns out of the usual order, an
    * extra column, the panel's own lon/lat (not the grid's), a
    * duplicate (month, unit) key and a row without a month.
    */
  private def edgePanel: DataFrame = {
    val units = Seq(0L, 1L, 2L, 40L, 41L, 42L)
    val rows = (for (m <- 1L to 4L; u <- units)
        yield (s"e$m-$u", (u % 5L) * 100.0 + m * 30.0, Option(m), 100L + u, u, 200L + u)) ++
      Seq(("dup", 160.0, Option(2L), 141L, 41L, 241L),
          ("no-month", 77.0, Option.empty[Long], 101L, 1L, 201L))
    rows.toDF("extra", "value", T, "lon", U, "lat")
  }

  test("panel lags on the wire keep the panel's rows and columns: a duplicate key " +
      "gets its lag once per row, a row without a month gets 0.0") {
    val p = edgePanel
    val intKeyed = p.withColumn(T, col(T).cast("int")).withColumn(U, col(U).cast("int"))
    val gp = withGrid(p.drop("lon", "lat"))
    def direct(df: DataFrame): Map[(Long, Long), Double] =
      df.collect().filter(!_.isNullAt(0))
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val want = Map(
      "fourier_lag" -> direct(FourierLag.fourierLag(gp, "value")),
      "temporal_tree_lag" -> direct(temporal.TreeLag.treeLag(p, "value", 0.8, "uniform")),
      "tree_lag" -> direct(TreeLag.treeLag(gp, "value", 0.5, 0)),
      "grid_lag" -> direct(TreeLag.gridLag(gp, "value", 300.0, 0)),
      "splag_country" -> direct(CountryLag.splagCountry(p, "value", GeoCache.adjacency(p),
        GeoCache.centroids(p), 1, 1, 0.0, norm = false)))
    // uniform weights sum every earlier month: both copies of the key count
    assert(want("temporal_tree_lag")((2L, 41L)) == 130.0 + 2 * 160.0)
    val specs = panelLags.map(l => l._1 -> l._2).toMap +
      ("grid_lag" -> """[{"type":"grid_lag","args":[300,0]}]""")
    specs.foreach { case (name, spec) =>
      val out = Registry.run(p, spec)
      assert(out.columns.toSeq == p.columns.toSeq, name)
      val rows = out.collect()
      assert(rows.map(_.getString(0)).sorted.toSeq == p.collect().map(_.getString(0)).sorted.toSeq,
        s"$name: one output row per input row")
      rows.foreach { r =>
        val u = r.getLong(4)
        assert(r.getLong(3) == 100L + u && r.getLong(5) == 200L + u, s"$name: own lon/lat $r")
        val v = r.getDouble(1)
        if (r.isNullAt(2)) assert(v == 0.0, s"$name: $r")
        else assert(v == want(name)((r.getLong(2), u)), s"$name: $r")
      }
      val dup = rows.filter(r => !r.isNullAt(2) && r.getLong(2) == 2L && r.getLong(4) == 41L)
      assert(dup.map(_.getString(0)).sorted.toSeq == Seq("dup", "e2-41"), name)
      // int month and unit ids: the same values, the keys kept as int
      val outInt = Registry.run(intKeyed, spec)
      assert(outInt.columns.toSeq == p.columns.toSeq && outInt.schema(T).dataType == IntegerType &&
        outInt.schema(U).dataType == IntegerType, s"$name: ${outInt.schema}")
      assert(outInt.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap ==
        rows.map(r => r.getString(0) -> r.getDouble(1)).toMap, name)
    }
    // the grid lag sums a target's mesh rows in one order: the int-keyed
    // copy, whose keys hash to other partitions, gives the same bits
    def gridLagBits(df: DataFrame) =
      TreeLag.withGridLag(withGrid(df.drop("lon", "lat")), "value", 300.0,
          Seq("__gl" -> TreeLag.dfunction(0)))
        .collect().map(r => r.getAs[String]("extra") ->
          java.lang.Double.doubleToLongBits(r.getAs[Double]("__gl"))).toMap
    assert(gridLagBits(intKeyed) == gridLagBits(p))
  }
}
