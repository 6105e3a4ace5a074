package graft

import graft.spatial.{CountryLag, Grid, KernelLag, SpacetimeDist}
import org.apache.spark.sql.functions._

/** Golden tests for the spatial family, ported from the reference's own
  * tests (FIXTURES.md F1/F2) plus impulse-response checks (F6).
  */
class SpatialSpec extends SparkSpec {
  import spark.implicits._
  private val T = Panel.TimeCol
  private val U = Panel.UnitCol

  test("kernel weights match build_kernel_weights (splag4d.py:95-118)") {
    // inner=1, width=1, power=1: 3x3, centre zeroed, sides 1, diags 1/sqrt(2)
    val k = Grid.kernelOffsets(1, 1, 1.0, norm = false)
      .map { case (dx, dy, w) => ((dx, dy), w) }.toMap
    assert(k.size == 8)
    assert(math.abs(k((0, 1)) - 1.0) < 1e-15)
    assert(math.abs(k((1, 1)) - 1.0 / math.sqrt(2)) < 1e-15)
    // norm: weights sum to 1
    val kn = Grid.kernelOffsets(1, 2, 2.0, norm = true)
    assert(math.abs(kn.map(_._3).sum - 1.0) < 1e-12)
  }

  test("splag4d impulse response equals the kernel (F6)") {
    // 4x4 grid of units 0..15 (lon=u%4... use the 40-wide embedding but
    // units 0..3,40..43 style; simpler: units laid out with unitLon/Lat)
    val units = Seq(0L, 1L, 2L, 40L, 41L, 42L, 80L, 81L, 82L) // 3x3 block
    val rows = for (m <- Seq(1L); u <- units)
      yield (m, u, if (u == 41L) 1.0 else 0.0) // impulse at centre
    val p = rows.toDF(T, U, "value")
      .withColumn("lon", Grid.unitLon(col(U)))
      .withColumn("lat", Grid.unitLat(col(U)))
    val out = KernelLag.splag4d(p, "value", 1, 1, 1.0, norm = false)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toMap
    assert(math.abs(out(40L) - 1.0) < 1e-12)            // side neighbour
    assert(math.abs(out(0L) - 1.0 / math.sqrt(2)) < 1e-12) // diagonal
    assert(out(41L) == 0.0)                              // zeroed centre
  }

  test("splag_country reproduces the reference test kernels (F2)") {
    // 6 countries, 1 month; adjacency reconstructed so 237's first-order
    // neighbours are {59, 235} (tests/test_splag_country.py)
    val p = Seq((229L, 57L, 0.0), (229L, 59L, 281.0), (229L, 120L, 0.0),
      (229L, 235L, 18.0), (229L, 237L, 18.0), (229L, 242L, 0.0))
      .toDF(T, U, "value")
    val pairs = Seq((57L, 59L), (59L, 237L), (235L, 237L), (120L, 242L))
    val adj = pairs.flatMap { case (a, b) => Seq((229L, a, b), (229L, b, a)) }
      .toDF(T, "a_id", "b_id")
    val cent = Seq(57L, 59L, 120L, 235L, 237L, 242L)
      .map(c => (c, c.toDouble, c.toDouble * 2)).toDF("country_id", "lat", "lon")

    def run(inner: Int, width: Int) =
      CountryLag.splagCountry(p, "value", adj, cent, inner, width, 0.0, norm = false)
        .collect().map(r => (r.getLong(1), r.getDouble(2))).toMap

    // kernel (0,0) -> all zeros
    assert(run(0, 0).values.forall(_ == 0.0))
    // kernel (0,1) -> identity (ring = {self}, weight d^0 with d=0 -> 1)
    val id = run(0, 1)
    assert(id(59L) == 281.0 && id(237L) == 18.0 && id(57L) == 0.0)
    // kernel (1,1) -> first-order neighbour sums: 237 -> 281 + 18 = 299
    val n1 = run(1, 1)
    assert(n1(237L) == 299.0)
    assert(n1(57L) == 281.0)  // only neighbour 59
    assert(n1(120L) == 0.0)   // neighbour 242 has value 0
  }

  test("ringSet honours the documented empty (0,0) kernel") {
    val p = Seq((1L, 0L, 1.0), (1L, 1L, 2.0)).toDF(T, U, "value")
    val adj = Seq((1L, 0L, 1L), (1L, 1L, 0L)).toDF(T, "a_id", "b_id")
    assert(CountryLag.ringSet(p, adj, inner = 0, width = 0).count() == 0)
    // and the identity kernel still yields {self}
    val id = CountryLag.ringSet(p, adj, inner = 0, width = 1)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(id.toSet == Set((0L, 0L), (1L, 1L)))
  }

  test("distributed ringSet equals driver-BFS ringSetStatic on every kernel shape") {
    // the scale fallback (ringSet: distributed BFS, for >driver-sized
    // unit universes) must stay semantically identical to the fast
    // driver-BFS path (ringSetStatic) the grid queries actually use.
    // 3x3 grid block over 2 months, all queen adjacencies.
    val units = Seq(0L, 1L, 2L, 40L, 41L, 42L, 80L, 81L, 82L)
    val rows = for (m <- Seq(1L, 2L); u <- units) yield (m, u, 1.0)
    val p = rows.toDF(T, U, "value")
    val pairsLocal = CountryLag.gridAdjacencyPairsLocal(p)
    val adj = CountryLag.gridAdjacency(p)
    for ((inner, width) <- Seq((0, 0), (0, 1), (1, 1), (1, 2), (2, 1), (3, 1))) {
      val dist = CountryLag.ringSet(p, adj, inner, width)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val static = CountryLag.ringSetStatic(p, pairsLocal, inner, width)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(dist == static,
        s"($inner,$width): only-distributed ${(dist -- static).take(5)}, " +
          s"only-static ${(static -- dist).take(5)}")
    }
  }

  test("spacetime pads missing neighbours with inf when 0 < count < k (distances)") {
    // one event total: k=5 distances must be inf once visible, 999 before
    val rows = for (m <- 1L to 3L; u <- 0L until 4L)
      yield (m, u, if (m == 2L && u == 1L) 10.0 else 0.0)
    val p = rows.toDF(T, U, "value")
      .withColumn("lon", Grid.unitLon(col(U)))
      .withColumn("lat", Grid.unitLat(col(U)))
    val out = SpacetimeDist.spacetimeDistances(p, "value", "distances",
        k = 5, nu = 1.0, power = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // month 1: no events yet -> sentinel; months 2..3: 1 < k events -> inf
    assert(out((1L, 0L)) == 999.0)
    assert(out((2L, 0L)).isPosInfinity && out((3L, 2L)).isPosInfinity)
    // k=1 on the same panel stays finite once the event is visible
    val k1 = SpacetimeDist.spacetimeDistances(p, "value", "distances",
        k = 1, nu = 1.0, power = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(k1((2L, 1L)) == 0.0 && !k1((3L, 0L)).isInfinity)
  }

  test("spacetime distances reproduce the reference fixture (F1)") {
    // 3 months x 3x3 pgid block, single event at (101, centre)
    val units = Seq(0L, 1L, 2L, 40L, 41L, 42L, 80L, 81L, 82L)
    val rows = for (m <- Seq(100L, 101L, 102L); u <- units)
      yield (m, u, if (m == 101L && u == 41L) 1.0 else 0.0)
    val p = rows.toDF(T, U, "value")
      .withColumn("lon", Grid.unitLon(col(U)))
      .withColumn("lat", Grid.unitLat(col(U)))

    def run(rv: String, k: Int, nu: Double, power: Double) =
      SpacetimeDist.spacetimeDistances(p, "value", rv, k, nu, power)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap

    val d = run("distances", 1, 1.0, 0.0)
    assert(d((100L, 41L)) == 999.0)                       // no events yet
    assert(d((101L, 41L)) == 0.0)                         // at the event
    assert(math.abs(d((101L, 42L)) - 0.5) < 1e-9)         // one cell away
    assert(math.abs(d((101L, 2L)) - math.sqrt(0.5)) < 1e-9) // wait: (2,0) vs (1,1)
    assert(math.abs(d((102L, 41L)) - 1.0) < 1e-9)         // one month later
    assert(math.abs(d((102L, 40L)) - math.sqrt(1.25)) < 1e-9)
    // nu stretches time
    val d10 = run("distances", 1, 10.0, 0.0)
    assert(math.abs(d10((102L, 41L)) - 10.0) < 1e-9)
    // weights: dist=0 -> event size; else size/d^power
    val w = run("weights", 1, 1.0, 2.0)
    assert(w((101L, 41L)) == 1.0)
    assert(math.abs(w((101L, 42L)) - 1.0 / 0.25) < 1e-9)
    assert(math.abs(w((102L, 41L)) - 1.0) < 1e-9)
  }

  test("banded spacetime candidates reproduce the broadcast path exactly") {
    // dense 10x10 block, events scattered so a tight band (b=2, r=1)
    // exercises both ends of the event-month ring search: clustered
    // units stop at the first ring (kth distance under the ring
    // bound), sparse corners widen the ring until the bound or the
    // month's occupied cells are covered
    val units = for (y <- 0L until 10L; x <- 0L until 10L) yield y * 40L + x
    val rows = for (m <- 1L to 6L; u <- units) yield {
      val v = if ((u * 7L + m * 13L) % 11L == 0L) 500.0 + (u % 9L) else 1.0
      (m, u, v)
    }
    val p = rows.toDF(T, U, "value")
      .withColumn("lon", Grid.unitLon(col(U)))
      .withColumn("lat", Grid.unitLat(col(U)))
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    for ((rv, k, nu, power) <- Seq(("distances", 5, 2.0, 0.0),
                                   ("distances", 1, 1.0, 0.0),
                                   ("weights", 3, 1.0, 2.0))) {
      val base = keyed(SpacetimeDist.spacetimeDistances(
        p, "value", rv, k, nu, power, eventThreshold = 400.0))
      val band = keyed(SpacetimeDist.spacetimeDistances(
        p, "value", rv, k, nu, power, eventThreshold = 400.0,
        banded = Some(SpacetimeDist.Band(2.0, 1))))
      // auto-dispatch at the switch point: threshold 0 must band (with
      // the DefaultBand geometry) and still reproduce the base exactly
      val auto = keyed(SpacetimeDist.spacetimeDistances(
        p, "value", rv, k, nu, power, eventThreshold = 400.0,
        autoBandEvents = 0L))
      assert(base.keySet == band.keySet && base.keySet == auto.keySet)
      base.foreach { case (key, v) =>
        val bv = band(key)
        val av = auto(key)
        assert(v == bv || math.abs(v - bv) < 1e-9, s"$rv k=$k at $key: $v vs $bv")
        assert(v == av || math.abs(v - av) < 1e-9,
          s"auto $rv k=$k at $key: $v vs $av")
      }
    }
  }

  /** 3×3 block of the 40-wide unit grid (lat·40 + lon), month 1. */
  private def grid3x3(vals: Double*): org.apache.spark.sql.DataFrame = {
    require(vals.length == 9)
    val units = for { lat <- 0 to 2; lon <- 0 to 2 } yield lat * 40L + lon
    units.zip(vals).map { case (u, v) => (1L, u, v) }
      .toDF(T, U, "value")
      .withColumn("lon", Grid.unitLon(col(U)))
      .withColumn("lat", Grid.unitLat(col(U)))
  }

  test("moranI: gradient attracts, checkerboard repels, constant null") {
    // smooth column gradient → strong positive autocorrelation
    val grad = grid3x3(0, 1, 2, 0, 1, 2, 0, 1, 2)
    val rg = spatial.SpatialStats.moranI(grad, "value").collect().head
    assert(rg.getLong(1) === 9L)
    assert(rg.getLong(2) === 40L) // queen pair count on a 3x3 block
    assert(rg.getDouble(3) > 0.2, s"gradient must attract: $rg")
    // checkerboard: rook neighbours differ, diagonals agree → mildly
    // negative under QUEEN contiguity (not the rook −1)
    val checker = grid3x3(1, 0, 1, 0, 1, 0, 1, 0, 1)
    val rc = spatial.SpatialStats.moranI(checker, "value").collect().head
    assert(rc.getDouble(3) < 0.0, s"checkerboard must repel: $rc")
    val flat = grid3x3(5, 5, 5, 5, 5, 5, 5, 5, 5)
    assert(spatial.SpatialStats.moranI(flat, "value")
      .collect().head.isNullAt(3), "zero variance must be null")
  }

  test("gearyC: gradient clusters (<1), constant is null") {
    val grad = grid3x3(0, 1, 2, 0, 1, 2, 0, 1, 2)
    val rg = spatial.SpatialStats.gearyC(grad, "value").collect().head
    assert(rg.getLong(2) === 40L)
    assert(rg.getDouble(3) < 1.0 && rg.getDouble(3) > 0.0,
      s"gradient must cluster: $rg")
    val flat = grid3x3(4, 4, 4, 4, 4, 4, 4, 4, 4)
    assert(spatial.SpatialStats.gearyC(flat, "value")
      .collect().head.isNullAt(3))
  }

  test("localMoran: gradient cells agree with neighbours (edges positive)") {
    // column gradient 0/1/2: left and right columns sit below/above the
    // mean WITH like-valued neighbours → positive local I; the middle
    // column IS the mean (z = 0) → local I exactly 0
    val grad = grid3x3(0, 1, 2, 0, 1, 2, 0, 1, 2)
    val got = spatial.SpatialStats.localMoran(grad, "value")
      .collect().map(r => r.getLong(1) -> r.getDouble(3)).toMap
    Seq(0L, 40L, 80L, 2L, 42L, 82L).foreach(u =>
      assert(got(u) > 0.0, s"edge column $u must be positive: $got"))
    Seq(1L, 41L, 81L).foreach(u =>
      assert(got(u) === 0.0, s"mean column $u must be zero: $got"))
  }

  test("emergingHotspots: ramping corner peak classifies deterministically") {
    // 6×6 block, fixed (u%3) background, corner peak at unit 0 ramping
    // m·10 over 6 months. Hand-mirrored arithmetic gives the corner's
    // gi series [2.771978, 2.888471, 2.888471, 2.880756, 2.873712,
    // 2.868034] — hot every month with Mann–Kendall S = −4 (the peak
    // inflates the GLOBAL std faster than its own window after m=2),
    // so the taxonomy says persistent; ramping DOWN reverses the
    // series → S = +4 → intensifying.
    val units = for { lat <- 0 to 5; lon <- 0 to 5 } yield lat * 40L + lon
    def mk(peakOf: Long => Double) = {
      val rows = for { m <- 1L to 6L; u <- units } yield
        (m, u, if (u == 0L) peakOf(m) else (u % 3).toDouble)
      rows.toDF(T, U, "value")
        .withColumn("lon", Grid.unitLon(col(U)))
        .withColumn("lat", Grid.unitLat(col(U)))
    }
    val up = spatial.SpatialStats.emergingHotspots(mk(m => m * 10.0), "value")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(4), r.getString(5))).toMap
    assert(up(0L) === ((6L, -4L, "persistent")), s"$up")
    assert(up(205L)._3 === "none", s"far corner must be none: $up")
    val down = spatial.SpatialStats
      .emergingHotspots(mk(m => (7 - m) * 10.0), "value")
      .collect().map(r => r.getLong(0) -> (r.getLong(4), r.getString(5)))
      .toMap
    assert(down(0L) === ((4L, "intensifying")), s"$down")
  }

  test("getisOrdGi: a planted peak is the hottest cell") {
    // 4×4 block, peak at (lon 1, lat 1) = unit 41 — interior cells see
    // 9 of 16 cells so no neighbourhood degenerates to the whole field
    val units = for { lat <- 0 to 3; lon <- 0 to 3 } yield lat * 40L + lon
    val peak = units.map(u => (1L, u, if (u == 41L) 9.0 else 0.0))
      .toDF(T, U, "value")
      .withColumn("lon", Grid.unitLon(col(U)))
      .withColumn("lat", Grid.unitLat(col(U)))
    val got = spatial.SpatialStats.getisOrdGi(peak, "value")
      .collect().map(r => r.getLong(1) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got(41L)._1 === 9L)
    // every cell whose queen-plus-self neighbourhood contains the peak
    // is hot (its window holds ALL the mass); everyone else is cold.
    // Gi* normalizes by window size, so the small corner window (0,0)
    // scores HIGHER than the peak's own 9-cell window — the statistic
    // working as designed, not a bug.
    val nearPeak = Set(0L, 1L, 2L, 40L, 41L, 42L, 80L, 81L, 82L)
    nearPeak.foreach(u => assert(got(u)._2 > 0.0, s"$u must be hot: $got"))
    (got.keySet -- nearPeak).foreach(u =>
      assert(got(u)._2 < 0.0, s"$u must be cold: $got"))
  }
}
