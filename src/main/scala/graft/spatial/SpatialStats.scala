package graft.spatial

import graft.Panel
import graft.ops.{TemporalOps, UnitScan}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField}

/** Classical spatial-autocorrelation statistics over the unit grid —
  * the inference companions of the spatial-LAG features (splag4d and
  * friends FEED models; these two TEST the spatial signal itself):
  *
  *  - global Moran's I per month ("is the map clustered at all?")
  *  - local Getis–Ord Gi* per (month, cell) ("WHERE are the hot and
  *    cold spots?") — the standard conflict-diffusion screening pair
  *    for exactly the panel data the reference models.
  *
  * Both use binary queen contiguity (the 8-neighbour kernel, Gi* with
  * self), materialised as a convolution-join against a broadcast
  * offsets table on exact grid coordinates — |panel|×9 rows
  * through hash aggregations, no N² pair set, no dense matrix.
  *
  * Determinism (the gate discipline): values are fixed to 1e-6
  * integers at the scan; every neighbour sum, cross-sectional moment
  * and demeaned cross-product is EXACT integer/DECIMAL arithmetic
  * (Moran's numerator uses z_i = n·x_i − Σx so no rational mean is
  * ever summed); floats appear only in the final closed forms. The
  * emerging-hot-spot taxonomy reduces each cell's Gi* series in one
  * [[Panel.reduce]] per cell, as the per-unit diagnostics do.
  */
object SpatialStats {

  private val Dec = "decimal(38,0)"

  private def offsets(spark: org.apache.spark.sql.SparkSession,
                      withSelf: Boolean): DataFrame = {
    import spark.implicits._
    val o = for { dx <- -1 to 1; dy <- -1 to 1
                  if withSelf || dx != 0 || dy != 0 } yield (dx, dy)
    o.toDF("dx", "dy")
  }

  private def cells(panel: DataFrame, valueCol: String,
                    lonCol: String, latCol: String): DataFrame =
    panel.select(col(Panel.TimeCol), col(Panel.UnitCol),
      col(lonCol).as("__lon"), col(latCol).as("__lat"),
      round(col(valueCol) * 1e6).cast("long").as("__x6"))

  private def monthStats(c: DataFrame): DataFrame =
    c.groupBy(col(Panel.TimeCol))
      .agg(count(lit(1)).as("__n"),
        sum(col("__x6").cast(Dec)).as("__s6"),
        sum(col("__x6").cast(Dec) * col("__x6")).as("__q"))

  /** Global Moran's I per month over queen contiguity.
    *
    * I = (n/W) · Σᵢⱼ wᵢⱼ zᵢ zⱼ / Σᵢ zᵢ², computed on the integer
    * z'ᵢ = n·x6ᵢ − Σx6 (= n·zᵢ in 1e-6 units — the scale cancels in
    * the ratio), with Σ z'ᵢ² = n²·Σx6² − n·(Σx6)² needing no second
    * pass. W = pair count (binary weights).
    *
    * @return (month_id, n, w_sum, moran_i) — null when variance 0
    */
  def moranI(panel: DataFrame, valueCol: String,
             lonCol: String = "lon", latCol: String = "lat"): DataFrame = {
    val c = cells(panel, valueCol, lonCol, latCol)
    val ms = monthStats(c)
    val nb = c.select(col(Panel.TimeCol).as("__nt"),
      col("__lon").as("__nlon"), col("__lat").as("__nlat"),
      col("__x6").as("__nx6"))
    val z = (cc: org.apache.spark.sql.Column) =>
      col("__n").cast(Dec) * cc - col("__s6")
    val num = c
      .crossJoin(broadcast(offsets(panel.sparkSession, withSelf = false)))
      .join(nb, col("__nt") === col(Panel.TimeCol) &&
        col("__nlon") === col("__lon") + col("dx") &&
        col("__nlat") === col("__lat") + col("dy"))
      .join(broadcast(ms), Panel.TimeCol)
      .groupBy(col(Panel.TimeCol))
      .agg(sum(z(col("__x6")) * z(col("__nx6"))).as("__num"),
        count(lit(1)).as("w_sum"))
    val den = col("__n").cast(Dec) * col("__n") * col("__q") -
      col("__n").cast(Dec) * col("__s6") * col("__s6")
    ms.join(num, Seq(Panel.TimeCol), "left")
      .na.fill(0L, Seq("w_sum"))
      .select(col(Panel.TimeCol), col("__n").as("n"), col("w_sum"),
        when(den === 0 || col("w_sum") === 0, lit(null).cast("double"))
          .otherwise(round(
            (col("__n").cast("double") / col("w_sum")) *
              (col("__num").cast("double") / den.cast("double")), 6))
          .as("moran_i"))
  }

  /** Geary's C per month — Moran's difference-based sibling (more
    * sensitive to LOCAL dissimilarity; 1 = random, <1 clustered,
    * >1 repelling):
    *   C = ((n−1)/(2W)) · Σᵢⱼ wᵢⱼ (xᵢ−xⱼ)² / Σᵢ (xᵢ−x̄)²
    * The pairwise squared differences are exact 1e-12-unit integers
    * and the denominator uses the same no-second-pass identity as
    * [[moranI]] (Σ(xᵢ−x̄)² = (n·Σx² − (Σx)²)/n — kept as n·Σ(x−x̄)²
    * integers so nothing rational is ever summed).
    *
    * @return (month_id, n, w_sum, geary_c) — null when variance 0
    */
  def gearyC(panel: DataFrame, valueCol: String,
             lonCol: String = "lon", latCol: String = "lat"): DataFrame = {
    val c = cells(panel, valueCol, lonCol, latCol)
    val ms = monthStats(c)
    val nbb = c.select(col(Panel.TimeCol).as("__nt"),
      col("__lon").as("__nlon"), col("__lat").as("__nlat"),
      col("__x6").as("__nx6"))
    val d = col("__x6").cast(Dec) - col("__nx6")
    val num = c
      .crossJoin(broadcast(offsets(panel.sparkSession, withSelf = false)))
      .join(nbb, col("__nt") === col(Panel.TimeCol) &&
        col("__nlon") === col("__lon") + col("dx") &&
        col("__nlat") === col("__lat") + col("dy"))
      .groupBy(col(Panel.TimeCol))
      .agg(sum(d * d).as("__num"), count(lit(1)).as("w_sum"))
    // n·Σ(x−x̄)² in exact 1e-12-unit integers: n·Σx² − (Σx)²
    val denInt = col("__n").cast(Dec) * col("__q") -
      col("__s6") * col("__s6")
    ms.join(num, Seq(Panel.TimeCol), "left")
      .na.fill(0L, Seq("w_sum"))
      .select(col(Panel.TimeCol), col("__n").as("n"), col("w_sum"),
        when(denInt === 0 || col("w_sum") === 0 || col("__n") <= 1,
          lit(null).cast("double"))
          .otherwise(round(
            ((col("__n") - 1).cast("double") * col("__n") /
              (lit(2) * col("w_sum"))) *
              (col("__num").cast("double") / denInt.cast("double")), 6))
          .as("geary_c"))
  }

  /** Local Moran Iᵢ (LISA) per (month, cell) — which cells SIT in a
    * cluster (high-high / low-low → positive) or break one (high-low →
    * negative):
    *   Iᵢ = n·z'ᵢ·Σⱼ wᵢⱼ z'ⱼ / Σⱼ z'ⱼ²  over z'ᵢ = n·x6ᵢ − Σx6
    * (the moranI integer scaling — both n factors cancel against the
    * denominator's, leaving the textbook zᵢ·Σwz/(Σz²/n)). All products
    * are exact DECIMALs; one float division at the end.
    *
    * @return (month_id, unit_id, w_i, local_i) — null when variance 0
    */
  def localMoran(panel: DataFrame, valueCol: String,
                 lonCol: String = "lon", latCol: String = "lat"): DataFrame = {
    val c = cells(panel, valueCol, lonCol, latCol)
    val ms = monthStats(c)
    val nbb = c.select(col(Panel.TimeCol).as("__nt"),
      col("__lon").as("__nlon"), col("__lat").as("__nlat"),
      col("__x6").as("__nx6"))
    val zSelf = col("__n").cast(Dec) * col("__x6") - col("__s6")
    val zNb = col("__n").cast(Dec) * col("__nx6") - col("__s6")
    val sums = c
      .crossJoin(broadcast(offsets(panel.sparkSession, withSelf = false)))
      .join(nbb, col("__nt") === col(Panel.TimeCol) &&
        col("__nlon") === col("__lon") + col("dx") &&
        col("__nlat") === col("__lat") + col("dy"))
      .join(broadcast(ms), Panel.TimeCol)
      .groupBy(col(Panel.TimeCol), col(Panel.UnitCol))
      .agg(count(lit(1)).as("w_i"),
        max(zSelf).as("__zi"), sum(zNb).as("__zsum"))
    val denInt = col("__n").cast(Dec) * col("__n") * col("__q") -
      col("__n").cast(Dec) * col("__s6") * col("__s6")
    sums.join(broadcast(ms), Panel.TimeCol)
      .select(col(Panel.TimeCol), col(Panel.UnitCol), col("w_i"),
        when(denInt === 0, lit(null).cast("double"))
          .otherwise(round(
            col("__n").cast("double") *
              ((col("__zi") * col("__zsum")).cast("double") /
                denInt.cast("double")), 6))
          .as("local_i"))
  }

  /** Emerging-hot-spot classification per cell — the spatio-temporal
    * composition the Gi* series exists for (conflict-diffusion
    * screening: WHERE is escalation starting, persisting, fading): the
    * monthly [[getisOrdGi]] z-scores per cell feed a Mann–Kendall
    * trend (exact integer S over the 1e-6-rounded gi series) plus
    * hot/cold month counts — one [[Panel.reduce]] per cell over its gi
    * series in month order — and a deterministic taxonomy labels each
    * cell:
    *  - `intensifying` — hot ≥ 90% of months AND rising (S > 0)
    *  - `persistent`   — hot ≥ 90% of months
    *  - `emerging`     — hot in the LAST month, hot ≤ half the months
    *  - `sporadic`     — hot somewhere, none of the above
    *  - `none`         — never hot
    * All inputs are gate-deterministic (gi is 1e-6-rounded; counts and
    * S integers), so the labels are layout- and engine-exact.
    *
    * @return (unit_id, n_months, n_hot, n_cold, mk_s, pattern)
    */
  def emergingHotspots(panel: DataFrame, valueCol: String,
                       lonCol: String = "lon", latCol: String = "lat",
                       z: Double = 1.96): DataFrame = {
    val gi = getisOrdGi(panel, valueCol, lonCol, latCol)
      .select(col(Panel.TimeCol), col(Panel.UnitCol), col("gi"))
      .filter(col("gi").isNotNull)
    val per = Panel.reduce(gi, Panel.UnitCol, Some(Panel.TimeCol), Seq("gi"),
        Seq(StructField("n_months", LongType, nullable = false), StructField("n_hot", LongType),
          StructField("n_cold", LongType), StructField("__last_gi", DoubleType),
          StructField("mk_s", LongType))) { g =>
      val v = g.doubles(0)
      Seq(Row(v.length.toLong, v.count(UnitScan.sqlGreater(_, z)).toLong,
        v.count(UnitScan.sqlGreater(-z, _)).toLong, v.last, TemporalOps.mannKendallS(v)))
    }
    per.select(col(Panel.UnitCol), col("n_months"), col("n_hot"),
        col("n_cold"), col("mk_s"),
        when(col("n_hot") * 10 >= col("n_months") * 9 && col("mk_s") > 0,
          "intensifying")
          .when(col("n_hot") * 10 >= col("n_months") * 9, "persistent")
          .when(col("__last_gi") > z &&
            col("n_hot") * 2 <= col("n_months"), "emerging")
          .when(col("n_hot") > 0, "sporadic")
          .otherwise("none").as("pattern"))
  }

  /** Local Getis–Ord Gi* per (month, cell) over queen-plus-self
    * contiguity:
    *   Gi* = (Σⱼ wᵢⱼ xⱼ − x̄·Wᵢ) / (s·√((n·Wᵢ − Wᵢ²)/(n−1)))
    * with x̄/s the month's cross-sectional mean and population std.
    * Every input (neighbour sum, Wᵢ, moments) is exact; the z-score is
    * one closed form. |Gi*| ≳ 2 flags a hot/cold spot.
    *
    * @return (month_id, unit_id, w_i, gi) — null when s = 0 or n ≤ 1
    */
  def getisOrdGi(panel: DataFrame, valueCol: String,
                 lonCol: String = "lon", latCol: String = "lat"): DataFrame = {
    val c = cells(panel, valueCol, lonCol, latCol)
    val ms = monthStats(c)
    val nb = c.select(col(Panel.TimeCol).as("__nt"),
      col("__lon").as("__nlon"), col("__lat").as("__nlat"),
      col("__x6").as("__nx6"))
    val gs = c
      .crossJoin(broadcast(offsets(panel.sparkSession, withSelf = true)))
      .join(nb, col("__nt") === col(Panel.TimeCol) &&
        col("__nlon") === col("__lon") + col("dx") &&
        col("__nlat") === col("__lat") + col("dy"))
      .groupBy(col(Panel.TimeCol), col(Panel.UnitCol))
      .agg(count(lit(1)).as("w_i"),
        sum(col("__nx6").cast(Dec)).as("__g6"))
    val mean = col("__s6").cast("double") / col("__n") / 1e6
    val varPop = (col("__n").cast(Dec) * col("__q") -
      col("__s6") * col("__s6")).cast("double") /
      col("__n") / col("__n") / 1e12
    val varInt = col("__n").cast(Dec) * col("__q") -
      col("__s6") * col("__s6")
    val gi = (col("__g6").cast("double") / 1e6 - mean * col("w_i")) /
      (sqrt(varPop) *
        sqrt((col("__n") * col("w_i") - col("w_i") * col("w_i"))
          .cast("double") / (col("__n") - 1)))
    gs.join(broadcast(ms), Panel.TimeCol)
      .select(col(Panel.TimeCol), col(Panel.UnitCol), col("w_i"),
        when(varInt === 0 || col("__n") <= 1 ||
            col("__n") * col("w_i") - col("w_i") * col("w_i") === 0,
          lit(null).cast("double"))
          .otherwise(round(gi, 6)).as("gi"))
  }
}
