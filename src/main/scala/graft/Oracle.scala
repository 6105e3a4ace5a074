package graft

/** DuckDB oracle SQL for every SQL-expressible operator. Each string is
  * self-contained ANSI SQL over the driver-registered parquet tables
  * (`events`, `documents`, `embeddings`, `lineitem`, ...).
  *
  * The panel CTE mirrors graft.Panel exactly: time = day-of-month of
  * `ts`, unit = `user_id`, features value (sum) / value2 (count), dense
  * cross-product reindex with 0.0 fill. Column names and types are
  * aligned with the Spark side (BIGINT keys, DOUBLE measures, INTEGER
  * indicators) because the driver hash-compares by sorted column name.
  */
object Oracle {

  /** Shared dense-panel CTE prefix (ends inside the WITH list, so
    * queries can append further CTEs before the final SELECT).
    *
    * `value` mirrors Panel.fromEvents's r14 merge-order-invariant
    * derivation: per-event 1e-9 integer fixings, an INTEGER cell sum
    * (order-invariant under any merge schedule, where a float SUM's
    * last ULP depends on each engine's parallel merge order), then ONE
    * correctly-rounded division back to double. The HUGEINT total is
    * cast to BIGINT before the divide because DuckDB's int128→double
    * cast is not correctly rounded (~0.6% of big integers off by
    * 1 ULP), while int64→double is exact hardware rounding — the same
    * op Spark's long→double cast performs.
    */
  val panel: String =
    """WITH raw AS (
      |  SELECT CAST(day(ts) AS BIGINT) AS month_id,
      |         CAST(user_id AS BIGINT) AS unit_id,
      |         CAST(SUM(CAST(round(value * 1e9) AS BIGINT)) AS BIGINT) / 1e9 AS value,
      |         CAST(COUNT(*) AS DOUBLE) AS value2
      |  FROM events GROUP BY 1, 2
      |), months AS (SELECT DISTINCT month_id FROM raw),
      |units AS (SELECT DISTINCT unit_id FROM raw),
      |panel AS (
      |  SELECT m.month_id, u.unit_id,
      |         COALESCE(r.value, 0.0) AS value,
      |         COALESCE(r.value2, 0.0) AS value2
      |  FROM months m CROSS JOIN units u
      |  LEFT JOIN raw r ON r.month_id = m.month_id AND r.unit_id = u.unit_id
      |)""".stripMargin

  /** Panel with deterministic missingness in `value` (graft.Panel.missingPanel). */
  val mpanel: String = panel +
    """, mpanel AS (
      |  SELECT month_id, unit_id,
      |         CASE WHEN (unit_id*31 + month_id) % 7 = 0 THEN NULL ELSE value END AS value,
      |         value2
      |  FROM panel
      |)""".stripMargin

  private val wuo = "PARTITION BY unit_id ORDER BY month_id"
  private def trail(n: Int) =
    s"$wuo ROWS BETWEEN ${n - 1} PRECEDING AND CURRENT ROW"
  private val cum = s"$wuo ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
  private val fut = s"$wuo ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING"

  // --- §2.2 pointwise -----------------------------------------------------

  val qIdentity: String =
    s"$panel SELECT month_id, unit_id, value, value2 FROM panel"

  val qGe: String =
    s"""$panel SELECT month_id, unit_id,
       | CAST(CASE WHEN value >= 50.0 THEN 1 ELSE 0 END AS INTEGER) AS ge_50
       | FROM panel""".stripMargin

  val qLe: String =
    s"""$panel SELECT month_id, unit_id,
       | CAST(CASE WHEN value <= 50.0 THEN 1 ELSE 0 END AS INTEGER) AS le_50
       | FROM panel""".stripMargin

  val qInRange: String =
    s"""$panel SELECT month_id, unit_id,
       | CAST(CASE WHEN value BETWEEN 10.0 AND 100.0 THEN 1 ELSE 0 END AS INTEGER) AS in_range
       | FROM panel""".stripMargin

  val qLn: String =
    s"$panel SELECT month_id, unit_id, LN(1.0 + value) AS ln_val FROM panel"

  val qDecay: String =
    s"$panel SELECT month_id, unit_id, POWER(2.0, (value * -1.0) / 12.0) AS decay_12 FROM panel"

  /** Winsorize / robust-scale (UnitScan.Winsorize/RobustScale):
    * per-unit quantile_cont ≡ Spark's linear-interpolating
    * `percentile`; the 1e-6 in-query rounding (both engines) absorbs
    * any interpolation-formula float noise in the last bits.
    */
  val qWinsorize: String =
    s"""$panel, q AS (
       |  SELECT month_id, unit_id, value,
       |    quantile_cont(value, 0.05) OVER (PARTITION BY unit_id) AS lo,
       |    quantile_cont(value, 0.95) OVER (PARTITION BY unit_id) AS hi
       |  FROM panel)
       |SELECT month_id, unit_id,
       |  round(least(greatest(value, lo), hi), 6) AS winsorized FROM q""".stripMargin

  val qRobustScale: String =
    s"""$panel, q AS (
       |  SELECT month_id, unit_id, value,
       |    quantile_cont(value, 0.5) OVER (PARTITION BY unit_id) AS med,
       |    quantile_cont(value, 0.75) OVER (PARTITION BY unit_id)
       |      - quantile_cont(value, 0.25) OVER (PARTITION BY unit_id) AS iqr
       |  FROM panel)
       |SELECT month_id, unit_id,
       |  CASE WHEN iqr = 0.0 THEN 0.0
       |       ELSE round((value - med) / iqr, 6) END AS scaled FROM q""".stripMargin

  /** EWMA (UnitScan.Ewma, α=0.5 span=6): the lag-stack formulation
    * verbatim — αʲ weights are exact binary fractions at α=0.5, so the
    * only float noise is summation (absorbed by the 1e-6 rounding the
    * Spark side applies too).
    */
  def qEwma(alpha: Double = 0.5, span: Int = 6): String = {
    val over = "OVER (PARTITION BY unit_id ORDER BY month_id)"
    def x(j: Int) = if (j == 0) "value" else s"lag(value, $j) $over"
    val num = (0 until span).map(j =>
      s"CASE WHEN ${x(j)} IS NOT NULL THEN ${x(j)} * ${math.pow(alpha, j)} ELSE 0.0 END")
      .mkString("(", " + ", ")")
    val den = (0 until span).map(j =>
      s"CASE WHEN ${x(j)} IS NOT NULL THEN ${math.pow(alpha, j)} ELSE 0.0 END")
      .mkString("(", " + ", ")")
    s"""$panel
       |SELECT month_id, unit_id,
       |  round($num / $den, 6) AS ewma
       |FROM panel""".stripMargin
  }

  /** CUSUM (UnitScan.Cusum over Panel.densePanel9, h=3):
    * running deviation sum + breach at h unit-σ. Mirrors the impl's
    * r14 integer wire exactly: the panel input itself never leaves
    * integer space — `v9` is an integer SUM of PER-EVENT 1e-9 fixings
    * (per-event raw doubles are identical bits in both engines, a
    * single-value round is engine-stable, and an INTEGER sum is
    * order-invariant under any merge schedule — where the old float
    * `SUM(value)` + one fixing of the total carried each engine's
    * merge-order ULP noise straight onto the 1e-9 grid, the r08–r13
    * recurring driver flip), μ is fixed to the same grid from the
    * exact integer total, and the cancellation `S_t − n_t·μ9` is pure
    * integer arithmetic. The breach flag is the r13 integer
    * certificate (no float anywhere in the decision — DuckDB's
    * int128→double cast is not correctly rounded, so even an
    * exact-integer sqrt rendezvous would leak): with
    * `ex = N·Σv9² − (Σv9)²` and `A = |cs9| − 500`,
    * breach ⟺ A ≥ 0 AND (A·N)²·d ≥ u·ex, h² = u/d exact — every
    * operand a HUGEINT (overflow errors loudly, mirroring the Spark
    * side's null-guard). The cusum OUTPUT goes through the 1e-6
    * integer grid too (`cs6 = sign·((|cs9|+500) // 1000)`, integer
    * division): one exact BIGINT→DOUBLE cast + one correctly-rounded
    * division — not a single engine-variant double survives into the
    * hashed output, so no round() call exists to sit on a tie.
    */
  def qCusum(h: Double = 3.0): String = {
    val (u, d) = graft.ops.TemporalOps.cusumRational(h)
    val (uS, dS) = (u.toBigInt.toString, d.toBigInt.toString)
    s"""WITH raw9 AS (
       |  SELECT CAST(day(ts) AS BIGINT) AS month_id,
       |         CAST(user_id AS BIGINT) AS unit_id,
       |         CAST(SUM(CAST(round(value * 1e9) AS BIGINT)) AS BIGINT) AS v9
       |  FROM events GROUP BY 1, 2
       |), months AS (SELECT DISTINCT month_id FROM raw9),
       |units AS (SELECT DISTINCT unit_id FROM raw9),
       |fx AS (
       |  SELECT m.month_id, u.unit_id, COALESCE(r.v9, 0) AS v9
       |  FROM months m CROSS JOIN units u
       |  LEFT JOIN raw9 r ON r.month_id = m.month_id AND r.unit_id = u.unit_id
       |),
       |st AS (
       |  SELECT month_id, unit_id,
       |    CAST(round(
       |      CAST(CAST(sum(v9) OVER (PARTITION BY unit_id) AS BIGINT) AS DOUBLE)
       |      / CAST(count(v9) OVER (PARTITION BY unit_id) AS DOUBLE)
       |    ) AS BIGINT) AS mu9,
       |    count(v9) OVER (PARTITION BY unit_id) AS nu,
       |    CAST(count(v9) OVER (PARTITION BY unit_id) AS HUGEINT)
       |      * sum(CAST(v9 AS HUGEINT) * v9) OVER (PARTITION BY unit_id)
       |      - sum(v9) OVER (PARTITION BY unit_id)
       |      * sum(v9) OVER (PARTITION BY unit_id) AS ex,
       |    CAST(sum(v9) OVER (PARTITION BY unit_id ORDER BY month_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s9,
       |    count(v9) OVER (PARTITION BY unit_id ORDER BY month_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n9
       |  FROM fx),
       |cs AS (
       |  SELECT month_id, unit_id, nu, ex,
       |    s9 - n9 * mu9 AS cs9
       |  FROM st)
       |SELECT month_id, unit_id,
       |  CAST(CASE WHEN cs9 < 0 THEN -((abs(cs9) + 500) // 1000)
       |            ELSE (abs(cs9) + 500) // 1000 END AS DOUBLE) / 1e6 AS cusum,
       |  CAST(CASE WHEN abs(cs9) - 500 < 0 THEN FALSE
       |       ELSE (CAST(abs(cs9) - 500 AS HUGEINT) * nu)
       |          * (CAST(abs(cs9) - 500 AS HUGEINT) * nu) * $dS
       |          >= $uS * ex END AS INTEGER) AS breach
       |FROM cs""".stripMargin
  }

  /** Per-unit OLS trend (UnitScan.Trend): slope/intercept from
    * the closed-form normal equations, both rounded 1e-9 before the
    * t-multiplying fit and the intercept derived from the rounded
    * slope — identical arithmetic to the Spark side.
    */
  val qTrend: String =
    s"""$panel, st AS (
       |  SELECT month_id, unit_id, value,
       |    CAST(month_id AS DOUBLE) AS t,
       |    CAST(count(value) OVER (PARTITION BY unit_id) AS DOUBLE) AS n,
       |    sum(CAST(month_id AS DOUBLE)) OVER (PARTITION BY unit_id) AS s_t,
       |    sum(value) OVER (PARTITION BY unit_id) AS s_x,
       |    sum(CAST(month_id AS DOUBLE) * value) OVER (PARTITION BY unit_id) AS s_tx,
       |    sum(CAST(month_id AS DOUBLE) * CAST(month_id AS DOUBLE))
       |      OVER (PARTITION BY unit_id) AS s_tt
       |  FROM panel),
       |fit AS (
       |  SELECT month_id, unit_id, value, t,
       |    round(CASE WHEN n * s_tt - s_t * s_t = 0.0 THEN 0.0
       |          ELSE (n * s_tx - s_t * s_x) / (n * s_tt - s_t * s_t) END, 9) AS slope,
       |    s_x, s_t, n
       |  FROM st),
       |fit2 AS (
       |  SELECT month_id, unit_id, value, t, slope,
       |    round(s_x / n - slope * (s_t / n), 9) AS icept
       |  FROM fit)
       |SELECT month_id, unit_id, slope,
       |  round(slope * t + icept, 6) AS fitted,
       |  round(value - (slope * t + icept), 6) AS detrended
       |FROM fit2""".stripMargin

  /** Trailing-window Pearson correlation (UnitScan.RollingCorr):
    * the explicit-sums formula with 1e-9-rounded variance guards —
    * same arithmetic as the Spark side, never an engine-native corr.
    */
  def qRollingCorr(win: Int = 6): String = {
    val f = s"OVER (PARTITION BY unit_id ORDER BY month_id ROWS BETWEEN ${win - 1} PRECEDING AND CURRENT ROW)"
    s"""$panel, st AS (
       |  SELECT month_id, unit_id,
       |    CAST(count(CASE WHEN value IS NOT NULL AND value2 IS NOT NULL THEN 1 END) $f AS DOUBLE) AS n,
       |    sum(value) $f AS sx, sum(value2) $f AS sy,
       |    sum(value * value) $f AS sxx,
       |    sum(value2 * value2) $f AS syy,
       |    sum(value * value2) $f AS sxy
       |  FROM panel),
       |g AS (
       |  SELECT month_id, unit_id, n, sx, sy, sxy,
       |    round(n * sxx - sx * sx, 9) AS vx,
       |    round(n * syy - sy * sy, 9) AS vy
       |  FROM st)
       |SELECT month_id, unit_id,
       |  CASE WHEN n < 2.0 OR vx <= 0.0 OR vy <= 0.0 THEN NULL
       |       ELSE round((n * sxy - sx * sy) / sqrt(vx * vy), 6) END AS rcorr
       |FROM g""".stripMargin
  }

  /** PSI numeric drift (Sampling.psi, first-half vs second-half
    * months, 10 fixed-width bins from the reference min/max, α = 0.5):
    * identical edge rounding, clamping, smoothing, and log shape.
    */
  def qPsi(bins: Int = 10, alpha: Double = 0.5): String = {
    val ba = bins * alpha
    s"""$panel,
       |r AS (SELECT value AS v FROM panel
       |      WHERE month_id <= 15 AND value IS NOT NULL AND NOT isnan(value)),
       |c AS (SELECT value AS v FROM panel
       |      WHERE month_id > 15 AND value IS NOT NULL AND NOT isnan(value)),
       |st AS (SELECT round(min(v), 9) AS mn,
       |              round((max(v) - min(v)) / $bins, 9) AS w FROM r),
       |br AS (SELECT least(greatest(CASE WHEN w = 0.0 THEN 0
       |           ELSE CAST(floor((v - mn) / w) AS INTEGER) END, 0), ${bins - 1}) AS bin,
       |         CAST(COUNT(*) AS BIGINT) AS n
       |       FROM r, st GROUP BY 1),
       |bc AS (SELECT least(greatest(CASE WHEN w = 0.0 THEN 0
       |           ELSE CAST(floor((v - mn) / w) AS INTEGER) END, 0), ${bins - 1}) AS bin,
       |         CAST(COUNT(*) AS BIGINT) AS n
       |       FROM c, st GROUP BY 1),
       |spine AS (SELECT CAST(range AS INTEGER) AS bin FROM range($bins)),
       |j AS (SELECT s.bin, CAST(COALESCE(br.n, 0) AS BIGINT) AS n_ref,
       |             CAST(COALESCE(bc.n, 0) AS BIGINT) AS n_cur
       |      FROM spine s LEFT JOIN br ON br.bin = s.bin
       |      LEFT JOIN bc ON bc.bin = s.bin),
       |tot AS (SELECT SUM(n_ref) AS tr, SUM(n_cur) AS tc FROM j),
       |t AS (SELECT j.*, (n_ref + $alpha) / (tr + $ba) AS p,
       |             (n_cur + $alpha) / (tc + $ba) AS q
       |      FROM j, tot),
       |t2 AS (SELECT *, round((q - p) * ln(q / p), 9) AS term FROM t)
       |SELECT bin, n_ref, n_cur,
       |  round(p, 6) AS share_ref, round(q, 6) AS share_cur,
       |  round(term, 6) AS psi_term,
       |  round(SUM(term) OVER (), 6) AS psi_total
       |FROM t2""".stripMargin
  }

  /** Additive seasonal decomposition (UnitScan.Decompose). */
  def qDecompose(period: Int = 7, half: Int = 2): String =
    s"""$panel, t AS (
       |  SELECT month_id, unit_id, value,
       |    avg(value) OVER (PARTITION BY unit_id ORDER BY month_id
       |      ROWS BETWEEN $half PRECEDING AND $half FOLLOWING) AS trend
       |  FROM panel),
       |s AS (
       |  SELECT *, avg(value - trend)
       |    OVER (PARTITION BY unit_id, month_id % $period) AS seasonal
       |  FROM t)
       |SELECT month_id, unit_id, round(trend, 6) AS trend,
       |  round(seasonal, 6) AS seasonal,
       |  round(value - trend - seasonal, 6) AS residual
       |FROM s""".stripMargin

  /** Panel completeness diagnostic (MissingOps.panelGaps): grid cells
    * absent from the sparse aggregated panel.
    */
  val qPanelGaps: String =
    s"""$panel SELECT m.month_id, u.unit_id
       |FROM months m CROSS JOIN units u
       |WHERE NOT EXISTS (SELECT 1 FROM raw r
       |  WHERE r.month_id = m.month_id AND r.unit_id = u.unit_id)""".stripMargin

  val qAdd: String =
    s"$panel SELECT month_id, unit_id, value + value2 AS added FROM panel"
  val qSub: String =
    s"$panel SELECT month_id, unit_id, value - value2 AS subtracted FROM panel"
  val qMul: String =
    s"$panel SELECT month_id, unit_id, value * value2 AS multiplied FROM panel"
  val qDiv: String =
    s"""$panel SELECT month_id, unit_id, value / value2 AS divided
       | FROM panel WHERE value2 > 0.0""".stripMargin

  // --- §2.5 temporal windows ----------------------------------------------

  val qTlag: String =
    s"$panel SELECT month_id, unit_id, LAG(value, 2) OVER ($wuo) AS tlag_2 FROM panel"

  /** tlag3d multi-lag: zeros (not null) outside the series start. */
  val qTlags3d: String =
    s"""$panel SELECT month_id, unit_id,
       | COALESCE(LAG(value, 1) OVER ($wuo), 0.0) AS tlag_1,
       | COALESCE(LAG(value, 3) OVER ($wuo), 0.0) AS tlag_3,
       | COALESCE(LAG(value, 6) OVER ($wuo), 0.0) AS tlag_6
       | FROM panel""".stripMargin

  val qTlead: String =
    s"$panel SELECT month_id, unit_id, LEAD(value, 2) OVER ($wuo) AS tlead_2 FROM panel"

  val qDelta: String =
    s"$panel SELECT month_id, unit_id, value - LAG(value, 1) OVER ($wuo) AS delta_1 FROM panel"

  val qMavg: String =
    s"$panel SELECT month_id, unit_id, AVG(value) OVER (${trail(3)}) AS mavg_3 FROM panel"

  val qMsum: String =
    s"$panel SELECT month_id, unit_id, SUM(value) OVER (${trail(5)}) AS msum_5 FROM panel"

  val qRollmax: String =
    s"$panel SELECT month_id, unit_id, MAX(value) OVER (${trail(4)}) AS rollmax_4 FROM panel"

  val qRollingMedian: String =
    s"""$panel SELECT month_id, unit_id,
       |  round(quantile_cont(value, 0.5) OVER (${trail(7)}), 6)
       |    AS rmed FROM panel""".stripMargin

  val qMean: String =
    s"$panel SELECT month_id, unit_id, AVG(value) OVER (PARTITION BY unit_id) AS mean_val FROM panel"

  val qDemean: String =
    s"$panel SELECT month_id, unit_id, value - AVG(value) OVER (PARTITION BY unit_id) AS demeaned FROM panel"

  private def cweqSql(src: String, valueExpr: String, v: String,
                      seed: Option[Int], out: String): String = {
    val mask = s"CASE WHEN $valueExpr = $v THEN 1 ELSE 0 END"
    val cnt = seed match {
      case Some(s) =>
        s"""CASE WHEN month_id = (SELECT MIN(month_id) FROM $src) AND $valueExpr = $v
           | THEN $s ELSE $mask END""".stripMargin
      case None => mask
    }
    s"""cw AS (
       |  SELECT month_id, unit_id, $cnt AS cnt,
       |    SUM(CASE WHEN $valueExpr = $v THEN 0 ELSE 1 END) OVER ($cum) AS block
       |  FROM $src)
       |SELECT month_id, unit_id,
       |  CAST(SUM(cnt) OVER (PARTITION BY unit_id, block ORDER BY month_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INTEGER) AS $out
       |FROM cw""".stripMargin
  }

  val qCweq: String =
    s"$panel, ${cweqSql("panel", "value", "0.0", None, "cweq")}"

  val qCweqSeed: String =
    s"$panel, ${cweqSql("panel", "value", "0.0", Some(12), "cweq")}"

  val qTimeSince: String =
    s"""$panel, lagged AS (
       |  SELECT month_id, unit_id, LAG(value, 1) OVER ($wuo) AS lv FROM panel
       |), kept AS (SELECT * FROM lagged WHERE lv IS NOT NULL),
       |${cweqSql("kept", "lv", "0.0", None, "time_since")}""".stripMargin

  val qOnsetPossible: String =
    s"""$panel, lz AS (
       |  SELECT month_id, unit_id, value,
       |         COALESCE(LAG(value, 1) OVER ($wuo), 0.0) AS lv0
       |  FROM panel)
       |SELECT month_id, unit_id,
       |  CAST(CASE WHEN MAX(lv0) OVER (${trail(6)}) = 0.0 THEN 1 ELSE 0 END AS INTEGER) AS onset_possible
       |FROM lz""".stripMargin

  val qOnset: String =
    s"""$panel, lz AS (
       |  SELECT month_id, unit_id, value,
       |         COALESCE(LAG(value, 1) OVER ($wuo), 0.0) AS lv0
       |  FROM panel)
       |SELECT month_id, unit_id,
       |  CAST(CASE WHEN MAX(lv0) OVER (${trail(6)}) = 0.0 AND value <> 0.0
       |       THEN 1 ELSE 0 END AS INTEGER) AS onset
       |FROM lz""".stripMargin

  val qTick: String =
    s"""$panel, lagged AS (
       |  SELECT month_id, unit_id, value, LAG(value, 1) OVER ($wuo) AS lv FROM panel
       |), kept AS (SELECT * FROM lagged WHERE lv IS NOT NULL),
       |cw AS (
       |  SELECT month_id, unit_id, value,
       |    CASE WHEN lv = 0.0 THEN 1 ELSE 0 END AS cnt,
       |    SUM(CASE WHEN lv = 0.0 THEN 0 ELSE 1 END) OVER ($cum) AS block
       |  FROM kept),
       |tis AS (
       |  SELECT month_id, unit_id, value,
       |    CAST(SUM(cnt) OVER (PARTITION BY unit_id, block ORDER BY month_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS time_since
       |  FROM cw)
       |SELECT month_id, unit_id,
       |  CASE WHEN LAG(value, 1) OVER ($wuo) <> 0.0 THEN 0.0
       |       ELSE LAG(time_since, 1) OVER ($wuo) + 1.0 END AS tick
       |FROM tis""".stripMargin

  /** Batch equivalence of the streaming panel build
    * (PanelStream.panelAggregate): the 1-day event-time windows reduce
    * to the raw day-of-month aggregation on the one-month synthetic
    * span.
    */
  val qPanelStream: String =
    """SELECT CAST(day(ts) AS BIGINT) AS month_id,
      |       CAST(user_id AS BIGINT) AS unit_id,
      |       CAST(SUM(CAST(round(value * 1e9) AS BIGINT)) AS BIGINT) / 1e9 AS value,
      |       CAST(COUNT(*) AS DOUBLE) AS value2
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Batch-equivalent of the streaming tick (TickStream.updateGroup):
    * NULL on each unit's first row (no prior step), 0 right after an
    * event, else the length of the zero-run ending at the previous row
    * (gaps-and-islands on the cumulative event count).
    */
  val qTickStream: String =
    s"""$panel, z AS (
       |  SELECT month_id, unit_id, value,
       |    SUM(CASE WHEN value <> 0.0 THEN 1 ELSE 0 END) OVER ($cum) AS grp
       |  FROM panel),
       |r AS (
       |  SELECT month_id, unit_id, value,
       |    SUM(CASE WHEN value = 0.0 THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY unit_id, grp ORDER BY month_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS zrun
       |  FROM z)
       |SELECT month_id, unit_id,
       |  CASE WHEN LAG(value) OVER ($wuo) IS NULL THEN NULL
       |       WHEN LAG(value) OVER ($wuo) <> 0.0 THEN 0.0
       |       ELSE CAST(LAG(zrun) OVER ($wuo) AS DOUBLE) END AS tick
       |FROM r""".stripMargin

  /** Bit-exact parity with UnitScan.TemporalEntropy: LN-ratio (Spark's
    * log(2.0, x) = ln x / ln 2, and DuckDB's LOG2 differs from it in the
    * last ulp) and left-to-right list-folds for the trailing sums (Spark's
    * sliding window frame recomputes the aggregate in frame order, while
    * DuckDB's windowed SUM uses segment-tree association).
    */
  val qEntropy: String =
    s"""$panel, t AS (
       |  SELECT month_id, unit_id, value + 1.0 AS x,
       |    CASE WHEN value + 1.0 > 0.0
       |      THEN (value + 1.0) * (LN(value + 1.0) / LN(2.0)) ELSE 0.0 END AS term
       |  FROM panel),
       |e AS (
       |  SELECT month_id, unit_id,
       |    list_reduce(list(x) OVER (${trail(12)}), (a, b) -> a + b) AS x,
       |    list_reduce(list(term) OVER (${trail(12)}), (a, b) -> a + b) AS s
       |  FROM t)
       |SELECT month_id, unit_id,
       |  CASE WHEN x > 0.0 THEN LN(x) / LN(2.0) - s / x ELSE 0.0 END AS entropy
       |FROM e""".stripMargin

  /** Composed pipeline spec crossing operator families (splag4d →
    * tlag): the spatial oracle wrapped by a window lag, mirroring
    * Registry composition order.
    */
  lazy val qPipelineChain: String =
    s"""SELECT month_id, unit_id,
       |  LAG(splag, 2) OVER ($wuo) AS lagged
       |FROM ($qSplag4d)""".stripMargin

  // --- §2.10 missing data --------------------------------------------------

  val qReplaceNa: String =
    s"$mpanel SELECT month_id, unit_id, COALESCE(value, 0.0) AS filled FROM mpanel"

  val qFfill: String =
    s"""$mpanel SELECT month_id, unit_id,
       | COALESCE(value, LAST_VALUE(value IGNORE NULLS) OVER ($cum)) AS filled
       | FROM mpanel""".stripMargin

  val qBfill: String =
    s"""$mpanel SELECT month_id, unit_id,
       | COALESCE(value, FIRST_VALUE(value IGNORE NULLS) OVER ($fut)) AS filled
       | FROM mpanel""".stripMargin

  val qFillBoth: String =
    s"""$mpanel SELECT month_id, unit_id,
       | COALESCE(value,
       |   LAST_VALUE(value IGNORE NULLS) OVER ($cum),
       |   FIRST_VALUE(value IGNORE NULLS) OVER ($fut)) AS filled
       | FROM mpanel""".stripMargin

  val qFillInside: String =
    s"""$mpanel, b AS (
       |  SELECT month_id, unit_id, value,
       |    LAST_VALUE(value IGNORE NULLS) OVER ($cum) AS pv,
       |    FIRST_VALUE(value IGNORE NULLS) OVER ($fut) AS nv
       |  FROM mpanel)
       |SELECT month_id, unit_id,
       |  CASE WHEN value IS NULL AND pv IS NOT NULL AND nv IS NOT NULL
       |       THEN pv ELSE value END AS filled
       |FROM b""".stripMargin

  val qFillOutside: String =
    s"""$mpanel, b AS (
       |  SELECT month_id, unit_id, value,
       |    LAST_VALUE(value IGNORE NULLS) OVER ($cum) AS pv,
       |    FIRST_VALUE(value IGNORE NULLS) OVER ($fut) AS nv
       |  FROM mpanel)
       |SELECT month_id, unit_id,
       |  CASE WHEN value IS NULL AND pv IS NULL THEN nv
       |       WHEN value IS NULL AND nv IS NULL THEN pv
       |       ELSE value END AS filled
       |FROM b""".stripMargin

  val qInterpolate: String =
    s"""$mpanel, r AS (
       |  SELECT month_id, unit_id, value,
       |    ROW_NUMBER() OVER ($wuo) AS rn
       |  FROM mpanel),
       |b AS (
       |  SELECT month_id, unit_id, value, rn,
       |    LAST_VALUE(value IGNORE NULLS) OVER ($cum) AS pv,
       |    FIRST_VALUE(value IGNORE NULLS) OVER ($fut) AS nv,
       |    LAST_VALUE(CASE WHEN value IS NOT NULL THEN rn END IGNORE NULLS) OVER ($cum) AS prn,
       |    FIRST_VALUE(CASE WHEN value IS NOT NULL THEN rn END IGNORE NULLS) OVER ($fut) AS nrn
       |  FROM r)
       |SELECT month_id, unit_id,
       |  CASE WHEN value IS NULL AND pv IS NOT NULL AND nv IS NOT NULL
       |         THEN pv + (nv - pv) * (rn - prn) / (nrn - prn)
       |       WHEN value IS NULL AND nv IS NULL THEN pv
       |       WHEN value IS NULL AND pv IS NULL THEN nv
       |       ELSE value END AS interp
       |FROM b""".stripMargin

  val qGroupGlobalMeans: String =
    s"""$mpanel SELECT month_id, unit_id,
       | COALESCE(value,
       |   AVG(value) OVER (PARTITION BY unit_id),
       |   (SELECT AVG(value) FROM mpanel)) AS filled
       | FROM mpanel""".stripMargin

  val qTimeMeans: String =
    s"""$panel, tm AS (
       |  SELECT month_id, unit_id,
       |    CASE WHEN unit_id % 17 = 0 THEN NULL ELSE value END AS value
       |  FROM panel)
       |SELECT month_id, unit_id,
       |  CASE WHEN COUNT(value) OVER (PARTITION BY unit_id) = 0
       |       THEN AVG(value) OVER (PARTITION BY month_id)
       |       ELSE value END AS filled
       |FROM tm""".stripMargin

  // --- §2.8 spatial ---------------------------------------------------------

  /** Panel with grid coordinates (Grid.unitLon/unitLat embedding). */
  private val cells =
    """cells AS (
      |  SELECT month_id, unit_id,
      |         unit_id % 40 AS lon, unit_id // 40 AS lat, value
      |  FROM panel
      |)""".stripMargin

  private def splag4dSql(inner: Int, width: Int, power: Double, norm: Boolean): String = {
    val kv = spatial.Grid.kernelValuesSql(inner, width, power, norm)
    s"""$panel, $cells, kernel(dx, dy, w) AS (VALUES $kv),
       |contrib AS (
       |  SELECT c.month_id, c.unit_id, SUM(n.value * k.w) AS s
       |  FROM cells c CROSS JOIN kernel k
       |  JOIN cells n ON n.month_id = c.month_id
       |    AND n.lon = c.lon + k.dx AND n.lat = c.lat + k.dy
       |  GROUP BY 1, 2)
       |SELECT p.month_id, p.unit_id, COALESCE(ct.s, 0.0) AS splag
       |FROM panel p LEFT JOIN contrib ct
       |  ON ct.month_id = p.month_id AND ct.unit_id = p.unit_id""".stripMargin
  }

  val qSplag4d: String = splag4dSql(1, 1, 1.0, norm = false)
  val qSplag4dNorm: String = splag4dSql(1, 2, 2.0, norm = true)

  /** Multi-feature kernel lag: both features through one join/agg. */
  val qSplag4dMulti: String = {
    val kv = spatial.Grid.kernelValuesSql(1, 1, 1.0, norm = false)
    s"""$panel, cells2 AS (
       |  SELECT month_id, unit_id,
       |         unit_id % 40 AS lon, unit_id // 40 AS lat, value, value2
       |  FROM panel
       |), kernel(dx, dy, w) AS (VALUES $kv),
       |contrib AS (
       |  SELECT c.month_id, c.unit_id,
       |    SUM(n.value * k.w) AS s1, SUM(n.value2 * k.w) AS s2
       |  FROM cells2 c CROSS JOIN kernel k
       |  JOIN cells2 n ON n.month_id = c.month_id
       |    AND n.lon = c.lon + k.dx AND n.lat = c.lat + k.dy
       |  GROUP BY 1, 2)
       |SELECT p.month_id, p.unit_id,
       |  COALESCE(ct.s1, 0.0) AS splag_value,
       |  COALESCE(ct.s2, 0.0) AS splag_value2
       |FROM panel p LEFT JOIN contrib ct
       |  ON ct.month_id = p.month_id AND ct.unit_id = p.unit_id""".stripMargin
  }

  /** Queen adjacency over the unit grid (month-invariant derivation; the
    * Spark side replicates it per month, which is equivalent).
    */
  private val adj =
    """u AS (SELECT unit_id, unit_id % 40 AS lon, unit_id // 40 AS lat FROM units),
      |adj AS (
      |  SELECT a.unit_id AS a_id, b.unit_id AS b_id
      |  FROM u a, u b
      |  WHERE abs(a.lon - b.lon) <= 1 AND abs(a.lat - b.lat) <= 1
      |    AND a.unit_id <> b.unit_id
      |)""".stripMargin

  val qSplagCountry: String =
    s"""$panel, $adj,
       |lagv AS (
       |  SELECT p.month_id, a.a_id AS unit_id, SUM(p.value) AS s
       |  FROM adj a JOIN panel p ON p.unit_id = a.b_id
       |  GROUP BY 1, 2)
       |SELECT p.month_id, p.unit_id, COALESCE(l.s, 0.0) AS splag
       |FROM panel p LEFT JOIN lagv l
       |  ON l.month_id = p.month_id AND l.unit_id = p.unit_id""".stripMargin

  val qSplagCountryRing2: String =
    s"""$panel, $adj,
       |o1 AS (SELECT unit_id AS seed, unit_id AS member FROM units
       |       UNION SELECT a_id, b_id FROM adj),
       |o2 AS (SELECT seed, member FROM o1
       |       UNION SELECT o1.seed, adj.b_id FROM o1 JOIN adj ON adj.a_id = o1.member),
       |ring AS (SELECT seed, member FROM o2 EXCEPT SELECT seed, member FROM o1),
       |lagv AS (
       |  SELECT p.month_id, r.seed AS unit_id, SUM(p.value) AS s
       |  FROM ring r JOIN panel p ON p.unit_id = r.member
       |  GROUP BY 1, 2)
       |SELECT p.month_id, p.unit_id, COALESCE(l.s, 0.0) AS splag
       |FROM panel p LEFT JOIN lagv l
       |  ON l.month_id = p.month_id AND l.unit_id = p.unit_id""".stripMargin

  val qSplagCountryNorm: String =
    s"""$panel, $adj,
       |adjd AS (
       |  SELECT a_id, b_id,
       |    sqrt(pow(0.5*((a_id % 40) - (b_id % 40)), 2)
       |       + pow(0.5*((a_id // 40) - (b_id // 40)), 2)) AS d
       |  FROM adj),
       |nw AS (SELECT a_id, b_id, d / SUM(d) OVER (PARTITION BY a_id) AS w FROM adjd),
       |lagv AS (
       |  SELECT p.month_id, n.a_id AS unit_id, SUM(p.value * n.w) AS s
       |  FROM nw n JOIN panel p ON p.unit_id = n.b_id
       |  GROUP BY 1, 2)
       |SELECT p.month_id, p.unit_id, COALESCE(l.s, 0.0) AS splag
       |FROM panel p LEFT JOIN lagv l
       |  ON l.month_id = p.month_id AND l.unit_id = p.unit_id""".stripMargin

  private val stEvents =
    """ev AS (
      |  SELECT month_id AS e_t, lon AS e_lon, lat AS e_lat,
      |         unit_id AS e_u, value AS e_size
      |  FROM cells WHERE value > 400.0
      |)""".stripMargin

  private def stPairs(nu: Double): String =
    s"""pairs AS (
       |  SELECT c.month_id, c.unit_id, e.e_t, e.e_u, e.e_size,
       |    sqrt(pow(0.5*(c.lon - e.e_lon), 2) + pow(0.5*(c.lat - e.e_lat), 2)
       |       + pow(${Grid.fmt(nu)}*(c.month_id - e.e_t), 2)) AS d
       |  FROM cells c JOIN ev e ON e.e_t <= c.month_id
       |)""".stripMargin
  private def Grid = spatial.Grid

  val qSpacetimeDistK1: String =
    s"""$panel, $cells, $stEvents, ${stPairs(1.0)},
       |mind AS (SELECT month_id, unit_id, MIN(d) AS d FROM pairs GROUP BY 1, 2)
       |SELECT c.month_id, c.unit_id, COALESCE(m.d, 999.0) AS stdist
       |FROM cells c LEFT JOIN mind m
       |  ON m.month_id = c.month_id AND m.unit_id = c.unit_id""".stripMargin

  /** Reference cKDTree semantics: fewer than k cumulative events pads
    * the missing neighbours with inf, so the mean is inf when
    * 0 < count < k (spacetime_distance.py:160-186); count = 0 keeps the
    * 999.0 no-event sentinel.
    */
  val qSpacetimeDistK5: String =
    s"""$panel, $cells, $stEvents, ${stPairs(2.0)},
       |topk AS (
       |  SELECT month_id, unit_id, d,
       |    ROW_NUMBER() OVER (PARTITION BY month_id, unit_id
       |      ORDER BY d, e_t, e_u) AS rn
       |  FROM pairs),
       |agg AS (SELECT month_id, unit_id,
       |          CASE WHEN COUNT(*) < 5 THEN CAST('infinity' AS DOUBLE)
       |               ELSE AVG(d) END AS d
       |        FROM topk WHERE rn <= 5 GROUP BY 1, 2)
       |SELECT c.month_id, c.unit_id, COALESCE(a.d, 999.0) AS stdist
       |FROM cells c LEFT JOIN agg a
       |  ON a.month_id = c.month_id AND a.unit_id = c.unit_id""".stripMargin

  val qSpacetimeWeightsK5: String =
    s"""$panel, $cells, $stEvents, ${stPairs(1.0)},
       |topk AS (
       |  SELECT month_id, unit_id, d, e_size,
       |    ROW_NUMBER() OVER (PARTITION BY month_id, unit_id
       |      ORDER BY d, e_t, e_u) AS rn
       |  FROM pairs),
       |agg AS (
       |  SELECT month_id, unit_id,
       |    AVG(CASE WHEN d = 0.0 THEN e_size ELSE e_size / pow(d, 2.0) END) AS w
       |  FROM topk WHERE rn <= 5 GROUP BY 1, 2)
       |SELECT c.month_id, c.unit_id, COALESCE(a.w, 999.0) AS stdist
       |FROM cells c LEFT JOIN agg a
       |  ON a.month_id = c.month_id AND a.unit_id = c.unit_id""".stripMargin

  /** The flagship pipeline (Registry spec time_since → decay) as SQL:
    * proves the §3 composition surface inside the correctness gate.
    */
  val qPipelineDecay: String =
    s"""$panel, lagged AS (
       |  SELECT month_id, unit_id, LAG(value, 1) OVER ($wuo) AS lv FROM panel
       |), kept AS (SELECT * FROM lagged WHERE lv IS NOT NULL),
       |cw AS (
       |  SELECT month_id, unit_id,
       |    CASE WHEN lv = 0.0 THEN 1 ELSE 0 END AS cnt,
       |    SUM(CASE WHEN lv = 0.0 THEN 0 ELSE 1 END) OVER ($cum) AS block
       |  FROM kept),
       |tis AS (
       |  SELECT month_id, unit_id,
       |    CAST(SUM(cnt) OVER (PARTITION BY unit_id, block ORDER BY month_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS ts
       |  FROM cw)
       |SELECT month_id, unit_id, POWER(2.0, (ts * -1.0) / 12.0) AS value
       |FROM tis""".stripMargin

  val qSpacetimeWeightsK1: String =
    s"""$panel, $cells, $stEvents, ${stPairs(1.0)},
       |topk AS (
       |  SELECT month_id, unit_id, d, e_size,
       |    ROW_NUMBER() OVER (PARTITION BY month_id, unit_id
       |      ORDER BY d, e_t, e_u) AS rn
       |  FROM pairs)
       |SELECT c.month_id, c.unit_id,
       |  COALESCE(CASE WHEN t.d = 0.0 THEN t.e_size
       |                ELSE t.e_size / pow(t.d, 2.0) END, 999.0) AS stdist
       |FROM cells c LEFT JOIN (SELECT * FROM topk WHERE rn = 1) t
       |  ON t.month_id = c.month_id AND t.unit_id = c.unit_id""".stripMargin

  // --- §2.8/§2.9 tree + fourier lags ---------------------------------------

  /** Shared centred power-of-two embedding CTEs (utilities.py:145-216
    * in SQL): gp carries ncells/power, emb the per-unit cell coords.
    */
  private val embSql =
    """g AS (
      |  SELECT MIN(unit_id % 40) AS ln0, MAX(unit_id % 40) AS ln1,
      |         MIN(unit_id // 40) AS lt0, MAX(unit_id // 40) AS lt1
      |  FROM units),
      |gp AS (
      |  SELECT ln0, ln1, lt0, lt1, pw AS power,
      |         CAST(pow(2.0, pw) AS BIGINT) AS ncells
      |  FROM (SELECT *,
      |          1 + CAST(floor(log2(greatest(ln1 - ln0, lt1 - lt0))) AS INT) AS pw
      |        FROM g)),
      |emb AS (
      |  SELECT u.unit_id,
      |         (u.unit_id % 40) - ln0 + (ncells - (ln1 - ln0)) // 2 AS ex,
      |         (u.unit_id // 40) - lt0 + (ncells - (lt1 - lt0)) // 2 AS ey
      |  FROM units u, gp)""".stripMargin

  /** Closed-form Barnes-Hut interaction lists in SQL: a node is accepted
    * by a target iff every proper ancestor is opened (theta > crit) and
    * the node itself either satisfies theta <= crit or is a foreign leaf
    * (equivalent to the reference's BFS walk, spatial_tree.py:296-372).
    */
  private def treeLagSql(thetacrit: Double, wExpr: String): String =
    s"""$panel, $embSql,
       |lvs AS (SELECT l AS level FROM (VALUES (0),(1),(2),(3),(4),(5),
       |        (6),(7),(8),(9),(10)) v(l), gp WHERE l <= power),
       |mem AS (
       |  SELECT e.unit_id, l.level,
       |         e.ex // (gp.ncells // (1 << l.level)) AS nx,
       |         e.ey // (gp.ncells // (1 << l.level)) AS ny
       |  FROM emb e, lvs l, gp),
       |nodes AS (SELECT DISTINCT level, nx, ny FROM mem),
       |nodevals AS (
       |  SELECT p.month_id, m.level, m.nx, m.ny, SUM(p.value) AS v
       |  FROM panel p JOIN mem m ON m.unit_id = p.unit_id
       |  GROUP BY 1, 2, 3, 4),
       |cand AS (
       |  SELECT t.unit_id, t.ex, t.ey, n.level, n.nx, n.ny,
       |         gp.ncells // (1 << n.level) AS s, gp.power
       |  FROM emb t, nodes n, gp),
       |cand2 AS (
       |  SELECT *, sqrt(pow(ex + 0.5 - (nx * s + s / 2.0) + 0.01, 2)
       |               + pow(ey + 0.5 - (ny * s + s / 2.0) + 0.01, 2)) AS d
       |  FROM cand),
       |anc AS (
       |  SELECT c.unit_id, c.ex, c.ey, c.level, c.nx, c.ny,
       |         gp.ncells // (1 << la.level) AS sa,
       |         c.nx // (1 << (c.level - la.level)) AS anx,
       |         c.ny // (1 << (c.level - la.level)) AS any_
       |  FROM cand c, lvs la, gp WHERE la.level < c.level),
       |ancbad AS (
       |  SELECT DISTINCT unit_id, level, nx, ny FROM anc
       |  WHERE sa / sqrt(pow(ex + 0.5 - (anx * sa + sa / 2.0) + 0.01, 2)
       |                + pow(ey + 0.5 - (any_ * sa + sa / 2.0) + 0.01, 2))
       |        <= $thetacrit),
       |il AS (
       |  SELECT c.unit_id, c.level, c.nx, c.ny, $wExpr AS w
       |  FROM cand2 c
       |  WHERE (c.s / c.d <= $thetacrit OR c.level = c.power)
       |    AND NOT (c.level = c.power AND c.nx = c.ex AND c.ny = c.ey)
       |    AND NOT EXISTS (SELECT 1 FROM ancbad b
       |      WHERE b.unit_id = c.unit_id AND b.level = c.level
       |        AND b.nx = c.nx AND b.ny = c.ny)),
       |lagv AS (
       |  SELECT nv.month_id, il.unit_id, SUM(nv.v * il.w) AS s
       |  FROM il JOIN nodevals nv
       |    ON nv.level = il.level AND nv.nx = il.nx AND nv.ny = il.ny
       |  GROUP BY 1, 2)
       |SELECT p.month_id, p.unit_id, COALESCE(l.s, 0.0) AS treelag
       |FROM panel p LEFT JOIN lagv l
       |  ON l.month_id = p.month_id AND l.unit_id = p.unit_id""".stripMargin

  val qTreeLag: String = treeLagSql(0.5, "1.0 / ln(1.0 + c.d)")
  val qTreeLagD2: String = treeLagSql(1.0, "1.0 / (c.d * c.d)")

  /** Adaptive-mesh grid lag (spatial_tree.py:478-591): mesh(month) =
    * nodes whose ancestors all split (value > threshold) and which
    * themselves don't (or are leaves); every cell lags against the mesh
    * excluding its own leaf; d has no +0.01 nudge here.
    */
  /** CTE chain ending at `mesh` — the adaptive cover (blocked-ancestor
    * formulation, deliberately different from the Scala argmin
    * derivation so the two cross-check each other).
    */
  private def meshSql(threshold: Double): String =
    s"""$panel, $embSql,
       |lvs AS (SELECT l AS level FROM (VALUES (0),(1),(2),(3),(4),(5),
       |        (6),(7),(8),(9),(10)) v(l), gp WHERE l <= power),
       |mem AS (
       |  SELECT e.unit_id, l.level,
       |         e.ex // (gp.ncells // (1 << l.level)) AS nx,
       |         e.ey // (gp.ncells // (1 << l.level)) AS ny
       |  FROM emb e, lvs l, gp),
       |nodevals AS (
       |  SELECT p.month_id, m.level, m.nx, m.ny, SUM(p.value) AS v
       |  FROM panel p JOIN mem m ON m.unit_id = p.unit_id
       |  GROUP BY 1, 2, 3, 4),
       |blocked AS (
       |  SELECT DISTINCT nv.month_id, nv.level, nv.nx, nv.ny
       |  FROM nodevals nv
       |  JOIN lvs la ON la.level < nv.level
       |  JOIN nodevals av ON av.month_id = nv.month_id AND av.level = la.level
       |    AND av.nx = nv.nx // (1 << (nv.level - la.level))
       |    AND av.ny = nv.ny // (1 << (nv.level - la.level))
       |  WHERE av.v <= $threshold),
       |mesh AS (
       |  SELECT nv.month_id, nv.level, nv.nx, nv.ny, nv.v,
       |         CAST(gp.ncells // (1 << nv.level) AS DOUBLE) AS s, gp.power
       |  FROM nodevals nv, gp
       |  WHERE (nv.v <= $threshold OR nv.level = gp.power)
       |    AND NOT EXISTS (SELECT 1 FROM blocked b
       |      WHERE b.month_id = nv.month_id AND b.level = nv.level
       |        AND b.nx = nv.nx AND b.ny = nv.ny))""".stripMargin

  /** The reference's keep_grids surface (spatial_tree.py:82-115): the
    * per-month adaptive mesh itself.
    */
  val qKeepGrids: String =
    s"""${meshSql(2000.0)}
       |SELECT month_id, CAST(level AS INTEGER) AS level,
       |  CAST(nx AS INTEGER) AS nx, CAST(ny AS INTEGER) AS ny, v, s
       |FROM mesh""".stripMargin

  private def gridLagSql(threshold: Double, wExpr: String): String =
    s"""${meshSql(threshold)},
       |md AS (
       |  SELECT m.month_id, t.unit_id, m.v,
       |    sqrt(pow(t.ex + 0.5 - (m.nx * m.s + m.s / 2.0), 2)
       |       + pow(t.ey + 0.5 - (m.ny * m.s + m.s / 2.0), 2)) AS d
       |  FROM mesh m, emb t
       |  WHERE NOT (m.level = m.power AND m.nx = t.ex AND m.ny = t.ey)),
       |lagv AS (
       |  SELECT month_id, unit_id, SUM(v * ($wExpr)) AS s
       |  FROM md GROUP BY 1, 2)
       |SELECT p.month_id, p.unit_id, COALESCE(l.s, 0.0) AS gridlag
       |FROM panel p LEFT JOIN lagv l
       |  ON l.month_id = p.month_id AND l.unit_id = p.unit_id""".stripMargin

  val qGridLag: String = gridLagSql(2000.0, "1.0 / ln(1.0 + d)")

  /** Temporal tree, uniform weights: the walk decomposes the past into
    * disjoint nodes covering every stocked month <= tnow exactly once,
    * so uniform weighting equals the running cumulative sum — except the
    * final timestep, which has no leaf in the reference's padded axis
    * (nseq = tend − tstart) and therefore lags to 0.
    */
  val qTemporalTreeUniform: String =
    s"""$panel SELECT month_id, unit_id,
       |  CASE WHEN month_id = (SELECT MAX(month_id) FROM panel) THEN 0.0
       |       ELSE SUM(value) OVER ($cum) END AS treelag
       |FROM panel""".stripMargin

  /** Temporal tree, 1/(tnow − mid + 1.5) weights: the effective
    * (tnow, month) weight matrix is a pure function of the time axis
    * (days 1..30 in the driver testdata), generated by the same ported
    * walk the Spark operator uses.
    */
  private def temporalTreeSql(fname: String, thetacrit: Double, sigma: Double): String = {
    val wm = temporal.TreeLag.weightMatrix((1L to 30L), thetacrit, fname, sigma)
      .sortBy(t => (t._1, t._2))
      .map { case (tnow, m, w) => s"($tnow, $m, ${spatial.Grid.fmt(w)})" }
      .mkString(", ")
    s"""$panel, wm(tnow, month_id, w) AS (VALUES $wm),
       |lagv AS (
       |  SELECT wm.tnow, p.unit_id, SUM(p.value * wm.w) AS s
       |  FROM panel p JOIN wm ON wm.month_id = p.month_id
       |  GROUP BY 1, 2)
       |SELECT p.month_id, p.unit_id, COALESCE(l.s, 0.0) AS treelag
       |FROM panel p LEFT JOIN lagv l
       |  ON l.tnow = p.month_id AND l.unit_id = p.unit_id""".stripMargin
  }

  val qTemporalTreeOneovert: String = temporalTreeSql("oneovert", 0.8, 1.0)
  val qTemporalTreeSigmoid: String = temporalTreeSql("sigmoid", 0.8, 5.0)
  val qTemporalTreeExpon: String = temporalTreeSql("expon", 0.8, 4.0)
  val qTemporalTreeRamp: String = temporalTreeSql("ramp", 0.8, 10.0)

  /** Fourier lag: the fft→divide→ifft composition is a circular
    * convolution with the Green's function G = ifft2(divisor), so the
    * oracle convolves directly (sources = unit cells; the grid is the
    * full 2^p square whose min/max drive the rescale). G is generated by
    * the same FFT code the Spark operator uses, for the sf0.01 grid
    * (ncells = 64).
    */
  val qFourierLag: String = {
    val n = 64
    val g = spatial.FourierLag.greens(n)
    val gv = (0 until n).flatMap(gx => (0 until n).map(gy =>
      s"($gx, $gy, ${spatial.Grid.fmt(g(gx * n + gy))})")).mkString(", ")
    // scatter formulation with a nonzero-source filter (the 3D
    // oracle's identity, applied here in r12): zero-valued panel cells
    // contribute nothing to the convolution, and the dense panel is
    // mostly zeros — the r11 gather form (grid CROSS JOIN src) paid
    // grid × ALL dense cells (~0.5G terms, ~50 s per fourier oracle,
    // 4 oracles); scatter over nonzero sources pays nz × kernel. A
    // month with no nonzero source has phi ≡ 0 and rhomax 0, which
    // the LEFT JOIN + COALESCE reproduces as flag 0.0.
    s"""$panel, $embSql,
       |gk(gx, gy, g) AS (VALUES $gv),
       |src AS (SELECT p.month_id, e.ex, e.ey, p.value
       |        FROM panel p JOIN emb e ON e.unit_id = p.unit_id),
       |nz AS (SELECT * FROM src WHERE value <> 0.0),
       |conv AS (
       |  SELECT s.month_id, (k.gx + s.ex) % $n AS cx, (k.gy + s.ey) % $n AS cy,
       |    SUM(s.value * k.g) AS y
       |  FROM nz s CROSS JOIN gk k
       |  GROUP BY 1, 2, 3),
       |st AS (SELECT month_id, MIN(y) AS ymin, MAX(y) AS ymax
       |       FROM conv GROUP BY 1),
       |rho AS (SELECT month_id, GREATEST(MAX(value), 0.0) AS rhomax
       |        FROM src GROUP BY 1)
       |SELECT p.month_id, p.unit_id,
       |  COALESCE((cv.y - st.ymin) * rho.rhomax
       |             / GREATEST(st.ymax - st.ymin, 1.0), 0.0) AS flag_value
       |FROM panel p
       |JOIN emb e ON e.unit_id = p.unit_id
       |LEFT JOIN conv cv ON cv.month_id = p.month_id
       |                  AND cv.cx = e.ex AND cv.cy = e.ey
       |LEFT JOIN st ON st.month_id = p.month_id
       |LEFT JOIN rho ON rho.month_id = p.month_id""".stripMargin
  }

  /** 3-D fourier lag: the slice sits on the midplane of an n×n×l cube
    * (l = n/LDIVISOR); the convolution runs against the 3-D Green's
    * kernel, min/max normalisation spans the FULL cube, and the
    * midplane is returned (FourierLag.solveSlice3d semantics).
    */
  val qFourierLag3d: String = {
    val n = 64
    val l = math.max(n / spatial.FourierLag.LDivisor, 2)
    val mid = l / 2
    val g = spatial.FourierLag.greens3(n, l)
    val gv = (0 until n).flatMap(gx => (0 until n).flatMap(gy =>
      (0 until l).map(gz =>
        s"($gx, $gy, $gz, ${spatial.Grid.fmt(g((gx * n + gy) * l + gz))})"))).mkString(", ")
    // Wide-month scatter (r12): the r11 per-(month, cell) scatter fed
    // a ~262M-row hash aggregation with ~2M groups — measured ~100 s,
    // the single heaviest oracle, because DuckDB 1.0's large-group
    // hash agg runs ~1.5M rows/s at that shape. The panel's source
    // POSITIONS are month-invariant (the dense grid), so the months
    // pivot into 30 wide value columns: positions × kernel is only
    // ~10M rows into 65536 groups, each row updating 30 vectorized
    // SUM(g·v_m) aggregates — same multiply-add count, ~10× faster
    // (measured 101 s → 9 s, max drift 8e-13, six orders under the
    // 1e-6 gate grid). Months are the sf0.01 testdata's days 1..30 —
    // the same hardcoded-geometry contract as ncells = 64. Zero
    // values ride along as exact 0.0 terms (no nz filter needed: the
    // position set is what scatters). A month with no nonzero source
    // has phi ≡ 0 and rhomax 0 → flag 0.0 (matching solveSlice3d).
    // The midplane cz = mid corresponds to kernel slice gz = 0.
    val months = 1 to 30
    val vcols = months.map(m =>
      s"COALESCE(MAX(CASE WHEN month_id = $m THEN value END), 0.0) AS v$m")
      .mkString(",\n       ")
    val ycols = months.map(m => s"SUM(k.g * w.v$m) AS y$m")
      .mkString(",\n       ")
    val minmax = months.map(m => s"MIN(y$m) AS mn$m, MAX(y$m) AS mx$m")
      .mkString(", ")
    val mlist = months.mkString(", ")
    s"""$panel, $embSql,
       |gk(gx, gy, gz, g) AS (VALUES $gv),
       |src AS (SELECT
       |          CASE WHEN p.month_id BETWEEN 1 AND 30 THEN p.month_id
       |               ELSE CAST(error('fourier-3d oracle month contract: '
       |                 || 'the wide-month pivot hardcodes months 1..30 '
       |                 || '(sf0.01 fixture geometry, like ncells=64) - '
       |                 || 'got month_id ' || p.month_id) AS BIGINT)
       |          END AS month_id,
       |          e.ex, e.ey, p.value
       |        FROM panel p JOIN emb e ON e.unit_id = p.unit_id),
       |wv AS (SELECT ex, ey, $vcols FROM src GROUP BY ex, ey),
       |cube AS (
       |  SELECT (((k.gx + w.ex) % $n) * $n + (k.gy + w.ey) % $n) * $l + k.gz AS cell,
       |    $ycols
       |  FROM wv w CROSS JOIN gk k
       |  GROUP BY 1),
       |st AS (SELECT unnest([$mlist]) AS month_id,
       |              unnest([${months.map(m => s"mn$m").mkString(", ")}]) AS ymin,
       |              unnest([${months.map(m => s"mx$m").mkString(", ")}]) AS ymax
       |       FROM (SELECT $minmax FROM cube)),
       |mid AS (SELECT cell // ${n * l} AS cx, (cell // $l) % $n AS cy,
       |               unnest([$mlist]) AS month_id,
       |               unnest([${months.map(m => s"y$m").mkString(", ")}]) AS y
       |        FROM cube WHERE cell % $l = 0),
       |rho AS (SELECT month_id, GREATEST(MAX(value), 0.0) AS rhomax
       |        FROM src GROUP BY 1)
       |SELECT p.month_id, p.unit_id,
       |  COALESCE((m.y - st.ymin) * rho.rhomax
       |             / GREATEST(st.ymax - st.ymin, 1.0), 0.0) AS flag_value
       |FROM panel p
       |JOIN emb e ON e.unit_id = p.unit_id
       |LEFT JOIN mid m ON m.month_id = p.month_id
       |                AND m.cx = e.ex AND m.cy = e.ey
       |LEFT JOIN st ON st.month_id = p.month_id
       |LEFT JOIN rho ON rho.month_id = p.month_id""".stripMargin
  }

  /** Multi-feature fourier lag: each feature solved and rescaled
    * independently in the same pass, outputs flag_<feature>.
    */
  val qFourierLagMulti: String = {
    val n = 64
    val g = spatial.FourierLag.greens(n)
    val gv = (0 until n).flatMap(gx => (0 until n).map(gy =>
      s"($gx, $gy, ${spatial.Grid.fmt(g(gx * n + gy))})")).mkString(", ")
    // scatter + nonzero filter, per feature (see qFourierLag): a row
    // joins the nz set when EITHER feature is nonzero; each feature's
    // zero rows contribute exact 0 terms to its own sum
    s"""$panel, $embSql,
       |gk(gx, gy, g) AS (VALUES $gv),
       |src AS (SELECT p.month_id, e.ex, e.ey, p.value, p.value2
       |        FROM panel p JOIN emb e ON e.unit_id = p.unit_id),
       |nz AS (SELECT * FROM src WHERE value <> 0.0 OR value2 <> 0.0),
       |conv AS (
       |  SELECT s.month_id, (k.gx + s.ex) % $n AS cx, (k.gy + s.ey) % $n AS cy,
       |    SUM(s.value * k.g) AS y1, SUM(s.value2 * k.g) AS y2
       |  FROM nz s CROSS JOIN gk k
       |  GROUP BY 1, 2, 3),
       |st AS (SELECT month_id,
       |         MIN(y1) AS y1min, MAX(y1) AS y1max,
       |         MIN(y2) AS y2min, MAX(y2) AS y2max
       |       FROM conv GROUP BY 1),
       |rho AS (SELECT month_id, GREATEST(MAX(value), 0.0) AS rho1,
       |               GREATEST(MAX(value2), 0.0) AS rho2
       |        FROM src GROUP BY 1)
       |SELECT p.month_id, p.unit_id,
       |  COALESCE((cv.y1 - st.y1min) * rho.rho1
       |             / GREATEST(st.y1max - st.y1min, 1.0), 0.0) AS flag_value,
       |  COALESCE((cv.y2 - st.y2min) * rho.rho2
       |             / GREATEST(st.y2max - st.y2min, 1.0), 0.0) AS flag_value2
       |FROM panel p
       |JOIN emb e ON e.unit_id = p.unit_id
       |LEFT JOIN conv cv ON cv.month_id = p.month_id
       |                  AND cv.cx = e.ex AND cv.cy = e.ey
       |LEFT JOIN st ON st.month_id = p.month_id
       |LEFT JOIN rho ON rho.month_id = p.month_id""".stripMargin
  }

  val qListTotallyMissing: String =
    s"""$mpanel, allnull AS (
       |  SELECT month_id, unit_id, value, CAST(NULL AS DOUBLE) AS value3 FROM mpanel)
       |SELECT 'value' AS col_name, COUNT(value) = 0 AS totally_missing FROM allnull
       |UNION ALL
       |SELECT 'value3' AS col_name, COUNT(value3) = 0 AS totally_missing FROM allnull""".stripMargin
}
