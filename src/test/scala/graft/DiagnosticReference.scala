package graft

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** The SQL formulation of the per-unit diagnostics that run as one
  * `Panel.reduce` each in [[graft.ops.TemporalOps]] — stacked windows,
  * unit-keyed self-joins, an in-plan explode and a typed Mann–Kendall
  * aggregate — and of the rolling median, a percentile over a trailing
  * window. This is the semantics the kernels reproduce bit for bit,
  * kept here as the reference the parity tests compare against (the
  * oracle SQL is the other one).
  */
object DiagnosticReference {
  private def w = WindowReference.w
  private def cum = WindowReference.cumulative

  /** Rolling median over the trailing `t` rows (min_periods=0). */
  def rollingMedian(c: Column, t: Int): Column =
    percentile(c, lit(0.5)).over(WindowReference.trailing(t))

  def acf(df: DataFrame, valueCol: String, maxLag: Int): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1, got $maxLag")
    val wAll = Window.partitionBy(Panel.UnitCol)
    val x = col(valueCol)
    val lagged = (1 to maxLag).foldLeft(df) { (d, l) =>
      d.withColumn(s"__y$l", lag(x, l).over(w))
    }
    val stats = (1 to maxLag).foldLeft(lagged) { (d, l) =>
      val y = col(s"__y$l")
      val ok = x.isNotNull && !isnan(x) && y.isNotNull && !isnan(y)
      val n = count(when(ok, 1)).over(wAll).cast("double")
      val sx = sum(when(ok, x)).over(wAll)
      val sy = sum(when(ok, y)).over(wAll)
      val sxx = sum(when(ok, x * x)).over(wAll)
      val syy = sum(when(ok, y * y)).over(wAll)
      val sxy = sum(when(ok, x * y)).over(wAll)
      val vx = round(n * sxx - sx * sx, 9)
      val vy = round(n * syy - sy * sy, 9)
      d.withColumn(s"__acf$l",
        struct(n.cast("long").as("n_pairs"),
          when(n < 2.0 || vx <= 0.0 || vy <= 0.0, lit(null).cast("double"))
            .otherwise(round(round(n * sxy - sx * sy, 9) / sqrt(vx * vy), 6))
            .as("acf")))
    }
    stats
      .withColumn("__rn", row_number().over(
        w.orderBy(col(Panel.TimeCol))))
      .filter(col("__rn") === 1)
      .select(col(Panel.UnitCol),
        posexplode(array((1 to maxLag).map(l => col(s"__acf$l")): _*))
          .as(Seq("__p", "__s")))
      .select(col(Panel.UnitCol), (col("__p") + 1).cast("int").as("lag"),
        col("__s.n_pairs").as("n_pairs"), col("__s.acf").as("acf"))
  }

  def pacf(df: DataFrame, valueCol: String): DataFrame = {
    val a = acf(df, valueCol, maxLag = 3)
    val wide = a.groupBy(col(Panel.UnitCol))
      .agg(max(when(col("lag") === 1, col("acf"))).as("__r1"),
        max(when(col("lag") === 2, col("acf"))).as("__r2"),
        max(when(col("lag") === 3, col("acf"))).as("__r3"))
    val r1 = col("__r1"); val r2 = col("__r2"); val r3 = col("__r3")
    val den2 = lit(1.0) - r1 * r1
    val phi22 = (r2 - r1 * r1) / den2
    val phi21 = r1 * (lit(1.0) - phi22)
    val den3 = lit(1.0) - phi21 * r1 - phi22 * r2
    val phi33 = (r3 - phi21 * r2 - phi22 * r1) / den3
    val p1 = round(r1, 6)
    val p2 = when(den2 === 0.0, lit(null).cast("double"))
      .otherwise(round(phi22, 6))
    val p3 = when(den2 === 0.0 || den3 === 0.0, lit(null).cast("double"))
      .otherwise(round(phi33, 6))
    wide.select(col(Panel.UnitCol),
        posexplode(array(p1, p2, p3)).as(Seq("__p", "pacf")))
      .select(col(Panel.UnitCol), (col("__p") + 1).cast("int").as("lag"),
        col("pacf"))
  }

  def forecastBacktest(df: DataFrame, valueCol: String,
                       period: Int = 7): DataFrame = {
    require(period >= 1, s"period must be >= 1, got $period")
    val x = col(valueCol)
    val f = lag(x, period).over(w)
    val ok = x.isNotNull && !isnan(x) && f.isNotNull && !isnan(f)
    val denom = abs(f) + abs(x)
    val term = when(denom === 0.0, lit(0.0))
      .otherwise(lit(2.0) * abs(f - x) / denom)
    df.select(col(Panel.UnitCol),
        when(ok, round(term * 1e9).cast("long")).as("__t9"))
      .filter(col("__t9").isNotNull)
      .groupBy(col(Panel.UnitCol))
      .agg(count(lit(1)).as("n_eval"),
        round(sum(col("__t9")).cast("double") / count(lit(1)) / 1e9, 6)
          .as("smape"))
  }

  def runsTest(df: DataFrame, valueCol: String): DataFrame = {
    val x = col(valueCol)
    val obs = df.filter(x.isNotNull && !isnan(x))
      .select(col(Panel.UnitCol), col(Panel.TimeCol), x.as("__v"))
    val wS = Window.partitionBy(Panel.UnitCol)
      .orderBy(col("__v"), col(Panel.TimeCol))
    val wA = Window.partitionBy(Panel.UnitCol)
    val med = obs
      .withColumn("__rn", row_number().over(wS))
      .withColumn("__nn", count(lit(1)).over(wA))
      .filter(col("__rn") === floor((col("__nn") + 1) / lit(2.0)) ||
        col("__rn") === floor((col("__nn") + 2) / lit(2.0)))
      .groupBy(col(Panel.UnitCol))
      .agg((sum(col("__v")) / count(lit(1))).as("__med"))
    val signed = obs.join(med, Panel.UnitCol)
      .filter(col("__v") =!= col("__med"))
      .withColumn("__s", (col("__v") > col("__med")).cast("int"))
    val wT = Window.partitionBy(Panel.UnitCol).orderBy(col(Panel.TimeCol))
    val st = signed
      .withColumn("__chg",
        when(lag(col("__s"), 1).over(wT).isNull ||
          lag(col("__s"), 1).over(wT) =!= col("__s"), 1L).otherwise(0L))
      .groupBy(col(Panel.UnitCol))
      .agg(sum(col("__s").cast("long")).as("n_above"),
        sum(lit(1L) - col("__s")).as("n_below"),
        sum(col("__chg")).as("runs"))
    val a = col("n_above"); val b = col("n_below")
    val muR = lit(2.0) * a * b / (a + b) + 1.0
    val sigR = sqrt(lit(2.0) * a * b * (lit(2.0) * a * b - a - b) /
      ((a + b) * (a + b) * (a + b - 1)).cast("double"))
    st.select(col(Panel.UnitCol), a, b, col("runs"),
      when(a === 0 || b === 0 || (a + b) < 2, lit(null).cast("double"))
        .otherwise(round((col("runs") - muR) / sigR, 6)).as("z"))
  }

  def dominantPeriod(df: DataFrame, valueCol: String): DataFrame = {
    val x = col(valueCol)
    val wAll = Window.partitionBy(Panel.UnitCol)
    val obs = df.filter(x.isNotNull && !isnan(x))
      .select(col(Panel.UnitCol), x.as("__v"),
        (row_number().over(w) - 1).cast("long").as("__t"),
        count(lit(1)).over(wAll).as("__n"))
    val twoPi = lit(2.0 * math.Pi)
    val ang = twoPi * col("k") * col("__t") / col("__n")
    val terms = obs
      .select(col(Panel.UnitCol), col("__v"), col("__t"), col("__n"),
        explode(sequence(lit(1L),
          floor(col("__n") / lit(2.0)).cast("long"))).as("k"))
      .select(col(Panel.UnitCol), col("__n"), col("k"),
        round(col("__v") * round(cos(ang), 9) * 1e9).cast("long").as("__c9"),
        round(col("__v") * round(sin(ang), 9) * 1e9).cast("long").as("__s9"))
    val g = terms.groupBy(col(Panel.UnitCol), col("__n"), col("k"))
      .agg(sum(col("__c9")).as("__c"), sum(col("__s9")).as("__s"))
    val p9 = round(((col("__c") / 1e9) * (col("__c") / 1e9) +
      (col("__s") / 1e9) * (col("__s") / 1e9)) * 1e6).cast("long")
    g.select(col(Panel.UnitCol), col("__n"), col("k"), p9.as("__p9"))
      .groupBy(col(Panel.UnitCol))
      .agg(max(struct(col("__p9"), (-col("k")).as("__nk"),
        col("k").as("__k"), col("__n").as("__nn"))).as("__b"))
      .select(col(Panel.UnitCol), col("__b.__nn").as("n"),
        col("__b.__k").as("k"),
        round(col("__b.__nn").cast("double") / col("__b.__k"), 6)
          .as("period"),
        round(col("__b.__p9") / 1e6, 6).as("power"))
  }

  def seasonalStrength(df: DataFrame, valueCol: String,
                       period: Int, half: Int): DataFrame = {
    val d = graft.ops.UnitScan(df.select(col(Panel.TimeCol), col(Panel.UnitCol), col(valueCol).as("value")),
      Seq(graft.ops.UnitScan.Decompose(period, half)))
    val (x, trend, seasonal) = (col("value"), col("trend"), col("seasonal"))
    val comp = d.select(col(Panel.UnitCol),
        round((x - trend - seasonal) * 1e6).cast("long").as("__r6"),
        round((x - trend) * 1e6).cast("long").as("__dt6"),
        round((x - seasonal) * 1e6).cast("long").as("__ds6"))
      .filter(col("__r6").isNotNull)
    def ss(c: String) =
      (count(lit(1)).cast(Dec2) * sum(col(c).cast(Dec2) * col(c)) -
        sum(col(c).cast(Dec2)) * sum(col(c).cast(Dec2)))
    val g = comp.groupBy(col(Panel.UnitCol))
      .agg(count(lit(1)).as("n"), ss("__r6").as("__vr"),
        ss("__dt6").as("__vdt"), ss("__ds6").as("__vds"))
    def f(v: String) = when(col(v) === 0, lit(null).cast("double"))
      .otherwise(round(greatest(lit(0.0),
        lit(1.0) - col("__vr").cast("double") / col(v).cast("double")), 6))
    g.select(col(Panel.UnitCol), col("n"),
      f("__vds").as("f_trend"), f("__vdt").as("f_seasonal"))
  }

  private val Dec2 = "decimal(38,0)"

  def mannKendall(df: DataFrame, valueCol: String): DataFrame = {
    val x = col(valueCol)
    val obs = df.filter(x.isNotNull && !isnan(x))
      .select(col(Panel.UnitCol), col(Panel.TimeCol), x.as("__v"))
    // single-observation units have no pair: the n ≥ 2 filter keeps
    // them out, as the pair self-join did
    val mkS = udaf(new MkS)
    val np = (col("__mk.n") * (col("__mk.n") - 1) / lit(2L)).cast("long")
    obs.groupBy(col(Panel.UnitCol))
      .agg(mkS(col(Panel.TimeCol).cast("long"), col("__v")).as("__mk"))
      .filter(col("__mk.n") >= 2)
      .select(col(Panel.UnitCol), col("__mk.n").as("n"),
        col("__mk.s").as("s"),
        round(col("__mk.s") / np, 6).as("tau"))
  }

  def theilSen(df: DataFrame, valueCol: String): DataFrame = {
    val x = col(valueCol)
    val a = df.filter(x.isNotNull && !isnan(x))
      .select(col(Panel.UnitCol), col(Panel.TimeCol).as("__m1"),
        x.as("__v1"))
    val b = df.filter(x.isNotNull && !isnan(x))
      .select(col(Panel.UnitCol), col(Panel.TimeCol).as("__m2"),
        x.as("__v2"))
    val pairs = a.join(b, Seq(Panel.UnitCol))
      .filter(col("__m1") < col("__m2"))
      .select(col(Panel.UnitCol),
        ((col("__v2") - col("__v1")) /
          (col("__m2") - col("__m1")).cast("double")).as("__s"),
        col("__m1"), col("__m2"))
    val wS = Window.partitionBy(Panel.UnitCol)
      .orderBy(col("__s"), col("__m1"), col("__m2"))
    val wA = Window.partitionBy(Panel.UnitCol)
    pairs
      .withColumn("__rn", row_number().over(wS))
      .withColumn("__np", count(lit(1)).over(wA))
      .filter(col("__rn") === floor((col("__np") + 1) / lit(2.0)) ||
        col("__rn") === floor((col("__np") + 2) / lit(2.0)))
      .groupBy(col(Panel.UnitCol))
      .agg(max(col("__np")).as("n_pairs"),
        round(sum(col("__s")) / count(lit(1)), 6).as("ts_slope"))
  }

  def changepoint(df: DataFrame, valueCol: String): DataFrame = {
    val x = col(valueCol)
    val ok = x.isNotNull && !isnan(x)
    val x9 = when(ok, round(x * 1e9).cast("long"))
    val wAll = Window.partitionBy(Panel.UnitCol)
    val cSum9 = sum(x9).over(cum)
    val tIdx = count(x9).over(cum)
    val sTot9 = sum(x9).over(wAll)
    val nTot = count(x9).over(wAll)
    val meanL = cSum9.cast("double") / 1e9 / tIdx
    val meanR = (sTot9 - cSum9).cast("double") / 1e9 / (nTot - tIdx)
    val shift = meanR - meanL
    val stat = abs(shift) *
      sqrt((tIdx * (nTot - tIdx)).cast("double") / nTot)
    df.select(col(Panel.UnitCol), col(Panel.TimeCol),
        round(stat * 1e9).cast("long").as("__s9"),
        round(shift * 1e9).cast("long").as("__d9"),
        tIdx.as("__cpt"), nTot.as("__cpn"), ok.as("__ok"))
      .filter(col("__ok") && col("__cpt") >= 1 && col("__cpt") < col("__cpn"))
      .groupBy(col(Panel.UnitCol))
      .agg(max(struct(col("__s9"), (-col(Panel.TimeCol)).as("__nm"),
        col(Panel.TimeCol).as("__m"), col("__d9"), col("__cpn"))).as("__b"))
      .select(col(Panel.UnitCol), col("__b.__cpn").as("n"),
        col("__b.__m").as("cp_month"),
        round(col("__b.__d9") / 1e9, 6).as("shift"),
        round(col("__b.__s9") / 1e9, 6).as("stat"))
  }

  /** (S, n) of the Mann–Kendall aggregate. */
  final case class SN(s: Long, n: Long)

  /** Mann–Kendall S as a typed aggregate: the (t, v) pairs buffered,
    * sorted by t at finish, and the O(T²) sign loop run over them.
    */
  class MkS extends Aggregator[(Long, Double), Seq[(Long, Double)], SN] {
    override def zero: Seq[(Long, Double)] = Seq.empty
    override def reduce(b: Seq[(Long, Double)], a: (Long, Double)): Seq[(Long, Double)] = b :+ a
    override def merge(a: Seq[(Long, Double)], b: Seq[(Long, Double)]): Seq[(Long, Double)] = a ++ b
    override def finish(r: Seq[(Long, Double)]): SN = {
      val v = r.sortBy(_._1).map(_._2).toArray
      var s = 0L
      for (i <- v.indices; j <- i + 1 until v.length) {
        val d = v(j) - v(i)
        if (d > 0) s += 1 else if (d < 0) s -= 1
      }
      SN(s, v.length.toLong)
    }
    override def bufferEncoder: Encoder[Seq[(Long, Double)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    override def outputEncoder: Encoder[SN] = Encoders.product[SN]
  }

  /** The per-unit aggregate and taxonomy of `emergingHotspots` over a
    * (month_id, unit_id, gi) frame of non-null gi.
    */
  def hotspotTaxonomy(gi: DataFrame, z: Double = 1.96): DataFrame = {
    val mkS = udaf(new MkS)
    gi.groupBy(col(Panel.UnitCol))
      .agg(count(lit(1)).as("n_months"),
        sum(when(col("gi") > z, 1L).otherwise(0L)).as("n_hot"),
        sum(when(col("gi") < -z, 1L).otherwise(0L)).as("n_cold"),
        max(struct(col(Panel.TimeCol), col("gi"))).as("__last"),
        mkS(col(Panel.TimeCol).cast("long"), col("gi")).as("__mk"))
      .withColumn("mk_s", col("__mk.s"))
      .select(col(Panel.UnitCol), col("n_months"), col("n_hot"),
        col("n_cold"), col("mk_s"),
        when(col("n_hot") * 10 >= col("n_months") * 9 && col("mk_s") > 0,
          "intensifying")
          .when(col("n_hot") * 10 >= col("n_months") * 9, "persistent")
          .when(col("__last.gi") > z &&
            col("n_hot") * 2 <= col("n_months"), "emerging")
          .when(col("n_hot") > 0, "sporadic")
          .otherwise("none").as("pattern"))
  }
}
