package graft

import graft.ops.{MissingOps, UnitScan}
import org.apache.spark.sql.functions._

/** Golden tests for the missing-data family (missing.py semantics),
  * including the reference's own replace_na fixture (FIXTURES.md F3).
  */
class MissingOpsSpec extends SparkSpec {
  import spark.implicits._
  private val T = Panel.TimeCol
  private val U = Panel.UnitCol

  // unit 1: . . 2 . 6 . ; leading/interior/trailing NaN
  private def p = Seq[(Long, Long, Option[Double])](
    (1L, 1L, None), (2L, 1L, None), (3L, 1L, Some(2.0)),
    (4L, 1L, None), (5L, 1L, Some(6.0)), (6L, 1L, None)
  ).toDF(T, U, "value")

  private def vals(df: org.apache.spark.sql.DataFrame, c: String): Seq[Any] =
    df.orderBy(T).select(c).collect().map(r => if (r.isNullAt(0)) null else r.getDouble(0)).toSeq

  /** The panel after one scan step, the series as `out`. */
  private def scan(step: UnitScan.Step, out: String) =
    UnitScan(p, Seq(step)).withColumnRenamed("value", out)

  test("fill forward / backward / both (missing.py:120-127)") {
    assert(vals(scan(UnitScan.Fill("forward"), "filled"), "filled")
      == Seq(null, null, 2.0, 2.0, 6.0, 6.0))
    assert(vals(scan(UnitScan.Fill("backward"), "filled"), "filled")
      == Seq(2.0, 2.0, 2.0, 6.0, 6.0, null))
    assert(vals(scan(UnitScan.Fill("both"), "filled"), "filled")
      == Seq(2.0, 2.0, 2.0, 2.0, 6.0, 6.0))
  }

  test("fill limit_area inside / outside (missing.py:108-119)") {
    assert(vals(scan(UnitScan.Fill("both", Some("inside")), "filled"), "filled")
      == Seq(null, null, 2.0, 2.0, 6.0, null))
    assert(vals(scan(UnitScan.Fill("backward", Some("inside")), "filled"), "filled")
      == Seq(null, null, 2.0, 6.0, 6.0, null))
    assert(vals(scan(UnitScan.Fill("both", Some("outside")), "filled"), "filled")
      == Seq(2.0, 2.0, 2.0, null, 6.0, 6.0))
  }

  test("extrapolate: linear interior, constant edges (missing.py:72-98)") {
    assert(vals(scan(UnitScan.Extrapolate("both"), "interp"), "interp")
      == Seq(2.0, 2.0, 2.0, 4.0, 6.0, 6.0))
    assert(vals(scan(UnitScan.Extrapolate("forward"), "interp"), "interp")
      == Seq(null, null, 2.0, 4.0, 6.0, 6.0))
    assert(vals(scan(UnitScan.Extrapolate("both", Some("inside")), "interp"), "interp")
      == Seq(null, null, 2.0, 4.0, 6.0, null))
    assert(vals(scan(UnitScan.Extrapolate("both", Some("outside")), "interp"), "interp")
      == Seq(2.0, 2.0, 2.0, null, 6.0, 6.0))
  }

  test("replace_na fixture: 10x10 half-NaN frame sums to 50 (F3)") {
    val rows = for (m <- 1L to 10L; u <- 1L to 10L)
      yield (m, u, if (m <= 5) None else Some(1.0))
    val df = rows.toDF(T, U, "value")
    val out = MissingOps.replaceNa(df, Seq("value"))
    assert(out.filter(col("value").isNull).count() == 0)
    assert(out.agg(sum("value")).first().getDouble(0) == 50.0)
  }

  test("group/global mean imputation (missing.py:58-69)") {
    val df = Seq[(Long, Long, Option[Double])](
      (1L, 1L, Some(2.0)), (2L, 1L, None),
      (1L, 2L, None), (2L, 2L, None)
    ).toDF(T, U, "value")
    val out = MissingOps.fillWithGroupAndGlobalMeans(df, "value")
      .orderBy(U, T).select("filled").collect().map(_.getDouble(0)).toSeq
    assert(out == Seq(2.0, 2.0, 2.0, 2.0)) // unit mean then global mean
  }

  test("fill_groups_with_time_means fills only all-null units (missing.py:41-55)") {
    val df = Seq[(Long, Long, Option[Double])](
      (1L, 1L, Some(4.0)), (2L, 1L, Some(8.0)),
      (1L, 2L, None), (2L, 2L, None),
      (1L, 3L, Some(2.0)), (2L, 3L, None)
    ).toDF(T, U, "value")
    val out = MissingOps.fillGroupsWithTimeMeans(df, "value")
      .orderBy(U, T).select("filled")
      .collect().map(r => if (r.isNullAt(0)) null else r.getDouble(0)).toSeq
    // unit 2 all-null -> per-time cross-unit means (3.0, 8.0); unit 3's
    // partial null stays (not an all-null unit)
    assert(out == Seq(4.0, 8.0, 3.0, 8.0, 2.0, null))
  }

  test("miceGenerator: residual-scaled noise gives non-degenerate between-imputation variance") {
    // y ≈ 2x with genuine residual scatter; two cells missing
    val df = Seq[(Long, Long, Option[Double], Double)](
      (1L, 1L, Some(2.2), 1.0), (2L, 1L, Some(3.6), 2.0),
      (3L, 1L, None, 3.0), (4L, 1L, Some(8.5), 4.0),
      (5L, 1L, Some(9.7), 5.0), (6L, 1L, None, 6.0),
      (7L, 1L, Some(14.3), 7.0), (8L, 1L, Some(15.8), 8.0)
    ).toDF(T, U, "value", "value2")
    val out = graft.ml.Imputer.miceGenerator(df, Seq("value", "value2"),
      nImputations = 5, maxIter = 2)
    val byCell = out.filter(col("value").isNull)
      .select(T, "imputation_id", "value_imp").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getDouble(2)).toSeq)
    assert(byCell.keySet == Set(3L, 6L))
    byCell.foreach { case (t, draws) =>
      assert(draws.length == 5)
      // non-degenerate: the chains genuinely disagree (not an epsilon)
      val sd = {
        val m = draws.sum / draws.size
        math.sqrt(draws.map(d => (d - m) * (d - m)).sum / (draws.size - 1))
      }
      assert(sd > 0.01, s"cell t=$t draws $draws look degenerate (sd=$sd)")
      // ...but stay within the observed range (clipped like the fills)
      assert(draws.forall(d => d >= 2.2 && d <= 15.8))
    }
    // determinism: the same call reproduces the same draws
    val again = graft.ml.Imputer.miceGenerator(df, Seq("value", "value2"),
      nImputations = 5, maxIter = 2)
      .filter(col("value").isNull)
      .select(T, "imputation_id", "value_imp").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    out.filter(col("value").isNull)
      .select(T, "imputation_id", "value_imp").collect()
      .foreach(r => assert(again((r.getLong(0), r.getInt(1))) == r.getDouble(2)))
    // observed cells identical across every chain
    val obs = out.filter(col("value").isNotNull)
      .groupBy(col(T)).agg(countDistinct(col("value_imp")).as("nv"))
      .collect().map(_.getLong(1))
    assert(obs.forall(_ == 1L))
  }
}
