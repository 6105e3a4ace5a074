package graft.ops

import graft.Panel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Missing-data operators (SURVEY §2.10) — reference missing.py: the
  * constant and mean fills, which read whole units or whole months
  * (per-unit and per-month window aggregates), and the completeness
  * diagnostics. The per-unit fills along time — ffill/bfill with
  * limit_direction/limit_area and linear interpolation — are steps of
  * the per-unit scan ([[UnitScan.Fill]], [[UnitScan.Extrapolate]]).
  */
object MissingOps {
  private val TimeC = Panel.TimeCol
  private val UnitC = Panel.UnitCol

  /** NaN → constant — missing.py:18-28. */
  def replaceNa(df: DataFrame, cols: Seq[String], replacement: Double = 0.0): DataFrame =
    df.na.fill(replacement, cols)

  /** Impute NaN to the per-unit mean, falling back to the global mean —
    * missing.py:58-69. The global mean joins in as a broadcast 1-row
    * aggregate (no empty-partition window).
    */
  def fillWithGroupAndGlobalMeans(df: DataFrame, valueCol: String,
                                  out: String = "filled"): DataFrame = {
    val unitMean = avg(col(valueCol)).over(Window.partitionBy(UnitC))
    val globalAgg = df.agg(avg(col(valueCol)).as("__gmean"))
    df.crossJoin(broadcast(globalAgg))
      .withColumn(out, coalesce(col(valueCol), unitMean, col("__gmean")))
      .drop("__gmean")
  }

  /** Fill units that are missing every value with the cross-unit per-time
    * mean — missing.py:41-55. All-null detection is a per-unit window
    * count; the time mean a per-month window average.
    */
  def fillGroupsWithTimeMeans(df: DataFrame, valueCol: String,
                              out: String = "filled"): DataFrame = {
    val unitNonNull = count(col(valueCol)).over(Window.partitionBy(UnitC))
    val timeMean = avg(col(valueCol)).over(Window.partitionBy(TimeC))
    df.withColumn(out,
      when(unitNonNull === 0, timeMean).otherwise(col(valueCol)))
  }

  /** Columns whose values are 100% missing — missing.py:30-38. Returned
    * as a (column, totally_missing) DataFrame so it is oracle-checkable.
    */
  def listTotallyMissing(df: DataFrame, cols: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val flags = df.select(cols.map(c => (count(col(c)) === 0).as(c)): _*).first()
    cols.zipWithIndex.map { case (c, i) => (c, flags.getBoolean(i)) }
      .toDF("col_name", "totally_missing")
  }

  /** Panel completeness diagnostic: the (month, unit) cells ABSENT from
    * a sparse panel, against the full time × unit grid its own keys
    * span — the check a reference user runs before trusting any
    * tensor-shaped transform (the reference reindexes implicitly;
    * silently-absent cells become silent zeros). Anti-join against the
    * same months × units cross [[graft.Panel.dense]] builds, so the
    * diagnostic and the fix share one definition of "complete".
    */
  def panelGaps(panel: DataFrame): DataFrame = {
    val t = graft.Panel.TimeCol; val u = graft.Panel.UnitCol
    val months = panel.select(t).distinct()
    val units = panel.select(u).distinct()
    broadcast(months).crossJoin(units)
      .join(panel.select(t, u), Seq(t, u), "left_anti")
  }
}
