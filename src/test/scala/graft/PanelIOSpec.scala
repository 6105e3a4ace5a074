package graft

import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Verifies the scale-layout claims: month partitioning actually prunes
  * and bucketing actually removes the per-unit shuffle.
  */
class PanelIOSpec extends SparkSpec {
  import spark.implicits._
  private val T = Panel.TimeCol
  private val U = Panel.UnitCol

  test("month partitioning prunes the scan to the filtered range") {
    val dir = Files.createTempDirectory("graft_panel").toString
    val p = (for (m <- 1L to 10L; u <- 1L to 20L) yield (m, u, m * u * 1.0))
      .toDF(T, U, "value")
    PanelIO.writePartitioned(p, dir)
    val q = PanelIO.readPartitioned(spark, dir).filter(col(T) >= 8)
    val scan = q.queryExecution.executedPlan.toString()
    // the month predicate must land in PartitionFilters (planning-time
    // directory pruning), not as a post-scan Filter
    assert(scan.contains("PartitionFilters") && scan.contains("month_id"), scan)
    assert(scan.contains("(month_id#") && scan.contains(">= 8"), scan)
    assert(q.count() == 3 * 20)
  }

  test("bucketed table: unit-window aggregation plans without an exchange") {
    spark.sql("DROP TABLE IF EXISTS panel_bucketed")
    val loc = new java.io.File("spark-warehouse/panel_bucketed")
    if (loc.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(loc)
    }
    // a minimum partition size this small gives the 40-row fixture more
    // than one partition, so the read must keep several buckets apart
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64")
    val p = s.createDataFrame(for (m <- 1L to 5L; u <- 1L to 8L) yield (m, u, m + u * 1.0))
      .toDF(T, U, "value")
    // as many buckets as the scan's exchange would have partitions
    val buckets = Shuffle.width(p)
    assert(buckets >= 2, s"width $buckets")
    PanelIO.writeBucketed(p, "panel_bucketed", buckets)
    val t = s.table("panel_bucketed")
    assert(Shuffle.width(t) == buckets)
    def exchanges(df: org.apache.spark.sql.DataFrame): (Int, String) = {
      val plan = df.queryExecution.executedPlan.toString()
      (plan.split("\n").count(_.contains("Exchange")), plan)
    }
    // the per-unit scan reads the buckets as they lie, and each unit's
    // rows stay together
    val scanned = Registry.apply(t, Registry.Step("tlag", Seq(1.0)))
    val (ns, scanPlan) = exchanges(scanned)
    assert(ns == 0, s"bucketed scan should be shuffle-free, got $ns exchanges:\n$scanPlan")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(df.columns.sorted.map(col): _*).collect().map(_.toString).sorted.toSeq
    assert(rows(scanned) ==
      rows(t.withColumn("value", WindowReference.tlag(col("value"), 1))))
    // so do the scan steps that were windows, the unit-keyed kernels of
    // the other panel lags and the reduce form of a diagnostic
    Seq(Registry.Step("ewma", Seq(0.5, 3.0)), Registry.Step("onset", Seq(2.0)),
        Registry.Step("tlags3d", Seq(1.0, 2.0)),
        Registry.Step("temporal_tree_lag", Seq(0.8, "uniform")),
        Registry.Step("spacetime_dist", Seq("distances", 2.0, 1.0, 0.0, 5.0)),
        Registry.Step("acf", Seq(3.0))).foreach { step =>
      val lagged = Registry.apply(t, step)
      val (nk, kernelPlan) = exchanges(lagged)
      assert(nk == 0, s"bucketed ${step.name} should be shuffle-free, got $nk exchanges:\n$kernelPlan")
      assert(rows(lagged) == rows(Registry.apply(p, step)), step.name)
    }
  }
}
