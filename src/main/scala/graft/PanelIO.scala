package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Panel storage layout for cluster scale.
  *
  * At 100 TB the panel must land on disk so that (a) time-range queries
  * prune partitions at planning time and (b) the per-unit scan and
  * unit-keyed joins avoid re-shuffling. The layout:
  *
  *   - `partitionBy(month_id)` → directory-level partition pruning: a
  *     transform over months [a, b] reads only those directories
  *     (`PartitionFilters` in the scan, zero I/O elsewhere);
  *   - `bucketBy(n, unit_id)` (table form) → unit-hash co-location: the
  *     per-unit scan (`UnitScan`) or a registry pipeline called on the
  *     table plans no exchange when `n` equals the exchange's width
  *     ([[Shuffle.width]]); unit-keyed joins between two bucketed
  *     panels are shuffle-free. That width is 1 below AQE's minimum
  *     partition size (1 MB by default) and grows with the table's
  *     size, so `n` is the width of the table as written: a table
  *     written with more buckets than the rule gives its size is read
  *     through an exchange.
  *
  * Parquet column pruning + min/max row-group statistics come free.
  */
object PanelIO {

  /** Write the panel partitioned by month (path-based). */
  def writePartitioned(panel: DataFrame, path: String): Unit =
    panel.write.mode("overwrite")
      .partitionBy(Panel.TimeCol)
      .parquet(path)

  /** Write as a bucketed table (metastore form — buckets require
    * saveAsTable): months as partitions, units hashed into `buckets`.
    */
  def writeBucketed(panel: DataFrame, table: String, buckets: Int): Unit =
    panel.write.mode("overwrite")
      .partitionBy(Panel.TimeCol)
      .bucketBy(buckets, Panel.UnitCol)
      .sortBy(Panel.UnitCol)
      .format("parquet")
      .saveAsTable(table)

  def readPartitioned(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
}
