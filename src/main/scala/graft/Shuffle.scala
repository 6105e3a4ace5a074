package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.internal.SQLConf

/** The width of the library's own keyed exchanges, sized from their
  * input instead of `spark.sql.shuffle.partitions`.
  *
  * Every panel transform is a per-unit or per-month pass, so a wire
  * request is one or two keyed exchanges over a small frame. At Spark's
  * default of 200 shuffle partitions each such exchange writes and
  * commits one shuffle file per non-empty reduce partition on the map
  * side, which AQE's read-side coalescing does not undo; on a 9,600-row
  * panel that cost 0.6 s of task CPU per request.
  *
  * The rule: the input's estimated size in advisory-sized partitions
  * (`spark.sql.adaptive.advisoryPartitionSizeInBytes`), at least the
  * context's default parallelism, at most the session's shuffle
  * partitions. It reads the optimized plan's statistics, so it runs no
  * job; a plan without a size estimate gets the session's count.
  */
object Shuffle {

  /** The rule itself, over an estimated size in bytes. */
  def width(sizeInBytes: BigInt, advisoryBytes: Long, parallelism: Int,
            maxPartitions: Int): Int = {
    val bySize = (sizeInBytes + advisoryBytes - 1) / advisoryBytes
    bySize.max(parallelism).min(maxPartitions).toInt
  }

  /** The exchange width for `df`. */
  def width(df: DataFrame): Int = {
    val conf = df.sparkSession.sessionState.conf
    width(df.queryExecution.optimizedPlan.stats.sizeInBytes,
      conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES),
      df.sparkSession.sparkContext.defaultParallelism,
      conf.numShufflePartitions)
  }

  /** `df` hash-partitioned on `keys` into [[width]] partitions: a
    * `REPARTITION_BY_NUM` exchange that every window, aggregate or
    * grouped map over the same keys (or a superset of them) above it
    * reuses instead of planning its own.
    */
  def by(df: DataFrame, keys: Column*): DataFrame =
    df.repartition(width(df), keys: _*)
}
