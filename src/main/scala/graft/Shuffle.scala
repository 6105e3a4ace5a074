package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.internal.SQLConf

/** The width of the library's own keyed exchanges, sized from their
  * input instead of `spark.sql.shuffle.partitions`.
  *
  * Every panel transform is a per-unit or per-month pass, so a wire
  * request is one or two keyed exchanges over a small frame. Each reduce
  * task of such an exchange pays a fixed cost whatever its share of the
  * rows: task deserialization, code generation for the grouped map's
  * row deserializer, sorter setup, and one shuffle file per non-empty
  * partition on the map side (one output file per task when the pass
  * ends in a write). On a 5,760-row grid or a 9,600-row wire panel those
  * costs are most of the pass, so a tiny pass runs as one task.
  *
  * The rule is the plan-time twin of AQE's coalescing policy: the input's
  * estimated size in advisory-sized partitions
  * (`spark.sql.adaptive.advisoryPartitionSizeInBytes`), and at least as
  * many partitions as the context's default parallelism allows without
  * one falling below AQE's minimum partition size
  * (`spark.sql.adaptive.coalescePartitions.minPartitionSize`); at least
  * one and at most the session's shuffle partitions. It reads the
  * optimized plan's statistics, so it runs no job; a plan without a size
  * estimate gets the session's count.
  */
object Shuffle {

  /** The rule itself, over an estimated size in bytes. */
  def width(sizeInBytes: BigInt, advisoryBytes: Long, minPartitionBytes: Long,
            parallelism: Int, maxPartitions: Int): Int = {
    def parts(bytes: Long) = (sizeInBytes + bytes - 1) / bytes
    val floor = parts(minPartitionBytes).min(parallelism)
    parts(advisoryBytes).max(floor).min(maxPartitions).max(1).toInt
  }

  /** Whether an input of `sizeInBytes` is one task's worth: at most AQE's
    * minimum partition size, which [[width]] gives one partition.
    */
  def oneTask(sizeInBytes: BigInt, conf: SQLConf): Boolean =
    sizeInBytes <= conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)

  /** The exchange width for `df`. */
  def width(df: DataFrame): Int = {
    val conf = df.sparkSession.sessionState.conf
    width(df.queryExecution.optimizedPlan.stats.sizeInBytes,
      conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES),
      conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE),
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
