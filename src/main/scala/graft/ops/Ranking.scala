package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact global ordering operators that never funnel the data through
  * a single task.
  *
  * `row_number() OVER (ORDER BY ...)` — the textbook way to rank a
  * corpus — plans as ONE unpartitioned Window task: the whole dataset
  * sorts through a single reducer, which is exactly the shape that
  * dies at 100 TB. The operators here compute the identical result
  * with a range repartition (every partition holds a disjoint key
  * range), a per-partition local index, and a broadcast of the
  * nPartitions partition counts:
  *
  *   global_rank = (rows in lower partitions) + local index
  *
  * One range shuffle of the data, one tiny (nPartitions-row)
  * aggregation — both fully parallel.
  *
  * The range-partitioned data is materialized ONCE (eager
  * `localCheckpoint`, memory-and-disk) before the count branch and the
  * rank branch read it. This is load-bearing for correctness, not a
  * cache hint: each physical range `Exchange` samples its own
  * partition boundaries (`RangePartitioner`'s reservoir sample is
  * seeded per RDD instance), so if the two branches plan as two
  * exchanges — Catalyst's `ReuseExchange` is an optimization that
  * column-pruning divergence or AQE staging can and does defeat (the
  * r9 q_rfm gate failure: 1500 rows ranked into quintiles of
  * 300/316/304/286/294) — the per-partition counts describe a
  * DIFFERENT partitioning than the one the local indexes were
  * assigned in, and ranks silently duplicate/skip. Checkpointing pins
  * one physical layout that both branches read. The cost — one
  * materialization of the ranked working set — is the honest price of
  * an exact global rank; callers ranking wide rows at corpus scale can
  * rank a keys-only projection (the order is total, so the key tuple
  * is unique) and join the rank back.
  *
  * The order must be TOTAL (append a unique tiebreaker such as the
  * doc id): range partitioning never splits equal keys across
  * partitions, and a total order makes the rank independent of the
  * sampled partition boundaries.
  */
object Ranking {

  private val PidBits = 33
  private val LocalMask = (1L << PidBits) - 1

  /** 1-based exact global rank by `order` (must be a total order).
    *
    * Local indexes come from `monotonically_increasing_id()` evaluated
    * above the within-partition sort: its documented layout is
    * (partition id << 33) | record-number-in-partition, and the record
    * number follows the sorted iterator order. Partitions are capped
    * at 2^33 rows by that layout — far above any sane partition size.
    * `numPartitions` 0 sizes the range exchange from the input
    * ([[graft.Shuffle.width]]).
    */
  def globalRank(df: DataFrame, order: Seq[Column],
                 rankCol: String = "rank",
                 numPartitions: Int = 0): DataFrame = {
    val n = if (numPartitions > 0) numPartitions
            else graft.Shuffle.width(df)
    // eager checkpoint: both branches below MUST observe the same
    // physical partition boundaries (see the object doc)
    val parted = df.repartitionByRange(n, order: _*).localCheckpoint()
    // tiny: one row per partition; the constant partition key keeps the
    // cumulative sum off the "no partition defined" single-task-Window
    // warning path while staying a genuinely bounded computation
    val counts = parted.groupBy(spark_partition_id().as("__pid")).count()
    // nPartitions-bounded cumsum on the kBoundedKey-marked constant
    // key: plans as a keyed window (no unpartitioned-window warning)
    // and carries the machine-checkable boundedness assertion PlanLint
    // requires of every constant-key window
    val w = Window.partitionBy(graft.plans.PlanLint.kBoundedKey(col("__pid")))
      .orderBy(col("__pid"))
    val offsets = counts
      .withColumn("__offset",
        coalesce(sum(col("count")).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__total", sum(col("count")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .drop("count")
    val indexed = parted
      .sortWithinPartitions(order: _*)
      .withColumn("__mid", monotonically_increasing_id())
      .withColumn("__pid", shiftright(col("__mid"), PidBits).cast("int"))
      .withColumn("__local", col("__mid").bitwiseAND(lit(LocalMask)))
    indexed.join(broadcast(offsets), Seq("__pid"))
      .withColumn(rankCol, col("__offset") + col("__local") + 1)
      .drop("__mid", "__pid", "__local", "__offset")
  }

  /** Exact SQL `ntile(buckets)` over a total order, built on
    * [[globalRank]]: with T rows, the first T mod buckets buckets get
    * ceil(T/buckets) rows, the rest floor(T/buckets) — bit-identical
    * to the single-task window ntile, without the single task.
    *
    * The curriculum-binning shape: order a corpus by difficulty
    * (length, quality, LM score) and bin into stages.
    */
  def globalNtile(df: DataFrame, order: Seq[Column], buckets: Int,
                  binCol: String = "bin",
                  numPartitions: Int = 0,
                  keepRankAs: Option[String] = None): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val ranked = globalRank(df, order, "__rank", numPartitions)
    val q = floor(col("__total") / buckets)
    val rem = col("__total") % buckets
    val cut = rem * (q + 1) // ranks <= cut sit in the wide buckets
    val r0 = col("__rank") - 1
    val binned = ranked
      .withColumn(binCol,
        (when(r0 < cut, floor(r0 / (q + 1)))
          .otherwise(rem + floor((r0 - cut) / greatest(q, lit(1L)))) + 1)
          .cast("int"))
    keepRankAs match {
      case Some(rc) => binned.withColumnRenamed("__rank", rc).drop("__total")
      case None => binned.drop("__rank", "__total")
    }
  }

  /** [[globalRank]] keeping the rank and dropping the plumbing total. */
  def rank(df: DataFrame, order: Seq[Column], rankCol: String = "rank",
           numPartitions: Int = 0): DataFrame =
    globalRank(df, order, rankCol, numPartitions).drop("__total")

  /** Exact global running sum of `valueCol` in `order` (which must be
    * a TOTAL order — add an id tiebreak), with no single-task window:
    * range-partition on the order, per-partition totals cumulate into
    * offsets (a bounded nPartitions-row window), and each row's cumsum
    * is its within-partition running sum plus its partition's offset.
    * Two shuffles (range exchange + the per-partition window's pid
    * exchange) at any data size.
    *
    * EAGER: the localCheckpoint that pins the partition boundaries
    * runs Spark jobs at CALL time — merely constructing a plan through
    * this operator (and everything built on it: [[globalRank]],
    * [[groupedCumsum]], Stats.spearman/kruskalWallis/mannWhitney/
    * moodMedian/brownForsythe) executes the upstream frame. That is
    * the deliberate price of an exact global order (see the object
    * doc: two lazily-planned exchanges sample DIFFERENT boundaries);
    * callers that need a lazy frame must cut the pipeline before the
    * ranked stage.
    */
  def globalCumsum(df: DataFrame, order: Seq[Column], valueCol: String,
                   cumCol: String = "cumsum",
                   numPartitions: Int = 0): DataFrame =
    globalCumsumN(df, order, Seq(valueCol -> cumCol), numPartitions)._1

  /** [[globalCumsum]] that also hands back the checkpointed
    * range-partitioned frame for side aggregates (see globalCumsumN).
    */
  private def globalCumsumWithParted(df: DataFrame, order: Seq[Column],
                                     valueCol: String, cumCol: String,
                                     numPartitions: Int): (DataFrame, DataFrame) = {
    val (cum, _, parted) =
      globalCumsumN(df, order, Seq(valueCol -> cumCol), numPartitions)
    (cum, parted)
  }

  /** [[globalCumsum]] for SEVERAL value columns over ONE order, paying
    * the machinery once (r15): one range exchange, one checkpoint, one
    * per-partition-sums aggregation, one pid window carrying every
    * running sum, one broadcast join. Callers that used to CHAIN
    * single-column calls (ksTest ran two nested checkpoints plus a
    * third full recompute of its input for the totals) fuse to a
    * single pass. Also returns the exact per-column grand totals as a
    * second (1-row) frame derived from the BOUNDED per-partition sums
    * — summing longs is associative, so the totals are bit-identical
    * to an independent aggregation of `df`, without re-executing its
    * lineage — and the CHECKPOINTED range-partitioned frame itself,
    * so callers needing side aggregates of the input (groupedCumsum's
    * per-group prefix) scan the materialized data instead of
    * re-running `df`'s whole lineage.
    */
  def globalCumsumN(df: DataFrame, order: Seq[Column],
                    vals: Seq[(String, String)],
                    numPartitions: Int = 0): (DataFrame, DataFrame, DataFrame) = {
    require(vals.nonEmpty, "globalCumsumN needs at least one value column")
    val n = if (numPartitions > 0) numPartitions
            else graft.Shuffle.width(df)
    // eager checkpoint: the per-partition-sum branch and the running-sum
    // branch must observe the same boundaries (see the object doc)
    val parted = df.repartitionByRange(n, order: _*).localCheckpoint()
    val psums = vals.map { case (v, _) => sum(col(v)).as(s"__psum_$v") }
    val sums = parted.groupBy(spark_partition_id().as("__pid"))
      .agg(psums.head, psums.tail: _*)
    val w = Window.partitionBy(graft.plans.PlanLint.kBoundedKey(col("__pid")))
      .orderBy(col("__pid"))
    val offsets = vals.foldLeft(sums) { case (d, (v, _)) =>
      d.withColumn(s"__offset_$v", coalesce(
        sum(col(s"__psum_$v")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
    }.drop(vals.map { case (v, _) => s"__psum_$v" }: _*)
    val totals = sums.agg(
      sum(col(s"__psum_${vals.head._1}")).as(s"${vals.head._1}_total"),
      vals.tail.map { case (v, _) => sum(col(s"__psum_$v")).as(s"${v}_total") }: _*)
    val lw = Window.partitionBy(col("__pid")).orderBy(order: _*)
    val withLocal = vals.foldLeft(parted.withColumn("__pid", spark_partition_id())) {
      case (d, (v, _)) => d.withColumn(s"__lcum_$v", sum(col(v)).over(lw))
    }
    val joined = vals.foldLeft(withLocal.join(broadcast(offsets), "__pid")) {
      case (d, (v, c)) => d.withColumn(c, col(s"__offset_$v") + col(s"__lcum_$v"))
    }
    val cum = joined.drop("__pid")
      .drop(vals.flatMap { case (v, _) => Seq(s"__lcum_$v", s"__offset_$v") }: _*)
    (cum, totals, parted)
  }

  /** Exact Σ rank(row)·x(row) plus exact totals, in ONE branch with NO
    * checkpoint (r15): for statistics whose OUTPUT is an aggregate of
    * the ranks (gini's rank-weighted revenue sum), materializing a
    * per-row rank via [[globalRank]] pays an eager localCheckpoint of
    * the working set plus a broadcast join the result immediately
    * collapses. Here one linear plan — range exchange →
    * within-partition sort → a per-partition scan emitting ONE row
    * (count, Σx, Σ localIdx·x as exact integers) — feeds an
    * nPartitions-bounded offset window:
    *
    *   Σ rank·x = Σ_p (offset_p · Σx_p + Σ localIdx·x_p)
    *
    * The scan is a typed mapPartitions (justified non-codegen: it
    * reads two primitive columns, emits one row per partition, and
    * replaces a full materialization + join — the multimodal decode
    * precedent); the single-branch shape also removes the two-branch
    * boundary-consistency hazard outright, so no checkpoint is needed
    * at ANY scale: this is strictly lighter than globalRank at 100 TB
    * (zero extra materializations of the data). Rank ties of equal
    * `xCol` values are interchangeable in the dot product, so the
    * result is bit-identical to globalRank's Σ rank·x whatever
    * boundaries the range sampler draws. Null x rows occupy a rank
    * (counted) but contribute nothing to either sum — exactly
    * sum()'s null semantics in the join form.
    *
    * @return one row: (__n BIGINT — row count including null x,
    *         __sx DECIMAL(38,0) — exact Σx,
    *         __srx DECIMAL(38,0) — exact Σ rank·x); zero rows when
    *         `df` is empty (aggregate it with null-tolerant exprs)
    */
  def rankDot(df: DataFrame, order: Seq[Column], xCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val Dec = "decimal(38,0)"
    val n = graft.Shuffle.width(df)
    val parted = df.repartitionByRange(n, order: _*)
      .sortWithinPartitions(order: _*)
      .select(col(xCol).isNull.as("__isnull"),
        coalesce(col(xCol).cast("long"), lit(0L)).as("__v"))
      .as[(Boolean, Long)]
    val per = parted.mapPartitions { it =>
      var cnt = 0L
      var s = BigInt(0)
      var jx = BigInt(0)
      while (it.hasNext) {
        val (isNull, x) = it.next()
        cnt += 1
        if (!isNull) { s += x; jx += BigInt(cnt) * x }
      }
      if (cnt == 0) Iterator.empty
      else Iterator.single((org.apache.spark.TaskContext.getPartitionId(),
        cnt, s.toString, jx.toString))
    }.toDF("__pid", "__cnt", "__psx", "__pjx")
    val w = Window.partitionBy(graft.plans.PlanLint.kBoundedKey(col("__pid")))
      .orderBy(col("__pid"))
    per
      .withColumn("__off", coalesce(
        sum(col("__cnt")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .agg(sum(col("__cnt")).as("__n"),
        sum(col("__psx").cast(Dec)).as("__sx"),
        sum(col("__pjx").cast(Dec) +
          col("__off").cast(Dec) * col("__psx").cast(Dec)).as("__srx"))
  }

  /** Exact PER-GROUP running sum of `valueCol` in `order` within each
    * value of `groupCol`, with no per-group single task: one
    * [[globalCumsum]] over the concatenated (group, order) total order,
    * minus each group's preceding-groups prefix (the per-group totals
    * cumulated over a kBoundedKey window — one row per group).
    *
    * The group COUNT must be k-bounded (test groups, sources, buckets —
    * the stats-family contract): the prefix table has one row per group
    * and broadcasts. The per-group ROW counts are unbounded — that is
    * the whole point: `Window.partitionBy(group)` would funnel the
    * largest group through one task; this shape range-partitions the
    * data regardless of group skew.
    */
  def groupedCumsum(df: DataFrame, groupCol: String, order: Seq[Column],
                    valueCol: String, cumCol: String = "cumsum",
                    numPartitions: Int = 0): DataFrame = {
    val g = col(groupCol)
    val cum = globalCumsum(df, g +: order, valueCol, "__gcumAll", numPartitions)
    val w = Window.partitionBy(graft.plans.PlanLint.kBoundedKey(g)).orderBy(g)
    val prefix = df.groupBy(g).agg(sum(col(valueCol)).as("__gtot"))
      .withColumn("__pre", coalesce(
        sum(col("__gtot")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .drop("__gtot")
    cum.join(broadcast(prefix), groupCol)
      .withColumn(cumCol, col("__gcumAll") - col("__pre"))
      .drop("__gcumAll", "__pre")
  }
}
