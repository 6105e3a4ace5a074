package graft

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}

/** Canonical panel abstraction: a long/tidy table keyed by
  * `(month_id, unit_id)` with one or more double-typed feature columns.
  *
  * Mirrors the reference's fundamental data model — a pandas frame indexed
  * by `(timevar, groupvar)` (views_2.py:3-4) that must form a complete
  * time × unit cross-product for tensor-shaped transforms
  * (utilities.py:26-27). Here the dense cross-product is an explicit,
  * Catalyst-optimizable reindex (`dense`) rather than an implicit
  * tensorisation.
  *
  * At 100 TB the panel arrives partitioned by `month_id` (partition
  * pruning), and a per-unit pass costs one hash-partition shuffle on
  * `unit_id`. Every per-unit pass is one [[kernel]]: the per-unit scan
  * (`graft.ops.UnitScan`) appends columns to each unit's rows, and the
  * per-unit diagnostics (`graft.ops.TemporalOps`) [[reduce]] each
  * unit's rows to rows of their own, both in one exchange, one sort and
  * one grouped map — the reshape-operate-flatten idiom of the
  * reference, one unit at a time.
  */
object Panel {
  val TimeCol = "month_id"
  val UnitCol = "unit_id"

  /** Sparse aggregated panel derived from the driver's `events` table:
    * time = day-of-month of `ts` (the synthetic data spans one calendar
    * month), unit = `user_id`, features `value` (sum of event values) and
    * `value2` (event count, as double). Keys cast to long so the Spark
    * schema matches DuckDB's BIGINT aggregation keys in the oracle.
    *
    * `value` is derived MERGE-ORDER-INVARIANTLY (r14): each event value
    * is fixed to a 1e-9-unit long at the scan ([[fix9]]) and the cell
    * total is an INTEGER sum — a float `SUM(value)` is reassociation-
    * dependent in its last ULP (reversing the event order perturbs
    * ~13% of cells at ~1e-13 on the gate data), so two engines (or two
    * partition layouts of one engine) legitimately disagree on the
    * final bits, and any downstream consumer that re-quantizes the
    * panel on a fine grid (the cusum family's 1e-9 fixing — the
    * project's only recurring driver-only hash flip, r08–r13) sits on
    * that noise. An integer sum is exact under ANY merge schedule, and
    * the single long→double division back to feature space is one
    * correctly-rounded IEEE op both engines perform identically. The
    * semantic shift is ≤ 0.5e-9 per event. Headroom: |Σ v9| must stay
    * inside a long — |cell value total| · 1e9 < 9.2e18, i.e. per-cell
    * totals below ~9.2e9 in feature units; beyond that, ANSI mode
    * (the Spark 4 default) fails the sum loudly rather than wrapping.
    */
  def fromEvents(spark: SparkSession, dir: String): DataFrame =
    fromEvents9(spark, dir)
      .withColumn("value", col("v9").cast("double") / lit(1e9))
      .drop("v9")

  /** One event value on the canonical 1e-9 integer grid — the panel's
    * scan-side fixing, shared by the batch plans and the streaming
    * twins. Per-event doubles read from parquet are identical bits in
    * every engine, the multiply is one correctly-rounded IEEE op, and
    * a single-value half-away-from-zero round is engine-stable off
    * exact .5 ties (both Spark's HALF_UP and DuckDB's round() resolve
    * ties away from zero, so even a tie agrees).
    */
  def fix9(c: Column): Column = round(c * lit(1e9)).cast("long")

  /** The sparse panel on the integer grid: `v9 = Σ_events fix9(value)`
    * per (month, unit) cell — the exact-integer input of the 1e-9
    * re-quantizing consumers (cusum/changepoint class), with no float
    * round-trip at all.
    */
  def fromEvents9(spark: SparkSession, dir: String): DataFrame = {
    val ev = readEvents(spark, dir)
    ev.groupBy(
        dayofmonth(col("ts")).cast("long").as(TimeCol),
        col("user_id").cast("long").as(UnitCol))
      .agg(
        sum(fix9(col("value"))).as("v9"),
        count(lit(1)).cast("double").as("value2"))
  }

  /** Dense integer-grid panel (v9 long, missing cells = 0) — the cusum
    * twins' wire input: per-event integer fixings, integer cell sums,
    * dense reindex, not one float anywhere upstream of the operator.
    */
  def densePanel9(spark: SparkSession, dir: String): DataFrame = {
    val cells = fromEvents9(spark, dir).select(col(TimeCol), col(UnitCol), col("v9"))
    val months = cells.select(TimeCol).distinct()
    val units = cells.select(UnitCol).distinct()
    broadcast(months).crossJoin(units)
      .join(cells, Seq(TimeCol, UnitCol), "left")
      .na.fill(0L, Seq("v9"))
  }

  /** events.parquet carries TIMESTAMP(NANOS), which Spark 4 refuses by
    * default; read nanos as long and rebuild a (UTC) timestamp column.
    * Microsecond-precision files instead surface ts as TIMESTAMP_NTZ,
    * which `unix_micros`/`session_window`/watermarks reject — cast to
    * TimestampType (session tz is pinned UTC in every entrypoint, so
    * the instant is preserved).
    */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = spark.read.parquet(s"$dir/events.parquet")
    normalizeTs(ev)
  }

  /** Normalize the `ts` column to session-tz TimestampType whatever the
    * parquet surfaced (nanos-as-long, TIMESTAMP_NTZ, or already LTZ).
    */
  def normalizeTs(ev: DataFrame): DataFrame =
    ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer `div`, NOT `/`: epoch nanos (~1.7e18) exceed a double's
        // 53-bit mantissa, so float division is off by ±hundreds of ns —
        // visible as off-by-one microseconds after truncation
        ev.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        ev.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => ev
    }

  /** `panel`'s own rows, in its column order, with `lag`'s `outs`
    * columns appended by (month_id, unit_id) in place of any panel
    * column of the same name: one left join, so `lag` must hold at most
    * one row per key. A row whose key has no lag row (a null key
    * included) or whose lag is NaN gets 0.0.
    */
  def appendByKey(panel: DataFrame, lag: DataFrame, outs: Seq[String]): DataFrame = {
    val keyed = lag.select(col(TimeCol).as("__t") +: col(UnitCol).as("__u") +: outs.map(col): _*)
    panel.drop(outs: _*)
      .join(keyed, col(TimeCol) === col("__t") && col(UnitCol) === col("__u"), "left")
      .drop("__t", "__u").na.fill(0.0, outs)
  }

  /** One panel kernel: `df`'s rows grouped on `key` behind one
    * input-sized [[Shuffle.by]] exchange (sorted by `orderBy` within each
    * group when given), and `f` run once per group ([[Group]]). Each row
    * `f` emits ([[Emit]]) is built once, with the `appends` columns set
    * (double or int, each with its own nullability): an append named
    * like an input column replaces it in place, others go at the end.
    * The grouped map declares its `key` clustering, so a
    * `bucketBy(key)` table is read by bucket without an exchange (a
    * `mapPartitions` would split groups across partitions there).
    */
  def kernel(df: DataFrame, key: String, orderBy: Option[String], reads: Seq[String],
             appends: Seq[StructField])(f: Group => Emit): DataFrame = {
    val codec = new Codec(df.schema, reads, appends)
    groups(df, key, orderBy, codec.schema)((_, rows) => codec(rows)(f))
  }

  /** The reduce form of [[kernel]]: the same exchange, sort, clustering
    * and group decode, but `f` answers each group with zero or more rows
    * of the `out` columns (values of their external types), emitted
    * after the group's `key`, which keeps the input's type.
    */
  def reduce(df: DataFrame, key: String, orderBy: Option[String], reads: Seq[String],
             out: Seq[StructField])(f: Group => Seq[Row]): DataFrame = {
    val at = reads.map(df.schema.fieldIndex).toArray
    groups(df, key, orderBy, StructType(df.schema(key) +: out)) { (k, rows) =>
      f(new Group(rows.toArray, at)).iterator.map(r => Row.fromSeq(k.get(0) +: r.toSeq))
    }
  }

  private def groups(df: DataFrame, key: String, orderBy: Option[String], schema: StructType)
                    (run: (Row, Iterator[Row]) => Iterator[Row]): DataFrame = {
    val grouped = Shuffle.by(df, col(key)).groupBy(col(key))
      .as[Row, Row](Encoders.row(StructType(Seq(df.schema(key)))), Encoders.row(df.schema))
    orderBy match {
      case Some(o) => grouped.flatMapSortedGroups(col(o))(run)(Encoders.row(schema))
      case None => grouped.flatMapGroups(run)(Encoders.row(schema))
    }
  }

  /** Non-null double appends of a [[kernel]]. */
  def doubles(names: String*): Seq[StructField] = names.map(StructField(_, DoubleType, nullable = false))

  /** How a [[kernel]] decodes a keyed group of `in`'s rows and encodes
    * the rows it emits; a grouped map of another shape (a cogroup) that
    * runs a kernel's function uses it the same way. An int append takes
    * the emitted double's integer value.
    */
  final class Codec(in: StructType, reads: Seq[String], appends: Seq[StructField])
      extends Serializable {
    private val at = reads.map(in.fieldIndex).toArray

    /** `in` with the replaced columns retyped, then the added ones. */
    val schema: StructType = StructType(in.fields.map(c => appends.find(_.name == c.name) match {
      case Some(a) => c.copy(dataType = a.dataType, nullable = a.nullable)
      case None => c
    }) ++ appends.filterNot(a => in.fieldNames.contains(a.name)))
    /** Each appended column's place in the output row. */
    private val slot = appends.map(a => schema.fieldIndex(a.name)).toArray
    private val isInt = appends.map(_.dataType == IntegerType).toArray

    /** `f` run on one keyed group of rows: the rows it emits. */
    def apply(rows: Iterator[Row])(f: Group => Emit): Iterator[Row] = {
      val group = rows.toArray
      val e = f(new Group(group, at))
      Iterator.tabulate(e.n) { k =>
        val r = group(e.rows(k))
        val out = new Array[Any](schema.length)
        var j = 0
        while (j < r.length) { out(j) = r.get(j); j += 1 }
        j = 0
        while (j < slot.length) {
          val x = e.values(j)(k)
          out(slot(j)) = if (e.nulls(j)(k)) null else if (isInt(j)) Int.box(x.toInt) else Double.box(x)
          j += 1
        }
        new GenericRow(out)
      }
    }
  }

  /** One keyed group of rows as a kernel reads it: `n` rows in the
    * group's order, and each of the kernel's `reads` columns (by its
    * place in `reads`) as a primitive array on demand. A null cell reads
    * as 0 and is flagged in [[nulls]]. Numbers are read through
    * `Number.doubleValue`, or `longValue` for month and unit ids.
    */
  final class Group private[Panel] (rows: Array[Row], at: Array[Int]) {
    val n: Int = rows.length
    def nulls(c: Int): Array[Boolean] = Array.tabulate(n)(rows(_).isNullAt(at(c)))
    def doubles(c: Int): Array[Double] = Array.tabulate(n)(num(_, c).doubleValue)
    def longs(c: Int): Array[Long] = Array.tabulate(n)(num(_, c).longValue)
    /** Column `c`'s cells as the rows hold them (null where null). */
    def cells(c: Int): Array[Any] = Array.tabulate(n)(rows(_).get(at(c)))
    private def num(r: Int, c: Int): Number =
      if (rows(r).isNullAt(at(c))) Int.box(0) else rows(r).get(at(c)).asInstanceOf[Number]
  }

  /** A kernel's answer for one group: `n` rows to emit, the `k`th being
    * the group's row `rows(k)`, with appended column `j` set to
    * `values(j)(k)`, or to null where `nulls(j)(k)`.
    */
  final class Emit(val n: Int, val rows: Array[Int], val values: Array[Array[Double]],
                   val nulls: Array[Array[Boolean]])

  object Emit {
    /** Every row of the group, in order, with non-null `values`. */
    def apply(values: Array[Double]*): Emit = new Emit(values.head.length,
      values.head.indices.toArray, values.toArray, values.map(v => new Array[Boolean](v.length)).toArray)
  }

  /** Dense cross-product reindex: every (month, unit) pair present,
    * missing feature cells filled with `fill` (reference transforms
    * coerce `fillna(0.0)` on entry — spatial_tree.py:29, splag4d.py:51).
    *
    * `months` is tiny (≤ #distinct timesteps) so it broadcasts; the left
    * join back onto the data shuffles on the composite key once.
    */
  def dense(panel: DataFrame, featureCols: Seq[String], fill: Double = 0.0): DataFrame = {
    val months = panel.select(TimeCol).distinct()
    val units = panel.select(UnitCol).distinct()
    broadcast(months).crossJoin(units)
      .join(panel, Seq(TimeCol, UnitCol), "left")
      .na.fill(fill, featureCols)
  }

  /** The canonical dense two-feature panel used by the oracle queries. */
  def densePanel(spark: SparkSession, dir: String): DataFrame =
    dense(fromEvents(spark, dir), Seq("value", "value2"))

  /** Deterministic missingness injected into `value` (cells where
    * `(unit_id*31 + month_id) % 7 == 0`), for exercising the
    * missing-data operator family against the DuckDB oracle.
    */
  def withMissing(panel: DataFrame): DataFrame =
    panel.withColumn(
      "value",
      when((col(UnitCol) * 31 + col(TimeCol)) % 7 === 0, lit(null).cast("double"))
        .otherwise(col("value")))

  def missingPanel(spark: SparkSession, dir: String): DataFrame =
    withMissing(densePanel(spark, dir))
}
