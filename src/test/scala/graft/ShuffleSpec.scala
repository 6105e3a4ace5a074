package graft

import graft.spatial.Grid
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

/** [[Shuffle]]'s width rule, and the panel family's keyed exchanges in a
  * session that keeps Spark's default of 200 shuffle partitions (a
  * `spark-submit --master` run): one input-sized exchange per pass, and
  * the same rows as in the suite's own session.
  */
class ShuffleSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  test("Shuffle.width: size floor at the minimum partition size, advisory-sized " +
      "partitions, shuffle-partition cap") {
    val mb = 1L << 20
    val advisory = 64 * mb
    // (size, advisory, minimum partition size, parallelism, cap)
    assert(Shuffle.width(BigInt(0), advisory, mb, 4, 200) == 1, "an empty input")
    assert(Shuffle.width(BigInt(1), advisory, mb, 4, 200) == 1)
    assert(Shuffle.width(BigInt(mb), advisory, mb, 4, 200) == 1)
    assert(Shuffle.width(BigInt(mb + 1), advisory, mb, 4, 200) == 2)
    assert(Shuffle.width(BigInt(4 * mb - 1), advisory, mb, 4, 200) == 4,
      "just under parallelism × minimum partition size")
    assert(Shuffle.width(BigInt(4 * mb + 1), advisory, mb, 4, 200) == 4,
      "just over: held at the parallelism")
    assert(Shuffle.width(BigInt(16 * mb), mb, mb, 4, 200) == 16)
    assert(Shuffle.width(BigInt(16 * mb + 1), mb, mb, 4, 200) == 17)
    assert(Shuffle.width(BigInt(Long.MaxValue) * 4, mb, mb, 4, 200) == 200)
    assert(Shuffle.width(BigInt(8 * mb), advisory, mb, 4, 2) == 2)

    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "200")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1000")
    val par = s.sparkContext.defaultParallelism
    assert(Shuffle.width(s.range(0, 2).toDF()) == 1, "a tiny frame")
    val k = par + 12
    // a range's estimated size is 8 bytes a row
    val sized = s.range(0, k * 125L).toDF()
    assert(sized.queryExecution.optimizedPlan.stats.sizeInBytes == k * 1000L)
    assert(Shuffle.width(sized) == k)
    assert(Shuffle.by(sized, col("id")).rdd.getNumPartitions == k)
    assert(Shuffle.width(s.range(0, 1000000L).toDF()) == 200, "capped at the session's count")
    val unknown = s.createDataFrame(s.sparkContext.parallelize(Seq(Row(1L))),
      org.apache.spark.sql.types.StructType.fromDDL("id BIGINT"))
    assert(unknown.queryExecution.optimizedPlan.stats.sizeInBytes ==
      s.sessionState.conf.defaultSizeInBytes, "a frame without a size estimate")
    assert(Shuffle.width(unknown) == 200, "an unknown size gets the session's count")

    // the session's minimum partition size sets the floor
    val small = spark.newSession()
    small.conf.set("spark.sql.shuffle.partitions", "200")
    small.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1000")
    assert(Shuffle.width(small.range(0, 375L).toDF()) == par.min(3), "3000 bytes")
  }

  /** An 8 × 10 block of grid units over 24 months with events, zeros,
    * nulls and NaN, written as parquet so both sessions read a scan.
    */
  private lazy val panelPath: String = {
    val units = for (lat <- 0L until 8L; lon <- 0L until 10L) yield lat * Grid.UnitCols + lon
    val rows = for (m <- 1L to 24L; u <- units) yield {
      val h = (u * 7L + m * 3L) % 17L
      val v = if (h == 0L) None else if (h == 1L) Some(Double.NaN)
              else if (h < 8L) Some(0.0) else Some((u % 9L) * 0.75 + m * 0.5)
      (m, u, v)
    }
    val dir = java.nio.file.Files.createTempDirectory("shuffle-spec").toString + "/panel"
    rows.toDF(Panel.TimeCol, Panel.UnitCol, "value").write.parquet(dir)
    dir
  }

  private val specs = Seq(
    "temporal chain" -> ("""[{"type":"replace_na","args":[0]},{"type":"tlag","args":[1]},""" +
      """{"type":"moving_average","args":[12]},{"type":"delta","args":[1]},""" +
      """{"type":"time_since","args":[0]},{"type":"decay","args":[12]}]"""),
    "splag4d" -> """[{"type":"splag4d","args":[1,1,0]}]""",
    "spacetime_dist" -> """[{"type":"spacetime_dist","args":["distances",1,1,0,0]}]""",
    "fourier_lag" -> """[{"type":"replace_na","args":[0]},{"type":"fourier_lag","args":[2]}]""",
    "temporal_tree_lag" -> """[{"type":"temporal_tree_lag","args":[0.8,"expon",4]}]""",
    "mixed per-unit steps" -> ("""[{"type":"replace_na","args":[0]},{"type":"tlag","args":[1]},""" +
      """{"type":"ewma","args":[0.5,3]},{"type":"onset","args":[6]},""" +
      """{"type":"tlags3d","args":[1,2]}]"""))

  /** The wire's per-unit requests that ran as Spark windows before they
    * joined the scan.
    */
  private val wireSpecs = Seq(
    """[{"type":"replace_na","args":[0]},{"type":"tlags3d","args":[1,2,3]}]""",
    """[{"type":"replace_na","args":[0]},{"type":"onset","args":[12]}]""",
    """[{"type":"replace_na","args":[0]},{"type":"ewma","args":[0.3,6]}]""")

  /** Rows as sorted strings, doubles by their bits. */
  private def bits(rows: Array[Row]): Seq[String] =
    rows.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d).toHexString
      case x => String.valueOf(x)
    }.mkString("|")).toSeq.sorted

  private def run(s: SparkSession, spec: String): (DataFrame, Seq[String]) = {
    val df = Registry.run(s.read.parquet(panelPath), spec)
    (df, bits(df.collect()))
  }

  /** (exchanges, sorts, windows) in `df`'s final plan, after running it. */
  private def shape(df: DataFrame): (Int, Int, Int) = {
    df.collect()
    val plan = df.queryExecution.executedPlan
    def count(pf: PartialFunction[SparkPlan, SparkPlan]) = collectWithSubqueries(plan)(pf).size
    (count { case e: ShuffleExchangeExec => e }, count { case s: SortExec => s },
      count { case w: WindowExec => w })
  }

  test("the wire-path temporal chain is one exchange, one sort and no window " +
      "operator; so is Registry.apply of one scan step") {
    val s200 = spark.newSession()
    s200.conf.set("spark.sql.shuffle.partitions", "200")
    try Seq("suite" -> spark, "200-partition" -> s200).foreach { case (name, s) =>
      val chain = Registry.run(s.read.parquet(panelPath), specs.head._2)
      assert(shape(chain) == ((1, 1, 0)), s"$name session:\n${chain.queryExecution.executedPlan}")
      Seq(Registry.Step("tlag", Seq(1.0)), Registry.Step("moving_average", Seq(12.0)),
          Registry.Step("time_since", Seq(0.0))).foreach { st =>
        val one = Registry.apply(s.read.parquet(panelPath), st)
        assert(shape(one) == ((1, 1, 0)),
          s"$name session, ${st.name}:\n${one.queryExecution.executedPlan}")
      }
      wireSpecs.foreach { sp =>
        val one = Registry.run(s.read.parquet(panelPath), sp)
        assert(shape(one) == ((1, 1, 0)), s"$name session, $sp:\n${one.queryExecution.executedPlan}")
      }
    } finally OpCache.clear(s200)
  }

  test("panel wire requests in a 200-partition session: one input-sized exchange " +
      "per keyed pass, rows bit-identical to the suite session's") {
    val s200 = spark.newSession()
    s200.conf.set("spark.sql.shuffle.partitions", "200")
    try {
      val width = Shuffle.width(s200.read.parquet(panelPath))
      assert(width < 200, s"the fixture must be narrower than the session's count: $width")
      specs.foreach { case (name, spec) =>
        val (df, rows) = run(s200, spec)
        val shuffles = collectWithSubqueries(df.queryExecution.executedPlan) {
          case e: ShuffleExchangeExec => e
        }
        assert(shuffles.size == 1, s"$name: ${df.queryExecution.executedPlan}")
        shuffles.foreach(e => assert(e.numPartitions <= width,
          s"$name: ${e.numPartitions} partitions, width $width\n${df.queryExecution.executedPlan}"))
        val (_, want) = run(spark, spec)
        assert(rows.nonEmpty && rows == want, s"$name: rows differ from the suite session's")
        if (name == "mixed per-unit steps")
          assert(shape(df) == ((1, 1, 0)), s"$name: ${df.queryExecution.executedPlan}")
      }
    } finally OpCache.clear(s200)
  }

  /** The wire's per-unit diagnostics, one [[Panel.reduce]] each. */
  private val diagnosticSpecs = Seq("""[{"type":"acf","args":[3]}]""", """[{"type":"pacf"}]""",
    """[{"type":"theil_sen"}]""", """[{"type":"mann_kendall"}]""", """[{"type":"runs_test"}]""",
    """[{"type":"seasonal_strength","args":[7,2]}]""",
    """[{"type":"forecast_backtest","args":[7]}]""", """[{"type":"changepoint"}]""")

  test("each per-unit diagnostic wire step is at most one exchange and one sort, with no " +
      "window and no join, and its rows are bit-identical in a 200-partition session") {
    val s200 = spark.newSession()
    s200.conf.set("spark.sql.shuffle.partitions", "200")
    try diagnosticSpecs.foreach { sp =>
      val rows = Seq("suite" -> spark, "200-partition" -> s200).map { case (name, s) =>
        // NaN has no 1e-6 or 1e-9 fixing under ANSI: the panel keeps its nulls and zeros
        val df = Registry.run(s.read.parquet(panelPath).filter(!isnan(col("value"))), sp)
        val (exchanges, sorts, windows) = shape(df)
        val joins = collectWithSubqueries(df.queryExecution.executedPlan) {
          case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
        }
        assert(exchanges <= 1 && sorts <= 1 && windows == 0 && joins.isEmpty,
          s"$name session, $sp:\n${df.queryExecution.executedPlan}")
        bits(df.collect())
      }
      assert(rows.head.nonEmpty && rows.head == rows(1), s"$sp: rows differ between the sessions")
    } finally OpCache.clear(s200)
  }

  test("a 9,600-row panel's tlag is one exchange of width 1, with the rows of a " +
      "200-partition exchange") {
    val units = for (lat <- 0L until 20L; lon <- 0L until 20L) yield lat * Grid.UnitCols + lon
    val rows = for (m <- 1L to 24L; u <- units) yield {
      val h = (u * 5L + m * 11L) % 13L
      (m, u, if (h == 0L) None else Some((u % 7L) * 0.5 + m * 0.25 - h))
    }
    assert(rows.size == 9600)
    val dir = java.nio.file.Files.createTempDirectory("shuffle-spec").toString + "/wire"
    rows.toDF(Panel.TimeCol, Panel.UnitCol, "value").write.parquet(dir)
    def tlag(s: SparkSession): (Seq[Int], Seq[String]) = {
      val df = Registry.apply(s.read.parquet(dir), Registry.Step("tlag", Seq(1.0)))
      val out = bits(df.collect())
      (collectWithSubqueries(df.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec => e.numPartitions
      }, out)
    }
    // an advisory size of one byte gives the exchange the session's count
    val wide = spark.newSession()
    wide.conf.set("spark.sql.shuffle.partitions", "200")
    wide.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1")
    val (narrow, got) = tlag(spark)
    val (widths, want) = try tlag(wide) finally OpCache.clear(wide)
    assert(narrow == Seq(1), s"widths $narrow")
    assert(widths == Seq(200), s"widths $widths")
    assert(got.size == 9600 && got == want, "rows differ from the 200-partition exchange's")
  }

  test("a cusum after a value-rewriting step stays in its scan: [tlag 1, cusum] is " +
      "one exchange and one sort, with the rows of a second scan over Panel.fix9") {
    val s200 = spark.newSession()
    s200.conf.set("spark.sql.shuffle.partitions", "200")
    try Seq("suite" -> spark, "200-partition" -> s200).foreach { case (name, s) =>
      // NaN has no fixing under ANSI: the panel keeps its nulls and zeros
      val p = s.read.parquet(panelPath).filter(!isnan(col("value")))
      val df = Registry.run(p, """[{"type":"tlag","args":[1]},{"type":"cusum","args":[2]}]""")
      assert(shape(df) == ((1, 1, 0)), s"$name session:\n${df.queryExecution.executedPlan}")
      val twoScans = ops.UnitScan(ops.UnitScan(p, Seq(ops.UnitScan.Lag(1)))
          .withColumn("__v9", Panel.fix9(col("value"))), Seq(ops.UnitScan.Cusum(2.0, "__v9")))
        .drop("__v9")
      assert(df.schema == twoScans.schema, name)
      val rows = bits(df.collect())
      assert(rows.nonEmpty && rows == bits(twoScans.collect()), s"$name: rows differ")
    } finally OpCache.clear(s200)
  }

  test("Dedup.shingles spreads an underfilled single-partition corpus over the cores, " +
      "not over Shuffle.width") {
    val docs = (1L to 200L).map(i => (i, s"doc $i says ${"word " * (i % 7).toInt}and more $i"))
      .toDF("doc_id", "text")
    val one = docs.coalesce(1)
    val cores = spark.sparkContext.defaultParallelism
    assert(Shuffle.width(one) == 1, "the corpus is small enough for one keyed task")
    val sh = dedup.Dedup.shingles(one, 2)
    val rows = bits(sh.collect())
    val widths = collectWithSubqueries(sh.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e.numPartitions
    }
    if (cores > 1) assert(widths == Seq(cores), s"widths $widths\n${sh.queryExecution.executedPlan}")
    assert(rows.nonEmpty && rows == bits(dedup.Dedup.shingles(docs, 2).collect()))
  }
}
