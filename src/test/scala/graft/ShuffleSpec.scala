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

  test("Shuffle.width: parallelism floor, advisory-sized partitions, shuffle-partition cap") {
    val mb = 1L << 20
    assert(Shuffle.width(BigInt(1), mb, 4, 200) == 4)
    assert(Shuffle.width(BigInt(16 * mb), mb, 4, 200) == 16)
    assert(Shuffle.width(BigInt(16 * mb + 1), mb, 4, 200) == 17)
    assert(Shuffle.width(BigInt(Long.MaxValue) * 4, mb, 4, 200) == 200)
    assert(Shuffle.width(BigInt(1), mb, 4, 2) == 2)

    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "200")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1000")
    val par = s.sparkContext.defaultParallelism
    assert(Shuffle.width(s.range(0, 2).toDF()) == par, "a tiny frame")
    val k = par + 12
    // a range's estimated size is 8 bytes a row
    val sized = s.range(0, k * 125L).toDF()
    assert(sized.queryExecution.optimizedPlan.stats.sizeInBytes == k * 1000L)
    assert(Shuffle.width(sized) == k)
    assert(Shuffle.by(sized, col("id")).rdd.getNumPartitions == k)
    assert(Shuffle.width(s.range(0, 1000000L).toDF()) == 200, "capped at the session's count")
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
}
