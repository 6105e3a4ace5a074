package graft

import org.apache.spark.sql.SparkSession

/** The one session factory behind every graft main and the test suite,
  * so correctness is checked under the config that is measured.
  *
  * A `spark.master` the JVM already carries (spark-submit's `--master`
  * arrives as that system property) is kept as is. Otherwise the session
  * runs `local[n]` with `n` = `SPARK_GRAFT_CPUS`, defaulting to the
  * host's processor count, and `n` shuffle partitions.
  *
  * The library sizes its own keyed exchanges from their input
  * ([[Shuffle]]), so the panel transforms, the spatial kernels and the
  * global ranking run the same under a preset master's 200 partitions:
  * a small pass is one task either way. The shuffle-partition setting
  * still governs the joins and aggregations Spark plans itself
  * (re-joins, `groupBy`s, distincts), and it caps [[Shuffle.width]]:
  * here `n`, so a pass larger than `n` advisory-sized partitions is
  * held to one partition per core.
  */
object LocalSession {

  /** Settings every session gets, whatever its master. The fallback
    * threshold keeps the bounded top-k aggregators (ObjectHashAggregate
    * over panel-cardinality groups) off the sort-based fallback, which
    * Spark's default triggers at 128 groups.
    */
  val EngineConf: Map[String, String] = Map(
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "4000000",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  /** The builder conf for a JVM whose system `spark.master` is
    * `presetMaster`, with `SPARK_GRAFT_CPUS` = `cpus` on a host with
    * `nproc` processors.
    */
  def conf(presetMaster: Option[String], cpus: Option[String], nproc: Int): Map[String, String] =
    presetMaster match {
      case Some(_) => EngineConf
      case None =>
        val n = cpus.fold(nproc)(_.trim.toInt)
        EngineConf ++ Map(
          "spark.master" -> s"local[$n]",
          "spark.sql.shuffle.partitions" -> n.toString)
    }

  def apply(appName: String): SparkSession = {
    val builder = SparkSession.builder().appName(appName)
    conf(sys.props.get("spark.master"), sys.env.get("SPARK_GRAFT_CPUS"),
      Runtime.getRuntime.availableProcessors)
      .foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
