package graft

import org.scalatest.funsuite.AnyFunSuite

class LocalSessionSpec extends AnyFunSuite {
  private val Master = "spark.master"
  private val Partitions = "spark.sql.shuffle.partitions"

  test("a preset spark.master is kept, with no shuffle-partition override") {
    val c = LocalSession.conf(Some("yarn"), Some("3"), 16)
    assert(!c.contains(Master))
    assert(!c.contains(Partitions))
    assert(c == LocalSession.EngineConf)
  }

  test("unset master: local[SPARK_GRAFT_CPUS] with as many shuffle partitions") {
    val c = LocalSession.conf(None, Some("3"), 16)
    assert(c(Master) == "local[3]")
    assert(c(Partitions) == "3")
  }

  test("unset master and no override: local[nproc]") {
    val c = LocalSession.conf(None, None, 16)
    assert(c(Master) == "local[16]")
    assert(c(Partitions) == "16")
    assert(LocalSession.EngineConf.forall { case (k, v) => c(k) == v })
  }
}

/** The shared test session is the factory's, so suites run under the
  * config the benches measure — whichever suite created it first.
  */
class SharedSessionSpec extends SparkSpec {
  test("the shared test session carries the engine settings") {
    assert(spark.conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") == "4000000")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions").toInt ==
      spark.sparkContext.defaultParallelism)
  }
}
