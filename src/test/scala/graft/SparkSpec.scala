package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // keep the session for other suites

  /** A plan-shape test that names the keys of the library's exchanges:
    * `body` runs with AQE's minimum partition size at 64 bytes on the
    * shared session, so that [[Shuffle.width]] gives a small test frame
    * one partition per core and a keyed exchange plans as a hash
    * exchange on its keys, as on a panel of production size. (A frame
    * under the default 1 MB is one task: its exchange plans as
    * `SinglePartition`, which names no key.)
    */
  def testAtCoreWidth(name: String)(body: => Any): Unit = test(name) {
    val key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "64")
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Spark jobs started while `body` runs. A marker job run afterwards
    * flushes the listener: job-start events arrive in submission order.
    */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val marker = s"jobs-marker-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker))
          flushed.countDown()
        else if (flushed.getCount > 0) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener not flushed")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = LocalSession("graft-test")
}
