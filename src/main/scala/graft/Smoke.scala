package graft

/** Mirrors the driver's t1 smoke: SparkEntry.entry must return rows > 0
  * on sf0.001. Run: sbt "runMain graft.Smoke"
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession("graft-smoke")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"[smoke] entry rows=$n schema=${df.schema.simpleString}")
    df.show(5, truncate = false)
    assert(n > 0, "entry returned no rows")
    spark.stop()
  }
}
