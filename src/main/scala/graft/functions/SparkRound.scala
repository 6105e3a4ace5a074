package graft.functions

/** Spark's `round(x, scale)` on a double, for code that replays Spark
  * expressions outside Catalyst (the single-task recurrences, the
  * trimmed-mean aggregator, the native projection and entropy
  * kernels): NaN and ±Infinity pass through unchanged, every other
  * value goes BigDecimal.valueOf → setScale HALF_UP → doubleValue —
  * what Round's DoubleType interpreted eval and codegen both execute.
  */
object SparkRound {
  def apply(d: Double, scale: Int): Double =
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) d
    else java.math.BigDecimal.valueOf(d)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()
}
