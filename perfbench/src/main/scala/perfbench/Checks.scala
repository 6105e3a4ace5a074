package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Output checks. Each returns None when the output is right, else a
  * one-line reason.
  */
object Checks {

  /** Canonical row hash: columns in name order, doubles rounded to 1e-6
    * (and -0.0 folded into 0.0). Summing it over rows (as a decimal, so it
    * never overflows) gives an order-free digest of the sorted rows.
    */
  def rowHash(df: DataFrame): Column = {
    val cols = df.schema.fields.sortBy(_.name).toSeq.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => round(c.cast(DoubleType), 6) + lit(0.0)
        case ArrayType(DoubleType | FloatType, _) =>
          transform(c, x => round(x.cast(DoubleType), 6) + lit(0.0))
        case _ => c
      }
    }
    xxhash64(cols: _*).cast(DecimalType(38, 0))
  }

  // ---- plain-Scala recomputation on sampled units ----------------------

  /** Sample `k` unit ids of `units`, seeded. */
  def sampleUnits(seed: Long, units: Int, k: Int): Seq[Long] = {
    val rnd = new java.util.SplittableRandom(seed ^ 0x5eed)
    Iterator.continually(rnd.nextInt(units).toLong).distinct.take(k).toSeq.sorted
  }

  private def series(rows: Seq[Row]): Map[Long, Array[(Long, Double)]] =
    rows.groupBy(_.getLong(1)).map { case (u, rs) =>
      u -> rs.map(r => (r.getLong(0), if (r.isNullAt(2)) Double.NaN else r.getDouble(2)))
        .sortBy(_._1).toArray
    }

  /** The temporal chain replace_na → tlag 1 → moving_average 12 →
    * delta 1 → time_since 0 → decay 12, per unit, in plain Scala.
    * Returns (month, value) rows; the first three months drop out (the
    * lag and delta leave them undefined, and time_since drops them).
    */
  def chainModel(xs: Array[(Long, Double)]): Seq[(Long, Double)] = {
    val n = xs.length
    val r = xs.map(x => if (x._2.isNaN) 0.0 else x._2)
    val lagged: Array[Option[Double]] = Array.tabulate(n)(t => if (t == 0) None else Some(r(t - 1)))
    val ma: Array[Option[Double]] = Array.tabulate(n) { t =>
      val win = (math.max(0, t - 11) to t).flatMap(lagged(_))
      if (win.isEmpty) None else Some(win.sum / win.size)
    }
    val d: Array[Option[Double]] = Array.tabulate(n) { t =>
      if (t == 0) None else for (a <- ma(t); b <- ma(t - 1)) yield a - b
    }
    val out = Seq.newBuilder[(Long, Double)]
    var run = 0
    for (t <- 1 until n; prev <- d(t - 1)) {
      run = if (prev == 0.0) run + 1 else 0
      out += ((xs(t)._1, math.pow(2.0, (run * -1.0) / 12.0)))
    }
    out.result()
  }

  /** Compare `got` (month_id, unit_id, value) rows for `units` with the
    * model applied to `input` rows of the same units.
    */
  def compareSeries(name: String, input: Seq[Row], got: Seq[Row],
                    model: Array[(Long, Double)] => Seq[(Long, Double)]): Option[String] = {
    val in = series(input)
    val out = series(got)
    val bad = in.keys.toSeq.sorted.flatMap { u =>
      val want = model(in(u))
      val have = out.getOrElse(u, Array.empty[(Long, Double)]).toSeq
      if (want.size != have.size) Some(s"unit $u: ${have.size} rows, want ${want.size}")
      else want.zip(have).collectFirst {
        case ((m1, v1), (m2, v2)) if m1 != m2 || !(math.abs(v1 - v2) <= 1e-9) =>
          s"unit $u month $m2: $v2, want $v1"
      }
    }
    bad.headOption.map(b => s"$name recomputation differs (${bad.size} units): $b")
  }

  /** splag4d 1,1,0 (unnormalised queen sum over the 8 neighbours of the
    * 40-column grid block) for `units`, from the neighbourhood rows.
    */
  def splagModel(units: Seq[Long], nUnits: Int, neigh: Seq[Row]): Map[(Long, Long), Double] = {
    val v = neigh.map(r => (r.getLong(0), r.getLong(1)) ->
      (if (r.isNullAt(2)) Double.NaN else r.getDouble(2))).toMap
    val months = neigh.map(_.getLong(0)).distinct
    (for { u <- units; m <- months } yield {
      val lon = u % 40
      val lat = u / 40
      val terms = for {
        dx <- -1 to 1; dy <- -1 to 1 if dx != 0 || dy != 0
        nl = lon + dx; nt = lat + dy
        if nl >= 0 && nl < 40 && nt >= 0
        id = nt * 40 + nl if id < nUnits
        x <- v.get((m, id)) if !x.isNaN
      } yield x
      (m, u) -> terms.sum
    }).toMap
  }

  /** Neighbourhood (sample units plus their grid neighbours) of `units`. */
  def neighbourhood(units: Seq[Long]): Seq[Long] =
    units.flatMap(u => for (dx <- -1 to 1; dy <- -1 to 1) yield u + dy * 40 + dx)
      .filter(_ >= 0).distinct

  // ---- corpus invariants ------------------------------------------------

  /** Survivors ⊆ input ids, survivors ⊆ the exact-dedup stage's
    * survivors, which carry pairwise-distinct fingerprints, and every
    * packed chunk starts inside its 512-token sequence.
    */
  def corpus(out: DataFrame, inputIds: DataFrame, deduped: DataFrame,
             context: Long): Option[String] = {
    val ids = out.select("doc_id").distinct()
    val foreign = ids.join(inputIds, Seq("doc_id"), "left_anti").count()
    val notDeduped = ids.join(deduped.select("doc_id"), Seq("doc_id"), "left_anti").count()
    val fps = deduped.select(graft.text.TextOps.fingerprint(col("text")).as("fp"))
    val dupFps = fps.count() - fps.distinct().count()
    val overflow = out.filter(col("offset") < 0 || col("offset") >= context ||
      col("n_tokens") > 64).count()
    if (foreign > 0) Some(s"$foreign survivor ids are not input ids")
    else if (notDeduped > 0) Some(s"$notDeduped survivors were removed by dedup_exact")
    else if (dupFps > 0) Some(s"$dupFps exact-duplicate fingerprints survive dedup_exact")
    else if (overflow > 0) Some(s"$overflow packed chunks start outside their $context-token sequence")
    else None
  }
}
