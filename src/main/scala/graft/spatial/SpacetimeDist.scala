package graft.spatial

import graft.{OpCache, Panel, Shuffle}
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** Spacetime k-nearest-event distances — reference
  * get_spacetime_distances (spacetime_distance.py:7-211): for every
  * (cell, month), find the k nearest past-or-present events (cells with
  * value > threshold; reference uses > 0, spacetime_distance.py:132) in
  * the metric sqrt((0.5·Δlon)² + (0.5·Δlat)² + (nu·Δt)²) (cell→degree
  * scaling PGID_TO_DEGREES = 0.5, time stretched by nu), returning the
  * mean distance or the mean event weight `size/d^power` (size itself
  * when d = 0). Cells with no events yet get the 999.0 sentinel
  * (spacetime_distance.py:151).
  *
  * One kernel in two stages, with no join anywhere (REPOSE-style: the
  * search runs inside a partition, not through distributed joins):
  *  - stage 1 keeps, per (unit, event month), the k spatially-nearest
  *    events of that month — within one event month the time term is
  *    constant, so only those can ever reach the unit's top-k at any
  *    later t (an exact pruning);
  *  - stage 2 ([[asOf]]) ranks, for each of the unit's months t, the
  *    stage-1 candidates with e_t <= t by their full spacetime distance.
  *
  * Stage 1 runs one of two ways, chosen by the event count (see
  * [[chooseBand]]):
  *  - BROADCAST (at most [[AutoBandEvents]] events): the filtered event
  *    set is collected once and broadcast, and each unit scans every
  *    event inside the one `unit_id` exchange that also feeds stage 2;
  *  - EVENT-MONTH (more events, or an explicit [[Band]]): events are
  *    exchanged on their month, the unit geometry is broadcast, and
  *    each month's task answers every unit's top-k from a grid index
  *    over that month's events with a widening ring search (see
  *    [[Band]]); stage 2 then cogroups panel rows and candidates on
  *    `unit_id`.
  * Both order candidates by (d, e_t, e_u) with the same arithmetic, so
  * they agree bit for bit; the reference's KD-tree tie order is
  * arbitrary, so determinism is our choice.
  */
object SpacetimeDist {

  /** Event-month search spec: each month's events are indexed in a grid
    * of `bandCells`-wide cells, and each unit's search starts with the
    * cells within Chebyshev distance `ring` of its own cell and widens
    * one ring at a time.
    *
    * The search at ring R stops when it holds k events and the kth
    * smallest squared distance is strictly below (0.5·R·b)²: an event
    * outside the ring lies in a cell more than R cells away in some
    * coordinate, so its coordinate gap to the unit exceeds R·b and its
    * squared distance exceeds that bound — every outside event ranks
    * after the kth. It also stops once the ring covers every occupied
    * cell. Every geometry is therefore exact; `bandCells` and `ring`
    * only tune how many cells a search visits.
    */
  final case class Band(bandCells: Double, ring: Int) {
    require(bandCells > 0.0, "bandCells must be positive")
    require(ring >= 1, "ring must be >= 1")
  }

  /** The bound on rows one process holds for this operator. The
    * broadcast path collects every event to the driver and ships it to
    * every task, and scans units × E candidates there — fine while E is
    * broadcast-sized, a bottleneck when the event set itself is
    * data-scale: more events than this take the event-month path. There,
    * one month's events (one task) and the unit geometry (the driver,
    * then every task) are held whole, and each is checked against this
    * bound by [[checkBound]]. 2M events ≈ 80 MB at 5 primitive columns —
    * the upper edge of comfortable.
    */
  val AutoBandEvents: Long = 2000000L

  /** The band geometry auto-dispatch falls back to. Any geometry is
    * exact (see [[Band]]), so this only tunes the search: 4°-wide cells
    * with a 1-cell starting ring.
    */
  val DefaultBand: Band = Band(4.0, 1)

  /** The stage-1 dispatch rule, pure so plans/tests can pin it: an
    * explicit request wins; otherwise band when the event count
    * crosses `autoBandEvents`.
    */
  def chooseBand(eventCount: Long, banded: Option[Band],
                 autoBandEvents: Long): Option[Band] =
    banded.orElse(
      if (eventCount > autoBandEvents) Some(DefaultBand) else None)

  /** Fails with a message that names [[AutoBandEvents]] and `rows` when
    * `rows` — the size of what one process must hold as `what` — is
    * over that bound.
    */
  def checkBound(what: String, rows: Long): Unit =
    if (rows > AutoBandEvents)
      throw new IllegalArgumentException(s"spacetime distances: $what has $rows rows, " +
        s"over the SpacetimeDist.AutoBandEvents bound of $AutoBandEvents")

  /** EAGER: the dispatch collects the filtered event set (at most
    * `autoBandEvents + 1` rows) at PLAN CONSTRUCTION time, and the
    * event-month path collects the unit geometry (one row per unit),
    * even if the caller never consumes the returned DataFrame. Same
    * contract as [[graft.ops.Ranking.globalCumsum]]: each collect is
    * what its path broadcasts.
    *
    * @param monthCap compat quirk: the reference processes only the
    * first 600 months (`times[0:600]`, spacetime_distance.py:127);
    * pass Some(600) to replicate (months beyond the cap keep their
    * rows but are never computed — they get the 999.0 sentinel). The
    * capped month set is collected eagerly too.
    * @param banded Some(Band(...)) forces the event-month path
    * (identical results by construction; see [[Band]]) without the
    * event collect. None defers to the auto-dispatch.
    * @param autoBandEvents event-count bound of the broadcast path when
    * `banded` is None: more filtered events than this take the
    * event-month path. A bound of Int.MaxValue or more (e.g.
    * `Long.MaxValue`) pins the broadcast path and collects the event set
    * without a limit.
    * @return (month_id, unit_id, out)
    */
  def spacetimeDistances(panel: DataFrame, valueCol: String,
                         returnValues: String, k: Int, nu: Double, power: Double,
                         eventThreshold: Double = 0.0,
                         lonCol: String = "lon", latCol: String = "lat",
                         out: String = "stdist",
                         monthCap: Option[Int] = None,
                         banded: Option[Band] = None,
                         autoBandEvents: Long = AutoBandEvents): DataFrame = {
    val T = Panel.TimeCol
    val U = Panel.UnitCol
    // only the columns the operator reads cross its exchange
    val cells = panel.select(col(T), col(U), col(lonCol).as("__lon"),
      col(latCol).as("__lat"), col(valueCol).as("__v"))
    withSpacetimeDistances(cells, "__v", returnValues, k, nu, power,
      eventThreshold, "__lon", "__lat", out, monthCap, banded, autoBandEvents)
      .select(col(T), col(U), col(out))
  }

  /** [[spacetimeDistances]] appended to the input rows: every row comes
    * back with a non-null double column `out`.
    */
  def withSpacetimeDistances(panel: DataFrame, valueCol: String,
                             returnValues: String, k: Int, nu: Double, power: Double,
                             eventThreshold: Double = 0.0,
                             lonCol: String = "lon", latCol: String = "lat",
                             out: String = "stdist",
                             monthCap: Option[Int] = None,
                             banded: Option[Band] = None,
                             autoBandEvents: Long = AutoBandEvents): DataFrame = {
    val T = Panel.TimeCol
    val U = Panel.UnitCol
    require(returnValues == "distances" || returnValues == "weights",
      s"return_values must be 'distances' or 'weights', got $returnValues")
    require(k >= 1, s"k must be >= 1, got $k")

    val capped = monthCap.map(cap =>
      panel.select(col(T).cast("long")).filter(col(T).isNotNull).distinct()
        .orderBy(col(T)).limit(cap).collect().map(_.getLong(0)).toSet)
    // (e_t, e_lon, e_lat, e_size, e_u) as (long, double, double, double, long)
    val events = {
      val ev = panel.filter(col(valueCol) > eventThreshold &&
          col(T).isNotNull && col(U).isNotNull &&
          col(lonCol).isNotNull && col(latCol).isNotNull)
        .select(col(T).cast("long").as("e_t"), col(lonCol).cast("double").as("e_lon"),
          col(latCol).cast("double").as("e_lat"), col(valueCol).cast("double").as("e_size"),
          col(U).cast("long").as("e_u"))
      capped.fold(ev)(s => ev.filter(col("e_t").isin(s.toSeq: _*)))
    }
    val q = Query(k, nu, power, returnValues == "weights", capped)
    // explicit request skips the collect; otherwise one bounded collect
    // of the filtered events both sizes the dispatch and, under the
    // bound, is the event set the broadcast path ships
    val collected: Option[Array[Row]] =
      if (banded.isDefined) None
      else if (autoBandEvents < Int.MaxValue)
        Some(events.limit(autoBandEvents.toInt + 1).collect())
      else Some(events.collect())
    chooseBand(collected.fold(0L)(_.length.toLong), banded, autoBandEvents) match {
      case Some(band) => eventMonth(panel, events, band, q, lonCol, latCol, out)
      case None => broadcastEvents(panel, collected.get, q, lonCol, latCol, out)
    }
  }

  /** The query's stage-2 parameters. `capped` months are the only ones
    * computed when a month cap is set.
    */
  private final case class Query(k: Int, nu: Double, power: Double, weights: Boolean,
                                 capped: Option[Set[Long]])

  /** One unit's stage-1 candidates in ascending e_t. */
  private final class Cands(val t: Array[Long], val sd2: Array[Double],
                            val u: Array[Long], val size: Array[Double])

  /** The broadcast path: each unit's stage 1 scans the broadcast event
    * set (a request-lifetime [[OpCache.broadcast]]) inside the one
    * [[Panel.kernel]] on unit_id that runs its stage 2.
    */
  private def broadcastEvents(panel: DataFrame, events: Array[Row], q: Query,
                              lonCol: String, latCol: String, out: String): DataFrame = {
    val byMonth = events.sortBy(_.getLong(0))
    val ev = OpCache.broadcast(panel.sparkSession, (
      byMonth.map(_.getLong(0)), byMonth.map(_.getDouble(1)), byMonth.map(_.getDouble(2)),
      byMonth.map(_.getDouble(3)), byMonth.map(_.getLong(4))))

    Panel.kernel(panel, Panel.UnitCol, None, Seq(Panel.TimeCol, lonCol, latCol),
        Panel.doubles(out)) { g =>
      val (eT, eLon, eLat, eSize, eU) = ev.value
      val cT = Array.newBuilder[Long]
      val cSd2 = Array.newBuilder[Double]
      val cU = Array.newBuilder[Long]
      val cSize = Array.newBuilder[Double]
      // one geo row per unit, even if a panel carries inconsistent or
      // time-varying unit coordinates
      if (!g.nulls(1)(0) && !g.nulls(2)(0)) {
        val (lon, lat) = (g.doubles(1)(0), g.doubles(2)(0))
        val top = new TopBuf(q.k)
        var i = 0
        while (i < eT.length) {
          top.clear()
          val month = eT(i)
          while (i < eT.length && eT(i) == month) {
            top.offer(sd2(lon, lat, eLon(i), eLat(i)), month, eU(i), i)
            i += 1
          }
          var j = 0
          while (j < top.size) {
            cT += month; cSd2 += top.d(j); cU += eU(top.idx(j)); cSize += eSize(top.idx(j))
            j += 1
          }
        }
      }
      Panel.Emit(asOf(g, new Cands(cT.result(), cSd2.result(), cU.result(), cSize.result()), q))
    }
  }

  /** The event-month path. Stage 1: events exchanged on e_t, the unit
    * geometry (one lon/lat per unit, from one of its rows, as the
    * broadcast path takes it) broadcast, and in each month's task a
    * grid index over that month's events answers every located unit's
    * top-k with the ring search of [[Band]]. Stage 2: panel rows and
    * candidates cogrouped on unit_id into [[asOf]], the panel rows
    * decoded and encoded by the kernel's [[Panel.Codec]].
    */
  private def eventMonth(panel: DataFrame, events: DataFrame, band: Band, q: Query,
                         lonCol: String, latCol: String, out: String): DataFrame = {
    val U = Panel.UnitCol
    val schema = panel.schema
    // one job: the reduce keeps one row per unit without an SQL
    // aggregation's extra query stage
    val geo = panel.select(col(U), col(lonCol).cast("double"), col(latCol).cast("double"))
      .filter(col(U).isNotNull).rdd
      .map(r => (r.get(0), (r.get(1), r.get(2)))).reduceByKey((a, _) => a)
      .filter { case (_, (lon, lat)) => lon != null && lat != null }
      .collect()
    checkBound("the unit geometry", geo.length)
    val g = OpCache.broadcast(panel.sparkSession, (geo.map(_._1),
      geo.map(_._2._1.asInstanceOf[Double]), geo.map(_._2._2.asInstanceOf[Double])))
    val candSchema = StructType(Seq(schema(U), StructField("e_t", LongType),
      StructField("sd2", DoubleType), StructField("e_u", LongType),
      StructField("e_size", DoubleType)))
    val b = band.bandCells
    val ring = band.ring

    val cands = Shuffle.by(events, col("e_t")).groupBy(col("e_t"))
      .as[Row, Row](Encoders.row(StructType(Seq(events.schema("e_t")))),
        Encoders.row(events.schema))
      .flatMapGroups { (key: Row, rows: Iterator[Row]) =>
        val month = key.getLong(0)
        val ev = rows.take(AutoBandEvents.toInt + 1).toArray
        checkBound(s"event month $month", ev.length)
        val eLon = ev.map(_.getDouble(1))
        val eLat = ev.map(_.getDouble(2))
        val eSize = ev.map(_.getDouble(3))
        val eU = ev.map(_.getLong(4))
        def cellOf(x: Double) = math.floor(x / b).toLong
        val index = ev.indices.groupBy(i => (cellOf(eLon(i)), cellOf(eLat(i))))
        val (minX, maxX) = (index.keys.map(_._1).min, index.keys.map(_._1).max)
        val (minY, maxY) = (index.keys.map(_._2).min, index.keys.map(_._2).max)
        val (gU, gLon, gLat) = g.value
        val top = new TopBuf(q.k)
        def offer(lon: Double, lat: Double, i: Int): Unit =
          top.offer(sd2(lon, lat, eLon(i), eLat(i)), month, eU(i), i)
        gU.indices.iterator.flatMap { j =>
          val (lon, lat) = (gLon(j), gLat(j))
          val (cx, cy) = (cellOf(lon), cellOf(lat))
          def visit(x: Long, y: Long): Unit =
            index.get((x, y)).foreach(_.foreach(offer(lon, lat, _)))
          // rings closer than the occupied box hold nothing; the ring
          // at `cover` reaches every occupied cell
          var r = Seq(minX - cx, cx - maxX, minY - cy, cy - maxY, 0L).max
          val cover = Seq(cx - minX, maxX - cx, cy - minY, maxY - cy).max
          top.clear()
          var done = false
          while (!done) {
            if (4.0 * r * r > ev.length) {
              // the rings so far cost about as many cell probes as the
              // month has events: scanning them all is cheaper from here
              top.clear()
              ev.indices.foreach(offer(lon, lat, _))
              done = true
            } else {
              // the cells at Chebyshev distance exactly r, within the box
              var x = math.max(cx - r, minX)
              while (x <= math.min(cx + r, maxX)) {
                if (x == cx - r || x == cx + r) {
                  var y = math.max(cy - r, minY)
                  while (y <= math.min(cy + r, maxY)) { visit(x, y); y += 1 }
                } else {
                  visit(x, cy - r)
                  visit(x, cy + r)
                }
                x += 1
              }
              val bound = { val h = 0.5 * r * b; h * h }
              done = r >= cover || (r >= ring && top.size == q.k && top.d(q.k - 1) < bound)
              r += 1
            }
          }
          Array.tabulate(top.size)(n =>
            Row(gU(j), month, top.d(n), eU(top.idx(n)), eSize(top.idx(n))))
        }
      }(Encoders.row(candSchema))

    // both sides at one width, so the cogroup plans no exchange of its own
    val n = Shuffle.width(panel)
    val keyEnc = Encoders.row(StructType(Seq(schema(U))))
    val codec = new Panel.Codec(schema, Seq(Panel.TimeCol), Panel.doubles(out))
    panel.repartition(n, col(U)).groupBy(col(U)).as[Row, Row](keyEnc, Encoders.row(schema))
      .cogroup(cands.repartition(n, col(U)).groupBy(col(U))
        .as[Row, Row](keyEnc, Encoders.row(candSchema))) {
        (_: Row, rows: Iterator[Row], cs: Iterator[Row]) =>
          val c = cs.toArray.sortBy(_.getLong(1))
          val cands = new Cands(c.map(_.getLong(1)), c.map(_.getDouble(2)),
            c.map(_.getLong(3)), c.map(_.getDouble(4)))
          codec(rows)(g => Panel.Emit(asOf(g, cands, q)))
      }(Encoders.row(codec.schema))
  }

  /** Squared spatial distance in degrees (PGID_TO_DEGREES = 0.5), the
    * stage-1 rank of both paths.
    */
  private def sd2(lon: Double, lat: Double, eLon: Double, eLat: Double): Double = {
    val sdx = (lon - eLon) * 0.5
    val sdy = (lat - eLat) * 0.5
    sdx * sdx + sdy * sdy
  }

  /** Stage 2 of both paths: each of a unit's rows (`g`, whose first
    * read is the month) with its month t gets the mean distance (or
    * weight) of the top-k by (d², e_t, e_u) of the unit's candidates
    * with e_t <= t, 999.0 when there are none.
    * Squared distances rank (d² orders as d does), StrictMath.pow is
    * Spark's pow, means sum in rank order, and NaN results fold into the
    * sentinel.
    */
  private def asOf(g: Panel.Group, c: Cands, q: Query): Array[Double] = {
    val (t, tNul) = (g.longs(0), g.nulls(0))
    val top = new TopBuf(q.k)
    val halfPower = q.power / 2.0
    Array.tabulate(g.n) { r =>
      var v = 999.0
      if (!tNul(r) && c.t.nonEmpty && q.capped.forall(_.contains(t(r)))) {
        top.clear()
        var j = 0
        while (j < c.t.length && c.t(j) <= t(r)) {
          val dt = (t(r) - c.t(j)) * q.nu
          top.offer(c.sd2(j) + dt * dt, c.t(j), c.u(j), j)
          j += 1
        }
        if (top.size > 0) {
          var sum = 0.0
          j = 0
          while (j < top.size) {
            val d2 = top.d(j)
            val size = c.size(top.idx(j))
            sum += (if (!q.weights) math.sqrt(d2)
                    else if (d2 == 0.0) size
                    else size / StrictMath.pow(d2, halfPower))
            j += 1
          }
          // reference fidelity: cKDTree.query pads missing
          // neighbours with inf when fewer than k events exist
          // yet, so the distance mean is inf for months with
          // 0 < count < k (spacetime_distance.py:160-186). The
          // reference's weights path crashes there (IndexError
          // swallowed by a bare except, leaving np.empty garbage);
          // we deliberately return the mean of the available
          // weights instead (SURVEY §7.3 bug list).
          val m =
            if (!q.weights && top.size < q.k) Double.PositiveInfinity
            else sum / top.size
          if (!m.isNaN) v = m
        }
      }
      v
    }
  }

  /** Bounded top-k buffer ordered by (d, e_t, e_u), carrying each
    * entry's index; insertion-sorted, O(1) rejection once full.
    */
  private final class TopBuf(k: Int) {
    val d = new Array[Double](k)
    private val t = new Array[Long](k)
    private val u = new Array[Long](k)
    val idx = new Array[Int](k)
    var size = 0
    def clear(): Unit = size = 0
    private def before(d1: Double, t1: Long, u1: Long, j: Int): Boolean = {
      val c = java.lang.Double.compare(d1, d(j))
      c < 0 || (c == 0 && (t1 < t(j) || (t1 == t(j) && u1 < u(j))))
    }
    def offer(d1: Double, t1: Long, u1: Long, i1: Int): Unit =
      if (size < k || before(d1, t1, u1, size - 1)) {
        var j = if (size < k) size else size - 1
        while (j > 0 && before(d1, t1, u1, j - 1)) {
          d(j) = d(j - 1); t(j) = t(j - 1); u(j) = u(j - 1); idx(j) = idx(j - 1)
          j -= 1
        }
        d(j) = d1; t(j) = t1; u(j) = u1; idx(j) = i1
        if (size < k) size += 1
      }
  }
}
