package graft.spatial

import graft.{OpCache, Panel, Shuffle}
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

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
  * Two execution paths, chosen by the event count (see [[chooseBand]]):
  *  - KERNEL (at most [[AutoBandEvents]] events): the filtered event set
  *    is collected once and broadcast, and ONE hash exchange on unit_id
  *    feeds a per-unit local top-k (REPOSE-style: the search runs inside
  *    the partition, not through distributed joins). Per unit, stage 1
  *    keeps the k spatially-nearest events of every event month —
  *    within one event-month the time term is constant, so only those
  *    can ever reach the unit's top-k at any later t (an exact pruning);
  *    stage 2 ranks, for each of the unit's months t, the stage-1
  *    candidates with e_t <= t by their full spacetime distance.
  *  - BANDED (more events, or an explicit [[Band]]): ring-bounded
  *    candidate generation with a per-cell completeness certificate,
  *    then the as-of top-k as a unit-keyed equi-join into a bounded
  *    top-k aggregation.
  *  - Both paths order candidates by (d, e_t, e_u); the reference's
  *    KD-tree tie order is arbitrary, so determinism is our choice.
  */
object SpacetimeDist {

  type Cand = (Double, Long, Long, Double) // (d, e_t, e_u, e_size)

  /** Bounded top-k by (d, e_t, e_u): keeps at most k candidates through
    * partial/merge aggregation.
    */
  class TopK(k: Int) extends Aggregator[Cand, Seq[Cand], Seq[Cand]] {
    private val ord = Ordering.by[Cand, (Double, Long, Long)](c => (c._1, c._2, c._3))
    override def zero: Seq[Cand] = Seq.empty
    override def reduce(b: Seq[Cand], a: Cand): Seq[Cand] =
      // O(1) rejection once the buffer is full — the overwhelmingly
      // common case; inserts happen only ~k·H(n) times per group
      if (b.length >= k && ord.compare(a, b.last) >= 0) b
      else (b :+ a).sorted(ord).take(k)
    override def merge(a: Seq[Cand], b: Seq[Cand]): Seq[Cand] =
      (a ++ b).sorted(ord).take(k)
    override def finish(r: Seq[Cand]): Seq[Cand] = r
    override def bufferEncoder: Encoder[Seq[Cand]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    override def outputEncoder: Encoder[Seq[Cand]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** Banded candidate generation spec: events bucket into coarse
    * `bandCells`-wide grid cells; each unit joins only the events of
    * the (2·ring+1)² band cells around its own (an equi-join on the
    * cell key — candidate volume is ring-bounded, never O(units×E)).
    *
    * Exactness is preserved by a PER-CELL completeness certificate
    * (r12 — the r11 per-(unit, month) proof put a units×months row in
    * the checked frame and, worse, sent every uncertified group to a
    * full-month recompute whose volume degenerated to the O(U·E)
    * broadcast product at 100× density; measured DNF, SCALING.md). A
    * band cell C is provably complete for event-month t at ring R when
    * the kth smallest MAX-CORNER distance² among t's events within
    * Chebyshev cell-distance R of C is strictly below (0.5·R·b)² — the
    * minimum any outside-ring event can attain from ANY point of C —
    * or when the ring already holds ALL of t's events. The certificate
    * covers every unit in C at once: max-corner distance dominates the
    * unit's true distance, so each unit's kth-nearest ring event beats
    * every outside-ring event. Proof work scales with occupied cells ×
    * months, not units × months.
    *
    * Uncertified (cell, month) pairs ESCALATE through rings 3·ring
    * and 9·ring before touching the full event set, and the first
    * escalation is provably sufficient for cert-tightness losses: an
    * event within Chebyshev m of C has max-corner distance ≤
    * 0.5·(m+1)·b·√2, so any pair with ≥ k events inside its ORIGINAL
    * ring (m ≤ R) certifies at 3R because (R+1)·√2 < 3R for all
    * R ≥ 1. Only neighbourhoods with fewer than k events in their own
    * ring fall further; the 9·ring step shrinks that tail so the
    * final exact fallback (full month event set, salted month join)
    * sees only genuinely event-starved pairs, whose count bounds the
    * fallback volume. The 100 TB path for dense event sets, where the
    * O(E) broadcast of the default path stops fitting.
    */
  final case class Band(bandCells: Double, ring: Int) {
    require(bandCells > 0.0, "bandCells must be positive")
    require(ring >= 1, "ring must be >= 1")
  }

  /** Event count past which the kernel path stops being the right plan
    * and the ring-bounded banded generator takes over. The kernel path
    * collects every event to the driver, broadcasts it to every task
    * and scans units × E candidates there — fine while E is
    * broadcast-sized (tens of MB), a bottleneck when the event set
    * itself is data-scale. 2M events ≈ 80 MB broadcast at 5 primitive
    * columns — the upper edge of comfortable.
    */
  val AutoBandEvents: Long = 2000000L

  /** The band geometry auto-dispatch falls back to. Any geometry is
    * EXACT (the banded generator proves each group complete or
    * recomputes it against the month's full event set), so this only
    * tunes performance: 4°-wide bands with a 1-cell ring bound
    * candidates to a 12°×12° neighbourhood.
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

  /** EAGER on both paths: the dispatch collects the filtered event set
    * (at most `autoBandEvents + 1` rows) at PLAN CONSTRUCTION time, and
    * on the banded path (ADVICE r15) the level-0 `pending0.isEmpty`
    * probe materializes the persisted ring0 stream (~(2R+1)²·E rows)
    * and its certificate even if the caller never consumes the returned
    * DataFrame. Same contract as [[graft.ops.Ranking.globalCumsum]]: the
    * collect is what the kernel path broadcasts, and the probe is the
    * deliberate price of skipping the 3r/9r ladder and the salted
    * fallback at event-dense scale.
    *
    * @param monthCap compat quirk: the reference processes only the
    * first 600 months (`times[0:600]`, spacetime_distance.py:127);
    * pass Some(600) to replicate (months beyond the cap keep their
    * rows but are never computed — they get the 999.0 sentinel). The
    * capped month set is collected eagerly too.
    * @param banded Some(Band(...)) forces the ring-bounded banded path
    * (identical results by construction; see [[Band]]) without the
    * event collect. None defers to the auto-dispatch.
    * @param autoBandEvents event-count bound of the kernel path when
    * `banded` is None: more filtered events than this take the banded
    * path. A bound of Int.MaxValue or more (e.g. `Long.MaxValue`) pins
    * the kernel path and collects the event set without a limit.
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

    val months = monthCap.map(cap =>
      panel.select(col(T)).distinct().orderBy(col(T)).limit(cap))
    val events = {
      val ev = panel.filter(col(valueCol) > eventThreshold)
      months.fold(ev)(m => ev.join(broadcast(m), T, "left_semi"))
        .select(col(T).as("e_t"), col(lonCol).as("e_lon"),
          col(latCol).as("e_lat"), col(valueCol).as("e_size"), col(U).as("e_u"))
    }
    // explicit request skips the collect; otherwise one bounded collect
    // of the filtered events both sizes the dispatch and, under the
    // bound, is the event set the kernel broadcasts
    val collected: Option[Array[Row]] =
      if (banded.isDefined) None
      else {
        val typed = events
          .filter(col("e_t").isNotNull && col("e_u").isNotNull &&
            col("e_lon").isNotNull && col("e_lat").isNotNull)
          .select(col("e_t").cast("long"), col("e_lon").cast("double"),
            col("e_lat").cast("double"), col("e_size").cast("double"),
            col("e_u").cast("long"))
        val probe =
          if (autoBandEvents < Int.MaxValue) typed.limit(autoBandEvents.toInt + 1)
          else typed
        Some(probe.collect())
      }
    chooseBand(collected.fold(0L)(_.length.toLong), banded, autoBandEvents) match {
      case Some(band) =>
        val cells = months.fold(panel.select(col(T), col(U)))(m =>
          panel.select(col(T), col(U)).join(broadcast(m), T, "left_semi"))
        panel
          .join(bandedDistances(panel, cells, events, band, returnValues, k, nu,
            power, lonCol, latCol, out), Seq(T, U), "left")
          .na.fill(999.0, Seq(out))
      case None =>
        val capped = months.map(_.collect().map(_.get(0).asInstanceOf[Number].longValue).toSet)
        kernel(panel, collected.get, capped, returnValues, k, nu, power,
          lonCol, latCol, out)
    }
  }

  /** The kernel path: per-unit local top-k against the broadcast event
    * set (a request-lifetime [[OpCache.broadcast]]), behind one
    * input-sized hash exchange on unit_id ([[Shuffle.by]]), with no
    * join. `events` rows are (e_t, e_lon, e_lat, e_size, e_u) as (long,
    * double, double, double, long). Arithmetic mirrors the banded path's Spark
    * expressions operation for operation (squared distances through the
    * ranking, StrictMath.pow as Spark's pow, means summed in rank order,
    * NaN results folded into the sentinel as `na.fill` does), so both
    * paths agree bit for bit.
    */
  private def kernel(panel: DataFrame, events: Array[Row], capped: Option[Set[Long]],
                     returnValues: String, k: Int, nu: Double, power: Double,
                     lonCol: String, latCol: String, out: String): DataFrame = {
    val T = Panel.TimeCol
    val U = Panel.UnitCol
    val byMonth = events.sortBy(_.getLong(0))
    val ev = OpCache.broadcast(panel.sparkSession, (
      byMonth.map(_.getLong(0)), byMonth.map(_.getDouble(1)), byMonth.map(_.getDouble(2)),
      byMonth.map(_.getDouble(3)), byMonth.map(_.getLong(4))))
    val schema = panel.schema
    val tI = schema.fieldIndex(T)
    val lonI = schema.fieldIndex(lonCol)
    val latI = schema.fieldIndex(latCol)
    val outSchema = schema.add(StructField(out, DoubleType, nullable = false))
    val weights = returnValues == "weights"
    val halfPower = power / 2.0
    def num(r: Row, i: Int): Double = r.get(i).asInstanceOf[Number].doubleValue

    Shuffle.by(panel, col(U)).groupBy(col(U))
      .as[Row, Row](Encoders.row(StructType(Seq(schema(U)))), Encoders.row(schema))
      .flatMapGroups { (_: Row, rows: Iterator[Row]) =>
        val (eT, eLon, eLat, eSize, eU) = ev.value
        val cells = rows.toArray
        // one geo row per unit, even if a panel carries inconsistent or
        // time-varying unit coordinates
        val geo = cells.head
        val located = !geo.isNullAt(lonI) && !geo.isNullAt(latI)
        // stage 1: each event month's k spatially-nearest events
        // (within a month e_t ties, so the order is (sd², e_u)), as
        // indices into the event arrays, in ascending month order
        val cand = scala.collection.mutable.ArrayBuffer.empty[Int]
        val cSd2 = scala.collection.mutable.ArrayBuffer.empty[Double]
        if (located) {
          val lon = num(geo, lonI)
          val lat = num(geo, latI)
          val top = new TopBuf(k)
          var i = 0
          while (i < eT.length) {
            top.clear()
            val month = eT(i)
            while (i < eT.length && eT(i) == month) {
              val sdx = (lon - eLon(i)) * 0.5
              val sdy = (lat - eLat(i)) * 0.5
              top.offer(sdx * sdx + sdy * sdy, month, eU(i), i)
              i += 1
            }
            var j = 0
            while (j < top.size) { cand += top.idx(j); cSd2 += top.d(j); j += 1 }
          }
        }
        // stage 2: per month t, the top-k of the candidates with e_t <= t
        val top = new TopBuf(k)
        cells.iterator.map { r =>
          var v = 999.0
          if (!r.isNullAt(tI) && cand.nonEmpty) {
            val t = r.get(tI).asInstanceOf[Number].longValue
            if (capped.forall(_.contains(t))) {
              top.clear()
              var j = 0
              while (j < cand.length && eT(cand(j)) <= t) {
                val e = cand(j)
                val dt = (t - eT(e)) * nu
                top.offer(cSd2(j) + dt * dt, eT(e), eU(e), e)
                j += 1
              }
              if (top.size > 0) {
                var sum = 0.0
                j = 0
                while (j < top.size) {
                  val d2 = top.d(j)
                  val size = eSize(top.idx(j))
                  sum += (if (!weights) math.sqrt(d2)
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
                  if (!weights && top.size < k) Double.PositiveInfinity
                  else sum / top.size
                if (!m.isNaN) v = m
              }
            }
          }
          Row.fromSeq(r.toSeq :+ v)
        }
      }(Encoders.row(outSchema))
  }

  /** Bounded top-k buffer ordered by (d, e_t, e_u) — the [[TopK]] order —
    * carrying each entry's event index; insertion-sorted, O(1)
    * rejection once full.
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

  /** The banded path's (month_id, unit_id, out) for the cells that have
    * at least one past event; the caller left-joins it onto the panel.
    * Its bounded-buffer aggregates live in ObjectHashAggregate, whose
    * default sort-based fallback kicks in at 128 groups — far below a
    * panel's (month, cell) cardinality — so this path (and only this
    * path) raises `spark.sql.objectHashAggregate.sortBased.fallbackThreshold`
    * for the session, and only when it still has the default, so an
    * operator-external tuning choice is never clobbered.
    */
  private def bandedDistances(panel: DataFrame, cells: DataFrame, events: DataFrame,
                              band: Band, returnValues: String, k: Int, nu: Double,
                              power: Double, lonCol: String, latCol: String,
                              out: String): DataFrame = {
    val spark = panel.sparkSession
    val T = Panel.TimeCol
    val U = Panel.UnitCol
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    if (spark.conf.getOption(key).forall(_ == "128"))
      spark.conf.set(key, "4000000")

    // Stage 1 — per (unit, event-month) spatial top-k over ring-bounded
    // candidates. Squared distance through the hot path: d² orders
    // identically to d, needs only multiplications (Spark's pow is
    // StrictMath.pow — an order of magnitude slower than x*x); sqrt/pow
    // run only on the ~k rows per cell that survive aggregation.
    // One geo row per unit, even if a panel carries inconsistent or
    // time-varying unit coordinates — a distinct on (unit, lon, lat)
    // would emit duplicate per-month candidates and corrupt the k>1 mean.
    val unitGeo = panel.groupBy(col(U))
      .agg(first(col(lonCol)).as(lonCol), first(col(latCol)).as(latCol))
    val sdx = (col(lonCol) - col("e_lon")) * 0.5
    val sdy = (col(latCol) - col("e_lat")) * 0.5
    val topk = udaf(new TopK(k))
    val perMonthTop: DataFrame = band match {
      case Band(b, r) =>
        // Ring-bounded candidates with the PER-CELL certificate (see
        // [[Band]]): prove whole band cells complete — proof work
        // scales with occupied cells × months — escalate uncertified
        // (cell, month) pairs to ring 3r, and only the provably-sparse
        // residue recomputes against its month's full event set. The
        // event table feeds several consumers (two ring expansions,
        // month totals, distinct months, final fallback) — persist it
        // once instead of re-filtering the panel per consumer.
        val ev = OpCache.persist(events
          .withColumn("ebx", floor(col("e_lon") / b).cast("long"))
          .withColumn("eby", floor(col("e_lat") / b).cast("long")))
        // event-side ring expansion: each event fans out to the
        // (2R+1)² target cells whose ring contains it, carrying its
        // MAX-CORNER distance² to that cell — the certificate metric
        // (dominates every in-cell unit's true distance) — so one
        // frame feeds both the per-cell proof and, joined to units on
        // the unit's OWN cell, the per-unit candidate generation
        def offArr(rr: Int) = {
          val offs = for { dx <- -rr to rr; dy <- -rr to rr } yield (dx, dy)
          array(offs.map { case (dx, dy) =>
            struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy")) }: _*)
        }
        // max-corner distance² of an event to target cell (cbx, cby) —
        // the certificate metric (dominates every in-cell unit's true
        // distance)
        def maxc2 = {
          val cellLon = col("cbx") * b
          val cellLat = col("cby") * b
          val dxm = greatest(abs(col("e_lon") - cellLon),
            abs(col("e_lon") - (cellLon + b))) * 0.5
          val dym = greatest(abs(col("e_lat") - cellLat),
            abs(col("e_lat") - (cellLat + b))) * 0.5
          dxm * dxm + dym * dym
        }
        def ringEv(rr: Int) =
          ev.select(col("e_t"), col("e_lon"), col("e_lat"), col("e_size"),
              col("e_u"), col("ebx"), col("eby"), explode(offArr(rr)).as("o"))
            .withColumn("cbx", col("ebx") + col("o.dx"))
            .withColumn("cby", col("eby") + col("o.dy"))
            .withColumn("maxc2", maxc2)
            .drop("ebx", "eby", "o")
        // pair-side ring expansion: explode the PENDING (cell, month)
        // pairs over the ring offsets and equi-join events on their
        // own cell. Same rows as ringEv ⋈ pending, but the explode
        // cost scales with the residue, not the event count — the
        // right orientation for wide rings over small residues (the
        // event-side 9r explode alone was 361·E rows to serve a
        // ~1.4k-pair residue).
        def ringFor(pending: DataFrame, rr: Int) =
          pending
            .select(col("cbx"), col("cby"), col("e_t"), explode(offArr(rr)).as("o"))
            .withColumn("ebx", col("cbx") + col("o.dx"))
            .withColumn("eby", col("cby") + col("o.dy"))
            .drop("o")
            .join(ev, Seq("ebx", "eby", "e_t"))
            .drop("ebx", "eby")
            .withColumn("maxc2", maxc2)
        // persisted: the unit-cell table feeds the level-0/1 unit
        // joins, the fallback join, and the occupied-cell universe —
        // four consumers, each otherwise a fresh panel aggregation
        val unitCell = OpCache.persist(unitGeo
          .withColumn("cbx", floor(col(lonCol) / b).cast("long"))
          .withColumn("cby", floor(col(latCol) / b).cast("long")))
        // tiny frames: occupied unit cells × event months, and the
        // per-month event totals (the "ring holds the whole month"
        // certificate arm)
        val ucells = unitCell.select(col("cbx"), col("cby")).distinct()
        val monthTotals = ev.groupBy(col("e_t"))
          .agg(count(lit(1)).as("__mtotal"))
        val cellMonths = ucells.crossJoin(broadcast(
          ev.select(col("e_t")).distinct()))
        // per-cell certificate at ring R: kth smallest max-corner
        // distance² strictly below (0.5·R·b)² — the minimum any
        // outside-ring event attains from ANY point of the cell (an
        // outside event differs by > R cells in some coordinate, so
        // its coordinate gap exceeds R·b) — or the ring holds ALL of
        // the month's events. Strict < keeps boundary ties exact.
        val certTop = udaf(new TopK(k))
        def certify(ring: DataFrame, rr: Int): DataFrame = {
          val minOut2 = { val g = 0.5 * rr * b; g * g }
          ring.groupBy(col("cbx"), col("cby"), col("e_t"))
            .agg(certTop(col("maxc2"), col("e_t"), col("e_u"), col("e_size"))
              .as("__certs"), count(lit(1)).as("__cnt"))
            .join(broadcast(monthTotals), Seq("e_t"))
            .withColumn("__kth2", element_at(col("__certs"), -1).getField("_1"))
            .withColumn("__safe",
              (col("__cnt") >= k && col("__kth2") < minOut2) ||
                col("__cnt") === col("__mtotal"))
            .select(col("cbx"), col("cby"), col("e_t"), col("__safe"))
        }
        // per-unit top-k over a ring-event stream (the certificate
        // guarantees the ring stream contains each unit's true top-k).
        // The ring side arrives ALREADY hash-partitioned on the join
        // keys (the persisted per-level ring below carries a
        // REPARTITION_BY_NUM exchange inside the cache): this join
        // EXPLODES (ring events × in-cell units ≈ 16×), and AQE's
        // coalescing sizes post-shuffle partitions by INPUT bytes — it
        // funneled the 42M-row product through a handful of tasks
        // (measured 28 s → 5.4 s at the 10× fixture). A
        // REPARTITION_BY_NUM shuffle is not coalescible, the cache
        // preserves its layout, and the join reuses it.
        val nPart = Shuffle.width(ringEv(r))
        // r16 (verdict #2 phase 2): the per-unit top-k groups by
        // (cbx, cby, U, e_t) rather than (U, e_t) — a unit lives in
        // exactly ONE band cell (unitCell is one row per unit by
        // construction), so the groups are IDENTICAL, but the
        // superset keys are satisfied by the join output's existing
        // (cbx, cby) hash partitioning (the persisted ring's
        // REPARTITION_BY_NUM layout survives the broadcast cert
        // join) — the (U, e_t) exchange of partial top-k buffers
        // disappears from every ladder level. Quiet-box interleaved
        // A/B minima: 10.69 vs 12.32 s and 11.91 vs 22.09 s in favor,
        // and the plan drops one Exchange per level at any scale.
        def unitTop(ring: DataFrame): DataFrame =
          unitCell.join(ring, Seq("cbx", "cby"))
            .withColumn("sd2", sdx * sdx + sdy * sdy)
            .groupBy(col("cbx"), col("cby"), col(U), col("e_t"))
            .agg(topk(col("sd2"), col("e_t"), col("e_u"), col("e_size")).as("cs"))
            .select(col(U), col("cs"))
        // ESCALATION LADDER — rings r, 3r, 9r, then the exact
        // fallback. Each level's ring stream feeds BOTH the
        // certificate aggregation and the unit join, so it is
        // persisted ONCE, pre-partitioned on (cbx, cby) (r15): the
        // certificate's groupBy(cbx, cby, e_t) is satisfied by that
        // hash partitioning (group keys are a superset of the
        // partition keys — no second exchange), and the unit join
        // reuses the same layout through the broadcast certificate
        // join. Before this fusion the level-0 explode executed twice
        // (once into the cert exchange, once into the unit-join
        // repartition) — two full exchanges of the ~(2R+1)²·E stream;
        // now one exchange and one materialization serve both
        // consumers at every scale.
        // The 3r step provably absorbs cert tightness: an event
        // within Chebyshev m has max-corner distance ≤
        // 0.5·(m+1)·b·√2, and (R+1)·√2 < 3R for every R ≥ 1 — so any
        // pair with ≥ k events inside its ring-R certifies at 3R;
        // only neighbourhoods with fewer than k nearby events fall
        // through, and the 9r step shrinks that Poisson tail to the
        // truly degenerate months before the O(month-events) fallback.
        //
        // The ladder SHORT-CIRCUITS after level 0 ONLY (r15):
        // `pending` is bounded (occupied unit cells × event months —
        // geometry × calendar, never data volume), so one isEmpty
        // probe against the persisted level-0 certificate is a tiny
        // job — and at event-dense scale (the regime this path is
        // FOR) level 0 certifies everything, so the probe skips the
        // 3r/9r ring joins, their certs AND the salted fallback
        // outright. When the probe finds a residue (the event-sparse
        // sf0.1 regime), the remaining levels and the fallback stay
        // ONE lazy plan with no further probes — per-level probes
        // were A/B'd and lost: they serialize subtrees that
        // otherwise overlap on idle cores, and a sparse panel's
        // residue never empties before the fallback anyway.
        // The cert joins below are forced broadcasts. The bound they
        // rely on (ADVICE r15): cert cardinality is occupied unit
        // cells × event months — geometry × calendar, never data
        // volume — and each row is 3 longs + a boolean. At fine band
        // resolution over a long calendar that product still has to
        // fit the 8 GB broadcast cap; a deployment in that regime
        // should widen `bandCells` (fewer, coarser cells) rather than
        // let the hint force an oversized broadcast.
        val ring0 = OpCache.persist(
          ringEv(r).repartition(nPart, col("cbx"), col("cby")))
        val cert0 = OpCache.persist(certify(ring0, r))
        val safe0 = cert0.filter(col("__safe")).drop("__safe")
        val top0 = unitTop(ring0.join(broadcast(safe0), Seq("cbx", "cby", "e_t")))
        val pending0 = cellMonths.join(cert0.filter(col("__safe")),
          Seq("cbx", "cby", "e_t"), "left_anti")
        if (pending0.isEmpty) top0
        else {
          val (tops, residue) = Seq(3 * r, 9 * r)
            .foldLeft((List(top0), pending0)) {
              case ((acc, pending), rr) =>
                val ring = OpCache.persist(
                  ringFor(pending, rr)
                    .repartition(nPart, col("cbx"), col("cby")))
                val cert = OpCache.persist(certify(ring, rr))
                val safe = cert.filter(col("__safe")).drop("__safe")
                val top = unitTop(
                  ring.join(broadcast(safe), Seq("cbx", "cby", "e_t")))
                val next = pending.join(cert.filter(col("__safe")),
                  Seq("cbx", "cby", "e_t"), "left_anti")
                (top :: acc, next)
            }
          // FINAL exact fallback, bounded by the ladder's sparse
          // residue: units of still-uncertified (cell, month) pairs
          // against that month's full event set. The natural join key
          // (event month) has only O(months) distinct values —
          // parallelism would cap at the month count however large the
          // product — so the join is SALTED: each event owns one of
          // nPart salt buckets (by event-unit hash) and each fallback
          // pair replicates across all buckets; the union over buckets
          // is exactly the month's event set, and the product spreads
          // over months × nPart keys. The salted side is pinned with a
          // non-coalescible repartition (same AQE hazard as unitTop).
          // NO pre-fallback residue probe (r16 adjudication of the
          // verdict-#2 candidate): an isEmpty probe on a persisted
          // residue A/B'd at exact parity on minima (11.57 vs
          // 11.69 s, both orders) and worse medians — and it buys
          // nothing structurally, because with AQE on an empty
          // residue already propagates through the fallback join at
          // runtime (AQEPropagateEmptyRelation folds the join and
          // the salted scan is never executed), without serializing
          // the subtrees a probe would.
          val salted = ev.withColumn("__salt",
            pmod(xxhash64(col("e_u")), lit(nPart.toLong)))
          val topF = unitCell.join(residue, Seq("cbx", "cby"))
            .select(col("e_t"), col(U), col(lonCol), col(latCol))
            .withColumn("__salt", explode(sequence(lit(0L), lit(nPart.toLong - 1))))
            .join(salted.repartition(nPart, col("e_t"), col("__salt")),
              Seq("e_t", "__salt"))
            .withColumn("sd2", sdx * sdx + sdy * sdy)
            .groupBy(col(U), col("e_t"))
            .agg(topk(col("sd2"), col("e_t"), col("e_u"), col("e_size")).as("cs"))
            .select(col(U), col("cs"))
          (topF :: tops).reduce(_ unionByName _)
        }
    }
    val cand = perMonthTop
      .select(col(U), explode(col("cs")).as("c"))
      .select(col(U), col("c._1").as("sd2"), col("c._2").as("e_t"),
        col("c._3").as("e_u"), col("c._4").as("e_size"))

    // Stage 2 — the as-of predicate rides on an EQUI-join keyed by
    // unit (candidates are k·event-months rows per unit), so the join
    // shuffles O(cells + candidates) rows and partial aggregation
    // reduces each (month, cell) group map-side. No month-expanded
    // event table exists anywhere in the plan.
    val dt = (col(T) - col("e_t")) * nu
    val stream = cells.join(cand, U)
      .filter(col("e_t") <= col(T))
      .withColumn("d2", col("sd2") + dt * dt)

    def weightOf2(d2: org.apache.spark.sql.Column, size: org.apache.spark.sql.Column) =
      when(d2 === 0.0, size).otherwise(size / pow(d2, power / 2.0))

    val agg: DataFrame =
      if (k == 1 && returnValues == "distances")
        // plain double min stays in whole-stage codegen'd HashAggregate
        stream.groupBy(col(T), col(U)).agg(sqrt(min(col("d2"))).as(out))
      else {
        val topkFull = udaf(new TopK(k))
        val grouped = stream.groupBy(col(T), col(U))
          .agg(topkFull(col("d2"), col("e_t"), col("e_u"), col("e_size")).as("cands"))
        val c = explode(col("cands")).as("c")
        val per = grouped.select(col(T), col(U), c)
          .select(col(T), col(U), col("c._1").as("d2"), col("c._4").as("e_size"))
        val perEvent = if (returnValues == "distances") sqrt(col("d2"))
                       else weightOf2(col("d2"), col("e_size"))
        if (returnValues == "distances")
          // reference fidelity: cKDTree.query pads missing neighbours
          // with inf when fewer than k events exist yet, so the mean is
          // inf for months with 0 < count < k (spacetime_distance.py:
          // 160-186)
          per.groupBy(col(T), col(U))
            .agg(avg(perEvent).as("__m"), count(lit(1)).as("__n"))
            .select(col(T), col(U),
              when(col("__n") < k, lit(Double.PositiveInfinity))
                .otherwise(col("__m")).as(out))
        else
          // the reference's weights path crashes (IndexError swallowed
          // by a bare except, leaving np.empty garbage) when count < k;
          // we deliberately return the mean of the available weights
          // instead of reproducing that bug (SURVEY §7.3 bug list)
          per.groupBy(col(T), col(U)).agg(avg(perEvent).as(out))
      }
    agg
  }
}
