package graft.spatial

import graft.Panel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Country-graph spatial lag — reference get_splag_country
  * (splag_country.py:8-340, utilities.py:296-403).
  *
  * Semantics (from the reference's recursion + its tests):
  *  - `ninner = kernel_inner − 1`, `nouter = ninner + kernel_width`
  *  - orderSet(k) = BFS closure of {c} expanded k times over the
  *    month-varying adjacency, INCLUDING c; a negative radius is the
  *    empty set (splag_country.py:95-107)
  *  - ring(c) = orderSet(nouter) \ orderSet(ninner), so (0,0) → ∅,
  *    (0,1) → {c} (identity), (1,1) → first-order neighbours
  *  - weight(c, b) = euclidean_centroid_distance(c, b) ^ kernel_power
  *    (0^0 = 1 — the identity kernel relies on it), optionally
  *    normalised per (month, c); lag = Σ value(b)·w; countries/months
  *    absent from the adjacency data → 0
  *
  * Spark-first: the reference's per-(month, country) recursive BFS
  * becomes `nouter` self-joins of the adjacency DataFrame (nouter is a
  * tiny constant), the ring an anti-join, the lag one broadcast-join +
  * hash aggregation. Adjacency and centroids are explicit input
  * DataFrames (the reference fetches them from a live DB mid-transform,
  * utilities.py:313,386-397 — hoisted to sources here).
  */
object CountryLag {

  /** Expand a (month_id, seed, member) reachability set `k` more BFS
    * steps over the month-varying adjacency.
    */
  private def expand(start: DataFrame, adj: DataFrame, k: Int): DataFrame = {
    val T = Panel.TimeCol
    var reach = start
    for (i <- 1 to k) {
      // alias both sides: repeated self-joins through `adj` otherwise
      // trip Spark's ambiguous-self-join detection
      val r = reach.alias(s"r$i")
      val a = adj.alias(s"a$i")
      val next = r.join(a,
        col(s"r$i.$T") === col(s"a$i.$T") &&
          col(s"r$i.member") === col(s"a$i.a_id"))
        .select(col(s"r$i.$T").as(T), col(s"r$i.seed").as("seed"),
          col(s"a$i.b_id").as("member"))
      reach = reach.union(next).distinct()
    }
    reach
  }

  /** orderSet(k) as a (month_id, seed, member) DataFrame. */
  private def orderSet(adj: DataFrame, seeds: DataFrame, k: Int): DataFrame =
    expand(seeds.select(col(Panel.TimeCol), col("seed"), col("seed").as("member")),
      adj, k)

  /** The (month_id, seed, member) ring set for a kernel shape — the
    * value-independent graph geometry of the lag. Exposed so callers
    * running several kernels over the same adjacency (e.g. the plain
    * and normalised variants) can compute and persist it once.
    */
  def ringSet(panel: DataFrame, adjacency: DataFrame,
              inner: Int, width: Int): DataFrame = {
    val T = Panel.TimeCol
    val U = Panel.UnitCol
    val ninner = inner - 1
    val nouter = ninner + width
    val seeds = panel.select(col(T), col(U).as("seed")).distinct()
    // a negative outer radius is the documented empty ring ((0,0) → ∅,
    // splag_country.py:95-107) — orderSet(-1) would wrongly return the
    // identity set
    if (nouter < 0)
      seeds.select(col(T), col("seed"), col("seed").as("member")).filter(lit(false))
    // build outer incrementally from inner (outer ⊇ inner by
    // construction) instead of two from-scratch BFS runs; the inner
    // set is read twice (outer base + ring anti-join) so persist it
    // for the request
    else if (ninner < 0) orderSet(adjacency, seeds, nouter)
    else {
      val innerSet = graft.OpCache.persist(orderSet(adjacency, seeds, ninner))
      if (nouter - ninner == 1) {
        // common kernel shapes (width = 1): the ring is just the
        // frontier — one join + distinct + anti-join, never
        // materialising the full outer set
        val r = innerSet.alias("rf")
        val a = adjacency.alias("af")
        r.join(a, col(s"rf.$T") === col(s"af.$T") &&
            col("rf.member") === col("af.a_id"))
          .select(col(s"rf.$T").as(T), col("rf.seed").as("seed"),
            col("af.b_id").as("member"))
          .distinct()
          .join(innerSet, Seq(T, "seed", "member"), "left_anti")
      } else {
        val outer = expand(innerSet, adjacency, nouter - ninner)
        outer.join(innerSet, Seq(T, "seed", "member"), "left_anti")
      }
    }
  }

  /** @param adjacency (month_id, a_id, b_id) symmetric neighbour pairs
    * @param centroids (country_id, lat, lon)
    * @param ringOpt precomputed ringSet(panel, adjacency, inner, width)
    *   (e.g. a session cache shared across kernels); None derives it
    * @return (month_id, unit_id, out) — [[withSplagCountry]] projected
    */
  def splagCountry(panel: DataFrame, valueCol: String,
                   adjacency: DataFrame, centroids: DataFrame,
                   inner: Int, width: Int, power: Double, norm: Boolean,
                   out: String = "splag",
                   ringOpt: Option[DataFrame] = None): DataFrame =
    withSplagCountry(panel, valueCol, adjacency, centroids, inner, width, power, norm,
      out, ringOpt).select(col(Panel.TimeCol), col(Panel.UnitCol), col(out))

  /** The panel's own rows with the lag appended as `out`
    * ([[graft.Panel.appendByKey]]).
    */
  def withSplagCountry(panel: DataFrame, valueCol: String,
                       adjacency: DataFrame, centroids: DataFrame,
                       inner: Int, width: Int, power: Double, norm: Boolean,
                       out: String, ringOpt: Option[DataFrame] = None): DataFrame = {
    val T = Panel.TimeCol
    val U = Panel.UnitCol
    val ninner = inner - 1
    val nouter = ninner + width

    if (nouter < 0) {
      // ring is empty everywhere -> all zeros
      panel.withColumn(out, lit(0.0))
    } else {
      val ring = ringOpt.getOrElse(ringSet(panel, adjacency, inner, width))

      val cs = broadcast(centroids.select(col("country_id").as("seed"),
        col("lat").as("s_lat"), col("lon").as("s_lon")))
      val cm = broadcast(centroids.select(col("country_id").as("member"),
        col("lat").as("m_lat"), col("lon").as("m_lon")))
      val withDist = ring.join(cs, "seed").join(cm, "member")
        .withColumn("d", sqrt(
          pow(col("s_lat") - col("m_lat"), 2.0) +
            pow(col("s_lon") - col("m_lon"), 2.0)))
        .withColumn("w", pow(col("d"), power))
      val weighted =
        if (norm)
          withDist.withColumn("w",
            col("w") / sum(col("w")).over(
              org.apache.spark.sql.expressions.Window.partitionBy(col(T), col("seed"))))
        else withDist

      val vals = panel.select(col(T).as("v_t"), col(U).as("member"),
        // reference zeroes infinities before summing (splag_country.py:289)
        when(col(valueCol) === Double.PositiveInfinity, 0.0)
          .otherwise(col(valueCol)).as("v"))
      val lag = weighted.join(vals,
        weighted(T) === vals("v_t") && weighted("member") === vals("member"))
        .groupBy(weighted(T), col("seed").as(U))
        .agg(sum(col("v") * col("w")).as(out))
      Panel.appendByKey(panel, lag, Seq(out))
    }
  }

  /** Derived adjacency for the testdata unit grid (queen adjacency on
    * the 40-column embedding), replicated per month — a stand-in for the
    * reference's `country_country_month_expanded` table.
    *
    * Like the quadtree geometry, this is a pure function of the distinct
    * unit set: computed on the driver via a hash-set neighbour lookup
    * (O(units·8), no O(units²) crossJoin) and replicated over the months.
    * Real deployments supply adjacency as an input table instead.
    */
  def gridAdjacency(panel: DataFrame): DataFrame = {
    val months = panel.select(col(Panel.TimeCol)).distinct()
    broadcast(months).crossJoin(broadcast(gridAdjacencyPairs(panel)))
  }

  /** The month-invariant (a_id, b_id) queen-adjacency pairs of the unit
    * grid — the factor `gridAdjacency` replicates per month — as
    * driver-local data (the unit universe is driver-collectable by the
    * same design bound as the quadtree embedding; SURVEY §2.8).
    */
  def gridAdjacencyPairsLocal(panel: DataFrame): Seq[(Long, Long)] = {
    val units = panel.select(col(Panel.UnitCol).cast("long")).distinct()
      .collect().map(_.getLong(0))
    val cellToUnit = units.map(u => ((u % Grid.UnitCols, u / Grid.UnitCols), u)).toMap
    for {
      u <- units.toSeq
      dx <- -1 to 1
      dy <- -1 to 1
      if !(dx == 0 && dy == 0)
      v <- cellToUnit.get((u % Grid.UnitCols + dx, u / Grid.UnitCols + dy))
    } yield (u, v)
  }

  /** `gridAdjacencyPairsLocal` as a (a_id, b_id) LocalRelation. */
  def gridAdjacencyPairs(panel: DataFrame): DataFrame = {
    val spark = panel.sparkSession
    import spark.implicits._
    gridAdjacencyPairsLocal(panel).toDF("a_id", "b_id")
  }

  /** `ringSet` for a MONTH-INVARIANT adjacency: BFS on the DRIVER over
    * the static (a_id, b_id) pair list, then replicate the finished
    * ring per month as a LocalRelation × months cross join.
    *
    * The general `ringSet` expands a months-replicated frontier through
    * `months ×` the join work — 6+ shuffle stages of cluster time for a
    * graph that is a pure function of the (already driver-collected)
    * unit universe. Semantics match `ringSet` exactly (BFS closure,
    * empty (0,0) ring, identity (0,1)); valid only while the unit graph
    * is driver-sized, the same design bound as the quadtree embedding
    * and the adjacency derivation themselves. A truly month-varying or
    * executor-sized adjacency must use `ringSet`.
    */
  def ringSetStatic(panel: DataFrame, pairs: Seq[(Long, Long)],
                    inner: Int, width: Int): DataFrame = {
    val spark = panel.sparkSession
    import spark.implicits._
    val T = Panel.TimeCol
    val U = Panel.UnitCol
    val ninner = inner - 1
    val nouter = ninner + width
    val months = broadcast(panel.select(col(T)).distinct())
    val seeds = panel.select(col(U).cast("long")).distinct().collect().map(_.getLong(0))

    val nbrs: Map[Long, Array[Long]] =
      pairs.groupBy(_._1).map { case (a, bs) => a -> bs.map(_._2).toArray }
    def closure(seed: Long, k: Int): collection.mutable.LinkedHashSet[Long] = {
      val reach = collection.mutable.LinkedHashSet(seed)
      var frontier = Array(seed)
      var i = 0
      while (i < k && frontier.nonEmpty) {
        frontier = frontier.flatMap(nbrs.getOrElse(_, Array.empty[Long]))
          .filter(reach.add)
        i += 1
      }
      reach
    }
    val ringStatic: Seq[(Long, Long)] =
      if (nouter < 0) Seq.empty
      else seeds.toSeq.flatMap { s =>
        val outer = closure(s, nouter)
        if (ninner >= 0) outer --= closure(s, ninner)
        outer.iterator.map(m => (s, m))
      }
    months.crossJoin(broadcast(ringStatic.toDF("seed", "member")))
      .select(col(T), col("seed"), col("member"))
  }

  /** Derived centroids: half-degree cell centres of the unit grid. */
  def gridCentroids(panel: DataFrame): DataFrame =
    panel.select(col(Panel.UnitCol).as("country_id")).distinct()
      .withColumn("lon", Grid.unitLon(col("country_id")).cast("double") * 0.5)
      .withColumn("lat", Grid.unitLat(col("country_id")).cast("double") * 0.5)
}
