package graft.spatial

import graft.{OpCache, Panel}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Barnes-Hut spatial tree lag — reference get_tree_lag
  * (spatial_tree.py:6-476): a quadtree over the pgid grid, node values =
  * sums of contained leaves, and per-leaf interaction lists chosen by an
  * opening-angle walk (theta = node_size / distance > thetacrit → open),
  * with distance weights 1/ln(1+d), 1/d or 1/d².
  *
  * The tree geometry (node set, interaction lists, weights) depends only
  * on the unit-cell set — not on time or values. The driver derives only
  * the O(units) cell embedding and the packed occupied-node key set
  * (8 bytes per node, O(units · levels)); the per-leaf opening-angle
  * walks (the same O(N log N) pruned walk as the reference,
  * spatial_tree.py:296-372) run DISTRIBUTED on executors against the
  * broadcast key array, so the O(units · log units · nweights)
  * interaction-list table never materialises on the driver — at the
  * full 260k-cell PRIO grid it stays a distributed DataFrame and AQE
  * picks broadcast vs shuffle for its join at runtime from the actual
  * size.
  *
  * Execution is then pure relational algebra: node values via one
  * groupBy over (month, node) — the per-level roll-up the reference does
  * with recursive stocking (spatial_tree.py:374-419) — and the lag via
  * join + hash aggregation. One shuffle for node values, one for the
  * final aggregation, independent of thetacrit.
  */
object TreeLag {

  /** Centred power-of-two embedding of the unit cells — a faithful port
    * of utilities._map_pgids_2d (utilities.py:145-216).
    */
  case class Embedding(cells: Map[Long, (Int, Int)], ncells: Int, power: Int)

  def embed(units: Seq[(Long, Int, Int)]): Embedding = {
    val lonmin = units.map(_._2).min
    val latmin = units.map(_._3).min
    val lonrange = units.map(_._2).max - lonmin
    val latrange = units.map(_._3).max - latmin
    val maxsize = math.max(lonrange, latrange)
    // power = 1 + int(log2(maxsize)) without float hazards
    var power = 0
    while ((1 << power) <= maxsize) power += 1
    if (power == 0) power = 1
    val ncells = 1 << power
    val nudgeLon = (ncells - lonrange) / 2
    val nudgeLat = (ncells - latrange) / 2
    val cells = units.map { case (u, lon, lat) =>
      u -> (lon - lonmin + nudgeLon, lat - latmin + nudgeLat)
    }.toMap
    Embedding(cells, ncells, power)
  }

  /** Distance-weight registry (spatial_tree.py:48-79). */
  def dfunction(option: Int): Double => Double = option match {
    case 0 => d => 1.0 / math.log(1.0 + d)
    case 1 => d => 1.0 / d
    case 2 => d => 1.0 / (d * d)
    case other => throw new IllegalArgumentException(
      s"dfunction_option must be 0 (1/ln(1+d)), 1 (1/d) or 2 (1/d^2); got $other")
  }

  /** Interaction list for one target leaf via the reference's pruned
    * walk (spatial_tree.py:296-372): BFS from the root; theta = h/d with
    * d = |target_centre − node_centre + (0.01, 0.01)|; theta > crit
    * opens internal nodes, adds foreign leaves; theta <= crit accepts
    * the aggregate node. Runs on executors: `occupied` is a lookup into
    * the broadcast packed-key array.
    */
  private def walk(ncells: Int, power: Int,
                   occupied: (Int, Int, Int) => Boolean,
                   ex: Int, ey: Int, thetacrit: Double,
                   f: Double => Double): Seq[(Int, Int, Int, Double)] = {
    val out = Seq.newBuilder[(Int, Int, Int, Double)]
    val todo = scala.collection.mutable.Queue((0, 0, 0))
    while (todo.nonEmpty) {
      val (lvl, nx, ny) = todo.dequeue()
      val s = ncells >> lvl
      val cx = nx * s + s / 2.0
      val cy = ny * s + s / 2.0
      val dx = ex + 0.5 - cx + 0.01
      val dy = ey + 0.5 - cy + 0.01
      val d = math.sqrt(dx * dx + dy * dy)
      val theta = s / d
      if (theta > thetacrit) {
        if (lvl == power) {
          if (!(nx == ex && ny == ey)) out += ((lvl, nx, ny, f(d)))
        } else {
          var cxi = 2 * nx
          while (cxi <= 2 * nx + 1) {
            var cyi = 2 * ny
            while (cyi <= 2 * ny + 1) {
              if (occupied(lvl + 1, cxi, cyi)) todo.enqueue((lvl + 1, cxi, cyi))
              cyi += 1
            }
            cxi += 1
          }
        }
      } else out += ((lvl, nx, ny, f(d)))
    }
    out.result()
  }

  /** 21-bit packed (level, nx, ny) node key (grids to 2M cells/side). */
  private def packNode(l: Int, nx: Int, ny: Int): Long =
    (l.toLong << 42) | (nx.toLong << 21) | ny.toLong

  /** Sorted packed keys of every occupied node: the walk's membership
    * test as a flat broadcastable array (binary search) — 8 bytes per
    * node, O(units · levels) total, no boxed tuple set on the driver.
    */
  private def packedNodeKeys(emb: Embedding): Array[Long] = {
    val arr = new Array[Long](emb.cells.size * (emb.power + 1))
    var i = 0
    emb.cells.valuesIterator.foreach { case (ex, ey) =>
      var lvl = 0
      while (lvl <= emb.power) {
        arr(i) = packNode(lvl, ex >> (emb.power - lvl), ey >> (emb.power - lvl))
        i += 1
        lvl += 1
      }
    }
    java.util.Arrays.sort(arr)
    var w = 0
    var r = 0
    while (r < arr.length) {
      if (w == 0 || arr(r) != arr(w - 1)) { arr(w) = arr(r); w += 1 }
      r += 1
    }
    java.util.Arrays.copyOf(arr, w)
  }

  /** membership(unit, level, nx, ny) built distributively from the unit
    * cells: explode the levels, shift the cell coordinates — never an
    * O(units × levels) driver-side tuple list.
    */
  private def memberDfOf(spark: SparkSession, emb: Embedding): DataFrame = {
    import spark.implicits._
    emb.cells.toSeq.map { case (u, (ex, ey)) => (u, ex, ey) }.sortBy(_._1)
      .toDF(Panel.UnitCol, "ex", "ey")
      .withColumn("level", explode(sequence(lit(0), lit(emb.power))))
      .withColumn("nx", expr(s"shiftright(ex, ${emb.power} - level)"))
      .withColumn("ny", expr(s"shiftright(ey, ${emb.power} - level)"))
      .select(col(Panel.UnitCol), col("level"), col("nx"), col("ny"))
  }

  /** @param panel dense panel with `lon`/`lat` cell-coordinate columns
    * @param embOpt precomputed embedding (e.g. a session-level cache) —
    *   saves the distinct-units pass over the panel; None derives it
    */
  def treeLag(panel: DataFrame, valueCol: String,
              thetacrit: Double, dfunctionOption: Int,
              lonCol: String = "lon", latCol: String = "lat",
              out: String = "treelag",
              embOpt: Option[Embedding] = None): DataFrame =
    treeLagWith(panel, valueCol, thetacrit,
      Seq(out -> dfunction(dfunctionOption)), lonCol, latCol, embOpt)

  /** @return (month_id, unit_id, one column per weight function) —
    * [[withTreeLag]] projected
    */
  def treeLagWith(panel: DataFrame, valueCol: String, thetacrit: Double,
                  weightFns: Seq[(String, Double => Double)],
                  lonCol: String = "lon", latCol: String = "lat",
                  embOpt: Option[Embedding] = None): DataFrame =
    withTreeLag(panel, valueCol, thetacrit, weightFns, lonCol, latCol, embOpt)
      .select(col(Panel.TimeCol) +: col(Panel.UnitCol) +: weightFns.map(f => col(f._1)): _*)

  /** Derive the embedding from a panel's distinct unit cells (one small
    * aggregation + collect — geometry is O(distinct cells), the global
    * PRIO grid is ~260k cells). Cache the result across operators on
    * the same panel: at scale each derivation is a full distinct
    * shuffle over the panel.
    */
  def embedOf(panel: DataFrame, lonCol: String = "lon",
              latCol: String = "lat"): Embedding =
    embed(panel.select(Seq(Panel.UnitCol, lonCol, latCol).map(col(_).cast("long")): _*).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1).toInt, r.getLong(2).toInt)).toSeq)

  /** Multi-weight-function form — the reference's extension point is a
    * dict of distance→weight callables producing one output per
    * function (spatial_tree.py:48-79, tree_lag outputs
    * nweightfunctions columns per feature). Every function shares the
    * SAME interaction lists and node values: one walk, one broadcast
    * join, one aggregation with N weighted sums. The panel's own rows
    * come back with one column per function appended
    * ([[graft.Panel.appendByKey]]).
    */
  def withTreeLag(panel: DataFrame, valueCol: String, thetacrit: Double,
                  weightFns: Seq[(String, Double => Double)],
                  lonCol: String = "lon", latCol: String = "lat",
                  embOpt: Option[Embedding] = None): DataFrame = {
    val spark = panel.sparkSession
    import spark.implicits._
    val T = Panel.TimeCol
    val U = Panel.UnitCol
    require(weightFns.nonEmpty, "at least one weight function required")

    // Geometry: distinct unit cells only; everything time/value-
    // dependent stays distributed.
    val emb = embOpt.getOrElse(embedOf(panel, lonCol, latCol))

    // Distributed walks: executors compute each unit's interaction list
    // (walking once on the raw distance, then evaluating every weight
    // function) against the broadcast packed node-key array. The
    // O(units · log units · nweights) list is a distributed DataFrame,
    // never a driver-side collection; its join strategy is left to
    // AQE, which broadcasts it at runtime whenever the actual size is
    // small.
    val bcGeom = OpCache.memo(spark, ("treelag.nodes", emb))(spark.sparkContext.broadcast(
      (packedNodeKeys(emb), emb.ncells, emb.power)))
    val fns = weightFns.map(_._2).toArray
    val tc = thetacrit
    val ilDf = emb.cells.toSeq.map { case (u, (ex, ey)) => (u, ex, ey) }
      .sortBy(_._1).toDS()
      .mapPartitions { it =>
        val (keys, nc, pw) = bcGeom.value
        val occ = (l: Int, nx: Int, ny: Int) =>
          java.util.Arrays.binarySearch(keys, packNode(l, nx, ny)) >= 0
        it.flatMap { case (u, ex, ey) =>
          walk(nc, pw, occ, ex, ey, tc, d => d).map { case (l, nx, ny, d) =>
            (u, l, nx, ny, fns.map(_(d)).toSeq)
          }
        }
      }.toDF("target", "level", "nx", "ny", "ws")

    val memberDf = broadcast(memberDfOf(spark, emb))

    val nodevals = panel.select(col(T), col(U), col(valueCol))
      .join(memberDf, U)
      .groupBy(col(T), col("level"), col("nx"), col("ny"))
      .agg(sum(col(valueCol)).as("v"))
    val aggs = weightFns.zipWithIndex.map { case ((name, _), i) =>
      sum(col("v") * element_at(col("ws"), i + 1)).as(name)
    }
    val lag = nodevals.join(ilDf, Seq("level", "nx", "ny"))
      .groupBy(col(T), col("target").as(U))
      .agg(aggs.head, aggs.tail: _*)
    Panel.appendByKey(panel, lag, weightFns.map(_._1))
  }

  /** Adaptive-mesh grid lag — reference get_grid_lag
    * (spatial_tree.py:478-591): per month, refine the quadtree top-down,
    * splitting nodes whose value exceeds `threshold` ('min' criterion,
    * spatial_tree.py:507-531); every leaf cell is then lagged against
    * the resulting mixed-resolution mesh, excluding its own leaf node,
    * with d = |target_centre − node_centre| (no +0.01 nudge here — the
    * reference comments it out, spatial_tree.py:563-564).
    *
    * The value-dependent mesh is still relational: a node is in
    * mesh(month) iff every proper ancestor's value exceeds the threshold
    * (they all split) and the node's own value does not (or it is a
    * leaf). That is one self-join of the node-value table against its
    * ancestor levels — no per-month driver work, fully distributed, and
    * the mesh×target product matches the reference's own
    * O(leaves × grid_nodes) cost.
    */
  /** The per-month adaptive mesh as a DataFrame (month_id, level, nx,
    * ny, v, s): the reference's `keep_grids` surface. A node is in
    * mesh(month) iff every proper ancestor's value exceeds the threshold
    * (they all split) and the node's own value does not (or it is a
    * leaf) — a disjoint cover of the occupied cells every month.
    *
    * Computed as a per-unit argmin rather than an ancestor self-join:
    * walking a unit's ancestor path root→leaf, the mesh node covering
    * it is the SHALLOWEST eligible node (value ≤ threshold, or the
    * leaf) — every shallower ancestor necessarily split, which is
    * exactly the blocked-ancestor condition. Since every occupied node
    * contains a unit, the distinct covering nodes ARE the mesh. One
    * broadcast membership join + one min_by hash aggregation + one
    * distinct — no self-join, fully distributed.
    */
  def adaptiveMesh(panel: DataFrame, valueCol: String, threshold: Double,
                   emb: Embedding): DataFrame = {
    val spark = panel.sparkSession
    import spark.implicits._
    val T = Panel.TimeCol
    val U = Panel.UnitCol
    val memberDf = broadcast(memberDfOf(spark, emb))

    val nodevals = panel.select(col(T), col(U), col(valueCol))
      .join(memberDf, U)
      .groupBy(col(T), col("level"), col("nx"), col("ny"))
      .agg(sum(col(valueCol)).as("v"))

    val cover = nodevals
      .filter(col("v") <= threshold || col("level") === emb.power)
      .join(memberDf, Seq("level", "nx", "ny"))
      .groupBy(col(T), col(U))
      .agg(min_by(struct(col("level"), col("nx"), col("ny"), col("v")),
        col("level")).as("node"))

    cover.select(col(T), col("node.level").as("level"),
        col("node.nx").as("nx"), col("node.ny").as("ny"),
        col("node.v").as("v")).distinct()
      .withColumn("s", (lit(emb.ncells) / pow(lit(2.0), col("level"))).cast("double"))
  }

  def gridLag(panel: DataFrame, valueCol: String,
              threshold: Double, dfunctionOption: Int,
              lonCol: String = "lon", latCol: String = "lat",
              out: String = "gridlag",
              embOpt: Option[Embedding] = None): DataFrame =
    gridLagWith(panel, valueCol, threshold,
      Seq(out -> dfunction(dfunctionOption)), lonCol, latCol, embOpt)

  /** @return (month_id, unit_id, one column per weight function) —
    * [[withGridLag]] projected
    */
  def gridLagWith(panel: DataFrame, valueCol: String, threshold: Double,
                  weightFns: Seq[(String, Double => Double)],
                  lonCol: String = "lon", latCol: String = "lat",
                  embOpt: Option[Embedding] = None): DataFrame =
    withGridLag(panel, valueCol, threshold, weightFns, lonCol, latCol, embOpt)
      .select(col(Panel.TimeCol) +: col(Panel.UnitCol) +: weightFns.map(f => col(f._1)): _*)

  /** Targets per dense-kernel block: bounds task size (and the
    * mesh-row replication factor) so parallelism is months × blocks,
    * not just months.
    */
  private val GridLagBlock = 8192

  /** Multi-weight-function form (the reference accepts an arbitrary
    * dict of distance functions, spatial_tree.py:95-97).
    *
    * Execution: a per-(month, target-block) dense kernel. The
    * mesh × target product is the operator's defined output (every leaf
    * against every mesh node, spatial_tree.py:548-573), but it must
    * never cross a shuffle: instead of crossJoin'ing O(U × M) rows, the
    * (tiny) per-month mesh rows are replicated to each target block and
    * the product is evaluated in a tight in-task loop over the
    * broadcast target geometry — the same shape as FourierLag's
    * per-month kernel. Shuffled volume is O(M × blocks) mesh rows +
    * O(U) result rows, independent of the product size; wall-clock
    * parallelism is months × ceil(U / 8192) tasks. The panel's own rows
    * come back with one column per function appended
    * ([[graft.Panel.appendByKey]]).
    */
  def withGridLag(panel: DataFrame, valueCol: String, threshold: Double,
                  weightFns: Seq[(String, Double => Double)],
                  lonCol: String = "lon", latCol: String = "lat",
                  embOpt: Option[Embedding] = None): DataFrame = {
    val spark = panel.sparkSession
    import spark.implicits._
    val T = Panel.TimeCol
    val U = Panel.UnitCol
    require(weightFns.nonEmpty, "at least one weight function required")

    val emb = embOpt.getOrElse(embedOf(panel, lonCol, latCol))
    // driver-side geometry (unit → embedded cell), broadcast once per
    // embedding for the session; sorted so block slicing is deterministic
    val bcTargets = OpCache.memo(spark, ("gridlag.targets", emb))(spark.sparkContext.broadcast(
      emb.cells.toSeq.map { case (u, (ex, ey)) => (u, ex, ey) }.sortBy(_._1).toArray))
    val nBlocks = math.max(1, (emb.cells.size + GridLagBlock - 1) / GridLagBlock)
    val power = emb.power
    val block = GridLagBlock
    val fns = weightFns.map(_._2).toArray
    val nW = fns.length

    // a row without a month has no mesh: it gets 0.0 from the append
    val mesh = adaptiveMesh(panel.where(col(T).isNotNull), valueCol, threshold, emb)
    val lag = mesh
      .select(col(T), col("level"), col("nx"), col("ny"), col("v"), col("s"))
      .as[(Long, Int, Int, Int, Double, Double)]
      .flatMap(n => Iterator.range(0, nBlocks).map(b => (b, n)))
      .groupByKey { case (b, n) => (n._1, b) }
      .flatMapGroups { (key: (Long, Int), it: Iterator[(Int, (Long, Int, Int, Int, Double, Double))]) =>
        val (t, b) = key
        val targets = bcTargets.value
        val lo = b * block
        val hi = math.min(lo + block, targets.length)
        val acc = Array.ofDim[Double](hi - lo, nW)
        // each target sums the mesh rows in one order, whatever order
        // the exchange delivers them in
        it.map(_._2).toArray.sortBy(n => (n._2, n._3, n._4, n._5))(Ordering.Tuple4(
            Ordering.Int, Ordering.Int, Ordering.Int, Ordering.Double.TotalOrdering))
          .foreach { case (_, lvl, nx, ny, v, s) =>
            val cx = nx * s + s / 2.0
            val cy = ny * s + s / 2.0
            var i = lo
            while (i < hi) {
              val (_, ex, ey) = targets(i)
              // a leaf never lags against its own mesh node
              if (!(lvl == power && nx == ex && ny == ey)) {
                val dx = ex + 0.5 - cx
                val dy = ey + 0.5 - cy
                val d = math.sqrt(dx * dx + dy * dy)
                var k = 0
                while (k < nW) { acc(i - lo)(k) += v * fns(k)(d); k += 1 }
              }
              i += 1
            }
          }
        Iterator.range(lo, hi).map(i =>
          (t, targets(i)._1, acc(i - lo).toSeq))
      }
      .toDF(T, U, "ws")
      .select(col(T) +: col(U) +: weightFns.zipWithIndex.map { case ((name, _), k) =>
        col("ws")(k).as(name)
      }: _*)
    Panel.appendByKey(panel, lag, weightFns.map(_._1))
  }
}
