package graft.graphs

import graft.functions.SparkRound
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PageRank over an undirected candidate-pair list (the output of the
  * dedup family — simhashPairs / minhashLsh / dhashPairs): node
  * centrality inside near-duplicate neighbourhoods, the
  * graph-weighting signal for "keep the canonical, down-weight the
  * satellites" curation policies (and the classic iterative-join
  * workload every relational engine is judged on).
  *
  * Power iteration as DataFrame joins: per pass ONE edge-keyed join of
  * the current ranks with the (persisted) symmetrized edge list and a
  * dst-keyed sum — O(E) shuffled per iteration, `localCheckpoint`
  * keeping the iterated plan flat (the MICE discipline). The
  * symmetrized graph has no dangling nodes (every listed node carries
  * degree ≥ 1), so no dangling-mass term.
  *
  * Determinism: ranks round to 1e-9 after EVERY iteration — per-dst
  * contribution sums are float-order-dependent at the last ULP, and
  * five iterations of drift would otherwise be engine-visible (the
  * cusum lesson); the oracle unrolls the same rounded recurrence as
  * chained CTEs.
  *
  * @return (id, pagerank) — rank rounded 1e-6, summing to ~1
  */
object PageRank {

  def pageRank(pairs: DataFrame, iters: Int, damping: Double = 0.85,
               srcCol: String = "id_a", dstCol: String = "id_b",
               smallGraphRows: Long = Edges.SmallGraphRows): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(damping > 0.0 && damping < 1.0,
      s"damping must be in (0, 1), got $damping")
    val sym = graft.OpCache.persist(
      Edges.symmetrize(pairs, srcCol, dstCol))
    val deg = graft.OpCache.persist(
      sym.groupBy(col("src")).agg(count(lit(1)).as("deg")))
    val n = deg.count()
    require(n > 0, "pageRank needs a non-empty edge list")
    if (Edges.smallEnough(sym, smallGraphRows)) {
      val c0 = (1.0 - damping) / n
      val nL = n
      return powerIterLocal(sym, iters, damping,
        init = _ => 1.0 / nL, base = _ => c0, outCol = "pagerank")
    }
    var ranks = deg.select(col("src").as("id"),
      round(lit(1.0 / n), 9).as("rank"))
    (1 to iters).foreach { _ =>
      // contributions are fixed to exact 1e-15-unit integers BEFORE the
      // per-dst sum: a float sum's accumulation order shifts with
      // partition layout, and 1e-9-rounding an order-dependent double
      // still flips at boundary values (the cusum/outlier lesson) —
      // integer summands make the recurrence layout-proof outright
      val contrib = sym
        .join(deg, "src")
        .join(ranks, col("src") === col("id"))
        .groupBy(col("dst"))
        .agg(sum(round(col("rank") / col("deg") * 1e15).cast("long"))
          .as("__ci"))
      ranks = deg.select(col("src").as("id"))
        .join(contrib, col("id") === col("dst"), "left")
        .select(col("id"),
          round(lit((1.0 - damping) / n) +
            coalesce(col("__ci"), lit(0L)) / 1e15 * damping, 9).as("rank"))
        .localCheckpoint()
    }
    ranks.select(col("id"), round(col("rank"), 6).as("pagerank"))
  }

  /** PERSONALIZED PageRank — the restart mass teleports to a seed set
    * instead of uniformly ("similarity to the seeds through the
    * graph"): the retrieval/expansion score for growing a labelled
    * cluster (contamination sources, a known-bad template family)
    * through near-dup structure. Same integer-fixed, per-iteration
    * 1e-9-rounded recurrence as [[pageRank]]; seeds are the nodes with
    * id < `maxSeedId` (the [[Bfs]] convention, SQL-mirrorable).
    *
    * @return (id, ppr)
    */
  def personalizedPageRank(pairs: DataFrame, iters: Int, maxSeedId: Long,
                           damping: Double = 0.85,
                           srcCol: String = "id_a",
                           dstCol: String = "id_b",
                           smallGraphRows: Long = Edges.SmallGraphRows): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(damping > 0.0 && damping < 1.0,
      s"damping must be in (0, 1), got $damping")
    val sym = graft.OpCache.persist(
      Edges.symmetrize(pairs, srcCol, dstCol))
    val deg = graft.OpCache.persist(
      sym.groupBy(col("src")).agg(count(lit(1)).as("deg")))
    val nSeeds = deg.filter(col("src") < maxSeedId).count()
    require(nSeeds > 0, s"no seed nodes below $maxSeedId in the graph")
    if (Edges.smallEnough(sym, smallGraphRows)) {
      val sm = (id: Long) => if (id < maxSeedId) 1.0 / nSeeds else 0.0
      val d = damping
      return powerIterLocal(sym, iters, damping,
        init = sm, base = id => sm(id) * (1.0 - d), outCol = "ppr")
    }
    val seedMass = (id: org.apache.spark.sql.Column) =>
      when(id < maxSeedId, lit(1.0 / nSeeds)).otherwise(lit(0.0))
    var ranks = deg.select(col("src").as("id"),
      round(seedMass(col("src")), 9).as("rank"))
    (1 to iters).foreach { _ =>
      val contrib = sym
        .join(deg, "src")
        .join(ranks, col("src") === col("id"))
        .groupBy(col("dst"))
        .agg(sum(round(col("rank") / col("deg") * 1e15).cast("long"))
          .as("__ci"))
      ranks = deg.select(col("src").as("id"))
        .join(contrib, col("id") === col("dst"), "left")
        .select(col("id"),
          round(seedMass(col("id")) * (1.0 - damping) +
            coalesce(col("__ci"), lit(0L)) / 1e15 * damping, 9).as("rank"))
        .localCheckpoint()
    }
    ranks.select(col("id"), round(col("rank"), 6).as("ppr"))
  }

  /** Single-task exact power iteration for [[pageRank]] /
    * [[personalizedPageRank]]'s small-graph dispatch, reproducing the
    * distributed recurrence bit-for-bit: per iteration each node's
    * contribution is fixed to a 1e-15-unit long BEFORE the per-dst sum
    * (integer sums are order-free, so one task and a 32-way shuffle
    * agree exactly), and every rounding is [[SparkRound]], what the
    * Round expression applies.
    *
    * @param init pre-round initial rank (the recurrence rounds it to
    *   1e-9, exactly like the distributed seed frame)
    * @param base per-iteration restart term added to the damped
    *   contribution sum before the 1e-9 round
    */
  private def powerIterLocal(sym: DataFrame, iters: Int, damping: Double,
                             init: Long => Double, base: Long => Double,
                             outCol: String): DataFrame = {
    Edges.inOneTask(sym, "id", outCol) { (it: Iterator[(Long, Long)]) =>
      val (src, dst) = Edges.readEdges(it)
      val deg = new scala.collection.mutable.LongMap[Long]()
      var i = 0
      while (i < src.length) {
        deg(src(i)) = deg.getOrElse(src(i), 0L) + 1L; i += 1
      }
      var rank = new scala.collection.mutable.LongMap[Double]()
      deg.foreachKey(id => rank(id) = SparkRound(init(id), 9))
      var iter = 1
      while (iter <= iters) {
        val ci = new scala.collection.mutable.LongMap[Long]()
        i = 0
        while (i < src.length) {
          val s = src(i)
          val term = SparkRound(rank(s) / deg(s) * 1e15, 0).toLong
          ci(dst(i)) = ci.getOrElse(dst(i), 0L) + term
          i += 1
        }
        val next = new scala.collection.mutable.LongMap[Double]()
        deg.foreachKey { id =>
          next(id) =
            SparkRound(base(id) + ci.getOrElse(id, 0L) / 1e15 * damping, 9)
        }
        rank = next
        iter += 1
      }
      val fin = rank
      deg.keysIterator.map(id => (id, SparkRound(fin(id), 6)))
    }
  }
}
