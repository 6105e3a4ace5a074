package graft.graphs

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bounded-hop BFS over an undirected pair list — "how far is every
  * node from a seed set": contamination blast radius from known-bad
  * documents through the near-dup graph, influence neighbourhoods, or
  * any reachability audit where only the first few hops matter.
  *
  * Iterative frontier relaxation as DataFrame joins, the PageRank /
  * connected-components discipline: per hop ONE edge-keyed join of the
  * current distance table with the (persisted) symmetrized edges and a
  * node-keyed min aggregate — O(E) shuffled per hop, `localCheckpoint`
  * keeping the iterated plan flat. `maxHops` bounds the loop (the
  * caller's radius of interest), so the driver never runs an
  * unbounded convergence loop; nodes outside the radius report null.
  *
  * Determinism: pure integer arithmetic — hop counts are exact
  * whatever the partitioning, and the oracle unrolls the same
  * relaxation as chained CTEs.
  */
object Bfs {

  /** @param seedPred predicate over the node-id column marking the
    *                  hop-0 seed set (evaluated on every node id that
    *                  appears in the pair list)
    * @return (id, hops) — hops null when unreachable within maxHops
    */
  def hopDistance(pairs: DataFrame, seedPred: Column => Column,
                  maxHops: Int, srcCol: String = "id_a",
                  dstCol: String = "id_b",
                  smallGraphRows: Long = Edges.SmallGraphRows): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    val sym = graft.OpCache.persist(
      Edges.symmetrize(pairs, srcCol, dstCol))
    val init = sym.select(col("src").as("id")).distinct()
      .select(col("id"),
        when(seedPred(col("id")), 0L).cast("long").as("hops"))
    // below the bound: the same relaxation in one task; the seed
    // predicate is still evaluated by Spark (in `init`)
    if (Edges.smallEnough(sym, smallGraphRows))
      return bfsLocal(sym, init, maxHops)
    var dist = init.localCheckpoint()
    (1 to maxHops).foreach { _ =>
      val relaxed = sym
        .join(dist.select(col("id").as("dst"), col("hops").as("__dh")), "dst")
        .filter(col("__dh").isNotNull)
        .groupBy(col("src"))
        .agg((min(col("__dh")) + 1L).as("__nh"))
      dist = dist
        .join(relaxed, dist("id") === relaxed("src"), "left")
        // Spark's least skips nulls, so this is min-of-defined
        .select(col("id"), least(col("hops"), col("__nh")).as("hops"))
        .localCheckpoint()
    }
    dist
  }

  /** Single-task exact relaxation for the small-graph dispatch: the
    * same synchronous recurrence (per hop, relax every node from its
    * neighbours' PREVIOUS-round hops, then min with its own) over
    * primitive arrays. The Spark-evaluated seed frame rides the same
    * one-task union as the edges (seeds are the tagged nodes), so
    * arbitrary Column seed predicates need no local re-evaluation.
    */
  private def bfsLocal(sym: DataFrame, init: DataFrame,
                       maxHops: Int): DataFrame = {
    Edges.inOneTask(Edges.withNodes(init, col("id"), col("hops"), sym),
      "id", "hops") { (it: Iterator[(Option[Long], Option[Long], Boolean)]) =>
      val g = Edges.readNodesAndEdges(it)
      val src = g.src; val dst = g.dst
      var hops = new scala.collection.mutable.LongMap[Long]()
      g.tagged.foreach(s => hops(s) = 0L)
      var h = 1
      while (h <= maxHops) {
        val prev = hops
        val next = new scala.collection.mutable.LongMap[Long]()
        prev.foreach { case (id, v) => next(id) = v }
        // for each directed edge (s, d): d's previous hops + 1
        // relaxes s (the loop joins dist on dst and aggregates min
        // per src, then least()s with the node's own value)
        var i = 0
        while (i < src.length) {
          prev.get(dst(i)).foreach { dv =>
            val cand = dv + 1L
            if (next.get(src(i)).forall(cand < _)) next(src(i)) = cand
          }
          i += 1
        }
        hops = next
        h += 1
      }
      val fin = hops
      g.ids.iterator.map(id => (id, fin.get(id)))
    }
  }
}
