package graft.graphs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core peeling over an undirected pair list — "the densely
  * interconnected heart of the graph": in a near-dup graph the k-core
  * is the template/boilerplate nucleus (every member near-duplicates
  * ≥ k others), the subgraph worth auditing before any keep-best
  * canonicalisation; in an interaction graph it is the engaged
  * community core.
  *
  * Semantics are ROUND-BOUNDED by contract: `rounds` synchronous peels
  * (drop every node whose degree among current survivors is < k,
  * all at once, then recompute), not peel-to-fixpoint. For any graph
  * the sequence converges to the true k-core in at most "longest
  * peeling chain" rounds; the round-bounded contract makes the result
  * a pure function of (edges, k, rounds) — the oracle unrolls the SAME
  * R rounds as chained CTEs, so the gate never depends on a
  * convergence test. `converged` in the output reports whether the
  * last round was already a fixpoint (no node dropped), so a caller
  * (or spec) can assert the true k-core was reached.
  *
  * Scale shape: the BFS/PageRank discipline — per round ONE node-keyed
  * degree aggregation over the surviving edge list and a semi-join
  * filter, O(E) shuffled per round; `localCheckpoint` keeps the
  * iterated plan flat; the symmetrized edge list persists once.
  *
  * @return (id, deg, converged) — survivors of `rounds` peels with
  *   their degree inside the surviving subgraph
  */
object KCore {

  def kcore(pairs: DataFrame, k: Int, rounds: Int,
            srcCol: String = "id_a", dstCol: String = "id_b",
            smallGraphRows: Long = Edges.SmallGraphRows): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val sym = graft.OpCache.persist(
      Edges.symmetrize(pairs, srcCol, dstCol))
    if (Edges.smallEnough(sym, smallGraphRows))
      return kcoreLocal(sym, k, rounds)
    // degree table of the current surviving subgraph; edges survive
    // when BOTH endpoints do, so filtering the degree table node-wise
    // and re-deriving degrees from the semi-joined edge list IS the
    // synchronous peel (a node isolated by a peel loses its degree row
    // and is gone — consistent with k >= 1)
    var deg = sym.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("deg")).localCheckpoint()
    var converged = false
    (1 to rounds).foreach { _ =>
      val keep = deg.filter(col("deg") >= k).select(col("id"))
      val next = sym
        .join(keep.select(col("id").as("src")), "src", "left_semi")
        .join(keep.select(col("id").as("dst")), "dst", "left_semi")
        .groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("deg")).localCheckpoint()
      // fixpoint: the last peel kept every node it admitted (none
      // isolated) and nothing remains below k — one more round would
      // reproduce `next` exactly
      converged = keep.count() == next.count() &&
        next.filter(col("deg") < k).isEmpty
      deg = next
    }
    deg.filter(col("deg") >= k)
      .select(col("id"), col("deg"), lit(converged).as("converged"))
  }

  /** Single-task exact peel for the small-graph dispatch: the same
    * synchronous recurrence (degree table → keep ≥ k → re-derive
    * degrees from the doubly-surviving edge list) over primitive
    * arrays, including the loop's fixpoint test.
    */
  private def kcoreLocal(sym: DataFrame, k: Int, rounds: Int): DataFrame = {
    Edges.inOneTask(sym, "id", "deg", "converged") { (it: Iterator[(Long, Long)]) =>
      val (src, dst) = Edges.readEdges(it)
      var deg = new scala.collection.mutable.LongMap[Long]()
      var i = 0
      while (i < src.length) {
        deg(src(i)) = deg.getOrElse(src(i), 0L) + 1L; i += 1
      }
      var converged = false
      var round = 1
      while (round <= rounds) {
        // keep = nodes with deg >= k in the CURRENT table; an edge
        // survives when BOTH endpoints are kept (the two semi-joins)
        val cur = deg
        def kept(x: Long): Boolean = cur.get(x).exists(_ >= k)
        var keepCount = 0L
        cur.foreachValue(v => if (v >= k) keepCount += 1L)
        val next = new scala.collection.mutable.LongMap[Long]()
        i = 0
        while (i < src.length) {
          if (kept(src(i)) && kept(dst(i)))
            next(src(i)) = next.getOrElse(src(i), 0L) + 1L
          i += 1
        }
        converged = keepCount == next.size &&
          next.valuesIterator.forall(_ >= k)
        deg = next
        round += 1
      }
      val conv = converged
      deg.iterator.collect { case (id, d) if d >= k => (id, d, conv) }
    }
  }
}
