package graft.graphs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Synchronous label propagation over an undirected candidate-pair
  * list — community detection one level finer than connected
  * components: where [[graft.dedup.Dedup.connectedComponents]] fuses
  * everything reachable, LPA splits a weakly-bridged blob into its
  * dense cores (the near-dup "template families" inside one giant
  * component). Deterministic variant: every node starts labelled with
  * its own id; each round a node adopts the most frequent label among
  * its neighbours, ties broken by the SMALLEST label; all nodes update
  * simultaneously (synchronous), so the result after a fixed number of
  * rounds is engine-independent — which is what lets one unrolled
  * DuckDB oracle pin it, the PageRank discipline.
  *
  * Per round: ONE edge-keyed join of the current labels with the
  * persisted symmetric edge list, one (node, label) count aggregation,
  * and a per-node argmax window (bounded by that node's distinct
  * neighbour labels). O(E) shuffled per round, `localCheckpoint`
  * keeping the iterated plan flat.
  */
object LabelProp {

  def labelPropagation(pairs: DataFrame, iters: Int,
                       srcCol: String = "id_a",
                       dstCol: String = "id_b",
                       smallGraphRows: Long = Edges.SmallGraphRows): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val sym = graft.OpCache.persist(
      Edges.symmetrize(pairs, srcCol, dstCol))
    if (Edges.smallEnough(sym, smallGraphRows))
      return lpaLocal(sym, iters)
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
    (1 to iters).foreach { _ =>
      labels = sym
        .join(labels, col("dst") === col("id"))
        .groupBy(col("src"), col("label"))
        .agg(count(lit(1)).as("__n"))
        .withColumn("__rn", row_number().over(
          Window.partitionBy(col("src"))
            .orderBy(col("__n").desc, col("label"))))
        .filter(col("__rn") === 1)
        .select(col("src").as("id"), col("label"))
        .localCheckpoint()
    }
    labels
  }

  /** Single-task exact LPA for the small-graph dispatch: per round,
    * every node adopts the most frequent label among its neighbours'
    * PREVIOUS-round labels, ties to the smallest label — the identical
    * synchronous recurrence over primitive arrays. Nodes keep a label
    * every round (each has ≥ 1 neighbour in a symmetrized list).
    */
  private def lpaLocal(sym: DataFrame, iters: Int): DataFrame = {
    Edges.inOneTask(sym, "id", "label") { (it: Iterator[(Long, Long)]) =>
      val (src, dst) = Edges.readEdges(it)
      var labels = new scala.collection.mutable.LongMap[Long]()
      var i = 0
      while (i < src.length) { labels(src(i)) = src(i); i += 1 }
      var round = 1
      while (round <= iters) {
        val prev = labels
        // per-node neighbour-label counts from the previous round
        val counts = new scala.collection.mutable.LongMap[
          scala.collection.mutable.LongMap[Long]]()
        i = 0
        while (i < src.length) {
          val m = counts.getOrElseUpdate(src(i),
            new scala.collection.mutable.LongMap[Long]())
          val l = prev(dst(i))
          m(l) = m.getOrElse(l, 0L) + 1L
          i += 1
        }
        val next = new scala.collection.mutable.LongMap[Long]()
        counts.foreach { case (id, m) =>
          var bestLabel = Long.MaxValue; var bestN = 0L
          m.foreach { case (l, n) =>
            if (n > bestN || (n == bestN && l < bestLabel)) {
              bestLabel = l; bestN = n
            }
          }
          next(id) = bestLabel
        }
        labels = next
        round += 1
      }
      labels.iterator
    }
  }
}
