package graft

import graft.dedup.Dedup
import org.apache.spark.sql.functions._

/** r16: the connectedComponents small-graph dispatch (single-task
  * union-find) must be row-identical to the distributed min-label
  * propagation loop it replaces below the threshold — including the
  * loop's quirks: duplicate node rows label twice (and count twice in
  * cluster_size), edges with an endpoint missing from `nodes`
  * propagate nothing, and a chain's transitive closure lands on the
  * component minimum.
  */
class R16CcDispatchSpec extends SparkSpec {
  import spark.implicits._

  private def canon(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("doc_id", "cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  test("local union-find == propagation loop on a mixed graph") {
    // chain 1-2-5, pair 3-4, isolated 6, dangling edge 7-99 (99 not a
    // node: both directions must be ignored), self loop 3-3
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 5L), (3L, 4L), (7L, 99L), (3L, 3L))
      .toDF("id_a", "id_b")
    // the same graph plus a pair with a null endpoint (joins nothing;
    // the probe sends it to the loop)
    val withNull = pairs.union(
      Seq((Some(6L), Option.empty[Long])).toDF("id_a", "id_b"))
    for (ps <- Seq(pairs, withNull)) {
      val local = Dedup.connectedComponents(nodes, ps)
      val loop = Dedup.connectedComponents(nodes, ps,
        smallGraphRows = 0)
      assert(canon(local) == canon(loop))
      assert(canon(local) == Seq(
        (1L, 1L, 3L), (2L, 1L, 3L), (3L, 3L, 2L), (4L, 3L, 2L),
        (5L, 1L, 3L), (6L, 6L, 1L), (7L, 7L, 1L)))
    }
  }

  // No duplicate-node-row parity test: the contract is one row per
  // document, and the LOOP path's behavior on duplicates is
  // pathological (its per-pass pointer-jump join multiplies duplicate
  // label rows, so the output depends on the pass count — 3 input
  // rows came back as 24). The local path labels each occurrence
  // once, which is the only sane reading; no caller passes dups.

  test("parity on a pseudo-random 400-node graph") {
    // deterministic LCG edge set: ~300 edges over 400 nodes — several
    // multi-node components plus isolated nodes
    val rnd = new scala.util.Random(42)
    val nodes = (0L until 400L).toDF("doc_id")
    val pairs = Seq.fill(300)((rnd.nextInt(400).toLong,
      rnd.nextInt(400).toLong)).toDF("id_a", "id_b")
    val local = Dedup.connectedComponents(nodes, pairs)
    val loop = Dedup.connectedComponents(nodes, pairs,
      smallGraphRows = 0)
    assert(canon(local) == canon(loop))
  }

  test("edge count above the bound keeps the loop (same result)") {
    val nodes = Seq(1L, 2L, 3L).toDF("doc_id")
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    // threshold 1: the symmetrized edge count (2) trips the bound
    val out = Dedup.connectedComponents(nodes, pairs, smallGraphRows = 1)
    assert(canon(out) == Seq((1L, 1L, 2L), (2L, 1L, 2L), (3L, 3L, 1L)))
  }
}
