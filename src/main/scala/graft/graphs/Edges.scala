package graft.graphs

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._

import scala.collection.mutable
import scala.reflect.runtime.universe.TypeTag

/** Shared edge-list plumbing for the graph family, and the one
  * single-task dispatch ([[Edges.inOneTask]]) of the small-input
  * recurrences.
  */
object Edges {

  /** Symmetrize an (a, b) pair list into both directions (two-branch
    * union + distinct — the r14-proven shape, now shared instead of
    * copied across five operators).
    *
    * The row-local explode variant (one execution of the pair
    * pipeline instead of one per direction) has now been A/B'd in
    * BOTH r15 (parity under stall waves) and r16 (quiet-box
    * interleaved both-orders A/B across q_pagerank/q_kcore/
    * q_bfs_hops/q_label_prop: union wins 3 of 4 on minima, 1.17-1.29×
    * against the explode, pagerank the lone 0.89× exception) — the
    * union's two branches overlap on idle cores (wall ≈ max(branch),
    * not sum) while the explode's struct-array generator breaks
    * whole-stage codegen at the edge-list base. REJECTED twice;
    * the union form is final.
    */
  def symmetrize(pairs: DataFrame, srcCol: String, dstCol: String): DataFrame =
    pairs.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .unionByName(pairs.select(col(dstCol).cast("long").as("src"),
        col(srcCol).cast("long").as("dst")))
      .distinct()

  /** Directed-edge count up to which the graph operators run their
    * single-task recurrence ([[inOneTask]]); connected components also
    * holds its node count to it. In a symmetrized list every node
    * appears as a src, so the edge bound also caps the node count; 2M
    * directed edges ≈ 32 MB of primitive arrays in one task.
    */
  val SmallGraphRows: Long = 2000000L

  /** One-job dispatch probe for the single-task paths: the directed
    * edge count of a symmetrized list, or None when any endpoint is
    * null (`count(col)` skips nulls, so three counters in one
    * aggregation detect both).
    */
  def cleanCount(sym: DataFrame): Option[Long] = {
    val r = sym.agg(count(lit(1)), count(col("src")), count(col("dst"))).head()
    val n = r.getLong(0)
    if (r.getLong(1) == n && r.getLong(2) == n) Some(n) else None
  }

  /** True when the (src, dst) list `sym` should take its operator's
    * single-task path: non-empty, null-free, and at most `bound` rows
    * (`bound <= 0` pins the distributed loop). The probe's one count
    * job materializes the caller's persisted edge list — work the
    * loop's first pass would do anyway.
    */
  def smallEnough(sym: DataFrame, bound: Long): Boolean =
    bound > 0 && cleanCount(sym).exists(c => c > 0 && c <= bound)

  /** Runs `f` over all of `rows` in ONE task: the single-task dispatch
    * shared by connected components, BFS, k-core, label propagation,
    * PageRank/PPR and raking. Its contract:
    *  - bound: a graph operator ships here only when [[smallEnough]]
    *    holds for its edge list at its `smallGraphRows` bound (default
    *    [[SmallGraphRows]]). Connected components probes with
    *    [[cleanCount]] instead, because an empty pair list is valid
    *    union-find input, and also needs its node count within the
    *    bound. Raking always ships: its cell table is
    *    capped by its coverage contract (|targetsA|·|targetsB| rows),
    *    not by the data.
    *  - nulls: a null endpoint fails the probe, so the loop runs; the
    *    loops' join null semantics are not mirrored in the local
    *    recurrences.
    *  - the loop: each operator's distributed loop runs whenever the
    *    probe fails, always at `smallGraphRows <= 0`, and is the
    *    reference its local recurrence must equal row for row.
    *  - shipping: the keyless repartition(1) keeps the upstream
    *    pipeline parallel and sends only the typed rows to the task.
    *  - checkpoint: the result is localCheckpointed, so the call is
    *    eager and downstream consumers (often two: a size aggregation
    *    and a join) read its rows instead of re-running the task.
    */
  def inOneTask[T <: Product : TypeTag, U <: Product : TypeTag](
      rows: DataFrame, cols: String*)(f: Iterator[T] => Iterator[U]): DataFrame =
    rows.repartition(1).as(Encoders.product[T])
      .mapPartitions(f)(Encoders.product[U])
      .toDF(cols: _*).localCheckpoint()

  /** One task's plain (src, dst) edge rows as two primitive arrays. */
  def readEdges(it: Iterator[(Long, Long)]): (Array[Long], Array[Long]) = {
    val src = mutable.ArrayBuilder.make[Long]
    val dst = mutable.ArrayBuilder.make[Long]
    it.foreach { case (s, d) => src += s; dst += d }
    (src.result(), dst.result())
  }

  /** Node rows (a = id, b = `tag`) and the (src, dst) rows of `edges`
    * (a = src, b = dst) on one union, told apart by `e`: the input
    * [[readNodesAndEdges]] reads in one task.
    */
  def withNodes(nodes: DataFrame, id: Column, tag: Column,
                edges: DataFrame): DataFrame =
    nodes.select(id.cast("long").as("a"), tag.cast("long").as("b"),
        lit(false).as("e"))
      .unionByName(edges.select(col("src").cast("long").as("a"),
        col("dst").cast("long").as("b"), lit(true).as("e")))

  /** What [[readNodesAndEdges]] reads: every node id, the ids whose
    * tag is non-null, and the edges as two primitive arrays.
    */
  final case class NodesAndEdges(ids: Array[Long], tagged: Array[Long],
                                 src: Array[Long], dst: Array[Long])

  /** One task's [[withNodes]] rows. Rows with a null node id or a null
    * endpoint are skipped: the loops never join on them.
    */
  def readNodesAndEdges(
      it: Iterator[(Option[Long], Option[Long], Boolean)]): NodesAndEdges = {
    val ids = mutable.ArrayBuilder.make[Long]
    val tagged = mutable.ArrayBuilder.make[Long]
    val src = mutable.ArrayBuilder.make[Long]
    val dst = mutable.ArrayBuilder.make[Long]
    it.foreach {
      case (Some(a), b, false)      => ids += a; if (b.isDefined) tagged += a
      case (Some(a), Some(b), true) => src += a; dst += b
      case _                        => ()
    }
    NodesAndEdges(ids.result(), tagged.result(), src.result(), dst.result())
  }
}
