package graft.temporal

import graft.Panel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Barnes-Hut temporal tree lag — reference temporal_tree.py:6-456: a
  * binary interval tree over the (power-of-two padded) time axis, node
  * values = sums over covered timesteps, a per-tnow walk through
  * predecessors/siblings with opening criterion theta = width/age <
  * thetacrit, and five weight-function families.
  *
  * The node lists and weights depend only on the time axis, so the whole
  * tree reduces to an effective weight matrix W(tnow, month) =
  * Σ_{accepted nodes covering month} w(node, tnow), computed on the
  * driver by a literal port of the reference walk and broadcast. The lag
  * is then a per-unit [[graft.Panel.kernel]] behind one input-sized
  * `unit_id` exchange: lag(tnow, unit) = Σ_m W(tnow, m) · x(m, unit)
  * over each unit's rows, appended to those rows ([[withTreeLag]]) —
  * no join, no aggregation exchange. No tree exists at runtime; cost is
  * independent of thetacrit and linear in the panel.
  *
  * Reference quirks preserved: the time axis is padded to a power of two
  * BEFORE the earliest time (temporal_tree.py:131-136), and the final
  * timestep has no leaf (nseq = tend − tstart), so its lag is 0 and its
  * values never enter any node — observable reference behaviour we
  * replicate. The weight functions are ported literally, including
  * sigmoid's use of node start (not mid) and the (8w1+6w−w2)/13 expon
  * blend (temporal_tree.py:373-398).
  */
object TreeLag {

  private final class TNode(val id: Int, val level: Int,
                            val start: Long, val end: Long) {
    var parent: Int = -1
    var sibling: Int = -1
    var predecessor: Int = Int.MinValue // MinValue = unresolved (None)
    var ispast: Boolean = false
    var isleaf: Boolean = false
    var children: Vector[Int] = Vector.empty
  }

  private final class Tree(times: Seq[Long]) {
    val tstart: Long = times.min
    val tend: Long = times.max
    private val nseqInitial = tend - tstart
    private val nseq: Long = {
      var p = 0L
      var n = 1L
      while (n <= nseqInitial) { n *= 2; p += 1 }
      n // 2^(1+int(log2(nseqInitial))) for non-powers; 2·n for exact powers
    }
    val npad: Long = nseq - nseqInitial
    val nodes = scala.collection.mutable.ArrayBuffer.empty[TNode]

    // build_tree (temporal_tree.py:110-216): LIFO split, mid uses
    // truncating division with the +1 bias for non-negative starts
    {
      val root = new TNode(0, 0, tstart - npad, tend)
      nodes += root
      val todo = scala.collection.mutable.Stack(root)
      while (todo.nonEmpty) {
        val sn = todo.pop()
        if (sn.end - sn.start > 1) {
          val mid = if (sn.start >= 0) (sn.start + sn.end + 1) / 2
                    else (sn.start + sn.end) / 2
          val isleaf = (mid - sn.start) == 1
          val past = new TNode(nodes.length, sn.level + 1, sn.start, mid)
          past.parent = sn.id; past.ispast = true; past.isleaf = isleaf
          nodes += past; todo.push(past)
          val future = new TNode(nodes.length, sn.level + 1, mid, sn.end)
          future.parent = sn.id; future.ispast = false; future.isleaf = isleaf
          nodes += future; todo.push(future)
          past.sibling = future.id
          future.sibling = past.id
          future.predecessor = past.id
          sn.children = Vector(past.id, future.id)
        }
      }
      // resolve predecessors (temporal_tree.py:198-216)
      for (node <- nodes) {
        if (node.predecessor == Int.MinValue) {
          if (node.start <= tstart) node.predecessor = -1
          else {
            var climb = nodes(node.parent)
            while (climb.ispast) climb = nodes(climb.parent)
            var descend = nodes(climb.sibling)
            while (descend.level != node.level) descend = nodes(descend.children(1))
            node.predecessor = descend.id
          }
        }
      }
    }

    /** walk (temporal_tree.py:273-326): current-time leaf + the past
      * fringe, each fringe node theta-split.
      */
    def walk(tnow: Long, thetacrit: Double): Seq[Int] = {
      val list = scala.collection.mutable.ArrayBuffer.empty[Int]
      nodes.find(n => n.isleaf && n.start == tnow) match {
        case None => Seq.empty // final timestep: no leaf (reference quirk)
        case Some(leaf) =>
          list += leaf.id
          if (leaf.predecessor == -1) return list.toSeq
          var node = leaf
          var notdone = true
          while (notdone) {
            if (node.ispast) {
              if (node.predecessor == -1) notdone = false
              else {
                val pred = nodes(node.predecessor)
                node = nodes(pred.parent)
                splitNode(node, list, tnow, thetacrit)
              }
            } else {
              node = nodes(node.sibling)
              splitNode(node, list, tnow, thetacrit)
              node = nodes(node.parent)
              if (node.predecessor == -1) notdone = false
              else if (node.sibling != node.predecessor) {
                node = nodes(node.predecessor)
                splitNode(node, list, tnow, thetacrit)
              }
            }
          }
          list.toSeq
      }
    }

    /** split_node (temporal_tree.py:328-352): theta = width/age with
      * age measured to the node midpoint; theta < crit accepts.
      */
    private def splitNode(start: TNode, list: scala.collection.mutable.ArrayBuffer[Int],
                          tnow: Long, thetacrit: Double): Unit = {
      val check = scala.collection.mutable.Queue(start)
      while (check.nonEmpty) {
        val node = check.dequeue()
        val mid = (node.start + node.end) / 2.0
        val width = (node.end - node.start).toDouble
        val age = tnow - mid
        val theta = width / age
        if (theta < thetacrit) list += node.id
        else if (node.children.nonEmpty) {
          check.enqueue(nodes(node.children(0)))
          check.enqueue(nodes(node.children(1)))
        } else list += node.id
      }
    }

    /** Weight functions (temporal_tree.py:354-408), ported literally. */
    def weight(fname: String, nodeId: Int, tnow: Long, sigma: Double): Double = {
      val n = nodes(nodeId)
      val mid = (n.start + n.end) / 2.0
      fname match {
        case "uniform" => 1.0
        case "oneovert" => 1.0 / (tnow - mid + 1.5)
        case "sigmoid" =>
          val s = sigma / 5.0
          val lag = (n.start - tnow + 5.0 * s) / s
          1.0 / (1.0 + math.exp(-lag))
        case "expon" =>
          val w = math.exp(-(tnow - mid) / sigma)
          val w1 = math.exp(-(tnow - n.start) / sigma)
          val w2 = math.exp(-(tnow - n.end) / sigma)
          (8.0 * w1 + 6.0 * w - w2) / 13.0
        case "ramp" =>
          math.max(0.0, 1.0 - (tnow - mid + 0.5) / sigma)
        case other => throw new IllegalArgumentException(
          s"unknown weight function '$other' (uniform|oneovert|sigmoid|expon|ramp)")
      }
    }

    def nodeMonths(nodeId: Int): Seq[Long] = {
      val n = nodes(nodeId)
      (math.max(n.start, tstart) until math.min(n.end, tend + 1)).toSeq
    }
  }

  /** Effective (tnow, month, weight) matrix for a given time axis —
    * pure function of the times, usable both by the Spark operator and
    * by oracle-SQL generation.
    */
  def weightMatrix(times: Seq[Long], thetacrit: Double,
                   fname: String, sigma: Double): Seq[(Long, Long, Double)] = {
    val tree = new Tree(times)
    times.flatMap { tnow =>
      tree.walk(tnow, thetacrit).flatMap { id =>
        val w = tree.weight(fname, id, tnow, sigma)
        tree.nodeMonths(id).map(m => (tnow, m, w))
      }
    }.groupBy(t => (t._1, t._2))
      .map { case ((tnow, m), ws) => (tnow, m, ws.map(_._3).sum) }
      .toSeq
  }

  /** @return (month_id, unit_id, out) */
  def treeLag(panel: DataFrame, valueCol: String,
              thetacrit: Double, fname: String, sigma: Double = 1.0,
              out: String = "treelag"): DataFrame = {
    val T = Panel.TimeCol
    val U = Panel.UnitCol
    withTreeLag(panel.select(col(T), col(U), col(valueCol)), valueCol,
      thetacrit, fname, sigma, out).select(col(T), col(U), col(out))
  }

  /** The per-unit kernel: every input row comes back with the non-null
    * double column `out` appended, lag(tnow) = Σ_m W(tnow, m) · x(m)
    * over its unit's rows. Null values and months are skipped; a row
    * with no term (the final timestep, a null month) or a NaN sum gets
    * 0.0.
    */
  def withTreeLag(panel: DataFrame, valueCol: String,
                  thetacrit: Double, fname: String, sigma: Double,
                  out: String): DataFrame = {
    val T = Panel.TimeCol
    val times = panel.where(col(T).isNotNull).select(col(T).cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq.sorted
    // W's rows: tnow → (month, weight), months ascending
    val wm: Map[Long, Seq[(Long, Double)]] = weightMatrix(times, thetacrit, fname, sigma)
      .groupBy(_._1).map { case (tnow, ws) => tnow -> ws.map(w => (w._2, w._3)).sortBy(_._1) }

    Panel.kernel(panel, Panel.UnitCol, None, Seq(T, valueCol), Panel.doubles(out)) { g =>
      val (t, tNul) = (g.longs(0), g.nulls(0))
      val (x, xNul) = (g.doubles(1), g.nulls(1))
      // month → the unit's values there, sorted so that the sum does
      // not depend on row order (a well-formed panel has one)
      val at = (0 until g.n).filter(i => !tNul(i) && !xNul(i)).groupMap(t(_))(x(_))
        .map { case (m, xs) => m -> xs.sortWith(java.lang.Double.compare(_, _) < 0) }
      Panel.Emit(Array.tabulate(g.n) { i =>
        val terms = (if (tNul(i)) Nil else wm.getOrElse(t(i), Nil))
          .flatMap { case (m, w) => at.getOrElse(m, Nil).map(w * _) }
        val s = terms.foldLeft(0.0)(_ + _)
        if (terms.isEmpty || s.isNaN) 0.0 else s
      })
    }
  }
}
