package graft

import graft.dedup.Dedup
import graft.graphs.{Bfs, Edges, KCore, LabelProp, PageRank}
import org.apache.spark.sql.functions._

/** r16: the iterative graph operators' small-graph dispatch
  * (single-task exact recurrences) must be row-identical to the
  * distributed loops below the threshold — `smallGraphRows = 0` pins
  * the loop side of each comparison. PageRank/PPR are the strict
  * cases: their recurrences mix doubles, but contributions are
  * integer-fixed before summing and every rounding is BigDecimal
  * HALF_UP, so the local path must match BIT-FOR-BIT, not just within
  * tolerance.
  */
class R16GraphDispatchSpec extends SparkSpec {
  import spark.implicits._

  // deterministic pseudo-random graph: several components, hubs,
  // self-loops and duplicate pairs (symmetrize dedups them)
  private def randomPairs(n: Int, e: Int, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(e)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .toDF("id_a", "id_b")
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))

  test("pagerank local == loop bit-for-bit") {
    for (seed <- Seq(1, 7)) {
      val pairs = randomPairs(60, 120, seed)
      val local = PageRank.pageRank(pairs, iters = 5)
      val loop = PageRank.pageRank(pairs, iters = 5, smallGraphRows = 0)
      assert(rows(local) == rows(loop), s"seed=$seed")
    }
  }

  test("ppr local == loop bit-for-bit (incl. all-mass-on-seeds start)") {
    val pairs = randomPairs(50, 90, 3)
    val local = PageRank.personalizedPageRank(pairs, iters = 5, maxSeedId = 4L)
    val loop = PageRank.personalizedPageRank(pairs, iters = 5,
      maxSeedId = 4L, smallGraphRows = 0)
    assert(rows(local) == rows(loop))
  }

  test("kcore local == loop incl. converged flag, both regimes") {
    val pairs = randomPairs(40, 70, 11)
    for ((k, r) <- Seq((2, 1), (2, 4), (3, 2), (5, 6))) {
      val local = KCore.kcore(pairs, k = k, rounds = r)
      val loop = KCore.kcore(pairs, k = k, rounds = r, smallGraphRows = 0)
      assert(rows(local) == rows(loop), s"k=$k rounds=$r")
    }
    // everything peels away: empty result on both paths
    val sparse = Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b")
    assert(rows(KCore.kcore(sparse, 2, 3)) ==
      rows(KCore.kcore(sparse, 2, 3, smallGraphRows = 0)))
    assert(KCore.kcore(sparse, 2, 3).isEmpty)
  }

  test("bfs local == loop incl. unreachable nulls and radius cut") {
    // chain 0-1-2-3-4-5 plus isolated pair 10-11: seeds {0}, radius 3
    // leaves 4,5 null; 10,11 null (unreachable)
    val chain = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L)).toDF("id_a", "id_b")
    for (hops <- Seq(1, 3, 6)) {
      val local = Bfs.hopDistance(chain, id => id < 1, hops)
      val loop = Bfs.hopDistance(chain, id => id < 1, hops,
        smallGraphRows = 0)
      assert(rows(local) == rows(loop), s"maxHops=$hops")
    }
    val r3 = Bfs.hopDistance(chain, id => id < 1, 3).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(r3 == Map(0L -> Some(0L), 1L -> Some(1L), 2L -> Some(2L),
      3L -> Some(3L), 4L -> None, 5L -> None, 10L -> None, 11L -> None))
  }

  test("bfs local == loop on a random graph with multi-seed predicate") {
    val pairs = randomPairs(50, 60, 19)
    val local = Bfs.hopDistance(pairs, id => id % 7 === 0, 4)
    val loop = Bfs.hopDistance(pairs, id => id % 7 === 0, 4,
      smallGraphRows = 0)
    assert(rows(local) == rows(loop))
  }

  test("label propagation local == loop (argmax ties to smallest label)") {
    for ((seed, iters) <- Seq((5, 1), (5, 4), (23, 3))) {
      val pairs = randomPairs(45, 100, seed)
      val local = LabelProp.labelPropagation(pairs, iters)
      val loop = LabelProp.labelPropagation(pairs, iters,
        smallGraphRows = 0)
      assert(rows(local) == rows(loop), s"seed=$seed iters=$iters")
    }
  }

  test("threshold trip keeps the loop (same result)") {
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    // 4 directed edges > bound 3: loop path
    val out = PageRank.pageRank(pairs, iters = 2, smallGraphRows = 3)
    val loop = PageRank.pageRank(pairs, iters = 2, smallGraphRows = 0)
    assert(rows(out) == rows(loop))
  }

  test("null endpoints keep the loop on every operator") {
    val pairs = Seq((Some(1L), Some(2L)), (Some(2L), None), (Some(2L), Some(3L)))
      .toDF("id_a", "id_b")
    // dispatch declines (cleanCount None) — results equal the pinned loop
    assert(rows(KCore.kcore(pairs, 1, 2)) ==
      rows(KCore.kcore(pairs, 1, 2, smallGraphRows = 0)))
    assert(rows(LabelProp.labelPropagation(pairs, 2)) ==
      rows(LabelProp.labelPropagation(pairs, 2, smallGraphRows = 0)))
  }

  test("Edges.smallEnough: non-empty, null-free and within a positive bound") {
    val two = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    assert(!Edges.smallEnough(Seq.empty[(Long, Long)].toDF("src", "dst"), 10))
    assert(!Edges.smallEnough(
      Seq((Some(1L), Some(2L)), (Some(2L), None)).toDF("src", "dst"), 10))
    assert(!Edges.smallEnough(
      Seq((Some(1L), Some(2L)), (None, Some(1L))).toDF("src", "dst"), 10))
    assert(Edges.smallEnough(two, 2))
    assert(!Edges.smallEnough(two, 1))
    assert(!Edges.smallEnough(two, 0))
    assert(!Edges.smallEnough(two, -1))
  }

  test("the local paths stay within their Spark job budgets") {
    // a Spark-built graph (a local relation would be folded away) that
    // no other test builds, so no cached plan shortens the count
    def graph(salt: Long) = spark.range(0L, 150L, 1L, 2).select(
      (col("id") % 50L + salt).as("id_a"),
      ((col("id") * 7L + 3L) % 50L + salt).as("id_b"))
    // (jobs to build the result, jobs to read it once)
    def jobs(build: => org.apache.spark.sql.DataFrame): (Int, Int) = {
      var out: org.apache.spark.sql.DataFrame = null
      val b = jobsOf { out = build }
      (b, jobsOf { out.collect() })
    }
    val lp = jobs(LabelProp.labelPropagation(graph(1000L), 3))
    val pr = jobs(PageRank.pageRank(graph(2000L), iters = 5))
    val cc = jobs(Dedup.connectedComponents(
      spark.range(3000L, 3060L, 1L, 2).select(col("id").as("doc_id")),
      graph(3000L)))
    // a corpus with no near-duplicates: an empty pair list
    val ccEmpty = jobs(Dedup.connectedComponents(
      spark.range(4000L, 4060L, 1L, 2).select(col("id").as("doc_id")),
      graph(4000L).filter(col("id_a") < 0L)))
    // what one probe and one checkpointed task cost: an extra probe
    // raises the total, a lost checkpoint moves the task into the read
    def within(j: (Int, Int), total: Int, read: Int): Boolean =
      j._1 + j._2 <= total && j._2 <= read
    assert(within(lp, 7, 1), s"labelPropagation: $lp jobs")
    assert(within(pr, 11, 1), s"pageRank: $pr jobs")
    assert(within(cc, 11, 3), s"connectedComponents: $cc jobs")
    assert(within(ccEmpty, 10, 3), s"connectedComponents, no pairs: $ccEmpty jobs")
  }
}
