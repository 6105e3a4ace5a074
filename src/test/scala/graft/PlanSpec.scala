package graft

import graft.spatial.{Grid, KernelLag, TreeLag}
import org.apache.spark.sql.functions._

/** Physical-plan assertions: the scale-critical join strategies the
  * operators are designed around must actually appear in the plans
  * (regressions here are invisible to value-level tests).
  */
class PlanSpec extends SparkSpec {
  import spark.implicits._
  private val T = Panel.TimeCol
  private val U = Panel.UnitCol

  private def gridPanel = {
    val rows = for (m <- 1L to 3L; u <- 0L until 60L) yield (m, u, (u + m).toDouble)
    rows.toDF(T, U, "value")
      .withColumn("lon", Grid.unitLon(col(U)))
      .withColumn("lat", Grid.unitLat(col(U)))
  }

  test("cusumFixed plans exactly one unit exchange — the integer wire " +
      "adds no shuffle over the shared temporal partitioning") {
    val rows = for (m <- 1L to 10L; u <- 0L until 8L)
      yield (m, u, u * 31L + m)
    val p = rows.toDF(T, U, "v9")
    val plan = graft.ops.UnitScan(p, Seq(graft.ops.UnitScan.Cusum(3.0, "v9")))
      .select(col(T), col(U), col("cusum"), col("breach"))
      .queryExecution.executedPlan.toString
    assert(plan.split("Exchange").length - 1 == 1, plan)
  }

  /** Hash exchanges in `plan`, and whether it joins at all. */
  private def exchangesAndJoins(plan: String): (Seq[String], Boolean) = (
    plan.split("\n").toSeq.filter(_.contains("Exchange hashpartitioning")),
    plan.contains("Join") || plan.contains("CartesianProduct"))

  testAtCoreWidth("splag4d is one month_id hash exchange into the per-month stencil, no join") {
    val plan = KernelLag.splag4d(gridPanel, "value", 1, 1, 1.0, norm = false)
      .queryExecution.executedPlan.toString()
    val (exchanges, joins) = exchangesAndJoins(plan)
    assert(exchanges.size == 1 && exchanges.head.contains(s"hashpartitioning($T#"), plan)
    assert(!joins, plan)
  }

  test("tree lag's geometry tables broadcast; node values aggregate hash-side") {
    val plan = TreeLag.treeLag(gridPanel, "value", 0.5, 0)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("grid lag never materialises the mesh x target product in the plan") {
    val plan = TreeLag.gridLag(gridPanel, "value", threshold = 50.0, dfunctionOption = 0)
      .queryExecution.executedPlan.toString()
    // the product is evaluated inside the per-(month, block) kernel;
    // any nested-loop/cartesian node would mean it crossed the shuffle
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("fourier lag is a single month-shuffle into the dense kernel") {
    val plan = spatial.FourierLag.fourierLag(gridPanel, "value")
      .queryExecution.executedPlan.toString()
    assert(plan.contains("MapGroups"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // exactly one exchange feeds the kernel (the groupByKey(month))
    assert(plan.split("\n").count(_.trim.startsWith("+- Exchange")) <= 2, plan)
  }

  testAtCoreWidth("banded spacetime never nested-loops the event set — ring-bounded candidates") {
    val df = spatial.SpacetimeDist.spacetimeDistances(
      gridPanel, "value", "distances", k = 5, nu = 2.0, power = 0.0,
      eventThreshold = 30.0, banded = Some(spatial.SpacetimeDist.Band(2.0, 1)))
    val exec = df.queryExecution.executedPlan
    // the only nested-loop products allowed are month-keyed (the
    // unit × distinct-event-months candidate frame, O(U·M) — the
    // OUTPUT size); the event set itself (e_lon/e_size columns) must
    // only ever ride equi-joins, keeping candidate volume ring-bounded
    val bnlj = exec.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    bnlj.foreach { j =>
      val broadcastCols = (j.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
        case _ => j.left
      }).output.map(_.name).toSet
      assert(!broadcastCols.exists(c => c == "e_lon" || c == "e_size"),
        s"event columns crossed a nested-loop join: $broadcastCols")
    }
    // the event-month kernel: no join at all, events exchanged on their
    // month, panel rows and candidates on unit_id
    val (exchanges, joins) = exchangesAndJoins(exec.toString())
    assert(!joins && bnlj.isEmpty, exec.toString())
    assert(exchanges.exists(_.contains("hashpartitioning(e_t#")) &&
      exchanges.forall(e => e.contains("hashpartitioning(e_t#") ||
        e.contains(s"hashpartitioning($U#")), exec.toString())
  }

  testAtCoreWidth("spacetime auto-dispatch: broadcast under the event threshold, banded above") {
    import spatial.SpacetimeDist
    // the pure dispatch rule, pinned at the switch point
    assert(SpacetimeDist.chooseBand(
      SpacetimeDist.AutoBandEvents, None, SpacetimeDist.AutoBandEvents).isEmpty)
    assert(SpacetimeDist.chooseBand(
      SpacetimeDist.AutoBandEvents + 1, None, SpacetimeDist.AutoBandEvents)
      .contains(SpacetimeDist.DefaultBand))
    // an explicit request always wins over the count
    assert(SpacetimeDist.chooseBand(1L, Some(SpacetimeDist.Band(2.0, 1)),
      SpacetimeDist.AutoBandEvents).contains(SpacetimeDist.Band(2.0, 1)))
    // plan-level: threshold 0 flips stage 1 to the event-month kernel
    // (an e_t exchange besides unit_id); MaxValue pins the broadcast
    // path (unit_id only). Neither plans a join.
    val auto = SpacetimeDist.spacetimeDistances(
      gridPanel, "value", "distances", k = 1, nu = 1.0, power = 0.0,
      eventThreshold = 30.0, autoBandEvents = 0L)
    val autoPlan = auto.queryExecution.executedPlan.toString()
    val (autoExchanges, autoJoins) = exchangesAndJoins(autoPlan)
    assert(!autoJoins && autoExchanges.exists(_.contains("hashpartitioning(e_t#")) &&
      autoExchanges.forall(e => e.contains("hashpartitioning(e_t#") ||
        e.contains(s"hashpartitioning($U#")), autoPlan)
    val bcast = SpacetimeDist.spacetimeDistances(
      gridPanel, "value", "distances", k = 1, nu = 1.0, power = 0.0,
      eventThreshold = 30.0, autoBandEvents = Long.MaxValue)
    val bcastPlan = bcast.queryExecution.executedPlan.toString()
    val (bcastExchanges, bcastJoins) = exchangesAndJoins(bcastPlan)
    assert(!bcastJoins && bcastExchanges.nonEmpty &&
      bcastExchanges.forall(_.contains(s"hashpartitioning($U#")), bcastPlan)
  }

  test("minhash LSH candidates join on band buckets, never all-pairs") {
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d f"), (3L, "x y z w q"))
      .toDF("doc_id", "text")
    val plan = graft.dedup.Dedup.minhashLsh(docs, 2, 12, 1, 0.1)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("brute-force top-k broadcasts the query side only") {
    val emb = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
      (3L, Array(1.0f, 1.0f))).toDF("vec_id", "embedding")
    val plan = graft.similarity.Similarity
      .bruteForceTopK(emb, emb.filter(col("vec_id") === 1L), k = 2)
      .queryExecution.executedPlan.toString()
    // the corpus side streams; only the (small) query set is broadcast
    assert(plan.contains("BroadcastNestedLoopJoin BuildRight"), plan)
  }

  test("asofJoin plans one key shuffle and no join node at all") {
    val left = Seq((1L, 10L, "a")).toDF("k", "t", "tag")
    val right = Seq((1L, 5L, 1.0)).toDF("k", "t", "v")
    val plan = graft.relational.AsofJoin.asofJoin(left, right, "k", "t", Seq("v"))
      .queryExecution.executedPlan.toString()
    // the union+window formulation must not degrade into a range join
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("Window"), plan)
  }

  test("intervalJoin is an equi join on bins, never a nested-loop product") {
    val points = (0L until 100L).map(t => (t, t)).toDF("t", "pid")
    val intervals = Seq((1L, 10L, 30L)).toDF("iid", "s", "e")
    val plan = graft.relational.RangeJoin
      .intervalJoin(points, intervals, "t", "s", "e", 16L)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan)
  }

  test("chunkDocuments is shuffle-free: one scan-stage Generate, no Exchange") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = graft.text.TextOps.chunkDocuments(docs, 64, 8)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("Exchange"), plan)
    assert(plan.contains("Generate"), plan)
  }

  test("scrubPii is shuffle-free: codegen'd regexp chain in the scan stage") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = graft.text.TextOps.scrubPii(docs)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("Exchange"), plan)
    // "*(n)" prefixes mark whole-stage-codegen'd operators
    assert(plan.contains("*(1) Project"), plan)
  }

  test("shingles is shuffle-free on a well-split input; one repartition otherwise") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // single-file local layout: exactly the one conditional doc-level
    // repartition, nothing else (no window, no distinct shuffle)
    val plan = graft.dedup.Dedup.shingles(docs, 2)
      .queryExecution.executedPlan.toString()
    assert(plan.linesIterator.count(_.trim.startsWith("+- Exchange")) +
      plan.linesIterator.count(_.trim.startsWith("Exchange")) <= 1, plan)
    assert(!plan.contains("Window"), plan)
    // an input that already fills the cluster skips the repartition
    val wide = docs.repartition(64, col("doc_id"))
    val plan2 = graft.dedup.Dedup.shingles(wide, 2)
      .queryExecution.executedPlan.toString()
    // only the caller's own repartition exchange may appear
    assert(plan2.split("Exchange").length - 1 <= 1, plan2)
  }

  test("keep-first span dedup plans no window; canonical rides the gram agg") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = graft.dedup.Dedup.removeRepeatedSpansKeepFirst(docs, n = 8)
      .queryExecution.executedPlan.toString()
    // canonical selection must be the combinable min(struct) inside
    // the existing gram aggregation — a Window(row_number) here would
    // mean a per-gram sort that cannot map-side combine at corpus scale
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("HashAggregate") || plan.contains("ObjectHashAggregate"), plan)
  }

  test("mixByTokenMass keeps the rate table broadcast and the filter scan-side") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("source"),
        graft.text.TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
    val plan = graft.sampling.Sampling.mixByTokenMass(docs, "doc_id", "source",
        "n_tokens", graft.OracleExt.MixShares, "mix0")
      .queryExecution.executedPlan.toString()
    // the corpus-sized side must never shuffle for the rate join: the
    // only allowed exchanges feed the tiny stratum aggregations
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("packSequences keeps the single bucket exchange of packShards") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = graft.text.Packing.packSequences(docs, 512, 8, "s")
      .queryExecution.executedPlan.toString()
    assert(plan.split("Exchange").length - 1 == 1, plan)
    assert(plan.contains("Window"), plan)
  }

  test("corpus filter's barrier keeps the wide text trees out of the filter") {
    // exercise the PARQUET path: the round-2 guard used a 3-row
    // LocalRelation, whose optimized plan differed from the real scan —
    // it passed while the parquet query inlined the trees into a
    // scan-side Filter (no cross-conjunct CSE, ~20x the scan cost)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val qe = graft.text.TextOps.corpusFilter(docs, 0.1, "en").queryExecution
    val plan = qe.optimizedPlan.toString()
    // the quality/lang predicate must test the materialised scalar
    // columns above the object boundary; no Filter anywhere in the
    // plan may inline the replace()-heavy quality/lang trees
    val filterLines = plan.linesIterator.filter(_.contains("Filter")).toSeq
    assert(filterLines.nonEmpty, plan)
    assert(!filterLines.exists(_.contains("replace(")), plan)
    // the object boundary is present, and the analysis Project below it
    // is the only place the wide trees occur
    assert(plan.contains("MapPartitions"), plan)
    assert(plan.linesIterator.count(_.contains(" the ")) <= 1, plan)
  }

  test("upsampleByFactor is shuffle-free: explode + hash filter in the scan stage") {
    val docs = Seq((1L, "src0"), (2L, "src1"), (3L, "src2"))
      .toDF("doc_id", "source")
    val plan = sampling.Sampling.upsampleByFactor(docs, "doc_id", "source",
        Seq("src0" -> 2.5, "src1" -> 0.0), "up0")
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("Exchange"), plan)
    assert(plan.contains("Generate"), plan)
  }

  test("signalStats shares one (doc, token) and one (doc, bigram) aggregation") {
    val docs = Seq((1L, "a b a c"), (2L, "b b c d"), (3L, "x y z w"))
      .toDF("doc_id", "text")
    // AQE reuses duplicate exchange subtrees at runtime via its stage
    // cache; turn it off so the STATIC ReuseExchange rule makes the
    // sharing visible (and assertable) in the compiled plan
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = graft.text.TextOps.signalStats(docs, 10, 2, 2)
        .queryExecution.executedPlan.toString()
      // the duplicated (doc, token) / (doc, bigram) aggregations must
      // collapse to reused exchanges — re-tokenizing per signal is the
      // failure mode this fused stage exists to remove
      assert(plan.contains("ReusedExchange"), plan)
      // at most 2 live token-keyed shuffles: the (doc, token)
      // aggregation and the global vocabulary count
      val tokKeyed = plan.linesIterator.count(l =>
        l.contains("Exchange hashpartitioning") &&
          !l.contains("ReusedExchange") && l.contains("tok#"))
      assert(tokKeyed <= 2, plan)
      // likewise the bigram table: its aggregation + the two global LM
      // count tables — 3 live bigram/w1-keyed shuffles at most
      val biKeyed = plan.linesIterator.count(l =>
        l.contains("Exchange hashpartitioning") &&
          !l.contains("ReusedExchange") &&
          (l.contains("bigram#") || l.contains("w1#")))
      assert(biKeyed <= 3, plan)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  testAtCoreWidth("spacetime kernel path is one unit_id hash exchange into the per-unit top-k, no join") {
    val plan = spatial.SpacetimeDist.spacetimeDistances(
        gridPanel, "value", "distances", k = 1, nu = 1.0, power = 0.0)
      .queryExecution.executedPlan.toString()
    val (exchanges, joins) = exchangesAndJoins(plan)
    assert(exchanges.size == 1 && exchanges.head.contains(s"hashpartitioning($U#"), plan)
    assert(!joins, plan)
  }

  test("DSIR weights: linear fit (no product joins), score joins broadcast lr") {
    val docs = Seq((1L, "a b a", "en"), (2L, "c d e", "de"), (3L, "a c a", "en"))
      .toDF("doc_id", "text", "lang")
    val plan = sampling.Dsir.importanceWeights(docs, col("lang") === "en",
        buckets = 64)
      .queryExecution.executedPlan.toString()
    // the fit must stay linear: no cross/nested-loop anywhere (the
    // totals ride a bounded window over the cell table, not a
    // re-aggregated branch), and the B-row log-ratio table broadcasts
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    // one Window node only (two chained withColumns would plan two)
    assert(plan.linesIterator.count(_.trim.startsWith("Window")) <= 1, plan)
  }

  test("PQ ADC scan carries codes only — no float vectors past encoding") {
    val emb = (0 until 12).map(i =>
      (i.toLong, Seq.fill(8)(i.toFloat))).toDF("vec_id", "embedding")
    val idx = similarity.Pq.buildPqIndex(emb, m = 2, ksub = 2, iters = 1)
    val plan = similarity.Pq.pqSearch(idx, emb.filter(col("vec_id") < 2), k = 3)
      .queryExecution.executedPlan.toString()
    // the candidate-side scan projects the code columns, never the
    // embedding — the compression is real, not cosmetic
    val candLines = plan.linesIterator.filter(_.contains("code0")).toSeq
    assert(candLines.nonEmpty, plan)
    assert(plan.contains("WindowGroupLimit") || plan.contains("Window"), plan)
  }

  test("scd2Merge plans exactly one join (full outer) and one Generate") {
    val base = Seq((1L, 1.0, "A")).toDF("k", "p", "s")
    val upd = Seq((1L, 2.0, "A")).toDF("k", "p", "s")
    val plan = graft.relational.Scd.scd2Merge(base, upd, "k", Seq("p", "s"), 1L, 2L)
      .queryExecution.executedPlan.toString()
    val joins = plan.linesIterator.count(_.contains("Join"))
    assert(joins == 1, s"expected ONE join, plan:\n$plan")
    assert(plan.contains("FullOuter"), plan)
    assert(plan.linesIterator.count(_.trim.matches("(\\+- |:- |)Generate.*")) == 1,
      s"both versions must come from one Generate pass:\n$plan")
  }

  test("nbScore never broadcasts or products the corpus side") {
    val docs = Seq((1L, "a b", true), (2L, "c d", false))
      .toDF("doc_id", "text", "label")
    val plan = graft.text.Classifier.nbScore(docs, col("label"))
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct"), plan)
    // the only nested-loop joins are the 1-row totals/prior broadcasts
    val bnl = plan.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).size
    assert(bnl <= 2, s"unexpected products:\n$plan")
  }

  test("winnowPairs joins candidates on fingerprints, never all-pairs") {
    val docs = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f z z"))
      .toDF("doc_id", "text")
    val plan = graft.dedup.Dedup.winnowPairs(docs, 3, 4, 1L)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("zorder clustered write plans a range exchange, not a global sort") {
    val df = Seq((1, 2, 0.5), (3, 4, 0.25)).toDF("lon", "lat", "v")
    val plan = df.withColumn("__z",
        spatial.ZOrder.zkey(col("lon"), col("lat")))
      .repartitionByRange(4, col("__z"))
      .sortWithinPartitions(col("__z"))
      .queryExecution.executedPlan.toString()
    assert(plan.contains("Exchange rangepartitioning"), plan)
    // the sort is local (global=false in the Sort node's args) — the
    // write never funnels all data through a single global ordering
    val sortLines = plan.linesIterator.filter(_.trim.startsWith("+- Sort")).toSeq ++
      plan.linesIterator.filter(_.trim.startsWith("Sort")).toSeq
    assert(sortLines.nonEmpty && sortLines.forall(_.contains("false")), plan)
  }

  test("triangle counting stays equi-join keyed — no product nodes") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
      .toDF("id_a", "id_b")
    val plan = graphs.Triangles.triangleCounts(edges)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("multiTouch plans no join: assignment rides the user window") {
    val ev = Seq((1L, 1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
      "view"), (2L, 1L, java.sql.Timestamp.valueOf("2024-01-02 00:00:00"),
      "purchase")).toDF("event_id", "user_id", "ts", "event_type")
    val plan = relational.Attribution.multiTouch(ev)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("Join"), plan)
  }

  test("ksTest's ECDFs ride range partitioning, never a single-task window") {
    val a = (1 to 50).map(_.toDouble).toDF("v")
    val plan = sampling.Sampling.ksTest(a, a, "v")
      .queryExecution.executedPlan.toString()
    // the range exchange itself is truncated out of the visible plan
    // by globalCumsum's eager localCheckpoint (RankingSpec pins that
    // shape); what must hold HERE: the within-partition ECDF windows
    // are pid-partitioned, and the only SinglePartition exchange is
    // the 1-row grand-total merge — an UNPARTITIONED window (Window
    // directly over Exchange SinglePartition) would be the hazard
    assert(plan.contains("Scan ExistingRDD"), plan) // the checkpointed range layout
    assert(noSingleTaskWindow(plan), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  /** True iff no Window node in the plan text is fed by an
    * `Exchange SinglePartition` (the physical signature of an
    * unpartitioned, single-task window).
    */
  private def noSingleTaskWindow(plan: String): Boolean = {
    val lines = plan.linesIterator.toIndexedSeq
    !lines.zipWithIndex.exists { case (l, i) =>
      l.contains("Window ") &&
        lines.slice(i + 1, i + 3).exists(_.contains("Exchange SinglePartition"))
    }
  }

  test("survival's corpus-scale work is one per-user hash aggregate") {
    val ev = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      (1L, java.sql.Timestamp.valueOf("2024-01-05 00:00:00")))
      .toDF("user_id", "ts")
    val plan = relational.Survival.kaplanMeier(ev)
      .queryExecution.executedPlan.toString()
    // the life-table windows are constant-key (bounded rows): the only
    // SinglePartition exchanges allowed are the 1-row total merges
    assert(noSingleTaskWindow(plan), plan)
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("sessionPaths' top-k is TakeOrdered, never a global sort") {
    // enough statically-known rows that the optimizer cannot fold the
    // limit away (maxRows > k) — the shape real data gets
    val ev = (1 to 30).map(i => (i.toLong, i.toLong,
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), s"t$i"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val plan = relational.Engagement.sessionPaths(ev)
      .queryExecution.executedPlan.toString()
    // Limit(Sort) plans as per-partition heaps + a k-row driver merge
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(noSingleTaskWindow(plan), plan)
  }

  test("bucketed join reads co-located buckets: zero exchanges below the join") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bucket_plan_").toString
    val left = (1L to 100L).map(k => (k, s"p$k")).toDF("k", "payload")
    val right = (1L to 300L).map(i => (i % 100 + 1, i)).toDF("k", "item")
    sources.Bucketing.writeBucketed(left, s"$dir/l", "bp_left", "k", 4)
    sources.Bucketing.writeBucketed(right, s"$dir/r", "bp_right", "k", 4)
    // force the SortMergeJoin path (tiny test tables would broadcast,
    // which is exactly what a 100 TB fact-fact join cannot do)
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val exec = sources.Bucketing.bucketedJoin(spark, "bp_left", "bp_right", "k")
        .queryExecution.executedPlan
      val plan = exec.toString()
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"), plan) // the bucketing contract
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("rollingDistinctUsers: day-keyed aggregates only, no window") {
    val ev = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("user_id", "ts")
    val plan = relational.Engagement.rollingDistinctUsers(ev)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("hll_sketch_agg"), plan) // the production path
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("linkPredict wedges join on the shared neighbor, never all-pairs") {
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val plan = graphs.LinkPredict.scores(edges)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("theilSen pairs self-join on the unit key, never a product") {
    val p = Seq((1L, 1L, 1.0), (2L, 1L, 2.0))
      .toDF(Panel.TimeCol, Panel.UnitCol, "value")
    val plan = ops.TemporalOps.theilSen(p, "value")
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("dominantPeriod is one unit kernel — no join, no product, no window") {
    val p = Seq((1L, 1L, 1.0), (2L, 1L, 2.0))
      .toDF(Panel.TimeCol, Panel.UnitCol, "value")
    val plan = ops.TemporalOps.dominantPeriod(p, "value")
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Join"), plan)
    // one exchange and one sort under the grouped map
    assert(plan.split("\n").count(_.contains("Exchange")) == 1, plan)
    assert(plan.split("\n").count(_.contains("Sort")) == 1, plan)
    assert(!plan.contains("Window") && plan.contains("MapGroups"), plan)
  }

  test("exactQuantiles is a range exchange, never a value-buffer agg") {
    val df = (1 to 100).map(i => Tuple1(i.toDouble)).toDF("v")
    val qe = relational.Stats.exactQuantiles(df, "v", Seq(0.5))
      .queryExecution
    // the range exchange lives behind globalRank's eager checkpoint
    // (RankingSpec pins that machinery); what THIS operator must never
    // reintroduce is the single-buffer percentile aggregate, and its
    // only join must be the broadcast of the tiny q table
    val logical = qe.optimizedPlan.toString()
    assert(!logical.contains("percentile("), logical)
    assert(logical.contains("rightHint=(strategy=broadcast)"), logical)
    assert(!qe.executedPlan.toString().contains("percentile("))
  }

  test("silhouette's centroid candidates broadcast — corpus never products") {
    val emb = (1L to 8L).map(i => (i, Array(i.toFloat, 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val plan = similarity.Similarity.silhouette(emb, nlists = 2)
      .queryExecution.executedPlan.toString()
    // the ONLY product is the bounded nlists-row centroid broadcast
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin BuildRight") ||
      plan.contains("BroadcastExchange"), plan)
  }
}
