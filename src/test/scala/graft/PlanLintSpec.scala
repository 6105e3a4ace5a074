package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.plans.PlanLint

/** The plan linter must flag each scale-breaking shape and stay quiet
  * on the engine's own audited plans.
  */
class PlanLintSpec extends SparkSpec {
  import spark.implicits._

  private def df(n: Int) = (1 to n).map(i => (i.toLong, i * 2.0)).toDF("k", "v")

  test("flags an unkeyed cartesian product as fatal") {
    val a = df(10); val b = df(10).withColumnRenamed("k", "k2")
    // inequality-only join condition forces a cartesian/BNL plan
    val cross = a.join(b, a("v") < b("v"))
    val f = PlanLint.lint(cross)
    assert(f.exists(x => x.severity == "fatal" || x.node == "BroadcastNestedLoopJoin"),
      f.mkString("; "))
  }

  test("flags an unpartitioned window as fatal") {
    val w = df(10).withColumn("r", row_number().over(Window.orderBy("k")))
    val f = PlanLint.fatal(w)
    assert(f.exists(_.node == "Window"), PlanLint.lint(w).mkString("; "))
  }

  test("an UNMARKED constant-keyed window over unbounded input is fatal " +
      "(the r10 rank-statistics blind spot)") {
    // pmod(k, 1) ≡ 0: semantically the same single task as no key at
    // all — without a limit below or the kBoundedKey assertion it must
    // flag exactly like an unpartitioned window. A parquet scan, not a
    // LocalRelation: driver-local test data gets its extracted window
    // key folded into the LocalTableScan (and IS bounded by
    // construction), so the data-sized shape the lint exists for only
    // appears over a real source.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val w = docs.withColumn("r", row_number().over(
      Window.partitionBy(pmod(col("doc_id"), lit(1))).orderBy("doc_id")))
    assert(PlanLint.fatal(w).exists(_.detail.contains("CONSTANT")),
      PlanLint.lint(w).mkString("; "))
    // same shape behind the engine's old xxhash64 dressing: still fatal
    val wx = docs.withColumn("r", row_number().over(
      Window.partitionBy(pmod(xxhash64(col("doc_id")), lit(1)))
        .orderBy("doc_id")))
    assert(PlanLint.fatal(wx).exists(_.detail.contains("CONSTANT")),
      PlanLint.lint(wx).mkString("; "))
  }

  test("a kBoundedKey-marked constant window passes (the engine assertion)") {
    val w = df(10).withColumn("r", row_number().over(
      Window.partitionBy(PlanLint.kBoundedKey(col("k"))).orderBy("k")))
    assert(PlanLint.fatal(w).isEmpty, PlanLint.lint(w).mkString("; "))
  }

  test("a constant-keyed window fed by a limit passes (provably k-bounded)") {
    val w = df(100).orderBy(col("v").desc).limit(5)
      .withColumn("r", row_number().over(
        Window.partitionBy(pmod(col("k"), lit(1)))
          .orderBy(col("v").desc, col("k"))))
    assert(PlanLint.fatal(w).isEmpty, PlanLint.lint(w).mkString("; "))
  }

  test("the rank statistics plan no constant-key unbounded window " +
      "(the r10→r11 globalCumsum rewrite, pinned)") {
    val d = (1 to 200).map(i =>
      (i.toLong, (i % 7).toString, i * 0.37)).toDF("k", "g", "v")
    val spearman = relational.Stats.spearman(d, "k", "v")
    val kruskal = relational.Stats.kruskalWallis(d, "g", "v", 12.592)
    val mw = relational.Stats.mannWhitney(
      d.filter(col("k") % 2 === 0), d.filter(col("k") % 2 === 1), "v")
    val bf = relational.Stats.brownForsythe(d, "g", "v", 2.1)
    val mood = relational.Stats.moodMedian(d, "g", "v", 12.592)
    Seq("spearman" -> spearman, "kruskal" -> kruskal, "mannWhitney" -> mw,
      "brownForsythe" -> bf, "moodMedian" -> mood).foreach { case (n, q) =>
      assert(PlanLint.fatal(q).isEmpty,
        s"$n: ${PlanLint.lint(q).mkString("; ")}")
    }
  }

  test("a global sort is advisory, a keyed aggregation is clean") {
    val sorted = df(100).orderBy("v")
    assert(PlanLint.lint(sorted).exists(x =>
      x.node == "Sort" && x.severity == "advisory"))
    val agg = df(100).groupBy("k").agg(sum("v"))
    assert(PlanLint.fatal(agg).isEmpty, PlanLint.lint(agg).mkString("; "))
  }

  test("floatGate red-flags an order-dependent double running sum " +
      "feeding a coarse-rounded gate output (the broken cusum shape)") {
    val panel = (1L to 5L).flatMap(m => (0L to 3L).map(u =>
      (m, u, (m * 7 + u).toDouble / 3.0)))
      .toDF(Panel.TimeCol, Panel.UnitCol, "value")
    // the r8/r9 formulation that failed the driver gate three rounds
    // running: ordered unbounded SUM(double) minus n·round(μ,9), margin
    // rounded to 1e-6 — the cancellation amplifies cross-engine window
    // reassociation noise above the output grid
    val wAll = Window.partitionBy(Panel.UnitCol)
    val cum = WindowReference.cumulative
    val mean = round(avg(col("value")).over(wAll), 9)
    val sd = round(stddev_pop(col("value")).over(wAll), 9)
    val cs = sum(col("value")).over(cum) - count(col("value")).over(cum) * mean
    val broken = panel.select(col(Panel.TimeCol), col(Panel.UnitCol),
      cs.as("cusum"),
      (round(abs(cs) - lit(3.0) * sd, 6) > 0.0).cast("int").as("breach"))
    val f = PlanLint.floatGateFatal(broken)
    assert(f.nonEmpty, PlanLint.floatGate(broken).mkString("; "))
  }

  test("floatGate greenlights the integer-fixed cusum and bounded frames") {
    val panel = (1L to 5L).flatMap(m => (0L to 3L).map(u =>
      (m, u, (m * 7 + u).toDouble / 3.0)))
      .toDF(Panel.TimeCol, Panel.UnitCol, "value")
    // the shipped fix: 1e-9-unit long summands, integer cancellation
    val fixed = Registry.apply(panel, Registry.Step("cusum", Nil))
      .select(col(Panel.TimeCol), col(Panel.UnitCol), col("cusum"), col("breach"))
    assert(PlanLint.floatGateFatal(fixed).isEmpty,
      PlanLint.floatGate(fixed).mkString("; "))
    // a bounded trailing float sum feeding a rounded output is fine:
    // k-term noise has no t-amplification (moving_sum family)
    val msum = panel.select(col(Panel.TimeCol), col(Panel.UnitCol),
      round(WindowReference.movingSum(col("value"), 3), 6).as("ms"))
    assert(PlanLint.floatGateFatal(msum).isEmpty,
      PlanLint.floatGate(msum).mkString("; "))
  }

  test("floatGate sweeps the window-statistics gate family clean " +
      "(the cusum failure class, by construction)") {
    // every hash-gated query built on ordered window accumulation —
    // the family where cross-engine reassociation noise can hide.
    // Plans are ANALYZED only (floatGate needs no execution beyond
    // the shared panel build).
    val family = Seq("q_cusum", "q_cusum_stream", "q_ewma", "q_ewma_stream",
      "q_mavg", "q_msum", "q_trend", "q_decompose", "q_acf", "q_pacf",
      "q_changepoint", "q_theil_sen", "q_rolling_corr", "q_forecast",
      "q_seasonal_strength", "q_mann_kendall", "q_runs_test", "q_entropy",
      "q_demean", "q_winsorize", "q_robust_scale")
    family.foreach { name =>
      val qdf = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      assert(PlanLint.floatGateFatal(qdf).isEmpty,
        s"$name: ${PlanLint.floatGate(qdf).mkString("; ")}")
    }
  }

  test("floatGate: post-accumulation quantization is NOT a fixing round " +
      "(round(orderDependentSum · 1e9) stays fatal)") {
    val panel = (1L to 5L).flatMap(m => (0L to 3L).map(u =>
      (m, u, (m * 7 + u).toDouble / 3.0)))
      .toDF(Panel.TimeCol, Panel.UnitCol, "value")
    // quantizing AFTER an ordered unbounded SUM(double) grids noise
    // that already exceeded the grid — the exemption must not bless it
    val cum = WindowReference.cumulative
    val late = panel.select(col(Panel.TimeCol), col(Panel.UnitCol),
      (round(sum(col("value")).over(cum) * 1e9).cast("long")
        .cast("double") / 1e9).as("cs"))
      .select(col(Panel.TimeCol), col(Panel.UnitCol),
        round(col("cs"), 6).as("gate"))
    assert(PlanLint.floatGateFatal(late).nonEmpty,
      PlanLint.floatGate(late).mkString("; "))
    // the true fixing idiom — quantize the RAW value, then integer
    // accumulation — stays blessed
    val early = panel.select(col(Panel.TimeCol), col(Panel.UnitCol),
      (sum(round(col("value") * 1e9).cast("long")).over(cum)
        .cast("double") / 1e9).as("cs"))
      .select(col(Panel.TimeCol), col(Panel.UnitCol),
        round(col("cs"), 6).as("gate"))
    assert(PlanLint.floatGateFatal(early).isEmpty,
      PlanLint.floatGate(early).mkString("; "))
  }

  test("EVERY registered query is clean of fatal plan shapes AND fatal " +
      "float-gate taint at sf0.001 (whole-surface by-construction sweep)") {
    // One build per query feeds both checks. Most queries only PLAN
    // here; the rank-statistics family (anything through
    // Ranking.globalCumsum — spearman, kruskal, mannWhitney, mood,
    // brownForsythe and their pipeline twins) runs real jobs at build
    // time, because the exact-global-order checkpoint is eager by
    // contract (Ranking.globalCumsum scaladoc) — cheap at sf0.001.
    // The sweep is the lints' whole-surface guarantee: a future
    // operator cannot reintroduce the r10 constant-key funnel, a
    // cartesian, or a coarse-rounded order-dependent float accumulation
    // unnoticed (this sweep caught q_embed_rp_gate's cartesian fallback
    // and q_survival's summed 1e-9-rounded-DOUBLE log terms in r11 —
    // both green on the value gate, both latent engine-shaped risks).
    val dir = "/root/testdata/sf0.001"
    val advisories = scala.collection.mutable.Set.empty[String]
    val pctAdvisories = scala.collection.mutable.Set.empty[String]
    val bad = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val f = try {
          val df = fn(spark, dir)
          if (PlanLint.floatGate(df).exists(_.severity == "advisory"))
            advisories += name
          if (PlanLint.percentileBuffer(df).nonEmpty)
            pctAdvisories += name
          // the wire rule (r13, from the q_embed_rp driver-compare
          // crash): a DECLARED query output must be scalar columns
          // only — the driver's pandas compare sorts every column and
          // cannot sort an array/map/struct (numpy.ndarray is
          // unhashable). Explode or project to scalars at the
          // registration; the operator itself may keep the packed
          // shape.
          val nonScalar = df.schema.fields.filter(fd => fd.dataType match {
            case _: org.apache.spark.sql.types.ArrayType |
                 _: org.apache.spark.sql.types.MapType |
                 _: org.apache.spark.sql.types.StructType => true
            case _ => false
          })
          val wire =
            if (nonScalar.isEmpty) Nil
            else Seq(PlanLint.Finding("fatal", "wire",
              s"non-scalar declared output column(s) " +
                s"${nonScalar.map(_.name).mkString(", ")} — the driver " +
                s"compare cannot sort them; explode to scalar rows"))
          PlanLint.fatal(df) ++ PlanLint.floatGateFatal(df) ++ wire
        } catch { case e: Throwable =>
          Seq(PlanLint.Finding("fatal", "build",
            s"query failed to plan: ${e.getMessage}")) }
        f.map(x => s"$name: ${x.node} — ${x.detail.take(80)}")
    }
    assert(bad.isEmpty, bad.mkString("\n"))

    // The exact-percentile BUFFER budget (r13 directive #4): every
    // name here is adjudicated — its percentile's group/frame is
    // bounded by construction (a per-unit series capped by the month
    // horizon, a bounded training window, a k-bounded bin set). A new
    // query with an exact percentile over data-sized groups must be
    // rewritten (approx_percentile, or Ranking.groupedCumsum — see
    // Anomaly.fitBaseline) rather than added here without a
    // boundedness argument.
    val pctGrew = pctAdvisories.toSet -- PlanLintSpec.PercentileBufferBlessed
    val pctShrunk = PlanLintSpec.PercentileBufferBlessed -- pctAdvisories.toSet
    assert(pctGrew.isEmpty,
      s"NEW exact-percentile buffer findings — adjudicate boundedness " +
        s"and extend the blessed list, or rewrite on the rank " +
        s"machinery: ${pctGrew.toSeq.sorted.mkString(", ")}")
    assert(pctShrunk.isEmpty,
      s"percentile-buffer blessed list is stale — remove: " +
        s"${pctShrunk.toSeq.sorted.mkString(", ")}")

    // The float-gate ADVISORY budget (r12 directive #6): the PLANS.md
    // r11 audit adjudicated every advisory finding — a plain/unordered
    // float sum feeding a coarse round — as bounded by one of two
    // classes (k-bounded term counts; per-entity series bounded by the
    // month horizon or a document's length). That adjudication is only
    // durable if the SET it covers cannot grow silently: a new query
    // whose float sum is NOT bounded by those arguments would otherwise
    // hide among the blessed ones. Any change here must re-run the
    // PLANS.md adjudication — add the name only with a boundedness
    // argument, remove names whose plans got integer-fixed.
    val blessedAdvisory = PlanLintSpec.FloatGateAdvisoryBlessed
    val grew = advisories.toSet -- blessedAdvisory
    val shrunk = blessedAdvisory -- advisories.toSet
    assert(grew.isEmpty,
      s"NEW advisory float-gate findings — adjudicate boundedness and " +
        s"extend the blessed list, or integer-fix: ${grew.toSeq.sorted.mkString(", ")}")
    assert(shrunk.isEmpty,
      s"blessed advisory list is stale — these queries no longer carry " +
        s"advisory findings, remove them: ${shrunk.toSeq.sorted.mkString(", ")}")
  }

  test("the floatGate advisory budget names are real registered queries") {
    // guards the blessed list itself against bit-rot: a renamed or
    // removed query must be pruned from the list, not linger as a
    // phantom blessing
    val unknown = PlanLintSpec.FloatGateAdvisoryBlessed
      .filterNot(SparkEntry.queries.contains)
    assert(unknown.isEmpty,
      s"blessed names not in the registry: ${unknown.toSeq.sorted.mkString(", ")}")
  }

  test("a single-partition exchange is a finding only over an input bigger than one " +
      "task's worth") {
    val panel = (1L to 5L).flatMap(m => (0L to 3L).map(u => (m, u, m * 1.0)))
      .toDF(Panel.TimeCol, Panel.UnitCol, "value")
    val tlag = Registry.apply(panel, Registry.Step("tlag", Seq(1.0)))
    val plan = tlag.queryExecution.sparkPlan.toString
    assert(plan.contains("Exchange SinglePartition"), plan)
    assert(!PlanLint.lint(tlag).exists(_.node == "Exchange"), PlanLint.lint(tlag).mkString("; "))
    // 8 MB of estimated input through one task is still the funnel
    val big = spark.range(0, 1000000L).toDF().repartition(1)
    assert(PlanLint.lint(big).exists(f => f.node == "Exchange" &&
      f.detail.startsWith("single-partition exchange")), PlanLint.lint(big).mkString("; "))
  }

  test("the engine's own scale-audited operators lint clean of fatals") {
    val docs = Seq((1L, "a b c d e"), (2L, "b c d e f"), (3L, "x y z w q"))
      .toDF("doc_id", "text")
    assert(PlanLint.fatal(graft.dedup.Dedup.exact(docs)).isEmpty)
    assert(PlanLint.fatal(
      graft.text.TextOps.chunkDocuments(docs, 3, 1)).isEmpty)
    val panel = (1L to 3L).flatMap(m => (0L to 5L).map(u =>
      (m, u, (m + u).toDouble))).toDF(Panel.TimeCol, Panel.UnitCol, "value")
    assert(PlanLint.fatal(Registry.apply(panel, Registry.Step("ewma", Seq(0.5, 3.0)))).isEmpty)
  }
}

object PlanLintSpec {
  /** The adjudicated float-gate ADVISORY set (PLANS.md, r11 float-gate
    * audit): each query carries a plain/unordered float sum feeding a
    * coarse-rounded output, and each sum's term count is bounded by
    * construction — class (a) k-bounded counts (bins, digits, buckets,
    * rolling windows) or class (b) per-entity series bounded by the
    * panel month horizon (≤600) or a document's length. Bounded term
    * counts keep reassociation noise ~2⁻⁴⁴ relative — ten orders below
    * the 1e-6 output grid. The whole-surface sweep asserts the live
    * advisory set EQUALS this list, so an unbounded float sum cannot
    * hide among the blessed ones.
    */
  /** The adjudicated exact-percentile BUFFER set (r13): queries whose
    * exact percentile aggregates over a group/frame that is bounded by
    * construction —
    *   - exact/approx envelope gates whose EXACT percentile exists
    *     precisely to envelope-check the approx sketch on test-scale
    *     data, with the 100 TB swap documented at the source
    *     (Profile.scala scale note; the registration comments):
    *     q_length_quantiles, q_length_quantiles_approx, q_profile,
    *     q_profile_approx;
    *   - bounded two-pass trims documented to swap for
    *     approx_percentile at corpus scale: q_trimmed_mean.
    * q_rolling_median is NOT here: its trailing ROW frame buffers ≤t
    * values by construction, which the lint already exempts. Neither
    * are q_winsorize and q_robust_scale: their quantiles are computed
    * inside the per-unit scan, over one unit's series.
    * q_event_anomaly / q_anomaly_stream are deliberately NOT here —
    * their baseline fit rides the exact-rank machinery as of r13.
    */
  val PercentileBufferBlessed: Set[String] = Set(
    "q_length_quantiles", "q_length_quantiles_approx",
    "q_profile", "q_profile_approx", "q_trimmed_mean")

  val FloatGateAdvisoryBlessed: Set[String] = Set(
    // class (a) — k-bounded term counts (bins, digits, buckets,
    // fixed-window rolling sums)
    "q_psi", "q_psi_stream", "q_benford", "q_dsir_sample",
    "q_dsir_weights", "q_dsir_weights_bigram", "q_minhash_estimate",
    // class (b) — per-entity series bounded by the month horizon
    // (≤600, the reference cap) or a document's token count
    // q_cusum left this list in r13: its breach margin became a pure
    // integer certificate (no stddev_pop, no float in the decision).
    // Eight more left in r14 (q_ewma, q_winsorize, q_robust_scale,
    // q_rolling_median, q_forecast, q_changepoint,
    // q_pipeline_changepoint, q_mann_kendall): their ONLY taint source
    // was the shared panel's float SUM(value) aggregation, which is
    // now an integer sum of per-event 1e-9 fixings (Panel.fromEvents
    // r14) — their own arithmetic was already fixing/percentile-based.
    // q_rolling_corr, q_trend and q_decompose left this list when their
    // sums moved inside the per-unit scan, where no plan holds them;
    // q_acf, q_pacf, q_theil_sen and q_runs_test when their window sums
    // and median aggregates moved inside their per-unit reduce kernels.
    "q_mice_gen",
    "q_bm25", "q_lm_score", "q_pipeline_corpus_signals")
}
