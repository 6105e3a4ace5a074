package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.SparkPlan

/** Physical-plan linter: walks a DataFrame's executed plan and reports
  * the shapes that break at cluster scale — the same checklist the
  * engine's own operators are audited against (PLANS.md), packaged so
  * a pipeline author can gate THEIR composed query before submitting
  * it to a 1000-executor cluster:
  *
  *   - `CartesianProduct` — O(n·m) with no pruning, almost always a
  *     missing join key;
  *   - `BroadcastNestedLoopJoin` — fine when the build side is a
  *     bounded query/kernel table, fatal when it is data-sized (the
  *     linter cannot know which, so it reports it as advisory);
  *   - a `Window` with no partition keys — every row through ONE task;
  *   - a global `Sort` feeding something other than a bounded
  *     take — full-data single ordering;
  *   - single-partition `Exchange` (`SinglePartition`) below a
  *     non-limit operator, unless its input is no bigger than AQE's
  *     minimum partition size (`graft.Shuffle.oneTask`, the size that
  *     `Shuffle.width` gives one partition).
  *
  * Returns findings rather than throwing: callers decide what is
  * acceptable (tests assert `fatal.isEmpty`, a service might log).
  */
object PlanLint {

  final case class Finding(severity: String, node: String, detail: String)

  /** Marker literal baked into a deliberately single-partition window
    * key by [[kBoundedKey]] — the caller's machine-checkable assertion
    * that the window's input is k-bounded (a `limit`'s survivors, a
    * buckets/bins/nlists aggregate), so the constant-key check below
    * can stay fatal for every UNMARKED constant key.
    */
  val KBoundedMarker = "__kbounded__"

  /** A constant-but-unfoldable single-partition window key carrying the
    * k-bounded assertion: `pmod(xxhash64('__kbounded__', c), 1) ≡ 0`,
    * but neither EliminateWindowPartitions (not foldable) nor the
    * constant-key lint (marker present) strips or flags it. Use ONLY
    * over provably bounded inputs — a top-k limit, a bins/buckets
    * aggregate — never over data-sized rows: the assertion is trusted,
    * not verified.
    */
  def kBoundedKey(c: Column): Column = {
    import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
    pmod(xxhash64(lit(KBoundedMarker), c), lit(1))
  }

  // the STATIC physical plan: under AQE the executed plan is an
  // AdaptiveSparkPlanExec wrapper whose real tree only materialises at
  // run time — the static plan is what a pre-submit lint can see, and
  // AQE only ever improves on it (it cannot introduce a cartesian)
  def lint(df: DataFrame): Seq[Finding] = lintPlan(df.queryExecution.sparkPlan)

  def lintPlan(plan: SparkPlan): Seq[Finding] = {
    val findings = scala.collection.mutable.ArrayBuffer.empty[Finding]
    def simpleName(p: SparkPlan): String =
      p.getClass.getSimpleName.stripSuffix("Exec")
    plan.foreach { node =>
      val name = simpleName(node)
      name match {
        case "CartesianProduct" =>
          findings += Finding("fatal", name,
            "unkeyed cross product — O(left × right) rows with no pruning")
        case "BroadcastNestedLoopJoin" =>
          findings += Finding("advisory", name,
            "nested-loop join over a broadcast side — fine for bounded " +
              "query/kernel tables, fatal if the build side is data-sized")
        case "Window" =>
          // an unpartitioned window funnels the WHOLE input through one
          // task. The engine's deliberately-bounded windows carry a
          // constant pmod key — but a constant key is semantically the
          // SAME single task, so it is only acceptable when the input
          // is provably k-bounded: a descendant limit in the subtree,
          // or the caller's [[kBoundedKey]] marker assertion. An
          // UNMARKED constant key over an unbounded input (the r10
          // rank-statistics shape) is exactly the funnel this check
          // exists to catch, dressed up to slip past it.
          node match {
            case w: org.apache.spark.sql.execution.window.WindowExec
                if w.partitionSpec.isEmpty =>
              findings += Finding("fatal", name,
                "window with NO partition keys — all rows in one task")
            case w: org.apache.spark.sql.execution.window.WindowExec
                if {
                  // the planner extracts computed keys into a child
                  // Project (_w0 = pmod(..)); resolve attributes back
                  // to their defining expression before judging them
                  val keys = w.partitionSpec.map(resolveThroughChild(w, _))
                  keys.nonEmpty && keys.forall(constantKey) &&
                    !keys.exists(marked) && !boundedBelow(w)
                } =>
              findings += Finding("fatal", name,
                "window with a CONSTANT partition key over an input " +
                  "that is neither limit-bounded nor kBoundedKey-" +
                  "asserted — all rows in one task")
            case _ => ()
          }
        case "Sort" =>
          node match {
            case s: org.apache.spark.sql.execution.SortExec if s.global =>
              findings += Finding("advisory", name,
                "global sort — full-data ordering; acceptable only under " +
                  "a bounded take or as a deliberate final ordering")
            case _ => ()
          }
        case _ => ()
      }
      if (node.toString.startsWith("Exchange SinglePartition") && !oneTaskInput(node))
        findings += Finding("advisory", "Exchange",
          "single-partition exchange — downstream runs on one task")
    }
    findings.toSeq
  }

  // an input that [[graft.Shuffle.width]] sizes to one partition: one
  // task is the right width for it, not a funnel
  private def oneTaskInput(node: SparkPlan): Boolean =
    node.logicalLink.orElse(node.children.headOption.flatMap(_.logicalLink))
      .exists(l => graft.Shuffle.oneTask(l.stats.sizeInBytes,
        org.apache.spark.sql.internal.SQLConf.get))

  // a window partition key is usually an AttributeReference to a
  // `_w0 = <expr>` alias the planner extracted into a child Project
  // (possibly below the Sort/Exchange) — chase it to the expression
  private def resolveThroughChild(
      w: SparkPlan,
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression = e match {
    case ar: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
      val defs = w.collect {
        case p: org.apache.spark.sql.execution.ProjectExec => p.projectList
      }.flatten
      defs.collectFirst {
        case a: org.apache.spark.sql.catalyst.expressions.Alias
            if a.exprId == ar.exprId => a.child
      }.getOrElse(e)
    case other => other
  }

  // a partition key that every row evaluates identically: a foldable
  // expression, or the engine's pmod(x, 1) ≡ 0 idiom (unfoldable on
  // purpose, so EliminateWindowPartitions keeps it)
  private def constantKey(
      e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.Pmod
    e.foldable || (e match {
      case p: Pmod => p.right.foldable && (p.right.eval() match {
        case i: Int  => i == 1
        case l: Long => l == 1L
        case _       => false
      })
      case _ => false
    })
  }

  // the [[kBoundedKey]] assertion: the marker string literal anywhere
  // inside the key expression
  private def marked(
      e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
    e.exists {
      case l: org.apache.spark.sql.catalyst.expressions.Literal
          if l.dataType == org.apache.spark.sql.types.StringType =>
        String.valueOf(l.value) == KBoundedMarker
      case _ => false
    }

  // a limit below the window bounds its input by construction
  private def boundedBelow(p: SparkPlan): Boolean = {
    import org.apache.spark.sql.execution.{CollectLimitExec, GlobalLimitExec, LocalLimitExec, TakeOrderedAndProjectExec}
    p.children.exists(_.exists {
      case _: GlobalLimitExec | _: LocalLimitExec |
           _: TakeOrderedAndProjectExec | _: CollectLimitExec => true
      case _ => false
    })
  }

  /** The findings a plan must never carry. */
  def fatal(df: DataFrame): Seq[Finding] =
    lint(df).filter(_.severity == "fatal")

  // ------------------------------------------------------------------
  // Cross-engine float-reassociation gate (the cusum lesson)
  // ------------------------------------------------------------------

  /** Flags the numeric shape that is invisible to every in-engine test
    * and only surfaces when a DIFFERENT engine recomputes the query: a
    * hash-gated output that rounds a float to a coarse grid (≤ 1e-6)
    * fed by an order-dependent double accumulation of unbounded width.
    *
    * The failure class (three rounds of red cusum rows): an ordered
    * running `SUM(double)` over an unbounded frame is evaluated
    * sequentially by Spark but via segment-tree reassociation by
    * columnar engines (DuckDB), so the two disagree in the last ULPs;
    * when the statistic is a catastrophic cancellation (`S_t − n·μ` —
    * two ~n·μ-sized quantities whose tiny difference IS the output),
    * that noise lands above the 1e-6 output rounding and the gate
    * hash-mismatches. Partitioning-invariance tests pass such a query
    * — only a by-construction rule catches it pre-driver.
    *
    * Detection is attribute-lineage over the ANALYZED logical plan
    * (the analyzer extracts window expressions into their own nodes,
    * so the sum and the round usually live in different operators):
    *
    *   - an unbounded ordered-window `Sum` over a Float/Double summand
    *     taints its output attribute as ORDER-DEPENDENT (fatal when it
    *     reaches a gate round); a plain group/unordered `Sum(double)`
    *     taints as PLAIN (advisory — one-shot totals have ~ULP noise,
    *     below coarse grids unless magnitudes are extreme);
    *   - taint propagates through every expression that references a
    *     tainted attribute (arithmetic on a noisy sum stays noisy);
    *   - integral / decimal summands never taint — fixed-point sums
    *     are exact under ANY association, which is precisely the
    *     prescribed fix (`round(x·1e9).cast("long")` at the scan,
    *     integer accumulation and cancellation, divide back at the
    *     end);
    *   - bounded frames (`ROWS BETWEEN k PRECEDING …`) never taint as
    *     order-dependent: k-term float sums carry bounded noise with
    *     no t-amplification.
    *
    * A finding fires where `round(e, scale ≤ maxScale)` has a tainted
    * `e`. Fatal = order-dependent taint; advisory = plain-sum taint.
    */
  def floatGate(df: DataFrame, maxScale: Int = 6): Seq[Finding] =
    floatGatePlan(df.queryExecution.analyzed, maxScale)

  def floatGatePlan(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
                    maxScale: Int = 6): Seq[Finding] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, CentralMomentAgg, Sum}
    import org.apache.spark.sql.types.{DoubleType, FloatType}

    // fixed-point summands (integral/decimal) are exact under any
    // association — only raw float sums accumulate engine-shaped noise
    def floatSummand(e: Expression): Boolean = e.dataType match {
      case DoubleType | FloatType => true
      case _                      => false
    }

    // 2 = order-dependent unbounded running sum, 1 = plain float sum
    val taintOf = scala.collection.mutable.Map.empty[ExprId, Int]

    def frameUnbounded(spec: WindowSpecDefinition): Boolean =
      spec.frameSpecification match {
        case SpecifiedWindowFrame(_, UnboundedPreceding, _) => true
        case UnspecifiedFrame                               => spec.orderSpec.nonEmpty
        case _                                              => false
      }

    // the FIXING idiom — `round(x · 1e6..1e9)` quantizing a float onto
    // a fine integer grid before exact integer arithmetic — is the
    // prescribed CURE, not a gate rounding: recognise it by the large
    // literal pre-multiplier and treat its subtree as clean (the
    // residual sub-grid noise only reaches a coarse output through an
    // integer path, which never re-taints)
    def numLit(e: Expression): Option[Double] = e match {
      case Literal(v: Double, _) => Some(v)
      case Literal(v: Float, _)  => Some(v.toDouble)
      case Literal(v: Int, _)    => Some(v.toDouble)
      case Literal(v: Long, _)   => Some(v.toDouble)
      case _                     => None
    }
    // ... but ONLY when the quantized operand is not itself an
    // order-dependent accumulation: round(sum(x) OVER unbounded · 1e9)
    // quantizes AFTER the reassociation noise has grown past the grid
    // — that is the failure class, not the cure (taint 2 stays fatal)
    def fixingRound(r: Round): Boolean = r.child match {
      case Multiply(x, k, _) if numLit(k).exists(v => math.abs(v) >= 1e6) =>
        taintIn(x) < 2
      case Multiply(k, x, _) if numLit(k).exists(v => math.abs(v) >= 1e6) =>
        taintIn(x) < 2
      case _ => false
    }

    def taintIn(e: Expression): Int = e match {
      case r: Round if fixingRound(r) => 0
      case we: WindowExpression =>
        val ordered =
          we.windowSpec.orderSpec.nonEmpty && frameUnbounded(we.windowSpec)
        // avg = sum/count and the central moments (stddev/variance/
        // skew/kurtosis — streaming Welford merges) reassociate across
        // engines exactly like a raw float sum: same taint rules
        val own = we.windowFunction match {
          case ae: AggregateExpression =>
            ae.aggregateFunction match {
              case s: Sum if floatSummand(s.child) => if (ordered) 2 else 1
              case a: Average if floatSummand(a.child) =>
                if (ordered) 2 else 1
              case m: CentralMomentAgg if floatSummand(m.child) =>
                if (ordered) 2 else 1
              case _ => 0
            }
          case _ => 0
        }
        (own +: we.children.map(taintIn)).max
      case ae: AggregateExpression =>
        val own = ae.aggregateFunction match {
          case s: Sum if floatSummand(s.child)     => 1
          case a: Average if floatSummand(a.child) => 1
          case m: CentralMomentAgg if floatSummand(m.child) => 1
          case _                                   => 0
        }
        (own +: ae.children.map(taintIn)).max
      case ar: AttributeReference => taintOf.getOrElse(ar.exprId, 0)
      case other =>
        if (other.children.isEmpty) 0 else other.children.map(taintIn).max
    }

    val findings = scala.collection.mutable.ArrayBuffer.empty[Finding]
    // post-order: producers of an attribute are visited before its
    // consumers, so taintOf is complete when a referencing node asks
    plan.foreachUp { node =>
      node.expressions.foreach { root =>
        root.foreach {
          case r: Round if !fixingRound(r) =>
            val coarse = r.scale match {
              case Literal(s: Int, _) => s <= maxScale
              case _                  => false
            }
            val t = taintIn(r.child)
            if (coarse && t > 0)
              findings += Finding(
                if (t == 2) "fatal" else "advisory",
                "Round",
                (if (t == 2)
                   "coarse-rounded gate output fed by an ORDER-DEPENDENT " +
                     "unbounded running SUM(double) — cross-engine " +
                     "reassociation noise lands above the output grid; "
                 else
                   "coarse-rounded gate output fed by a float SUM — " +
                     "one-shot totals carry ~ULP noise, usually below " +
                     "the grid; ") +
                  "fix values to a 1e-k integer grid at the scan and " +
                  "accumulate in integer arithmetic (the changepoint / " +
                  "PageRank / fixed-cusum discipline)")
          case _ => ()
        }
        root match {
          case a: Alias =>
            val t = taintIn(a.child)
            if (t > 0) taintOf(a.exprId) = math.max(taintOf.getOrElse(a.exprId, 0), t)
          case _ => ()
        }
      }
    }
    findings.distinct.toSeq
  }

  /** The float-gate findings a hash-gated query must never carry. */
  def floatGateFatal(df: DataFrame, maxScale: Int = 6): Seq[Finding] =
    floatGate(df, maxScale).filter(_.severity == "fatal")

  // ------------------------------------------------------------------
  // Value-buffering exact-percentile advisory (the fitBaseline lesson)
  // ------------------------------------------------------------------

  /** Flags Spark's EXACT percentile family (`Percentile` / `Median` /
    * `PercentileDisc`) wherever its aggregation buffer is unbounded:
    * these aggregates hold EVERY value of a group in one in-memory
    * OpenHashMap — correct at test scale, an executor-OOM cliff when a
    * group is data-sized (billions of doubles in one buffer at 100 TB;
    * the r12 q_event_anomaly finding). A grouped/global aggregate
    * always flags (the group's ROW count is what's unbounded, however
    * k-bounded the group KEYS are); a window percentile flags only
    * over an unbounded frame — `ROWS BETWEEN k PRECEDING` buffers k
    * values by construction.
    *
    * Advisory, not fatal: per-entity series bounded by the panel month
    * horizon (≤600) or a bounded training window are legitimate — the
    * whole-surface sweep pins the adjudicated set so a NEW unbounded
    * buffer announces itself (the float-gate budget discipline). The
    * alternatives ship in-repo: `approx_percentile` twins
    * (Profile.scala) or the range-partitioned exact-rank machinery
    * (Ranking.groupedCumsum — Anomaly.fitBaseline is the template).
    */
  def percentileBuffer(df: DataFrame): Seq[Finding] =
    percentileBufferPlan(df.queryExecution.analyzed)

  def percentileBufferPlan(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Seq[Finding] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
    val exactNames = Set("Percentile", "Median", "PercentileDisc")
    def isExact(ae: AggregateExpression): Boolean =
      exactNames.contains(ae.aggregateFunction.getClass.getSimpleName) ||
        // graft's own exact-percentile mirrors (r16) carry the
        // identical value-buffer bound as Spark's Percentile — they
        // must stay inside the same budget, not dodge it by class name
        (ae.aggregateFunction match {
          case sa: org.apache.spark.sql.execution.aggregate.ScalaAggregator[_, _, _] =>
            sa.agg.isInstanceOf[graft.ops.ExactPercentile.Agg1] ||
              sa.agg.isInstanceOf[graft.ops.TrimmedMean.Agg]
          case _ => false
        })
    def boundedFrame(spec: WindowSpecDefinition): Boolean =
      spec.frameSpecification match {
        case SpecifiedWindowFrame(RowFrame, lo, _) => lo != UnboundedPreceding
        case _                                     => false
      }
    val findings = scala.collection.mutable.ArrayBuffer.empty[Finding]
    plan.foreach { node =>
      // window functions are judged by their frame at the enclosing
      // WindowExpression; remember them so the bare-aggregate case
      // below doesn't re-judge the same instance without frame context
      val inWindow = scala.collection.mutable.Set.empty[AggregateExpression]
      node.expressions.foreach(_.foreach {
        case we: WindowExpression =>
          we.windowFunction match {
            case ae: AggregateExpression =>
              inWindow += ae
              if (isExact(ae) && !boundedFrame(we.windowSpec))
                findings += Finding("advisory", "Percentile",
                  "exact percentile over an UNBOUNDED window frame buffers " +
                    "the partition's whole series in one aggregator — bound " +
                    "the frame, or use approx_percentile / the exact-rank " +
                    "machinery (Ranking.groupedCumsum)")
            case _ => ()
          }
        case _ => ()
      })
      node.expressions.foreach(_.foreach {
        case ae: AggregateExpression if isExact(ae) && !inWindow.contains(ae) =>
          findings += Finding("advisory", "Percentile",
            "exact percentile buffers every value of its group in one " +
              "in-memory aggregator — an OOM cliff when groups are " +
              "data-sized; use approx_percentile or the exact-rank " +
              "machinery (Ranking.groupedCumsum, Anomaly.fitBaseline)")
        case _ => ()
      })
    }
    findings.distinct.toSeq
  }
}
