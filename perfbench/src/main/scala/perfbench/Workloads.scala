package perfbench

/** One graft.Run-shaped operation: read `input` (parquet), run `spec`
  * through the registry of `kind`, lint, force. `cols` and `rows` are the
  * expected output shape (rows < 0: not fixed in advance). `probeS` is the
  * time the traced run's step probes of `spec` need at most, so it can
  * skip a probe that would overrun the run.
  */
final case class Job(name: String, kind: String, input: String, spec: String,
                     cols: Seq[String], rows: Long, probeS: Double = 10)

/** A workload: seeded inputs plus the operations one pass runs. */
final case class Workload(
    name: String,
    batch: Boolean,
    /** input name → seeded generator, each written as one parquet directory */
    inputs: Seq[(String, Long => Gen.Frame)],
    /** the operations of one pass (batch) or one round of requests */
    pass: Long => Seq[Job],
    /** specs the traced run's step probes time on top of the pass's */
    probeOnly: Seq[Job],
    /** a one-line description of the input sizes */
    sizes: String,
    /** nominal wall of one timed pass on a busy 4-core host: a run times
      * `--seconds` / `passS` passes
      */
    passS: Double)

object Workloads {
  private def step(t: String, args: Any*): String = {
    val a = args.map {
      case s: String => "\"" + s + "\""
      case x => x.toString
    }
    if (a.isEmpty) s"""{"type":"$t"}""" else s"""{"type":"$t","args":[${a.mkString(",")}]}"""
  }
  private def spec(steps: String*): String = steps.mkString("[", ",", "]")

  val Key = Seq("month_id", "unit_id", "value")

  // panel_batch: graft.Run feature jobs. A temporal chain over a dense
  // pg-month-shaped panel (per-unit windows, their one shuffle, parquet
  // I/O) and the spatial reference chain plus splag4d over a contiguous
  // grid block (spatial kernels, geometry derivation, eager probes).
  val TUnits = 2000
  val TMonths = 240
  val SUnits = 240
  val SMonths = 24
  val Chain: String = spec(step("replace_na", 0), step("tlag", 1),
    step("moving_average", 12), step("delta", 1), step("time_since", 0),
    step("decay", 12))
  val SpatialChain: String = spec(step("tlag", 1), step("moving_average", 3),
    step("splag4d", 1, 1, 0), step("spacetime_dist", "distances", 1, 1, 0, 0))
  private val tFull = TUnits.toLong * TMonths
  private val sFull = SUnits.toLong * SMonths

  val panelBatch = Workload("panel_batch", batch = true,
    Seq("panel" -> (seed => Gen.panel(TUnits, TMonths, 0.05, 0.03, seed)),
      "grid" -> (seed => Gen.panel(SUnits, SMonths, 0.05, 0.0, seed ^ 0x9e1d))),
    _ => Seq(
      Job("temporal_chain", "panel", "panel", Chain, Key, TUnits.toLong * (TMonths - 3)),
      Job("spatial_chain", "panel", "grid", SpatialChain, Key, sFull),
      Job("splag4d", "panel", "grid", spec(step("splag4d", 1, 1, 0)), Key, sFull)),
    Seq(
      Job("splag_country", "panel", "grid", spec(step("splag_country", 1, 1, 0)), Key, sFull),
      Job("tree_lag", "panel", "grid", spec(step("tree_lag", 0.5, 0)), Key, sFull),
      Job("fourier_lag", "panel", "grid", spec(step("fourier_lag", 2)), Key, sFull),
      Job("spacetime_dist", "panel", "grid",
        spec(step("spacetime_dist", "distances", 1, 1, 0, 0)), Key, sFull),
      Job("temporal_tree_lag", "panel", "grid",
        spec(step("temporal_tree_lag", 0.8, "uniform", 1)), Key, sFull),
      Job("tlags3d", "panel", "panel", spec(step("tlags3d", 1, 2, 12)),
        Key ++ Seq("tlag_1", "tlag_2", "tlag_12"), tFull),
      Job("onset", "panel", "panel", spec(step("replace_na", 0), step("onset", 12)), Key, tFull),
      Job("temporal_entropy", "panel", "panel",
        spec(step("replace_na", 0), step("temporal_entropy", 12, 1)), Key, tFull),
      Job("fill", "panel", "panel", spec(step("fill", "both")), Key, tFull),
      Job("ewma", "panel", "panel", spec(step("replace_na", 0), step("ewma", 0.3, 12)), Key, tFull),
      Job("rollmax", "panel", "panel", spec(step("replace_na", 0), step("rollmax", 24)), Key, tFull)),
    s"panel $TUnits units x $TMonths months ($tFull cells, 5% events, 3% NaN) and grid " +
      s"$SUnits units x $SMonths months ($sFull cells, 5% events); 3 jobs per pass",
    passS = 6.5)

  // wire_service: a closed loop (one client) of small mixed requests on
  // one long-lived session
  val WUnits = 400
  val WMonths = 24
  val WirePanels = 3
  private val wFull = WUnits.toLong * WMonths

  /** The curation chain without its span and near-dup steps; with the two
    * below it covers the corpus layer in the traced run's step probes, and
    * its output is checked against the corpus invariants there.
    */
  val Curation: String = spec(step("normalize_unicode"), step("scrub_pii"),
    step("quality_filter", 0.3), step("dedup_exact"), step("chunk", 64, 8),
    step("pack_sequences", 512, 0))
  /** Its prefix through dedup_exact, for the invariant check. */
  val CurationDedup: String = spec(step("normalize_unicode"), step("scrub_pii"),
    step("quality_filter", 0.3), step("dedup_exact"))
  /** The chain with span dedup in place; the near-dup filter is probed
    * alone (its ~40 jobs make it the costliest probe, so it runs last).
    */
  val SpanCuration: String = spec(step("normalize_unicode"), step("scrub_pii"),
    step("remove_repeated_spans", 8, 2), step("quality_filter", 0.3),
    step("dedup_exact"), step("chunk", 64, 8), step("pack_sequences", 512, 0))
  val PackCols = Seq("bucket", "chunk_id", "doc_id", "n_tokens", "offset", "seq")

  /** The fixed request mix of one round: (name, kind, spec, columns, rows).
    * The seed picks each panel request's pool panel and the round's order.
    */
  val wireMix: Seq[(String, String, String, Seq[String], Long)] = Seq(
    ("tlag", "panel", spec(step("tlag", 1)), Key, wFull),
    ("moving_average", "panel", spec(step("replace_na", 0), step("moving_average", 3)), Key, wFull),
    ("time_since_decay", "panel",
      spec(step("replace_na", 0), step("delta", 1), step("time_since", 0), step("decay", 12)),
      Key, WUnits.toLong * (WMonths - 2)),
    ("tlags3d", "panel", spec(step("replace_na", 0), step("tlags3d", 1, 2, 3)),
      Key ++ Seq("tlag_1", "tlag_2", "tlag_3"), wFull),
    ("onset", "panel", spec(step("replace_na", 0), step("onset", 12)), Key, wFull),
    ("ewma", "panel", spec(step("replace_na", 0), step("ewma", 0.3, 6)), Key, wFull),
    ("fourier_lag", "panel", spec(step("replace_na", 0), step("fourier_lag", 2)), Key, wFull),
    ("funnel", "events", spec(step("funnel", "view", "click", "purchase")), Nil, -1L),
    ("topk", "embeddings", spec(step("normalize"), step("topk", 5, 20)), Nil, -1L))

  val wireService = Workload("wire_service", batch = false,
    (0 until WirePanels).map(i => s"p$i" -> ((seed: Long) =>
      Gen.panel(WUnits, WMonths, 0.08, 0.02, seed * 31 + i))) ++ Seq(
      "docs" -> ((seed: Long) => Gen.docs(300, 0.15, 0.1, seed)),
      "events" -> ((seed: Long) => Gen.events(200, 20, seed)),
      "pairs" -> ((seed: Long) => Gen.pairs(400, 1200, seed)),
      "emb" -> ((seed: Long) => Gen.embeddings(400, 32, 8, seed))),
    seed => {
      val rnd = new java.util.SplittableRandom(seed)
      val jobs = wireMix.map { case (name, kind, sp, cols, rows) =>
        val input = kind match {
          case "panel" => s"p${rnd.nextInt(WirePanels)}"
          case "corpus" => "docs"
          case "events" => "events"
          case _ => "emb"
        }
        Job(s"$name@$input", kind, input, sp, cols, rows)
      }
      // seeded Fisher-Yates: the round's order
      val a = jobs.toArray
      for (i <- a.length - 1 to 1 by -1) {
        val j = rnd.nextInt(i + 1)
        val t = a(i); a(i) = a(j); a(j) = t
      }
      a.toSeq
    },
    Seq(
      Job("curation", "corpus", "docs", Curation, PackCols, -1L),
      Job("span_curation", "corpus", "docs", SpanCuration, PackCols, -1L),
      Job("sessionize", "events", "events", spec(step("sessionize", 1800)), Nil, -1L),
      Job("label_prop", "graph", "pairs", spec(step("label_prop", 4)), Nil, -1L),
      Job("pagerank", "graph", "pairs", spec(step("pagerank", 5)), Nil, -1L),
      Job("neardup", "corpus", "docs", spec(step("minhash_neardup", 2, 12, 1, 0.1)),
        Seq("doc_id", "text"), -1L, probeS = 45)),
    s"$WirePanels panels of $WUnits units x $WMonths months, 300 docs, 4000 events, " +
      s"400-node/1200-edge pairs, 400 x 32 embeddings; ${wireMix.size} requests per round",
    passS = 5.0)

  val all: Seq[Workload] = Seq(panelBatch, wireService)

  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$n' (want ${all.map(_.name).mkString("|")})"))
}
