package graft.sampling

import graft.functions.SparkRound
import graft.graphs.Edges
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic hash-based sampling for corpus pipelines.
  *
  * Both operators draw a uniform value per row from
  * `md5(key ':' salt)` and compare it lexicographically against
  * 32-hex-digit thresholds — a reproducible Bernoulli draw that is a
  * pure scan-side filter: no shuffle, no RNG state, identical output
  * regardless of partitioning, cluster size, or engine (unlike
  * `DataFrame.sample`, whose result depends on how rows land in
  * partitions). Different salts give independent draws; the same salt
  * always reproduces the same sample — what train/eval splits and
  * corpus ablations need at 100 TB, where "re-run the sample" is a
  * full scan.
  */
object Sampling {

  /** floor(fraction · 16³²) as a zero-padded 32-digit hex literal —
    * md5 hex strings are uniform over [0, 16³²), and lexicographic
    * order on equal-length lowercase hex IS numeric order, so
    * `md5 < thresholdHex(f)` keeps fraction f of rows.
    */
  def thresholdHex(fraction: Double): String = {
    require(fraction >= 0.0 && fraction <= 1.0,
      s"fraction must be in [0, 1], got $fraction")
    val t = (BigDecimal(fraction) * BigDecimal(BigInt(16).pow(32))).toBigInt
    ("0" * 32 + t.toString(16)).takeRight(32)
  }

  /** The per-row uniform draw. */
  def hashKey(key: Column, salt: String): Column =
    md5(concat(key.cast("string"), lit(":" + salt)))

  /** Keep ~`fraction` of rows, deterministically by `keyCol`. */
  def hashSample(df: DataFrame, keyCol: String, fraction: Double,
                 salt: String): DataFrame =
    if (fraction >= 1.0) df
    else df.filter(hashKey(col(keyCol), salt) < lit(thresholdHex(fraction)))

  /** Assign every row to a named split with the given weights
    * (normalised to 1), deterministically by `keyCol` — e.g.
    * `Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)`. Adds a
    * `split` column; the draw happens once, so the splits are exactly
    * disjoint and exhaustive.
    */
  def hashSplit(df: DataFrame, keyCol: String,
                splits: Seq[(String, Double)], salt: String): DataFrame = {
    val key = hashKey(col(keyCol), salt)
    // the last split takes everything remaining — no row can fall
    // through on weight rounding
    val expr = splits.init.map(_._1).zip(splitThresholds(splits))
      .foldRight(lit(splits.last._1): Column) {
        case ((name, hi), acc) => when(key < lit(hi), name).otherwise(acc)
      }
    df.withColumn("split", expr)
  }

  /** Stratified deterministic sampling: keep a different fraction per
    * stratum (e.g. per language — upsample scarce languages, trim the
    * dominant one), with the same reproducible md5 draw as
    * `hashSample`. Strata absent from `fractions` keep
    * `defaultFraction`. Still a pure scan-side filter: no shuffle, no
    * per-stratum pass — one scan whatever the stratum count.
    */
  def hashSampleStratified(df: DataFrame, keyCol: String,
                           stratumCol: String,
                           fractions: Seq[(String, Double)],
                           defaultFraction: Double,
                           salt: String): DataFrame = {
    val key = hashKey(col(keyCol), salt)
    // fraction 1.0 must keep EVERYTHING: thresholdHex(1.0) wraps to
    // the all-zeros string (16^32 has 33 hex digits), which would
    // silently drop the whole stratum. 'g' sorts above every hex
    // digit, so it is an always-true bound.
    def bound(f: Double): String = if (f >= 1.0) "g" else thresholdHex(f)
    val b = fractions.foldRight(lit(bound(defaultFraction)): Column) {
      case ((stratum, f), acc) =>
        when(col(stratumCol) === stratum, lit(bound(f))).otherwise(acc)
    }
    df.filter(key < b)
  }

  /** Balanced subset selection: the `k` rows of each stratum with the
    * smallest salted md5 draws — a deterministic per-stratum "random"
    * top-k (equal-size per-language corpora, eval-slice carving).
    * Unlike fraction-based sampling, the output size per stratum is
    * EXACT (min(k, stratum size)).
    *
    * Scale shape: one shuffle on the stratum key into a rank window.
    * The hash order is uniform, so window partitions are balanced
    * across strata of equal size; a dominant stratum is one partition —
    * for corpus-scale strata prefer `hashSample` (scan-side, no
    * shuffle) and accept approximate sizes.
    */
  def hashTopKPerStratum(df: DataFrame, keyCol: String, stratumCol: String,
                         k: Int, salt: String): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol))
      .orderBy(hashKey(col(keyCol), salt), col(keyCol))
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .drop("__rk")
  }

  /** Static domain mixing by token mass (the data-mixture step of a
    * training-data pipeline): choose per-stratum keep rates so the
    * SAMPLED corpus' token mass follows `targetShares`, downscaling
    * only — no stratum is upsampled. With `mass_s` the stratum's total
    * token count and `w_s` the normalised target share, the largest
    * feasible output mass is `T = min_s(mass_s / w_s)`; the keep rate
    * is `rate_s = w_s · T / mass_s` (1.0 for a binding stratum, modulo
    * float round-trip). Strata absent from `targetShares` are dropped.
    *
    * Rows are kept by the same salted-md5 draw as [[hashSample]], but
    * compared on the FIRST 8 hex digits against
    * `floor(rate · 16⁸)` rendered as zero-padded lowercase hex — the
    * rate is data-dependent, so the threshold must be computable
    * inside the engine; 32 bits of the draw keep the selection exact
    * to ~2⁻³² while staying inside BIGINT in any SQL dialect. Every
    * arithmetic step (integer sums, IEEE division/multiplication,
    * min, floor) is bit-reproducible across engines — no
    * transcendentals, so no rounding fence needed.
    *
    * Scale shape: one map-side-combined aggregation over the stratum
    * column (output rows = #strata), two broadcast joins of that tiny
    * rate table, then a pure scan-side filter. No wide shuffle at any
    * corpus size; the draw/threshold compare is codegen'd Column
    * arithmetic.
    */
  def mixByTokenMass(df: DataFrame, keyCol: String, stratumCol: String,
                     tokensCol: String, targetShares: Seq[(String, Double)],
                     salt: String): DataFrame = {
    require(targetShares.nonEmpty && targetShares.forall(_._2 > 0.0),
      "target shares must be non-empty and strictly positive")
    require(targetShares.map(_._1).distinct.length == targetShares.length,
      "target shares must name each stratum once")
    val spark = df.sparkSession
    val total = targetShares.map(_._2).sum
    val shares = targetShares.map { case (s, w) => (s, w / total) }
    val sharesDf = spark.createDataFrame(shares).toDF(stratumCol, "__w")
    val mass = df.groupBy(col(stratumCol))
      .agg(sum(col(tokensCol)).cast("double").as("__mass"))
      .join(broadcast(sharesDf), stratumCol)
    val t = mass.agg(min(col("__mass") / col("__w")).as("__t"))
    val rates = mass.crossJoin(broadcast(t))
      .select(col(stratumCol), (col("__w") * col("__t") / col("__mass")).as("rate"))
    // rate ≥ 1 must keep everything: 'g' sorts above every hex digit
    // (same device as hashSampleStratified's bound)
    val thr = when(col("rate") >= 1.0, lit("g"))
      .otherwise(lpad(lower(hex(floor(col("rate") * lit(4294967296.0))
        .cast("long"))), 8, "0"))
    df.join(broadcast(rates), Seq(stratumCol))
      .filter(substring(hashKey(col(keyCol), salt), 1, 8) < thr)
      .select(col(keyCol), col(stratumCol), col(tokensCol), col("rate"))
  }

  /** Temperature-scaled source mixing — the mT5/ROOTS α-sampling
    * recipe: target mass per stratum ∝ mass^α (α < 1 flattens the
    * distribution — tail sources keep everything, head sources trim),
    * realized as the same downscale-only deterministic-hash filter as
    * [[mixByTokenMass]] with the target shares derived IN-PLAN from
    * the observed masses (normalization cancels in the rate formula,
    * so no extra pass). The rate rounds at 1e-9 before the hex
    * threshold: `pow` is the one term whose last ULP could differ
    * across engines, and the threshold floor would amplify it into a
    * membership flip.
    *
    * @return kept rows (keyCol, stratumCol, tokensCol, rate)
    */
  def mixByTemperature(df: DataFrame, keyCol: String, stratumCol: String,
                       tokensCol: String, alpha: Double,
                       salt: String): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0,
      s"alpha must be in (0, 1], got $alpha")
    val mass = df.groupBy(col(stratumCol))
      .agg(sum(col(tokensCol)).cast("double").as("__mass"))
      .withColumn("__w", pow(col("__mass"), alpha))
    val t = mass.agg(min(col("__mass") / col("__w")).as("__t"))
    val rates = mass.crossJoin(broadcast(t))
      .select(col(stratumCol),
        round(col("__w") * col("__t") / col("__mass"), 9).as("rate"))
    val thr = when(col("rate") >= 1.0, lit("g"))
      .otherwise(lpad(lower(hex(floor(col("rate") * lit(4294967296.0))
        .cast("long"))), 8, "0"))
    df.join(broadcast(rates), Seq(stratumCol))
      .filter(substring(hashKey(col(keyCol), salt), 1, 8) < thr)
      .select(col(keyCol), col(stratumCol), col(tokensCol), col("rate"))
  }

  /** Near-duplicate-aware train/val/test assignment: resolve the
    * near-dup graph into clusters first (pointer-jumping connected
    * components), then draw the split from the CLUSTER id — two
    * near-duplicate documents can never straddle a split boundary.
    * The standard leakage control for held-out evaluation: a plain
    * per-document hash split leaks train content into test through
    * near-copies that dedup didn't (or deliberately doesn't) remove.
    *
    * `pairs` is any (id_a, id_b) near-dup edge table (simhash bands,
    * MinHash LSH, embedding near-dup…) — the blocking strategy stays
    * the caller's choice.
    *
    * @return (keyCol, cluster_id, split)
    */
  def leakageSafeSplit(nodes: DataFrame, pairs: DataFrame, keyCol: String,
                       splits: Seq[(String, Double)], salt: String): DataFrame =
    hashSplit(
      graft.dedup.Dedup.connectedComponents(nodes, pairs, keyCol)
        .select(col(keyCol), col("cluster_id")),
      "cluster_id", splits, salt)

  /** Deterministic epoch-style mixture weighting by stratum: every
    * row of a stratum with factor `f` is replicated ⌊f⌋ times, plus
    * one more copy kept with probability f − ⌊f⌋ via the md5 draw on
    * (key, copy) — the REPLICATION half of data-mixture weighting
    * ("Wikipedia ×2.5 epochs"), complementing the downscale-only
    * `mixByTokenMass`/`hashSampleStratified`. Fractional factors < 1
    * degenerate to plain hash sampling, so one factor table expresses
    * a whole mixture. Unlisted strata keep factor 1; factor 0 drops
    * the stratum.
    *
    * Scan-side only — `explode(sequence)` + a codegen'd hash filter,
    * no shuffle: at 100 TB the cost is the output volume itself. The
    * emitted `copy_id` (1-based) keeps replicated keys distinct for
    * downstream packing/sharding.
    */
  def upsampleByFactor(df: DataFrame, keyCol: String, stratumCol: String,
                       factors: Seq[(String, Double)], salt: String): DataFrame = {
    factors.foreach { case (s, f) =>
      require(f >= 0.0, s"factor for '$s' must be non-negative, got $f") }
    def perStratum(fn: Double => Column, default: Column): Column =
      factors.foldLeft(default) { case (acc, (s, f)) =>
        when(col(stratumCol) === s, fn(f)).otherwise(acc) }
    val fCol = perStratum(f => lit(f), lit(1.0))
    val floorCol = perStratum(f => lit(math.floor(f).toLong), lit(1L))
    // per-stratum constant threshold for the fractional copy (driver-
    // side hex, same literal the oracle reproduces)
    val fracThr = perStratum(f => lit(thresholdHex(f - math.floor(f))),
      lit(thresholdHex(0.0)))
    // factor-0 strata are dropped BEFORE sequence(): Spark's
    // sequence(1, 0) counts DOWN, which would resurrect one copy
    df.filter(fCol > 0.0)
      .withColumn("copy_id",
        explode(sequence(lit(1), ceil(fCol).cast("int"))))
      .filter(col("copy_id") <= floorCol ||
        hashKey(concat(col(keyCol).cast("string"), lit("#"),
          col("copy_id").cast("string")), salt) < fracThr)
  }

  /** Token-budget curation: keep the highest-`scoreCol` documents until
    * their cumulative `tokensCol` mass reaches `budgetTokens` — "give
    * me the best N-billion-token subset", the budget-first phrasing of
    * every pretraining data ask. Exact and deterministic (score ties
    * break on `idCol`); the global ordered cumsum uses the two-phase
    * range-partitioned machinery ([[graft.ops.Ranking.globalCumsum]]),
    * so there is NO single-task ordering at any corpus size.
    *
    * @return the kept rows + `cum_tokens` (each row's running total,
    *   ≤ budgetTokens)
    */
  def budgetByTokens(df: DataFrame, scoreCol: String, tokensCol: String,
                     budgetTokens: Long, idCol: String = "doc_id"): DataFrame = {
    require(budgetTokens > 0, s"budget must be positive, got $budgetTokens")
    graft.ops.Ranking.globalCumsum(df,
        Seq(col(scoreCol).desc, col(idCol)), tokensCol, "cum_tokens")
      .filter(col("cum_tokens") <= budgetTokens)
  }

  /** Deterministic proportional source interleaving — the serve-order
    * schedule a training loader consumes: rows are hash-shuffled
    * WITHIN each source (salted md5 rank — reproducible "random"
    * order), then every row gets a virtual timestamp i/weight (i = its
    * 1-based within-source index); ordering by it alternates sources
    * in proportion to their weights with no run-length clumps, the
    * standard alternative to shuffling the concatenated mixture and
    * hoping. The global order is (serve_key, stratum, idx) — total and
    * reproducible.
    *
    * Scale shape: one rank window per source partition (hash order, so
    * partitions balance) — the serve key itself is a projection; the
    * caller range-partitions/sorts by it at write time, exactly like
    * [[graft.spatial.ZOrder.writeClustered]] does for its key.
    *
    * @return input + (source_idx BIGINT, serve_key DOUBLE)
    */
  def interleaveSources(df: DataFrame, keyCol: String, stratumCol: String,
                        weights: Seq[(String, Double)], salt: String): DataFrame = {
    require(weights.forall(_._2 > 0), "weights must be positive")
    val wCol = weights.foldLeft(lit(1.0)) { case (acc, (s, x)) =>
      when(col(stratumCol) === s, lit(x)).otherwise(acc) }
    val idx = row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy(col(stratumCol))
        .orderBy(hashKey(col(keyCol), salt), col(keyCol)))
      .cast("long")
    df.withColumn("source_idx", idx)
      .withColumn("serve_key", col("source_idx").cast("double") / wCol)
  }

  /** Bounded smallest-k (hash, id) pairs through partial/merge
    * aggregation — every buffer in the plan caps at k, however hot the
    * group key (the Index.MinK discipline, keyed pairs instead of bare
    * longs). Lexicographic on the hex hash = numeric order; id breaks
    * the (practically impossible) md5 tie deterministically.
    */
  class MinKByKey(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        (String, Long), Seq[(String, Long)], Seq[(String, Long)]] {
    private val ord = Ordering.Tuple2[String, Long]
    override def zero: Seq[(String, Long)] = Seq.empty
    override def reduce(b: Seq[(String, Long)],
                        a: (String, Long)): Seq[(String, Long)] =
      if (b.length >= k && ord.compare(a, b.last) >= 0) b
      else (b :+ a).sorted(ord).take(k)
    override def merge(a: Seq[(String, Long)],
                       b: Seq[(String, Long)]): Seq[(String, Long)] =
      (a ++ b).sorted(ord).take(k)
    override def finish(r: Seq[(String, Long)]): Seq[(String, Long)] = r
    override def bufferEncoder
        : org.apache.spark.sql.Encoder[Seq[(String, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    override def outputEncoder
        : org.apache.spark.sql.Encoder[Seq[(String, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** Anti-dominance curation: keep at most `cap` documents per source,
    * chosen by the deterministic salted md5 order (a reproducible
    * uniform sample of each source, stable across partitionings and
    * engines). NOT a per-source rank window — one giant source would
    * make that a single task at corpus scale; instead the cap smallest
    * (hash, id) pairs per source survive a BOUNDED aggregation
    * (map-side combine keeps every buffer ≤ cap) and the winners
    * semi-join back. The keep-set is sources × cap rows — broadcast
    * territory by construction.
    */
  def capPerSource(docs: DataFrame, cap: Int, salt: String,
                   srcCol: String = "source",
                   idCol: String = "doc_id"): DataFrame = {
    require(cap > 0, s"cap must be positive, got $cap")
    val mink = udaf(new MinKByKey(cap))
    val keep = docs
      .select(col(srcCol), hashKey(col(idCol), salt).as("__h"),
        col(idCol).cast("long").as("__id"))
      .groupBy(col(srcCol))
      .agg(mink(col("__h"), col("__id")).as("__keep"))
      .select(explode(col("__keep")).as("kp"))
      .select(col("kp._2").as(idCol))
    docs.join(broadcast(keep), Seq(idCol), "left_semi")
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis via
    * the Gumbel-max trick, the Dsir.resample machinery generalized to
    * any weight column): score_i = ln(w_i) + Gumbel(u_i) with the
    * seeded md5 uniform, top-k by score ≡ a w-proportional draw
    * without replacement. Deterministic (same salt → same sample),
    * and the selection is TakeOrderedAndProject per-partition k-heaps
    * — never a global sort; the rank window is k-bounded by
    * construction. Non-positive weights are excluded (zero mass).
    *
    * @return the k sampled rows + (gumbel_score, rank)
    */
  def weightedSample(df: DataFrame, weightCol: String, k: Int,
                     salt: String, idCol: String = "doc_id"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val u = (conv(substring(hashKey(col(idCol), salt), 1, 8), 16, 10)
      .cast("double") + 0.5) / 4294967296.0
    // NaN guard is load-bearing: Spark orders NaN ABOVE every double,
    // so an unfiltered NaN weight would score NaN and hijack the top-k
    df.filter(col(weightCol) > 0.0 && !isnan(col(weightCol).cast("double")))
      .withColumn("gumbel_score",
        round(log(col(weightCol).cast("double")) - log(-log(u)), 6))
      .orderBy(col("gumbel_score").desc, col(idCol)).limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(graft.plans.PlanLint.kBoundedKey(col(idCol)))
          .orderBy(col("gumbel_score").desc, col(idCol))).cast("int"))
  }

  /** Distribution drift between two dataset VERSIONS, keyed on any
    * categorical column (source, language, length bucket): per key the
    * raw counts, Laplace-smoothed shares, and the pointwise
    * Jensen–Shannon contribution in bits — summing `js_bits` gives
    * JS(A‖B), the symmetric bounded divergence a corpus-refresh audit
    * reports before a retrain. Two count aggregations + a full outer
    * join on the key + one broadcast 1-row totals join — output is
    * key-cardinality rows whatever the corpus size.
    */
  def distributionDrift(a: DataFrame, b: DataFrame, keyCol: String,
                        alpha: Double = 0.5): DataFrame = {
    require(alpha > 0.0, s"alpha must be positive, got $alpha")
    // null keys are excluded: a full outer join never matches NULL to
    // NULL, so a null key would surface as TWO half-rows with
    // inconsistent shares instead of one drifted cell
    val ca = a.filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol)).agg(count(lit(1)).as("n_a"))
    val cb = b.filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol)).agg(count(lit(1)).as("n_b"))
    val joined = ca.join(cb, Seq(keyCol), "full")
      .na.fill(0L, Seq("n_a", "n_b"))
    val stats = joined.agg(sum(col("n_a")).as("__ta"),
      sum(col("n_b")).as("__tb"), count(lit(1)).as("__k"))
    val p = (col("n_a") + alpha) / (col("__ta") + col("__k") * alpha)
    val q = (col("n_b") + alpha) / (col("__tb") + col("__k") * alpha)
    val m = (p + q) / 2.0
    val ln2 = math.log(2.0)
    joined.crossJoin(broadcast(stats))
      .select(col(keyCol), col("n_a"), col("n_b"),
        round(p, 6).as("share_a"), round(q, 6).as("share_b"),
        round((p * log(p / m) + q * log(q / m)) / (2.0 * ln2), 6)
          .as("js_bits"))
  }

  /** Population stability index for a NUMERIC feature — the
    * companion of [[distributionDrift]] (which keys on categoricals):
    * fixed-width bins over the REFERENCE period's [min, max], both
    * periods' values binned (out-of-range clamps to the edge bins),
    * Laplace-smoothed shares, and the per-bin PSI term
    * `(q − p)·ln(q/p)`; `psi_total` repeats the full sum on every row
    * so the audit verdict travels with the table. The >0.25 "retrain"
    * convention applies to the total.
    *
    * Scale shape: one 1-row min/max aggregate broadcast back, one
    * (period, bin) count aggregate (map-side combinable), a `bins`-row
    * spine join — output is `bins` rows whatever the corpus.
    *
    * Determinism: fixed-width binning needs NO quantile interpolation
    * parity; edges are derived from 1e-9-rounded min/width, and the
    * smoothing keeps every log argument strictly positive.
    */
  def psi(ref: DataFrame, cur: DataFrame, valueCol: String,
          bins: Int = 10, alpha: Double = 0.5): DataFrame = {
    require(bins > 1, s"need bins > 1, got $bins")
    require(alpha > 0.0, s"alpha must be positive, got $alpha")
    val spark = ref.sparkSession
    val v = col(valueCol).cast("double")
    val r = ref.select(v.as("v")).filter(!isnan(col("v")) && col("v").isNotNull)
    val c = cur.select(v.as("v")).filter(!isnan(col("v")) && col("v").isNotNull)
    val stats = r.agg(round(min(col("v")), 9).as("__mn"),
      round((max(col("v")) - min(col("v"))) / bins, 9).as("__w"))
    def binned(df: DataFrame) = df.crossJoin(broadcast(stats))
      .select(least(greatest(
        when(col("__w") === 0.0, lit(0))
          .otherwise(floor((col("v") - col("__mn")) / col("__w")).cast("int")),
        lit(0)), lit(bins - 1)).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n"))
    val spine = spark.range(bins).select(col("id").cast("int").as("bin"))
    val joined = spine
      .join(binned(r).withColumnRenamed("n", "n_ref"), Seq("bin"), "left")
      .join(binned(c).withColumnRenamed("n", "n_cur"), Seq("bin"), "left")
      .na.fill(0L, Seq("n_ref", "n_cur"))
    val totals = joined.agg(sum(col("n_ref")).as("__tr"),
      sum(col("n_cur")).as("__tc"))
    val p = (col("n_ref") + alpha) / (col("__tr") + bins * alpha)
    val q = (col("n_cur") + alpha) / (col("__tc") + bins * alpha)
    val term = round((q - p) * log(q / p), 9)
    joined.crossJoin(broadcast(totals))
      .withColumn("psi_term", term)
      .withColumn("psi_total",
        round(sum(col("psi_term")).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(graft.plans.PlanLint.kBoundedKey(col("bin")))), 6))
      .select(col("bin"), col("n_ref"), col("n_cur"),
        round(p, 6).as("share_ref"), round(q, 6).as("share_cur"),
        round(col("psi_term"), 6).as("psi_term"), col("psi_total"))
  }

  /** Two-sample Kolmogorov–Smirnov drift test — the third drift gauge
    * next to [[distributionDrift]] (categorical JS) and [[psi]]
    * (binned numeric): D = sup |F_ref − F_cur| over the EXACT empirical
    * CDFs, so it is binning-free and catches shape drift PSI's 10 bins
    * smear out. The verdict compares D against the asymptotic
    * two-sided critical value c(α)·√((n₁+n₂)/(n₁·n₂)).
    *
    * Scale shape: one grouped count per side keyed on the value (the
    * cardinality-bounding step), a full outer merge, then the two
    * running counts via [[graft.ops.Ranking.globalCumsum]] — the
    * range-partition + offsets form, so the ECDF never funnels through
    * a single-task window however many distinct values survive. One
    * 1-row max/total aggregate finishes.
    *
    * Determinism: every input to D is an exact long; the ECDF ratios
    * and their gap are IEEE-identical in any engine, so even the max
    * needs no tolerance.
    *
    * @return one row: (n_ref, n_cur, d_stat, d_crit, drifted)
    */
  def ksTest(ref: DataFrame, cur: DataFrame, valueCol: String,
             cAlpha: Double = 1.358): DataFrame = {
    require(cAlpha > 0.0, s"cAlpha must be positive, got $cAlpha")
    val v = col(valueCol).cast("double")
    def counts(df: DataFrame, as: String) =
      df.select(v.as("v")).filter(col("v").isNotNull && !isnan(col("v")))
        .groupBy("v").agg(count(lit(1)).as(as))
    val merged = counts(ref, "n_ref").join(counts(cur, "n_cur"), Seq("v"), "full")
      .na.fill(0L, Seq("n_ref", "n_cur"))
    // fused two-column cumsum (r15): the former NESTED globalCumsum
    // chain checkpointed the working set twice and re-executed
    // `merged`'s whole lineage a third time for the totals; one
    // globalCumsumN pass carries both running counts and derives the
    // identical exact-long totals from its bounded per-partition sums.
    val (cum, totalsRaw, _) = graft.ops.Ranking.globalCumsumN(merged,
      Seq(col("v")), Seq("n_ref" -> "__cr", "n_cur" -> "__cc"))
    val totals = totalsRaw.select(col("n_ref_total").as("__tr"),
      col("n_cur_total").as("__tc"))
    cum.crossJoin(broadcast(totals))
      .select(col("__tr"), col("__tc"),
        abs(col("__cr").cast("double") / col("__tr") -
          col("__cc").cast("double") / col("__tc")).as("__gap"))
      .groupBy("__tr", "__tc")
      .agg(round(max(col("__gap")), 6).as("d_stat"))
      .select(col("__tr").as("n_ref"), col("__tc").as("n_cur"),
        col("d_stat"),
        round(lit(cAlpha) * sqrt((col("__tr") + col("__tc")).cast("double") /
          (col("__tr").cast("double") * col("__tc").cast("double"))), 6)
          .as("d_crit"))
      .withColumn("drifted", col("d_stat") > col("d_crit"))
  }

  /** The n−1 upper-bound hex thresholds of `hashSplit`'s bands,
    * exposed so an external checker can reproduce the exact same
    * literals (the cumulative float sums must match bit-for-bit).
    */
  def splitThresholds(splits: Seq[(String, Double)]): Seq[String] = {
    require(splits.nonEmpty && splits.forall(_._2 > 0),
      "splits must be non-empty with positive weights")
    val total = splits.map(_._2).sum
    splits.scanLeft(0.0)(_ + _._2 / total).tail.init.map(thresholdHex)
  }

  /** Iterative proportional fitting (survey raking): per-cell sampling
    * weights that pull BOTH marginals of an (a, b) contingency toward
    * caller-given target shares — the principled version of "make the
    * corpus 30% code without distorting the language mix", where
    * independent per-axis reweighting would wreck the other axis.
    *
    * Each iteration row-scales then column-scales every cell weight by
    * target/current marginal mass; weights round to 1e-9 after each
    * scale (the PageRank float-recursion discipline) and marginal
    * masses accumulate as exact integers in 1e-9 units — so the whole
    * trajectory is engine- and layout-exact and the oracle unrolls the
    * identical iterations.
    *
    * EAGER: the coverage check below collects the observed category
    * values at construction time (bounded by the chi2Test
    * category-cardinality contract), and the iterations run as ONE
    * bounded task ([[Edges.inOneTask]]): the cell table is
    * ≤ |targetsA|·|targetsB| rows at ANY data scale, and every scaling
    * step is order-free (integer 1e-9 marginal sums, per-cell
    * [[SparkRound]]s), so the single-task replay is bit-identical to
    * the former 2·iters checkpointed distributed passes it replaces.
    *
    * @param targetsA target share per value of `colA` (must cover
    *   every observed value, each value at most once; shares needn't
    *   sum to 1 — they are used as given, the classic raking
    *   convention)
    * @return (colA, colB, n, weight) — weight rounded 1e-6
    */
  def rake(df: DataFrame, colA: String, colB: String,
           targetsA: Seq[(String, Double)], targetsB: Seq[(String, Double)],
           iters: Int = 4): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(targetsA.map(_._1).distinct.length == targetsA.length,
      "targetsA keys must be unique")
    require(targetsB.map(_._1).distinct.length == targetsB.length,
      "targetsB keys must be unique")
    val spark = df.sparkSession
    import spark.implicits._
    // one data-sized aggregation; everything after reads the bounded
    // cell cache (releasable, OpCache) instead of re-scanning the source
    val cells = graft.OpCache.persist(
      df.groupBy(col(colA).cast("string").as("__a"),
          col(colB).cast("string").as("__b"))
        .agg(count(lit(1)).as("__n")))
    // the "must cover every observed value" contract is ENFORCED, not
    // assumed: uncovered cells would silently drop from the output AND
    // the marginal masses — weights raked over a truncated table (the
    // CdcStream.compact coverage-require pattern). Both axes audit in
    // ONE fused job over the persisted cells.
    val tKeys = (targetsA.map(t => ("a", t._1)) ++
      targetsB.map(t => ("b", t._1))).toDF("__side", "__k")
    val missing = cells.select(lit("a").as("__side"), col("__a").as("__k"))
      .unionByName(cells.select(lit("b").as("__side"), col("__b").as("__k")))
      .distinct()
      .join(broadcast(tKeys), Seq("__side", "__k"), "left_anti")
      .collect()
    def requireCover(side: String, key: String, who: String): Unit = {
      val miss = missing.filter(_.getString(0) == side).map(_.get(1))
        .sortBy(String.valueOf(_))
      require(miss.isEmpty,
        s"$who must cover every observed value of $key; missing: " +
          miss.mkString(", "))
    }
    requireCover("a", "__a", "targetsA")
    requireCover("b", "__b", "targetsB")
    val tA = targetsA.toMap
    val tB = targetsB.toMap
    val nIters = iters
    Edges.inOneTask(cells, colA, colB, "n", "weight") { (it: Iterator[(String, String, Long)]) =>
      val arr = it.toArray
      val cn = arr.length
      val as = arr.map(_._1); val bs = arr.map(_._2)
      val ns = arr.map(_._3)
      val totD = ns.sum.toDouble // == cells.agg(sum(__n)): exact long
      val w = Array.fill(cn)(1.0)
      val wNull = Array.fill(cn)(false) // mirrors SQL null propagation
      // one scaling step: marginal mass per key in exact 1e-9 units
      // (sum skips SQL-null weights like Spark's sum), then the
      // 1e-9-rounded per-cell update; division by a zero/null mass
      // yields SQL null exactly like Spark's non-ANSI Divide
      def scale(keyOf: Int => String, tgt: String => Double): Unit = {
        val m9 = scala.collection.mutable.HashMap.empty[String, Long]
        var i = 0
        while (i < cn) {
          if (!wNull(i)) {
            val k = keyOf(i)
            val term = SparkRound(ns(i) * w(i) * 1e9, 0).toLong
            m9(k) = m9.getOrElse(k, 0L) + term
          }
          i += 1
        }
        i = 0
        while (i < cn) {
          if (!wNull(i)) {
            val k = keyOf(i)
            m9.get(k) match {
              case Some(m) if m != 0L =>
                w(i) = SparkRound(w(i) * (tgt(k) * totD) / (m.toDouble / 1e9), 9)
              case _ => wNull(i) = true
            }
          }
          i += 1
        }
      }
      var r = 1
      while (r <= nIters) {
        scale(i => as(i), tA)
        scale(i => bs(i), tB)
        r += 1
      }
      arr.indices.iterator.map { i =>
        (as(i), bs(i), ns(i),
          if (wNull(i)) None else Some(SparkRound(w(i), 6)))
      }
    }
  }

  /** [[rake]] toward UNIFORM marginals on both axes — the "flatten
    * this mixture" convenience (targets 1/k per observed value; the
    * bounded distinct-value collect is category-cardinality, both
    * axes fused into ONE job).
    */
  def rakeUniform(df: DataFrame, colA: String, colB: String,
                  iters: Int = 4): DataFrame = {
    val rows = df.select(lit("a").as("__side"), col(colA).cast("string").as("__k"))
      .unionByName(
        df.select(lit("b").as("__side"), col(colB).cast("string").as("__k")))
      .distinct().collect()
    def uniform(side: String): Seq[(String, Double)] = {
      val vals = rows.filter(_.getString(0) == side)
        .map(_.getString(1)).sorted.toSeq
      vals.map(_ -> 1.0 / vals.size)
    }
    rake(df, colA, colB, uniform("a"), uniform("b"), iters)
  }
}
