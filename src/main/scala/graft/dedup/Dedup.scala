package graft.dedup

import graft.OpCache
import graft.graphs.Edges
import graft.text.TextOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for corpus pipelines: exact (hash-groupBy),
  * MinHash + LSH banding, SimHash, and exact n-gram Jaccard.
  *
  * Portability-by-construction: every hash is an md5 hex STRING and
  * minima are lexicographic string minima, so the identical computation
  * is expressible in any SQL engine (the DuckDB oracle) without relying
  * on engine-specific integer hash functions.
  *
  * Scale design: exact dedup is one hash aggregation; MinHash is
  * shingle-explode → groupBy(doc) minima → band-bucket self-join on
  * collision keys (never an all-pairs product); SimHash is one pass of
  * Column expressions; exact Jaccard is reserved for candidate pairs.
  */
object Dedup {

  /** Exact dedup on the normalised-text fingerprint: every doc mapped to
    * the smallest doc_id sharing its fingerprint, with the group size.
    *
    * Skew-safe by construction: per-fingerprint stats come from a hash
    * aggregation (map-side partial combine means a hot fingerprint —
    * boilerplate duplicated millions of times — never lands on one
    * reducer as raw rows), then join back. A window over the
    * fingerprint would instead sort every hot group inside a single
    * task.
    */
  def exact(docs: DataFrame, idCol: String = "doc_id",
            textCol: String = "text"): DataFrame = {
    val fp = docs.withColumn("fingerprint", TextOps.fingerprint(col(textCol)))
    val groups = fp.groupBy(col("fingerprint"))
      .agg(min(col(idCol)).as("canonical_id"),
        count(lit(1)).cast("long").as("group_size"))
      .withColumnRenamed("fingerprint", "__g_fp")
    // null-safe join key: docs with NULL text form one group (as the
    // grouping above already does) instead of silently dropping out of
    // an inner equi-join
    fp.join(groups, fp("fingerprint") <=> groups("__g_fp"))
      .withColumn("is_duplicate",
        (col(idCol) =!= col("canonical_id")).cast("int"))
      .select(col(idCol), col("canonical_id"), col("group_size"),
        col("is_duplicate"))
  }

  /** Input-parallelism probe for [[shingles]]' conditional
    * repartition. `df.rdd.getNumPartitions` forces a full physical
    * planning of the input, so a long-lived service dispatching the
    * same corpus through the wire format repeatedly would re-plan the
    * scan on every call — the count is a session `OpCache` memo per
    * canonicalized plan instead: one plan conversion per distinct input,
    * at most 1,024 inputs per session.
    */
  private def inputPartitions(docs: DataFrame): Int =
    OpCache.memo(docs.sparkSession, "dedup.inputPartitions", 1024,
      docs.queryExecution.normalized.canonicalized)(
      math.max(docs.rdd.getNumPartitions, 1))

  /** Word n-gram shingles of the normalised text, one row per distinct
    * (id, shingle) pair — SET semantics per id, even when the same id
    * appears on multiple input rows (a multi-row document): per-row
    * shingle arrays are deduplicated row-locally, then unioned per id
    * in one id-keyed aggregation.
    *
    * Shape: shingle assembly is ENTIRELY ROW-LOCAL — shingle i is
    * `array_join(slice(words, i+1, n))` over a position `sequence`,
    * deduplicated per row with `array_distinct` BEFORE anything is
    * exploded. No window, no per-row id; since assembly never leaves
    * the row, input enumeration order is irrelevant and the
    * formulation is immune to the stage-retry row-id hazard the
    * earlier window shape had to document (and r5 reviewed). History:
    * r3 measured an in-row lambda tree at ~2 ms/doc and rejected it
    * because it fused into the SCAN stage — a one-row-group file ran
    * it single-threaded (10 s at sf0.1, 31 cores idle) — and shuffled
    * word rows through a per-row-id window instead. The real fix is
    * the conditional doc-level repartition below: one narrow shuffle
    * of the raw text (strictly less data than the word rows the
    * window shuffled) restores full parallelism, and the row-local
    * assembly then beats the window path 6-12x at sf0.1 (0.8 s vs
    * 6.3 s warm at n=2, 0.4 s vs 4.6 s at n=13, identical output).
    * On a real corpus the scan already has file-split parallelism and
    * the repartition skips itself.
    *
    * The cross-row set union (r6 review, duplicate-id inputs): the
    * id-keyed `collect_list` aggregation shuffles one compact shingle
    * ARRAY per input row, keyed by id — after the conditional
    * repartition on id, the child partitioning already
    * satisfies the aggregation's distribution, so the common
    * underfilled-scan path adds NO extra shuffle (measured parity
    * with the r6 per-row shape at sf0.1); a well-split scan pays one
    * id-keyed array shuffle, which correctness genuinely requires
    * when an id can span rows. Unique-id inputs produce bit-identical
    * output to the r6 per-row form.
    *
    * Tail semantics as before: positions 1..max(len−n+1, 1) — a doc
    * shorter than n words yields its single shorter shingle (slice
    * clamps at the array end).
    */
  def shingles(docs: DataFrame, n: Int, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    // only repartition when the input underfills the cores (the
    // single-file local layout); a well-split scan stays put. The
    // target is the cores, not `Shuffle.width`: that rule runs a small
    // input as one task, and the point here is to spread a costly
    // per-row step. A streaming frame cannot be probed (no RDD before
    // execution) and the stateful consumers repartition by their own
    // keys anyway.
    val cores = docs.sparkSession.sparkContext.defaultParallelism
    val base =
      if (docs.isStreaming) docs
      else if (inputPartitions(docs) < cores) docs.repartition(cores, col(idCol))
      else docs
    val words = split(TextOps.normalize(col(textCol)), " ")
    base.select(col(idCol),
        array_distinct(transform(
          sequence(lit(0), greatest(size(words) - n, lit(0))),
          i => array_join(slice(words, i + 1, lit(n)), " "))).as("__sh"))
      .groupBy(col(idCol))
      .agg(array_distinct(flatten(collect_list(col("__sh")))).as("__sh"))
      .select(col(idCol), explode(col("__sh")).as("shingle"))
  }

  /** MinHash signatures: for each seed, the lexicographic minimum of
    * md5(shingle:seed) — a valid min-wise permutation family. Returns
    * (id, mh_0..mh_{k-1}).
    */
  def minhash(sh: DataFrame, numHashes: Int, idCol: String = "doc_id"): DataFrame = {
    val aggs = (0 until numHashes).map(s =>
      min(md5(concat(col("shingle"), lit(s":$s")))).as(s"mh_$s"))
    sh.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH candidate pairs: band the signature (r rows per band), bucket
    * on md5 of the concatenated band, self-join buckets. Emits each
    * candidate pair once (a < b). The join is on band-bucket equality —
    * shuffle on bucket keys, never an all-pairs product.
    *
    * The band table is persisted (releasable via [[graft.OpCache]])
    * before the self-join: without it each join side re-runs the whole
    * shingle → minhash signature pipeline, doubling the operator's
    * dominant cost. The cached table is nBands rows per doc — linear
    * in the corpus and tiny next to the shingle table.
    */
  def lshCandidates(signatures: DataFrame, numHashes: Int, bandRows: Int,
                    idCol: String = "doc_id"): DataFrame = {
    require(numHashes % bandRows == 0, "numHashes must divide into bands")
    val nBands = numHashes / bandRows
    val bands = graft.OpCache.persist(signatures.select(col(idCol), explode(array(
      (0 until nBands).map { b =>
        struct(lit(b).as("band"),
          md5(concat_ws("|",
            (0 until bandRows).map(r => col(s"mh_${b * bandRows + r}")): _*))
            .as("bucket"))
      }: _*)).as("bb"))
      .select(col(idCol), col("bb.band"), col("bb.bucket")))
    val a = bands.select(col(idCol).as("id_a"), col("band"), col("bucket"))
    val b = bands.select(col(idCol).as("id_b"), col("band"), col("bucket"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Exact Jaccard similarity over distinct shingle sets for given
    * pairs: |A∩B| / |A∪B| via one equi-join on the shingle plus
    * per-doc set sizes.
    */
  def jaccard(pairs: DataFrame, sh: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val shB = sh.select(col(idCol).as("id_b"), col("shingle").as("shingle_b"))
    val inter = pairs
      .join(sh.select(col(idCol).as("id_a"), col("shingle")), "id_a")
      .join(shB, shB("id_b") === pairs("id_b") && col("shingle") === col("shingle_b"))
      .groupBy(pairs("id_a"), pairs("id_b")).agg(count(lit(1)).as("inter"))
    pairs.join(inter, Seq("id_a", "id_b"), "left")
      .na.fill(0L, Seq("inter"))
      .join(sizes.select(col(idCol).as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("sz").as("sz_b")), "id_b")
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
      .select("id_a", "id_b", "jaccard")
  }

  /** Asymmetric CONTAINMENT verify over the banded candidates:
    * `c(a→b) = |A∩B| / |A|` — a document wholly quoted inside a larger
    * one scores ~1.0 here while symmetric Jaccard dives toward
    * |A|/|B| and slips under any useful threshold. The standard
    * complement to Jaccard dedup for subset/quotation duplication.
    * Same plan as [[jaccard]] (the intersection aggregation already
    * carries both set sizes); emits both directions per candidate
    * pair, filtered at `threshold` on the max direction.
    *
    * Recall caveat: the candidates are the JACCARD-tuned LSH bands, so
    * an extreme-asymmetry pair (tiny doc inside a huge one — Jaccard
    * near zero) may never band together however high its containment;
    * size the banding (numHashes up, bandRows = 1) for the smallest
    * Jaccard you must recall.
    *
    * @return (id_a, id_b, containment_a, containment_b, jaccard)
    */
  def containmentPairs(docs: DataFrame, shingleSize: Int, numHashes: Int,
                       bandRows: Int, threshold: Double,
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    val sh = graft.OpCache.persist(shingles(docs, shingleSize, idCol, textCol))
    val sig = minhash(sh, numHashes, idCol)
    val cand = lshCandidates(sig, numHashes, bandRows, idCol)
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val shB = sh.select(col(idCol).as("id_b"), col("shingle").as("shingle_b"))
    val inter = cand
      .join(sh.select(col(idCol).as("id_a"), col("shingle")), "id_a")
      .join(shB, shB("id_b") === cand("id_b") && col("shingle") === col("shingle_b"))
      .groupBy(cand("id_a"), cand("id_b")).agg(count(lit(1)).as("inter"))
    cand.join(inter, Seq("id_a", "id_b"), "left")
      .na.fill(0L, Seq("inter"))
      .join(sizes.select(col(idCol).as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("sz").as("sz_b")), "id_b")
      .withColumn("containment_a",
        round(col("inter").cast("double") / col("sz_a").cast("double"), 6))
      .withColumn("containment_b",
        round(col("inter").cast("double") / col("sz_b").cast("double"), 6))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter")).cast("double"), 6))
      .filter(greatest(col("containment_a"), col("containment_b")) >= threshold)
      .select("id_a", "id_b", "containment_a", "containment_b", "jaccard")
  }

  /** MinHash+LSH near-duplicate detection end-to-end: shingle → sign →
    * band → candidates → exact-Jaccard verify ≥ threshold.
    *
    * @param cacheShingles cache the thrice-read shingle table (default).
    *   The handle is registered with [[graft.OpCache]], so a long-lived
    *   service can `OpCache.release(session)` between requests;
    *   alternatively pass false and manage your own materialisation.
    */
  def minhashLsh(docs: DataFrame, shingleSize: Int, numHashes: Int,
                 bandRows: Int, threshold: Double,
                 idCol: String = "doc_id", textCol: String = "text",
                 cacheShingles: Boolean = true): DataFrame = {
    val sh0 = shingles(docs, shingleSize, idCol, textCol)
    val sh = if (cacheShingles) graft.OpCache.persist(sh0) else sh0
    val sig = minhash(sh, numHashes, idCol)
    val cand = lshCandidates(sig, numHashes, bandRows, idCol)
    jaccard(cand, sh, idCol).filter(col("jaccard") >= threshold)
  }

  /** LSH banding RECALL audit — one verdict row: the banded-candidate
    * pipeline's pairs at `threshold` against the COMPLETE ground truth
    * (every pair sharing at least one shingle, exact-Jaccard-verified —
    * complete because jaccard > 0 requires a shared shingle, and the
    * generation is shingle-keyed, never all-pairs). Banding trades
    * recall for candidate volume by design; this row pins the trade on
    * the gate data so a hash/banding regression (or an S-curve shift
    * from a parameter change) hash-mismatches. Precision is 1 by
    * construction (LSH pairs are exact-verified at the same threshold),
    * so the row reports the recall side only.
    *
    * @return one row (n_true, n_lsh, n_hit, recall)
    */
  def lshRecallAudit(docs: DataFrame, shingleSize: Int, numHashes: Int,
                     bandRows: Int, threshold: Double,
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    val sh = graft.OpCache.persist(shingles(docs, shingleSize, idCol, textCol))
    val truthCand = sh.select(col(idCol).as("id_a"), col("shingle"))
      .join(sh.select(col(idCol).as("id_b"), col("shingle")), "shingle")
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    // truth and lsh are each consumed twice below (the hit join and
    // their own counts) — persisted (releasable, OpCache) so the
    // shingle-join + jaccard pipelines run once per side, not twice
    // (r15: the audit's cost was dominated by exactly this re-run).
    // Both frames are post-threshold pair lists, far smaller than the
    // candidate products that build them.
    val truth = graft.OpCache.persist(jaccard(truthCand, sh, idCol)
      .filter(col("jaccard") >= threshold).select("id_a", "id_b"))
    val sig = minhash(sh, numHashes, idCol)
    val cand = lshCandidates(sig, numHashes, bandRows, idCol)
    val lsh = graft.OpCache.persist(jaccard(cand, sh, idCol)
      .filter(col("jaccard") >= threshold).select("id_a", "id_b"))
    val hits = truth.join(lsh, Seq("id_a", "id_b"))
      .agg(count(lit(1)).as("n_hit"))
    truth.agg(count(lit(1)).as("n_true"))
      .crossJoin(lsh.agg(count(lit(1)).as("n_lsh")))
      .crossJoin(hits)
      .select(col("n_true"), col("n_lsh"), col("n_hit"),
        round(col("n_hit") / greatest(col("n_true"), lit(1L)), 6)
          .as("recall"))
  }

  /** MinHash ESTIMATOR quality as a gate row (the recall-gate
    * discipline applied to the dedup family): over the banded
    * candidate pairs, the exact Jaccard (oracle-checked value) plus a
    * verdict that the signature estimate — matching components /
    * numHashes — tracks it within `bound` on average. A broken hash
    * family or banding bug floods the estimate error; the per-pair
    * binomial spread (σ ≈ 0.5/√k) is PropertySpec's S-curve territory,
    * so the gate is the corpus-level mean, which stays deterministic.
    *
    * @return one row (n_pairs, mean_jaccard, est_ok)
    */
  def minhashEstimateGate(docs: DataFrame, shingleSize: Int,
                          numHashes: Int, bandRows: Int, bound: Double,
                          idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    val sh = graft.OpCache.persist(shingles(docs, shingleSize, idCol, textCol))
    val sig = graft.OpCache.persist(minhash(sh, numHashes, idCol))
    val cand = lshCandidates(sig, numHashes, bandRows, idCol)
    val exact = jaccard(cand, sh, idCol)
    val sigA = sig.select(col(idCol).as("id_a") +:
      (0 until numHashes).map(s => col(s"mh_$s").as(s"__a_$s")): _*)
    val sigB = sig.select(col(idCol).as("id_b") +:
      (0 until numHashes).map(s => col(s"mh_$s").as(s"__b_$s")): _*)
    val est = (0 until numHashes).map(s =>
      when(col(s"__a_$s") === col(s"__b_$s"), 1).otherwise(0))
      .reduce(_ + _).cast("double") / numHashes
    exact.join(sigA, "id_a").join(sigB, "id_b")
      .withColumn("__est", est)
      .agg(count(lit(1)).as("n_pairs"),
        round(avg(col("jaccard")), 6).as("mean_jaccard"),
        (avg(abs(col("__est") - col("jaccard"))) <= bound).as("est_ok"))
  }

  /** 16-bit SimHash from the MSB of each md5 hex digit of every token:
    * bit j is 1 iff the frequency-weighted sum of (±1 per token) is
    * positive. Returned as a 16-char '0'/'1' string (portable across
    * engines — no 64-bit arithmetic required).
    *
    * NOT the corpus-scale path: 2¹⁶ signature values collide constantly
    * past ~10⁴ docs and the 8-bit blocking halves of [[simhashPairs]]
    * cap at 256 buckets. Use [[simhash64]]/[[simhash64Pairs]] for real
    * corpora; this form stays as the compact-signature variant and
    * oracle fixture.
    */
  def simhash(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text"): DataFrame = {
    // single-level: at 16 bits the aggregate expressions are cheap
    // enough that simhash64's count-then-weight pre-aggregation costs
    // more (an extra shuffle) than it saves — measured 1.0 s vs 1.6 s
    // at sf0.1
    val toks = docs.select(col(idCol),
      explode(split(TextOps.normalize(col(textCol)), " ")).as("tok"))
      .withColumn("h", md5(col("tok")))
    // hex-MSB as one byte comparison (see simhash64): {8,9,a..f} over
    // the md5 alphabet is exactly ascii >= 56
    val bits = (1 to 16).map { j =>
      sum(when(ascii(substring(col("h"), j, 1)) >= 56, 1).otherwise(-1))
    }
    toks.groupBy(col(idCol))
      .agg(concat(bits.map(b => when(b > 0, "1").otherwise("0")): _*).as("simhash"))
  }

  /** Hamming distance between two equal-length bit strings. */
  /** Hamming distance between equal-width '0'/'1' signatures — a
    * native codegen'd Expression (one byte loop) since r9; the earlier
    * nBits-term substring-comparison chain allocated 2·nBits
    * UTF8Strings per row and its generated method grew with the
    * signature width. `nBits` stays in the signature as the DOCUMENTED
    * width contract (all call sites pass fixed-width signatures, where
    * the min-length byte loop computes the identical sum).
    */
  def hamming(a: Column, b: Column, nBits: Int): Column =
    graft.functions.HammingDistance.hamming(a, b)

  /** SimHash near-dup pairs with hamming distance <= maxDist, blocked on
    * the two 8-bit halves (a pair within distance d<=8 must agree on at
    * least one half only when d is concentrated — for 16-bit keys with
    * maxDist<=7 and half-agreement blocking this is the standard
    * approximate blocking; pairs differing in both halves are missed by
    * design, like any LSH).
    */
  def simhashPairs(docs: DataFrame, maxDist: Int,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sig = simhash(docs, idCol, textCol)
      .withColumn("h1", substring(col("simhash"), 1, 8))
      .withColumn("h2", substring(col("simhash"), 9, 8))
    val blocks = sig.select(col(idCol), col("simhash"),
      explode(array(concat(lit("1:"), col("h1")), concat(lit("2:"), col("h2"))))
        .as("block"))
    val a = blocks.select(col(idCol).as("id_a"), col("simhash").as("sh_a"), col("block"))
    val b = blocks.select(col(idCol).as("id_b"), col("simhash").as("sh_b"), col("block"))
    a.join(b, "block").filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sh_a", "sh_b").distinct()
      .withColumn("hamming", hamming(col("sh_a"), col("sh_b"), 16))
      .filter(col("hamming") <= maxDist)
      .select("id_a", "id_b", "hamming")
  }

  /** Edit-distance-verified near-dup pairs — the character-level
    * complement of the token-set (MinHash/Jaccard) and bit-sketch
    * (SimHash) families: catches small SUBSTITUTION edits (typo
    * variants, template fills, OCR noise) that token shingles smear
    * across many shingle keys. Candidates come from the simhash band
    * blocking (never all-pairs); the verify is EXACT bounded
    * Levenshtein on the normalized text — Spark's thresholded
    * implementation runs the O(len·maxEdits) banded DP and bails at
    * maxEdits+1, so a non-match costs O(len·d), not O(len²).
    *
    * 100 TB note: per-pair cost scales with document length — bound
    * `textCol` (a prefix or chunk) for long-document corpora; the
    * candidate volume itself stays band-bounded.
    *
    * @return (id_a, id_b, edits) for verified pairs, edits <= maxEdits
    */
  def editPairs(docs: DataFrame, maxEdits: Int, maxDist: Int = 3,
                idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(maxEdits >= 0, s"maxEdits must be >= 0, got $maxEdits")
    val cand = simhashPairs(docs, maxDist, idCol, textCol)
    val txt = docs.select(col(idCol), TextOps.normalize(col(textCol)).as("__nt"))
    cand
      .join(txt.select(col(idCol).as("id_a"), col("__nt").as("__ta")), "id_a")
      .join(txt.select(col(idCol).as("id_b"), col("__nt").as("__tb")), "id_b")
      .withColumn("edits", levenshtein(col("__ta"), col("__tb"), maxEdits + 1))
      .filter(col("edits") >= 0 && col("edits") <= maxEdits)
      .select(col("id_a"), col("id_b"), col("edits"))
  }

  /** 64-bit SimHash — the corpus-scale signature. Bits 1..32 are the
    * hex-MSB projection of md5(tok); bits 33..64 the same projection of
    * md5(tok || '#2') — two independent hash families, same
    * portable-string trick as the 16-bit form (no 64-bit integer
    * arithmetic, so the identical computation runs in any SQL engine).
    *
    * Why 64: at 10⁹ docs a 16-bit signature collides constantly (2¹⁶
    * values) and its 8-bit blocking halves give ≤256 buckets — the
    * blocked self-join degenerates toward all-pairs inside hot buckets.
    * 64 bits push random-pair collision to ~2⁻⁶⁴ and the 16-bit bands
    * of [[simhash64Pairs]] give 65 536 buckets per band.
    */
  def simhash64(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    // two-level shape: count token frequencies first, then evaluate the
    // 64 bit expressions (and both md5s) once per DISTINCT (doc, token)
    // with the ±1 weighted by the count — on a Zipf-distributed corpus
    // the expensive stage runs on a fraction of the token instances,
    // and the extra (doc, tok) shuffle is count-combined map-side.
    // Measured 3.2 s → 2.4 s at sf0.1; NOT worth it at 16 bits (see
    // simhash), where the per-row expressions are too cheap to amortise
    // the shuffle.
    val counts = docs.select(col(idCol),
        explode(split(TextOps.normalize(col(textCol)), " ")).as("tok"))
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("c"))
      .withColumn("h1", md5(col("tok")))
      .withColumn("h2", md5(concat(col("tok"), lit("#2"))))
    // hex-MSB test as one byte comparison: md5 hex digits are 0-9a-f,
    // whose high half {8,9,a..f} is exactly ascii >= 56 — 8× cheaper
    // than an 8-way string isin, and these 64 aggregate expressions
    // ARE the operator's hot loop
    def bitsOf(c: String) = (1 to 32).map(j =>
      sum(when(ascii(substring(col(c), j, 1)) >= 56, col("c")).otherwise(-col("c"))))
    val bits = bitsOf("h1") ++ bitsOf("h2")
    counts.groupBy(col(idCol))
      .agg(concat(bits.map(b => when(b > 0, "1").otherwise("0")): _*)
        .as("simhash64"))
  }

  /** ROW-LOCAL 64-bit SimHash — the same signature as [[simhash64]]
    * computed as one Column expression (an `aggregate` fold over the
    * row's own token array instead of an explode + groupBy), for
    * STREAMING frames where a per-doc aggregation would be a stateful
    * operator. Weighting by token count over distinct tokens equals
    * summing ±1 over token instances, so the fold is bit-identical to
    * the batch aggregation (SimhashSpec pins it).
    */
  def simhash64Expr(text: Column): Column = {
    val toks = split(TextOps.normalize(text), " ")
    val hs = transform(toks, t =>
      struct(md5(t).as("h1"), md5(concat(t, lit("#2"))).as("h2")))
    val acc = aggregate(hs, array_repeat(lit(0), 64), (a, h) => {
      // hex-MSB as one byte comparison, as in simhash64
      def bitsOf(c: Column) = transform(sequence(lit(1), lit(32)), j =>
        when(ascii(c.substr(j, lit(1))) >= 56, 1).otherwise(-1))
      zip_with(a,
        concat(bitsOf(h.getField("h1")), bitsOf(h.getField("h2"))),
        (x, y) => x + y)
    })
    array_join(transform(acc, v => when(v > 0, "1").otherwise("0")), "")
  }

  /** Near-dup pairs over the 64-bit signature, band-blocked: the
    * signature splits into 4 bands of 16 bits and a pair becomes a
    * candidate iff it agrees EXACTLY on at least one band. By
    * pigeonhole, `maxDist <= 3` makes the blocking exact — 3 differing
    * bits cannot touch all 4 bands, so every qualifying pair shares an
    * identical band; `maxDist >= 4` has the usual LSH recall loss.
    *
    * Scale shape: the self-join shuffles on (band, 16-bit bucket) keys
    * only — 4×65 536 buckets, never an all-pairs product; band rows per
    * doc are constant (4), so the blocked table is 4× the corpus, not
    * quadratic.
    */
  def simhash64Pairs(docs: DataFrame, maxDist: Int = 3,
                     idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    bandedHammingPairs(simhash64(docs, idCol, textCol),
      "simhash64", idCol, maxDist)

  /** Banded hamming near-dup pairs over ANY fixed-width '0'/'1' bit
    * signature column (simhash64, image dHash, audio fingerprints …):
    * 4 equal bands bucket the self-join, so candidates share at least
    * one identical quarter — EXACT for maxDist ≤ 3 by pigeonhole
    * (3 differing bits cannot touch all 4 bands), the standard
    * approximate blocking beyond that. The signature frame is
    * persisted (releasable, OpCache) so the self-join's two sides
    * don't each recompute it — upstream signature derivation is
    * usually the dominant cost and blocks are only 4 rows per id.
    *
    * @return (id_a, id_b, hamming) with id_a < id_b
    */
  def bandedHammingPairs(sig: DataFrame, sigCol: String, idCol: String,
                         maxDist: Int, nBits: Int = 64): DataFrame = {
    require(nBits % 4 == 0, s"nBits must be divisible by 4, got $nBits")
    val w = nBits / 4
    val bandCols = (0 until 4).map(bnd =>
      concat(lit(s"$bnd:"), substring(col(sigCol), 1 + w * bnd, w)))
    val blocks = graft.OpCache.persist(sig.select(col(idCol), col(sigCol),
      explode(array(bandCols: _*)).as("block")))
    val a = blocks.select(col(idCol).as("id_a"), col(sigCol).as("sh_a"), col("block"))
    val b = blocks.select(col(idCol).as("id_b"), col(sigCol).as("sh_b"), col("block"))
    a.join(b, "block").filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sh_a", "sh_b").distinct()
      .withColumn("hamming", hamming(col("sh_a"), col("sh_b"), nBits))
      .filter(col("hamming") <= maxDist)
      .select("id_a", "id_b", "hamming")
  }

  /** Duplicate-cluster resolution: connected components over an
    * undirected candidate-pair list (the output of simhashPairs /
    * minhashLsh / lshNearDupPairs), labelling every node with the
    * smallest doc id reachable from it — the canonical representative
    * a dedup pipeline keeps.
    *
    * Executes as iterative min-label propagation with pointer
    * jumping: each pass, every node adopts the minimum label in its
    * closed neighbourhood (one shuffled join + hash aggregation), then
    * chases one level of indirection — labels are themselves node ids,
    * so `label(v) := label(label(v))` halves every label chain. The
    * jump makes convergence O(log diameter) passes instead of
    * O(diameter), which is what lets the same loop survive a
    * pathological near-duplicate CHAIN (a->b->c->...) at corpus scale,
    * not just the dense blobs dedup graphs usually form.
    * `localCheckpoint` truncates the growing lineage per pass (as the
    * MICE chain does), and convergence detection rides on the
    * checkpointed result (old label carried through — a column filter,
    * not an extra join job). The 64-pass bound is a backstop: 2^64
    * exceeds any component diameter.
    *
    * Small graphs — Long ids, a null-free edge list
    * ([[graft.graphs.Edges.cleanCount]]; empty allowed) and a node count
    * both within the bound — run a single-task union-find with min-id roots instead
    * ([[graft.graphs.Edges.inOneTask]]), the identical labelling (both
    * are exact min-id-per-component) without O(log D) scheduled passes.
    *
    * @param nodes one row per document (isolated docs become their own
    *   singleton cluster)
    * @param smallGraphRows single-task dispatch bound on edge AND node
    *   counts (`<= 0` pins the distributed loop; ids must be LongType
    *   for the local path, any other id type keeps the loop)
    * @return (idCol, cluster_id, cluster_size)
    */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame,
                          idCol: String = "doc_id",
                          smallGraphRows: Long = Edges.SmallGraphRows): DataFrame = {
    val edges = graft.OpCache.persist(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
        .distinct())
    val idIsLong = nodes.select(col(idCol)).schema.head.dataType ==
      org.apache.spark.sql.types.LongType
    // unlike the other graph operators, an empty pair list (a corpus
    // with no near-duplicates) is valid union-find input: all singletons
    if (idIsLong && smallGraphRows > 0 &&
        Edges.cleanCount(edges).exists(_ <= smallGraphRows) &&
        nodes.count() <= smallGraphRows)
      return finishComponents(localMinLabels(nodes, edges, idCol), idCol)
    var labels = nodes.select(col(idCol).as("node"), col(idCol).as("cluster_id"))
      .localCheckpoint()
    var converged = false
    var pass = 0
    while (!converged && pass < 64) {
      val nbrMin = edges.join(labels, edges("dst") === labels("node"))
        .groupBy(col("src"))
        .agg(min(col("cluster_id")).as("nbr_min"))
      val propagated = labels.join(nbrMin, labels("node") === nbrMin("src"), "left")
        .select(col("node"), col("cluster_id").as("__old"),
          least(col("cluster_id"), coalesce(col("nbr_min"), col("cluster_id")))
            .as("cluster_id"))
      // pointer jump: a label IS a node id, so re-keying through the
      // (checkpointed) PREVIOUS label table halves every chain —
      // label'(v) := min(prop(v), label(prop(v))). Jumping through the
      // old table instead of `propagated` itself keeps the pass a
      // single materialisation (a self-join of the unmaterialised
      // propagated plan would recompute its whole lineage twice) at
      // the cost of the jump lagging one pass — still O(log diameter).
      // Labels only ever hold node ids, so the inner join is total.
      // r16 retry of the FULL pointer-doubling variant (jump through
      // the freshly-checkpointed propagated table — halves passes at
      // the cost of a second per-pass materialization): quiet-box
      // interleaved both-orders A/B came out MIXED (q_cc_stats 0.93×,
      // q_dedup_clusters 1.14× on minima; medians split the same
      // way) — below the ≤0.9× adoption bar both rounds. The lagged
      // jump stays: same O(log diameter) bound, half the per-pass
      // checkpointed bytes, which is the term that matters at scale.
      val jumped = propagated.alias("a")
        .join(labels.select(col("node").as("__ln"),
          col("cluster_id").as("__lc")), col("a.cluster_id") === col("__ln"))
        .select(col("a.node").as("node"), col("__old"),
          least(col("a.cluster_id"), col("__lc")).as("cluster_id"))
        .localCheckpoint()
      val changed = jumped.filter(col("cluster_id") =!= col("__old"))
        .limit(1).count()
      labels = jumped.drop("__old")
      converged = changed == 0
      pass += 1
    }
    finishComponents(labels, idCol)
  }

  /** Shared tail of [[connectedComponents]]: attach per-cluster sizes
    * to a (node, cluster_id) labelling and restore the caller's id
    * column name.
    */
  private def finishComponents(labels: DataFrame, idCol: String): DataFrame = {
    val sizes = labels.groupBy(col("cluster_id"))
      .agg(count(lit(1)).cast("long").as("cluster_size"))
    labels.join(sizes, "cluster_id")
      .select(col("node").as(idCol), col("cluster_id"), col("cluster_size"))
  }

  /** Single-task exact labelling for [[connectedComponents]]'s
    * small-graph dispatch: union-find where the smaller root always
    * wins, so every component's root — and therefore every label — is
    * the component's minimum node id, exactly the loop's fixpoint.
    * Loop parity is preserved row-for-row on contract-conforming
    * input (one row per document — the loop's pointer-jump join
    * multiplies duplicate node rows per pass, so duplicates are
    * caller error on EITHER path): null node ids emit nothing (the
    * loop drops them in the final size join), and edges with either
    * endpoint missing from `nodes` propagate nothing (the loop's
    * label joins ignore them).
    */
  private def localMinLabels(nodes: DataFrame, edges: DataFrame,
                             idCol: String): DataFrame = {
    Edges.inOneTask(Edges.withNodes(nodes, col(idCol), lit(null), edges),
      "node", "cluster_id") { (it: Iterator[(Option[Long], Option[Long], Boolean)]) =>
      val g = Edges.readNodesAndEdges(it)
      val nodeArr = g.ids; val srcArr = g.src; val dstArr = g.dst
      val parent = new scala.collection.mutable.LongMap[Long](
        math.max(16, nodeArr.length * 2))
      nodeArr.foreach(n => if (!parent.contains(n)) parent(n) = n)
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      var i = 0
      while (i < srcArr.length) {
        val s = srcArr(i); val d = dstArr(i)
        if (parent.contains(s) && parent.contains(d)) {
          val rs = find(s); val rd = find(d)
          if (rs < rd) parent(rd) = rs
          else if (rd < rs) parent(rs) = rd
        }
        i += 1
      }
      nodeArr.iterator.map(n => (n, find(n)))
    }
  }

  /** Cluster-size histogram over a [[connectedComponents]] labelling —
    * the graph-health audit a dedup run reports: how many components
    * of each size exist, how many documents they absorb, and each
    * size's share of the corpus (a giant component = the banding
    * threshold is too loose; all singletons = too tight).
    *
    * One distinct over (cluster, size) — bounded by component count —
    * then a size-keyed count and a 1-row broadcast total. Exact longs
    * throughout; only the share divides.
    *
    * @return (cluster_size, n_clusters, n_docs, doc_share)
    */
  def componentStats(cc: DataFrame): DataFrame = {
    val perSize = cc.select(col("cluster_id"), col("cluster_size"))
      .distinct()
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
    val tot = perSize.agg(sum(col("n_docs")).as("__t"))
    perSize.crossJoin(broadcast(tot))
      .select(col("cluster_size"), col("n_clusters"), col("n_docs"),
        round(col("n_docs").cast("double") / col("__t"), 6).as("doc_share"))
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    * scheme): hash every word k-gram, slide a window of `w` hashes,
    * keep each window's MINIMUM — guaranteeing any shared run of
    * ≥ w + k − 1 tokens contributes at least one shared fingerprint,
    * with ~2/(w+1) of grams selected. The local-similarity
    * complement of MinHash (which estimates GLOBAL Jaccard): winnowing
    * localises WHERE documents overlap, the plagiarism/attribution
    * primitive.
    *
    * Everything up to the pair join is ROW-LOCAL (grams, window
    * minima, distinct — array HOFs, no per-token shuffle); candidate
    * pairs come from a fingerprint-keyed self-join whose fan-out is
    * bounded by dropping fingerprints shared by more than `maxDf`
    * docs (the bm25 stop-term discipline — boilerplate cannot explode
    * the join). Hashes are md5 hex strings, so lexicographic minima
    * reproduce in any engine.
    *
    * @return (id_a, id_b, n_shared BIGINT) — pairs sharing
    *   ≥ `minShared` selected fingerprints
    */
  def winnowPairs(docs: DataFrame, k: Int = 3, w: Int = 4,
                  minShared: Long = 2L, maxDf: Long = 50L,
                  idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    require(k >= 1 && w >= 1, s"need k, w >= 1, got ($k, $w)")
    require(minShared >= 1L && maxDf >= 2L, "need minShared >= 1, maxDf >= 2")
    val words = split(TextOps.normalize(col(textCol)), " ")
    val withGrams = docs
      .select(col(idCol), words.as("ws"))
      .filter(size(col("ws")) >= k + w - 1)
      .select(col(idCol), transform(
        sequence(lit(1), size(col("ws")) - (k - 1)),
        i => md5(concat_ws(" ", slice(col("ws"), i, lit(k))))).as("hs"))
    val fps = withGrams.select(col(idCol), explode(array_distinct(transform(
        sequence(lit(1), size(col("hs")) - (w - 1)),
        j => array_min(slice(col("hs"), j, lit(w)))))).as("fp"))
    // df prune as COUNT + semi-join (never a collect_list buffer — a
    // mega-hot boilerplate fingerprint must not grow an agg buffer
    // before its own filter)
    // persisted before the self-join (the LSH band-table discipline) —
    // otherwise BOTH join sides re-run the whole gram/winnow pipeline
    val fpsP = graft.OpCache.persist(fps)
    val keep = fpsP.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("fp")
    val pruned = graft.OpCache.persist(fpsP.join(keep, "fp"))
    pruned.as("a")
      .join(pruned.as("b"), col("a.fp") === col("b.fp")
        && col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Canonical-document selection over near-dup clusters: instead of
    * "keep first" (arbitrary) the curation pipeline keeps the HIGHEST
    * QUALITY copy of each duplicate cluster — join the cluster
    * assignment with a per-doc quality score and flag the per-cluster
    * argmax (ties break to the smallest id, so selection is total and
    * deterministic).
    *
    * Scale shape: one keyed join plus a window partitioned by
    * cluster_id — cluster populations are duplicate-group-sized (tiny
    * versus the corpus), so the window never concentrates load; the
    * quality scores should arrive pre-rounded (1e-9) so the ordering
    * is engine- and partitioning-invariant.
    *
    * @param clusters (idCol, cluster_id, cluster_size) — e.g. from
    *   [[connectedComponents]]
    * @param quality (idCol, qCol)
    * @return clusters columns + qCol + keep (1 = canonical)
    */
  def keepBest(clusters: DataFrame, quality: DataFrame,
               idCol: String = "doc_id", qCol: String = "quality"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id").orderBy(col(qCol).desc, col(idCol))
    clusters.join(quality, idCol)
      .withColumn("keep", (row_number().over(w) === 1).cast("int"))
  }

  /** Repeated-span REMOVAL — duplicate-text dedup below document
    * granularity (the "dedup the span, not the doc" approach of
    * exact-substring training-data dedup): every token covered by a
    * word n-gram that occurs in ≥ `minDf` distinct documents is cut,
    * and the surviving tokens are reassembled in order. Catches the
    * boilerplate/template spans that doc-level fingerprints and
    * near-dup pairs both miss.
    *
    * Scale shape: positional n-grams are row-local (same
    * slice/array_join discipline as [[shingles]], position kept, no
    * distinct); the duplicate-gram set is one map-side-combined
    * count-distinct keyed by gram; coverage returns per doc as a
    * collect_set of start positions (bounded by doc length) and the
    * reassembly is a row-local filter-with-index — content-keyed
    * shuffles only, nothing quadratic, no window.
    *
    * @return (idCol, cleaned, n_removed BIGINT) — normalised text with
    *   covered spans removed
    */
  def removeRepeatedSpans(docs: DataFrame, n: Int, minDf: Long = 2L,
                          idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    require(n > 0 && minDf >= 2, "need n > 0 and minDf >= 2")
    val words = split(TextOps.normalize(col(textCol)), " ")
    val base = docs.select(col(idCol), words.as("__ws"))
    // (id, pos, gram-key) for every FULL n-gram start; docs shorter
    // than n contribute none (sequence would count down for a negative
    // stop, hence the explicit guard). Grams travel as 16-hex-char md5
    // prefixes, not strings: the df aggregation and dup join shuffle
    // ~3x less than ~50-char raw grams, and the truncation is part of
    // the operator definition (the oracle mirrors substring(md5, 16)
    // exactly, so a freak prefix collision — ~2⁻⁶⁴·|grams|² — cannot
    // desynchronise engines).
    val grams = graft.OpCache.persist(base
      .withColumn("__g",
        when(size(col("__ws")) >= n,
          transform(sequence(lit(0), size(col("__ws")) - n),
            i => substring(md5(array_join(slice(col("__ws"), i + 1, lit(n)), " ")), 1, 16)))
          .otherwise(array()))
      .select(col(idCol), posexplode(col("__g")).as(Seq("pos", "gram"))))
    val dup = grams.groupBy(col("gram"))
      .agg(countDistinct(col(idCol)).as("__df"))
      .filter(col("__df") >= minDf)
      .select(col("gram"))
    val covered = grams.join(dup, "gram")
      .groupBy(col(idCol))
      .agg(collect_set(col("pos")).as("__starts"))
    base.join(covered, Seq(idCol), "left")
      .withColumn("__starts",
        coalesce(col("__starts"), array().cast("array<int>")))
      .withColumn("__kept",
        filter(col("__ws"), (_, i) =>
          !exists(col("__starts"), s => s <= i && i < s + n)))
      .select(col(idCol),
        array_join(col("__kept"), " ").as("cleaned"),
        (size(col("__ws")) - size(col("__kept"))).cast("long").as("n_removed"))
  }

  /** Keep-FIRST repeated-span removal — the C4-style variant of
    * [[removeRepeatedSpans]]: of all occurrences of a duplicated word
    * n-gram across the corpus, the canonical one (smallest
    * `(doc_id, position)` lexicographically) SURVIVES and every other
    * occurrence is cut. Where [[removeRepeatedSpans]] deletes a
    * boilerplate span from every document (right for navigation chrome
    * / license headers), keep-first retains exactly one copy of the
    * span in the corpus — the convention of C4's three-sentence-span
    * dedup, which preserves the information while killing the
    * repetition bias.
    *
    * A token is removed iff it is covered by at least one
    * NON-canonical occurrence of a duplicated gram; tokens covered
    * only by canonical occurrences stay. (Overlapping grams make
    * per-token attribution ambiguous in general; "any non-canonical
    * coverage removes" is the deterministic, order-free resolution,
    * and both engine and oracle state it identically.)
    *
    * Scale shape: identical to [[removeRepeatedSpans]] — row-local
    * positional grams, one map-side-combined aggregation per gram key
    * (now also carrying `min(struct(id, pos))`, a single extra
    * combinable aggregate), content-keyed joins, row-local reassembly.
    * Nothing quadratic, no window function anywhere.
    */
  def removeRepeatedSpansKeepFirst(docs: DataFrame, n: Int, minDf: Long = 2L,
                                   idCol: String = "doc_id",
                                   textCol: String = "text"): DataFrame = {
    require(n > 0 && minDf >= 2, "need n > 0 and minDf >= 2")
    val words = split(TextOps.normalize(col(textCol)), " ")
    val base = docs.select(col(idCol), words.as("__ws"))
    val grams = graft.OpCache.persist(base
      .withColumn("__g",
        when(size(col("__ws")) >= n,
          transform(sequence(lit(0), size(col("__ws")) - n),
            i => substring(md5(array_join(slice(col("__ws"), i + 1, lit(n)), " ")), 1, 16)))
          .otherwise(array()))
      .select(col(idCol), posexplode(col("__g")).as(Seq("pos", "gram"))))
    // one aggregation yields both the document frequency and the
    // canonical occurrence: min over struct is lexicographic, so
    // __canon is exactly ROW_NUMBER() = 1 under ORDER BY (doc_id, pos)
    val dup = grams.groupBy(col("gram"))
      .agg(countDistinct(col(idCol)).as("__df"),
        min(struct(col(idCol).as("id"), col("pos").as("p"))).as("__canon"))
      .filter(col("__df") >= minDf)
      .select(col("gram"), col("__canon"))
    val covered = grams.join(dup, "gram")
      .filter(!(col(idCol) === col("__canon.id") && col("pos") === col("__canon.p")))
      .groupBy(col(idCol))
      .agg(collect_set(col("pos")).as("__starts"))
    base.join(covered, Seq(idCol), "left")
      .withColumn("__starts",
        coalesce(col("__starts"), array().cast("array<int>")))
      .withColumn("__kept",
        filter(col("__ws"), (_, i) =>
          !exists(col("__starts"), s => s <= i && i < s + n)))
      .select(col(idCol),
        array_join(col("__kept"), " ").as("cleaned"),
        (size(col("__ws")) - size(col("__kept"))).cast("long").as("n_removed"))
  }

  /** Distinct character n-grams of the normalised text. */
  def charGrams(docs: DataFrame, n: Int, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    val norm = TextOps.normalize(col(textCol))
    val idx = sequence(lit(1), greatest(length(norm) - (n - 1), lit(1)))
    docs.select(col(idCol),
      explode(array_distinct(transform(idx, i => norm.substr(i, lit(n)))))
        .as("shingle"))
  }

  /** Exact character-n-gram Jaccard over all pairs of a bounded doc set
    * (the exact-verification path; the LSH variants above are the scale
    * path — never run this on an unbounded corpus).
    */
  /** Dedup impact report — the curation dashboard number: per source,
    * how many documents (and tokens) survive a global exact dedup
    * (keep-lowest-id per normalized fingerprint), and the duplicate
    * ratio. The decision input for "is this crawl worth ingesting":
    * a source whose token mass is 60% duplicates of the corpus-wide
    * keeps shrinks the training mix far below its raw size.
    *
    * One fingerprint aggregation (global keeps) + one source-keyed
    * aggregation over the joined-back flags — both map-side
    * combinable; output is O(#sources).
    *
    * @return (source, n_docs, n_kept, tokens, tokens_kept, dup_ratio)
    */
  def dedupImpact(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text",
                  sourceCol: String = "source"): DataFrame = {
    val base = docs.select(col(idCol), col(sourceCol).as("source"),
      TextOps.fingerprint(col(textCol)).as("__fp"),
      TextOps.tokenCount(col(textCol)).cast("long").as("__nt"))
    val keep = base.groupBy("__fp").agg(min(col(idCol)).as("__keep"))
    base.join(keep, "__fp")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum((col(idCol) === col("__keep")).cast("long")).as("n_kept"),
        sum(col("__nt")).as("tokens"),
        sum(when(col(idCol) === col("__keep"), col("__nt")).otherwise(0L))
          .as("tokens_kept"))
      .withColumn("dup_ratio",
        round(lit(1.0) - col("n_kept").cast("double") / col("n_docs"), 6))
  }

  /** "More like this" retrieval: the top-`k` most-similar documents
    * per seed document by EXACT shingle Jaccard, with the candidate
    * set bounded by MinHash banding — the third retrieval modality
    * next to BM25 (keyword) and ANN (embedding), and the scale shape
    * is the dedup family's: banded bucket join, never seed×corpus.
    * Pairs are symmetrized so a seed matches in either direction; the
    * per-seed rank window is bounded by that seed's candidate count.
    *
    * @return (seed_id, match_id, jaccard, match_rank) for seeds with
    *         id < maxSeedId
    */
  def moreLikeThis(docs: DataFrame, maxSeedId: Long, k: Int,
                   shingleSize: Int, numHashes: Int, bandRows: Int,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val sh = graft.OpCache.persist(shingles(docs, shingleSize, idCol, textCol))
    val sig = minhash(sh, numHashes, idCol)
    val cand = lshCandidates(sig, numHashes, bandRows, idCol)
    // persisted (releasable, OpCache): the symmetrization consumes j
    // in BOTH directions — unpersisted, the banded candidate join +
    // jaccard aggregation executed twice per call (r15)
    val j = graft.OpCache.persist(jaccard(cand, sh, idCol))
    val sym = j.select(col("id_a").as("seed_id"), col("id_b").as("match_id"),
        col("jaccard"))
      .unionByName(j.select(col("id_b").as("seed_id"),
        col("id_a").as("match_id"), col("jaccard")))
      .filter(col("seed_id") < maxSeedId && col("jaccard") > 0.0)
    sym.withColumn("match_rank",
        row_number().over(Window.partitionBy(col("seed_id"))
          .orderBy(col("jaccard").desc, col("match_id"))).cast("long"))
      .filter(col("match_rank") <= k)
  }

  def ngramJaccard(docs: DataFrame, n: Int, minJaccard: Double,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val grams = charGrams(docs, n, idCol, textCol)
    val ids = docs.select(col(idCol))
    val pairs = ids.select(col(idCol).as("id_a"))
      .crossJoin(ids.select(col(idCol).as("id_b")))
      .filter(col("id_a") < col("id_b"))
    jaccard(pairs, grams, idCol).filter(col("jaccard") >= minJaccard)
  }

  /** Incremental exact dedup: keep the rows of a NEW batch whose
    * normalised-text fingerprint does not already occur in an existing
    * CORPUS — the continuous-ingest shape (a fresh crawl against an
    * accumulated 100 TB corpus), where re-deduplicating the whole
    * corpus per batch is not an option.
    *
    * Result is EXACT (identical to `batch ANTI JOIN corpus` on the
    * fingerprint) but computed with zero shuffle of either side:
    *   1. one corpus aggregation pass builds a Bloom filter over corpus
    *      fingerprints (`stat.bloomFilter` treeAggregates partial
    *      filters — no shuffle, driver holds one bitset);
    *   2. the batch scan probes the filter via the codegen'd
    *      [[graft.functions.BloomContains]] — rows the filter rejects
    *      are new with certainty (no false negatives) and pass through
    *      without ever joining;
    *   3. only the filter's positives (true duplicates + ~fpp of the
    *      batch) are verified: their fingerprints broadcast into a
    *      map-side semi-join over the corpus scan, and the confirmed
    *      set broadcasts back as an anti-join over the candidates.
    *
    * At scale the bloom is the only corpus-sized driver object
    * (1e9 fingerprints at 3% fpp ≈ 0.9 GiB — broadcastable), the
    * verification joins move only candidate fingerprints, and both
    * corpus passes are shuffle-free scans. A same-batch duplicate pair
    * is NOT collapsed here (run [[exact]] on the batch first — the
    * reference semantics of "dedup against the corpus" leave the batch
    * itself untouched).
    *
    * @param expectedItems sizing hint for the bloom (≈ corpus row
    *   count); negative → one extra `count()` pass computes it.
    */
  def incrementalDedup(batch: DataFrame, corpus: DataFrame,
                       idCol: String = "doc_id", textCol: String = "text",
                       fpp: Double = 0.03,
                       expectedItems: Long = -1L): DataFrame = {
    val bfp = batch.withColumn("fingerprint", TextOps.fingerprint(col(textCol)))
    val cfp = corpus.select(TextOps.fingerprint(col(textCol)).as("fingerprint"))
    val n = if (expectedItems > 0) expectedItems
            else math.max(cfp.count(), 1L)
    val bloom = cfp.stat.bloomFilter("fingerprint", n, fpp)
    val hit = graft.functions.BloomContains.contains(col("fingerprint"), bloom)
    val definitelyNew = bfp.filter(!hit)
    val candidates = bfp.filter(hit)
    // no distinct() on either broadcast side: the broadcast
    // HashedRelation dedupes keys at build, and a distinct here would
    // reintroduce the very Exchange this operator exists to avoid
    val confirmedDupFps = cfp
      .join(broadcast(candidates.select("fingerprint")),
        Seq("fingerprint"), "left_semi")
    val survivingCandidates = candidates
      .join(broadcast(confirmedDupFps), Seq("fingerprint"), "left_anti")
    definitelyNew.unionByName(survivingCandidates)
      .select(col(idCol), col("fingerprint"))
  }

  /** Bloom-filter health audit for the [[incrementalDedup]] path — one
    * verdict row: exact member/non-member counts of the batch against
    * the corpus fingerprints (an equi-join ground truth) plus an
    * envelope check that the filter's OBSERVED false-positive rate
    * stays within 3× its design `fpp` (the q_vocab_approx discipline:
    * the bit pattern itself is engine-specific, so the gate pins the
    * exact counts and the verdict, not the raw rate). A drifting or
    * corrupted filter — wrong sizing, hash regression — flips the
    * verdict and hash-mismatches the gate.
    *
    * @return one row (n_batch, n_members, n_nonmembers, fpr_ok)
    */
  def bloomAudit(batch: DataFrame, corpus: DataFrame,
                 textCol: String = "text", fpp: Double = 0.03,
                 expectedItems: Long = -1L): DataFrame = {
    val bfp = batch.select(TextOps.fingerprint(col(textCol)).as("fingerprint"))
    val cfp = corpus.select(TextOps.fingerprint(col(textCol)).as("fingerprint"))
    val n = if (expectedItems > 0) expectedItems
            else math.max(cfp.count(), 1L)
    val bloom = cfp.stat.bloomFilter("fingerprint", n, fpp)
    val hit = graft.functions.BloomContains.contains(col("fingerprint"), bloom)
    // ground truth with the incrementalDedup broadcast direction: the
    // BATCH fingerprints broadcast into the corpus scan, and only the
    // (batch-bounded) matching set comes back — the corpus never does
    val member = cfp.join(broadcast(bfp), Seq("fingerprint"), "left_semi")
      .groupBy("fingerprint").agg(max(lit(1L)).as("__m"))
    bfp.join(broadcast(member), Seq("fingerprint"), "left")
      .select(hit.cast("long").as("__hit"),
        coalesce(col("__m"), lit(0L)).as("__member"))
      .agg(count(lit(1)).as("n_batch"),
        sum(col("__member")).as("n_members"),
        sum(lit(1L) - col("__member")).as("n_nonmembers"),
        sum(when(col("__hit") === 1L && col("__member") === 0L, 1L)
          .otherwise(0L)).as("__fp"))
      .select(col("n_batch"), col("n_members"), col("n_nonmembers"),
        (col("__fp") <= greatest((col("n_nonmembers") * 3 * fpp).cast("long"),
          lit(1L))).as("fpr_ok"))
  }

  /** Edit-distance-verified near-duplicate pairs: MinHash-LSH proposes
    * candidates (banded, never all-pairs), then each pair is verified
    * by normalised Levenshtein similarity over the NORMALISED texts —
    * 1 − dist/max(len), ≥ `minSim` keeps the pair. The character-level
    * complement to the Jaccard verify: catches small in-place edits
    * (typo farms, template fills) that shingle sets over- or
    * under-count, and the distance is an exact integer in any engine.
    *
    * Scale shape: candidates shuffle on band buckets; the O(len²)
    * verify runs per CANDIDATE pair only. Keep shingleSize/bandRows
    * tuned so candidates ≈ true near-dups (the usual LSH discipline);
    * texts join back by id — two id-keyed hash joins.
    */
  def editVerifiedPairs(docs: DataFrame, shingleSize: Int, numHashes: Int,
                        bandRows: Int, minSim: Double,
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    val sh = graft.OpCache.persist(shingles(docs, shingleSize, idCol, textCol))
    val cand = lshCandidates(minhash(sh, numHashes, idCol), numHashes,
      bandRows, idCol)
    val nt = docs.select(col(idCol), TextOps.normalize(col(textCol)).as("__nt"))
    cand
      .join(nt.select(col(idCol).as("id_a"), col("__nt").as("__ta")), "id_a")
      .join(nt.select(col(idCol).as("id_b"), col("__nt").as("__tb")), "id_b")
      .withColumn("edit_dist", levenshtein(col("__ta"), col("__tb")))
      .withColumn("edit_sim",
        lit(1.0) - col("edit_dist").cast("double") /
          greatest(length(col("__ta")), length(col("__tb")), lit(1)).cast("double"))
      .filter(col("edit_sim") >= minSim)
      .select(col("id_a"), col("id_b"), col("edit_dist"),
        round(col("edit_sim"), 6).as("edit_sim"))
  }
}
