package graft.text

import graft.dedup.Dedup
import org.apache.spark.sql.{DataFrame, Encoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Inverted character-n-gram index over a documents table — the
  * retrieval-side counterpart of the dedup shingles: per shingle, its
  * document frequency and a bounded, sorted posting list.
  *
  * Scale shape: one explode (distinct shingles per doc, map-side) and
  * one hash aggregation keyed by shingle — the same single-shuffle
  * profile as exact dedup. Posting lists are built by a BOUNDED min-k
  * aggregator (capped on both reduce and merge): a stop-gram's
  * postings would otherwise grow an O(corpus) `collect_list` buffer in
  * one aggregation cell — the classic skew cell; here partial AND
  * merged buffers never exceed `maxPostings` ids. The full document
  * frequency survives in `df_count` regardless of the cap, and
  * postings are emitted as a comma-joined string (smallest ids first,
  * deterministic) so downstream engines need no array support.
  */
object Index {

  /** Bounded smallest-k set of longs through partial/merge aggregation:
    * both the reduce and merge sides cap at k, so no buffer anywhere in
    * the plan exceeds k elements however hot the key.
    */
  class MinK(k: Int) extends Aggregator[Long, Seq[Long], Seq[Long]] {
    override def zero: Seq[Long] = Seq.empty
    override def reduce(b: Seq[Long], a: Long): Seq[Long] =
      if (b.length >= k && a >= b.last) b
      else ((b :+ a).sorted.take(k))
    override def merge(a: Seq[Long], b: Seq[Long]): Seq[Long] =
      (a ++ b).sorted.take(k)
    override def finish(r: Seq[Long]): Seq[Long] = r
    override def bufferEncoder: Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    override def outputEncoder: Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  def invertedIndex(docs: DataFrame, n: Int, maxPostings: Int,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    require(n > 0 && maxPostings > 0, "n and maxPostings must be positive")
    val mink = udaf(new MinK(maxPostings))
    Dedup.charGrams(docs, n, idCol, textCol)
      .groupBy(col("shingle"))
      .agg(count(lit(1)).cast("long").as("df_count"),
        array_join(mink(col(idCol)), ",").as("postings"))
  }

  /** BM25 top-`k` retrieval over word tokens — the standard
    * sparse-retrieval scorer (eval-set mining, contamination triage,
    * nearest-document lookup without embeddings):
    *
    *   score(q, d) = Σ_{t ∈ q ∩ d} ln(1 + (N − df_t + 0.5)/(df_t + 0.5))
    *                 · tf_td (k1+1) / (tf_td + k1 (1 − b + b·len_d/avgdl))
    *
    * (the Lucene non-negative idf variant; distinct query terms, i.e.
    * query tf is not multiplied in — the short-query convention).
    * Scores round to 1e-6 IN the aggregation output and ranking orders
    * by the ROUNDED score (ties by doc id), so both the values and the
    * cut are engine-reproducible despite `ln` and float-sum order.
    *
    * `maxDf` (absolute) and `maxDfRatio` (fraction of N, resolved
    * IN-plan against the broadcast corpus stats — no driver-side
    * count) prune query terms whose document frequency exceeds the
    * bound — the stop-term guard that keeps the candidate set (docs
    * sharing ≥ 1 surviving term) from degenerating to the whole corpus
    * when a query contains "the". This is the same candidate-bounding
    * role `maxPostings` plays for [[invertedIndex]]; serving-scale
    * deployments set it from the index's posting cap, and the ratio
    * form stays meaningful across corpus sizes.
    *
    * Scale shape: token-keyed content joins only (tf, df), one
    * doc-keyed join for lengths, a broadcast 1-row stats table, then a
    * per-query top-k window — partition count = #queries, each bounded
    * by the pruned candidate set. The corpus side is never broadcast,
    * collected, or producted.
    */
  def bm25Search(docs: DataFrame, queries: DataFrame, k: Int,
                 k1: Double = 1.2, b: Double = 0.75,
                 maxDf: Long = Long.MaxValue, maxDfRatio: Double = 1.0,
                 idCol: String = "doc_id", textCol: String = "text",
                 qidCol: String = "query_id",
                 qtextCol: String = "text"): DataFrame = {
    require(k > 0 && k1 > 0 && b >= 0.0 && b <= 1.0 && maxDf > 0,
      "need k > 0, k1 > 0, b in [0,1], maxDf > 0")
    require(maxDfRatio > 0.0 && maxDfRatio <= 1.0, "maxDfRatio must be in (0,1]")
    require(qidCol != idCol, "query id column must differ from doc id column")
    val dwords = split(TextOps.normalize(col(textCol)), " ")
    val tf = docs.select(col(idCol), explode(dwords).as("tok"))
      .groupBy(col(idCol), col("tok"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val dl = docs.select(col(idCol), size(dwords).cast("double").as("dlen"))
    val stats = docs.agg(count(lit(1)).cast("double").as("n"),
      sum(size(dwords)).cast("double").as("sl"))
    val dfAbs = tf.groupBy(col("tok"))
      .agg(count(lit(1)).cast("double").as("df"))
      .filter(col("df") <= maxDf.toDouble)
    val dfreq =
      if (maxDfRatio >= 1.0) dfAbs
      else dfAbs.crossJoin(broadcast(stats.select(col("n").as("__n"))))
        .filter(col("df") <= lit(maxDfRatio) * col("__n")).drop("__n")
    val qt = queries.select(col(qidCol),
      explode(array_distinct(split(TextOps.normalize(col(qtextCol)), " ")))
        .as("tok"))
    val joined = qt.join(dfreq, "tok").join(tf, "tok").join(dl, idCol)
      .crossJoin(broadcast(stats))
    // expression shape mirrored token-for-token by the oracle SQL:
    // every +,*,/ associates identically so the doubles match bit-wise
    // up to the final 1e-6 rounding (which absorbs ln/sum-order noise)
    val contrib =
      log(lit(1.0) + (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
        (col("tf") * lit(k1 + 1.0)) /
        (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dlen") / (col("sl") / col("n"))))
    val sc = joined.groupBy(col(qidCol), col(idCol))
      .agg(round(sum(contrib), 6).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(qidCol)).orderBy(col("score").desc, col(idCol))
    sc.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qidCol), col("rank"), col(idCol), col("score"))
  }

  /** Per-document TF-IDF keyword extraction — the top-k most
    * distinctive terms of every document (tagging, near-dup
    * explanation, topic drift audits). Smoothed idf
    * `ln((N+1)/(df+1)) + 1` (never zero, never log-of-zero).
    *
    * Scale shape: ONE (doc, token) count aggregation over the corpus
    * tokenization, a token-keyed df aggregate joined back on the token
    * key (the corpus side is never broadcast — the q_bm25 discipline),
    * a 1-row N broadcast, and the top-k cut on a per-DOC window
    * (bounded by the document's distinct terms, not the corpus).
    *
    * Determinism: idf is rounded 1e-9 before the tf multiply (libm ln
    * parity), the score rounds 1e-6, and the rank orders by (rounded
    * score, term) — total, engine-independent.
    *
    * @return (doc_id, term, tf, df, score, term_rank), term_rank ≤ k
    */
  def tfidfTerms(docs: DataFrame, k: Int, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val toks = docs.select(col(idCol),
        explode(split(TextOps.normalize(col(textCol)), " ")).as("term"))
      .filter(length(col("term")) > 0)
    val tf = toks.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).cast("double").as("__n"))
    val idf = round(log((col("__n") + 1.0) / (col("df") + 1.0)) + 1.0, 9)
    val scored = tf.join(df_, "term").crossJoin(broadcast(n))
      .select(col(idCol), col("term"), col("tf"), col("df"),
        round(col("tf") * idf, 6).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("score").desc, col("term"))
    scored.withColumn("term_rank", row_number().over(w).cast("long"))
      .filter(col("term_rank") <= k)
  }
}
