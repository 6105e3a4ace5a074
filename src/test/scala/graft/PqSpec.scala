package graft

import org.apache.spark.sql.functions._
import graft.similarity.{Pq, Similarity}

/** Product quantization: codec contract, ADC ranking behavior, and
  * recall against the exact brute-force baseline.
  */
class PqSpec extends SparkSpec {
  import spark.implicits._

  // 3 well-separated clusters in 8-dim space, 8 vectors each
  private def corpus = {
    val base = Seq(
      Array(10.0, 10, 10, 10, 0, 0, 0, 0),
      Array(0.0, 0, 0, 0, 10, 10, 10, 10),
      Array(10.0, 0, 10, 0, 10, 0, 10, 0))
    (0 until 24).map { i =>
      val c = base(i % 3)
      val jitter = (i / 3).toDouble * 0.1
      (i.toLong, c.map(x => (x + jitter).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("codes are within [0, ksub) and every vector is encoded") {
    val idx = Pq.buildPqIndex(corpus, m = 2, ksub = 4, iters = 2)
    val codes = idx.codes.collect()
    assert(codes.length == 24)
    codes.foreach { r =>
      assert(r.getInt(1) >= 0 && r.getInt(1) < 4)
      assert(r.getInt(2) >= 0 && r.getInt(2) < 4)
    }
    assert(idx.codebooks.length == 2)
    assert(idx.codebooks.forall(_.length == 4))
    assert(idx.codebooks.forall(_.forall(_.length == 4))) // dsub = 8/2
  }

  test("same-cluster vectors share codes after Lloyd refinement") {
    val idx = Pq.buildPqIndex(corpus, m = 2, ksub = 4, iters = 3)
    val byCluster = idx.codes.collect()
      .groupBy(r => r.getLong(0) % 3)
      .view.mapValues(_.map(r => (r.getInt(1), r.getInt(2))).toSet).toMap
    // separated clusters never share a quantization cell (a cluster MAY
    // legitimately split across two cells when k-means keeps two
    // centroids inside it — that costs nothing; cross-cluster merging
    // would, and must not happen here)
    for (a <- byCluster.keys; b <- byCluster.keys if a < b)
      assert((byCluster(a) intersect byCluster(b)).isEmpty,
        s"clusters $a and $b share cells")
  }

  test("ADC top-k retrieves the query's own cluster first") {
    val q = corpus.filter(col("vec_id") < 3)
    val res = Pq.pqTopK(corpus, q, k = 7, m = 2, ksub = 4, iters = 3)
      .collect()
    assert(res.length == 21)
    res.foreach { r =>
      val query = r.getAs[Long]("query_id")
      val neighbor = r.getAs[Long]("neighbor_id")
      assert(neighbor % 3 == query % 3,
        s"query $query retrieved out-of-cluster neighbor $neighbor")
    }
  }

  test("recall@5 vs brute force is perfect on separated clusters") {
    val q = corpus.filter(col("vec_id") < 3)
    val exact = Similarity.bruteForceTopK(corpus, q, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Pq.pqTopK(corpus, q, k = 5, m = 2, ksub = 4, iters = 3)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    // same cluster structure → the candidate sets agree (order within
    // a quantization cell may differ; membership must not)
    assert((exact intersect pq).size >= 12, // ≥ 80% recall
      s"recall too low: ${(exact intersect pq).size}/15")
  }

  test("IVF-PQ search stays within probed lists and ranks like PQ there") {
    val q = corpus.filter(col("vec_id") < 3)
    // nlists = 3 on 3 separated clusters → coarse lists ≈ clusters;
    // nprobe = 1 must confine every result to the query's own cluster
    val res = Pq.ivfPqTopK(corpus, q, k = 7, nlists = 3, nprobe = 1,
      m = 2, ksub = 4, itersIvf = 3, itersPq = 3).collect()
    assert(res.nonEmpty)
    res.foreach { r =>
      assert(r.getAs[Long]("neighbor_id") % 3 == r.getAs[Long]("query_id") % 3)
    }
    // entries layout carries (list, neighbor_id, codes) for every vector
    val idx = Pq.buildIvfPqIndex(corpus, nlists = 3, m = 2, ksub = 4)
    assert(idx.entries.count() == 24)
    assert(idx.entries.columns.toSeq ==
      Seq("neighbor_id", "list", "code0", "code1"))
  }

  test("overlapped IVF∥PQ training == sequential composition, " +
      "bit-for-bit (r16 build-thread overlap)") {
    // the non-residual build trains the coarse quantizer and the
    // product codebooks on concurrent threads; both trainings are
    // independent, so composing sequentially-built halves by hand must
    // reproduce the threaded index and its search results exactly
    val q = corpus.filter(col("vec_id") < 3)
    val threaded = Pq.buildIvfPqIndex(corpus, nlists = 3, m = 2, ksub = 4)
    val ivf = Similarity.buildIvfIndex(corpus, nlists = 3)
    val pq = Pq.buildPqIndex(corpus, m = 2, ksub = 4)
    val seq0 = Pq.IvfPqIndex(ivf.centroids, pq.codebooks,
      ivf.assigned.select(col("list"), col("neighbor_id"))
        .join(pq.codes, "neighbor_id"))
    assert(threaded.centroids.map(_.toSeq).toSeq ==
      seq0.centroids.map(_.toSeq).toSeq)
    assert(threaded.codebooks.map(_.map(_.toSeq).toSeq).toSeq ==
      seq0.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    def run(idx: Pq.IvfPqIndex) =
      Pq.ivfPqSearch(idx, q, k = 5, nprobe = 1).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
          r.getAs[Double]("adc_dist"), r.getAs[Int]("rank"))).toSet
    assert(run(threaded) == run(seq0))
  }

  test("IVF-PQ index round-trips through disk with identical results") {
    val q = corpus.filter(col("vec_id") < 3)
    val idx = Pq.buildIvfPqIndex(corpus, nlists = 3, m = 2, ksub = 4)
    val direct = Pq.ivfPqSearch(idx, q, k = 5, nprobe = 1)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("adc_dist"), r.getAs[Int]("rank"))).toSet
    val path = java.nio.file.Files.createTempDirectory("ivfpq").toString + "/idx"
    Pq.writeIvfPqIndex(idx, path)
    val reread = Pq.readIvfPqIndex(spark, path)
    assert(reread.centroids.map(_.toSeq).toSeq == idx.centroids.map(_.toSeq).toSeq)
    assert(reread.codebooks.map(_.map(_.toSeq).toSeq).toSeq ==
      idx.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    val served = Pq.ivfPqSearch(reread, q, k = 5, nprobe = 1)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("adc_dist"), r.getAs[Int]("rank"))).toSet
    assert(served == direct)
  }

  test("residual codes reconstruct clustered data with lower error than raw codes") {
    // on clustered data the coarse centroid absorbs most of each
    // vector's magnitude, so residual codebooks spend their budget on
    // the (small) within-cluster spread — reconstruction MSE must drop.
    // (On near-structureless data — e.g. the driver's uniform unit
    // vectors, within-label var ≈ global var — the two codecs tie; the
    // clustered corpus is where the residual variant earns its cost.)
    def mse(idx: Pq.IvfPqIndex): Double = {
      val vecs = corpus.select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
      val m = idx.codebooks.length
      val dsub = idx.codebooks(0)(0).length
      val errs = idx.entries.collect().map { r =>
        val id = r.getAs[Long]("neighbor_id")
        val list = r.getAs[Int]("list")
        val recon = (0 until m).flatMap { s =>
          val code = r.getAs[Int](s"code$s")
          val base = if (idx.residual) idx.centroids(list)
            .slice(s * dsub, (s + 1) * dsub) else Array.fill(dsub)(0.0)
          idx.codebooks(s)(code).zip(base).map { case (a, b) => a + b }
        }.toArray
        vecs(id).zip(recon).map { case (a, b) => (a - b) * (a - b) }.sum
      }
      errs.sum / errs.length
    }
    val plain = mse(Pq.buildIvfPqIndex(corpus, nlists = 3, m = 2, ksub = 4,
      itersIvf = 3, itersPq = 3))
    val res = mse(Pq.buildIvfPqIndex(corpus, nlists = 3, m = 2, ksub = 4,
      itersIvf = 3, itersPq = 3, residual = true))
    info(s"reconstruction MSE: plain=$plain residual=$res")
    assert(res < plain, s"residual MSE $res not below plain $plain")
  }

  test("randomProject: deterministic, right-sized, linear in the input") {
    val proj = Similarity.randomProject(corpus, outDim = 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(proj.size === 24 && proj.values.forall(_.length === 4))
    // a second invocation reproduces the identical matrix (pure salt fn)
    val again = Similarity.randomProject(corpus, outDim = 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(again === proj)
    // linearity: doubling the input doubles the projection (pre-round)
    val doubled = Similarity.randomProject(
      corpus.select(col("vec_id"),
        transform(col("embedding"), x => x * 2).as("embedding")),
      outDim = 4).collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    proj.foreach { case (id, p) =>
      p.zip(doubled(id)).foreach { case (x, x2) =>
        assert(math.abs(x2 - 2 * x) < 1e-5, s"id $id: $x2 vs 2*$x") }
    }
    // the distortion gate is reproducible and its stats well-formed
    val g = Similarity.randomProjectGate(corpus, outDim = 4, maxId = 12,
      envelope = 1.0).collect().head
    assert(g.getLong(0) === 66L) // C(12,2) pairs
    assert(g.getDouble(1) >= g.getDouble(2) && g.getBoolean(3))
  }

  test("randomProject's broadcast MatVecProject is bit-identical to the " +
      "literal dot formulation (the oracle's arithmetic)") {
    import graft.functions.DotProduct.dot
    val inDim = 8
    val outDim = 4
    val signs = Similarity.rpSigns(inDim, outDim, "rp")
    val invSqrt = 1.0 / math.sqrt(outDim.toDouble)
    // the pre-r11 plan-literal formulation, reconstructed verbatim
    val v = transform(col("embedding"), x => x.cast("double"))
    val comps = signs.map { row =>
      round(dot(v, array(row.map(s => lit(s.toDouble)): _*)) * invSqrt, 6)
    }
    // plus a NaN and a +Inf element: Spark's round passes both through
    val withNonFinite = corpus.union(Seq(
      (100L, Seq.tabulate(inDim)(i => if (i == 2) Float.NaN else 1.0f)),
      (101L, Seq.tabulate(inDim)(i => if (i == 5) Float.PositiveInfinity else 1.0f))
    ).toDF("vec_id", "embedding"))
    // bit patterns, so NaN equals NaN
    def bits(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)
        .map(java.lang.Double.doubleToLongBits)).toMap
    val viaLits = bits(withNonFinite.select(col("vec_id"), array(comps: _*).as("proj")))
    val viaBc = bits(Similarity.randomProject(withNonFinite, outDim = outDim))
    assert(viaBc.size === 26)
    assert(viaBc(100L).forall(_ == java.lang.Double.doubleToLongBits(Double.NaN)))
    assert(viaBc === viaLits) // EXACT equality — same fold, same round
    // and the plan carries no sign literals: O(1) in outDim. A parquet
    // scan, not the LocalRelation corpus — ConvertToLocalRelation
    // pre-evaluates the projection over driver-local data (which also
    // exercises the interpreted eval path above).
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val plan = Similarity.randomProject(emb, outDim = outDim)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("matvec_project"), plan)
    assert(!plan.contains("-1.0"), plan.take(2000))
  }

  test("search is deterministic across runs") {
    val q = corpus.filter(col("vec_id") === 0)
    val a = Pq.pqTopK(corpus, q, k = 10, m = 2, ksub = 4)
      .orderBy("rank").collect().toSeq
    val b = Pq.pqTopK(corpus, q, k = 10, m = 2, ksub = 4)
      .orderBy("rank").collect().toSeq
    assert(a == b)
  }
}
