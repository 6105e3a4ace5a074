package graft

import org.apache.spark.sql.functions._

class RegistrySpec extends SparkSpec {
  import spark.implicits._
  private val T = Panel.TimeCol
  private val U = Panel.UnitCol

  private def p = Seq((1L, 1L, 0.0), (2L, 1L, 0.0), (3L, 1L, 5.0),
    (4L, 1L, 0.0), (5L, 1L, 0.0), (6L, 1L, 0.0)).toDF(T, U, "value")

  test("JSON pipeline spec composes transforms (reference wire format)") {
    // the canonical ViEWS feature: decayed time-since-event
    val out = Registry.run(p, """[{"type":"time_since","args":[0]},
      {"type":"decay","args":[2]}]""")
      .orderBy(T).select("value").collect().map(_.getDouble(0))
    // time_since: months 2..6 -> 1,2,0,1,2 ; decay halflife 2 -> 2^(-ts/2)
    val ts = Seq(1.0, 2.0, 0.0, 1.0, 2.0)
    out.toSeq.zip(ts.map(t => math.pow(2.0, -t / 2.0))).foreach { case (a, e) =>
      assert(math.abs(a - e) < 1e-14) // Spark's pow (StrictMath) may differ 1 ulp
    }
  }

  test("string args reach the fill family through the wire format") {
    val withNulls = Seq[(Long, Long, Option[Double])](
      (1L, 1L, None), (2L, 1L, Some(3.0)), (3L, 1L, None), (4L, 1L, Some(5.0)),
      (5L, 1L, None)
    ).toDF(T, U, "value")
    val ff = Registry.run(withNulls, """[{"type":"fill","args":["forward"]}]""")
      .orderBy(T).collect().map(r => if (r.isNullAt(2)) null else r.getDouble(2)).toSeq
    assert(ff == Seq(null, 3.0, 3.0, 5.0, 5.0))
    val interp = Registry.run(withNulls,
      """[{"type":"extrapolate","args":["both","inside"]}]""")
      .orderBy(T).collect().map(r => if (r.isNullAt(2)) null else r.getDouble(2)).toSeq
    assert(interp == Seq(null, 3.0, 4.0, 5.0, null))
  }

  test("unknown transform raises with the known list") {
    val e = intercept[IllegalArgumentException](
      Registry.run(p, """[{"type":"nope"}]"""))
    assert(e.getMessage.contains("unknown panel transform 'nope'"))
    assert(e.getMessage.contains("tlag"))
    // the corpus registry is a separate namespace with its own error
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val ec = intercept[IllegalArgumentException](
      Registry.runCorpus(docs, """[{"type":"tlag","args":[1]}]"""))
    assert(ec.getMessage.contains("unknown corpus transform 'tlag'"))
    assert(ec.getMessage.contains("quality_filter"))
  }

  test("corpus wire format: quality gate, dedup, chunk, sample, pack dispatch") {
    val docs = Seq(
      (1L, "the cat sat on the mat and the dog barked at it all day long"),
      (2L, "the cat  sat on the mat and the dog barked at it all day long"), // dup of 1 modulo spacing
      (3L, "zz"), // low quality
      (4L, "der hund und die katze und der vogel sind gute freunde hier")
    ).toDF("doc_id", "text")
    // quality gate drops doc 3; 'en' lang filter also drops doc 4
    val gated = Registry.runCorpus(docs,
      """[{"type":"quality_filter","args":[0.3,"en"]}]""")
    assert(gated.columns.toSeq == Seq("doc_id", "text"))
    assert(gated.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    // dedup keeps the canonical (min id) of the normalised-dup pair
    val dd = Registry.runCorpus(docs, """[{"type":"dedup_exact"}]""")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(dd == Set(1L, 3L, 4L))
    // chained spec: gate → dedup → chunk re-keys to (doc_id, chunk_id)
    val chunks = Registry.runCorpus(docs,
      """[{"type":"quality_filter","args":[0.3,"en"]},
        |{"type":"dedup_exact"},
        |{"type":"chunk","args":[8,2]}]""".stripMargin)
    assert(chunks.columns.toSeq == Seq("doc_id", "chunk_id", "text", "n_tokens"))
    val ch = chunks.orderBy("doc_id", "chunk_id").collect()
    assert(ch.map(_.getLong(0)).forall(_ == 1L)) // only doc 1 survives
    assert(ch.length == 3) // 14 tokens, step 6 -> chunks at 0,6,12
    assert(ch(0).getString(2).split(" ").length == 8)
    // sampling + packing dispatch and keep their library semantics
    val sampled = Registry.runCorpus(docs,
      """[{"type":"sample_hash","args":[0.5,"s0"]}]""")
    assert(sampled.count() ==
      sampling.Sampling.hashSample(docs, "doc_id", 0.5, "s0").count())
    val packed = Registry.runCorpus(docs,
      """[{"type":"pack_shards","args":[16,2]}]""")
    assert(packed.columns.contains("shard") && packed.count() == 4)
    val seqs = Registry.runCorpus(docs,
      """[{"type":"pack_sequences","args":[16,2]}]""")
    assert(seqs.columns.toSeq == Seq("doc_id", "n_tokens", "bucket", "seq", "offset"))
    assert(seqs.count() == 4)
    // tfidf is a terminal analysis step: (doc_id, rank, token, …) rows
    val kw = Registry.runCorpus(docs, """[{"type":"tfidf","args":[2]}]""")
    assert(kw.columns.toSeq == Seq("doc_id", "rank", "token", "tf", "df", "tfidf"))
    assert(kw.groupBy("doc_id").count().collect().forall(_.getLong(1) <= 2))
    // remove_repeated_spans cleans text in place, preserving the contract
    val spanDocs = Seq(
      (1L, "alpha beta gamma delta unique one"),
      (2L, "two alpha beta gamma delta other")).toDF("doc_id", "text")
    val cleaned = Registry.runCorpus(spanDocs,
      """[{"type":"remove_repeated_spans","args":[4]}]""")
    assert(cleaned.columns.toSeq == Seq("doc_id", "text"))
    assert(cleaned.orderBy("doc_id").collect().map(_.getString(1)).toSeq ==
      Seq("unique one", "two other"))
    // scrub_pii replaces text in place and composes with later steps
    // (chunk normalises, so the redaction tokens come back lowercased)
    val pii = Seq((1L, "ping alice@test.org or https://x.io/a now")).toDF("doc_id", "text")
    val scrubbed = Registry.runCorpus(pii,
      """[{"type":"scrub_pii"},{"type":"chunk","args":[8]}]""")
    assert(scrubbed.select("text").head.getString(0) == "ping <email> or <url> now")
  }

  test("r9 corpus steps: cap_source and gopher_filter dispatch equal direct calls") {
    val docs = (0L until 60L).map { i =>
      val body = (1 to 35).map(j => s"tok${(i + j) % 9}").mkString(" ")
      (i, s"the a of $body", s"src${i % 4}")
    }.toDF("doc_id", "text", "source")
    val viaWire = Registry.runCorpus(docs,
      """[{"type":"cap_source","args":[5,"t"]}]""")
      .collect().map(_.getLong(0)).toSet
    val direct = graft.sampling.Sampling.capPerSource(docs, 5, "t")
      .collect().map(_.getLong(0)).toSet
    assert(viaWire == direct && viaWire.size == 20)
    val gw = Registry.runCorpus(docs,
      """[{"type":"gopher_filter"}]""")
    assert(gw.columns.toSeq == docs.columns.toSeq)
    // every fixture doc passes the rules (38 words, stops present)
    assert(gw.count() == 60L)
    val failing = docs.withColumn("text", lit("too short"))
    assert(Registry.runCorpus(failing,
      """[{"type":"gopher_filter"}]""").count() == 0L)
    // weighted_sample + containment dispatch equal the direct calls
    val wdocs = docs.withColumn("n_chars", length(col("text")))
    assert(Registry.runCorpus(wdocs,
        """[{"type":"weighted_sample","args":[7,"w1"]}]""")
      .collect().map(_.getLong(0)).toSet ==
      graft.sampling.Sampling.weightedSample(wdocs, "n_chars", 7, "w1")
        .collect().map(_.getLong(0)).toSet)
    assert(Registry.runCorpus(docs,
        """[{"type":"containment","args":[2,12,1,0.9]}]""")
      .collect().map(_.toSeq).toSet ==
      graft.dedup.Dedup.containmentPairs(docs, 2, 12, 1, 0.9)
        .collect().map(_.toSeq).toSet)
  }

  test("r9 events wire family: funnel, retention, anomaly, sessionize dispatch") {
    import org.apache.spark.sql.functions._
    val rows = Seq(
      (1L, 0L, "view", 1.0), (1L, 10L, "click", 2.0), (1L, 30L, "purchase", 3.0),
      (2L, 5L, "view", 1.0), (2L, 3711L * 7L * 86400L, "view", 9.0))
    val ev = rows.toDF("user_id", "sec", "event_type", "value")
      .withColumn("ts", timestamp_seconds(col("sec")))
      .withColumn("event_id", col("user_id") * 100 + col("sec"))
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rowsOf(Registry.runEvents(ev,
        """[{"type":"funnel","args":["view","click","purchase"]}]""")) ==
      rowsOf(graft.relational.Funnel.funnel(ev, Seq("view", "click", "purchase"))))
    assert(rowsOf(Registry.runEvents(ev,
        """[{"type":"funnel_windowed","args":[60,"view","click"]}]""")) ==
      rowsOf(graft.relational.Funnel.funnel(ev, Seq("view", "click"),
        maxGapSec = Some(60L))))
    assert(rowsOf(Registry.runEvents(ev, """[{"type":"retention"}]""")) ==
      rowsOf(graft.relational.Funnel.retention(ev)))
    assert(rowsOf(Registry.runEvents(ev, """[{"type":"anomaly","args":[2.5]}]""")) ==
      rowsOf(graft.relational.Anomaly.robustFlags(ev, k = 2.5)))
    assert(rowsOf(Registry.runEvents(ev, """[{"type":"sessionize","args":[3600]}]""")) ==
      rowsOf(graft.streaming.Sessions.sessionize(ev, 3600L)))
    assert(rowsOf(Registry.runEvents(ev,
        """[{"type":"pivot_types","args":["view","click"]}]""")) ==
      rowsOf(graft.sources.SemiStructured.pivotEventCounts(ev, Seq("view", "click"))))
    assert(rowsOf(Registry.runEvents(ev,
        """[{"type":"attribution_multi","args":["purchase"]}]""")) ==
      rowsOf(graft.relational.Attribution.multiTouch(ev)))
    assert(rowsOf(Registry.runEvents(ev, """[{"type":"survival","args":[1]}]""")) ==
      rowsOf(graft.relational.Survival.kaplanMeier(ev, censorDays = 1)))
    assert(rowsOf(Registry.runEvents(ev, """[{"type":"ltv"}]""")) ==
      rowsOf(graft.relational.Engagement.ltvCurve(ev)))
    assert(rowsOf(Registry.runEvents(ev,
        """[{"type":"attribution_decay","args":[86400]}]""")) ==
      rowsOf(graft.relational.Attribution.timeDecay(ev,
        halflifeSec = 86400.0)))
    assert(rowsOf(Registry.runEvents(ev,
        """[{"type":"session_paths","args":[3600, 4, 5]}]""")) ==
      rowsOf(graft.relational.Engagement.sessionPaths(ev, 3600L, 4, 5)))
    assert(rowsOf(Registry.runEvents(ev,
        """[{"type":"conversion_latency"}]""")) ==
      rowsOf(graft.relational.Attribution.conversionLatency(ev)))
  }

  test("r9 panel wire family: acf dispatch") {
    import org.apache.spark.sql.functions._
    val p = (for (u <- 1 to 2; t <- 1 to 6)
      yield (t.toLong, u.toLong, (t * t).toDouble, 1.0))
      .toDF("month_id", "unit_id", "value", "value2")
    assert(Registry.run(p, """[{"type":"acf","args":[2]}]""")
        .collect().map(_.toSeq).toSet ==
      graft.ops.TemporalOps.acf(p, "value", 2)
        .collect().map(_.toSeq).toSet)
  }

  test("asof tolerance nulls matches staler than the bound, keeps fresh ones") {
    import org.apache.spark.sql.functions._
    val left = Seq((1L, 100L, "a"), (1L, 250L, "b"), (1L, 400L, "c"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 90L, 9.0)).toDF("k", "t", "v")
    def run(tol: Option[Long]) = graft.relational.AsofJoin
      .asofJoin(left, right, "k", "t", Seq("v"), tol)
      .collect().map(r => r.getString(2) -> Option(r.get(3))).toMap
    // no bound: the t=90 row carries forward to every later left row
    assert(run(None) == Map("a" -> Some(9.0), "b" -> Some(9.0), "c" -> Some(9.0)))
    // bound 200: t=400 is 310 stale -> null; 100/250 stay (10/160 stale)
    assert(run(Some(200L)) == Map("a" -> Some(9.0), "b" -> Some(9.0), "c" -> None))
  }

  test("r7 corpus steps: keep-first span dedup and mix_sources dispatch") {
    val spanDocs = Seq(
      (1L, "alpha beta gamma delta unique one"),
      (2L, "two alpha beta gamma delta other")).toDF("doc_id", "text")
    // keep-first: the canonical occurrence (doc 1, pos 0) survives the
    // in-place rewrite; only doc 2's copy is cut
    val kf = Registry.runCorpus(spanDocs,
      """[{"type":"remove_repeated_spans_keep_first","args":[4]}]""")
    assert(kf.columns.toSeq == Seq("doc_id", "text"))
    assert(kf.orderBy("doc_id").collect().map(_.getString(1)).toSeq ==
      Seq("alpha beta gamma delta unique one", "two other"))
    // mix_sources: filtering step keyed on an extra stratum column;
    // the binding stratum keeps everything, unlisted strata drop out,
    // and appended columns ride through the semi-join
    val mixDocs = (0 until 40).map(i =>
        (i.toLong, if (i < 20) "sA" else if (i < 30) "sB" else "sX",
          "tok " * 5 + i.toString))
      .toDF("doc_id", "source", "text")
    val mixed = Registry.runCorpus(mixDocs,
      """[{"type":"mix_sources","args":["source","m1","sA",0.8,"sB",0.2]}]""")
    assert(mixed.columns.toSeq == Seq("doc_id", "source", "text"))
    val bySrc = mixed.collect().groupBy(_.getString(1))
    assert(!bySrc.contains("sX"))
    // masses: sA=120, sB=60 tokens; T = min(120/0.8, 60/0.2) = 150 →
    // sA binds (rate 1, all 20 kept), sB keeps half in expectation
    assert(bySrc("sA").length == 20)
    assert(bySrc.get("sB").forall(_.length <= 10 + 8)) // loose upper band
  }

  test("r7 corpus steps: signal appenders, near-dup filter, clusters, chunked packing") {
    val docs = Seq(
      (1L, "the cat sat on the mat and the dog barked at it all day long"),
      // normalised-identical twin of 1 (J=1, simhash hamming=0): the
      // short-fixture-safe near-dup — a one-word edit over 15 tokens
      // flips far more than 3 of 64 simhash bits (each bit's ±1 sum is
      // tiny), so true near-dup geometry needs corpus-sized docs, which
      // the q_pipeline_clusters oracle covers
      (2L, "the cat  sat on the mat and the dog barked at it all day long"),
      (10L, "completely different text about weather patterns and rain clouds today"),
      (11L, "the cat sat on the mat today")) // shares 4-grams with eval doc 10? no — with 1/2
      .toDF("doc_id", "text")
    // decontaminate: eval = doc_id % 10 == 0 (doc 10); frame narrows to
    // train docs and appends flags — none of 1/2/11 share a 4-gram
    // with doc 10, so all are clean
    val dec = Registry.runCorpus(docs,
      """[{"type":"decontaminate","args":[4,10]}]""")
    assert(dec.columns.toSeq == Seq("doc_id", "text", "n_shared", "contaminated"))
    assert(dec.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L, 11L))
    assert(dec.filter(col("contaminated") === 1).count() == 0)
    // a doc sharing an eval 4-gram IS flagged
    val dirty = Seq((10L, "alpha beta gamma delta"), (3L, "x alpha beta gamma delta y"))
      .toDF("doc_id", "text")
    val flagged = Registry.runCorpus(dirty,
      """[{"type":"decontaminate","args":[4,10]}]""")
    assert(flagged.filter(col("contaminated") === 1)
      .select("doc_id").head.getLong(0) == 3L)
    // signal appenders match their library ops and compose in one spec
    val sig = Registry.runCorpus(docs,
      """[{"type":"repetition"},{"type":"oov","args":[5]},
        |{"type":"lm_score"},{"type":"boilerplate","args":[3,2]}]""".stripMargin)
    assert(Seq("top_token_frac", "distinct_ratio", "n_oov", "oov_rate",
      "n_bigrams", "lm_score", "n_shingles", "boilerplate_ratio")
      .forall(sig.columns.contains))
    assert(sig.count() == 4)
    val direct = text.TextOps.repetitionStats(docs)
      .select("doc_id", "top_token_frac").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    sig.select("doc_id", "top_token_frac").collect().foreach { r =>
      assert(r.getDouble(1) == direct(r.getLong(0)))
    }
    // minhash_neardup keeps the cluster minimum: docs 1/2 are J-near
    // at 2-shingles, so 2 drops; singletons survive
    val nd = Registry.runCorpus(docs,
      """[{"type":"minhash_neardup","args":[2,12,1,0.5]}]""")
    assert(nd.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 10L, 11L))
    // dedup_clusters is terminal: every doc labelled, near-dups share
    // a cluster
    val cl = Registry.runCorpus(docs, """[{"type":"dedup_clusters","args":[3]}]""")
    assert(cl.columns.toSeq == Seq("doc_id", "cluster_id", "cluster_size"))
    val byDoc = cl.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byDoc(1L) == byDoc(2L) && byDoc(1L) == 1L)
    assert(cl.count() == 4)
    // packing after chunk keys on (doc_id, chunk_id) — every chunk
    // packs independently, and the key columns come back typed
    val packed = Registry.runCorpus(docs,
      """[{"type":"chunk","args":[8]},
        |{"type":"pack_sequences","args":[16,2,"s7"]}]""".stripMargin)
    assert(packed.columns.toSet ==
      Set("doc_id", "chunk_id", "n_tokens", "bucket", "seq", "offset"))
    val nChunks = text.TextOps.chunkDocuments(docs, 8, 0).count()
    assert(packed.count() == nChunks)
    assert(packed.select(countDistinct(col("doc_id"), col("chunk_id"))).head.getLong(0) == nChunks)
  }

  test("r9 wire steps: char_entropy append, fertility/winnow/association terminal") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta one two", "en"),
      (2L, "alpha beta gamma delta epsilon zeta other words here now", "en"))
      .toDF("doc_id", "text", "lang")
    val ce = Registry.runCorpus(docs, """[{"type":"char_entropy"}]""")
    assert(ce.columns.toSeq == Seq("doc_id", "text", "lang", "char_entropy"))
    assert(ce.count() == 2)
    val tf = Registry.runCorpus(docs, """[{"type":"tokenizer_fertility"}]""")
    assert(tf.columns.contains("fertility") && tf.count() == 1)
    val wp = Registry.runCorpus(docs,
      """[{"type":"winnow_pairs","args":[3,4,1]}]""")
    assert(wp.columns.toSeq == Seq("id_a", "id_b", "n_shared"))
    assert(wp.count() >= 1, "shared 6-token run must pair")
    val ev = Seq((1L, "view"), (1L, "click"), (2L, "view"), (2L, "click"))
      .toDF("user_id", "event_type")
    val ar = Registry.runEvents(ev, """[{"type":"association"}]""")
    assert(ar.filter(col("item_a") === "click" && col("item_b") === "view")
      .head.getLong(2) == 2L)
  }

  test("r9 corpus steps: keep-best dedup, nb_score append, collocations terminal") {
    val docs = Seq(
      (1L, "the cat sat on the mat and the dog barked at it all day long", "en"),
      (2L, "the cat  sat on the mat and the dog barked at it all day long", "en"),
      (3L, "vier worte ohne sinn hier und dort", "de"),
      (4L, "weather patterns and rain clouds today all over", "en"))
      .toDF("doc_id", "text", "lang")
    // keep-best: docs 1/2 cluster (normalised-identical); the winner is
    // the quality argmax (equal quality → smaller id 1); others survive
    val kb = Registry.runCorpus(docs, """[{"type":"dedup_keep_best","args":[3]}]""")
    assert(kb.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 3L, 4L))
    assert(kb.columns.toSeq == docs.columns.toSeq, "filter keeps the frame schema")
    // nb_score appends and matches the direct call
    val nb = Registry.runCorpus(docs, """[{"type":"nb_score"}]""")
    assert(nb.columns.toSeq == Seq("doc_id", "text", "lang", "nb_score", "nb_pred"))
    val direct = text.Classifier.nbScore(docs, col("lang") === "en")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    nb.collect().foreach(r => assert(r.getDouble(3) == direct(r.getLong(0))))
    // collocations is terminal: the repeated-phrase corpus yields the
    // pair table shape
    val coll = Registry.runCorpus(docs, """[{"type":"collocations","args":[2]}]""")
    assert(coll.columns.toSeq == Seq("tok_a", "tok_b", "pair_count", "pmi"))
    assert(coll.filter(col("tok_a") === "the" && col("tok_b") === "cat")
      .head.getLong(2) == 2L)
  }

  test("embeddings wire format: sample, quantize append, retrieval dispatch") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)), (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)), (3L, Array(-1.0f, 0.0f, 0.1f)))
      .toDF("vec_id", "embedding")
    // quantize APPENDS — frame contract holds, raw embedding intact
    val qd = Registry.runEmbeddings(emb, """[{"type":"quantize"}]""")
    assert(qd.columns.toSeq == Seq("vec_id", "embedding", "scale", "qvec"))
    assert(qd.count() == 4)
    // terminal retrieval matches the direct call
    val viaWire = Registry.runEmbeddings(emb,
      """[{"type":"topk","args":[2,2]}]""").orderBy("query_id", "rank").collect()
    val direct = similarity.Similarity.bruteForceTopK(emb,
      emb.filter(col("vec_id") < 2), 2).orderBy("query_id", "rank").collect()
    assert(viaWire.toSeq == direct.toSeq)
    // near-dup pairs through the wire: 0 and 1 share the sign bucket
    // and cosine ≈ 0.994
    val nd = Registry.runEmbeddings(emb,
      """[{"type":"lsh_neardup","args":[0.9,3]}]""").collect()
    assert(nd.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((0L, 1L)))
    // semdedup FILTERS the frame (embedding intact, composable) and
    // keeps exactly the direct operator's survivors: with one cluster,
    // 1 is pruned by 0 (cosine ≈ 0.994 ≥ 0.9), 2 and 3 survive
    val sd = Registry.runEmbeddings(emb,
      """[{"type":"semdedup","args":[0.9,1]}]""")
    assert(sd.columns.toSeq == Seq("vec_id", "embedding"))
    val directSd = similarity.Similarity.semanticDedup(emb, 0.9, nlists = 1)
      .collect().map(_.getLong(0)).toSet
    assert(sd.collect().map(_.getLong(0)).toSet == directSd)
    assert(directSd == Set(0L, 2L, 3L))
    // diverse caps each cluster's share (one cluster, k=2 → the two
    // lowest hash ranks survive) and matches the direct call
    val dv = Registry.runEmbeddings(emb,
      """[{"type":"diverse","args":[2,"div1",1]}]""")
    assert(dv.columns.toSeq == Seq("vec_id", "embedding"))
    assert(dv.count() == 2)
    assert(dv.collect().map(_.getLong(0)).toSet ==
      similarity.Similarity.diverseSample(emb, 2, nlists = 1, salt = "div1")
        .collect().map(_.getLong(0)).toSet)
    // its own namespace in errors
    val e = intercept[IllegalArgumentException](
      Registry.runEmbeddings(emb, """[{"type":"chunk","args":[8]}]"""))
    assert(e.getMessage.contains("unknown embedding transform 'chunk'"))
    assert(e.getMessage.contains("ivf_topk"))
  }

  test("normalize_unicode wire step makes decomposed variants dedup together") {
    // doc 2 is doc 1 with a DECOMPOSED accent — byte-different, so
    // exact dedup alone keeps both; normalization first collapses them
    val docs = Seq((1L, "le caf\u00e9 du coin"), (2L, "le cafe\u0301 du coin"))
      .toDF("doc_id", "text")
    val without = Registry.runCorpus(docs, """[{"type":"dedup_exact"}]""")
    assert(without.count() == 2)
    val withNfc = Registry.runCorpus(docs,
      """[{"type":"normalize_unicode"},{"type":"dedup_exact"}]""")
    assert(withNfc.collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("upsample wire step replicates by factor and matches the direct call") {
    val docs = (0L until 12L).map(i => (i, s"src${i % 3}", s"text $i"))
      .toDF("doc_id", "source", "text")
    val viaWire = Registry.runCorpus(docs,
      """[{"type":"upsample","args":["source","up0","src0",2.0,"src1",0.0]}]""")
    val direct = sampling.Sampling.upsampleByFactor(docs, "doc_id", "source",
      Seq("src0" -> 2.0, "src1" -> 0.0), "up0")
    assert(viaWire.collect().map(r => (r.getLong(0), r.getInt(3))).sorted.toSeq ==
      direct.collect().map(r => (r.getLong(0), r.getInt(3))).sorted.toSeq)
    // integral factors are exact: src0 doubled, src1 dropped, src2 kept
    val bySrc = viaWire.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc == Map("src0" -> 8L, "src2" -> 4L))
    // replicated keys stay distinct through (doc_id, copy_id)
    assert(viaWire.select("doc_id", "copy_id").distinct().count() == viaWire.count())
  }

  test("every operator family dispatches through the wire format") {
    // tiny 2-unit panel with value2 so every family can execute
    val mp = Seq((1L, 0L, 1.0, 2.0), (1L, 1L, 3.0, 4.0),
      (2L, 0L, 5.0, 6.0), (2L, 1L, 0.0, 1.0)).toDF(T, U, "value", "value2")
    val specs = Seq(
      """[{"type":"add_column"}]""",
      """[{"type":"divide_column","args":["value2"]}]""",
      """[{"type":"tick_time_since"}]""",
      """[{"type":"splag4d","args":[1,1,1,false]}]""",
      """[{"type":"splag_country","args":[1,1,0,false]}]""",
      """[{"type":"tree_lag","args":[0.5,0]}]""",
      """[{"type":"grid_lag","args":[10,0]}]""",
      """[{"type":"fourier_lag"}]""",
      """[{"type":"spacetime_dist","args":["distances",1,1,0,0]}]""",
      """[{"type":"temporal_tree_lag","args":[0.8,"uniform"]}]""")
    specs.foreach { s =>
      val out = Registry.run(mp, s)
      assert(out.columns.contains("value"), s)
      assert(out.select("value").count() > 0, s)
    }
  }

  test("tlags3d appends one 0-filled lag column per arg, value untouched") {
    val out = Registry.run(p, """[{"type":"tlags3d","args":[1,2]}]""")
      .orderBy(T).collect()
    assert(out.head.schema.fieldNames.toSeq ==
      Seq(T, U, "value", "tlag_1", "tlag_2"))
    val v = Seq(0.0, 0.0, 5.0, 0.0, 0.0, 0.0)
    assert(out.map(_.getDouble(2)).toSeq == v)                 // value rides through
    assert(out.map(_.getDouble(3)).toSeq == 0.0 +: v.init)     // lag 1, 0-filled
    assert(out.map(_.getDouble(4)).toSeq == Seq(0.0, 0.0) ++ v.dropRight(2))
  }

  test("mean-fill transforms and the terminal missing diagnostic dispatch") {
    val withNulls = Seq[(Long, Long, Option[Double])](
      (1L, 1L, Some(2.0)), (2L, 1L, None),
      (1L, 2L, None), (2L, 2L, None)
    ).toDF(T, U, "value")
    // unit 1 mean = 2.0 fills its gap; unit 2 (all-null) falls back to
    // the global mean
    val gg = Registry.run(withNulls,
        """[{"type":"fill_with_group_and_global_means"}]""")
      .orderBy(U, T).collect().map(_.getDouble(2)).toSeq
    assert(gg == Seq(2.0, 2.0, 2.0, 2.0))
    // all-null unit 2 takes the per-time mean of the others
    val tm = Registry.run(withNulls,
        """[{"type":"fill_groups_with_time_means"}]""")
      .orderBy(U, T).collect()
      .map(r => if (r.isNullAt(2)) null else r.getDouble(2)).toSeq
    assert(tm == Seq(2.0, null, 2.0, null))
    // terminal diagnostic: one row per non-key column
    val diag = Registry.run(
        withNulls.withColumn("value3", lit(null).cast("double")),
        """[{"type":"list_totally_missing"}]""")
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(diag == Map("value" -> false, "value3" -> true))
  }

  test("spacetime_weights shorthand matches the explicit weights mode") {
    val mp = Seq((1L, 0L, 500.0), (1L, 1L, 0.0),
      (2L, 0L, 0.0), (2L, 1L, 700.0)).toDF(T, U, "value")
    val short = Registry.run(mp,
        """[{"type":"spacetime_weights","args":[1,1,2,400]}]""")
      .orderBy(T, U).collect().map(_.getDouble(2)).toSeq
    val long = Registry.run(mp,
        """[{"type":"spacetime_dist","args":["weights",1,1,2,400]}]""")
      .orderBy(T, U).collect().map(_.getDouble(2)).toSeq
    assert(short == long)
  }

  test("dsir_sample wire step keeps the resample's k docs with columns") {
    val docs = Seq(
      (0L, "alpha beta alpha beta alpha", "en"),
      (1L, "beta alpha beta alpha beta", "en"),
      (2L, "zulu yankee zulu yankee zulu", "de"),
      (3L, "yankee zulu yankee zulu yankee", "de")
    ).toDF("doc_id", "text", "lang")
    val wired = Registry.runCorpus(docs,
        """[{"type":"dsir_sample","args":["en",2,64]}]""")
      .select("doc_id", "dsir_weight", "dsir_rank")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSet
    val direct = sampling.Dsir.resample(docs, col("lang") === "en",
        k = 2, buckets = 64)
      .select("doc_id", "dsir_weight", "rank")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSet
    assert(wired == direct && wired.size == 2)
  }

  test("interleave and hard_negatives wire steps equal the direct calls") {
    val docs = (0L until 20L).map(i => (i, if (i < 15) "a" else "b"))
      .toDF("doc_id", "source")
    val wired = Registry.runCorpus(docs,
        """[{"type":"interleave","args":["t1","a",3,"b",1]}]""")
      .select("doc_id", "source_idx", "serve_key")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val direct = sampling.Sampling.interleaveSources(docs, "doc_id", "source",
        Seq("a" -> 3.0, "b" -> 1.0), "t1")
      .select("doc_id", "source_idx", "serve_key")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(wired == direct && wired.size == 20)

    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val hnWired = Registry.runEmbeddings(emb,
        """[{"type":"hard_negatives","args":[3,5]}]""")
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet
    val hnDirect = similarity.Similarity.hardNegatives(emb,
        emb.filter(col("vec_id") < 5), 3)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet
    assert(hnWired == hnDirect && hnWired.size == 15)
  }

  test("""the reference README's spec string runs verbatim (README.md:27-29)""") {
    // the one wire-format example the reference publishes:
    //   transforms:[{"type":"tlag","args":[10]}]
    // must dispatch unmodified and equal the direct operator call
    val p = (1L to 15L).map(m => (m, 0L, m.toDouble)).toDF(T, U, "value")
    val viaWire = Registry.run(p, """[{"type":"tlag","args":[10]}]""")
      .orderBy(T).collect().map(r => Option(r.get(2)))
    val direct = graft.ops.UnitScan(p, Seq(graft.ops.UnitScan.Lag(10)))
      .orderBy(T).collect().map(r => Option(r.get(2)))
    assert(viaWire.toSeq == direct.toSeq)
    // months 1..10 have no lag-10 predecessor; 11..15 carry 1..5
    assert(viaWire.take(10).forall(_.isEmpty))
    assert(viaWire.drop(10).flatten.map(_.asInstanceOf[Double]).toSeq ==
      Seq(1.0, 2.0, 3.0, 4.0, 5.0))
  }

  test("curriculum wire step equals the direct globalNtile call") {
    val docs = (1L to 40L).map(i => (i, ("w " * (i % 7 + 1).toInt).trim))
      .toDF("doc_id", "text")
    val wired = Registry.runCorpus(docs,
        """[{"type":"curriculum","args":[4]}]""")
      .select("doc_id", "rank", "stage")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val direct = ops.Ranking.globalNtile(
        docs.withColumn("__len", text.TextOps.tokenCount(col("text")).cast("long")),
        Seq(col("__len"), col("doc_id")), 4,
        binCol = "stage", keepRankAs = Some("rank"))
      .select("doc_id", "rank", "stage")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(wired == direct && wired.size == 40)
  }

  test("graph wire family dispatches the pair-list analytics") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L)).toDF("id_a", "id_b")
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rowsOf(Registry.runGraph(edges,
        """[{"type":"label_prop","args":[4]}]""")) ==
      rowsOf(graft.graphs.LabelProp.labelPropagation(edges, 4)))
    assert(rowsOf(Registry.runGraph(edges,
        """[{"type":"pagerank","args":[3]}]""")) ==
      rowsOf(graft.graphs.PageRank.pageRank(edges, 3)))
    assert(rowsOf(Registry.runGraph(edges, """[{"type":"triangles"}]""")) ==
      rowsOf(graft.graphs.Triangles.triangleCounts(edges)))
    assert(rowsOf(Registry.runGraph(edges,
        """[{"type":"bfs_hops","args":[2, 2]}]""")) ==
      rowsOf(graft.graphs.Bfs.hopDistance(edges, id => id < 2, 2)))
  }

  test("table wire family dispatches the stats/drift/profile surface") {
    val t = (1L to 60L).map(i =>
      (i, if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else "c",
        (i * 7 % 13).toDouble + i * 0.01)).toDF("id", "grp", "v")
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rowsOf(Registry.runTable(t,
        """[{"type":"kruskal","args":["grp","v",5.991]}]""")) ==
      rowsOf(relational.Stats.kruskalWallis(t, "grp", "v", 5.991)))
    assert(rowsOf(Registry.runTable(t,
        """[{"type":"anova","args":["grp","v",2.996]}]""")) ==
      rowsOf(relational.Stats.anovaF(t, "grp", "v", 2.996)))
    // two-sample steps split by the parity of the named key
    assert(rowsOf(Registry.runTable(t,
        """[{"type":"ks_test","args":["v","id"]}]""")) ==
      rowsOf(sampling.Sampling.ksTest(t.filter(col("id") % 2 === 0),
        t.filter(col("id") % 2 === 1), "v")))
    assert(rowsOf(Registry.runTable(t,
        """[{"type":"psi","args":["v","id",8]}]""")) ==
      rowsOf(sampling.Sampling.psi(t.filter(col("id") % 2 === 0),
        t.filter(col("id") % 2 === 1), "v", bins = 8)))
    assert(rowsOf(Registry.runTable(t,
        """[{"type":"quantiles","args":["v",0.25,0.5,0.75]}]""")) ==
      rowsOf(relational.Stats.exactQuantiles(t, "v", Seq(0.25, 0.5, 0.75))))
    assert(rowsOf(Registry.runTable(t,
        """[{"type":"k_anonymity","args":[2,"grp"]}]""")) ==
      rowsOf(relational.Profile.kAnonymity(t, Seq("grp"), 2L)))
  }

  test("r10 corpus/graph/embeddings wires equal their direct calls") {
    val docsDf = Seq(
      (1L, "alpha beta gamma alpha delta", "s1"),
      (2L, "alpha beta gamma alpha delta", "s2"),
      (3L, "zeta eta theta iota kappa", "s2"))
      .toDF("doc_id", "text", "source")
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rowsOf(Registry.runCorpus(docsDf, """[{"type":"vocab_drift"}]""")) ==
      rowsOf(text.TextOps.vocabDrift(docsDf)))
    assert(rowsOf(Registry.runCorpus(docsDf, """[{"type":"lexical_stats"}]""")) ==
      rowsOf(text.TextOps.lexicalStats(docsDf)))
    assert(rowsOf(Registry.runCorpus(docsDf,
        """[{"type":"edit_neardup","args":[5]}]""")) ==
      rowsOf(dedup.Dedup.editPairs(docsDf, maxEdits = 5)))
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
      .toDF("id_a", "id_b")
    assert(rowsOf(Registry.runGraph(edges, """[{"type":"kcore","args":[2,3]}]""")) ==
      rowsOf(graphs.KCore.kcore(edges, 2, 3)))
    assert(rowsOf(Registry.runGraph(edges, """[{"type":"assortativity"}]""")) ==
      rowsOf(graphs.GraphStats.assortativity(edges)))
    val emb = (1L to 6L).map(i =>
      (i, Array.tabulate(8)(j => (i * 3 + j).toFloat / 10)))
      .toDF("vec_id", "embedding")
    assert(rowsOf(Registry.runEmbeddings(emb,
        """[{"type":"random_project","args":[4]}]""")) ==
      rowsOf(emb.join(similarity.Similarity.randomProject(emb, 4),
        Seq("vec_id"))))
  }

  test("a chained window pipeline stays a single-shuffle plan") {
    val out = Registry.run(p, """[{"type":"tlag","args":[1]},
      {"type":"moving_average","args":[3]},{"type":"demean","args":[]}]""")
    val shuffles = out.queryExecution.executedPlan.toString()
      .split("\n").count(_.contains("Exchange"))
    assert(shuffles <= 1, s"expected at most 1 shuffle, got $shuffles:\n${out.queryExecution.executedPlan}")
  }
}
