package graft

import graft.streaming.{PanelStream, TickStream}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Drives tick_time_since through an actual Structured Streaming query
  * (MemoryStream source → flatMapGroupsWithState → memory sink) to prove
  * the operator's state handling across micro-batches, not just the
  * batch path.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("tick_time_since state carries across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[TickStream.PanelRow]
    val q = TickStream.tickTimeSince(source.toDS())
      .writeStream.format("memory").queryName("ticks")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: months 1-3 (event at month 3)
      source.addData(
        TickStream.PanelRow(1L, 1L, 0.0),
        TickStream.PanelRow(1L, 2L, 0.0),
        TickStream.PanelRow(1L, 3L, 1.0))
      q.processAllAvailable()
      // batch 2: months 4-6 — state must remember month 3's event
      source.addData(
        TickStream.PanelRow(1L, 4L, 1.0),
        TickStream.PanelRow(1L, 5L, 0.0),
        TickStream.PanelRow(1L, 6L, 0.0))
      q.processAllAvailable()
      val out = spark.table("ticks").as[TickStream.TickOut]
        .collect().sortBy(_.month_id).map(_.tick).toSeq
      // reference semantics: ., 1, 2, 0, 0, 1
      assert(out == Seq(None, Some(1.0), Some(2.0), Some(0.0), Some(0.0), Some(1.0)))
    } finally q.stop()
  }

  test("streaming cusum state carries across micro-batches and matches the batch operator") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    import graft.streaming.CusumStream
    // two units, a level shift in unit 1's tail — the stream sees the
    // series split across micro-batches; (n, Σx) state must carry so the
    // running statistic equals the batch window formulation exactly
    val series = Map(
      1L -> Seq(1.0, 2.0, 1.0, 2.0, 9.0, 10.0, 11.0, 12.0),
      2L -> Seq(5.0, 5.0, 5.0, 5.0, 5.0, 5.0, 5.0, 5.0))
    val rows = series.toSeq.flatMap { case (u, vs) =>
      vs.zipWithIndex.map { case (v, i) => (i.toLong + 1L, u, v) }
    }
    val p = rows.toDF(Panel.TimeCol, Panel.UnitCol, "value")
    val batchOut = graft.Registry.apply(p, graft.Registry.Step("cusum", Seq(2.0)))
      .select(col(Panel.TimeCol), col(Panel.UnitCol),
        round(col("cusum"), 6).as("cusum"), col("breach"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getInt(3)))
      .toMap
    val baseline = CusumStream.fitBaseline(p)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    val src = MemoryStream[CusumStream.ScoredRow]
    val q = CusumStream.cusum(src.toDS(), h = 2.0)
      .writeStream.format("memory").queryName("cusum_stream")
      .outputMode(OutputMode.Append).start()
    try {
      def feed(months: Range): Unit = {
        src.addData(rows.filter(r => months.contains(r._1.toInt)).map {
          case (m, u, v) =>
            val (mu9, nb, ex) = baseline(u)
            CusumStream.ScoredRow(u, m, CusumStream.fix9(v), mu9, nb, ex)
        })
        q.processAllAvailable()
      }
      feed(1 to 3); feed(4 to 6); feed(7 to 8)
      val got = spark.table("cusum_stream").as[CusumStream.CusumOut]
        .collect()
        .map(o => (o.month_id, o.unit_id) ->
          (BigDecimal(o.cusum).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
            o.breach))
        .toMap
      assert(got == batchOut)
      // the shift actually breaches for unit 1 and never for flat unit 2
      assert(got.exists { case ((_, u), (_, b)) => u == 1L && b == 1 })
      assert(!got.exists { case ((_, u), (_, b)) => u == 2L && b == 1 })
    } finally q.stop()
  }

  test("streaming PSI: bin counts accumulate across batches to the batch index") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    import graft.streaming.DriftStream
    // reference = uniform-ish 0..99; current = shifted 50..149, fed in
    // 3 micro-batches; the streaming-safe part (scan-side bin assign +
    // update-mode grouped count) must accumulate to the batch counts,
    // and the downstream PSI roll-up then equals Sampling.psi exactly
    val ref = (0 until 100).map(i => Tuple1(i.toDouble)).toDF("value")
    val curRows = (0 until 100).map(i => 50.0 + i)
    val cur = curRows.map(Tuple1(_)).toDF("value")
    val batch = DriftStream.scoreAgainst(cur,
        DriftStream.fitBaseline(ref, "value"), "value")
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val batchDirect = graft.sampling.Sampling.psi(ref, cur, "value")
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(batch == batchDirect, "scoreAgainst must equal Sampling.psi")
    // stream the current side: stateless bin assignment + streaming agg
    val baseline = DriftStream.fitBaseline(ref, "value")
    val stats = baseline.select("__mn", "__w").distinct().collect().head
    val (mn, w) = (stats.getDouble(0), stats.getDouble(1))
    val src = MemoryStream[Double]
    val binned = src.toDS().toDF("value")
      .select(least(greatest(
        floor((col("value") - mn) / w).cast("int"), lit(0)), lit(9)).as("bin"))
      .groupBy("bin").count()
    val q = binned.writeStream.format("memory").queryName("psi_stream")
      .outputMode(OutputMode.Complete).start()
    try {
      src.addData(curRows.take(30)); q.processAllAvailable()
      src.addData(curRows.slice(30, 70)); q.processAllAvailable()
      src.addData(curRows.drop(70)); q.processAllAvailable()
      val streamed = spark.table("psi_stream").collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val expected = batch.collect { case (b, (_, nc)) if nc > 0 => b -> nc }
      assert(streamed == expected,
        s"cross-batch bin counts $streamed != $expected")
    } finally q.stop()
  }

  test("streaming retention emits each (user, offset) cell exactly once across batches") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    import graft.streaming.RetentionStream
    val week = 7L * 86400L
    val src = MemoryStream[(Long, Long)]
    val q = RetentionStream.retentionCells(
        src.toDS().toDF("user_id", "sec")
          .withColumn("ts", timestamp_seconds(col("sec"))),
        periodSec = week)
      .writeStream.format("memory").queryName("retention_stream")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: u1 active in week 0 (twice — cell emitted once)
      src.addData((1L, 10L), (1L, 20L)); q.processAllAvailable()
      // batch 2: u1 again in week 0 (no re-emission) and in week 2;
      // u2 first seen in week 1
      src.addData((1L, 30L), (1L, 2 * week + 5L), (2L, week + 1L))
      q.processAllAvailable()
      val cells = spark.table("retention_stream").as[RetentionStream.Cell]
        .collect().map(c => (c.user_id, c.cohort_period, c.period_offset))
      assert(cells.length == cells.distinct.length, "duplicate cell emission")
      assert(cells.toSet == Set((1L, 0L, 0L), (1L, 0L, 2L), (2L, 1L, 0L)))
    } finally q.stop()
  }

  test("streaming funnel state carries a user's stage times across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    import graft.streaming.FunnelStream
    val src = MemoryStream[(Long, Long, String)]
    val steps = Seq("view", "click", "purchase")
    val q = FunnelStream.funnelPositions(
        src.toDS().toDF("user_id", "sec", "event_type")
          .withColumn("ts", timestamp_seconds(col("sec"))),
        steps)
      .writeStream.format("memory").queryName("funnel_stream")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: u1 views+clicks; u2 purchases FIRST (never converts)
      src.addData((1L, 10L, "view"), (1L, 20L, "click"), (2L, 5L, "purchase"))
      q.processAllAvailable()
      // batch 2: u1's purchase arrives later — state must remember the
      // click@20 gate; u2's view arrives after its purchase (stalls)
      src.addData((1L, 30L, "purchase"), (2L, 9L, "view"))
      q.processAllAvailable()
      val last = spark.table("funnel_stream").as[FunnelStream.FunnelOut]
        .collect().groupBy(_.user_id)
        .map { case (u, rs) => u -> rs.maxBy(_.reached) }
      assert(last(1L).reached == 3)
      assert(last(1L).times == Seq(Some(10000000L), Some(20000000L), Some(30000000L)))
      assert(last(2L).reached == 1) // view only; the earlier purchase never counts
    } finally q.stop()
  }

  test("streaming ewma trailing-window state matches the batch window operator") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    import graft.streaming.EwmaStream
    val rows = (1L to 10L).map(m => (m, 1L, m * 1.7 % 5.0)) ++
      (1L to 4L).map(m => (m, 2L, 10.0 - m))
    val p = rows.toDF(Panel.TimeCol, Panel.UnitCol, "value")
    val batchOut = graft.Registry.apply(p, graft.Registry.Step("ewma", Seq(0.5, 3.0)))
      .select(col(Panel.TimeCol), col(Panel.UnitCol), round(col("value"), 6).as("e"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val src = MemoryStream[EwmaStream.PanelRow]
    val q = EwmaStream.ewma(src.toDS(), alpha = 0.5, span = 3)
      .writeStream.format("memory").queryName("ewma_stream")
      .outputMode(OutputMode.Append).start()
    try {
      // split mid-window: month 4's EWMA needs months 2-3 from state
      def feed(months: Range): Unit = {
        src.addData(rows.filter(r => months.contains(r._1.toInt))
          .map { case (m, u, v) => EwmaStream.PanelRow(u, m, v) })
        q.processAllAvailable()
      }
      feed(1 to 3); feed(4 to 7); feed(8 to 10)
      val got = spark.table("ewma_stream").as[EwmaStream.EwmaOut]
        .collect()
        .map(o => (o.month_id, o.unit_id) ->
          BigDecimal(o.ewma).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        .toMap
      assert(got == batchOut)
    } finally q.stop()
  }

  test("watermarked windowed aggregation builds the panel incrementally") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    val src = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val q = PanelStream.panelAggregate(
        src.toDS().toDF("ts", "user_id", "value"), delay = "1 hour")
      .writeStream.format("memory").queryName("panel_stream")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: two days of events — windows stay open (watermark at
      // max event time − 1h, before both window ends)
      src.addData(
        (ts("2024-01-01T01:00:00Z"), 1L, 2.0),
        (ts("2024-01-01T02:00:00Z"), 1L, 3.0),
        (ts("2024-01-01T01:00:00Z"), 2L, 4.0),
        (ts("2024-01-02T00:30:00Z"), 1L, 5.0))
      q.processAllAvailable()
      assert(spark.table("panel_stream").count() == 0)
      // batch 2: a day-4 event pushes the watermark past both window
      // ends — closed cells emit exactly once, matching the batch panel
      src.addData((ts("2024-01-04T06:00:00Z"), 9L, 0.0))
      q.processAllAvailable()
      val out = spark.table("panel_stream").collect()
        .map(r => (r.getDate(0).toString, r.getLong(1)) ->
          (r.getDouble(2), r.getDouble(3)))
        .toMap
      assert(out == Map(
        ("2024-01-01", 1L) -> (5.0, 2.0),   // sum 2+3, count 2
        ("2024-01-01", 2L) -> (4.0, 1.0),
        ("2024-01-02", 1L) -> (5.0, 1.0)))
    } finally q.stop()
  }

  test("sessionize runs under readStream: sessions merge, close on watermark") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    val src = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val q = graft.streaming.Sessions.sessionize(
        src.toDS().toDF("ts", "user_id", "value")
          .withWatermark("ts", "1 hour"), gapSeconds = 600)
      .writeStream.format("memory").queryName("sessions_stream")
      .outputMode(OutputMode.Append).start()
    try {
      // two events 5 min apart — one open session; nothing emits while
      // the watermark is behind the session close
      src.addData(
        (ts("2024-01-01T00:00:00Z"), 1L, 1.0),
        (ts("2024-01-01T00:05:00Z"), 1L, 2.0))
      q.processAllAvailable()
      assert(spark.table("sessions_stream").count() == 0)
      // a much later event closes the session past the watermark AND
      // must land in a NEW session (gap >> 600s); the merged first
      // session emits exactly once with both events aggregated
      src.addData((ts("2024-01-01T06:00:00Z"), 1L, 4.0))
      q.processAllAvailable()
      val out = spark.table("sessions_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getDouble(4)))
      val startUs = ts("2024-01-01T00:00:00Z").getTime * 1000L
      assert(out.toSeq == Seq((1L, startUs, 2L, 3.0)))
    } finally q.stop()
  }

  test("dedupEvents drops cross-batch redeliveries within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    val src = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val q = PanelStream.dedupEvents(
        src.toDS().toDF("event_id", "ts", "value"), delay = "1 hour")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append).start()
    try {
      src.addData((1L, ts("2024-01-01T00:00:00Z"), 1.0),
        (2L, ts("2024-01-01T00:01:00Z"), 2.0))
      q.processAllAvailable()
      // batch 2 redelivers event 1 (same id, same watermark horizon)
      src.addData((1L, ts("2024-01-01T00:00:00Z"), 1.0),
        (3L, ts("2024-01-01T00:02:00Z"), 3.0))
      q.processAllAvailable()
      val ids = spark.table("dedup_stream").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("readEventsStream converts TIMESTAMP(NANOS) identically to Panel.readEvents") {
    val dir = "/root/testdata/sf0.001"
    implicit val sqlCtx = spark.sqlContext
    val q = PanelStream.readEventsStream(spark, dir)
      .select("event_id", "ts")
      .writeStream.format("memory").queryName("ev_ts_stream")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      val streamTs = spark.table("ev_ts_stream").collect()
        .map(r => r.getLong(0) -> r.getTimestamp(1)).toMap
      val batchTs = Panel.readEvents(spark, dir).select("event_id", "ts").collect()
        .map(r => r.getLong(0) -> r.getTimestamp(1)).toMap
      assert(streamTs.size == batchTs.size && streamTs.nonEmpty)
      // the float-division form loses up to ±hundreds of ns on ~1.7e18
      // epoch-nano longs — off-by-one µs after truncation; integer div
      // must agree with the batch reader on every single row
      val diffs = streamTs.collect { case (id, t) if batchTs(id) != t => id }
      assert(diffs.isEmpty, s"stream/batch ts mismatch for event_ids: ${diffs.take(5)}")
    } finally q.stop()
  }

  test("end-to-end: readEventsStream → dedup → aggregate → parquet sink folds to the batch panel") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-e2e").toString
    val q = PanelStream.writeParquet(
        PanelStream.panelAggregate(
          PanelStream.dedupEvents(
            PanelStream.readEventsStream(spark, dir), delay = "0 seconds"),
          delay = "0 seconds"),
        path = s"$tmp/sink", checkpoint = s"$tmp/ckpt").start()
    try q.processAllAvailable() finally q.stop()

    // append mode emits exactly the closed (day, unit) windows: every day
    // strictly before the max event day (watermark = max ts with 0s delay)
    val ev = Panel.readEvents(spark, dir).dropDuplicates("event_id")
    val maxDay = ev.agg(max(to_date(col("ts")))).head.getDate(0)
    val expected = PanelStream.toPanel(
        ev.filter(to_date(col("ts")) < lit(maxDay))
          .groupBy(to_date(col("ts")).as("day"),
            col("user_id").cast("long").as(Panel.UnitCol))
          // the r14 integer discipline, mirroring panelAggregate
          .agg((sum(Panel.fix9(col("value"))).cast("double") / lit(1e9))
              .as("value"),
            count(lit(1)).cast("double").as("value2")))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    val got = PanelStream.toPanel(spark.read.parquet(s"$tmp/sink"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    assert(got.nonEmpty)
    assert(got.keySet == expected.keySet)
    val bad = got.collect { case (k, (v1, v2))
      if math.abs(v1 - expected(k)._1) > 1e-9 || v2 != expected(k)._2 => k }
    assert(bad.isEmpty, s"panel cell mismatch at keys: ${bad.take(5)}")
  }

  test("panelAggregate rejects an upstream watermark on the wrong column") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[(java.sql.Timestamp, java.sql.Timestamp, Long, Double)]
    val wrongWm = src.toDS().toDF("other_ts", "ts", "user_id", "value")
      .withWatermark("other_ts", "1 hour")
    val e = intercept[IllegalArgumentException](PanelStream.panelAggregate(wrongWm))
    assert(e.getMessage.contains("other_ts"), e.getMessage)
  }

  test("streaming corpus dedup drops content duplicates across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    val src = MemoryStream[(java.sql.Timestamp, Long, String)]
    val q = graft.streaming.CorpusStream.dedupDocsStream(
        src.toDS().toDF("ts", "doc_id", "text"), delay = "1 hour")
      .writeStream.format("memory").queryName("corpus_dedup")
      .outputMode(OutputMode.Append).start()
    try {
      src.addData(
        (ts("2024-01-01T00:00:00Z"), 1L, "The cat sat on the mat"),
        (ts("2024-01-01T00:01:00Z"), 2L, "something else entirely"))
      q.processAllAvailable()
      // batch 2: doc 3 is doc 1 modulo case/whitespace (same normalised
      // fingerprint — must drop); doc 4 is new content
      src.addData(
        (ts("2024-01-01T00:02:00Z"), 3L, "the cat  sat on the MAT"),
        (ts("2024-01-01T00:03:00Z"), 4L, "fresh words here"))
      q.processAllAvailable()
      val ids = spark.table("corpus_dedup").collect().map(_.getLong(1)).sorted
      assert(ids.toSeq == Seq(1L, 2L, 4L))
    } finally q.stop()
  }

  test("end-to-end: corpus stream qualityGate → dedup → parquet sink equals the batch pipeline") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    val rows = Seq(
      (ts("2024-01-01T00:00:00Z"), 1L, "the cat sat on the mat and the dog barked at it all day"),
      (ts("2024-01-01T00:01:00Z"), 2L, "zz"), // below the quality floor
      (ts("2024-01-01T00:02:00Z"), 3L, "der hund und die katze und der vogel sind gute freunde"), // not 'en'
      (ts("2024-01-01T00:03:00Z"), 4L, "the cat  sat on the MAT and the dog barked at it all day"), // dup of 1
      (ts("2024-01-01T00:04:00Z"), 5L, "a completely different story about the sea and the sky is here"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-corpus-e2e").toString
    val src = MemoryStream[(java.sql.Timestamp, Long, String)]
    val q = graft.streaming.CorpusStream.dedupDocsStream(
        graft.streaming.CorpusStream.qualityGate(
          src.toDS().toDF("ts", "doc_id", "text"), minQuality = 0.3, lang = "en"),
        delay = "1 hour")
      .select("doc_id", "text", "fingerprint")
      .writeStream.format("parquet")
      .option("path", s"$tmp/sink").option("checkpointLocation", s"$tmp/ckpt")
      .outputMode(OutputMode.Append).start()
    try {
      // two micro-batches so the dedup state crosses a batch boundary
      src.addData(rows.take(3): _*)
      q.processAllAvailable()
      src.addData(rows.drop(3): _*)
      q.processAllAvailable()
    } finally q.stop()
    val sunk = spark.read.parquet(s"$tmp/sink")
    val streamIds = sunk.collect().map(_.getLong(0)).sorted.toSeq
    // batch equivalent of the SAME composition (gate first, then
    // dedup), via the corpus wire format
    val docsDf = rows.map { case (_, id, t) => (id, t) }.toDF("doc_id", "text")
    val batchIds = Registry.runCorpus(docsDf,
        """[{"type":"quality_filter","args":[0.3,"en"]},{"type":"dedup_exact"}]""")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(streamIds == batchIds, s"stream $streamIds vs batch $batchIds")
    // and both agree with the batch corpusFilter survivors (dedup-first
    // order — equal here because the duplicates straddle no threshold)
    val cfIds = text.TextOps.corpusFilter(docsDf, minQuality = 0.3, lang = "en")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(streamIds == cfIds)
    assert(streamIds == Seq(1L, 5L))
  }

  test("stateless corpus wire steps compose onto a stream unchanged") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[(Long, String)]
    // scrub → quality gate → chunk, dispatched from the SAME JSON spec
    // a batch service would receive — all three steps are stateless
    // Column/Generate transforms, so the spec streams as-is
    val q = Registry.runCorpus(src.toDS().toDF("doc_id", "text"),
        """[{"type":"scrub_pii"},
          |{"type":"quality_filter","args":[0.35]},
          |{"type":"chunk","args":[6]}]""".stripMargin)
      .writeStream.format("memory").queryName("corpus_wire_stream")
      .outputMode(OutputMode.Append).start()
    try {
      src.addData(
        (1L, "write to bob@x.io about the cat and the dog and the mat today"),
        (2L, "zz")) // fails the quality floor
      q.processAllAvailable()
      val rows = spark.table("corpus_wire_stream").collect()
      assert(rows.map(_.getLong(0)).distinct.toSeq == Seq(1L))
      // the email was scrubbed before chunking (chunk normalises case)
      val text = rows.sortBy(_.getInt(1)).map(_.getString(2)).mkString(" ")
      assert(text.contains("<email>") && !text.contains("bob@x.io"))
      // batch equivalence on the same data
      val batch = Registry.runCorpus(
        Seq((1L, "write to bob@x.io about the cat and the dog and the mat today"),
          (2L, "zz")).toDF("doc_id", "text"),
        """[{"type":"scrub_pii"},
          |{"type":"quality_filter","args":[0.35]},
          |{"type":"chunk","args":[6]}]""".stripMargin).collect()
      assert(rows.map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet ==
        batch.map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet)
    } finally q.stop()
  }

  test("streaming decontamination drops eval-overlapping docs statelessly") {
    implicit val sqlCtx = spark.sqlContext
    val eval = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "pack my box with five dozen liquor jugs")).toDF("doc_id", "text")
    val src = MemoryStream[(Long, String)]
    val q = graft.streaming.CorpusStream
      .decontaminateStream(src.toDS().toDF("doc_id", "text"), eval, n = 4)
      .writeStream.format("memory").queryName("decontam_stream")
      .outputMode(OutputMode.Append).start()
    try {
      src.addData(
        (1L, "totally clean text about spark plans and shuffles here"),
        (2L, "he saw the quick brown fox jumps over a fence"), // 4-gram overlap
        (3L, "another clean one with no benchmark overlap at all"))
      q.processAllAvailable()
      src.addData((4L, "later batch pack my box with five dozen bottles")) // overlap
      q.processAllAvailable()
      val kept = spark.table("decontam_stream").collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L, 3L))
      // agreement with the exact batch operator on the same data
      val all = Seq(
        (1L, "totally clean text about spark plans and shuffles here"),
        (2L, "he saw the quick brown fox jumps over a fence"),
        (3L, "another clean one with no benchmark overlap at all"),
        (4L, "later batch pack my box with five dozen bottles")).toDF("doc_id", "text")
      val batchClean = graft.text.Contamination.decontaminate(all, eval, 4)
        .filter(org.apache.spark.sql.functions.col("contaminated") === 0)
        .collect().map(_.getLong(0)).toSet
      assert(kept == batchClean)
    } finally q.stop()
  }

  test("streaming index ingest appends micro-batches to the on-disk IVF index") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val base = emb.filter(col("vec_id") < 60)
    val dir = java.nio.file.Files.createTempDirectory("ivfstream").toString
    graft.similarity.Similarity.writeIvfIndex(
      graft.similarity.Similarity.buildIvfIndex(base, nlists = 4), dir)
    val tail = emb.filter(col("vec_id") >= 60)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val src = MemoryStream[(Long, Seq[Float])]
    val q = graft.streaming.EmbedStream.indexIngest(
        src.toDS().toDF("vec_id", "embedding"), dir)
      .start()
    try {
      val (b1, b2) = tail.splitAt(tail.length / 2)
      src.addData(b1.toSeq); q.processAllAvailable()
      src.addData(b2.toSeq); q.processAllAvailable()
      val loaded = graft.similarity.Similarity.readIvfIndex(spark, dir)
      assert(loaded.assigned.count() == emb.count())
      // every streamed vector landed in the list the fixed quantizer
      // assigns it to: re-derive assignments from scratch and compare
      val expect = graft.similarity.Similarity.ivfAppend(
          graft.similarity.Similarity.IvfIndex(loaded.centroids,
            loaded.assigned.limit(0)), emb)
        .assigned.select("neighbor_id", "list")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      val got = loaded.assigned.select("neighbor_id", "list")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(got == expect)
    } finally {
      q.stop()
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("stateless registry transforms apply to a stream unchanged") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[(Long, Long, Double)]
    // pointwise wire-format spec composed directly onto the stream —
    // stateless Column transforms are streaming-safe by construction
    val q = Registry.run(src.toDS().toDF(Panel.TimeCol, Panel.UnitCol, "value"),
        """[{"type":"ln"},{"type":"decay","args":[2]}]""")
      .writeStream.format("memory").queryName("reg_stream")
      .outputMode(OutputMode.Append).start()
    try {
      src.addData((1L, 1L, 0.0), (2L, 1L, 3.0))
      q.processAllAvailable()
      val out = spark.table("reg_stream").collect()
        .map(r => r.getLong(0) -> r.getDouble(2)).toMap
      def expect(v: Double) = math.pow(2.0, -math.log1p(v) / 2.0)
      assert(math.abs(out(1L) - expect(0.0)) < 1e-12)
      assert(math.abs(out(2L) - expect(3.0)) < 1e-12)
    } finally q.stop()
  }

  test("streaming as-of join replays closed events in order with carry state") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    def us(s: String) = ts(s).getTime * 1000L
    val src = MemoryStream[(java.sql.Timestamp, Long, Long, Double, String)]
    val q = graft.streaming.AsofStream.asofPurchases(
        src.toDS().toDF("ts", "user_id", "event_id", "value", "event_type"),
        delay = "10 minutes")
      .writeStream.format("memory").queryName("asof_stream")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: user 1 views then purchases; user 2 views. Initial
      // watermark (epoch 0) closes nothing — everything buffers.
      src.addData(
        (ts("2024-01-01T00:00:00Z"), 1L, 1L, 0.0, "view"),
        (ts("2024-01-01T00:10:00Z"), 1L, 2L, 5.0, "purchase"),
        (ts("2024-01-01T00:05:00Z"), 2L, 3L, 0.0, "view"))
      q.processAllAvailable()
      assert(spark.table("asof_stream").count() == 0)
      // batch 2 advances the watermark to 00:00 (max 00:10 − 10 min),
      // closing event 1; the event-time timeout then fires an extra
      // flush batch at the post-batch watermark 01:50 (02:00 − 10 min)
      // which closes 2 — the purchase itself, inclusive-at-equality,
      // sees its own value — and 3 (user 2, no purchase ever → null)
      src.addData((ts("2024-01-01T02:00:00Z"), 1L, 4L, 0.0, "view"))
      q.processAllAvailable()
      val afterB2 = spark.table("asof_stream").collect()
        .map(r => (r.getLong(2), r.getAs[Any]("purchase_value"))).toMap
      assert(afterB2 == Map(1L -> null, 2L -> 5.0, 3L -> null))
      // batch 3 → watermark 09:50 via timeout flush: closes event 4
      // (carry 5.0 across micro-batches and across the 02:00 gap)
      src.addData(
        (ts("2024-01-01T10:00:00Z"), 1L, 5L, 0.0, "view"),
        (ts("2024-01-01T10:00:00Z"), 2L, 6L, 0.0, "view"))
      q.processAllAvailable()
      // batch 4 → watermark 22:50: closes events 5 (carry persists
      // to a key whose traffic resumed hours later) and 6; event 7
      // itself stays pending
      src.addData((ts("2024-01-01T23:00:00Z"), 9L, 7L, 0.0, "view"))
      q.processAllAvailable()
      val out = spark.table("asof_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          Option(r.getAs[java.lang.Double]("purchase_value")).map(_.toDouble)))
        .sortBy(_._3).toSeq
      assert(out == Seq(
        (1L, us("2024-01-01T00:00:00Z"), 1L, None),
        (1L, us("2024-01-01T00:10:00Z"), 2L, Some(5.0)),
        (2L, us("2024-01-01T00:05:00Z"), 3L, None),
        (1L, us("2024-01-01T02:00:00Z"), 4L, Some(5.0)),
        (1L, us("2024-01-01T10:00:00Z"), 5L, Some(5.0)),
        (2L, us("2024-01-01T10:00:00Z"), 6L, None)))
      // parity: the batch as-of join on the same closed prefix agrees
      import org.apache.spark.sql.functions._
      val closed = Seq(
        (ts("2024-01-01T00:00:00Z"), 1L, 1L, 0.0, "view"),
        (ts("2024-01-01T00:10:00Z"), 1L, 2L, 5.0, "purchase"),
        (ts("2024-01-01T00:05:00Z"), 2L, 3L, 0.0, "view"),
        (ts("2024-01-01T02:00:00Z"), 1L, 4L, 0.0, "view"),
        (ts("2024-01-01T10:00:00Z"), 1L, 5L, 0.0, "view"),
        (ts("2024-01-01T10:00:00Z"), 2L, 6L, 0.0, "view"))
        .toDF("ts", "user_id", "event_id", "value", "event_type")
        .select(col("user_id"), unix_micros(col("ts")).as("t"),
          col("event_id"), col("value"), col("event_type"))
      val left = closed.select(col("user_id"), col("t"), col("event_id"))
      val right = closed.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("t"))
        .agg(max(col("value")).as("purchase_value"))
      val batch = relational.AsofJoin
        .asofJoin(left, right, "user_id", "t", Seq("purchase_value"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          Option(r.getAs[java.lang.Double]("purchase_value")).map(_.toDouble)))
        .sortBy(_._3).toSeq
      assert(out == batch)
    } finally q.stop()
  }

  test("streaming interval join matches points to intervals across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    val pSrc = MemoryStream[(java.sql.Timestamp, Long)]          // (p_ts, point_id)
    val iSrc = MemoryStream[(java.sql.Timestamp, java.sql.Timestamp, Long)] // (s_start, s_end, span_id)
    val joined = graft.streaming.IntervalStream.pointsInIntervals(
      pSrc.toDS().toDF("p_ts", "point_id"),
      iSrc.toDS().toDF("s_start", "s_end", "span_id"),
      timeCol = "p_ts", startCol = "s_start", endCol = "s_end",
      binWidth = 3600L * 1000000L,           // 1-hour bins
      delay = "10 minutes", maxIntervalLen = "6 HOURS")
    val q = joined.select("span_id", "point_id")
      .writeStream.format("memory").queryName("interval_stream")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: two intervals arrive, plus one point inside span 10
      iSrc.addData(
        (ts("2024-01-01T00:00:00Z"), ts("2024-01-01T02:00:00Z"), 10L),
        (ts("2024-01-01T05:00:00Z"), ts("2024-01-01T05:30:00Z"), 20L))
      pSrc.addData((ts("2024-01-01T00:30:00Z"), 1L))
      q.processAllAvailable()
      // batch 2: points arrive AFTER their intervals (cross-batch join
      // state): one in span 10 (bin 1 ≠ interval start bin — covered
      // because the interval exploded to both bins), one in span 20,
      // one in no span, one at span 10's half-open end (excluded)
      pSrc.addData(
        (ts("2024-01-01T01:30:00Z"), 2L),
        (ts("2024-01-01T05:10:00Z"), 3L),
        (ts("2024-01-01T03:00:00Z"), 4L),
        (ts("2024-01-01T02:00:00Z"), 5L))
      q.processAllAvailable()
      val got = spark.table("interval_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got == Seq((10L, 1L), (10L, 2L), (20L, 3L)))
      // parity: the batch bucketized interval join on the same data
      import org.apache.spark.sql.functions._
      val pts = Seq((ts("2024-01-01T00:30:00Z"), 1L),
        (ts("2024-01-01T01:30:00Z"), 2L), (ts("2024-01-01T05:10:00Z"), 3L),
        (ts("2024-01-01T03:00:00Z"), 4L), (ts("2024-01-01T02:00:00Z"), 5L))
        .toDF("p_ts", "point_id")
        .select(unix_micros(col("p_ts")).as("t"), col("point_id"))
      val spans = Seq(
        (ts("2024-01-01T00:00:00Z"), ts("2024-01-01T02:00:00Z"), 10L),
        (ts("2024-01-01T05:00:00Z"), ts("2024-01-01T05:30:00Z"), 20L))
        .toDF("s_start", "s_end", "span_id")
        .select(unix_micros(col("s_start")).as("t_start_us"),
          unix_micros(col("s_end")).as("t_end_us"), col("span_id"))
      val batch = relational.RangeJoin.intervalJoin(pts, spans,
          "t", "t_start_us", "t_end_us", binWidth = 3600L * 1000000L)
        .select("span_id", "point_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got == batch)
    } finally q.stop()
  }

  test("windowed corpus quality monitor emits closed windows once, matches batch stats") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    val rows = Seq(
      (ts("2024-01-01T00:10:00Z"), 1L, "the cat sat on the mat and the dog barked"),
      (ts("2024-01-01T00:20:00Z"), 2L, "der hund und die katze und der vogel"),
      (ts("2024-01-01T00:40:00Z"), 3L, "a completely different story about the sea"),
      (ts("2024-01-01T01:30:00Z"), 4L, "the late arrival lands in the second window"))
    val src = MemoryStream[(java.sql.Timestamp, Long, String)]
    val q = graft.streaming.CorpusStream.qualityWindowed(
        src.toDS().toDF("ts", "doc_id", "text"),
        window = "1 hour", delay = "10 minutes")
      .writeStream.format("memory").queryName("quality_mon")
      .outputMode(OutputMode.Append).start()
    try {
      src.addData(rows.take(3): _*)
      q.processAllAvailable()
      assert(spark.table("quality_mon").count() == 0) // window still open
      src.addData(rows(3)) // watermark passes the first window end
      q.processAllAvailable()
      val got = spark.table("quality_mon").collect()
        .map(r => (r.getTimestamp(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
      // batch equivalence on the same first-window docs, same exprs
      import org.apache.spark.sql.functions.{avg => favg, _}
      val batch = rows.take(3).map { case (_, id, t) => (id, t) }
        .toDF("doc_id", "text")
        .withColumn("lang_pred", text.TextOps.langId(col("text")))
        .groupBy("lang_pred")
        .agg(count(lit(1)).as("n"),
          sum(text.TextOps.tokenCount(col("text")).cast("long")).as("tt"),
          favg(text.TextOps.qualityScore(col("text"))).as("aq"))
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toMap
      assert(got.keySet.map(_._2) == batch.keySet)
      batch.foreach { case (lang, (n, tt, aq)) =>
        val (gn, gtt, gaq) = got(ts("2024-01-01T00:00:00Z") -> lang)
        assert(gn == n && gtt == tt && math.abs(gaq - aq) < 1e-12)
      }
    } finally q.stop()
  }

  test("streaming embedding near-dedup drops cosine dups within sign buckets") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    val dims = 0 until 3
    // arrival order = id order; 2/4 are scalar multiples of 1 (cosine
    // 1, same sign bucket), 6 of 3 — near-dups straddling the batch
    // boundary; 3 and 5 open their own buckets
    val vecs = Seq(
      1L -> Array(1.0f, 0.2f, 0.1f),
      2L -> Array(0.9f, 0.18f, 0.09f),
      3L -> Array(-1.0f, 0.3f, 0.2f),
      4L -> Array(0.5f, 0.1f, 0.05f),
      5L -> Array(0.1f, -0.9f, 0.1f),
      6L -> Array(-0.75f, 0.225f, 0.15f))
    val rows = vecs.zipWithIndex.map { case ((id, v), i) =>
      (ts(f"2024-01-01T00:0$i%d:00Z"), id, v)
    }
    // expected: the batch blocked-pair operator's prefix rule — b is
    // dropped iff some earlier a shares its bucket at cosine >= th
    val batchDf = vecs.toDF("vec_id", "embedding")
    val dropped = similarity.Similarity
      .lshNearDupPairs(batchDf, threshold = 0.999, dims = dims)
      .collect().map(_.getLong(1)).toSet
    assert(dropped == Set(2L, 4L, 6L)) // fixture exercises drops + keeps
    val src = MemoryStream[(java.sql.Timestamp, Long, Array[Float])]
    val q = graft.streaming.EmbedStream.nearDedupStream(
        src.toDS().toDF("ts", "vec_id", "embedding"),
        threshold = 0.999, dims = dims, delayMs = 3600000L)
      .writeStream.format("memory").queryName("embed_dedup")
      .outputMode(OutputMode.Append).start()
    try {
      src.addData(rows.take(3): _*)
      q.processAllAvailable()
      src.addData(rows.drop(3): _*)   // dups of 1 and 3 arrive LATER
      q.processAllAvailable()
      val kept = spark.table("embed_dedup").collect()
        .map(_.getAs[Long]("vec_id")).sorted.toSeq
      assert(kept == vecs.map(_._1).filterNot(dropped), s"kept $kept")
    } finally q.stop()
  }

  test("streaming near-dedup: simhash64 hamming <= 3 across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    // docs 1..8 arriving over two micro-batches; expected drops are
    // derived from the BATCH signatures by the online prefix rule, so
    // the assertion tracks real signature geometry instead of a
    // hand-guessed fixture
    val rows = (1L to 8L).map { i =>
      val base = "the quick brown fox jumps over the lazy dog again and again " * 3
      val text = i match {
        case 2L => base + " tail"       // near-dup of 1 (small suffix)
        case 5L => base.toUpperCase     // exact dup of 1 after normalize
        case 7L => base + " different ending altogether with many new words here"
        case 8L => "completely unrelated content about spacecraft telemetry and orbital mechanics"
        case _  => base + s" variant $i"
      }
      (ts(f"2024-01-01T00:0${i - 1}%d:00Z"), i, text)
    }
    val docsDf = rows.map { case (_, id, t) => (id, t) }.toDF("doc_id", "text")
    // batch signatures (aggregation form) — also pins the row-local
    // expression to the batch operator bit-for-bit
    val batchSig = dedup.Dedup.simhash64(docsDf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val exprSig = docsDf.select(col("doc_id"),
        dedup.Dedup.simhash64Expr(col("text"))).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(exprSig == batchSig)
    def ham(a: String, b: String) = a.zip(b).count(p => p._1 != p._2)
    val expectedKept = (1L to 8L).filter { i =>
      !(1L until i).exists(j => ham(batchSig(i), batchSig(j)) <= 3)
    }
    // sanity: the fixture must actually exercise a drop and a keep
    assert(!expectedKept.contains(5L) && expectedKept.contains(8L))

    val src = MemoryStream[(java.sql.Timestamp, Long, String)]
    val q = graft.streaming.CorpusStream.nearDedupDocsStream(
        src.toDS().toDF("ts", "doc_id", "text"), delayMs = 3600000L)
      .writeStream.format("memory").queryName("neardedup")
      .outputMode(OutputMode.Append).start()
    try {
      src.addData(rows.take(4): _*)
      q.processAllAvailable()
      src.addData(rows.drop(4): _*)   // near-dups arrive in a LATER batch
      q.processAllAvailable()
      val kept = spark.table("neardedup").collect()
        .map(_.getAs[Long]("doc_id")).sorted.toSeq
      assert(kept == expectedKept, s"kept $kept vs expected $expectedKept")
      // survivors carry their signature for downstream use
      val sigs = spark.table("neardedup").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("simhash64")).toMap
      assert(sigs.forall { case (id, s) => s == batchSig(id) })
    } finally q.stop()
  }

  test("streaming DAU sketch store: partial merge equals the one-pass batch estimate") {
    import org.apache.spark.sql.functions._
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    // three days; users split across batches so day-2's sketch is
    // assembled from partials of BOTH epochs (and a late day-1 event
    // lands in epoch 2)
    val rows = Seq(
      (1L, ts("2024-01-01T01:00:00Z")), (2L, ts("2024-01-01T02:00:00Z")),
      (2L, ts("2024-01-02T01:00:00Z")), (3L, ts("2024-01-02T02:00:00Z")),
      (1L, ts("2024-01-03T01:00:00Z")))
    val batch1 = rows.take(3)
    val batch2 = rows.drop(3) :+ (4L, ts("2024-01-01T23:00:00Z")) // late
    val all = (batch1 ++ batch2).toDF("user_id", "ts")
    val store =
      java.nio.file.Files.createTempDirectory("graft_dau_spec_").toString

    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[(Long, java.sql.Timestamp)]
    val q = graft.streaming.DauStream
      .ingest(src.toDS().toDF("user_id", "ts"), store)
      .start()
    try {
      src.addData(batch1: _*); q.processAllAvailable()
      src.addData(batch2: _*); q.processAllAvailable()
    } finally q.stop()

    // the store holds per-epoch PARTIALS: >1 sketch row for a shared day
    val partials = spark.read.parquet(s"$store/sketches")
    assert(partials.count() > partials.select("day").distinct().count())

    val served = graft.streaming.DauStream.serveRolling(spark, store, 3)
    val oneShot = graft.relational.Engagement.rollingSketchEstimate(
      graft.relational.Engagement.dailySketches(all), 3)
    val a = served.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = oneShot.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b, s"served $a vs one-pass $b") // register-wise-max merge

    // replaying a committed epoch is a no-op (the marker skips it)
    val before = partials.count()
    graft.streaming.DauStream.ingestEpoch(all, store, 1L)
    assert(spark.read.parquet(s"$store/sketches").count() == before)

    // and the envelope gate holds end-to-end at this tiny cardinality
    val gated = graft.relational.Engagement.gate(all,
      graft.relational.Engagement.rollingExact(all, windowDays = 3),
      served)
    assert(gated.collect().forall(_.getBoolean(2)))
  }

  test("streaming CDC: merge-on-read serve equals batch cdcApply; " +
      "epoch replay is idempotent") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    import graft.streaming.CdcStream
    val store =
      java.nio.file.Files.createTempDirectory("graft_cdc_spec_").toString
    val src = MemoryStream[(Long, Double, Long, String)]
    val q = CdcStream.ingest(
        src.toDS().toDF("k", "v", "seq", "op"), store)
      .option("checkpointLocation", s"$store/ckpt").start()
    try {
      src.addData((1L, 10.0, 1L, "I"), (2L, 20.0, 1L, "I"))
      q.processAllAvailable()
      src.addData((1L, 11.0, 2L, "U"), (2L, 0.0, 2L, "D"),
        (3L, 30.0, 2L, "I"))
      q.processAllAvailable()
    } finally q.stop()
    // a replayed epoch (same id) must be a no-op
    CdcStream.ingestEpoch(
      Seq((1L, 99.0, 9L, "U")).toDF("k", "v", "seq", "op"), store, 1L)
    val served = CdcStream.serve(spark, store, "k", "seq", "op", Seq("v"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(served === Map(1L -> 11.0, 3L -> 30.0)) // 2 deleted, 1 updated
    val batch = graft.relational.Scd.cdcApply(
      spark.read.parquet(s"$store/log"), "k", "seq", "op", Seq("v"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(batch === served)
  }

  test("CDC compaction: serve is read-equivalent before/after, the log " +
      "shrinks to live keys, and post-compaction epochs resolve exactly") {
    import org.apache.spark.sql.functions._
    import graft.streaming.CdcStream
    val store =
      java.nio.file.Files.createTempDirectory("graft_cdc_compact_").toString
    def epoch(id: Long, rows: (Long, Double, Long, String)*): Unit =
      CdcStream.ingestEpoch(rows.toDF("k", "v", "seq", "op"), store, id)
    epoch(0L, (1L, 10.0, 1L, "I"), (2L, 20.0, 1L, "I"), (4L, 40.0, 1L, "I"))
    epoch(1L, (1L, 11.0, 2L, "U"), (2L, 0.0, 2L, "D"), (3L, 30.0, 2L, "I"))
    epoch(2L, (4L, 41.0, 3L, "U"), (3L, 0.0, 3L, "D"))
    def servedMap() =
      CdcStream.serve(spark, store, "k", "seq", "op", Seq("v"))
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    val before = servedMap()
    val rawRowsBefore = spark.read.parquet(s"$store/log").count()
    CdcStream.compact(spark, store, "k", "seq", "op", Seq("v"))
    // read-equivalence: the resolved state (values AND winning seqs)
    // survives compaction bit-for-bit
    assert(servedMap() === before)
    // bounded: the log now holds exactly the live keys (2), down from
    // every change event (8); deleted keys carry no tombstone afterlife
    val raw = spark.read.parquet(s"$store/log")
    assert(raw.count() === 2L && rawRowsBefore === 8L)
    assert(raw.filter(col("op") =!= "I").count() === 0L)
    // a replay of a compacted epoch stays a no-op (markers survive)
    epoch(1L, (1L, 99.0, 9L, "U"))
    assert(servedMap() === before)
    // post-compaction epochs resolve exactly as they would have
    // against the uncompacted log: update a survivor, re-insert a
    // deleted key, delete a survivor
    epoch(3L, (1L, 12.0, 4L, "U"), (2L, 22.0, 4L, "I"), (4L, 0.0, 4L, "D"))
    assert(servedMap() === Set((1L, 12.0, 4L), (2L, 22.0, 4L)))
  }

  test("CDC serve: a store that was never ingested fails AFTER the " +
      "bounded retries with the informative error, not a blind crash") {
    import graft.streaming.CdcStream
    val ghost = java.nio.file.Files
      .createTempDirectory("graft_cdc_ghost_").toString + "/nope"
    val t0 = System.nanoTime()
    val e = intercept[IllegalArgumentException] {
      CdcStream.serve(spark, ghost, "k", "seq", "op", Seq("v"))
    }
    val sec = (System.nanoTime() - t0) / 1e9
    assert(e.getMessage.contains("does not exist"))
    assert(e.getMessage.contains("nothing was ever ingested"))
    // bounded: ~40 × 25 ms of bridging, not an unbounded hang
    assert(sec < 30.0, s"took $sec s")
  }

  test("CDC serve racing the very FIRST ingest bridges the missing " +
      "store root (the r12 fail-fast regression, pinned)") {
    import org.apache.spark.sql.functions._
    import graft.streaming.CdcStream
    val store = java.nio.file.Files
      .createTempDirectory("graft_cdc_first_").toString + "/store"
    // serve starts BEFORE anything exists; the first epoch lands
    // ~200 ms later, inside the retry window
    val ingester = new Thread(() => {
      Thread.sleep(200)
      CdcStream.ingestEpoch(
        Seq((1L, 10.0, 1L, "I"), (2L, 20.0, 1L, "I"))
          .toDF("k", "v", "seq", "op"), store, 0L)
    })
    ingester.start()
    try {
      val served = CdcStream.serve(spark, store, "k", "seq", "op", Seq("v"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(served === Set((1L, 10.0), (2L, 20.0)))
    } finally ingester.join(60000)
  }

  test("CDC serve: a genuinely corrupt log file fails FAST (no swap " +
      "in flight, every named part on disk -> not retryable)") {
    import org.apache.spark.sql.functions._
    import graft.streaming.CdcStream
    val store = java.nio.file.Files
      .createTempDirectory("graft_cdc_corrupt_").toString
    CdcStream.ingestEpoch(
      Seq((1L, 10.0, 1L, "I")).toDF("k", "v", "seq", "op"), store, 0L)
    // drop a non-parquet file into the log dir
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$store/log/part-corrupt.parquet"),
      "this is not parquet".getBytes("UTF-8"))
    val t0 = System.nanoTime()
    intercept[Exception] {
      CdcStream.serve(spark, store, "k", "seq", "op", Seq("v"))
        .collect()
    }
    val sec = (System.nanoTime() - t0) / 1e9
    // fail-fast: no 40-retry busy wait before the real error surfaces
    assert(sec < 20.0, s"corrupt file burned $sec s before failing")
  }

  test("CDC compaction under a CONCURRENT reader: every interleaved " +
      "serve returns the same resolved state (read-retry over the swap)") {
    import org.apache.spark.sql.functions._
    import graft.streaming.CdcStream
    val store =
      java.nio.file.Files.createTempDirectory("graft_cdc_race_").toString
    def epoch(id: Long, rows: (Long, Double, Long, String)*): Unit =
      CdcStream.ingestEpoch(rows.toDF("k", "v", "seq", "op"), store, id)
    epoch(0L, (1L to 40L).map(k => (k, k * 1.0, 1L, "I")): _*)
    epoch(1L, (1L to 40L).filter(_ % 3 == 0)
      .map(k => (k, 0.0, 2L, "D")): _*)
    val expect = (1L to 40L).filterNot(_ % 3 == 0)
      .map(k => (k, k * 1.0)).toSet
    def servedSet() =
      CdcStream.serve(spark, store, "k", "seq", "op", Seq("v"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    // a compactor thread repeatedly swaps the log while the main
    // thread serves: a reader landing between the two renames must
    // retry, never crash or observe a partial log. Repeated compaction
    // of an already-compacted log is a valid no-op rewrite, so the
    // resolved state is constant throughout.
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failed = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val compactor = new Thread(() => {
      try {
        while (!stop.get()) {
          CdcStream.compact(spark, store, "k", "seq", "op", Seq("v"))
        }
      } catch { case t: Throwable => failed.set(t) }
    })
    compactor.start()
    try {
      (1 to 12).foreach { i =>
        assert(servedSet() === expect, s"interleaved read $i diverged")
      }
    } finally {
      stop.set(true)
      compactor.join(60000)
    }
    assert(failed.get() == null,
      s"compactor thread threw: ${failed.get()}")
    // the final state is intact after the race
    assert(servedSet() === expect)
  }
}
