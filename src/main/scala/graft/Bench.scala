package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** BENCH main: runs every SparkEntry query against SPARK_GRAFT_SF_DIR
  * and prints per-query wall-clock seconds as cumulative JSON lines.
  *
  * Each query is forced through the noop sink (all columns computed,
  * nothing collected) — `count()` would let Catalyst prune the very
  * projections being benchmarked. A small warmup query first absorbs
  * JVM/codegen startup so per-query numbers measure the plans.
  *
  * CROSS-RELEASE comparisons must match the `timing` tag in the JSON:
  * the r10 protocol change (two-pass min-of-2 → min-of-2-ADJACENT with
  * per-query OpCache release) systematically lowers warm minima
  * independent of plan changes, so a delta quoted across differently-
  * tagged artifacts measures the protocol, not the plans — re-run the
  * prior surface under the current protocol or annotate the comparison
  * as cross-protocol.
  */
object Bench {

  /** 1-minute load average from /proc/loadavg (Linux; -1.0 elsewhere).
    * Captured before and after the timed section: a value far above the
    * worker core count marks the whole run as machine-contended.
    */
  private def loadAvg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.split("\\s+")(0).toDouble finally src.close()
    } catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession("graft-bench")
    // opt-in stderr trace: interleaves query boundaries and one line per
    // Spark job (wall, stage count, call site) with Spark's WARN lines,
    // so a "large task binary" / codegen warning or a job storm can be
    // attributed to the query that caused it (stderr only — the
    // driver's stdout-tail capture never sees it)
    val trace = sys.env.get("SPARK_GRAFT_TRACE").contains("1")
    if (trace) spark.sparkContext.addSparkListener(new SparkListener {
      private val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int)]
      override def onJobStart(js: SparkListenerJobStart): Unit =
        starts.put(js.jobId, (System.nanoTime(),
          js.stageInfos.lastOption.map(_.name.take(90)).getOrElse("?"), js.stageIds.length))
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        Option(starts.remove(je.jobId)).foreach { case (t0, site, nStages) =>
          val sec = (System.nanoTime() - t0) / 1e9
          System.err.println(f"[job] id=${je.jobId}%4d $sec%7.3f s stages=$nStages%3d  $site")
        }
    })

    def force(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // warmup: JVM/codegen/parquet-footer costs AND the shared panel
    // cache materialisation land here, not on the first measured query
    force(SparkEntry.queries("q_identity")(spark, sfDir))
    // per-table warmup: the first query to touch a source table pays
    // its footer read / page-cache fill / datasource class init —
    // recorded as plan cost on whichever query happens to run first in
    // alphabetical order (r4 recorded q_sample_hash at 6.9× its plan
    // cost this way, because a reorder made it documents.parquet's
    // first toucher). Touch every table once, off the clock.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val fs = new org.apache.hadoop.fs.Path(sfDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(sfDir))
      .map(_.getPath.toString).filter(_.endsWith(".parquet"))
      .foreach(p => force(spark.read.parquet(p).limit(1)))
    // string-path warmup: the first collation-aware string expression
    // to execute triggers CollationAwareUTF8String.<clinit>, which
    // builds ICU case-mapping tables — measured 15-20 s once per JVM
    // on this image. One analysed row absorbs it (and the text
    // codegen/JIT) so per-query numbers measure plans, not class init.
    force(SparkEntry.queries("q_text_analyze")(spark, sfDir).limit(1))

    // optional comma-separated filter for local iteration
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // HEAVY-TAIL-FIRST ordering (r14 verdict #1b): two driver benches
    // DNF'd on box stall waves with only the cheap alphabetical prefix
    // measured. Running descending by last-recorded cost means a
    // mid-run timeout's partial snapshot covers the expensive,
    // interesting queries — ≥90% of recorded wall-time lands in the
    // first fraction of the run. Costs come from the committed
    // bench_order.json (min across the three r14 full-surface runs);
    // unknown names (new queries) run FIRST at assumed-heavy cost so
    // they are never the ones a timeout drops. Alphabetical order is
    // one env var away (SPARK_GRAFT_BENCH_ORDER=alpha) for A/B runs.
    val orderCosts: Map[String, Double] =
      try {
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("bench_order.json")), "UTF-8")
        // minimal parse: "name": number pairs inside the "queries" map
        val re = """"(q_[A-Za-z0-9_]+)"\s*:\s*([0-9.]+)""".r
        re.findAllMatchIn(txt).map(m => m.group(1) -> m.group(2).toDouble).toMap
      } catch { case _: Throwable => Map.empty }
    val alpha = sys.env.get("SPARK_GRAFT_BENCH_ORDER").contains("alpha")
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .sortBy { case (n, _) =>
        if (alpha) (0.0, n)
        else (-orderCosts.getOrElse(n, Double.MaxValue), n)
      }
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    def timed(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      if (trace) System.err.println(s"[bench] begin $name")
      val t0 = System.nanoTime()
      try force(fn(spark, sfDir))
      catch { case e: Throwable =>
        failures += name
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
      (System.nanoTime() - t0) / 1e9
    }
    // Contention-evident protocol (r5 verdict item 1). Machine
    // contention on a shared host inflated r5 driver timings 4-14× on
    // code untouched since r4, and the old "re-time only >3 s" rule let
    // a contended sub-3 s first pass stand as truth. Now EVERY query is
    // timed at least twice and the min recorded; if the two samples
    // still diverge by more than 2× (one of them was contended — a
    // warm, cached plan does not legitimately vary that much), a third
    // sample arbitrates. All samples are emitted in the full artifact
    // so a divergent run is diagnosable from the JSON alone, and
    // /proc/loadavg is captured before and after as the machine-load
    // indicator.
    // A failed re-time is MARKED, never papered over: fabricating a
    // second sample equal to the first would defeat the divergence
    // check and let a contended first sample stand as the recorded
    // minimum with no flag (the exact failure mode this protocol
    // exists to surface). Queries in `retry_failed` have fewer
    // samples than the protocol demands — treat their numbers as
    // single-sample, unarbitrated.
    val retryFailed = scala.collection.mutable.LinkedHashSet.empty[String]
    def retime(name: String): Option[Double] =
      try {
        if (trace) System.err.println(s"[bench] begin $name (retime)")
        val t0 = System.nanoTime()
        force(SparkEntry.queries(name)(spark, sfDir))
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        retryFailed += name
        System.err.println(s"[bench] $name re-time failed: ${e.getMessage}")
        None
      }
    val loadBefore = loadAvg()
    // Timeout survivability (r13 verdict #2: BENCH_r13 was an rc-124
    // DNF with `parsed: null` — ~45 queries' measurements existed and
    // were LOST because this main printed nothing until the very end).
    // Two defenses:
    //   - after EVERY query the cumulative headline line is printed
    //     (marked "partial":true with completed/of counters) and
    //     target/bench_full.json is atomically rewritten — the
    //     driver's ~2000-byte stdout-tail capture always ends with a
    //     parseable snapshot of whatever completed, so an external
    //     kill can no longer produce a zero-information record;
    //   - an optional wall-clock budget (SPARK_GRAFT_BENCH_BUDGET_S,
    //     seconds): past 70% consumed, remaining queries drop to
    //     SINGLE-SAMPLE mode (no re-time, no arbitration) rather than
    //     DNF — those names are listed in "degraded" (the r5 "marked,
    //     never papered over" discipline: a degraded entry is one
    //     unarbitrated sample, not a protocol-clean minimum).
    val budgetS = sys.env.get("SPARK_GRAFT_BENCH_BUDGET_S").map(_.toDouble)
    val tStart = System.nanoTime()
    def pastBudget: Boolean =
      budgetS.exists(b => (System.nanoTime() - tStart) / 1e9 > 0.7 * b)
    val degraded = scala.collection.mutable.LinkedHashSet.empty[String]
    // FAST MODE (r14 verdict #1a, default ON; SPARK_GRAFT_BENCH_FAST=0
    // restores min-of-2 everywhere): a query whose FIRST sample lands
    // under 1 s records that single sample and skips the re-time — a
    // sub-second first sample cannot hide a regression worth arbitrating
    // (measured on the r14 artifacts: skipping these re-times saves
    // ~55 s wall per run and raises the composite by ~25 s, all of it
    // first-sample codegen). Fast-mode names are listed in "fast" in
    // the full artifact (count only in the headline, for the byte cap)
    // so a cross-protocol diff can see exactly which entries are
    // single-sample; queries at or above 1 s keep the full min-of-2 +
    // divergence-arbitration protocol unchanged.
    val fastMode = !sys.env.get("SPARK_GRAFT_BENCH_FAST").exists(v =>
      v == "0" || v.equalsIgnoreCase("false"))
    val FastCutoffS = 1.0
    val fast = scala.collection.mutable.LinkedHashSet.empty[String]

    def sec(v: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    // millisecond precision for the full artifact: %.2f flattens
    // sub-10ms samples to 0.00/0.01, hiding exactly the spread the
    // samples exist to show (the compact headline keeps %.2f for the
    // output-tail byte budget)
    def ms(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def names(xs: Iterable[String]): String =
      xs.map("\"" + _ + "\"").mkString("[", ",", "]")

    /** Cumulative snapshot: atomically rewrite target/bench_full.json
      * and print ONE headline JSON line. Called after EVERY measured
      * query (partial = true) and once at the end (partial = false);
      * the driver's tail capture keeps whichever line printed last.
      */
    def emit(sampled: Seq[(String, Seq[Double])], partial: Boolean): Unit = {
      val loadAfter = loadAvg()
      val results = sampled.map { case (name, ts) => name -> ts.min }
      // The contention indicator the r5 verdict asked for. A first-run/
      // re-run spread is expected (per-query codegen + JIT land on the
      // first sample), so contention is judged on WARM samples only: a
      // query is contended when its two warm samples (taken only after
      // the first two diverged) still disagree >2× — a warm, cached
      // plan does not legitimately vary that much. A clean run has
      // empty `contended`; a degraded machine fills it.
      val contended = sampled.collect {
        case (n, ts) if ts.length >= 3 && {
          val warm = ts.drop(1)
          warm.max > 2.0 * warm.min && warm.max > 0.3
        } => n
      }
      val total = results.map(_._2).sum
      // a thrown query records near-zero wall-clock — surface it so a
      // regression can't masquerade as a fast run
      val fj = names(failures)
      val cj = names(contended)
      val rj = names(retryFailed)
      val dj = names(degraded)
      // "timing" documents the protocol: every query is min-of-2 warm
      // samples (min-of-3 when the first two diverge >2×), the later
      // passes run against whatever session caches the first built
      // (GeoCache persists, cached shingle tables, CacheManager plan
      // reuse) — so the numbers are warm-cache plan-tracking numbers,
      // and "total" is a sum of per-query minima, not any single run's
      // wall-clock. `contended` lists queries whose samples still
      // spread >2× and `load` is 1-min /proc/loadavg before/after — a
      // run with many contended entries or load far above core count
      // is a degraded measurement, not a plan regression. `degraded`
      // lists single-sample entries forced by the wall-clock budget;
      // `partial` + completed/of mark a mid-run snapshot (the run was
      // killed before the suite finished — totals cover only the
      // completed prefix).
      val progress =
        if (partial) s""""partial":true,"completed":${sampled.length},"of":${selected.length},"""
        else ""
      val loadJson = s""""load":[${sec(loadBefore)},${sec(loadAfter)}]"""
      // protocol tag: fast mode single-samples sub-1s first samples, so
      // a cross-release diff must not quote fast-tagged numbers against
      // plain min-of-2-adjacent artifacts for the sub-second population
      val timingTag =
        if (fastMode) "min-of-2-adjacent-fast1s" else "min-of-2-adjacent"
      def toJson(rs: Seq[(String, Double)]): String =
        rs.map { case (k, v) => "\"" + k + "\":" + sec(v) }.mkString("{", ",", "}")
      def line(qs: Seq[(String, Double)]) =
        s"""{"metric":"total","value":${sec(total)},"unit":"sec",$progress"timing":"$timingTag","fast_n":${fast.size},"contended":$cj,"retry_failed":$rj,"degraded":$dj,$loadJson,"queries":${toJson(qs)},"failures":$fj,"sf":"$sfDir"}"""
      // full artifact additionally carries every raw sample per query
      // (ms precision), so a divergent driver run is diagnosable from
      // the JSON alone
      val samplesJson = sampled.map { case (n, ts) =>
        "\"" + n + "\":[" + ts.map(ms).mkString(",") + "]"
      }.mkString("{", ",", "}")
      val fullQueries = results.map { case (k, v) => "\"" + k + "\":" + ms(v) }
        .mkString("{", ",", "}")
      val fullLine =
        s"""{"metric":"total","value":${ms(total)},"unit":"sec",$progress"timing":"$timingTag","fast":${names(fast)},"contended":$cj,"retry_failed":$rj,"degraded":$dj,$loadJson,"queries":$fullQueries,"failures":$fj,"sf":"$sfDir","samples":$samplesJson}"""
      val target = java.nio.file.Paths.get("target/bench_full.json")
      val tmp = java.nio.file.Paths.get("target/bench_full.json.tmp")
      java.nio.file.Files.createDirectories(target.getParent)
      java.nio.file.Files.write(tmp, (fullLine + "\n").getBytes("UTF-8"))
      try java.nio.file.Files.move(tmp, target,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
        java.nio.file.Files.move(tmp, target,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING) }
      // The harness captures only the last ~2000 bytes of the run's
      // output (sbt's own epilogue included), and the JSON line must
      // fit inside that tail IN FULL to parse. `total`/`failures`
      // cover every query; the per-query map carries the SLOWEST
      // queries that fit under the byte cap (r7 lesson: a fixed
      // alphabetical prefix truncated at q_pack_*, losing the
      // spatial/temporal families from round-over-round diffs — the
      // expensive queries are the ones a diff must see, whatever their
      // names). The complete map lives in target/bench_full.json;
      // 1500-byte cap leaves real headroom under the ~2000-byte
      // capture (sbt epilogue included).
      val headlineLine = {
        val byCost = results.sortBy { case (n, t) => (-t, n) }
        Iterator.iterate(byCost)(_.dropRight(8)).map(line)
          .find(_.length <= 1500).getOrElse(line(Seq.empty))
      }
      println(headlineLine)
      // r16 (r15 verdict #7): every committed headline is ALSO written
      // to target/bench_headline.txt; a shutdown hook in build.sbt
      // (the sbt JVM outlives this forked one) re-prints it as the
      // very last stdout line AFTER sbt's "[success]" epilogue, so the
      // driver's ~2000-byte tail capture always ends with the intact,
      // unprefixed JSON — the r11..r15 rc=0 runs all parsed to null
      // with the line present but "[info]"-prefixed and followed by
      // the epilogue. The per-query stdout lines above are unchanged.
      val hl = java.nio.file.Paths.get("target/bench_headline.txt")
      val hlTmp = java.nio.file.Paths.get("target/bench_headline.txt.tmp")
      java.nio.file.Files.write(hlTmp, (headlineLine + "\n").getBytes("UTF-8"))
      try java.nio.file.Files.move(hlTmp, hl,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
        java.nio.file.Files.move(hlTmp, hl,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING) }
    }

    // Samples are taken ADJACENTLY per query (s1, s2, arbitration all
    // back-to-back), and operator-scoped persisted frames are released
    // between queries. The r9 artifact showed 20-35% drift on queries
    // with unchanged plans once the suite hit 323 entries: the old
    // two-pass order put a query's second sample ~300 queries after its
    // first, by which time the accumulated OpCache working set (every
    // dedup family's shingle/signature frames, every graph's
    // symmetrized edges — none released until teardown) had evicted
    // its blocks. Adjacent samples measure a genuinely warm plan;
    // per-query release bounds the executor-cache working set to ONE
    // query's frames, so suite growth cannot degrade early entries.
    val sampled = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[Double])]
    selected.foreach { case (name, fn) =>
      val t1 = timed(name, fn)
      val res: (String, Seq[Double]) =
        if (failures.contains(name)) name -> Seq(t1)
        else if (pastBudget) { degraded += name; name -> Seq(t1) }
        else if (fastMode && t1 < FastCutoffS) { fast += name; name -> Seq(t1) }
        else retime(name) match {
          case None => name -> Seq(t1)
          case Some(t2) =>
            val base = Seq(t1, t2)
            val diverged = math.max(t1, t2) > 2.0 * math.min(t1, t2) &&
              math.max(t1, t2) > 0.2 // µs-scale jitter on trivial plans is not contention
            name -> (if (diverged) base ++ retime(name) else base)
        }
      sampled += res
      OpCache.release(spark)
      emit(sampled.toSeq, partial = true)
    }
    emit(sampled.toSeq, partial = false)
    // r16 (r15 verdict #8 groundwork): quantify the per-query cold
    // codegen tail directly — janino compilation count/time and
    // generated-code volume from Spark's own CodegenMetrics. stderr
    // only (the driver's stdout tail never sees it); the numbers feed
    // the OPTIMIZATION_r16.md adjudication of whether a bigger
    // codegen cache trims the ~900 s first-sample tail.
    try {
      val cm = org.apache.spark.metrics.source.CodegenMetrics
      val t = cm.METRIC_COMPILATION_TIME
      System.err.println(
        f"[bench] codegen: compilations=${t.getCount} " +
        f"meanMs=${t.getSnapshot.getMean}%.1f " +
        f"approxTotalS=${t.getCount * t.getSnapshot.getMean / 1000.0}%.1f " +
        f"generatedClasses=${cm.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount}")
    } catch { case _: Throwable => () }
    // free everything the session cached (the registry would otherwise
    // keep the stopped session and its blocks reachable)
    OpCache.clear(spark)
    spark.stop()
  }
}
