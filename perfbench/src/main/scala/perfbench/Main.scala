package perfbench

import graft.{GeoCache, OpCache, Panel, Registry}
import graft.plans.PlanLint
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Benchmark entry point.
  *
  * {{{
  *   perfbench.Main gen <workload> <seed> <dataDir>
  *   perfbench.Main run <workload> <seed> <seconds> <trace 0|1> <dataDir> <workDir> <cores>
  * }}}
  *
  * `gen` writes the workload's seeded inputs; `run` drives the engine's
  * public entry points over them and prints the result as the last line.
  */
object Main {

  def session(cores: Int, workDir: String): SparkSession = {
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      // every pass repeats the same operations; at Spark's default of 100
      // entries a pass's ~190 generated classes evict each other, so each
      // pass compiled them anew and the JIT never caught up
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("gen", wl, seed, dataDir) => gen(Workloads.byName(wl), seed.toLong, dataDir)
    case Seq("run", wl, seed, seconds, trace, dataDir, workDir, cores) =>
      val spark = session(cores.toInt, workDir)
      try new Runner(spark, Workloads.byName(wl), seed.toLong, seconds.toDouble,
        trace == "1", dataDir, workDir, cores.toInt).run()
      finally spark.stop()
    case _ =>
      System.err.println("usage: perfbench.Main gen <workload> <seed> <dataDir> | " +
        "run <workload> <seed> <seconds> <trace> <dataDir> <workDir> <cores>")
      sys.exit(2)
  }

  /** Write the seed's inputs and a one-line size summary. */
  def gen(w: Workload, seed: Long, dataDir: String): Unit = {
    val sizes = w.inputs.map { case (name, g) =>
      val path = s"$dataDir/$name"
      val rows = Gen.write(g(seed), path)
      val bytes = new java.io.File(path).listFiles().map(_.length).sum
      s"$name=$rows rows/${bytes / 1024} KiB"
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dataDir/_SIZES"),
      sizes.mkString(", ").getBytes("UTF-8"))
  }
}

/** Outcome of one operation. */
final case class Op(job: Job, latencyS: Double, cpuS: Double, rows: Long, digest: String,
                    cols: Seq[String], findings: Int, error: Option[String])

/** One pass (batch) or round (service) of operations. */
final case class Pass(wallS: Double, cpuS: Double, jitS: Double, classes: Long, endMs: Long,
                      ops: Seq[Op], steal: Double, load1: Double, heapMb: Double,
                      contended: Boolean)

final class Runner(spark: SparkSession, w: Workload, seed: Long, seconds: Double,
                   trace: Boolean, dataDir: String, workDir: String, cores: Int) {

  private var spans: Spans = NoSpans
  private val tracer = new Tracer(spark)
  private val out = s"$workDir/out/${w.name}"
  private def say(s: String): Unit = println(s"# $s")

  private def read(job: Job): DataFrame = {
    val df = spark.read.parquet(s"$dataDir/${job.input}")
    if (job.kind == "events") Panel.normalizeTs(df) else df
  }

  private def build(kind: String, df: DataFrame, spec: String): DataFrame = kind match {
    case "panel" => Registry.run(df, spec)
    case "corpus" => Registry.runCorpus(df, spec)
    case "events" => Registry.runEvents(df, spec)
    case "graph" => Registry.runGraph(df, spec)
    case "embeddings" => Registry.runEmbeddings(df, spec)
  }

  /** Force `df` through the parquet writer (batch) or the noop sink
    * (service), observing the row count and canonical digest on the way.
    */
  private def force(df: DataFrame, path: Option[String]): (Long, String) = {
    val obs = Observation()
    val w = df.observe(obs, count(lit(1)).as("rows"),
      sum(Checks.rowHash(df)).cast("string").as("digest")).write.mode(SaveMode.Overwrite)
    path match {
      case Some(p) => w.parquet(p)
      case None => w.format("noop").save()
    }
    val m = obs.get
    (m("rows").asInstanceOf[Long], String.valueOf(m("digest")))
  }

  /** One graft.Run-shaped operation, timed from the read to the forced
    * output. PlanLint findings are counted, never fatal (a service logs
    * them, as graft.Run does with SPARK_GRAFT_LINT=warn).
    */
  private def runOp(job: Job): Op =
    try spans(s"op") {
      val cpu0 = Host.programCpuS()
      val t0 = System.nanoTime()
      val df = spans("io.read")(read(job))
      spans("registry.parse")(Registry.parse(job.spec))
      val result = spans("registry.build")(build(job.kind, df, job.spec))
      val findings = spans("plans.lint")(PlanLint.lint(result))
      val (rows, digest) = spans("exec.force")(
        force(result, if (w.batch) Some(s"$out/${job.name}") else None))
      val wall = (System.nanoTime() - t0) / 1e9
      Op(job, wall, Host.programCpuS() - cpu0, rows, digest, result.columns.toSeq,
        findings.size, None)
    } catch {
      case e: Exception =>
        Op(job, 0.0, 0.0, -1, "", Nil, 0, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)))
    }

  // ---- per-pass bookkeeping ---------------------------------------------

  private val cacheStoredMb = mutable.ArrayBuffer.empty[Double]
  private val cacheLiveRdds = mutable.ArrayBuffer.empty[Double]

  /** Releases OpCache; in traced passes, samples what stays cached. */
  private def releaseOpCache(): Unit = {
    OpCache.release(spark)
    if ((spans eq tracer) && tracer.phase == "timed") {
      val sc = spark.sparkContext
      cacheStoredMb += sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
      cacheLiveRdds += sc.getPersistentRDDs.size.toDouble
    }
  }

  /** Every session cache: batch passes start cold. */
  private def clearAll(): Unit = {
    releaseOpCache()
    GeoCache.clear(spark)
    spark.catalog.clearCache()
  }

  /** Live old-gen after the released blocks are really gone: unpersist is
    * asynchronous, and broadcast blocks leave only once the context
    * cleaner has seen a collection.
    */
  private def liveHeapMb(): Double = {
    val sc = spark.sparkContext
    val until = System.nanoTime() + 3000000000L
    if (w.batch)
      while (sc.getPersistentRDDs.nonEmpty && System.nanoTime() < until) Thread.sleep(20)
    System.gc()
    Thread.sleep(200)
    Host.liveOldGenMb()
  }

  private def runPass(label: String, jobs: Seq[Job]): Pass = {
    val c0 = Host.cpu()
    val jit0 = Host.jitCpuS()
    val cls0 = Host.classesLoaded()
    val cpu0 = Host.programCpuS()
    val t0 = System.nanoTime()
    val ops = jobs.map { j =>
      val op = runOp(j)
      if (label == "warmup")
        say(f"  ${j.name}%-28s ${op.latencyS}%.3fs cpu=${op.cpuS}%.3fs rows=${op.rows} " +
          s"lint=${op.findings}" + op.error.map(e => s" ERROR $e").getOrElse(""))
      if (!w.batch) releaseOpCache()
      op
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = Host.programCpuS() - cpu0
    val jit = Host.jitCpuS() - jit0
    val cls = Host.classesLoaded() - cls0
    val endMs = System.currentTimeMillis()
    val steal = Host.stealFrac(c0, Host.cpu())
    val load = Host.load1()
    if (w.batch) clearAll()
    val heap = liveHeapMb()
    val p = Pass(wall, cpu, jit, cls, endMs, ops, steal, load, heap, Host.contended(steal, load, cores))
    say(f"$label%-10s wall=$wall%.3fs cpu=$cpu%.3fs jit=$jit%.3fs classes=$cls " +
      f"ops=${ops.size} steal=$steal%.3f load1=$load%.2f heap_live=${heap}%.0fMB" +
      (if (p.contended) " CONTENDED" else ""))
    p
  }

  // ---- checks -------------------------------------------------------------

  private var attempted = 0
  private val failures = mutable.ArrayBuffer.empty[String]
  /** Each job's (rows, digest) from its first run; later runs must match. */
  private val ref = mutable.Map.empty[String, (Long, String)]

  private def fail(what: String): Unit = {
    failures += what
    say(s"FAIL $what")
  }

  /** Shape checks for every op, plus the reference digest per job. */
  private def checkOps(ops: Seq[Op]): Unit =
    ops.foreach { op =>
      attempted += 1
      val j = op.job
      val problem =
        op.error.orElse(
          if (j.cols.nonEmpty && op.cols.toSet != j.cols.toSet)
            Some(s"columns ${op.cols.sorted.mkString(",")}, want ${j.cols.sorted.mkString(",")}")
          else if (j.rows >= 0 && op.rows != j.rows) Some(s"${op.rows} rows, want ${j.rows}")
          else if (op.rows <= 0) Some("empty output")
          else ref.get(j.name) match {
            case Some((r, d)) if r != op.rows || d != op.digest =>
              Some(s"digest ${op.digest}/${op.rows} rows changed from $d/$r")
            case Some(_) => None
            case None => ref(j.name) = (op.rows, op.digest); None
          })
      problem.foreach(p => fail(s"${j.name}: $p"))
    }

  /** Plain-Scala recomputations and corpus invariants on the warm-up
    * outputs (later passes must reproduce their digests).
    */
  private def deepChecks(): Unit =
    if (w.name == "panel_batch") {
      temporalCheck()
      spatialCheck()
    }

  /** The temporal chain, recomputed per sampled unit. */
  private def temporalCheck(): Unit = {
      val units = Checks.sampleUnits(seed, Workloads.TUnits, 12)
      val in = spark.read.parquet(s"$dataDir/panel").filter(col("unit_id").isin(units: _*))
        .select("month_id", "unit_id", "value").collect().toSeq
      val got = spark.read.parquet(s"$out/temporal_chain").filter(col("unit_id").isin(units: _*))
        .select("month_id", "unit_id", "value").collect().toSeq
      Checks.compareSeries("temporal_chain", in, got, Checks.chainModel).foreach(fail)
  }

  /** splag4d, recomputed for the sampled units' cells. */
  private def spatialCheck(): Unit = {
      val units = Checks.sampleUnits(seed, Workloads.SUnits, 12)
      val neigh = spark.read.parquet(s"$dataDir/grid")
        .filter(col("unit_id").isin(Checks.neighbourhood(units): _*))
        .select("month_id", "unit_id", "value").collect().toSeq
      val want = Checks.splagModel(units, Workloads.SUnits, neigh)
      val got = spark.read.parquet(s"$out/splag4d").filter(col("unit_id").isin(units: _*))
        .select("month_id", "unit_id", "value").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val bad = want.filter { case (k, v) => !got.get(k).exists(g => math.abs(g - v) <= 1e-9) }
      if (got.size != want.size || bad.nonEmpty)
        fail(s"splag4d recomputation differs at ${bad.size} of ${want.size} cells " +
          bad.headOption.map { case (k, v) => s"(e.g. $k: ${got.get(k)}, want $v)" }.getOrElse(""))
  }

  /** Corpus invariants on the curation probe's output (the corpus layer
    * runs in the traced run's probes only).
    */
  private def corpusCheck(out: DataFrame): Unit = {
    attempted += 1
    val docs = spark.read.parquet(s"$dataDir/docs")
    Checks.corpus(out, docs.select("doc_id"), build("corpus", docs, Workloads.CurationDedup), 512)
      .foreach(p => fail(s"curation probe: $p"))
  }

  /** Digests are pinned per seed: a second run of one seed must
    * reproduce the first run's outputs.
    */
  private def checkAcrossRuns(): Unit = {
    val dir = new java.io.File(s"$workDir/digests")
    dir.mkdirs()
    // keyed by the workload's definition too: changing a size or a spec
    // starts a new pin
    val defn = (w.sizes +: w.pass(seed).map(_.spec)).mkString("|").hashCode & 0x7fffffff
    val f = new java.io.File(dir, s"${w.name}-$seed-$defn.txt")
    val now = ref.toSeq.sortBy(_._1).map { case (k, (r, d)) => s"$k $r $d" }
    if (f.exists) {
      val before = scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq
      if (before != now)
        fail(s"digests differ from an earlier run of seed $seed: " +
          before.diff(now).headOption.getOrElse("(missing entries)"))
    } else if (failures.isEmpty)
      java.nio.file.Files.write(f.toPath, now.mkString("\n").getBytes("UTF-8"))
  }

  // ---- the run ------------------------------------------------------------

  private def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Nearest-rank quantile. */
  private def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }

  /** A fixed number of timed passes: `seconds` over the workload's
    * nominal pass wall, at least `minPasses`. The count does not depend on
    * how fast this run goes, so a contended run lasts longer instead of
    * measuring earlier (less warmed-up) passes. With `traced` set, passes
    * run untraced and traced in ABBA order, so a trend in pass time (JIT
    * warm-up) biases neither side of the tracing overhead.
    */
  private def timed(minPasses: Int, traced: Boolean = false): Seq[(Boolean, Pass)] = {
    val jobs = w.pass(seed)
    val n = math.max(minPasses, math.round(seconds / w.passS).toInt)
    val passes = mutable.ArrayBuffer.empty[(Boolean, Pass)]
    while (passes.size < n) {
      val on = traced && (passes.size % 4 == 1 || passes.size % 4 == 2)
      if (on) {
        tracer.start()
        tracer.phase = "timed"
        spans = tracer
      }
      val p =
        try runPass(s"${if (on) "traced" else "pass"}${passes.size + 1}", jobs)
        finally if (on) {
          spans = NoSpans
          tracer.stop()
        }
      checkOps(p.ops)
      passes += ((on, p))
    }
    passes.toSeq
  }

  def run(): Unit = {
    val sizes = scala.io.Source.fromFile(s"$dataDir/_SIZES", "UTF-8").mkString
    say(s"workload ${w.name} seed $seed: ${w.sizes}")
    say(s"inputs: $sizes")
    say(s"session local[$cores], heap ${Runtime.getRuntime.maxMemory / 1048576} MB")

    // warm-up pass: JVM, session, class init and first codegen
    tracer.phase = "warmup"
    val warm = runPass("warmup", w.pass(seed))
    val setupS = (warm.endMs - Host.jvmStartMs) / 1e3
    checkOps(warm.ops)
    deepChecks()

    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        val passes = timed(if (w.batch) 3 else 4).map(_._2)
        endToEnd(setupS, passes)
      } else {
        val passes = timed(4, traced = true)
        val (traced, plain) = passes.partition(_._1)
        tracer.start()
        tracer.phase = "probe"
        spans = tracer
        val probes = new Probes(spark, w, seed, workDir, tracer, read, build, () => clearAll(),
          corpusCheck)
        probes.run(Host.jvmStartMs + 140000)
        tracer.stop()
        tracer.finish()
        tracer.dump(s"$workDir/trace-${w.name}-$seed.json")
        new Layers(tracer, cores, cacheStoredMb.toSeq, cacheLiveRdds.toSeq)
          .metrics(plain.map(_._2), traced.map(_._2))
      }
    checkAcrossRuns()

    val failed = failures.size
    say(s"checks: ${attempted - failed}/$attempted operations correct" +
      (if (failed > 0) s", failures: ${failures.take(5).mkString("; ")}" else ""))
    say(f"fail_frac=${failed.toDouble / math.max(1, attempted)}%.4f")
    metrics.foreach { case (n, v, u) => say(f"$n%-28s ${Json.num(v)}%14s $u") }
    val ms = metrics.map { case (n, v, u) => s""""$n":{"value":${Json.num(v)},"unit":"$u"}""" }
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{${ms.mkString(",")}}}""")
  }

  /** End-to-end metrics. Apart from `setup_s`, they are CPU seconds
    * (`Host.programCpuS`: tasks, driver, GC; not the JIT) rather than wall:
    * with three CPU-bound processes beside it on the 4-core host, a
    * service round's wall grew by 40% and its CPU by 5%. `batch_cpu_s` is
    * the CPU of all timed passes over their number. Walls are printed
    * alongside, and reported per layer by the traced run.
    */
  private def endToEnd(setupS: Double, passes: Seq[Pass]): Seq[(String, Double, String)] = {
    val ok = passes.flatMap(_.ops.filter(_.error.isEmpty))
    val lat = ok.map(_.latencyS)
    val cpu = ok.map(_.cpuS)
    say(s"timed: ${passes.size} passes, ${ok.size} operations " +
      s"(${cpu.count(_ > quantile(cpu, 0.9))} beyond p90), " +
      s"${passes.count(_.contended)} contended passes (kept)")
    passes.flatMap(_.ops).groupBy(_.job.name).toSeq.sortBy(_._1).foreach { case (n, os) =>
      say(f"  $n%-28s median ${median(os.map(_.latencyS))}%.3fs wall, " +
        f"${median(os.map(_.cpuS))}%.3fs cpu over ${os.size}")
    }
    say(f"wall: pass median ${median(passes.map(_.wallS))}%.3fs, operation p50 " +
      f"${median(lat)}%.3fs p90 ${quantile(lat, 0.9)}%.3fs, " +
      f"${lat.size / passes.map(_.wallS).sum}%.3f operations/s")
    Seq(
      ("setup_s", setupS, "s"),
      ("batch_cpu_s", passes.map(_.cpuS).sum / passes.size, "s"),
      ("request_cpu_p50_s", median(cpu), "s"),
      ("request_cpu_p90_s", quantile(cpu, 0.9), "s"),
      ("heap_live_mb", median(passes.map(_.heapMb)), "MB"))
  }
}
