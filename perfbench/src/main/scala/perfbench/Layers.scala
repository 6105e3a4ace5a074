package perfbench

import graft.{GeoCache, Registry}
import graft.Registry.Step
import graft.spatial.Grid
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Traced-run probes, each under its own span:
  *  - `step.<transform>`: every step of the workload's specs (and of its
  *    probe-only specs) alone, on a materialised input, applied and forced
  *    through the noop sink;
  *  - `io.write`: writing an already-materialised result as parquet;
  *  - `cache.geo_miss` / `cache.geo_hit`: direct GeoCache calls right
  *    after a clear, and again without one.
  */
final class Probes(spark: SparkSession, w: Workload, seed: Long, workDir: String,
                   spans: Spans, read: Job => DataFrame,
                   build: (String, DataFrame, String) => DataFrame, clearAll: () => Unit,
                   corpusCheck: DataFrame => Unit) {

  private def stepJson(s: Step): String = {
    val args = s.args.map {
      case d: Double if d == math.rint(d) => d.toLong.toString
      case str: String => "\"" + Json.esc(str) + "\""
      case other => other.toString
    }
    s"""[{"type":"${s.name}","args":[${args.mkString(",")}]}]"""
  }

  private def applyStep(kind: String, df: DataFrame, s: Step): DataFrame = kind match {
    case "panel" => Registry.apply(df, s)
    case "corpus" => Registry.corpusPipeline(df, Seq(s))
    case _ => build(kind, df, stepJson(s))
  }

  private def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** One job per distinct spec (the service mix repeats specs across its
    * pool panels).
    */
  private val passJobs: Seq[Job] =
    w.pass(seed).groupBy(_.spec).values.map(_.minBy(_.name)).toSeq.sortBy(_.name)

  /** `df` materialised eagerly. A local checkpoint keeps the partitions
    * the plan ran with under AQE; a persisted plan would keep all 200
    * shuffle partitions and inflate every task count downstream.
    */
  private def materialised(df: DataFrame): DataFrame =
    spans("probe.materialise")(df.localCheckpoint(eager = true))

  /** Each step of `job` alone: its input materialised first, then the step
    * applied and forced through the noop sink.
    */
  private def steps(job: Job): Unit = {
    var input = materialised(read(job))
    val all = Registry.parse(job.spec)
    all.zipWithIndex.foreach { case (s, i) =>
      val r = spans(s"step.${s.name}") {
        val r = applyStep(job.kind, input, s)
        noop(r)
        r
      }
      if (i + 1 < all.size) input = materialised(r)
      else if (job.spec == Workloads.Curation) corpusCheck(r)
    }
    clearAll()
  }

  /** Writing the already-materialised result of `job`. */
  private def write(job: Job): Unit = {
    val result = materialised(build(job.kind, read(job), job.spec))
    spans("io.write")(result.write.mode("overwrite").parquet(s"$workDir/probe-out"))
    clearAll()
  }

  /** Runs the probes; a probe that could end after `endByMs` is skipped
    * (and reported as zeros), so a traced run stays bounded.
    */
  def run(endByMs: Long): Unit = {
    def guarded(what: String, needS: Double)(f: => Unit): Unit =
      if (System.currentTimeMillis() + needS * 1000 < endByMs) f
      else println(s"# probe skipped (run time budget): $what")
    passJobs.find(_.kind == "panel").foreach { job =>
      guarded("GeoCache", 10) {
        val gp = read(job).withColumn("lon", Grid.unitLon(col("unit_id")))
          .withColumn("lat", Grid.unitLat(col("unit_id")))
        def geometry(): Unit = {
          GeoCache.embedding(gp)
          GeoCache.adjacency(gp).count()
          GeoCache.ring(gp, 1, 1).count()
        }
        GeoCache.clear(spark)
        spans("cache.geo_miss")(geometry())
        spans("cache.geo_hit")(geometry())
        clearAll()
      }
    }
    passJobs.foreach(j => guarded(s"io.write of ${j.name}", 5)(write(j)))
    (passJobs ++ w.probeOnly).foreach(j => guarded(s"steps of ${j.name}", j.probeS)(steps(j)))
  }
}

/** Per-layer metrics of a traced run, named after the engine's modules. */
final class Layers(t: Tracer, cores: Int, storedMb: Seq[Double], liveRdds: Seq[Double]) {

  /** Every transform a workload's specs use; each gets step.<t>_s/_jobs. */
  val StepNames: Seq[String] = Seq(
    "replace_na", "tlag", "moving_average", "delta", "time_since", "decay",
    "tlags3d", "onset", "temporal_entropy", "fill", "ewma", "rollmax",
    "splag4d", "splag_country", "tree_lag", "fourier_lag", "spacetime_dist",
    "temporal_tree_lag",
    "normalize_unicode", "scrub_pii", "remove_repeated_spans", "quality_filter",
    "dedup_exact", "minhash_neardup", "chunk", "pack_sequences",
    "funnel", "sessionize", "label_prop", "pagerank", "normalize", "topk")

  /** Spans whose self time is reported. */
  val Layered: Seq[String] =
    Seq("op", "io.read", "registry.parse", "registry.build", "plans.lint", "exec.force")

  private val MB = 1048576.0

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sorted.apply((xs.size - 1) / 2)

  def metrics(plain: Seq[Pass], traced: Seq[Pass]): Seq[(String, Double, String)] = {
    val timed = t.all.filter(_.phase == "timed")
    val ops = timed.filter(_.name == "op")
    val n = math.max(1, ops.size).toDouble
    val c = new Counters
    timed.foreach(s => c.add(s.c))
    def total(name: String): Double = timed.filter(_.name == name).map(_.durS).sum
    def selfOf(name: String): Double = timed.filter(_.name == name).map(t.selfS).sum
    val build = new Counters
    timed.filter(_.name == "registry.build").foreach(s => build.add(t.subtree(s)))
    val probe = t.all.filter(_.phase == "probe")
    def probeMean(name: String): Seq[Double] = probe.filter(_.name == name).map(_.durS)
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val opWall = ops.map(_.durS).sum
    // tracing overhead on the end-to-end measure (pass CPU), and on the wall
    val overhead = median(traced.map(_.cpuS)) - median(plain.map(_.cpuS))
    val overheadWall = median(traced.map(_.wallS)) - median(plain.map(_.wallS))
    val plainLat = plain.flatMap(_.ops.filter(_.error.isEmpty).map(_.latencyS))

    printTable(timed ++ probe)

    Seq(
      ("registry.parse_s", total("registry.parse") / n, "s"),
      ("registry.build_s", total("registry.build") / n, "s"),
      ("registry.build_jobs", build.jobs / n, "count"),
      ("plans.lint_s", total("plans.lint") / n, "s"),
      ("plans.lint_findings", traced.flatMap(_.ops).map(_.findings).sum / n, "count"),
      ("catalyst.analysis_s", c.analysisMs / 1e3 / n, "s"),
      ("catalyst.optimization_s", c.optimizationMs / 1e3 / n, "s"),
      ("catalyst.planning_s", c.planningMs / 1e3 / n, "s"),
      ("exec.jobs", c.jobs / n, "count"),
      ("exec.stages", c.stages / n, "count"),
      ("exec.tasks", c.tasks / n, "count"),
      ("exec.task_run_s", c.runMs / 1e3 / n, "s"),
      ("exec.task_cpu_s", c.cpuNs / 1e9 / n, "s"),
      ("exec.gc_s", c.gcMs / 1e3 / n, "s"),
      ("exec.sched_delay_s", c.schedMs / 1e3 / n, "s"),
      ("exec.core_util", if (opWall > 0) c.runMs / 1e3 / (opWall * cores) else 0.0, "ratio"),
      ("exec.shuffle_write_mb", c.shuffleWrite / MB / n, "MB"),
      ("exec.shuffle_read_mb", c.shuffleRead / MB / n, "MB"),
      ("exec.spill_mb", c.spill / MB / n, "MB"),
      ("exec.peak_exec_mem_mb", c.peakExecMem / MB, "MB"),
      ("io.read_s", total("io.read") / n, "s"),
      ("io.read_mb", c.input / MB / n, "MB"),
      ("io.write_mb", c.output / MB / n, "MB"),
      ("io.write_s", mean(probeMean("io.write")), "s"),
      ("cache.geo_miss_s", mean(probeMean("cache.geo_miss")), "s"),
      ("cache.geo_hit_s", mean(probeMean("cache.geo_hit")), "s"),
      ("cache.stored_mb", mean(storedMb), "MB"),
      ("cache.live_rdds", mean(liveRdds), "count"),
      ("host.steal_frac", median(traced.map(_.steal)), "ratio"),
      ("host.load1", median(traced.map(_.load1)), "count"),
      ("trace.overhead_s", overhead, "s"),
      ("trace.overhead_frac", overhead / math.max(1e-9, median(plain.map(_.cpuS))), "ratio"),
      ("trace.overhead_wall_s", overheadWall, "s"),
      ("wall.batch_s", median(plain.map(_.wallS)), "s"),
      ("wall.request_p50_s", median(plainLat), "s"),
      ("jvm.jit_cpu_s", median(plain.map(_.jitS)), "s"),
      ("jvm.classes_loaded", median(plain.map(_.classes.toDouble)), "count"),
      ("trace.ops", ops.size.toDouble, "count")) ++
      Layered.map(l => (s"self.${l.replace('.', '_')}_s", selfOf(l) / n, "s")) ++
      StepNames.flatMap { s =>
        val ss = probe.filter(_.name == s"step.$s")
        val jobs = ss.map(x => t.subtree(x).jobs.toDouble)
        Seq((s"step.${s}_s", mean(ss.map(_.durS)), "s"), (s"step.${s}_jobs", mean(jobs), "count"))
      }
  }

  /** The per-span table: where the time, jobs and stages went. */
  private def printTable(ss: Seq[Span]): Unit = {
    println(f"# ${"span"}%-28s ${"n"}%5s ${"total_s"}%9s ${"self_s"}%9s ${"jobs"}%6s " +
      f"${"stages"}%6s ${"tasks"}%7s ${"task_s"}%8s")
    ss.groupBy(s => (s.phase, s.name)).toSeq.sortBy(_._1).foreach { case ((ph, name), g) =>
      val c = new Counters
      g.foreach(s => c.add(s.c))
      println(f"# ${s"$ph:$name"}%-28s ${g.size}%5d ${g.map(_.durS).sum}%9.3f " +
        f"${g.map(t.selfS).sum}%9.3f ${c.jobs}%6d ${c.stages}%6d ${c.tasks}%7d ${c.runMs / 1e3}%8.2f")
    }
  }
}
