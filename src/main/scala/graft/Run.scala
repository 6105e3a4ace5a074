package graft

import org.apache.spark.sql.SparkSession

/** Batch CLI entry point: apply a JSON wire-format transform spec to a
  * parquet input and write the result — the complete
  * read → transform → write lifecycle a reference user runs, as one
  * submittable job:
  *
  * {{{
  *   spark-submit --class graft.Run graft.jar \
  *     <input.parquet> <spec.json|inline-json> <output.parquet> \
  *     [panel|corpus|embeddings|events|graph]
  * }}}
  *
  * The frame kind selects the transform namespace (default `panel`,
  * the reference's (month_id, unit_id) surface; `corpus` for
  * documents, `embeddings` for vectors, `events` for user event logs,
  * `graph` for dedup-stage pair lists). The spec is a path to a JSON
  * file, or — when the argument starts with `[` — the JSON itself.
  * Every transform name and argument list is exactly the registry the
  * in-process API dispatches (`Registry.run/runCorpus/runEmbeddings`),
  * so a spec developed in a notebook submits unchanged.
  */
object Run {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3 && args.length <= 4,
      "usage: graft.Run <input.parquet> <spec.json|inline-json> " +
        "<output.parquet> [panel|corpus|embeddings|events|graph]")
    val Array(in, specArg, out) = args.take(3)
    val kind = args.lift(3).getOrElse("panel")
    val spec =
      if (specArg.trim.startsWith("[")) specArg
      else new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(specArg)), "UTF-8")
    val spark = LocalSession(s"graft-run-$kind")
    try run(spark, in, spec, out, kind) finally spark.stop()
  }

  /** Read `in`, apply the JSON `spec` in the `kind` namespace, lint the
    * plan and write `out`. Leaves the session open.
    */
  def run(spark: SparkSession, in: String, spec: String, out: String,
          kind: String): Unit = {
    val df = spark.read.parquet(in)
    val result = kind match {
      case "panel" => Registry.run(df, spec)
      case "corpus" => Registry.runCorpus(df, spec)
      case "embeddings" => Registry.runEmbeddings(df, spec)
      case "events" => Registry.runEvents(Panel.normalizeTs(df), spec)
      case "graph" => Registry.runGraph(df, spec)
      case other => throw new IllegalArgumentException(
        s"unknown frame kind '$other' " +
          "(want panel|corpus|embeddings|events|graph)")
    }
    // pre-submit plan lint: surface scale-breaking shapes BEFORE the
    // job burns cluster hours. Findings go to stderr; fatals abort
    // unless the caller opts out (SPARK_GRAFT_LINT=warn) — a spec
    // that plans a cartesian on a notebook sample will plan one on
    // the full corpus too.
    val findings = plans.PlanLint.lint(result)
    findings.foreach(f =>
      System.err.println(s"[lint:${f.severity}] ${f.node}: ${f.detail}"))
    val fatals = findings.filter(_.severity == "fatal")
    if (fatals.nonEmpty && !sys.env.get("SPARK_GRAFT_LINT").contains("warn"))
      throw new IllegalStateException(
        s"plan lint found ${fatals.size} fatal shape(s); " +
          "set SPARK_GRAFT_LINT=warn to run anyway")
    result.write.mode("overwrite").parquet(out)
  }
}
