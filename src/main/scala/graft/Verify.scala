package graft
import java.nio.file.{Files, Paths, StandardCopyOption}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * The per-query dumps are INDEPENDENT Spark jobs, so they run on a
  * fixed thread pool (Spark schedules concurrent jobs from one session;
  * task slots backfill across jobs) — the r10 lesson: a single
  * sequential session grew past ~6 min at 355 queries and a driver-side
  * timeout zeroed the round's correctness artifact with no trace.
  * Two defenses here:
  *   - wall time: SPARK_GRAFT_VERIFY_THREADS-way concurrency
  *     (default min(8, the session's default parallelism));
  *   - evidence: progress.json is atomically rewritten after EVERY
  *     completed query (name → elapsed ms), so a truncated run leaves
  *     a diagnosable partial record instead of silence.
  * Outputs stay deterministic under concurrency: every query's values
  * are layout-proof by the engine's integer-fixing discipline, and
  * each dump is its own job — threads share caches, never plans.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalSession("graft-verify")
    new java.io.File(outDir).mkdirs()
    // Local-iteration subset (the driver leaves this unset → full run).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val errors = new java.util.concurrent.ConcurrentHashMap[String, String]
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // progress heartbeat: full map rewritten atomically per completion
    // (tmp + ATOMIC_MOVE — a reader never sees a torn file), so any
    // external kill leaves the completed-query record behind
    val progressDone =
      new java.util.concurrent.ConcurrentHashMap[String, Long]
    val t0All = System.nanoTime()
    def writeProgress(): Unit = Verify.synchronized {
      val entries = {
        import scala.jdk.CollectionConverters._
        progressDone.asScala.toSeq.sortBy(_._1)
          .map { case (k, ms) => s"${q(k)}: $ms" }
      }
      val totalMs = (System.nanoTime() - t0All) / 1000000L
      val json = s"""{"completed": ${entries.size}, """ +
        s""""elapsed_ms": $totalMs, "queries": ${
          entries.mkString("{", ",", "}")}}"""
      val tmp = Paths.get(s"$outDir/progress.json.tmp")
      Files.writeString(tmp, json)
      Files.move(tmp, Paths.get(s"$outDir/progress.json"),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      // errors flush rides the same lock: a kill right after a thrown
      // query still leaves the red row on disk
      val errJson = {
        import scala.jdk.CollectionConverters._
        errors.asScala.toSeq.sortBy(_._1)
          .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
      }
      val etmp = Paths.get(s"$outDir/errors.json.tmp")
      Files.writeString(etmp, errJson)
      Files.move(etmp, Paths.get(s"$outDir/errors.json"),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    }
    // oracle_sql.json is pure driver-side data — write it BEFORE the
    // dump, so a wall-clock kill mid-dump leaves the oracle plus every
    // completed query's parquet (r10's empty correctness artifact came
    // from exactly this ordering hazard: all-or-nothing at the end)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val selected = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val threads = sys.env.get("SPARK_GRAFT_VERIFY_THREADS").map(_.toInt)
      .getOrElse(math.min(8, spark.sparkContext.defaultParallelism))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val futures = selected.map { case (name, fn) =>
      pool.submit(new Runnable {
        def run(): Unit = {
          val t0 = System.nanoTime()
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            errors.put(name,
              s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}")
          }
          // the heartbeat is best-effort evidence, never a failure
          // source: an IO error here (disk full mid-run) must not
          // escape the Runnable — that would abort futures.get() and
          // skip the shutdown/errors.json/spark.stop tail below.
          // NonFatal only (ADVICE r12): an OOM/VirtualMachineError
          // must propagate (the JVM is dying — "continuing" would
          // mask it), and an interrupt must re-set the flag
          try {
            progressDone.put(name, (System.nanoTime() - t0) / 1000000L)
            writeProgress()
          } catch {
            case e: InterruptedException =>
              Thread.currentThread().interrupt()
              System.err.println(s"[verify] heartbeat interrupted " +
                s"(flag restored): ${e.getMessage}")
            case scala.util.control.NonFatal(e) =>
              System.err.println(s"[verify] heartbeat write failed " +
                s"(continuing): ${e.getMessage}")
          }
        }
      })
    }
    try futures.foreach(_.get())
    finally {
      pool.shutdown()
      // Failure marker: a thrown query must age the round record as a
      // red row, not silently vanish from it (round-7 lesson — three
      // broken queries left no trace). The driver can ingest
      // errors.json; even if it doesn't, the file makes regressions
      // evident in the artifact dir. Rides the finally so even an
      // escaped wait failure leaves the record and stops the session.
      try {
        val errJson = {
          import scala.jdk.CollectionConverters._
          errors.asScala.toSeq.sortBy(_._1)
            .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
        }
        Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
      } catch { case e: Throwable =>
        System.err.println(s"[verify] errors.json write failed: ${e.getMessage}")
      }
      if (!errors.isEmpty) {
        import scala.jdk.CollectionConverters._
        System.err.println(s"[verify] ${errors.size} queries FAILED: " +
          errors.keySet.asScala.toSeq.sorted.mkString(", "))
      }
      // free everything the session cached (the registry would otherwise
      // keep the stopped session and its blocks reachable)
      OpCache.clear(spark)
      spark.stop()
    }
  }
}
