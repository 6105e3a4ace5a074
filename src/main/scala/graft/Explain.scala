package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.ExplainMode

/** Plan-inspection main: writes `explain("formatted")` of named
  * SparkEntry queries to plans/<dir>/<query>_<tag>.txt. Run:
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 \
  *     sbt "runMain graft.Explain r17 after q_tlag q_splag4d"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: graft.Explain <dir> <tag> <query>...")
    val (sub, tag, names) = (args(0), args(1), args.drop(2).toSeq)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = LocalSession("graft-explain")
    val out = Paths.get("plans", sub)
    Files.createDirectories(out)
    names.foreach { n =>
      val txt = SparkEntry.queries(n)(spark, dir).queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      val file = out.resolve(s"${n}_$tag.txt")
      Files.write(file, txt.getBytes("UTF-8"))
      println(s"[explain] wrote $file")
      OpCache.release(spark)
    }
    spark.stop()
  }
}
