package graft

import java.nio.file.Files

class RunSpec extends SparkSpec {
  import spark.implicits._

  private def tinyPanel(): String = {
    val dir = Files.createTempDirectory("graft-run-spec")
    val in = dir.resolve("in.parquet").toString
    Seq((1L, 1L, 0.0), (2L, 1L, 3.0), (3L, 1L, 5.0),
      (1L, 2L, 1.0), (2L, 2L, 0.0), (3L, 2L, 2.0))
      .toDF(Panel.TimeCol, Panel.UnitCol, "value")
      .write.parquet(in)
    in
  }

  test("a tiny panel through tlag gives the rows Registry.run gives") {
    val in = tinyPanel()
    val out = in.replace("in.parquet", "out.parquet")
    val spec = """[{"type":"tlag","args":[1]}]"""
    Run.run(spark, in, spec, out, "panel")
    val got = spark.read.parquet(out)
    val want = Registry.run(spark.read.parquet(in), spec)
    assert(got.schema == want.schema)
    assert(got.collect().toSet == want.collect().toSet)
    assert(got.count() == 6)
  }

  test("an unknown frame kind fails with the kind list") {
    val in = tinyPanel()
    val e = intercept[IllegalArgumentException](
      Run.run(spark, in, "[]", in.replace("in.parquet", "out.parquet"), "tables"))
    assert(e.getMessage == "unknown frame kind 'tables' " +
      "(want panel|corpus|embeddings|events|graph)")
  }
}
