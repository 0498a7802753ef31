package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Smoke test for [[Inspect]]'s entry function: plan dump, timings,
  * per-run compile counts and the unknown-name failure. */
class InspectSpec extends AnyFunSuite with graft.SharedSpark {

  // the sf0.001 tables behind the registry's smoke query
  private lazy val sfDir = new org.apache.hadoop.fs.Path(
    graft.SparkEntry.entry(spark).inputFiles.head).getParent.toString

  test("p08: the plan dump is formatted explain output and warm runs are timed") {
    val out = Files.createTempDirectory("inspect")
    val dump = out.resolve("p08_embed_pipeline.txt")
    try {
      val r = Inspect.inspect(spark, "p08_embed_pipeline", sfDir, out)
      val plan = new String(Files.readAllBytes(dump), StandardCharsets.UTF_8)
      assert(plan.startsWith("== Physical Plan =="), plan.take(200))
      assert(r.rows > 0)
      assert(r.warmSec.length == Inspect.WarmRuns && r.warmSec.forall(_ > 0))
      assert(r.stages.nonEmpty, "no stage was attributed")
      assert(r.warmCompiles.length == Inspect.WarmRuns &&
        r.warmCompiles.forall(_ >= 0))
      val shown = Inspect.render(r)
      assert(shown.contains(f"median ${r.medianSec}%.3f s"))
      assert(shown.contains(
        s"codegen compiles per warm run ${r.warmCompiles.mkString("/")}"), shown)
    } finally { Files.deleteIfExists(dump); Files.delete(out) }
  }

  test("an unknown query name fails with a message naming it") {
    val e = intercept[IllegalArgumentException](
      Inspect.inspect(spark, "no_such_query", sfDir, Paths.get("unused")))
    assert(e.getMessage.contains("no_such_query"))
  }
}
