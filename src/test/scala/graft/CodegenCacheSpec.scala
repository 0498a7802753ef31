package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.spark.launcher.JavaModuleOptions
import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Warm p18 runs must reuse the generated classes of earlier runs instead
  * of Janino-compiling them again. Spark sizes its JVM-wide class cache
  * once, from the JVM's first session, and this suite's JVM already has a
  * session of another spec: so the runs happen in a child JVM whose first
  * session is `Graft.session(4)` ([[CodegenCacheRuns]]). */
class CodegenCacheSpec extends AnyFunSuite {

  test("p18: warm runs in a fresh Graft.session JVM compile fewer than 10 classes") {
    val tmp = Files.createTempDirectory("codegen-cache")
    val log = tmp.resolve("child.log")
    val cmd = Seq(Paths.get(sys.props("java.home"), "bin", "java").toString) ++
      JavaModuleOptions.defaultModuleOptionArray() ++
      Seq("-Xmx2g", s"-Djava.io.tmpdir=$tmp",
        "-cp", sys.props("java.class.path"),
        "graft.CodegenCacheRuns", CodegenCacheRuns.Runs.toString)
    val child = new ProcessBuilder(cmd: _*)
      .redirectErrorStream(true).redirectOutput(log.toFile).start()
    try {
      assert(child.waitFor(10, TimeUnit.MINUTES), "child JVM timed out")
      val out = Files.readAllLines(log, StandardCharsets.UTF_8).asScala
      val counts = out.collect { case CodegenCacheRuns.Line(n) => n.toLong }
      assert(child.exitValue() == 0 && counts.length == CodegenCacheRuns.Runs,
        out.takeRight(40).mkString("\n"))
      info(s"Janino compiles per p18 run: ${counts.mkString(", ")}")
      // the first run builds p18's ~122 classes: a blind counter reads 0
      assert(counts.head >= 50, counts)
      // with stage ids out of the class names, runs 4 and 5 compiled 0 or
      // 8 classes in six JVMs (0 to 14 in three with the ids in)
      assert(counts.drop(3).forall(_ < 10), counts)
    } finally {
      child.destroyForcibly()
      graft.core.Fs.deleteTree(tmp)
    }
  }
}

/** Child-JVM half of [[CodegenCacheSpec]]: runs p18_curate_full at
  * sf0.001 `args(0)` times on `Graft.session(4)`, the JVM's first
  * session, with Bench's teardown after each run, and prints each run's
  * Janino compile count as one `compiles <n>` line. */
object CodegenCacheRuns {
  val Runs = 5
  val Line = "compiles (\\d+)".r

  def main(args: Array[String]): Unit = {
    val spark = Graft.session(4, "codegen-cache")
    spark.sparkContext.setLogLevel("ERROR")
    try {
      // the sf0.001 tables behind the registry's smoke query
      val sfDir = new org.apache.hadoop.fs.Path(
        SparkEntry.entry(spark).inputFiles.head).getParent.toUri.getPath
      val p18 = SparkEntry.queries("p18_curate_full")
      (1 to args(0).toInt).foreach { _ =>
        val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        p18(spark, sfDir).count()
        graft.core.Caching.CacheLedger.releaseAll()
        spark.catalog.clearCache()
        println(s"compiles ${CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0}")
      }
    } finally spark.stop()
  }
}
