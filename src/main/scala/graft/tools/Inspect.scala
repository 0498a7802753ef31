package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.BenchQueryListener

/** Plan dump, timing and stage attribution for any
  * [[graft.SparkEntry.queries]] name.
  *
  * Per query: one cold run, the formatted physical plan written to
  * `<outDir>/<query>.txt` (the format of the committed `plans/rNN/`
  * dumps), then [[WarmRuns]] warm runs. Each run is a `count()` followed
  * by Bench's teardown (`CacheLedger.releaseAll()` + `clearCache()`).
  * Prints the cold time, the min and median warm time, the Janino
  * compiles of each warm run (classes that missed Spark's generated-class
  * cache), and the last warm run's stages by summed executor run time
  * with their call sites.
  * An A/B compares two builds, each running the same command.
  *
  * Run: `sbt "runMain graft.tools.Inspect <q1,q2,...> <sfDir> [outDir]"`
  * (`outDir` defaults to `target/inspect`; the session takes
  * `SPARK_GRAFT_CPUS` cores, default 8). */
object Inspect {
  val WarmRuns = 3
  private val StageRows = 10

  final case class Report(query: String, rows: Long, coldSec: Double,
                          warmSec: Seq[Double], warmCompiles: Seq[Long],
                          stages: Seq[(Int, Long, Long, String)]) {
    def minSec: Double = warmSec.min
    def medianSec: Double = warmSec.sorted.apply(warmSec.length / 2)
  }

  private def teardown(spark: SparkSession): Unit = {
    graft.core.Caching.CacheLedger.releaseAll()
    spark.catalog.clearCache()
  }

  /** Runs `name` cold, dumps its plan to `<outDir>/<name>.txt`, then
    * runs it [[WarmRuns]] times warm. */
  def inspect(spark: SparkSession, name: String, sfDir: String,
              outDir: Path): Report = {
    val q = graft.SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(s"unknown query: $name"))
    val listener = new BenchQueryListener
    spark.sparkContext.addSparkListener(listener)
    // JVM-wide count: a run's delta also holds any other thread's compiles
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def timed(): (Long, Double, Long) = {
      listener.reset()
      val c0 = compiles
      val t0 = System.nanoTime()
      val rows = q(spark, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      listener.settle()
      teardown(spark)
      (rows, sec, compiles - c0)
    }
    try {
      val (rows, cold, _) = timed()
      Files.createDirectories(outDir)
      Files.write(outDir.resolve(s"$name.txt"),
        q(spark, sfDir).queryExecution.explainString(FormattedMode)
          .getBytes(StandardCharsets.UTF_8))
      teardown(spark)
      val warm = Seq.fill(WarmRuns)(timed())
      Report(name, rows, cold, warm.map(_._2), warm.map(_._3),
        listener.stageTimes)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  def render(r: Report): String = {
    val head = f"${r.query} rows=${r.rows} cold ${r.coldSec}%.3f s, warm " +
      f"min ${r.minSec}%.3f s median ${r.medianSec}%.3f s (${r.warmSec.length} runs), " +
      s"codegen compiles per warm run ${r.warmCompiles.mkString("/")}"
    val table = r.stages.take(StageRows).map { case (sid, run, cpu, site) =>
      f"  $sid%6d $run%9d $cpu%9d  $site"
    }
    val hidden = r.stages.length - table.length
    (Seq(head, "   stage    run_ms    cpu_ms  call site") ++ table ++
      (if (hidden > 0) Seq(s"  ($hidden lighter stages not shown)") else Nil))
      .mkString("\n")
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Inspect <q1,q2,...> <sfDir> [outDir]")
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query: ${unknown.mkString(", ")}")
    val outDir = Paths.get(if (args.length > 2) args(2) else "target/inspect")
    val spark = graft.Graft.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt, "inspect")
    spark.sparkContext.setLogLevel("WARN")
    try names.foreach { n =>
      println(render(inspect(spark, n, args(1), outDir)))
      println(s"  plan: ${outDir.resolve(s"$n.txt")}")
    } finally spark.stop()
  }
}
