package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One fused job's outcome: rows the sink should hold, rows it holds,
  * and what the job's output check found wrong. */
final case class JobResult(expected: Long, delivered: Long, problems: Seq[String])

/** A metric value with its unit. */
final case class Metric(value: Double, unit: String)

/** A workload drives the program through its public entry points. */
trait Workload {
  /** Rows one job should deliver to its sink; a failed job counts all of
    * them as missing. */
  def expectedRows: Long
  /** Run one fused job, from input on disk to a committed result. */
  def job(spark: SparkSession): JobResult
  /** Checks made once, after the timed jobs. */
  def finalChecks(spark: SparkSession): Unit
  /** The traced run's per-layer metrics (every name, zero where a layer
    * does not take part in this workload). */
  def traced(spark: SparkSession): Map[String, Metric]
  def close(): Unit
}

/** What a workload shares with the run: the run directory, the span log,
  * query metrics and the output-check ledger. */
final class RunContext(val runDir: String, val spans: SpanLog, val queries: QueryMetrics) {
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  def check(name: String, ok: Boolean, detail: String = ""): Unit = synchronized {
    checks += ((name, ok, detail))
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
  }

  /** Drain a frame through the `noop` writer. */
  def drain(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  /** Peak resident set of this process (Linux `VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) Double.NaN
    else new String(Files.readAllBytes(status), StandardCharsets.UTF_8).linesIterator
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }
}

/** The benchmark's JVM side.
  *
  *   perfbench.Main --workload <name> --data <dir> --run-dir <dir>
  *                  --seconds <s> --trace <0|1> --out <file>
  *
  * Set-up is one `Graft.session(4)` call in this fresh JVM (`setup_s`, a
  * cold build). The run then submits one fused job at a time: the first,
  * cold job, then warm jobs until `--seconds` have passed and at least
  * `MinWarmJobs` ran. With `--trace 1` the traced phase follows. The
  * report (metrics, checks, job counts) goes to `--out` as JSON.
  */
object Main {
  final val Cores = 4
  final val MinWarmJobs = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = Paths.get(opt("out"))
    val report =
      try run(opt("workload"), opt("data"), opt("run-dir"), opt("seconds").toDouble, opt("trace") == "1")
      catch {
        case NonFatal(e) =>
          e.printStackTrace()
          Map("error" -> e.toString)
      }
    Files.write(out, Stub.mapper.writeValueAsBytes(report))
    System.exit(if (report.contains("error")) 1 else 0)
  }

  def run(name: String, data: String, runDir: String, seconds: Double,
          trace: Boolean): Map[String, Any] = {
    // set-up is a one-time cost per JVM: the session is built first, so
    // it pays every class load and static initialisation on its path
    val (spark, setupS) = Stats.time(graft.Graft.session(Cores))
    val ctx = new RunContext(runDir, new SpanLog, new QueryMetrics)
    var workload: Workload = null
    try {
      workload = name match {
        case "ingest_remote_vdb" => new IngestRemoteVdb(ctx, data)
        case "curate_p18" => new CurateP18(ctx, data, s"$runDir/p18_out")
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      spark.sparkContext.setLogLevel("ERROR")
      spark.listenerManager.register(ctx.queries)
      System.err.println(f"[perfbench] $name set-up $setupS%.3f s")

      final case class Timed(wallS: Double, cpuS: Double, result: JobResult)
      def timedJob(): Timed = {
        val stub0 = Stub.cpuNs()
        val cpu0 = Stats.processCpuNs() - stub0
        val (r, wall) = Stats.time {
          try workload.job(spark)
          catch { case NonFatal(e) => JobResult(workload.expectedRows, 0L, Seq(s"job failed: $e")) }
        }
        val stub = Stub.cpuNs()
        val cpu = (Stats.processCpuNs() - stub - cpu0) / 1e9
        System.err.println(f"[perfbench] $name job $wall%.3f s cpu $cpu%.3f s stubs ${(stub - stub0) / 1e9}%.3f s")
        r.problems.foreach(p => ctx.check("job output", ok = false, p))
        Timed(wall, cpu, r)
      }

      val first = timedJob()
      val warm = mutable.ArrayBuffer.empty[Timed]
      val loopStart = System.nanoTime()
      while (warm.length < MinWarmJobs || (System.nanoTime() - loopStart) / 1e9 < seconds)
        warm += timedJob()
      val all = first +: warm.toSeq
      val rss = Stats.peakRssMb()
      val jobS = Stats.median(warm.map(_.wallS).toSeq)
      workload.finalChecks(spark)

      val expected = all.map(_.result.expected).sum
      val delivered = all.map(_.result.delivered).sum
      var metrics = Map(
        "setup_s" -> Metric(setupS, "s"),
        "first_job_s" -> Metric(first.wallS, "s"),
        "job_s" -> Metric(jobS, "s"),
        "cpu_s" -> Metric(Stats.median(warm.map(_.cpuS).toSeq), "s"),
        "peak_rss_mb" -> Metric(rss, "MB"),
        "delivered_share" -> Metric(delivered.toDouble / math.max(1L, expected), "ratio"))
      if (trace) metrics ++= workload.traced(spark)

      Map(
        "attempted" -> all.length,
        "failed" -> all.count(_.result.problems.nonEmpty),
        "metrics" -> metrics.map { case (k, m) => k -> Map("value" -> m.value, "unit" -> m.unit) },
        "checks" -> ctx.checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
        "spans" -> ctx.spans.all.map(_.toMap))
    } finally {
      if (workload != null) workload.close()
      spark.stop()
    }
  }
}
