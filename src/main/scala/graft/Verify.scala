package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated name substrings — dump only
    // matching queries (local iteration; the driver passes 2 args)
    val (sfDir, outDir) = (args(0), args(1))
    val nameFilter: String => Boolean =
      if (args.length > 2) { val pats = args(2).split(",").toSeq
        n => pats.exists(n.contains)
      } else _ => true
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Graft.session(cpus.toInt, "verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // A query that throws must FAIL the round, not vanish from it: dump a
    // 1-row marker parquet whose schema can't match any oracle, so the
    // driver's compare records a visible failure instead of silently
    // losing coverage (round-4 lesson: 7 events queries dropped unseen).
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries.filter(kv => nameFilter(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name FAILED: $msg")
        errors(name) = msg
        try {
          import spark.implicits._
          Seq(s"$name: $msg").toDF("__verify_error")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case _: Throwable => () }
      }
      // release operator-internal persists between queries (the Bench
      // convention): 243 queries in one JVM otherwise accumulate pinned
      // MEMORY_AND_DISK entries and the later queries pay GC pressure
      graft.core.Caching.CacheLedger.releaseAll()
      spark.catalog.clearCache()
    }
    // JSON string escape of every control char (<0x20) as well: a tab or
    // CR in builder-authored SQL would otherwise make the driver's
    // json.load fail and silently zero the round's correctness
    import graft.sinks.VectorDbSinks.q
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: " +
        errors.keys.mkString(", "))
    spark.stop()
  }
}
