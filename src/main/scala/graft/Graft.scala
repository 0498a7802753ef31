package graft

import org.apache.spark.sql.SparkSession

/** Library entry point: one call gives a session with every graft
  * extension installed — the custom planner strategy (TopKPerKey), the
  * native SQL functions (cosine_similarity, uuid5, minhash_signature,
  * chunk_text), the extractor UDFs, and the scale-sane local defaults.
  * Every tool (Verify, Bench, Inspect, ExportRanks, perfbench) runs on
  * [[session]], so each plans what Verify checks.
  */
object Graft {

  /** Entries of Spark's JVM-wide generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, Spark's default 100).
    * `CodeGenerator` keeps every compiled class in one LRU cache shared
    * by all sessions of the JVM. One run of p18_curate_full generates
    * 120–130 distinct classes: a 100-entry LRU cycling through them
    * misses on nearly every lookup, so every warm run Janino-compiled
    * almost all of them again (five runs at sf0.001 in one JVM, Bench's
    * teardown between runs: 122, 111, 108, 109, 109 compiles) and the
    * JIT compiled each new class again — 58 % of a warm perfbench p18
    * run's process CPU was JIT compiler threads. With 1000 entries the
    * same five runs compile 122, 18, 20, 8, 0 classes (`CodegenCacheSpec`
    * runs them in a fresh JVM). 1000 holds p18's class set several
    * times over, with room for the other queries a session runs.
    *
    * The cache is sized once per JVM, from the conf of the session in
    * use when `CodeGenerator` first loads: only the builder of a JVM's
    * first session sets it. */
  private val CodegenCacheEntries = 1000

  /** Build a local session wired for this engine: `cores` worker
    * threads and as many shuffle partitions, AQE, UTC, no UI,
    * [[CodegenCacheEntries]] and stage-id-free generated class names.
    * The strategy and the native SQL functions come from
    * [[plans.GraftExtensions]]; this call adds only the extractor UDFs
    * ([[functions.GraftFunctions.register]]), which cannot be injected.
    * Cluster deployments use their own builder +
    * `withExtensions(new plans.GraftExtensions)` +
    * `functions.GraftFunctions.register`.
    *
    * Extensions and static settings (the class cache size among them)
    * take effect only when this call builds the session: `getOrCreate`
    * returns an existing session as it is, with only the runtime
    * settings applied. */
  def session(cores: Int = Runtime.getRuntime.availableProcessors(),
              appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries",
        CodegenCacheEntries.toString)
      // whole-stage codegen names each class after its stage id, which
      // AQE assigns in a timing-dependent order: the same body under a
      // new id missed the class cache and was compiled again (warm p18
      // runs 2-5 at sf0.001: 4-22 compiles each; without the id, 0 or 8)
      .config("spark.sql.codegen.useIdInClassName", "false")
      .withExtensions(new plans.GraftExtensions)
      .getOrCreate()
    functions.GraftFunctions.register(spark)
    spark
  }
}
