package graft.queries

import graft.core.Caching.LedgerOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._

/** Session-scoped GRAPH-ARTIFACT registry — [[ModelCache]]'s principle
  * applied to corpus-sized derived frames: the whole graph family
  * (g01–g06) plus q33/q40/d02/d08/d09/d11/p34/d19 re-derive a handful
  * of edge projections from the same base tables, and each is fully
  * deterministic in the input directory, so building one twice per
  * Verify/Bench JVM is pure waste (~6 s of duplicate orderkey² fan-out
  * + wedge probing at sf0.1, and r6 measured ~30 s of graph bench time
  * of which roughly half was four queries each rebuilding its own
  * edge projection).
  *
  * Unlike ModelCache's driver-side model objects, these artifacts are
  * corpus-sized DataFrames, so a JVM-held reference to a persisted
  * frame would NOT survive Bench's per-query `clearCache()` — the
  * second consumer would silently recompute everything (the p18
  * LRU-eviction lesson). The memo therefore follows p18's eager
  * parquet checkpoint instead — and, since r10, the checkpoint lives
  * in a CROSS-JVM store (see [[sharedRoot]]): the first JVM that ever
  * needs an artifact builds and atomically publishes it; every later
  * JVM — the next Verify run, the next Bench run, a fresh serving
  * process — reads the published parquet instead of rebuilding
  * (~15 s of duplicate artifact builds per bench JVM at sf0.1 before
  * this). This is the at-scale shape: a production graph platform
  * materializes its edge list / triangle index to the object store
  * once and serves every downstream query from it — indexes outlive
  * jobs.
  *
  * Concurrency/staleness: publishes go through
  * `IndexStore.publishAtomically` (pid-tagged temp + atomic rename;
  * losers of a race delete their copy and read the winner's), and
  * every key embeds a [[graft.core.Fs.dataFingerprint]] of the
  * artifact's input files, so a regenerated corpus addresses a fresh
  * path — a stale build is unreachable by construction, not swept by
  * policy. A read-only store degrades to the old per-JVM tree
  * (pid@host-tagged, shutdown-hook deleted, dead-pid swept on
  * startup).
  */
object GraphCache {

  // memoized FUTURES, not values: the build (a multi-second Spark
  // write) must run OUTSIDE the map's mapping function — a
  // computeIfAbsent build that touched another artifact threw
  // ConcurrentHashMap's "Recursive update" whenever the keys shared a
  // hash bin (previously patched at one call site; r9 review moved the
  // fix into the mechanism so every current and future nested build is
  // safe), and same-bin keys no longer serialize behind each other's
  // corpus-sized writes
  private val built = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.CompletableFuture[String]]()

  /** Test hook: drop the in-JVM memo so the next call exercises the
    * cross-JVM store path (read-if-published / rebuild-if-stale) the
    * way a FRESH process would. */
  private[graft] def resetMemoForTest(): Unit = built.clear()

  /** pid@host — distinct per JVM, so concurrent processes never share
    * (and never clobber) an artifact path. */
  private val jvmTag =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getName
      .replaceAll("[^A-Za-z0-9.]+", "_")

  private def deleteTree(p: java.nio.file.Path): Unit =
    graft.core.Fs.deleteTree(p)

  private val root = {
    val base = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_ckpt")
    val p = base.resolve(s"graph_$jvmTag")
    // per-JVM trees would otherwise accumulate across sessions
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTree(p)))
    // the shutdown hook never runs on SIGKILL/OOM-kill, so ALSO sweep
    // stale sibling trees on startup: a graph_<pid>_<host> dir whose
    // pid no longer exists (same host) is a crashed JVM's leak.
    // Liveness via ProcessHandle.of(pid) — portable across OSes; the
    // previous /proc existence test read "no procfs" (macOS, Windows)
    // as "every pid is dead" and would have deleted LIVE concurrent
    // siblings' trees mid-read. Best-effort; anything unparseable or
    // indeterminable is left in place.
    try {
      import scala.jdk.CollectionConverters._
      val host = jvmTag.dropWhile(_ != '_').drop(1)
      if (java.nio.file.Files.isDirectory(base))
        java.nio.file.Files.list(base).iterator().asScala.toSeq
          .filter { d =>
            val n = d.getFileName.toString
            n.startsWith("graph_") && n != s"graph_$jvmTag" &&
              n.endsWith(s"_$host") &&
              n.stripPrefix("graph_").takeWhile(_ != '_').toLongOption
                .exists(pid =>
                  try !ProcessHandle.of(pid).isPresent
                  catch { case _: Throwable => false })
          }
          .foreach(deleteTree)
    } catch { case _: Throwable => () }
    p
  }

  /** Delete every entry of the SHARED store (bench hygiene, r13): a
    * prior JVM's artifacts would turn the bench's timed `art_*` build
    * rows into store READS — cross-run result caching, which the
    * round rules treat as gaming, and which made r12's art rows read
    * 0.2 s against this round's honest 2–8 s builds. The bench sweeps
    * once at startup so every invocation computes from the parquet
    * inputs; production callers never sweep (train-once-serve-many is
    * the store's whole point). In-process memos are per-JVM and die
    * with the process, so only the disk tree needs sweeping. */
  private[graft] def sweepSharedStore(): Unit =
    try {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(
        java.nio.file.Files.list(sharedRoot))(s =>
        s.iterator().asScala.toList).foreach(deleteTree)
    } catch { case _: Throwable => () }

  /** A path under this JVM's swept artifact tree for OTHER corpus-sized
    * staging (s27's events+sentinel copy): same pid@host isolation,
    * same shutdown-hook delete, same crashed-JVM startup sweep — a
    * SIGKILLed run's leak lasts until the next JVM starts, not forever
    * (a bare tmpdir + shutdown hook never survives SIGKILL/OOM-kill). */
  private[graft] def stagingPath(key: String): String =
    root.resolve("stage_" + key.replaceAll("[^A-Za-z0-9.]+", "_")).toString

  /** The SHARED (cross-JVM, non-pid-tagged) artifact root — graph
    * artifacts are infrastructure, not per-process scratch: in
    * production the edge list / pair graph / triangle index is
    * materialized to the object store ONCE and every later job serves
    * from it (r9 advice #4; `IndexStore.publishRoot` is the template,
    * same per-user default for the same poisoned-root reasons).
    * Staleness is carried IN THE KEY: every artifact key embeds
    * [[graft.core.Fs.dataFingerprint]] of its input files, so a
    * regenerated corpus simply addresses a fresh path and never reads
    * a stale build. Entries are immutable once renamed into place —
    * no in-place replacement, so concurrent readers are safe; the
    * store is bounded by (#artifacts × #corpus versions) and lives
    * under tmp. Override with GRAFT_GRAPH_STORE. */
  private val sharedRoot: java.nio.file.Path = {
    val p = java.nio.file.Paths.get(
      sys.env.getOrElse("GRAFT_GRAPH_STORE",
        System.getProperty("java.io.tmpdir") + "/graft_graph_store_" +
          System.getProperty("user.name", "anon")
            .replaceAll("[^A-Za-z0-9._-]+", "_")))
    try java.nio.file.Files.createDirectories(p)
    catch { case _: Throwable => () } // unwritable: per-JVM fallback below
    p
  }

  private def isDir(s: String): Boolean =
    java.nio.file.Files.isDirectory(java.nio.file.Paths.get(s))

  /** `key` must name the RECIPE (bump its version marker on any
    * semantic change to the build — the store outlives code now);
    * `fpInputs` are the input files/dirs whose contents the build is a
    * pure function of. */
  private def artifact(spark: SparkSession, key: String,
                       fpInputs: Seq[String])
                      (build: => DataFrame): DataFrame = {
    val fullKey = key + "|fp=" + graft.core.Fs.dataFingerprint(fpInputs)
    // Waiters and fresh callers must behave identically (r9 advice):
    // a waiter observing a failed concurrent build retries the
    // putIfAbsent path (the failing builder already removed its entry),
    // typically becoming the builder itself — so every caller either
    // gets a path or the RAW build exception, never a
    // CompletionException wrapper. Bounded retries guard the
    // pathological always-a-waiter interleaving.
    var path: String = null
    var waiterFailures = 0
    while (path == null) {
      val mine = new java.util.concurrent.CompletableFuture[String]()
      val existing = built.putIfAbsent(fullKey, mine)
      if (existing != null) {
        try path = existing.join() // built (or building) elsewhere
        catch { case e: java.util.concurrent.CompletionException =>
          waiterFailures += 1
          if (waiterFailures >= 3)
            throw Option(e.getCause).getOrElse(e)
        }
      } else {
        try {
          // key-hash suffix: sanitization alone collapsed distinct
          // keys onto one path (graft.core.Fs.keyHash scaladoc);
          // hashing the FULL key bakes the data fingerprint into the
          // address, so staleness is impossible by construction
          val segment = key.replaceAll("[^A-Za-z0-9.]+", "_") +
            "_" + graft.core.Fs.keyHash(fullKey)
          val shared = sharedRoot.resolve(segment).toString
          // a published entry that cannot even schema-infer is a
          // corrupt leftover (e.g. a crashed legacy layout): delete
          // and rebuild rather than failing every consumer forever
          if (isDir(shared) &&
              (try { spark.read.parquet(shared); false }
               catch { case _: org.apache.spark.sql.AnalysisException =>
                 true }))
            deleteTree(java.nio.file.Paths.get(shared))
          val p =
            if (isDir(shared)) shared // a prior JVM (or this one) built it
            else {
              val df = build
              graft.operators.IndexStore.publishAtomically(shared) { tmp =>
                df.write.mode("overwrite").parquet(tmp)
              }
              if (isDir(shared)) shared
              else { // read-only store: degrade to the per-JVM tree
                val local = root.resolve(segment).toString
                df.write.mode("overwrite").parquet(local)
                local
              }
            }
          mine.complete(p)
          path = p
        } catch { case e: Throwable =>
          // a failed build must not poison the memo: drop the entry so
          // the next caller retries, and wake any waiters with the cause
          built.remove(fullKey, mine)
          mine.completeExceptionally(e)
          throw e
        }
      }
    }
    spark.read.parquet(path)
  }

  /** Co-purchase pair WEIGHTS: (a < b part pairs, n_orders = distinct
    * orders containing both). One aggregate serves the whole family:
    * the distinct edge set (n ≥ 1) feeds g03/g04, the strong edges
    * (n ≥ 2) feed g05, and the per-order line dedup happens BEFORE the
    * pair fan-out, so the quadratic step shrinks at the source.
    * The fan-out happens SCAN-SIDE from the order's sorted part list
    * (round 9 — previously a self-join on l_orderkey: one extra
    * shuffle plus the join machinery for the same ≤ C(7,2) pairs per
    * order; the order-line cap bounds the explode exactly like it
    * bounded the join). sort_array gives a < b for free; one
    * groupBy(ok) + one groupBy(a, b). */
  def coPurchaseWeights(spark: SparkSession, dir: String): DataFrame =
    artifact(spark, s"copurchase_w.v1|$dir",
      Seq(s"$dir/lineitem.parquet")) {
      lineitem(spark, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        // collect_set IS the per-order line dedup — the previous
        // .distinct() pre-shuffle is subsumed by the same groupBy
        .groupBy(col("ok"))
        .agg(sort_array(collect_set(col("pk"))).as("ps"))
        .select(explode(expr(
          """flatten(transform(ps, (x, i) ->
            |  transform(slice(ps, i + 2, size(ps)), y ->
            |    struct(x AS a, y AS b))))""".stripMargin)).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(count(lit(1)).as("n_orders"))
    }

  /** The distinct co-purchase edge list — g03/g04's common graph;
    * a projection of [[coPurchaseWeights]]. */
  def coPurchaseEdges(spark: SparkSession, dir: String): DataFrame =
    coPurchaseWeights(spark, dir).select(col("a"), col("b"))

  /** Co-purchase edges shared by ≥ `minOrders` orders — g05's strong
    * graph; a filter of [[coPurchaseWeights]] (filter + projection
    * push INTO the artifact's parquet scan). */
  def coPurchaseStrongEdges(spark: SparkSession, dir: String,
                            minOrders: Long): DataFrame =
    coPurchaseWeights(spark, dir)
      .filter(col("n_orders") >= minOrders).select(col("a"), col("b"))

  /** The undirected customer↔supplier trade pair set (customers as 2k,
    * suppliers as 2k+1) — g01/g02's graph. Stored ONE direction;
    * consumers union the reverse (a cheap double scan of the compact
    * artifact, not a rebuild of the orders⋈lineitem join). */
  def tradePairs(spark: SparkSession, dir: String): DataFrame =
    artifact(spark, s"trade_pairs.v1|$dir",
      Seq(s"$dir/orders.parquet", s"$dir/lineitem.parquet")) {
      orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
        .join(lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("a"),
          (col("l_suppkey") * 2 + 1).as("b"))
        .distinct()
    }

  /** Both directions of [[tradePairs]] as (src, dst) — the form
    * PageRank/BFS consume. */
  def tradeEdges(spark: SparkSession, dir: String): DataFrame = {
    val pairs = tradePairs(spark, dir)
    pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(pairs.select(col("b").as("src"), col("a").as("dst")))
  }

  /** The distinct customer→part purchase edge list — g06's bipartite
    * HITS graph (Hits.hits dedups internally; serving it pre-distinct
    * from the artifact skips re-shuffling the raw join output). */
  def custPartEdges(spark: SparkSession, dir: String): DataFrame =
    artifact(spark, s"cust_part.v1|$dir",
      Seq(s"$dir/orders.parquet", s"$dir/lineitem.parquet")) {
      custPartEdgesOf(orders(spark, dir), lineitem(spark, dir))
    }

  /** The cust→part build body over explicit frames (HitsSpec builds
    * its graph from it without the artifact store). */
  private[graft] def custPartEdgesOf(ord: DataFrame, li: DataFrame): DataFrame =
    ord.select(col("o_orderkey"), col("o_custkey"))
      .join(li.select(col("l_orderkey"), col("l_partkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .distinct()

  /** The Levenshtein-≤1 customer-name pair graph (deletion-
    * neighborhood blocked) — q33 reports it, q40 closes it into
    * entity clusters; one build serves both. */
  def customerNamePairs(spark: SparkSession, dir: String): DataFrame =
    artifact(spark, s"custname_lev1.v1|$dir",
      Seq(s"$dir/customer.parquet")) {
      graft.operators.FuzzyJoin.levenshtein1SelfJoin(
        customerParallel(spark, dir).select(col("c_custkey"), col("c_name")),
        "c_custkey", "c_name")
    }

  /** The exact Jaccard ≥ 0.5 shingle pair graph (n = 3) over the
    * documents table — d02 reports it, d08/d09/d11 close it into
    * clusters, p34 splits on it, d19 reads it as the sweep's recall
    * denominator; one inverted-index build serves all six. */
  def docJaccardPairs(spark: SparkSession, dir: String): DataFrame =
    artifact(spark, s"doc_jaccard05.v1|$dir",
      Seq(s"$dir/documents.parquet")) {
      // persist the shingle scan for the build's one action (the
      // inverted-index join's two legs + the size table each re-scan
      // it — unpersisted, the artifact write paid three corpus scans);
      // ledger-registered so the next query boundary releases it
      val sh = graft.operators.Dedup
        .withShingles(documentsParallel(spark, dir), "doc_id", "text", 3)
        .persistLedgered()
      // eager pin (the PageRank rule): the artifact write is one action
      // scanning `sh` three times — a cache that fails to populate
      // mid-action re-tokenizes the corpus per scan (d19's observed
      // 8 s → 48 s long-JVM mode)
      sh.count()
      graft.operators.Dedup.jaccardPairsFromShingles(sh, 0.5)
    }

  /** The df≤64-guarded positional-3-gram TF index over documents —
    * d21's verify frame ([[graft.operators.Dedup.cosineTf]]): a pure
    * function of the corpus, built once per corpus version (bench
    * times the build as art_cosine_tf), after which d21 pays only the
    * norm pass + the bounded self-join. At scale this is the TF
    * posting file a dedup platform materializes next to the corpus. */
  def cosineTfIndex(spark: SparkSession, dir: String): DataFrame =
    artifact(spark, s"cosine_tf3_df64.v1|$dir",
      Seq(s"$dir/documents.parquet")) {
      graft.operators.Dedup.cosineTf(
        documentsParallel(spark, dir), "doc_id", "text", 3, Some(64))
    }

  /** Per-node triangle counts over [[coPurchaseEdges]] — the shared
    * triangle index behind g03's census and g04's normalization. */
  def coPurchaseTriangles(spark: SparkSession, dir: String): DataFrame = {
    // nested artifact resolution is safe now (the memo holds futures,
    // builds run outside the map) — resolving edges up front is kept
    // for clarity, not correctness
    val edges = coPurchaseEdges(spark, dir)
    artifact(spark, s"copurchase_tri.v1|$dir",
      Seq(s"$dir/lineitem.parquet")) {
      graft.operators.Triangles.perNodeCounts(edges, "a", "b")
    }
  }
}
