package graft.queries

import graft.core.Caching.LedgerOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables._

/** Thirteenth batch (round 6, driver session, cont. 2): capacity /
  * concurrency analytics over the events stream. */
object Relational13 {

  /** q49: peak concurrent sessions per day — the classic sweep-line
    * (interval-overlap) readout, built WITHOUT the textbook global
    * window sort: sessionize (q10's 30-min-gap rule), emit ±1 boundary
    * deltas, order them by the two-level [[graft.operators.GlobalIds]]
    * rank (range partition + per-partition counters), and running-sum
    * the deltas with the two-level exclusive prefix sum — at any
    * corpus size the only single-task stage folds `corpus/1024` bucket
    * totals. The standard SQL form (`sum(delta) OVER (ORDER BY ...)`)
    * is the oracle, and is exactly the plan that does NOT survive
    * scale (one unpartitioned WindowExec holding every boundary).
    *
    * Interval semantics are closed [start, end]: the −1 lands at
    * `end_us + 1` so a single-event session still occupies its
    * instant, and a session starting exactly when another ends (same
    * microsecond) overlaps it. Boundary order is (us, flag, user_id)
    * with ends (flag 0) before starts (flag 1) — a unique total order
    * (one user's sessions are disjoint and >30 min apart), so every
    * row's running value is deterministic in both engines.
    *
    * Output: per day (of the boundary event's own timestamp), the
    * maximum in-flight session count observed at any boundary and the
    * epoch-microsecond of the first boundary attaining it. */
  def q49PeakConcurrency(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val bounds = events(spark, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          col("ts").cast("double") - col("prev_ts").cast("double") > 1800d, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts")).as("st"), max(col("ts")).as("en"))
    graft.operators.Analytics.peakConcurrency(bounds, "user_id", "st", "en")
  }

  /** g05: k-core of the STRONG co-purchase graph — peel the (parts
    * co-purchased in ≥ 2 distinct orders) graph to its 2-core via
    * [[graft.operators.KCore.peel]]: per round one degree aggregate +
    * two anti joins, no graph-sized driver state. The raw g03 graph is
    * near-regular (deg 38–222) and unravels to empty at any effective
    * k; thresholding on co-purchase COUNT sparsifies it into real
    * cohesion structure (2-core = parts in at least one strong cycle).
    * The round count is data-dependent (observed 3 at sf0.01, 5 at
    * sf0.1), so the oracle is built AFTER the peel with that many
    * materialized unrolled rounds — the a30 fixpoint-replay pattern.
    * Output: every vertex with its peel wave (0 = core member) and
    * its degree inside the final core. */
  def g05KCore(spark: SparkSession, dir: String): DataFrame = {
    // strong co-purchase edges (pairs sharing ≥ 2 distinct orders)
    // from the shared GraphCache weights artifact: the per-order line
    // dedup + quadratic pair fan-out build once per JVM for
    // g03/g04/g05, and the n_orders ≥ 2 filter pushes into the
    // artifact's parquet scan
    val strong = GraphCache.coPurchaseStrongEdges(spark, dir, minOrders = 2)
    val (res, rounds) = graft.operators.KCore.peel(strong, "a", "b", k = 2)
    g05Oracle = Some(g05OracleSql(rounds))
    res.orderBy(col("node"))
  }

  @volatile private var g05Oracle: Option[String] = None

  /** DuckDB replay of the peel fixpoint: `rounds` materialized
    * eliminate-and-recount unrolls (CTEs referenced more than once per
    * step MUST be materialized — the inlined tree grows exponentially
    * with unroll depth). */
  private def g05OracleSql(rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |s AS MATERIALIZED (
        |  SELECT a, b FROM (
        |    SELECT x.pk AS a, y.pk AS b, count(DISTINCT x.ok) AS c
        |    FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
        |    GROUP BY 1, 2) t
        |  WHERE c >= 2),
        |e0 AS MATERIALIZED (
        |  SELECT a AS u, b AS v FROM s UNION ALL SELECT b, a FROM s),
        |v0 AS MATERIALIZED (SELECT DISTINCT u FROM e0)""".stripMargin)
    for (i <- 1 to rounds) {
      // weak = ALIVE VERTICES with current degree < k (a vertex whose
      // last neighbor fell in a prior wave has no edge rows left —
      // the edges-only HAVING form would lose it)
      sb.append(s""",
        |w$i AS MATERIALIZED (
        |  SELECT v.u FROM v${i - 1} v
        |  LEFT JOIN (SELECT u, count(*) AS d FROM e${i - 1} GROUP BY u) g
        |    ON g.u = v.u
        |  WHERE coalesce(g.d, 0) < 2),
        |v$i AS MATERIALIZED (
        |  SELECT u FROM v${i - 1} WHERE u NOT IN (SELECT u FROM w$i)),
        |e$i AS MATERIALIZED (
        |  SELECT e.u, e.v FROM e${i - 1} e
        |  WHERE e.u NOT IN (SELECT u FROM w$i)
        |    AND e.v NOT IN (SELECT u FROM w$i))""".stripMargin)
    }
    val removed = (1 to rounds)
      .map(i => s"SELECT u AS node, $i AS peel_round FROM w$i")
      .mkString(" UNION ALL ")
    val removedSql =
      if (rounds == 0) ""
      else s""",
        |removed AS ($removed)""".stripMargin
    val removedLeg =
      if (rounds == 0) ""
      else s"""
        |UNION ALL
        |SELECT node, peel_round, CAST(0 AS BIGINT) AS core_deg FROM removed""".stripMargin
    sb.append(s"""$removedSql
      |SELECT v.u AS node, 0 AS peel_round,
      |  CAST(coalesce(g.d, 0) AS BIGINT) AS core_deg
      |FROM v$rounds v
      |LEFT JOIN (SELECT u, count(*) AS d FROM e$rounds GROUP BY u) g
      |  ON g.u = v.u$removedLeg
      |ORDER BY node""".stripMargin)
    sb.toString
  }

  /** t42: document-stitch detection
    * ([[graft.operators.TextAnalysis.stitchPairs]]) — pages whose tail
    * word sequence reappears as another page's head are
    * split-document (pagination) candidates; the longest matching
    * suffix–prefix length grades each pair. On this synthetic corpus
    * the matches are chance 3-grams plus the duplicate clusters — the
    * instrument is the point (the a24 convention). */
  def t42StitchPairs(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis
      .stitchPairs(documentsParallel(spark, dir), "doc_id", "text", minK = 3, maxK = 8)
      .orderBy(col("id_a"), col("id_b"))

  /** q50: market-basket association rules — support, confidence, and
    * lift for co-purchased part pairs, the classic affinity-analysis
    * readout. Per-order part sets dedup to (order, part) before the
    * quadratic pair fan-out (the g05 lesson); supports are one narrow
    * aggregate each; lift/confidence are exact integer ppm with the
    * pair count promoted to DECIMAL(38) before the cross-multiply
    * (c_ab·N·10⁶ overflows a BIGINT once orders pass ~10⁷). Top 20 by
    * lift via TakeOrderedAndProject — the bounded form, no global
    * sort materializes. */
  def q50BasketRules(spark: SparkSession, dir: String): DataFrame = {
    val li = lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
      .persistLedgered()
    val nOrders = broadcast(li.select(col("ok")).distinct()
      .agg(count(lit(1)).as("n_orders")))
    val support = li.groupBy(col("pk")).agg(count(lit(1)).as("n_part"))
    // the (a < b, distinct-order count) pair table IS the co-purchase
    // weights artifact g03/g04/g05 already share (identical definition:
    // per-order distinct parts, one count per pair per order) — consume
    // it instead of re-deriving the pairs with a lineitem self-join
    // (r13; the self-join form shuffled li twice and paid the join for
    // the same ≤C(cap,2) pairs per order the artifact's scan-side
    // explode produces). The bench's art_copurchase_weights row pays
    // the build once per invocation, the family amortizes it.
    val both = graft.queries.GraphCache.coPurchaseWeights(spark, dir)
      .select(col("a").as("part_a"), col("b").as("part_b"),
        col("n_orders").as("n_both"))
      .filter(col("n_both") >= 2)
    both
      .join(support.select(col("pk").as("part_a"), col("n_part").as("n_a")), "part_a")
      .join(support.select(col("pk").as("part_b"), col("n_part").as("n_b")), "part_b")
      .crossJoin(nOrders)
      .withColumn("lift_ppm", expr(
        "cast((cast(n_both as decimal(38,0)) * n_orders * 1000000) div " +
          "(cast(n_a as decimal(38,0)) * n_b) as bigint)"))
      .withColumn("conf_ab_ppm", expr("(n_both * 1000000) div n_a"))
      .select(col("part_a"), col("part_b"), col("n_both"), col("n_a"),
        col("n_b"), col("lift_ppm"), col("conf_ab_ppm"))
      .orderBy(col("lift_ppm").desc, col("part_a"), col("part_b"))
      .limit(20)
  }

  /** p34: leakage-safe train/val/test split — the t27 hash split with
    * the contamination hole closed: near-duplicate documents must land
    * in the SAME split (a test doc whose near-copy sits in train is
    * leaked eval signal), so the split key is the doc's near-dup
    * CLUSTER representative (d02 pairs → min-label components;
    * singletons represent themselves), not the doc id. `moved` flags
    * docs whose naive doc-id split would have differed — the measured
    * leakage the cluster key prevents. All md5 arithmetic; the oracle
    * walks the same pair graph with a recursive CTE. */
  def p34LeakageSplit(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup.md5Hash60Col
    val docs = documentsParallel(spark, dir).select(col("doc_id"), col("text"))
    val pairs = GraphCache.docJaccardPairs(spark, dir)
    val cc = graft.operators.Clusters.connectedComponents(pairs)
    def splitOf(c: org.apache.spark.sql.Column) = {
      val b = md5Hash60Col(concat(lit("split|"), c.cast("string"))) % 10
      when(b < 8, "train").when(b === 8, "val").otherwise("test")
    }
    docs.select(col("doc_id"))
      .join(cc, docs("doc_id") === cc("id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("rep"))
      .withColumn("split", splitOf(col("rep")))
      .withColumn("naive_split", splitOf(col("doc_id")))
      .withColumn("moved", (col("split") =!= col("naive_split")).cast("int"))
      .orderBy(col("doc_id"))
  }

  /** q51: time-weighted average — the irregular-sample mean every
    * monitoring/billing pipeline needs (a plain AVG over-weights busy
    * periods): each reading holds until the next one, so
    * TWA = Σ vᵢ·(tᵢ₊₁−tᵢ) / (t_last−t_first), computed per
    * (user, type) in exact integers (value → micro-units via
    * DECIMAL(18,6)·10⁶, durations in µs, one floor division at the
    * end — the t33 rule; values are non-negative so floor is
    * engine-portable). Windows partition by (user, type): many small
    * groups, never one task per type (the q32 lesson). Single-reading
    * groups carry no duration and drop. */
  def q51TimeWeightedAvg(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    events(spark, dir)
      .withColumn("v6", (col("value").cast(DecimalType(18, 6)) * lit(1000000L))
        .cast(DecimalType(38, 0)))
      .withColumn("dur_us",
        unix_micros(lead(col("ts"), 1).over(w)) - unix_micros(col("ts")))
      .filter(col("dur_us").isNotNull)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("dur_us")).as("span_us"),
        sum(col("v6") * col("dur_us")).as("wsum"))
      .withColumn("twa_micro", expr("cast(wsum div span_us as bigint)"))
      .select(col("user_id"), col("event_type"), col("n_intervals"),
        col("span_us"), col("twa_micro"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** q52: CUSUM changepoint detection over daily event volumes — the
    * monitoring primitive that catches a sustained level shift a
    * per-day threshold misses (each day is only slightly high; the
    * CUMULATIVE excess grows without bound). Textbook CUSUM is a
    * sequential recurrence S_i = max(0, S_{i−1} + d_i), which looks
    * scan-ordered — but it has the prefix-sum closed form
    * S_i = P_i − min(0, min_{j≤i} P_j), so it is two cumulative
    * windows (running sum + running min), fully parallel. Residuals
    * are exact integers scaled by the series length: d_i = x_i·n −
    * total (no mean division anywhere), so both engines replay bit
    * for bit. The windows run over the DAILY AGGREGATE (types×days
    * rows), not the corpus — at 100 TB that table is still tiny; the
    * corpus-sized work is the one groupBy count. A day is flagged
    * when the unscaled CUSUM exceeds the series mean (S > total,
    * since both carry the same ·n scale). */
  def q52Cusum(spark: SparkSession, dir: String): DataFrame =
    cusumReadout(events(spark, dir)
      .groupBy(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_events")))

  /** The closed-form CUSUM readout over a (event_type, day, n_events)
    * daily frame — ONE definition shared by batch q52 and streaming
    * s26, so the flag rule cannot silently diverge between them. */
  private[queries] def cusumReadout(daily: DataFrame): DataFrame = {
    val byType = Window.partitionBy(col("event_type"))
    val cum = byType.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("total", sum(col("n_events")).over(byType))
      .withColumn("n_days", count(lit(1)).over(byType))
      .withColumn("p",
        sum(col("n_events") * col("n_days") - col("total")).over(cum))
      .withColumn("cusum_scaled",
        col("p") - least(lit(0L), min(col("p")).over(cum)))
      .withColumn("flagged",
        (col("cusum_scaled") > col("total")).cast("int"))
      .select(col("event_type"), col("day"), col("n_events"),
        col("cusum_scaled"), col("flagged"))
      .orderBy(col("event_type"), col("day"))
  }

  /** t43: topic-segmentation boundaries ([[graft.operators
    * .TextAnalysis.textTilingBoundaries]]) — Hearst's TextTiling
    * valley rule over 20-word blocks, squared-cosine gap scores in
    * exact ppm; the long-document splitter a RAG/pre-training chunker
    * wants where p04's sentence windows cut blindly. */
  def t43TextTiling(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.textTilingBoundaries(
      documentsParallel(spark, dir), "doc_id", "text", blockWords = 20)

  /** g06: HITS hubs & authorities over the customer→part purchase
    * bipartite graph ([[graft.operators.Hits]]): authorities = the
    * parts that discerning buyers converge on, hubs = the customers
    * whose baskets point at authoritative parts — the mutual-
    * reinforcement readout PageRank's single score can't give.
    * 3 rounds, raw integer power iteration, one final ppm division. */
  def g06Hits(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Hits.hits(
      GraphCache.custPartEdges(spark, dir), "c", "p",
      iterations = 3, topK = 20, edgesDistinct = true)

  /** q53: rolling robust anomaly detection — per event type, each
    * day's count against the EXACT median and MAD of its trailing
    * 7-day window (Hampel's rule, t28's global form made rolling):
    * flagged when |x − med| > 3·mad. Robust stats because one outlier
    * day must not drag the baseline it is judged against (the mean/
    * stddev failure mode). Exact integer lower-medians via the
    * collected window array (sort + pick — 7 elements, scan-local),
    * both engines replay element for element; windows run over the
    * types×days daily aggregate, never the corpus. */
  def q53RollingMad(spark: SparkSession, dir: String): DataFrame = {
    val w7 = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-6, Window.currentRow)
    events(spark, dir)
      .groupBy(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("vals", collect_list(col("n_events")).over(w7))
      .withColumn("med7", expr(
        "element_at(array_sort(vals), cast((size(vals) + 1) div 2 as int))"))
      .withColumn("mad7", expr(
        """element_at(array_sort(transform(vals, v -> abs(v - med7))),
          |  cast((size(vals) + 1) div 2 as int))""".stripMargin))
      .withColumn("flagged",
        (abs(col("n_events") - col("med7")) > lit(3) * col("mad7")).cast("int"))
      .select(col("event_type"), col("day"), col("n_events"),
        col("med7"), col("mad7"), col("flagged"))
      .orderBy(col("event_type"), col("day"))
  }

  /** t44: SEMANTIC eval-set decontamination — the embedding-space
    * companion to t10/t13/t23's n-gram decontamination (the SemDeDup
    * observation applied to eval leakage: a paraphrased benchmark
    * question shares no 8-gram but sits at cosine ≈ 1). Benchmark
    * embeddings are the d05 planted convention (every 10th vector,
    * shifted id); each eval item reports its leak count and strongest
    * train-side match from an exact cosine range search (queries
    * broadcast, corpus never shuffles — the a26 plan). On this corpus
    * natural cross-pairs top out at cos ≈ 0.51, so τ = 0.95 finds
    * exactly the planted leaks. */
  def t44SemanticContam(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val evalSet = e.filter(col("vec_id") % 10 === 0)
      .withColumn("vec_id", col("vec_id") + 1000000L)
    val pairs = graft.operators.Similarity.rangeSearch(
        evalSet, e, "vec_id", "embedding", threshold = 0.95)
      .select(col("query_id").as("eval_id"),
        col("neighbor_id").as("train_id"), col("score"))
    val w = Window.partitionBy(col("eval_id"))
      .orderBy(col("score").desc, col("train_id"))
    pairs
      .withColumn("rn", row_number().over(w))
      .withColumn("n_leaks",
        count(lit(1)).over(Window.partitionBy(col("eval_id"))))
      .filter(col("rn") === 1)
      .select(col("eval_id"), col("n_leaks"),
        col("train_id").as("top_train_id"), col("score").as("top_score"))
      .orderBy(col("eval_id"))
  }

  /** p35: mixture-budget solver — the data-recipe PLANNING instrument:
    * given per-source token supplies and a target mixture (uniform
    * here — the classic rebalancing question), the largest total
    * budget N any epoch-1 run can draw is the bottleneck rule
    * N = min_s (T_s·10⁶ div w_s); each source then reports its
    * allocation, utilization, and whether IT is the binding
    * constraint (the source to go buy more of). Exact integers
    * end to end; corpus-sized work is ONE token-count aggregate,
    * the solve is |sources| rows of arithmetic. */
  def p35MixtureBudget(spark: SparkSession, dir: String): DataFrame = {
    val supply = documents(spark, dir)
      .groupBy(col("source"))
      .agg(sum(size(split(col("text"), " ")).cast("long"))
        .as("tokens_avail"))
    val withW = supply
      .withColumn("n_sources",
        count(lit(1)).over(Window.partitionBy()))
      .withColumn("w_ppm", expr("1000000 div n_sources"))
      // DECIMAL(38) through the solve: tokens · 10⁶ overflows BIGINT at
      // the 100 TB posture (the t33 discipline)
      .withColumn("cap_s", expr(
        "(cast(tokens_avail as decimal(38,0)) * 1000000) div w_ppm"))
    val cap = withW.agg(min(col("cap_s")).as("cap_n"))
    withW.crossJoin(broadcast(cap))
      .withColumn("alloc", expr("(cap_n * w_ppm) div 1000000"))
      .select(col("source"), col("tokens_avail"), col("w_ppm"),
        col("cap_n").cast("long").as("cap_n"),
        col("alloc").cast("long").as("alloc_tokens"),
        (col("cap_s") === col("cap_n")).cast("int").as("binding"),
        expr("cast((alloc * 1000000) div tokens_avail as bigint)")
          .as("util_ppm"))
      .orderBy(col("source"))
  }

  /** q54: ABC / Pareto classification — parts ranked by revenue, split
    * at cumulative 80% / 95% (the classic inventory readout). The
    * textbook SQL is one unpartitioned running-sum window over every
    * part — exactly the plan that dies at scale — so the engine side
    * ranks via the two-level [[graft.operators.GlobalIds.assignBy]]
    * and running-sums via [[graft.operators.GlobalIds
    * .exclusivePrefixSum]] (the q49/t38 machinery): the only
    * single-task stage folds |parts|/1024 bucket totals. Class
    * boundaries compare the EXCLUSIVE prefix (the crossing part
    * belongs to the higher class) in DECIMAL(38). Revenue is per-row
    * micro-unit rounding, the q41/a18 convention. */
  def q54AbcPareto(spark: SparkSession, dir: String): DataFrame = {
    val pr = lineitem(spark, dir)
      .groupBy(col("l_partkey").as("pk"))
      .agg(sum(expr(
        "cast(round(l_extendedprice * (1 - l_discount) * 1000000) as bigint)"))
        .cast("long").as("rev6"))
    val ranked = graft.operators.GlobalIds
      .assignBy(pr, Seq(negate(col("rev6")), col("pk")))
    val withPfx = graft.operators.GlobalIds
      .exclusivePrefixSum(ranked, "global_id", "rev6")
    val total = withPfx.agg(sum(col("rev6")).cast("long").as("total"))
    withPfx.crossJoin(broadcast(total))
      .withColumn("cls", when(
          expr("cast(prefix as decimal(38,0)) * 100 < cast(total as decimal(38,0)) * 80"), "A")
        .when(
          expr("cast(prefix as decimal(38,0)) * 100 < cast(total as decimal(38,0)) * 95"), "B")
        .otherwise("C"))
      .groupBy(col("cls"))
      .agg(count(lit(1)).as("n_parts"),
        sum(col("rev6")).cast("long").as("rev_micro"),
        max(col("total")).as("t"))
      .withColumn("share_ppm", expr(
        "cast((cast(rev_micro as decimal(38,0)) * 1000000) div t as bigint)"))
      .select(col("cls"), col("n_parts"), col("rev_micro"), col("share_ppm"))
      .orderBy(col("cls"))
  }

  /** t45: term burstiness — the variance-to-mean ratio (dispersion
    * index) of per-document counts for the corpus's top-50 terms
    * (Church & Gale, "Poisson mixtures", 1995: function words arrive
    * ~Poisson with VMR ≈ 1; content words are BURSTY, VMR ≫ 1 — the
    * signal that separates topical vocabulary from glue without any
    * stopword list). Exact integers end to end: over all n docs
    * (absent docs contribute x = 0 to both moments, so only present
    * rows aggregate), VMR = (n·Σx² − S²) / (n·S) reported as ppm
    * floor division in DECIMAL(38) — numerator nonnegative by
    * Cauchy–Schwarz, so the division is engine-portable. One word
    * shuffle for the df table, one broadcast semi-join to keep only
    * the top-50 terms' occurrences. */
  def t45Burstiness(spark: SparkSession, dir: String): DataFrame = {
    // word_tfs (r13): the per-(word, doc) tally used to be a
    // groupBy(w, doc_id) over the exploded token stream — a full
    // token-STRING exchange with near-zero map-side combining (doc_id
    // in the key defeats it). The tally now happens in the scan; only
    // per-doc DISTINCT word rows flow, and the first exchange is the
    // partial-agg'd df count. Same multiset of (w, doc_id, x) facts,
    // bit-identical output.
    val nDocs = documents(spark, dir).agg(count(lit(1)).as("n"))
    val perDoc = documentsParallel(spark, dir)
      .select(col("doc_id"),
        explode(graft.functions.GraftFunctions.wordTfs(col("text"))).as("e"))
      .select(col("e.w").as("w"), col("doc_id"), col("e.x").as("x"))
    val top = perDoc.groupBy(col("w"))
      .agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("w")).limit(50)
    // r14: the moment pass re-ran the FULL wordTfs scan (per-doc word
    // maps for the whole vocabulary) just to keep the 50 top terms'
    // rows after the broadcast semi-join. The top-50 list is
    // driver-sized by construction — collect it, hash the 50 terms
    // with the same XXH64(seed 42) Spark's xxhash64 computes, and
    // re-scan with the vocabulary-restricted term_tfs native (the a11
    // retrieval convention: per-doc (ht, tf) computed IN the scan for
    // vocabulary terms only). Same (w, doc, x) fact multiset — the tf
    // of a top word is split-identical in both natives — re-keyed by
    // term hash with the 50-row (ht → w, df) map re-planted as a
    // LocalRelation. Falls back to the join form if the 50 hashes ever
    // collide (none do on any tested corpus; the oracle gate would
    // catch a corpus word colliding INTO the vocabulary, the same
    // exposure the a11 family already carries).
    val topRows = top.collect()
    val hashOf: String => Long = { w =>
      val u = org.apache.spark.unsafe.types.UTF8String.fromString(w)
      org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        u.getBaseObject, u.getBaseOffset, u.numBytes(), 42L)
    }
    val hts = topRows.map(r => hashOf(r.getString(0)))
    val moments =
      if (hts.distinct.length == topRows.length) {
        import spark.implicits._
        val topLocal = broadcast(
          topRows.zip(hts).map { case (r, ht) =>
            (ht, r.getString(0), r.getLong(1)) }.toSeq
            .toDF("ht", "w", "df"))
        val vocab = hts.clone()
        java.util.Arrays.sort(vocab)
        documentsParallel(spark, dir)
          .select(explode(
            graft.functions.GraftFunctions.termTfs(col("text"), vocab)).as("e"))
          .select(col("e.ht").as("ht"), col("e.tf").as("x"))
          .join(topLocal, "ht")
          .groupBy(col("w"), col("df"))
          .agg(sum(col("x")).as("s"), sum(col("x") * col("x")).as("q"))
      } else {
        perDoc.join(broadcast(top), "w")
          .groupBy(col("w"), col("df"))
          .agg(sum(col("x")).as("s"), sum(col("x") * col("x")).as("q"))
      }
    moments
      .crossJoin(broadcast(nDocs))
      .select(col("w").as("term"), col("df"), col("s").as("total_occ"),
        expr("""cast(((cast(n as decimal(38,0)) * q - cast(s as decimal(38,0)) * s)
               |  * 1000000) div (cast(n as decimal(38,0)) * s) as bigint)"""
          .stripMargin).as("burstiness_ppm"))
      .orderBy(col("term"))
  }

  /** t46: windowed type-token ratio — the lexical-diversity quality
    * signal the Gopher/C4-style filters use alongside repetition
    * fractions (t14) and readability (t21): raw TTR collapses with
    * document length, so the standard fix is distinct-word ratios over
    * FIXED 50-word windows (full windows only), averaged. Low windowed
    * TTR = template/keyword-stuffed junk even when n-gram repetition
    * fractions pass. Integer-exact: ttr_ppm =
    * (Σ_win distinct) · 10⁶ div (n_win · 50); docs under 50 words have
    * no full window and a NULL ratio (callers length-floor first).
    *
    * Scale posture: ONE map-only pass — the window fold is a
    * scan-local higher-order `aggregate(transform(...))` over the
    * split array, so nothing shuffles but the final |docs|-row sort.
    * This is the cheapest shape a per-doc signal can take at 100 TB. */
  def t46WindowTtr(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"),
        expr("size(ws) div 50").cast("long").as("n_win"),
        // sequence(1, 0) DESCENDS in Spark — guard the empty case
        expr("""aggregate(
            |  transform(
            |    CASE WHEN size(ws) >= 50 THEN sequence(1, size(ws) div 50)
            |         ELSE array() END,
            |    w -> size(array_distinct(slice(ws, (w - 1) * 50 + 1, 50)))),
            |  0L, (a, x) -> a + x)""".stripMargin).as("sum_distinct"))
      .select(col("doc_id"), col("n_win"), col("sum_distinct"),
        expr("CASE WHEN n_win = 0 THEN NULL " +
          "ELSE (sum_distinct * 1000000L) div (n_win * 50) END")
          .as("ttr_ppm"))
      .orderBy(col("doc_id"))

  /** a36: incremental ingest into a FROZEN IVF index — the production
    * path [[graft.operators.IndexStore]] exists for: the coarse
    * quantizer trains ONCE on the base corpus (even vec_ids), then the
    * new half (odd vec_ids) is assigned to the FIXED lists with no
    * retrain, exactly how a serving system absorbs a new shard. The
    * readout is what an ops team watches when ingesting into a frozen
    * index: per-list occupancy before/after (`growth_ppm` flags lists
    * the new data piles into — distribution drift) and the mean
    * quantization error per half (`mean_r2_added` ≫ `mean_r2_base`
    * says the frozen centroids no longer fit the new data — retrain
    * signal). Engine-exact: the a08 discipline (quantized centroid
    * literals spliced into the oracle, integer L2² argmin with index
    * tie-break, DECIMAL(38) error sums, BIGINT floor-div means). */
  def a36IndexIngest(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir).filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding"))
    val base = e.filter(col("vec_id") % 2 === 0)
    val n = base.count()
    val k = math.max(8, math.min(64, (n / 32).toInt))
    val (_, cents) = graft.operators.KMeans.fit(
      base, "vec_id", "embedding", k, iterations = 2)
    val cq = cents.map(_.map(x => math.round(x * 1048576.0)))
    a36Oracle = Some(a36OracleSql(cq))
    // r2 rides out of the argmin scan itself (r13): the old shape
    // joined the broadcast centroid table back and re-derived the
    // winning distance with an interpreted aggregate(zip_with(...))
    // per row — work assignExact had already done when it picked the
    // cluster. Same integer arithmetic, bit-exact r2.
    val withR2 = graft.operators.KMeans
      .assignExactWithDist(e, "vec_id", "embedding", cq)
      .withColumn("half", (col("vec_id") % 2 === 0).cast("int"))
    withR2.groupBy(col("cluster").as("list_id"))
      .agg(
        sum(col("half")).cast("long").as("n_base"),
        sum(lit(1) - col("half")).cast("long").as("n_added"),
        sum(expr("cast(case when half = 1 then r2 end as decimal(38,0))"))
          .as("s_base"),
        sum(expr("cast(case when half = 0 then r2 end as decimal(38,0))"))
          .as("s_add"))
      .select(col("list_id"), col("n_base"), col("n_added"),
        expr("cast(case when n_base = 0 then null else s_base div n_base end as bigint)")
          .as("mean_r2_base"),
        expr("cast(case when n_added = 0 then null else s_add div n_added end as bigint)")
          .as("mean_r2_added"),
        expr("cast(case when n_base = 0 then null else (n_added * 1000000) div n_base end as bigint)")
          .as("growth_ppm"))
      .orderBy(col("list_id"))
  }

  /** a37: CROSS-JVM index serving — the other half of a36's contract:
    * a36 proves a frozen index absorbs new data; a37 proves a process
    * that never trained anything can SERVE. The query loads the
    * [[graft.operators.IndexStore]] IVF-PQ artifact published under the
    * shared (non-pid-tagged, atomic-rename) store path — written by a
    * PRIOR JVM when one ran first (Bench→Verify→Inspect runs reuse
    * it across process boundaries); trained-and-published on first
    * contact otherwise — and serves a15's exact search pipeline with
    * the LOADED model. Every run serves from the parquet artifact, so
    * the plan is identical in the trainer and in a pure server, and the
    * oracle literals come from the loaded model (bit-exact round-trip,
    * IndexStoreSpec-pinned). The row's contract, precisely: it verifies
    * SERVING correctness — the search is exact for whatever valid
    * model the store holds — NOT training freshness; an artifact
    * trained by an older build still self-verifies, which is the
    * intended train-once semantics. The publish key therefore carries
    * the model parameters AND a training-recipe tag (bump `fit2x` when
    * the trainer changes) AND the corpus dir, so a recipe or parameter
    * change publishes a NEW artifact instead of silently serving the
    * old one. Query set: vec_id 5..9 (disjoint from a15's 0..4, so the
    * two rows can't mask each other). */
  def a37IndexServe(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{IndexStore, ProductQuantizer}
    val e = embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    // fp in the key (r10 advice): a regenerated corpus retrains the
    // model under a new fingerprint — this serve key must move with it
    // or it would serve a model trained on the dead corpus
    val path = IndexStore.publishPath(
      s"ivfpq_16-8-16-2_fit2x|$dir|fp=${ModelCache.fp(dir)}")
    val model = IndexStore.loadOrPublishIvfPq(spark, path) {
      ModelCache.ivfPqModel(spark, dir)
    }
    a37Oracle = Some(CurationQueries.a15OracleSql(
      model.centsQ, model.booksQ, subDim = 8,
      queryPred = "vec_id BETWEEN 5 AND 9"))
    ProductQuantizer.searchIvfPqExact(
        e.filter(col("vec_id").between(5, 9)), e, "vec_id", "embedding",
        model, nprobe = 4, shortlist = 100, topK = 10)
      .orderBy(col("query_id"), col("rank"))
  }

  /** a39: TOMBSTONE-masked serving from the frozen index — the deletes
    * half of the index lifecycle (train → persist → serve cross-JVM →
    * ingest increments → monitor → filter → DELETE): a production
    * vector store never rebuilds the index per deletion, it MASKS
    * tombstoned ids at query time. Every 7th-ish vector (vec_id % 7 =
    * 3) is deleted; the search runs a15's exact IVF-PQ pipeline with
    * the SAME frozen model, candidates restricted to live ids — which,
    * because per-vector assignment/encoding is independent, is exactly
    * equivalent to masking stored postings. Queries 11..15 (all live,
    * disjoint from a15's and a37's). Oracle: a15's replay with the
    * tombstone predicate on the candidate join. */
  def a39IndexDelete(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.ProductQuantizer
    val e = embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val live = e.filter(col("vec_id") % 7 =!= 3)
    val model = ModelCache.ivfPqModel(spark, dir)
    a39Oracle = Some(CurationQueries.a15OracleSql(
      model.centsQ, model.booksQ, subDim = 8,
      queryPred = "vec_id BETWEEN 11 AND 15",
      neighborPred = "a.vec_id % 7 <> 3"))
    ProductQuantizer.searchIvfPqExact(
        e.filter(col("vec_id").between(11, 15)), live, "vec_id", "embedding",
        model, nprobe = 4, shortlist = 100, topK = 10)
      .orderBy(col("query_id"), col("rank"))
  }

  /** a40: index COMPACTION — the lifecycle's background GC and its
    * last missing verb (train → persist → serve cross-JVM → ingest →
    * monitor → filter → delete → COMPACT): a39 masks tombstones at
    * query time, and when the dead fraction crosses a threshold the
    * store rewrites its postings without the dead ids and re-publishes
    * under a compaction-tagged key — masking stays the hot path
    * between compactions. Here the base postings (the encoded corpus,
    * [[graft.operators.ProductQuantizer.encodeIvfPqPostings]]) publish
    * under the recipe-tagged key, the a39 tombstone set (vec_id % 7 =
    * 3, 14.3% dead > the 10% threshold) triggers the rewrite, and the
    * search SERVES FROM THE COMPACTED ARTIFACT via the postings path
    * (no re-encode). The oracle is the MASKED replay (a15's SQL with
    * the tombstone predicate on the candidate join) — a hash match IS
    * the proof that compacted-serve ≡ masked-serve (per-vector
    * assignment/encoding independence makes them equal by
    * construction; the row makes it checked, not assumed). Queries
    * 18..22 (all live; disjoint from a15's 0..4, a37's 5..9, a39's
    * 11..15). */
  def a40IndexCompact(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{IndexStore, ProductQuantizer}
    val e = embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val (model, resid) = ModelCache.ivfPqIndex(spark, dir)
    // postings are ENCODED WITH the model's codebooks, so their keys
    // carry the model's staleness fingerprint (r10 advice): a corpus
    // regen retrains the model under a new fp, and postings encoded
    // with the old codebooks become unreachable by construction —
    // without this, searchIvfPqExact would decode mismatched codes and
    // return silently wrong neighbors
    val pfp = ModelCache.fp(dir)
    val basePath = IndexStore.publishPath(
      s"ivfpq_16-8-16-2_fit2x_post|$dir|fp=$pfp")
    val postings = IndexStore.loadOrPublishPostings(spark, basePath) {
      ProductQuantizer.encodeIvfPqPostings(resid, model)
    }
    val compactPath = IndexStore.publishPath(
      s"ivfpq_16-8-16-2_fit2x_post_compact1|$dir|fp=$pfp")
    val (served, _) = IndexStore.compactPostings(spark, basePath,
      compactPath, col("id") % 7 === 3, threshold = 0.10,
      baseFallback = Some(postings))
    a40Oracle = Some(CurationQueries.a15OracleSql(
      model.centsQ, model.booksQ, subDim = 8,
      queryPred = "vec_id BETWEEN 18 AND 22",
      neighborPred = "a.vec_id % 7 <> 3"))
    ProductQuantizer.searchIvfPqExact(
        e.filter(col("vec_id").between(18, 22)), e, "vec_id", "embedding",
        model, nprobe = 4, shortlist = 100, topK = 10,
        precomputedCodes = Some(served))
      .orderBy(col("query_id"), col("rank"))
  }

  /** a41: shard MERGE — the segment-maintenance verb that closes the
    * index lifecycle loop (train → persist → serve cross-JVM → ingest
    * → monitor → filter → delete → compact → MERGE): a production
    * store accumulates posting segments and periodically merges them
    * latest-wins into one. The history replayed here: the base
    * segment holds the even ids MINUS an a39-style tombstoned set
    * (vec_id % 10 = 4); a re-ingest delta holds all odd ids, PLUS
    * half the tombstoned ids re-added (vec_id % 20 = 4 — the
    * delete-then-re-ingest flow), PLUS an unchanged-id overlap
    * (vec_id % 20 = 6) that the merge must dedup. The merged segment
    * must therefore contain exactly one row per id with
    * vec_id % 20 ≠ 14, and the search SERVES FROM THE MERGED
    * ARTIFACT. Oracle: a15's full replay restricted to that live set
    * — forgetting the dedup, dropping the re-adds, or resurrecting
    * the still-dead ids each break the hash. Queries 25..29 (live;
    * disjoint from a15's 0..4, a37's 5..9, a39's 11..15,
    * a40's 18..22). */
  def a41IndexMerge(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{IndexStore, ProductQuantizer}
    val e = embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val (model, resid) = ModelCache.ivfPqIndex(spark, dir)
    val all = ProductQuantizer.encodeIvfPqPostings(resid, model)
    val base = all.filter(col("id") % 2 === 0 && col("id") % 10 =!= 4)
    val delta = all.filter(col("id") % 2 === 1 ||
      col("id") % 20 === 4 || col("id") % 20 === 6)
    // fp-keyed like a40's postings: merged segments hold codes from
    // THIS model instance; a corpus regen must strand them (r10 advice)
    val mergedPath = IndexStore.publishPath(
      s"ivfpq_16-8-16-2_fit2x_post_merged1|$dir|fp=${ModelCache.fp(dir)}")
    val merged = IndexStore.mergePostings(spark, mergedPath,
      Seq(base, delta))
    a41Oracle = Some(CurationQueries.a15OracleSql(
      model.centsQ, model.booksQ, subDim = 8,
      queryPred = "vec_id BETWEEN 25 AND 29",
      neighborPred = "a.vec_id % 20 <> 14"))
    ProductQuantizer.searchIvfPqExact(
        e.filter(col("vec_id").between(25, 29)), e, "vec_id", "embedding",
        model, nprobe = 4, shortlist = 100, topK = 10,
        precomputedCodes = Some(merged))
      .orderBy(col("query_id"), col("rank"))
  }

  /** a42: index BALANCE monitor — the store-side health readout
    * between a36's ingest-drift signal and the retrain decision. A
    * coarse quantizer whose hottest lists hold multiples of the mean
    * no longer partitions the space: probe cost concentrates on hot
    * lists and recall-per-nprobe decays, so production stores watch
    * per-list occupancy continuously (FAISS's own imbalance_factor).
    * Reads the SERVED postings artifact (a40's fp-keyed store — the
    * monitor sees exactly what serving sees, no re-encode, no second
    * assignment pass) and emits per list: occupancy, share of corpus
    * in ppm, and occupancy·k/|corpus| in ppm (1 000 000 = perfectly
    * balanced; the max over lists is FAISS's imbalance factor in ppm).
    * Oracle: the a15 coarse-assignment replay (spliced quantized
    * centroid literals) grouped by list — the hash breaks if the
    * artifact drifts from what fresh assignment of the corpus would
    * produce, so the row ALSO re-proves artifact freshness. */
  def a42IndexBalance(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{IndexStore, ProductQuantizer}
    val (model, resid) = ModelCache.ivfPqIndex(spark, dir)
    val pfp = ModelCache.fp(dir)
    val basePath = IndexStore.publishPath(
      s"ivfpq_16-8-16-2_fit2x_post|$dir|fp=$pfp")
    val postings = IndexStore.loadOrPublishPostings(spark, basePath) {
      ProductQuantizer.encodeIvfPqPostings(resid, model)
    }
    a42Oracle = Some(a42OracleSql(model.centsQ))
    val counts = postings.groupBy(col("cluster").cast("int").as("list_id"))
      .agg(count(lit(1)).as("n_vec"))
    // k-row frame: the totals broadcast as a 1-row scalar frame, the
    // per-list division is plain integer column algebra
    counts.crossJoin(broadcast(
        counts.agg(sum(col("n_vec")).as("n_tot"),
          count(lit(1)).as("n_lists"))))
      .select(col("list_id"), col("n_vec"),
        expr("(n_vec * 1000000L) div n_tot").as("share_ppm"),
        expr("(n_vec * n_lists * 1000000L) div n_tot").as("imbalance_ppm"))
      .orderBy(col("list_id"))
  }

  @volatile private var a42Oracle: Option[String] = None

  /** a42's replay: the a15 oracle's coarse-assignment CTEs (same
    * quantized-centroid L2² argmin, same (dist, ci) tie-break) grouped
    * by list. Null-free guard mirrors the engine's isNotNull filters
    * (the sf corpora carry none — defensive parity). Shared with s33's
    * streaming twin (same served artifact, same readout — r12). */
  private[queries] def a42OracleSql(centsQ: Array[Array[Long]]): String = {
    val cents = centsQ.zipWithIndex.map { case (c, i) =>
      s"($i, ${c.mkString("[", ", ", "]")})" }.mkString(",\n    ")
    s"""WITH v AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1048576, 0) AS BIGINT)) AS vq
       |  FROM embeddings WHERE embedding IS NOT NULL),
       |cents(ci, cq) AS (VALUES
       |    $cents),
       |cdist AS (
       |  SELECT v.vec_id, c.ci,
       |    list_sum(list_transform(generate_series(1, len(v.vq)), d ->
       |      (v.vq[d] - c.cq[d]) * (v.vq[d] - c.cq[d]))) AS dist
       |  FROM v CROSS JOIN cents c),
       |asg AS (SELECT vec_id, ci AS cluster FROM (
       |    SELECT vec_id, ci,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, ci) AS rn
       |    FROM cdist) WHERE rn = 1),
       |counts AS (SELECT cluster AS list_id, count(*) AS n_vec
       |  FROM asg GROUP BY 1),
       |tot AS (SELECT sum(n_vec) AS n_tot, count(*) AS n_lists FROM counts)
       |SELECT CAST(list_id AS INT) AS list_id,
       |  CAST(n_vec AS BIGINT) AS n_vec,
       |  CAST((n_vec * 1000000) // n_tot AS BIGINT) AS share_ppm,
       |  CAST((n_vec * n_lists * 1000000) // n_tot AS BIGINT) AS imbalance_ppm
       |FROM counts, tot ORDER BY list_id""".stripMargin
  }

  @volatile private var a41Oracle: Option[String] = None

  @volatile private var a40Oracle: Option[String] = None

  @volatile private var a39Oracle: Option[String] = None

  @volatile private var a37Oracle: Option[String] = None

  @volatile private var a36Oracle: Option[String] = None

  /** Shared with s28's streaming twin (identical relation, identical
    * trained centroids — KMeans.fit is deterministic in its input). */
  private[queries] def a36OracleSql(cq: Array[Array[Long]]): String = {
    val cents = cq.zipWithIndex.map { case (c, i) =>
      s"($i, ${c.mkString("[", ", ", "]")})" }.mkString(",\n    ")
    s"""WITH v AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1048576, 0) AS BIGINT)) AS vq
       |  FROM embeddings WHERE embedding IS NOT NULL),
       |cents(ci, cq) AS (VALUES
       |    $cents),
       |dist AS (SELECT v.vec_id, c.ci,
       |    list_sum(list_transform(generate_series(1, len(v.vq)), d ->
       |      (v.vq[d] - c.cq[d]) * (v.vq[d] - c.cq[d]))) AS dist
       |  FROM v CROSS JOIN cents c),
       |asg AS (SELECT vec_id, ci AS cluster, dist FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY dist, ci) AS rn FROM dist)
       |  WHERE rn = 1),
       |agg AS (SELECT cluster AS list_id,
       |    sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS n_base,
       |    sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS n_added,
       |    sum(CASE WHEN vec_id % 2 = 0 THEN CAST(dist AS HUGEINT) END) AS s_base,
       |    sum(CASE WHEN vec_id % 2 = 1 THEN CAST(dist AS HUGEINT) END) AS s_add
       |  FROM asg GROUP BY cluster)
       |SELECT CAST(list_id AS INT) AS list_id,
       |  CAST(n_base AS BIGINT) AS n_base,
       |  CAST(n_added AS BIGINT) AS n_added,
       |  CAST(CASE WHEN n_base = 0 THEN NULL ELSE s_base // n_base END AS BIGINT) AS mean_r2_base,
       |  CAST(CASE WHEN n_added = 0 THEN NULL ELSE s_add // n_added END AS BIGINT) AS mean_r2_added,
       |  CAST(CASE WHEN n_base = 0 THEN NULL ELSE (n_added * 1000000) // n_base END AS BIGINT) AS growth_ppm
       |FROM agg ORDER BY list_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a36_index_ingest"      -> a36IndexIngest _,
    "a37_index_serve"       -> a37IndexServe _,
    "a39_index_delete"      -> a39IndexDelete _,
    "a40_index_compact"     -> a40IndexCompact _,
    "a41_index_merge"       -> a41IndexMerge _,
    "a42_index_balance"     -> a42IndexBalance _,
    "t45_burstiness"        -> t45Burstiness _,
    "t46_window_ttr"        -> t46WindowTtr _,
    "t44_semantic_contam"   -> t44SemanticContam _,
    "p35_mixture_budget"    -> p35MixtureBudget _,
    "q54_abc_pareto"        -> q54AbcPareto _,
    "q51_time_weighted_avg" -> q51TimeWeightedAvg _,
    "q52_cusum_changepoint" -> q52Cusum _,
    "q53_rolling_mad"       -> q53RollingMad _,
    "t43_texttiling"        -> t43TextTiling _,
    "g06_hits"              -> g06Hits _,
    "p34_leakage_split"    -> p34LeakageSplit _,
    "q49_peak_concurrency" -> q49PeakConcurrency _,
    "g05_kcore"            -> g05KCore _,
    "t42_stitch_pairs"     -> t42StitchPairs _,
    "q50_basket_rules"     -> q50BasketRules _)

  def oracles: Map[String, String] =
    staticOracles ++ g05Oracle.map("g05_kcore" -> _) ++
      a36Oracle.map("a36_index_ingest" -> _) ++
      a37Oracle.map("a37_index_serve" -> _) ++
      a39Oracle.map("a39_index_delete" -> _) ++
      a40Oracle.map("a40_index_compact" -> _) ++
      a41Oracle.map("a41_index_merge" -> _) ++
      // a42's oracle derives eagerly from the memoized model when the
      // query itself didn't run in this JVM (r12 advice: a
      // name-filtered run that trained the index via any sibling used
      // to silently drop the key and weaken the check to rows-only)
      a42Oracle.orElse(
        graft.queries.ModelCache.peekIvfPqModel.map(m => a42OracleSql(m.centsQ)))
        .map("a42_index_balance" -> _)

  private val staticOracles: Map[String, String] = Map(
    "t46_window_ttr" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents),
        |f AS (SELECT doc_id,
        |    CAST(len(ws) // 50 AS BIGINT) AS n_win,
        |    CAST(coalesce(list_sum(list_transform(
        |      generate_series(1, len(ws) // 50), w ->
        |        len(list_distinct(ws[(w - 1) * 50 + 1 : w * 50])))), 0)
        |      AS BIGINT) AS sum_distinct
        |  FROM w)
        |SELECT doc_id, n_win, sum_distinct,
        |  CAST(CASE WHEN n_win = 0 THEN NULL
        |    ELSE (sum_distinct * 1000000) // (n_win * 50) END AS BIGINT)
        |    AS ttr_ppm
        |FROM f ORDER BY doc_id""".stripMargin,
    "t45_burstiness" ->
      """WITH n AS (SELECT count(*) AS n FROM documents),
        |perdoc AS (SELECT w, doc_id, count(*) AS x FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |    FROM documents) GROUP BY 1, 2),
        |top AS (SELECT w, count(*) AS df FROM perdoc
        |  GROUP BY 1 ORDER BY df DESC, w LIMIT 50),
        |agg AS (SELECT p.w, t.df,
        |    CAST(sum(p.x) AS BIGINT) AS s,
        |    CAST(sum(p.x * p.x) AS BIGINT) AS q
        |  FROM perdoc p JOIN top t ON p.w = t.w GROUP BY 1, 2)
        |SELECT w AS term, df, s AS total_occ,
        |  CAST(((n.n::HUGEINT * q - s::HUGEINT * s) * 1000000)
        |    // (n.n::HUGEINT * s) AS BIGINT) AS burstiness_ppm
        |FROM agg, n ORDER BY term""".stripMargin,
    "q54_abc_pareto" ->
      """WITH pr AS (SELECT l_partkey AS pk,
        |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 1000000)
        |      AS BIGINT)) AS BIGINT) AS rev6
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(sum(rev6) AS BIGINT) AS total FROM pr),
        |r AS (SELECT pk, rev6,
        |    CAST(coalesce(sum(rev6) OVER (ORDER BY rev6 DESC, pk
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS pfx
        |  FROM pr),
        |c AS (SELECT pk, rev6,
        |    CASE WHEN pfx::HUGEINT * 100 < total::HUGEINT * 80 THEN 'A'
        |         WHEN pfx::HUGEINT * 100 < total::HUGEINT * 95 THEN 'B'
        |         ELSE 'C' END AS cls
        |  FROM r, t)
        |SELECT cls, count(*) AS n_parts,
        |  CAST(sum(rev6) AS BIGINT) AS rev_micro,
        |  CAST((sum(rev6)::HUGEINT * 1000000) // (SELECT total FROM t)
        |    AS BIGINT) AS share_ppm
        |FROM c GROUP BY 1 ORDER BY cls""".stripMargin,
    "p35_mixture_budget" ->
      """WITH supply AS (
        |  SELECT source,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens_avail
        |  FROM documents GROUP BY 1),
        |w AS (SELECT source, tokens_avail,
        |    1000000 // count(*) OVER () AS w_ppm,
        |    (tokens_avail::HUGEINT * 1000000) // (1000000 // count(*) OVER ())
        |      AS cap_s
        |  FROM supply),
        |c AS (SELECT min(cap_s) AS cap_n FROM w)
        |SELECT source, tokens_avail, CAST(w_ppm AS BIGINT) AS w_ppm,
        |  CAST(cap_n AS BIGINT) AS cap_n,
        |  CAST((cap_n * w_ppm) // 1000000 AS BIGINT) AS alloc_tokens,
        |  CAST(cap_s = cap_n AS INT) AS binding,
        |  CAST((((cap_n * w_ppm) // 1000000) * 1000000) // tokens_avail
        |    AS BIGINT) AS util_ppm
        |FROM w, c ORDER BY source""".stripMargin,
    "t44_semantic_contam" ->
      """WITH d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |ev AS (SELECT vec_id + 1000000 AS eval_id, v FROM d
        |  WHERE vec_id % 10 = 0),
        |pairs AS (SELECT e.eval_id, c.vec_id AS train_id,
        |    round(list_cosine_similarity(e.v, c.v), 6) AS score
        |  FROM ev e JOIN d c ON e.eval_id <> c.vec_id
        |  WHERE list_cosine_similarity(e.v, c.v) >= 0.95),
        |r AS (SELECT eval_id, train_id, score,
        |    row_number() OVER (PARTITION BY eval_id
        |      ORDER BY score DESC, train_id) AS rn,
        |    count(*) OVER (PARTITION BY eval_id) AS n_leaks
        |  FROM pairs)
        |SELECT eval_id, n_leaks, train_id AS top_train_id,
        |  score AS top_score
        |FROM r WHERE rn = 1 ORDER BY eval_id""".stripMargin,
    "q53_rolling_mad" ->
      """WITH daily AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |    count(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, day, n_events,
        |    list(n_events) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS vals
        |  FROM daily),
        |m AS (SELECT event_type, day, n_events,
        |    list_sort(vals)[(len(vals) + 1) // 2] AS med7, vals
        |  FROM r),
        |mm AS (SELECT event_type, day, n_events, med7,
        |    list_sort(list_transform(vals, v -> abs(v - med7)))
        |      [(len(vals) + 1) // 2] AS mad7
        |  FROM m)
        |SELECT event_type, day, n_events, med7, mad7,
        |  CAST(abs(n_events - med7) > 3 * mad7 AS INT) AS flagged
        |FROM mm ORDER BY event_type, day""".stripMargin,
    "g06_hits" -> graft.operators.Hits.oracleSql(
      """SELECT DISTINCT o_custkey AS c, l_partkey AS p
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey""".stripMargin,
      iterations = 3, topK = 20),
    "t43_texttiling" ->
      """WITH wd AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |pw AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ws)),
        |    i -> struct_pack(blk := (i - 1) // 20,
        |      h := ('0x' || substr(md5(ws[i]), 1, 15))::BIGINT))) AS s
        |  FROM wd),
        |cnt AS (SELECT doc_id, s.blk AS blk, s.h AS h, count(*) AS c
        |  FROM pw GROUP BY 1, 2, 3),
        |n2 AS (SELECT doc_id, blk, CAST(sum(c * c) AS BIGINT) AS n2
        |  FROM cnt GROUP BY 1, 2),
        |dots AS (SELECT a.doc_id, a.blk, CAST(sum(a.c * b.c) AS BIGINT) AS dot
        |  FROM cnt a JOIN cnt b ON a.doc_id = b.doc_id
        |    AND b.blk = a.blk + 1 AND a.h = b.h
        |  GROUP BY 1, 2),
        |gap AS (SELECT x.doc_id, x.blk AS gap, coalesce(d.dot, 0) AS dot,
        |    x.n2 AS na2, y.n2 AS nb2
        |  FROM n2 x JOIN n2 y ON x.doc_id = y.doc_id AND y.blk = x.blk + 1
        |  LEFT JOIN dots d ON d.doc_id = x.doc_id AND d.blk = x.blk),
        |sim AS (SELECT doc_id, gap,
        |    CAST((dot * dot * 1000000) // (na2 * nb2) AS BIGINT) AS simsq_ppm
        |  FROM gap),
        |v AS (SELECT doc_id, gap, simsq_ppm,
        |    lag(simsq_ppm) OVER (PARTITION BY doc_id ORDER BY gap) AS p,
        |    lead(simsq_ppm) OVER (PARTITION BY doc_id ORDER BY gap) AS n
        |  FROM sim)
        |SELECT doc_id, CAST(gap AS BIGINT) AS gap, simsq_ppm,
        |  CAST(coalesce(simsq_ppm < p AND simsq_ppm < n, false) AS INT)
        |    AS is_boundary
        |FROM v ORDER BY doc_id, gap""".stripMargin,
    "q52_cusum_changepoint" ->
      """WITH daily AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |    count(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |s AS (
        |  SELECT event_type, day, n_events,
        |    CAST(sum(n_events) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS total,
        |    count(*) OVER (PARTITION BY event_type) AS n_days
        |  FROM daily),
        |p AS (
        |  SELECT event_type, day, n_events, total,
        |    CAST(sum(n_events * n_days - total) OVER (
        |      PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS p
        |  FROM s),
        |c AS (
        |  SELECT event_type, day, n_events, total,
        |    p - least(0, min(p) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |      AS cusum_scaled
        |  FROM p)
        |SELECT event_type, day, n_events, cusum_scaled,
        |  CAST(cusum_scaled > total AS INT) AS flagged
        |FROM c ORDER BY event_type, day""".stripMargin,
    "q51_time_weighted_avg" ->
      """WITH e AS (
        |  SELECT user_id, event_type,
        |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS HUGEINT) AS v6,
        |    epoch_us(lead(ts) OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id)) - epoch_us(ts) AS dur_us
        |  FROM events)
        |SELECT user_id, event_type, count(*) AS n_intervals,
        |  CAST(sum(dur_us) AS BIGINT) AS span_us,
        |  CAST(sum(v6 * dur_us) // sum(dur_us) AS BIGINT) AS twa_micro
        |FROM e WHERE dur_us IS NOT NULL
        |GROUP BY 1, 2 ORDER BY user_id, event_type""".stripMargin,
    "p34_leakage_split" -> {
      def sqlSplit(key: String) =
        s"""CASE WHEN ('0x' || substr(md5('split|' ||
           |      CAST($key AS VARCHAR)), 1, 15))::BIGINT % 10 < 8 THEN 'train'
           |    WHEN ('0x' || substr(md5('split|' ||
           |      CAST($key AS VARCHAR)), 1, 15))::BIGINT % 10 = 8 THEN 'val'
           |    ELSE 'test' END""".stripMargin
      s"""WITH RECURSIVE ${CurationQueries.jaccardCoreCtes("doc_id")},
         |pairs AS (
         |  SELECT id_a, id_b
         |  FROM inter JOIN sz sa ON sa.doc_id = id_a
         |  JOIN sz sb ON sb.doc_id = id_b
         |  WHERE n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.5),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach(id, lab) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.lab FROM edges e JOIN reach r ON r.id = e.dst),
         |cc AS (SELECT id, min(lab) AS cluster_id FROM reach GROUP BY id),
         |r AS (
         |  SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS rep
         |  FROM documents d LEFT JOIN cc ON cc.id = d.doc_id),
         |s AS (
         |  SELECT doc_id, rep,
         |    ${sqlSplit("rep")} AS split,
         |    ${sqlSplit("doc_id")} AS naive_split
         |  FROM r)
         |SELECT doc_id, rep, split, naive_split,
         |  CAST(split <> naive_split AS INT) AS moved
         |FROM s ORDER BY doc_id""".stripMargin
    },
    "q50_basket_rules" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem),
        |n AS (SELECT count(DISTINCT ok) AS n_orders FROM li),
        |s AS (SELECT pk, count(*) AS n_part FROM li GROUP BY 1),
        |b AS (
        |  SELECT x.pk AS part_a, y.pk AS part_b, count(*) AS n_both
        |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT part_a, part_b, n_both,
        |  sa.n_part AS n_a, sb.n_part AS n_b,
        |  CAST((CAST(n_both AS HUGEINT) * n.n_orders * 1000000) //
        |    (CAST(sa.n_part AS HUGEINT) * sb.n_part) AS BIGINT) AS lift_ppm,
        |  CAST((n_both * 1000000) // sa.n_part AS BIGINT) AS conf_ab_ppm
        |FROM b JOIN s sa ON sa.pk = part_a JOIN s sb ON sb.pk = part_b
        |CROSS JOIN n
        |ORDER BY lift_ppm DESC, part_a, part_b LIMIT 20""".stripMargin,
    "t42_stitch_pairs" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws,
        |    len(string_split(text, ' ')) AS n
        |  FROM documents),
        |ks(k) AS (VALUES (3), (4), (5), (6), (7), (8)),
        |a AS (
        |  SELECT doc_id AS id_a, k,
        |    ('0x' || substr(md5('st|' ||
        |      array_to_string(ws[n-k+1:n], ' ')), 1, 15))::BIGINT AS th,
        |    ('0x' || substr(md5('st|' ||
        |      array_to_string(ws[n-2:n], ' ')), 1, 15))::BIGINT AS ta
        |  FROM w CROSS JOIN ks WHERE n >= k),
        |b AS (
        |  SELECT doc_id AS id_b, k,
        |    ('0x' || substr(md5('st|' ||
        |      array_to_string(ws[1:k], ' ')), 1, 15))::BIGINT AS hh,
        |    ('0x' || substr(md5('st|' ||
        |      array_to_string(ws[k-2:k], ' ')), 1, 15))::BIGINT AS bkey
        |  FROM w CROSS JOIN ks WHERE n >= k)
        |SELECT id_a, id_b, max(a.k) AS overlap_len
        |FROM a JOIN b ON a.ta = b.bkey AND a.k = b.k AND a.th = b.hh
        |  AND a.id_a <> b.id_b
        |GROUP BY 1, 2 ORDER BY id_a, id_b""".stripMargin,
    "q49_peak_concurrency" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sess AS (
        |  SELECT user_id, ts,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM flagged
        |), bounds AS (
        |  SELECT user_id, min(ts) AS st, max(ts) AS en
        |  FROM sess GROUP BY user_id, session_id
        |), ep AS (
        |  SELECT user_id, st AS ts, epoch_us(st) AS us_ord, 1 AS flag, 1 AS delta
        |  FROM bounds
        |  UNION ALL
        |  SELECT user_id, en AS ts, epoch_us(en) + 1 AS us_ord, 0 AS flag, -1 AS delta
        |  FROM bounds
        |), run AS (
        |  SELECT strftime(ts, '%Y-%m-%d') AS day, epoch_us(ts) AS us,
        |    CAST(sum(delta) OVER (ORDER BY us_ord, flag, user_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS conc
        |  FROM ep
        |), pk AS (
        |  SELECT day, max(conc) AS peak_sessions FROM run GROUP BY day
        |)
        |SELECT pk.day, pk.peak_sessions, min(r.us) AS first_peak_us
        |FROM pk JOIN run r ON r.day = pk.day AND r.conc = pk.peak_sessions
        |GROUP BY pk.day, pk.peak_sessions
        |ORDER BY pk.day""".stripMargin)
}
