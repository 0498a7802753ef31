package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape audit: the properties that make these queries survive a
  * 100× scale-up, asserted against the physical plan so a regression
  * (e.g. a filter that stops pushing down, a broadcast that silently
  * becomes a shuffle join) fails CI rather than the cluster. */
class PlanAuditSpec extends AnyFunSuite with SharedSpark {

  override protected def suiteConf = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC")

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("q02: filters and column pruning reach the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull(l_returnflag), IsNotNull(l_discount), EqualTo(l_returnflag,R), GreaterThan(l_discount,0.05)]")
      || (p.contains("EqualTo(l_returnflag,R)") && p.contains("GreaterThan(l_discount")),
      s"predicates not pushed:\n$p")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double"),
      s"columns not pruned:\n$p")
  }

  test("q03: dimension joins broadcast, no shuffle on nation/region") {
    val p = plan("q03_revenue_nation")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
  }

  test("q04: top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = plan("q04_top_orders")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("q01: aggregation is two-phase (map-side partial)") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("partial_"), s"expected partial aggregation:\n$p")
  }

  test("a01: query side broadcast — corpus is never shuffled for scoring") {
    val p = plan("a01_ann_bruteforce")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"expected broadcast of the query vectors:\n$p")
  }

  test("q22: user key sits in the range-join condition, not a post-join filter") {
    val p = plan("q22_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join degenerated to a nested loop:\n$p")
    // the equi-join keys must include user_id/o_custkey alongside __bin
    val joinLine = p.linesIterator.find(l =>
      (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin")) && l.contains("__bin")).getOrElse("")
    assert(joinLine.contains("user_id") && joinLine.contains("o_custkey"),
      s"user key not in the join keys:\n$p")
  }

  test("p05: documents filter pushes down to parquet") {
    val p = plan("p05_doc_filter")
    // PushedFilters rendering truncates long lists; the range predicate in
    // PushedFilters plus the NOT in the post-scan Filter prove pushdown
    assert(p.contains("GreaterThanOrEqual(n_chars,100)") && p.contains("NOT (lang"),
      s"intake predicates not pushed:\n$p")
  }

  test("q25: grouping sets expand map-side — one scan, one shuffle") {
    val p = plan("q25_grouping_sets")
    assert(p.contains("Expand"), s"expected Expand node for grouping sets:\n$p")
    // expansion happens before the exchange: scan is read once, the
    // 3 grouping sets do not re-read the fact table
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans == 1, s"fact table must be scanned once, saw $scans:\n$p")
  }

  test("q26: EXISTS/NOT EXISTS decorrelate to semi and anti joins") {
    val p = plan("q26_exists")
    assert(p.contains("LeftSemi"), s"EXISTS must become a semi join:\n$p")
    assert(p.contains("LeftAnti"), s"NOT EXISTS must become an anti join:\n$p")
    assert(!p.toLowerCase.contains("subquery"),
      s"no per-row subquery may survive decorrelation:\n$p")
  }

  test("q27: lateral explode stays narrow (no shuffle before the sort)") {
    val p = plan("q27_lateral_words")
    assert(p.contains("Generate"), s"expected Generate (posexplode):\n$p")
    val beforeSort = p.substring(p.indexOf("Generate"))
    assert(!beforeSort.contains("Exchange"),
      s"explode and scalar surface must run inside the scan stage:\n$p")
  }

  test("p14: packing scans and tokenizes the corpus exactly once") {
    val p = plan("p14_sequence_pack")
    // both consumers (window branch, bucket-totals branch) must read
    // the persisted narrow projection; the parquet text scan then runs
    // once, at cache fill (the plan string repeats the cached
    // relation's defining FileScan per occurrence — count cache READS)
    val cacheReads = "InMemoryTableScan".r.findAllIn(p).length
    assert(cacheReads >= 2,
      s"both branches must read the persisted projection ($cacheReads cache reads):\n$p")
    assert(!p.split("InMemoryRelation").head.contains("FileScan parquet"),
      s"no direct text re-scan outside the cached projection:\n$p")
  }

  test("t19: both bigram passes read the cached projection — the corpus " +
      "text is never re-scanned for the LM aggregates") {
    // r13: the projection now caches PRE-COUNTED per-doc bigram
    // tallies (bigram_tfs) instead of word arrays, but the invariant
    // is the same — every consumer reads the persisted narrow
    // projection, never the parquet text again
    val p = plan("t19_bigram_lm")
    val cacheReads = "InMemoryTableScan".r.findAllIn(p).length
    assert(cacheReads >= 4,
      s"all four consumers must read the cached bigram tallies ($cacheReads):\n$p")
    assert(!p.split("InMemoryRelation").head.contains("FileScan parquet"),
      s"no direct text re-scan outside the cached projection:\n$p")
  }

  test("embed pipeline plan has no shuffle before the sink") {
    val df = queries.PipelineQueries.embedPipeline(spark, dir)
    // the orderBy in the query surface adds an exchange; audit the raw
    // pipeline instead
    val raw = pipeline.EmbedPipeline.run(Tables.documents(spark, dir))
    val p = raw.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"chunk+embed must stay narrow:\n$p")
    // oracle surface: per-component rows, no raw arrays
    assert(df.columns.contains("chunk_md5") && df.columns.contains("component"))
  }

  test("t17: classifier scoring is scan-local — no hash exchange, one scan") {
    val p = plan("t17_classifier_score")
    assert(!p.contains("Exchange hashpartitioning"),
      s"classifier scoring must not shuffle on any key:\n$p")
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans == 1, s"one corpus scan expected, saw $scans:\n$p")
  }

  test("d13: image dedup shuffles 8-byte hashes, never pixels") {
    val p = plan("d13_image_dedup")
    // decode + dHash are scan-local; the only hash exchange is the
    // groupBy on dhash, and its input schema carries no binary column
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toList
    assert(exchanges.size == 1, s"expected exactly the dhash exchange:\n$p")
    assert(exchanges.head.contains("dhash"), s"exchange not keyed on dhash:\n$p")
    assert(!p.contains("payload"), s"payload bytes must not survive past decode:\n$p")
  }

  test("a11: BM25 joins all broadcast, candidates prune through the bounded heap") {
    val p = plan("a11_bm25_topk")
    // query vocabulary, df table, and the stats row broadcast — the
    // corpus-words stream never shuffles for a join (its only exchanges
    // are the tf/score partial aggregations)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"BM25 lookup tables must broadcast:\n$p")
    assert(p.contains("TopKPerKey"),
      s"candidates must prune through TopKPerKeyExec before ranking:\n$p")
  }

  test("t21: readability is scan-local — no hash exchange, one scan") {
    val p = plan("t21_readability")
    assert(!p.contains("Exchange hashpartitioning"),
      s"readability must not shuffle on any key:\n$p")
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans == 1, s"one corpus scan expected, saw $scans:\n$p")
  }

  test("t20: the boilerplate rebuild is scan-local — no line shuffle, no join") {
    // r13: the anti-join + collect_list rebuild was replaced by the
    // scan-local keep_lines pass against the broadcast boiler-key
    // array (line strings never leave the scan); the anti-join
    // survives only as the >cap fallback. Pin the scan-local shape.
    val p = plan("t20_boilerplate")
    assert(p.contains("keep_lines"),
      s"expected the scan-local keep_lines rebuild:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"line rows must never sort-merge:\n$p")
    assert(!p.contains("LeftAnti"),
      s"below the boiler-key cap the anti-join fallback must not plan:\n$p")
  }

  test("a09: ADC shortlist flows through the bounded-heap top-k, queries broadcast") {
    val p = queries.CurationQueries.annPq(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p.contains("TopKPerKey"), s"shortlist must prune through TopKPerKeyExec:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query tables must broadcast:\n$p")
  }

  test("p23: shard ranks window per shard — no single-partition exchange") {
    val p = plan("p23_corpus_shuffle")
    assert(!p.contains("Exchange SinglePartition"),
      s"global row_number would bottleneck one partition:\n$p")
    assert(p.contains("Window"), s"expected the per-shard rank window:\n$p")
  }

  test("q35: ffill windows partition by series key, never globally") {
    val p = plan("q35_resample_ffill")
    assert(!p.contains("Exchange SinglePartition"),
      s"a global ffill window would serialize the grid:\n$p")
  }

  test("q33: fuzzy join plans without a cartesian product on real data") {
    val p = plan("q33_fuzzy_join")
    assert(!p.contains("CartesianProduct"),
      s"deletion-key blocking degenerated to n²:\n$p")
  }

  test("q33: string-back joins broadcast the dictionary side (pinned plan)") {
    // round-8 forensics showed the same commit executing broadcast-free
    // on one host and with an 11 MB shuffle join on the other. Root
    // cause: q33 SERVES from the GraphCache artifact, so its fuzzy-join
    // plan only executes inside the artifact BUILD — whichever of
    // q33/q40 runs first in the (shuffled) bench order pays it, and the
    // two hosts ran different orders. The explicit broadcast() hints in
    // FuzzyJoin pin the BUILD plan, asserted here on the operator
    // directly (the registered query's own plan is just an artifact
    // scan).
    import org.apache.spark.sql.functions.col
    val cust = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"), col("c_name"))
    val p = graft.operators.FuzzyJoin
      .levenshtein1SelfJoin(cust, "c_custkey", "c_name")
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"expected broadcast back-joins:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the candidate-side back-join must never shuffle the corpus:\n$p")
  }

  test("q55: train + score in ONE corpus pass — single scan, no join") {
    // the quantized-model R² expands over the sufficient statistics
    // (SSE = 10⁶Σy² − 2000·bᵀXᵀy + bᵀXᵀXb), so the whole train+score
    // is one scan → one partial-agg shuffle of 11 numbers per group
    val p = plan("q55_quality_distill")
    assert(p.sliding("Scan parquet".length).count(_ == "Scan parquet") == 1,
      s"expected exactly one corpus scan:\n$p")
    assert(!p.contains("Join"), s"no join belongs in a one-pass train:\n$p")
  }

  test("q56: model serves by broadcast; grouped top-k prunes via TopKPerKey") {
    val p = plan("q56_quality_anomalies")
    assert(p.contains("BroadcastHashJoin"),
      s"the one-row-per-source model must broadcast onto the scan:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the serving join must not shuffle the corpus:\n$p")
    assert(p.contains("TopKPerKey"),
      s"the grouped top-k must prune through bounded heaps:\n$p")
  }

  test("t28: MAD median tables broadcast back onto the scan") {
    val p = plan("t28_outliers")
    assert(p.contains("BroadcastHashJoin"),
      s"group-median tables must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the medians join must not shuffle the events:\n$p")
  }

  test("d03: the MinHash signature is computed once, never inlined into the band lambda") {
    // ProjectCollapse can splice a computed array column into a
    // per-element lambda body, re-evaluating it once per element (the
    // a25 failure mode); the optimized plan shows it as a second copy.
    // The persisted candidate-pair relation that holds the signature
    // prints its plan under each of its references, so the check counts
    // distinct minhash_words expressions, not printed lines.
    val p = SparkEntry.queries("d03_dedup_minhash")(spark, dir)
      .queryExecution.optimizedPlan.toString
    val sigs = "minhash_words.*".r.findAllIn(p).toSet
    assert(sigs.size == 1,
      s"minhash_words must appear once in the optimized plan:\n${sigs.mkString("\n")}\n$p")
    assert(!p.contains("hash(slice(minhash_words"),
      s"the signature was inlined into the band lambda:\n$p")
  }
}
