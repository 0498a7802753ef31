package graft.queries

import graft.core.Caching.LedgerOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.operators.{Dedup, LinAlg, Similarity, TextAnalysis}

/** Training-data curation surface: dedup family, similarity search, and
  * text analysis over the `documents`/`embeddings` tables. */
object CurationQueries {

  /** d01: exact dedup keep-first. Duplicates are planted by unioning the
    * corpus with itself under shifted ids, so every hash group has
    * exactly 2 copies and keeps the lower id. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame = {
    val d = documentsParallel(spark, dir).select(col("doc_id"), col("text"))
    val planted = d.unionAll(d.withColumn("doc_id", col("doc_id") + 1000000L))
    Dedup.exactKeepFirst(planted, "doc_id", "text")
      .select(col("kept_id"), col("n_copies"))
      .orderBy(col("kept_id"))
  }

  /** d02: n-gram (3-shingle) Jaccard near-dup pairs ≥ 0.5 — the exact
    * inverted-index path. */
  def dedupJaccard(spark: SparkSession, dir: String): DataFrame =
    // shared GraphCache artifact: five sibling queries close or read
    // the SAME pair graph — one inverted-index build per JVM
    GraphCache.docJaccardPairs(spark, dir)
      .orderBy(col("id_a"), col("id_b"))

  /** d21: weighted TF-cosine near-dup pairs ([[Dedup.cosinePairs]]) —
    * the multiset companion to d02's set Jaccard: repetition-weighted
    * overlap on the same inverted index, cos² ≥ 0.64 ppm-thresholded
    * in exact integer arithmetic. The hot-shingle guard is ON (df ≤ 64
    * — the d02-family stop-gram cap, mirrored in the oracle's tf CTE):
    * the tf self-join is O(df²) in the hottest shingle, and at 100 TB
    * one stop-gram ("of the and") would make a single hash's bucket
    * |corpus|². On this corpus max df = 25, so the cap provably drops
    * nothing (the unguarded output is identical); CosinePairsSpec pins
    * the guard's filtered-universe rule. */
  def dedupCosine(spark: SparkSession, dir: String): DataFrame =
    // TF index artifact-served (r11, the docJaccardPairs economics —
    // bench times the build as art_cosine_tf); same operator output
    Dedup.cosinePairsFromTf(GraphCache.cosineTfIndex(spark, dir),
        cos2PpmThreshold = 640000L)
      .orderBy(col("id_a"), col("id_b"))

  /** d23: d21's min-id STAR links ([[Dedup.cosineLinksFromTf]]) — the
    * linear-in-duplicates output contract over the same served TF
    * index and the same cos² threshold (r12 stretch). */
  def dedupCosineLinks(spark: SparkSession, dir: String): DataFrame =
    Dedup.cosineLinksFromTf(GraphCache.cosineTfIndex(spark, dir),
        cos2PpmThreshold = 640000L)
      .orderBy(col("id"))

  /** d20: prefix-filtered all-pairs exact Jaccard ≥ 0.5 — the
    * AllPairs/PPJoin plan ([[Dedup.prefixJaccardPairs]]): identical
    * output to d02 (PrefixJoinSpec pins bit-equality, so d02's oracle
    * SQL is shared verbatim), but candidates come from rarity-ordered
    * shingle PREFIXES instead of the full inverted index — the
    * exact-pair plan that survives corpora where common shingles make
    * the d02 self-join quadratic. Also d19's recall denominator. */
  def dedupPrefixJoin(spark: SparkSession, dir: String): DataFrame =
    Dedup.prefixJaccardPairs(documentsParallel(spark, dir), "doc_id", "text",
        n = 3, threshold = 0.5)
      .orderBy(col("id_a"), col("id_b"))

  /** d03: MinHash+LSH near-dup pairs (64 hashes, 16 bands), candidates
    * verified with exact Jaccard ≥ 0.5. Hash-checked against the d02
    * exact-pair SQL: the xxhash64 minhash itself has no DuckDB twin,
    * but the verified OUTPUT is a recall-complete subset of the exact
    * pairs (CurationSpec proves set equality on this corpus), so the
    * exact SQL is the oracle — LSH recall loss would fail the row. */
  def dedupMinHash(spark: SparkSession, dir: String): DataFrame =
    Dedup.minHashLshPairs(documentsParallel(spark, dir), "doc_id", "text",
        n = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .orderBy(col("id_a"), col("id_b"))

  /** d19: MinHash-LSH band-plan sensitivity sweep — the dedup dial's
    * readout before (bands, rows) ships, the a24 principle applied to
    * the LSH index: per plan (32×2, 16×4, 8×8 over one 64-lane
    * scan-local signature), candidate-pair volume (cost) and recall vs
    * the exact Jaccard ≥ 0.5 pair set (quality). Engine-exact end to
    * end: one 32-bit md5 base hash per shingle + spliced
    * universal-hash lane constants DuckDB replays bit for bit, band
    * keys as md5 over lane-ordered signature slices, and the exact
    * pair set is d02's inverted-index SQL — so even the candidate
    * COUNTS are hash-checked, not just the verified output (d03's
    * oracle can't see its xxhash candidates; this one can, which is
    * what makes it the plan-tuning instrument).
    * See [[graft.operators.Dedup.bandPlanSweep]]. */
  def dedupBandPlan(spark: SparkSession, dir: String): DataFrame =
    Dedup.bandPlanSweep(documentsParallel(spark, dir), "doc_id", "text",
      precomputedExact = Some(GraphCache.docJaccardPairs(spark, dir)))

  /** d22: cross-source vocabulary Jaccard from KMV bottom-k sketches
    * ([[graft.operators.Kmv.crossSourceJaccard]]) — t40's exact
    * overlap matrix read from |sources|·256 longs of sketch state
    * instead of corpus-sized gram postings: the corpus-sized work is
    * ONE map-side-combining bottom-k aggregation; the pair stage
    * touches only sketches. Same gram universe and hash as t40, and
    * fully deterministic, so the ESTIMATE itself is hash-checked. */
  def dedupKmvJaccard(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Kmv.crossSourceJaccard(
      documentsParallel(spark, dir), "source", "text", n = 3, k = 256)

  /** d04: SimHash near-dup pairs, hamming ≤ 3 on planted near-copies —
    * oracle-checked end to end with the md5 word hash (the t17
    * principle: DuckDB recomputes the same 64-bit word hashes, per-bit
    * votes, and hamming distances). The oracle is BRUTE-FORCE all-pairs
    * hamming: with maxBlockDf=None the pigeonhole blocks are pure
    * candidate optimization (every pair within the distance provably
    * shares a block), so the oracle row also verifies the pigeonhole
    * completeness empirically. DedupSpec additionally pins semantics;
    * production callers keep the fast FNV-1a default hash. */
  def dedupSimHash(spark: SparkSession, dir: String): DataFrame = {
    val d = documentsParallel(spark, dir).select(col("doc_id"), col("text"))
    // plant near-copies: append one word — simhash distance stays small
    val perturbed = d.withColumn("doc_id", col("doc_id") + 1000000L)
      .withColumn("text", concat(col("text"), lit(" the")))
    Dedup.simHashPairs(d.unionAll(perturbed), "doc_id", "text", maxDistance = 3,
        wordHash = Dedup.md5Hash64)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** d05: embedding-cosine near-dup on planted duplicate vectors
    * (cosine ≥ 0.95; the natural corpus max is ~0.51, so exactly the
    * planted pairs match — and the oracle plants identically). */
  def dedupEmbedding(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val planted = e.unionAll(
      e.filter(col("vec_id") % 10 === 0)
        .withColumn("vec_id", col("vec_id") + 1000000L))
    Dedup.cosinePairs(planted, "vec_id", "embedding", threshold = 0.95)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** d07: the SCALE path for d05 — sign-LSH banked candidates + exact
    * cosine verify. On this corpus every ≥0.95 pair is an exact planted
    * duplicate (natural max ~0.51), and identical vectors share every
    * bank's bucket, so recall is structurally 1 here and the output
    * equals d05's — giving the LSH path a full DuckDB oracle. */
  def dedupEmbeddingLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val planted = e.unionAll(
      e.filter(col("vec_id") % 10 === 0)
        .withColumn("vec_id", col("vec_id") + 1000000L))
    // the hot-bucket cap is OFF here: this query's contract is exact
    // oracle parity, and under the cap an oversized bucket emits only
    // min-id star links, which at n >> 256·cap could drop a planted
    // pair whose members are both non-representatives. Production
    // corpora keep the default cap and accept that recall trade.
    Dedup.cosinePairsLsh(planted, "vec_id", "embedding", dim = 64,
        threshold = 0.95, nPlanes = 8, bands = 4, maxBucketDf = None)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** d08: dedup cluster formation — connected components over the d02
    * Jaccard pair graph (min-label propagation), with per-cluster size.
    * The oracle walks the same graph with a recursive CTE, so the
    * transitive-closure semantics themselves are hash-checked. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = GraphCache.docJaccardPairs(spark, dir)
    val cc = graft.operators.Clusters.connectedComponents(pairs)
    val sizes = cc.groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
    cc.join(sizes, "cluster_id")
      .select(col("id"), col("cluster_id"), col("cluster_size"))
      .orderBy(col("id"))
  }

  /** d09: the end-to-end dedup DECISION — every document labeled with
    * its near-dup cluster and whether it is the kept canonical copy
    * (cluster minimum; singletons keep themselves). Dropping
    * keep = 0 rows IS the dedup pass. */
  def dedupKeep(spark: SparkSession, dir: String): DataFrame = {
    val d = documentsParallel(spark, dir).select(col("doc_id"), col("text"))
    val pairs = GraphCache.docJaccardPairs(spark, dir)
    graft.operators.Clusters.canonicalize(d, pairs, "doc_id")
      .select(col("doc_id"), col("cluster_id"), col("keep").cast("int").as("keep"))
      .orderBy(col("doc_id"))
  }

  /** d06: winnowing-fingerprint near-dup pairs — catches shared
    * PASSAGES (copied spans), which set-level Jaccard dilutes away.
    * Oracle-checked end to end with the md5 gram hash (the t03
    * machinery): DuckDB replays gram hashing, the window min, the
    * stop-fingerprint df guard, and the shared-count join. CurationSpec
    * additionally pins shared-substring semantics; production callers
    * keep the fast FNV-1a default. */
  def dedupWinnow(spark: SparkSession, dir: String): DataFrame =
    Dedup.winnowPairs(documentsParallel(spark, dir), "doc_id", "text",
        k = 12, w = 4, minShared = 25, maxFpDocFreq = Some(100),
        gramHash = Dedup.md5Hash60)
      .orderBy(col("id_a"), col("id_b"))

  /** a01: exact brute-force cosine top-10 for query vectors vec_id<5 —
    * broadcast queries, scored corpus flows into the custom TopKPerKey
    * operator (bounded heaps, survivors-only shuffle; proven equal to
    * the window form by TopKPerKeySpec). */
  def annBruteForce(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    Similarity.bruteForceTopKExec(e.filter(col("vec_id") < 5), e, "vec_id", "embedding", k = 10)
      .orderBy(col("query_id"), col("rank"))
  }

  /** a38: FILTERED vector search ([[Similarity.filteredBruteForceTopK]])
    * — the metadata-constrained top-k every vector store serves (the
    * reference's sinks upload source-document payloads for exactly
    * this): same queries as a01, candidates restricted to the query's
    * own `label` segment IN the join predicate, so the scored fan-out
    * is per-segment, never per-corpus. */
  def filteredSearch(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding"))
    Similarity.filteredBruteForceTopK(e.filter(col("vec_id") < 5), e,
        "vec_id", "embedding", "label", k = 10)
      .orderBy(col("query_id"), col("rank"))
  }

  /** a02: sign-LSH bucketed ANN, same queries — oracle-checked end to
    * end: buckets are fixed-point integer dot-product signs against
    * xxhash64-derived planes, so splicing the plane literals (computed
    * once driver-side) lets DuckDB replay bucketing, the bucket-join
    * candidate restriction, and the exact re-rank bit-for-bit.
    * SimilaritySpec additionally asserts recall vs a01. */
  def annSignLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    a02Oracle = Some(a02OracleSql(
      Similarity.signLshPlanes(spark, dim = 64, nPlanes = 4)))
    Similarity.signLshTopK(e.filter(col("vec_id") < 5), e, "vec_id", "embedding",
        dim = 64, k = 10, nPlanes = 4)
      .orderBy(col("query_id"), col("rank"))
  }

  /** a02's oracle carries the sign-LSH plane literals — same lifecycle
    * and last-writer-wins contract as [[a14Oracle]] (the planes depend
    * only on (seed, dim, nPlanes), not the dataset, but building the
    * SQL lazily keeps standalone callers job-free). */
  @volatile private var a02Oracle: Option[String] = None

  private def a02OracleSql(planes: Array[Array[Long]]): String = {
    val pm = planes.map(_.mkString("[", ", ", "]")).mkString("[", ",\n    ", "]")
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vd,
       |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1048576, 0) AS BIGINT)) AS vq
       |  FROM embeddings),
       |p AS (SELECT $pm AS pm),
       |b AS (SELECT vec_id, vd,
       |  list_sum(list_transform(generate_series(1, ${planes.length}), j ->
       |    CASE WHEN list_sum(list_transform(generate_series(1, ${planes.head.length}), d ->
       |      vq[d] * pm[j][d])) >= 0
       |    THEN (1::BIGINT << (j - 1)) ELSE 0::BIGINT END)) AS bucket
       |  FROM v, p),
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    round(list_cosine_similarity(q.vd, c.vd), 6) AS score
       |  FROM b q JOIN b c ON q.bucket = c.bucket
       |    AND q.vec_id < 5 AND q.vec_id <> c.vec_id),
       |ranked AS (SELECT *, CAST(row_number() OVER (
       |    PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS INT) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, score, rank FROM ranked
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
  }

  /** a03: IVF-style probe using the label column as the inverted list —
    * hash-checked: the list restriction is a plain equi-join predicate
    * and the within-list re-rank is the a01 cosine machinery, so the
    * oracle replays it with `q.label = c.label` added. */
  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir).select(col("vec_id"), col("embedding"), col("label"))
    Similarity.ivfTopK(e.filter(col("vec_id") < 5), e, "vec_id", "embedding", "label", k = 10)
      .orderBy(col("query_id"), col("rank"))
  }

  /** a32: k-NN graph + mutual-edge readout — every vector's exact
    * top-5 within its label list ([[Similarity.knnGraphEdges]]: plain
    * shuffle equi-join on the list key, bounded-heap prune, NO
    * corpus-sized broadcast), then the mutuality profile: for each
    * vector, its rank-1 neighbor and how many of its k edges are
    * reciprocated (mutual-kNN edges are the backbone semantic
    * clustering and NN-descent both build on — low mutuality flags
    * hub vectors). Edge list persists for its two consumers
    * (cache lifetime: LRU / caller clearCache, like every index
    * intermediate here). */
  def knnGraph(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir)
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding"), col("label"))
    val edges = Similarity.knnGraphEdges(e, "vec_id", "embedding", "label", k = 5)
      .persistLedgered()
    val mutual = edges.as("x").join(edges.as("y"),
        col("x.query_id") === col("y.neighbor_id") &&
          col("x.neighbor_id") === col("y.query_id"))
      .groupBy(col("x.query_id").as("m_id"))
      .agg(count(lit(1)).as("n_mutual"))
    edges.filter(col("rank") === 1)
      .join(mutual, col("query_id") === col("m_id"), "left")
      .select(col("query_id").as("vec_id"), col("neighbor_id").as("nn1_id"),
        col("score").as("nn1_score"),
        coalesce(col("n_mutual"), lit(0L)).as("n_mutual"))
      .orderBy(col("vec_id"))
  }

  /** a08: IVF with a k-means-trained coarse quantizer — train lists,
    * assign corpus and queries, probe. Oracle-checked end to end via
    * the ENGINE-EXACT assignment variants: the trained centroids are
    * quantized and spliced into the oracle (the d12 pattern), DuckDB
    * replays the fixed-point corpus argmin, the queries' 4-probe list
    * selection, and the within-list exact re-rank bit-for-bit.
    * KMeansSpec additionally pins trainer determinism, blob separation,
    * and full-probe == brute force. */
  def annIvfKmeans(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    // coarse-list count scales with the corpus (~16 vectors/list, capped
    // at 256): k=256 is viable only because assignment scores the whole
    // broadcast centroid matrix in one pass (the per-centroid-column
    // form topped out around k~100 on codegen limits); at sf0.1+ this
    // runs the full k=256.
    // r11 (verdict #3): the quantizer is TRAINED ONCE per corpus
    // version and served from the cross-JVM store (ModelCache, the
    // PQ/IVF-PQ template — bench times the build as art_kmeans_coarse);
    // this query pays assignment + probe only. The spliced-centroid
    // oracle consumes the same loaded array, so artifact-served runs
    // self-verify exactly like freshly-trained ones (the d12 pattern).
    val centroidsQ = ModelCache.kmeansCoarse(spark, dir)
    a08Oracle = Some(a08OracleSql(centroidsQ))
    val corpus = graft.operators.KMeans.assignExact(
      e.repartition(spark.sparkContext.defaultParallelism), "vec_id", "embedding", centroidsQ)
    // queries probe their 4 nearest lists (multi-probe recall;
    // KMeansSpec proves full-probe == brute force)
    val probes = graft.operators.KMeans.assignTopPExact(
      e.filter(col("vec_id") < 5), "vec_id", "embedding", centroidsQ, p = 4)
    Similarity.ivfTopK(probes, corpus,
        "vec_id", "embedding", "cluster", k = 10)
      .orderBy(col("query_id"), col("rank"))
  }

  /** a08's oracle carries the trained-then-quantized coarse-centroid
    * literals — same lifecycle and last-writer-wins contract as
    * [[a14Oracle]]. */
  @volatile private var a08Oracle: Option[String] = None

  private def a08OracleSql(centroidsQ: Array[Array[Long]]): String = {
    val cents = centroidsQ.zipWithIndex.map { case (c, i) =>
      s"($i, ${c.mkString("[", ", ", "]")})" }.mkString(",\n    ")
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vd,
       |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1048576, 0) AS BIGINT)) AS vq
       |  FROM embeddings),
       |cents(ci, cq) AS (VALUES
       |    $cents),
       |dist AS (
       |  SELECT v.vec_id, c.ci,
       |    list_sum(list_transform(generate_series(1, len(v.vq)), d ->
       |      (v.vq[d] - c.cq[d]) * (v.vq[d] - c.cq[d]))) AS dist
       |  FROM v CROSS JOIN cents c),
       |rankd AS (SELECT vec_id, ci,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, ci) AS rn
       |  FROM dist),
       |corpus AS (SELECT vec_id, ci AS cluster FROM rankd WHERE rn = 1),
       |probes AS (SELECT vec_id, ci AS cluster FROM rankd
       |  WHERE vec_id < 5 AND rn <= 4),
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    round(list_cosine_similarity(qv.vd, cv.vd), 6) AS score
       |  FROM probes q JOIN corpus c ON q.cluster = c.cluster
       |    AND q.vec_id <> c.vec_id
       |  JOIN v qv ON qv.vec_id = q.vec_id
       |  JOIN v cv ON cv.vec_id = c.vec_id),
       |ranked AS (SELECT *, CAST(row_number() OVER (
       |    PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS INT) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, score, rank FROM ranked
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
  }

  /** a09: product-quantized ANN, full FAISS shape — PQ codebooks
    * trained (one Lloyd's job per iteration for all 8 subspaces),
    * corpus encoded to 8 codes per vector (32× compression at 64 float
    * dims), ADC shortlist over the compressed corpus, exact cosine
    * re-rank of the shortlist only. Oracle-checked end to end via the
    * ENGINE-EXACT encode/ADC variants: the trained codebooks are
    * quantized and spliced into the oracle, where the query's ADC
    * table is the SAME `(vector, subspace, code) → integer distance`
    * relation that encodes the corpus — DuckDB replays encoding, the
    * 100-candidate shortlist, and the refine bit-for-bit. PqSpec
    * additionally pins determinism, planted-duplicate rank 1, and
    * refined recall vs exact brute force. */
  def annPq(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val model = ModelCache.pqModel(spark, dir)
    val (df, booksQ) = graft.operators.ProductQuantizer.adcTopKRefinedExact(
      e.filter(col("vec_id") < 5), e, model, "vec_id", "embedding",
      shortlist = 100, topK = 10)
    a09Oracle = Some(a09OracleSql(booksQ, model.subDim))
    df.orderBy(col("query_id"), col("rank"))
  }

  /** a25: scalar-quantized (SQ8) ANN — the FAISS SQ family member:
    * per-dim linear [0,255] codes from corpus min/max (NO codebook
    * training), integer asymmetric distances over the 4×-compressed
    * corpus, exact cosine refine of the 100-candidate shortlist
    * ([[graft.operators.Sq8]]). Oracle-checked end to end: the fitted
    * per-dim integer bounds are spliced as literals and DuckDB replays
    * quantize → encode → decode → BIGINT distance → shortlist → refine
    * bit for bit. Sq8Spec adds recall-vs-brute-force and
    * planted-duplicate pins. */
  def annSq8(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    // fp-keyed artifact model (r12 verdict #2) — fitted once per corpus
    // version, served from the store; bench prebuilds it as
    // art_sq8_model so this row times the search, not the fit
    val model = ModelCache.sq8Model(spark, dir)
    val df = graft.operators.Sq8.searchRefinedExact(
      e.filter(col("vec_id") < 5), e, model, "vec_id", "embedding",
      shortlist = 100, topK = 10)
    a25Oracle = Some(a25OracleSql(model))
    df.orderBy(col("query_id"), col("rank"))
  }

  /** a25's oracle carries the fitted per-dim quantization bounds —
    * same lifecycle and last-writer-wins contract as [[a14Oracle]]. */
  @volatile private var a25Oracle: Option[String] = None

  private[queries] def a25OracleSql(model: graft.operators.Sq8.Model): String = {
    val mn = model.minQ.mkString("[", ", ", "]")
    val mx = model.maxQ.mkString("[", ", ", "]")
    val d = model.minQ.length
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vd,
       |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * ${model.scale}, 0) AS BIGINT)) AS vq
       |  FROM embeddings),
       |cfg AS (SELECT $mn::BIGINT[] AS mn, $mx::BIGINT[] AS mx),
       |r AS (SELECT vec_id, list_transform(generate_series(1, $d), d ->
       |    255 * mn[d] + least(255, greatest(0,
       |      (greatest(0, vq[d] - mn[d]) * 255) // greatest(1, mx[d] - mn[d])))
       |      * (mx[d] - mn[d])) AS r255
       |  FROM v CROSS JOIN cfg),
       |q AS (SELECT vec_id AS query_id,
       |    list_transform(vq, x -> 255 * x) AS q255
       |  FROM v WHERE vec_id < 5),
       |dist AS (SELECT q.query_id, c.vec_id AS neighbor_id,
       |    list_sum(list_transform(generate_series(1, $d), d ->
       |      (q.q255[d] - c.r255[d]) * (q.q255[d] - c.r255[d]))) AS dist
       |  FROM q JOIN r c ON c.vec_id <> q.query_id),
       |short AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id, row_number() OVER (
       |    PARTITION BY query_id ORDER BY dist, neighbor_id) AS rn FROM dist)
       |  WHERE rn <= 100),
       |scored AS (SELECT s.query_id, s.neighbor_id,
       |    round(list_cosine_similarity(qv.vd, cv.vd), 6) AS score
       |  FROM short s JOIN v qv ON qv.vec_id = s.query_id
       |  JOIN v cv ON cv.vec_id = s.neighbor_id),
       |ranked AS (SELECT *, CAST(row_number() OVER (
       |    PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS INT) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, score, rank FROM ranked
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
  }

  /** a09's oracle carries the trained-then-quantized PQ codebook
    * literals — same lifecycle and last-writer-wins contract as
    * [[a14Oracle]]. */
  @volatile private var a09Oracle: Option[String] = None

  private[queries] def a09OracleSql(booksQ: Array[Array[Array[Long]]],
                           subDim: Int): String = {
    val books = booksQ.zipWithIndex.flatMap { case (book, s) =>
      book.zipWithIndex.map { case (cb, c) =>
        s"($s, $c, ${cb.mkString("[", ", ", "]")})" } }.mkString(",\n    ")
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vd,
       |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1048576, 0) AS BIGINT)) AS vq
       |  FROM embeddings),
       |books(s, c, cq) AS (VALUES
       |    $books),
       |enc AS (
       |  SELECT v.vec_id, b.s, b.c,
       |    list_sum(list_transform(generate_series(1, $subDim), d ->
       |      (v.vq[b.s * $subDim + d] - b.cq[d]) * (v.vq[b.s * $subDim + d] - b.cq[d]))) AS dist
       |  FROM v CROSS JOIN books b),
       |codes AS (SELECT vec_id, s, c AS code FROM (
       |  SELECT vec_id, s, c,
       |    row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, c) AS rn
       |  FROM enc) r WHERE rn = 1),
       |adc AS (
       |  SELECT q.vec_id AS query_id, cd.vec_id AS neighbor_id,
       |    sum(e.dist) AS adc_dist
       |  FROM (SELECT vec_id FROM v WHERE vec_id < 5) q
       |  JOIN codes cd ON cd.vec_id <> q.vec_id
       |  JOIN enc e ON e.vec_id = q.vec_id AND e.s = cd.s AND e.c = cd.code
       |  GROUP BY 1, 2),
       |short AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rn
       |  FROM adc) r WHERE rn <= 100),
       |refined AS (
       |  SELECT sh.query_id, sh.neighbor_id,
       |    round(list_cosine_similarity(qv.vd, cv.vd), 6) AS score
       |  FROM short sh
       |  JOIN v qv ON qv.vec_id = sh.query_id
       |  JOIN v cv ON cv.vec_id = sh.neighbor_id),
       |ranked AS (SELECT *, CAST(row_number() OVER (
       |    PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS INT) AS rank
       |  FROM refined)
       |SELECT query_id, neighbor_id, score, rank FROM ranked
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
  }

  /** a15: the complete FAISS IVF-PQ search — coarse k-means lists,
    * residual product quantization, 4-probe ADC shortlist, exact cosine
    * refine. Oracle-checked end to end via the ENGINE-EXACT variant:
    * both trained models (coarse centroids + residual codebooks) are
    * quantized and spliced into the oracle, and DuckDB replays list
    * routing, integer residuals, residual encoding, the per-(query,
    * probed-list) ADC tables, the 100-candidate shortlist, and the
    * refine bit-for-bit. IvfPqSpec additionally pins full-probe
    * equivalence with brute force and recall.
    * See [[graft.operators.ProductQuantizer.searchIvfPqExact]]. The
    * model comes from [[ModelCache.ivfPqModel]] — a21 evaluates the
    * same parameters, so the Lloyd's runs train once per JVM. */
  def annIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val (model, resid) = ModelCache.ivfPqIndex(spark, dir)
    val df = graft.operators.ProductQuantizer.searchIvfPqExact(
      e.filter(col("vec_id") < 5), e, "vec_id", "embedding", model,
      nprobe = 4, shortlist = 100, topK = 10,
      precomputedResid = Some(resid))
    a15Oracle = Some(a15OracleSql(model.centsQ, model.booksQ, subDim = 8))
    df.orderBy(col("query_id"), col("rank"))
  }

  /** a15's oracle carries both trained-then-quantized model literals —
    * same lifecycle and last-writer-wins contract as [[a14Oracle]]. */
  @volatile private var a15Oracle: Option[String] = None

  private[queries] def a15OracleSql(centsQ: Array[Array[Long]],
                           booksQ: Array[Array[Array[Long]]],
                           subDim: Int,
                           queryPred: String = "vec_id < 5",
                           neighborPred: String = "TRUE"): String = {
    val cents = centsQ.zipWithIndex.map { case (c, i) =>
      s"($i, ${c.mkString("[", ", ", "]")})" }.mkString(",\n    ")
    val books = booksQ.zipWithIndex.flatMap { case (book, s) =>
      book.zipWithIndex.map { case (cb, c) =>
        s"($s, $c, ${cb.mkString("[", ", ", "]")})" } }.mkString(",\n    ")
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vd,
       |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1048576, 0) AS BIGINT)) AS vq
       |  FROM embeddings),
       |cents(ci, cq) AS (VALUES
       |    $cents),
       |books(s, c, bq) AS (VALUES
       |    $books),
       |cdist AS (
       |  SELECT v.vec_id, c.ci,
       |    list_sum(list_transform(generate_series(1, len(v.vq)), d ->
       |      (v.vq[d] - c.cq[d]) * (v.vq[d] - c.cq[d]))) AS dist
       |  FROM v CROSS JOIN cents c),
       |crank AS (SELECT vec_id, ci,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, ci) AS rn
       |  FROM cdist),
       |asg AS (SELECT vec_id, ci AS cluster FROM crank WHERE rn = 1),
       |resid AS (
       |  SELECT v.vec_id, a.cluster,
       |    list_transform(generate_series(1, len(v.vq)), d -> v.vq[d] - c.cq[d]) AS rq
       |  FROM v JOIN asg a ON a.vec_id = v.vec_id
       |  JOIN cents c ON c.ci = a.cluster),
       |enc AS (
       |  SELECT r.vec_id, b.s, b.c,
       |    list_sum(list_transform(generate_series(1, $subDim), d ->
       |      (r.rq[b.s * $subDim + d] - b.bq[d]) * (r.rq[b.s * $subDim + d] - b.bq[d]))) AS dist
       |  FROM resid r CROSS JOIN books b),
       |codes AS (SELECT vec_id, s, c AS code FROM (
       |  SELECT vec_id, s, c,
       |    row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, c) AS rn
       |  FROM enc) r WHERE rn = 1),
       |probes AS (SELECT vec_id, ci AS cluster FROM crank
       |  WHERE ($queryPred) AND rn <= 4),
       |qresid AS (
       |  SELECT p.vec_id, p.cluster,
       |    list_transform(generate_series(1, len(v.vq)), d -> v.vq[d] - c.cq[d]) AS rq
       |  FROM probes p JOIN v ON v.vec_id = p.vec_id
       |  JOIN cents c ON c.ci = p.cluster),
       |qenc AS (
       |  SELECT r.vec_id, r.cluster, b.s, b.c,
       |    list_sum(list_transform(generate_series(1, $subDim), d ->
       |      (r.rq[b.s * $subDim + d] - b.bq[d]) * (r.rq[b.s * $subDim + d] - b.bq[d]))) AS dist
       |  FROM qresid r CROSS JOIN books b),
       |adc AS (
       |  SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id,
       |    sum(qe.dist) AS adc_dist
       |  FROM probes p
       |  JOIN asg a ON a.cluster = p.cluster AND a.vec_id <> p.vec_id
       |    AND ($neighborPred)
       |  JOIN codes cd ON cd.vec_id = a.vec_id
       |  JOIN qenc qe ON qe.vec_id = p.vec_id AND qe.cluster = p.cluster
       |    AND qe.s = cd.s AND qe.c = cd.code
       |  GROUP BY 1, 2),
       |short AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rn
       |  FROM adc) r WHERE rn <= 100),
       |refined AS (
       |  SELECT sh.query_id, sh.neighbor_id,
       |    round(list_cosine_similarity(qv.vd, cv.vd), 6) AS score
       |  FROM short sh
       |  JOIN v qv ON qv.vec_id = sh.query_id
       |  JOIN v cv ON cv.vec_id = sh.neighbor_id),
       |ranked AS (SELECT *, CAST(row_number() OVER (
       |    PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS INT) AS rank
       |  FROM refined)
       |SELECT query_id, neighbor_id, score, rank FROM ranked
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
  }

  /** t18: DSIR importance weights — hashed bigram LMs for the target
    * (declared-English documents) vs the raw corpus; per-doc log
    * importance weight in one scan-local pass over the broadcast
    * log-ratio table. Oracle-checked via the ENGINE-EXACT variant:
    * md5-bucketed bigram features DuckDB recomputes, plus the
    * quantized log-ratio table spliced as literals (the ln calls
    * happen once on the driver, never in a scan, so no libm
    * divergence). DsirSpec additionally pins that target-like
    * documents outscore the rest. */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val docs = documentsParallel(spark, dir)
    val (df, tableQ) = TextAnalysis.dsirWeightsExact(docs,
      docs.filter(col("lang") === "en"), "doc_id", "text",
      n = 2, buckets = 8192)
    t18Oracle = Some(t18OracleSql(tableQ))
    df.orderBy(col("doc_id"))
  }

  /** t18's oracle carries the corpus-fitted quantized log-ratio table —
    * same lifecycle and last-writer-wins contract as [[a14Oracle]]. */
  @volatile private var t18Oracle: Option[String] = None

  private def t18OracleSql(tableQ: Array[Long]): String = {
    val tq = tableQ.mkString("[", ", ", "]")
    s"""WITH lits AS (SELECT $tq AS tq),
       |w AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS ws
       |  FROM documents),
       |f AS (SELECT doc_id,
       |    list_transform(generate_series(1, len(ws) - 1), i ->
       |      ('0x' || substr(md5(ws[i] || ' ' || ws[i + 1]), 1, 8))::BIGINT % 8192) AS fs
       |  FROM w)
       |SELECT doc_id, CAST(len(fs) AS BIGINT) AS n_features,
       |  round(CAST(coalesce(list_sum(list_transform(fs, b -> tq[b + 1])), 0) AS DOUBLE)
       |    / 1073741824.0, 6) AS log_weight
       |FROM f, lits
       |ORDER BY doc_id""".stripMargin
  }

  /** t01: per-document text-analysis profile (token counts, quality,
    * lang id, bag-of-words fingerprint) — all pure Catalyst. */
  def textProfile(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.profile(documentsParallel(spark, dir))
      .orderBy(col("doc_id"))

  /** t02: corpus quality aggregation by declared language. */
  def qualityByLang(spark: SparkSession, dir: String): DataFrame =
    documentsParallel(spark, dir)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg(TextAnalysis.qualityScore(col("text"))), 6).as("avg_quality"),
        sum(TextAnalysis.wsTokenCount(col("text")).cast("long")).as("total_tokens"))
      .orderBy(col("lang"))

  /** t03: winnowing fingerprints — oracle-checked end to end with the
    * md5 gram hash: DuckDB recomputes every k-gram hash, replays the
    * per-window min with a window frame, and pins the fingerprint SET
    * via (count, order-free XOR fold). The driver's row-sorter cannot
    * hash array cells, hence the projection; XOR pins the contents
    * without depending on the (insertion-ordered) array layout. */
  def winnow(spark: SparkSession, dir: String): DataFrame =
    documentsParallel(spark, dir)
      .select(col("doc_id"),
        TextAnalysis.winnowFingerprints(gramHash = Dedup.md5Hash60)(col("text"))
          .as("fps"))
      .select(col("doc_id"), size(col("fps")).cast("long").as("n_fp"),
        expr("aggregate(fps, 0L, (a, x) -> a ^ x)").as("fp_xor"))
      .orderBy(col("doc_id"))

  /** a04: per-label vector statistics — array-function coverage (fold
    * dot product, norms) with order-free aggregates (min/max) and an
    * exact decimal-summed norm total for cross-engine determinism. */
  def vectorStats(spark: SparkSession, dir: String): DataFrame =
    embeddings(spark, dir)
      .withColumn("norm", sqrt(expr(
        "aggregate(transform(embedding, x -> cast(x as double)), 0d, (a, v) -> a + v * v)")))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vectors"),
        round(min(col("norm")), 6).as("min_norm"),
        round(max(col("norm")), 6).as("max_norm"),
        round(sum(col("norm").cast(org.apache.spark.sql.types.DecimalType(18, 12))), 6)
          .cast("double").as("sum_norm"),
        countDistinct(size(col("embedding"))).as("n_dims"))
      .orderBy(col("label"))

  /** a05: int8 embedding quantization — symmetric scale 127/max|x|,
    * quantize, dequantize, report max reconstruction error. Pure
    * Catalyst array math, oracle-checked. */
  def quantize(spark: SparkSession, dir: String): DataFrame =
    embeddings(spark, dir)
      .withColumn("v", expr("transform(embedding, x -> cast(x as double))"))
      .withColumn("max_abs", expr("aggregate(v, 0d, (a, x) -> greatest(a, abs(x)))"))
      .withColumn("q", expr("transform(v, x -> cast(round(x * 127.0 / max_abs, 0) as bigint))"))
      .withColumn("max_err", expr(
        "round(aggregate(zip_with(v, q, (x, qq) -> abs(x - qq * max_abs / 127.0)), 0d, (a, e) -> greatest(a, e)), 9)"))
      .select(col("vec_id"), round(col("max_abs"), 6).as("max_abs"),
        col("q").getItem(0).as("q0"), col("q").getItem(1).as("q1"),
        col("max_err"))
      .orderBy(col("vec_id"))

  /** a06: HLL approximate distinct counts — the engine-exact md5
    * HyperLogLog ([[graft.operators.HyperLogLog]]): integer registers,
    * one spliced floor division, literal linear-counting table. DuckDB
    * replays the whole sketch, so the row is a full rows+schema+hash
    * oracle; CurationSpec separately bounds the estimate's error
    * against exact counts (worst 2.5% at p=11 across sf0.001–0.1). */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame = {
    val li = lineitem(spark, dir)
    val parts = graft.operators.HyperLogLog.approxCountDistinct(
      li, "l_returnflag", "l_partkey", "p", "approx_parts")
    val supps = graft.operators.HyperLogLog.approxCountDistinct(
      li, "l_returnflag", "l_suppkey", "s", "approx_supps")
    parts.join(supps, Seq("l_returnflag"))
      .orderBy(col("l_returnflag"))
  }

  /** a16: KMV bottom-k distinct sketch ([[graft.operators.Kmv]]) — the
    * same questions as a06 answered by the complementary estimator:
    * k smallest distinct md5 hashes per group, integer-floor-division
    * estimate, exact below k. A pure monoid aggregate (map-side
    * partials ship ≤ k longs per group), and the DuckDB oracle replays
    * the ENTIRE sketch — hashes, ranking, h_k, division — bit for bit.
    * KmvSpec additionally bounds the estimate error vs exact counts
    * and proves the aggregator equal to a Spark SQL window replay. */
  def kmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    val li = lineitem(spark, dir)
    val parts = graft.operators.Kmv.approxCountDistinct(
      li, "l_returnflag", "l_partkey", "kp", "kmv_parts")
    val supps = graft.operators.Kmv.approxCountDistinct(
      li, "l_returnflag", "l_suppkey", "ks", "kmv_supps")
    parts.join(supps, Seq("l_returnflag"))
      .orderBy(col("l_returnflag"))
  }

  /** t26: deterministic per-stratum bottom-k sample — exactly k docs
    * per source, chosen by md5-hash order (a uniform draw both engines
    * replay), WITHOUT sorting any stratum: [[graft.plans.TopKPerKey]]
    * prunes to the k hash-minimal docs per source with bounded heaps
    * (survivors-only shuffle), and only the ≤ k·|sources| survivors
    * meet the rank window. The exact-count complement to t04's
    * rate-gated sampling: t04 keeps a FRACTION (binomial count), this
    * keeps an exact COUNT per stratum — the contract audits and
    * eval-set draws need. */
  def sampleBottomK(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = 20
    val docs = documentsParallel(spark, dir)
      .select(col("source"), col("doc_id"))
      .withColumn("h", expr(graft.operators.HyperLogLog.hashExpr("doc_id", "smp")))
      .withColumn("negh", -col("h"))
    graft.plans.TopKPerKey.prune(docs, "source", "negh", "doc_id", k)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))))
      .select(col("source"), col("doc_id"), col("rk"))
      .orderBy(col("source"), col("rk"))
  }

  /** a07: per-label centroids (the IVF/k-means training step) — exact
    * decimal means per dimension, first 3 dims projected for the oracle. */
  def centroids(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Centroids.byGroupBy(embeddings(spark, dir), "label", "embedding")
      .select(col("grp").as("label"),
        col("centroid").getItem(0).as("c0"),
        col("centroid").getItem(1).as("c1"),
        col("centroid").getItem(2).as("c2"),
        size(col("centroid")).as("dim"))
      .orderBy(col("label"))

  /** a34: simplified silhouette ([[graft.operators.Centroids
    * .simplifiedSilhouette]]) — per vector, how much closer it sits to
    * its own label's centroid than to the nearest other centroid, in
    * signed ppm: the cluster-quality instrument that says whether the
    * label structure the ANN indexes exploit actually exists. */
  def silhouette(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Centroids.simplifiedSilhouette(
      embeddings(spark, dir), "vec_id", "label", "embedding")

  /** a35: retrieval bake-off — recall@10 of each retrieval METHOD
    * (BM25 lexical; hybrid RRF) against the dense exact-cosine top-10
    * as ground truth, per query: the instrument that says which
    * retriever to ship for THIS corpus before anyone trains a
    * reranker. All three legs are the proven a10/a11 plans with self
    * excluded (identity lookup isn't retrieval quality). */
  def retrievalBakeoff(spark: SparkSession, dir: String): DataFrame = {
    val (c, q) = retrievalCorpusQueries(spark, dir)
    // dense exact truth: the a10 vector-leg shape, k = 10, self excluded
    val qv = q.select(col("qid").as("query_id"),
      expr("transform(qvec, x -> cast(x as double))").as("qv"))
    val scoredVec = c
      .select(col("doc_id"),
        expr("transform(embedding, x -> cast(x as double))").as("cv"))
      .join(broadcast(qv), col("query_id") =!= col("doc_id"))
      .select(col("query_id"), col("doc_id"),
        round(Similarity.cosine(col("qv"), col("cv")), 6).as("cos_score"))
    val wVec = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos_score").desc, col("doc_id"))
    // one persisted cosine scan serves the truth set AND the hybrid
    // vector leg (the review finding: the |corpus|×|queries| fan-out
    // is the query's dominant stage — don't run it twice)
    val sv = scoredVec
      .persistLedgered()
    val truth = graft.plans.TopKPerKey
      .prune(sv, "query_id", "cos_score", "doc_id", 10)
      .withColumn("rv", row_number().over(wVec)).filter(col("rv") <= 10)
      .select(col("query_id"), col("doc_id"), lit(1L).as("hit"))
    val bm = Similarity.bm25TopK(
        q.select(col("qid"), col("qtext")), c.select(col("doc_id"), col("text")),
        "doc_id", "text", "qid", "qtext", k = 10, excludeSelf = true)
      .select(col("query_id"), col("doc_id"), lit("bm25").as("method"))
    val hy = Similarity.hybridTopK(q, c, "doc_id", "text", "embedding",
        "qid", "qtext", "qvec", k = 10, depth = 20,
        precomputedScoredVec = Some(sv))
      .select(col("query_id"), col("doc_id"), lit("hybrid").as("method"))
    bm.unionByName(hy)
      .join(truth, Seq("query_id", "doc_id"), "left_outer")
      .groupBy(col("query_id"), col("method"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .withColumn("recall_ppm", expr("(n_hits * 1000000) div 10"))
      .orderBy(col("query_id"), col("method"))
  }

  /** t04: reproducible stratified sampling — hash-gated (md5 prefix), so
    * the same rows are sampled on every engine and every run (rand()
    * would be neither): ~25% of 'en' docs, ~6% of everything else. */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame =
    documentsParallel(spark, dir)
      .withColumn("gate", substring(md5(col("text")), 1, 2))
      .filter(
        (col("lang") === "en" && col("gate") < "40") ||
          (col("lang") =!= "en" && col("gate") < "10"))
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  /** t05: token-length histogram of the corpus (10-token buckets). */
  def tokenHistogram(spark: SparkSession, dir: String): DataFrame =
    documentsParallel(spark, dir)
      .withColumn("bucket", (TextAnalysis.wsTokenCount(col("text")) / 10).cast("long") * 10)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextAnalysis.wsTokenCount(col("text")).cast("long")).as("total_tokens"))
      .orderBy(col("bucket"))

  /** t06: PII scrubbing over synthetic planted PII (emails/IPs/ids
    * appended deterministically so the masks have work to do). */
  def piiScrub(spark: SparkSession, dir: String): DataFrame =
    documentsParallel(spark, dir)
      .withColumn("dirty", concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com or 10.0.0."),
        (col("doc_id") % 255), lit(" id "), (col("doc_id") + 10000000L)))
      .select(col("doc_id"), TextAnalysis.scrubPii(col("dirty")).as("clean"))
      .filter(col("clean").contains("<EMAIL>") && col("clean").contains("<IP>") &&
        col("clean").contains("<NUM>"))
      .orderBy(col("doc_id"))

  /** t07: corpus-frequency line dedup (C4-style boilerplate removal):
    * "lines" (words here) occurring in more than 60% of documents are
    * dropped from every document; output the per-doc kept-word count. */
  def lineDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = documentsParallel(spark, dir)
    // corpus size as a broadcast scalar (the q13 pattern) — one Spark job,
    // no driver-side count() materialization
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val frequent = docs
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("w"))
      .groupBy(col("w")).agg(countDistinct(col("doc_id")).as("df"))
      .crossJoin(broadcast(nDocs))
      // df and n_docs are integral, so `>` against the floored long
      // threshold matches the oracle's integer `// 10`
      .filter(col("df") > floor(col("n_docs") * 6 / 10))
      .select(col("w"))
    // distributed filter: explode words, anti-join the (tiny, broadcast)
    // frequent set, re-count — no driver-side collection of the corpus
    val words = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    val keptCounts = words
      .join(broadcast(frequent), words("word") === frequent("w"), "left_anti")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("kept_words"))
    docs.select(col("doc_id"),
        TextAnalysis.wsTokenCount(col("text")).cast("long").as("total_words"))
      .join(keptCounts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("kept_words"), lit(0L)).as("kept_words"),
        col("total_words"))
      .orderBy(col("doc_id"))
  }

  /** t08: repetition ratio (Gopher rules) per document. */
  def repetition(spark: SparkSession, dir: String): DataFrame =
    documentsParallel(spark, dir)
      .select(col("doc_id"), TextAnalysis.repetitionRatio(col("text")).as("rep_ratio"))
      .orderBy(col("doc_id"))

  /** t09: compression-ratio quality signal. Repetitive docs compress
    * far below prose. Hash-checked against a PINNED literal table of
    * per-document deflate sizes, generated by an independent zlib
    * implementation (CPython's) at the same level — the two zlib
    * front-ends agree byte-for-byte on all 500 docs, so the literals
    * cross-check the JVM Deflater rather than replaying it; the ratio
    * arithmetic is mirrored token-for-token in SQL. */
  def compressionRatio(spark: SparkSession, dir: String): DataFrame =
    documentsParallel(spark, dir)
      .select(col("doc_id"),
        TextAnalysis.compressionRatio(col("text")).as("deflate_ratio"),
        TextAnalysis.repetitionRatio(col("text")).as("rep_ratio"))
      .orderBy(col("doc_id"))

  /** t10: benchmark decontamination — every (corpus doc, eval item)
    * pair sharing a distinct word 8-gram, with the shared count. The
    * "eval set" is carved from the corpus deterministically (first 60
    * words of every 25th doc), so each eval item is guaranteed to hit
    * its source doc — plus that doc's near-dups, which is precisely the
    * leak decontamination exists to find. */
  def contamination(spark: SparkSession, dir: String): DataFrame = {
    val d = documentsParallel(spark, dir).select(col("doc_id"), col("text"))
    val bench = d.filter(col("doc_id") % 25 === 0)
      .select(col("doc_id").as("bench_id"),
        array_join(slice(split(col("text"), " "), 1, 60), " ").as("bench_text"))
    Dedup.contaminationPairs(d, bench, "doc_id", "text", "bench_id", "bench_text",
        n = 8)
      .orderBy(col("doc_id"), col("bench_id"))
  }

  /** p16: the END-TO-END training-data prep pass, hash-checked as ONE
    * query: quality gate → exact dedup keep-first (duplicates planted
    * by a shifted self-union so the stage provably drops rows) → Bloom
    * decontamination (scan-side probe; ~1e-10 fp keeps exact-join
    * parity) → sequence packing at seqLen 512. Every stage is verified
    * on its own elsewhere (t01, d01, t13, p14); this row proves the
    * COMPOSITION — stage order, survivor sets, and the packed offsets —
    * against an independent engine. */
  def curatePack(spark: SparkSession, dir: String): DataFrame = {
    val d = documentsParallel(spark, dir).select(col("doc_id"), col("text"))
    val planted = d.unionAll(d.withColumn("doc_id", col("doc_id") + 1000000L))
    val quality = planted.filter(TextAnalysis.qualityScore(col("text")) >= 0.3)
    val kept = Dedup.keepFirst(quality, "doc_id", "text")
    val bench = d.filter(col("doc_id") % 25 === 0)
      .select(array_join(slice(split(col("text"), " "), 1, 60), " ").as("bench_text"))
    val bits = graft.operators.Bloom.ngramFilter(bench, "bench_text", n = 8)
    val clean = kept.filter(graft.operators.Bloom.ngramHitCount("text", 8, bits) === 0)
    graft.operators.Packing.sequencePack(clean, "doc_id", "text", seqLen = 512)
      .orderBy(col("doc_id"))
  }

  /** t13: Bloom-filter decontamination — the scan-side variant of t10:
    * the eval set (same carve-out) collapses to a 1 MiB bitset of its
    * 8-gram hashes; every corpus document is then scored by one
    * codegen'd probe expression, no join and no corpus shuffle. At this
    * filter size the false-positive odds are ~1e-10 per probe, so the
    * output provably equals the exact-join oracle (Bloom error is
    * one-sided: zero false negatives). */
  def bloomDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val d = documents(spark, dir).select(col("doc_id"), col("text"))
    val bench = d.filter(col("doc_id") % 25 === 0)
      .select(array_join(slice(split(col("text"), " "), 1, 60), " ").as("bench_text"))
    val bits = graft.operators.Bloom.ngramFilter(bench, "bench_text", n = 8)
    d.select(col("doc_id"),
        graft.operators.Bloom.ngramHitCount("text", 8, bits).cast("long").as("n_hits"))
      .filter(col("n_hits") >= 1)
      .orderBy(col("doc_id"))
  }

  /** d11: dedup impact BY SOURCE — the d09 keep/drop decision joined
    * back to the domain dimension: per source, how many documents
    * survive near-dup dedup and the duplicate rate. The analytics view
    * a curation team actually reads (which crawls/domains are mostly
    * boilerplate), composing cluster formation with the t12 mixture
    * dimension. */
  def dupBySource(spark: SparkSession, dir: String): DataFrame = {
    val d = documentsParallel(spark, dir).select(col("doc_id"), col("text"), col("source"))
    val pairs = GraphCache.docJaccardPairs(spark, dir)
    graft.operators.Clusters.canonicalize(d, pairs, "doc_id")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("keep").cast("long")).as("n_kept"))
      .select(col("source"), col("n_docs"), col("n_kept"),
        round((col("n_docs") - col("n_kept")) / col("n_docs").cast("double"), 6)
          .as("dup_rate"))
      .orderBy(col("source"))
  }

  /** d10: duplicated-window profile — the Lee-et-al. exact-substring
    * dedup signal: per document, its distinct word 8-grams that occur in
    * at least one other document (count + ratio). Windows shuffle as
    * xxhash64 hashes (never text); the oracle groups the raw strings —
    * identical counts absent a 64-bit collision (~1e-8 at sf0.1). */
  def dedupSubstring(spark: SparkSession, dir: String): DataFrame =
    Dedup.duplicatedWindows(documentsParallel(spark, dir), "doc_id", "text", n = 8)
      .orderBy(col("doc_id"))

  /** t12: domain-mixture statistics + temperature-weighted sampling
    * budgets (weight ∝ tokens^0.5, XLM-R-style rebalancing) over the
    * `source` column, allocating a 1M-token budget. */
  def domainMixture(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.domainMixture(documents(spark, dir), "source", "text",
        budget = 1000000L)
      .orderBy(col("domain"))

  /** t11: unigram-frequency quality scores against the corpus's own
    * top-500 vocabulary — the LM-perplexity-filter shape with
    * integer-exact arithmetic (so the oracle hash-matches). */
  def unigramScore(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.unigramScores(documentsParallel(spark, dir), "doc_id", "text",
        vocabSize = 500)
      .orderBy(col("doc_id"))

  /** t14: Gopher top-/duplicated-n-gram char fractions (Rae et al.
    * §A1.1) — one scan-local native-expression pass per document. */
  def gopherFractions(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.gopherNgramFractions(documentsParallel(spark, dir), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** t15: top-3 TF-IDF keywords per document (rational idf — tf·N/df —
    * so scores and the top-k cut are engine-exact; see
    * [[TextAnalysis.tfIdfKeywords]]). */
  def tfIdf(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.tfIdfKeywords(documentsParallel(spark, dir), "doc_id", "text", k = 3)
      .orderBy(col("doc_id"), col("rank"))

  /** t16: the document-level quality KEEP/DROP verdict — C4/Gopher
    * thresholds over the combined signal row (see
    * [[TextAnalysis.qualityVerdict]]). */
  def qualityVerdict(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.qualityVerdict(documentsParallel(spark, dir), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** t17: hashed-linear quality-classifier scores — the GPT-3/CCNet
    * classifier-filter shape (linear model over md5-hashed bag-of-words
    * features, fixed deterministic weight table) as one scan-local
    * native-expression pass; keep = rounded score ≥ 0. */
  def classifierScore(spark: SparkSession, dir: String): DataFrame =
    documentsParallel(spark, dir)
      .select(col("doc_id"),
        round(graft.functions.GraftFunctions.classifierScore(col("text"), 4096), 6)
          .as("clf_score"))
      .withColumn("keep", (col("clf_score") >= 0.0).cast("int"))
      .orderBy(col("doc_id"))

  /** d12: SemDeDup semantic dedup over planted duplicate embeddings —
    * k-means clusters bound the pair space, exact cosine verifies, one
    * kept copy per near-dup component. Oracle-checked end to end via
    * the ENGINE-EXACT assignment variant: DuckDB has no k-means
    * trainer, but it doesn't need one — the trained centroids are plan
    * literals once fit() returns, so they are quantized and spliced
    * into the oracle SQL (the a14 pattern), and DuckDB replays the
    * fixed-point argmin assignment, within-cluster pairs, cosine
    * verify, and min-label components bit-for-bit. SemDedupSpec
    * additionally pins planted-dup recall against d05's brute force. */
  def semDedup(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val planted = e.unionAll(
      e.filter(col("vec_id") % 10 === 0)
        .withColumn("vec_id", col("vec_id") + 1000000L))
    val (df, centroidsQ) = Dedup.semanticDedupExact(planted, "vec_id",
      "embedding", k = 16, iterations = 2, threshold = 0.95)
    d12Oracle = Some(d12OracleSql(centroidsQ))
    df.orderBy(col("id"))
  }

  /** d12's oracle carries the trained-then-quantized centroid literals,
    * so it is BUILT when the d12 query is constructed — same lifecycle
    * and last-writer-wins contract as [[a14Oracle]]. */
  @volatile private var d12Oracle: Option[String] = None

  private def d12OracleSql(centroidsQ: Array[Array[Long]]): String = {
    val cents = centroidsQ.zipWithIndex.map { case (c, i) =>
      s"($i, ${c.mkString("[", ", ", "]")})" }.mkString(",\n    ")
    s"""WITH RECURSIVE planted AS (
       |  SELECT vec_id AS id, embedding FROM embeddings
       |  UNION ALL SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id % 10 = 0),
       |v AS (SELECT id, CAST(embedding AS DOUBLE[]) AS vd,
       |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1048576, 0) AS BIGINT)) AS vq
       |  FROM planted WHERE embedding IS NOT NULL),
       |cents(ci, cq) AS (VALUES
       |    $cents),
       |dist AS (
       |  SELECT v.id, c.ci,
       |    list_sum(list_transform(generate_series(1, len(v.vq)), d ->
       |      (v.vq[d] - c.cq[d]) * (v.vq[d] - c.cq[d]))) AS dist
       |  FROM v CROSS JOIN cents c),
       |asg AS (SELECT id, ci AS cluster FROM (
       |  SELECT id, ci, row_number() OVER (PARTITION BY id ORDER BY dist, ci) AS rn
       |  FROM dist) r WHERE rn = 1),
       |pairs AS (
       |  SELECT a.id AS id_a, b.id AS id_b
       |  FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.id < b.id
       |  JOIN v va ON va.id = a.id JOIN v vb ON vb.id = b.id
       |  WHERE list_cosine_similarity(va.vd, vb.vd) >= 0.95),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION SELECT id_b, id_a FROM pairs),
       |reach(id, lab) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.lab FROM edges e JOIN reach r ON r.id = e.dst),
       |cc AS (SELECT id, min(lab) AS cluster_id FROM reach GROUP BY id)
       |SELECT v.id, coalesce(cc.cluster_id, v.id) AS cluster_id,
       |  CAST(v.id = coalesce(cc.cluster_id, v.id) AS INT) AS keep
       |FROM v LEFT JOIN cc ON cc.id = v.id
       |ORDER BY v.id""".stripMargin
  }

  /** d14: exact-substring removal over a corpus with planted full-copy
    * docs (8-word windows, the d10 scale) — copies lose every word to
    * the earlier occurrence, originals keep theirs, and natural
    * cross-doc / within-doc 8-gram repeats are stripped too (see
    * [[Dedup.removeDuplicateSpans]]). */
  def dedupSpanRemoval(spark: SparkSession, dir: String): DataFrame = {
    val d = documentsParallel(spark, dir).select(col("doc_id"), col("text"))
    val planted = d.unionAll(d.withColumn("doc_id", col("doc_id") + 1000000L))
    Dedup.removeDuplicateSpans(planted, "doc_id", "text", n = 8)
      .orderBy(col("doc_id"))
  }

  /** The documents∩embeddings retrieval corpus and its every-50th-doc
    * query set (first 12 words as qtext, the doc's embedding as qvec) —
    * ONE definition shared by a10/a33/a35; their oracles replay the
    * same construction, so a change here must change all three. */
  private def retrievalCorpusQueries(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    // persist the corpus join (r13): the retrieval legs consume it
    // repeatedly — each leg's query-vocabulary collect plus the tf /
    // cosine scans re-ran the documents⋈embeddings join per consumer
    // (a35 drives three legs over it in one query)
    val c = documentsParallel(spark, dir).select(col("doc_id"), col("text"))
      .join(embeddings(spark, dir).select(col("vec_id"), col("embedding")),
        col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("text"), col("embedding"))
      .persistLedgered()
    val q = c.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("qid"),
        array_join(slice(split(col("text"), " "), 1, 12), " ").as("qtext"),
        col("embedding").as("qvec"))
    (c, q)
  }

  /** a10: hybrid lexical+vector search — RRF fusion of the shared-rare-
    * term lexical ranking with the exact cosine ranking (leg depth 20,
    * final k 10). Queries are every 50th document: its first 12 words
    * as the query string, its embedding as the query vector (see
    * [[Similarity.hybridTopK]]). */
  def hybridSearch(spark: SparkSession, dir: String): DataFrame = {
    val (c, q) = retrievalCorpusQueries(spark, dir)
    Similarity.hybridTopK(q, c, "doc_id", "text", "embedding",
        "qid", "qtext", "qvec", k = 10, depth = 20)
      .orderBy(col("query_id"), col("rank"))
  }

  /** a11: BM25 lexical top-k retrieval — the Okapi ranking with the
    * rational idf and scaled-integer summation (engine-exact; see
    * [[Similarity.bm25TopK]]). Same query shape as a10: every 50th
    * document's first 12 words, k = 10. */
  def bm25Search(spark: SparkSession, dir: String): DataFrame = {
    val c = documentsParallel(spark, dir).select(col("doc_id"), col("text"))
    val q = c.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("qid"),
        array_join(slice(split(col("text"), " "), 1, 12), " ").as("qtext"))
    Similarity.bm25TopK(q, c, "doc_id", "text", "qid", "qtext", k = 10)
      .orderBy(col("query_id"), col("rank"))
  }

  /** a33: hard-negative mining for retrieval training
    * ([[Similarity.hardNegatives]]) — per query (a10's shape: every
    * 50th doc, first 12 words + its embedding), the BM25 depth-20
    * candidates that are NOT in the exact cosine top-10: lexically
    * magnetic, semantically far — the negatives a dual encoder
    * learns the most from. Corpus is the documents∩embeddings join
    * (both legs must rank the same universe). */
  def hardNegativeMining(spark: SparkSession, dir: String): DataFrame = {
    val (c, q) = retrievalCorpusQueries(spark, dir)
    Similarity.hardNegatives(q, c, "doc_id", "text", "embedding",
      "qid", "qtext", "qvec", lexDepth = 20, posK = 10, negK = 5)
  }

  /** Planted line structure for the boilerplate queries: a per-source
    * nav header, the document's words in 10-word body lines, and a
    * per-source footer, '\n'-joined. ONE definition — t20, p18, and
    * perfbench's stage-by-stage p18 (`--trace 1`) must stay in sync
    * with the DuckDB oracles that replay this construction. */
  def withPlantedLines(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
      expr("""array_join(concat(
             |  array(concat('nav ', source, ' home about contact')),
             |  transform(sequence(0, (size(split(text, ' ')) + 9) div 10 - 1),
             |    i -> array_join(slice(split(text, ' '), i*10+1, 10), ' ')),
             |  array(concat('footer ', source, ' copyright'))), '\n')"""
        .stripMargin).as("ltext"))

  /** t20: per-source boilerplate line removal over the planted line
    * structure — every doc of a source shares the nav/footer
    * (df = docs-per-source ≥ 5 ⇒ stripped); body lines are stripped
    * only where the corpus's own duplicate texts push a line's
    * within-source df to the threshold (see
    * [[TextAnalysis.removeBoilerplate]]). */
  def boilerplateRemoval(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.removeBoilerplate(withPlantedLines(documents(spark, dir)),
        "doc_id", "source", "ltext", minDocFreq = 5L)
      .orderBy(col("doc_id"))

  /** t19: bigram-LM fluency scoring — add-one-smoothed bigram model
    * trained on the corpus itself, documents scored by mean negative
    * log-probability (see [[TextAnalysis.bigramLmScore]]). */
  def bigramLm(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.bigramLmScore(documentsParallel(spark, dir), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** a12: JL sign random projection 64 → 16 dims over the embeddings
    * table (see [[Similarity.signProjection]]). */
  def randomProjection(spark: SparkSession, dir: String): DataFrame =
    Similarity.signProjection(
        embeddings(spark, dir).select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", dim = 64, k = 16)
      .withColumnRenamed("id", "vec_id")
      .orderBy(col("vec_id"), col("proj_dim"))

  /** a13: upper-triangle Gram matrix of the embeddings table — the
    * d²-bounded aggregation PCA builds on (see [[LinAlg.gramMatrix]]). */
  def gramMatrix(spark: SparkSession, dir: String): DataFrame =
    LinAlg.gramMatrix(
        embeddings(spark, dir).select(col("embedding")), "embedding", dim = 64)
      .orderBy(col("d1"), col("d2"))

  /** a14: PCA projection 64 → 8 dims in the ENGINE-EXACT fixed-point
    * form — covariance via the a13 Gram pass, driver-side Jacobi
    * eigensolver (d×d is a constant), then the centered projection as
    * exact integers y_scaled = Σ (n·X_d − S_d)·E_d through quantized
    * eigenvector literals. DuckDB has no eigensolver, but it doesn't
    * need one: the (n, S, E) literals the PLAN already carries are
    * spliced into the oracle SQL at Verify time (the a12
    * literal-projection pattern), and everything downstream of the
    * eigensolve is order-free integer arithmetic both engines replay
    * bit-for-bit. PcaSpec pins the eigensolver math itself;
    * [[LinAlg.pca]] remains the double-precision surface. */
  def pcaProject(spark: SparkSession, dir: String): DataFrame = {
    val (df, (n, sums, evecsQ)) = LinAlg.pcaProjectExact(
      embeddings(spark, dir).select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", dim = 64, k = 8)
    a14Oracle = Some(a14OracleSql(n, sums, evecsQ))
    df.withColumnRenamed("id", "vec_id")
      .orderBy(col("vec_id"), col("pc"))
  }

  /** a14's oracle SQL carries data-derived literals (corpus size, exact
    * column sums, quantized eigenvectors), so it is BUILT when the a14
    * query is constructed — Verify materializes every query before
    * dumping oracle_sql.json, so the splice is always populated on the
    * driver's path; standalone callers that never build a14 simply get
    * no a14 oracle entry. CONTRACT: last-writer-wins — the literals
    * belong to whichever dataset built a14 most recently, which is
    * correct for the driver's one-dataset-per-JVM Verify flow; a
    * harness verifying several datasets in one JVM must re-run the a14
    * query for the dataset it dumps oracles for. */
  @volatile private var a14Oracle: Option[String] = None

  private def a14OracleSql(n: Long, sums: Array[Long],
                           evecsQ: Array[Array[Long]]): String = {
    val sv = sums.mkString("[", ", ", "]")
    val em = evecsQ.map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]")
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(round(CAST(x AS DOUBLE) * 1048576, 0) AS BIGINT)) AS vq
       |  FROM embeddings WHERE embedding IS NOT NULL),
       |lits AS (SELECT $sv AS sv, $em AS em)
       |SELECT vec_id, CAST(pc AS BIGINT) AS pc,
       |  CAST(list_sum(list_transform(generate_series(1, 64), d ->
       |    ($n * vq[d] - sv[d]) * em[pc][d])) AS BIGINT) AS y_scaled
       |FROM v, lits, unnest(generate_series(1, 8)) AS t(pc)
       |ORDER BY vec_id, pc""".stripMargin
  }

  /** p18: the FULL modern curation pipeline hash-checked as ONE query —
    * boilerplate line removal (t20) → corpus-trained bigram-LM fluency
    * gate (t19, nll ≤ 3.45) → exact dedup keep-first (d01) → vocabulary
    * encoding + fixed-window packing (p17). Every stage is individually
    * oracled; this pins their COMPOSITION (stage order, survivor sets,
    * and the packed id stream) end to end. */
  def curateFull(spark: SparkSession, dir: String): DataFrame = {
    val d0 = documentsParallel(spark, dir)
    // planted full copies: the dedup stage must actually collapse
    // something (the p16 convention); copies share the original's source
    val planted = d0.unionAll(d0.withColumn("doc_id", col("doc_id") + 1000000L))
    val lined = withPlantedLines(planted)
    // CHECKPOINT each stage boundary to parquet (not .persist): the LM
    // alone scans its input ~5× (bigram table, context fold, vocab
    // scalar, per-doc counts), and every un-persisted scan would cascade
    // back through the boilerplate explode+df join (measured 13.7 s ->
    // ~1 s at sf0.1). MEMORY_AND_DISK persist has the same intent but a
    // failure mode this pipeline hit in driver runs: under cache
    // pressure from sibling queries the LRU evicts these entries and the
    // 5 scans silently recompute the whole upstream pipeline — driver
    // measured 16.6 s vs 7 s builder-local, two rounds running. An
    // eager parquet checkpoint is computed EXACTLY once regardless of
    // memory state, reads back columnar, and pins no executor cache.
    // This is also the at-scale shape: multi-stage curation jobs
    // checkpoint stage boundaries to the object store.
    // FIXED paths (no per-call UUID): mode("overwrite") then genuinely
    // reuses the directory, so disk usage is bounded at one copy per
    // stage regardless of how many times p18 runs (a UUID per call was
    // an unbounded tmp leak across bench/verify rounds). Single-writer
    // assumption: the verify skill already forbids concurrent
    // Bench/Verify JVMs (they'd also race sbt classfiles).
    def ckpt(df: DataFrame, tag: String): DataFrame = {
      val dir = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"), "graft_ckpt",
        s"p18_$tag").toString
      // coalesce(8): the stage outputs are ~10k-row frames — 32
      // one-file-per-partition writes cost more driver/commit overhead
      // than the data (r11 measured); 8 files keep read parallelism
      // for the LM's 5 downstream scans. At real scale the stage
      // output is large and the coalesce is a no-op bound, not a
      // bottleneck (coalesce never raises partition count).
      df.coalesce(8).write.mode("overwrite").parquet(dir)
      // read back under the schema just written — skips the per-stage
      // footer-inference job (r12 job-census cut; the schema is by
      // construction the written one)
      spark.read.schema(df.schema).parquet(dir)
    }
    val cleaned = ckpt(TextAnalysis.removeBoilerplate(lined, "doc_id", "source",
        "ltext", minDocFreq = 5L)
      .filter(col("n_kept") > 0)
      .select(col("doc_id"), translate(col("clean_text"), "\n", " ").as("text")),
      "cleaned")
    val lm = TextAnalysis.bigramLmScore(cleaned, "doc_id", "text")
    val gated = cleaned.join(
      lm.filter(col("nll") <= 3.45).select(col("doc_id")), "doc_id")
    val kept = ckpt(Dedup.keepFirst(gated, "doc_id", "text"), "kept")
    graft.operators.Packing.vocabEncode(kept, "doc_id", "text", seqLen = 128)
      .orderBy(col("seq_id"))
  }

  /** t21: readability profile — syllable-heuristic word/syllable/long-
    * word counts and the integer-exact mean (see
    * [[TextAnalysis.readability]]). */
  def readabilityProfile(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.readability(documentsParallel(spark, dir), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** t22: the t12 mixture budgets MATERIALIZED — per-domain md5-gated
    * sampling at the exact rational rate sample_tokens/total_tokens
    * (see [[TextAnalysis.mixtureSample]]); budget 10k tokens (~37% of the sf0.01 corpus, so the gate genuinely drops docs). */
  def mixtureSample(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.mixtureSample(documentsParallel(spark, dir), "doc_id", "source",
        "text", budget = 10000L)
      .orderBy(col("doc_id"))

  /** t23: contamination EXCISION — the t10/t13 eval carve-out (every
    * 25th doc's first 60 words) excised from the corpus by 8-gram span
    * removal; the quoted docs lose their quoted prefix, everything else
    * survives (see [[Dedup.exciseContamination]]). */
  def decontamExcise(spark: SparkSession, dir: String): DataFrame = {
    val d = documentsParallel(spark, dir).select(col("doc_id"), col("text"))
    val bench = d.filter(col("doc_id") % 25 === 0)
      .select(array_join(slice(split(col("text"), " "), 1, 60), " ").as("bench_text"))
    Dedup.exciseContamination(d, "doc_id", "text", bench, "bench_text", n = 8)
      .orderBy(col("doc_id"))
  }

  /** t27: deterministic stratified train/val/test split — 98/1/1 by
    * the md5 hash bucket of doc_id, audited per source. The split is a
    * pure function of the id (re-runs, backfills, and both engines
    * agree doc by doc), assignment is a scan-local map (no shuffle),
    * and the audit is one bounded groupBy whose `bit_xor` checksum is
    * order-free — so the oracle verifies MEMBERSHIP of every stratum,
    * not just its size. */
  def splitAssign(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .withColumn("h",
        expr(graft.operators.HyperLogLog.hashExpr("doc_id", "split")))
      .withColumn("split",
        when(col("h") % 100 < 98, "train")
          .when(col("h") % 100 === 98, "val").otherwise("test"))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        expr("bit_xor(doc_id)").as("doc_checksum"))
      .orderBy(col("source"), col("split"))

  /** t24: blocked-wordlist policy gate — the C4/FineWeb rule over a
    * fixed term list (corpus words drawn so some docs match); see
    * [[TextAnalysis.wordlistFilter]]. */
  def wordlistGate(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.wordlistFilter(documents(spark, dir), "doc_id", "text",
        blocked = Seq("spark", "vector", "stream"))
      .orderBy(col("doc_id"))

  /** t25: Count-Min heavy hitters — the exact top-20 corpus words
    * probed against the engine-exact md5 Count-Min sketch
    * ([[TextAnalysis.countMinHeavyHitters]]); every counter and every
    * min-over-rows estimate is integer arithmetic DuckDB replays, so
    * the approximate operator gets a full hash oracle (the a06
    * principle). n_est ≥ n_exact by construction; CurationSpec bounds
    * the overcount. */
  def countMinHeavy(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.countMinHeavyHitters(documentsParallel(spark, dir), "text")
      .orderBy(col("n_exact").desc, col("word"))

  /** d15: incremental snapshot-delta dedup — "yesterday" is the corpus;
    * "today" is a batch of half re-crawled copies (planted) and half
    * genuinely new variants; kept = new content only, keep-first within
    * the batch (see [[Dedup.incrementalKeepNew]]). */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val base = documentsParallel(spark, dir).select(col("doc_id"), col("text"))
    // today's batch: even ids re-crawl yesterday's pages verbatim (must
    // drop), odd ids arrive twice with a fresh suffix (in-batch dup —
    // keep-first once).
    // r14 REJECTION, for the record: a single-digest-scan rewrite
    // (persistLedgered (doc_id, parity, sha2, fresh-sha2) frame feeding
    // both operator inputs) was built and measured SLOWER — interleaved
    // same-JVM A/B 2.42 vs 1.64 s min-of-3 at sf0.1: the branch scans
    // below share one ReusedExchange and column pruning already keeps
    // each branch to the one digest it needs, so the rewrite only added
    // the cache materialization. The digests themselves now shuffle as
    // 32-byte binary (incrementalKeepNew's unhex — half the old hex
    // string's exchange bytes).
    val today = base.filter(col("doc_id") % 2 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      .unionAll(base.filter(col("doc_id") % 2 === 1)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit(" fresh")).as("text")))
      .unionAll(base.filter(col("doc_id") % 2 === 1)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          concat(col("text"), lit(" fresh")).as("text")))
    Dedup.incrementalKeepNew(today, "doc_id", "text", base, "text")
      .orderBy(col("id"))
  }

  /** d16: incremental NEAR-dedup — d15's daily-crawl workflow at
    * near-duplicate granularity ([[Dedup.nearMatchAgainstBase]]).
    * Today's batch: even ids re-crawl yesterday's pages with a trailing
    * edit (" updated" — Jaccard ≈ 0.95 vs the source, must match);
    * odd ids arrive word-reversed (shingle sets disjoint from every
    * base doc — must NOT match). Output: one row per new doc,
    * (id, base_match, best_jaccard), nulls = kept. The oracle replays
    * the exact cross-corpus Jaccard in DuckDB (the d03 convention: LSH
    * recall loss fails the row — 32 bands of 2 lanes hold candidate
    * probability ≥ 1−(1−j²)³² ≈ 0.9999 at the 0.5 threshold). */
  def incrementalNearDedup(spark: SparkSession, dir: String): DataFrame = {
    val base = documentsParallel(spark, dir).filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
    val today = base.filter(col("doc_id") % 2 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" updated")).as("text"))
      .unionAll(base.filter(col("doc_id") % 2 === 1)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat_ws(" ", reverse(split(col("text"), " "))).as("text")))
    val matched = Dedup.nearMatchAgainstBase(today, "doc_id", "text",
      base, "doc_id", "text",
      n = 3, numHashes = 64, bands = 32, threshold = 0.5)
    today.select(col("doc_id").as("id"))
      .join(matched, Seq("id"), "left_outer")
      .orderBy(col("id"))
  }

  /** Exact 3-shingle Jaccard pair SQL — oracle for BOTH d02 (the exact
    * inverted-index path) and d03 (MinHash-LSH, proven recall-complete
    * on this corpus). */
  /** The 3-gram shingle / pair-intersection / set-size CTE block,
    * parameterized by the id alias — ONE definition shared by the
    * d02/d03 oracle and d19's exact-pair denominator, so a
    * shingle-semantics fix can never silently diverge the recall
    * denominator from the pair set d02/d03 verify against. */
  private[queries] def jaccardCoreCtes(idAs: String): String =
    s"""sh AS (
       |  SELECT doc_id AS $idAs, list_distinct(list_transform(
       |    generate_series(1, len(string_split(text,' ')) - 2),
       |    i -> array_to_string(string_split(text,' ')[i:i+2], ' '))) AS shingles
       |  FROM documents),
       |ex AS (SELECT $idAs, shingle
       |  FROM (SELECT $idAs, unnest(shingles) AS shingle FROM sh)),
       |inter AS (
       |  SELECT a.$idAs AS id_a, b.$idAs AS id_b, count(*) AS n_inter
       |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.$idAs < b.$idAs
       |  GROUP BY 1, 2),
       |sz AS (SELECT $idAs, len(shingles) AS n_sh FROM sh)""".stripMargin

  private val exactJaccardPairsSql: String =
    s"""WITH ${jaccardCoreCtes("doc_id")}
       |SELECT id_a, id_b,
       |round(n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 6) AS jaccard
       |FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
       |WHERE n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.5
       |ORDER BY id_a, id_b""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d15_incremental_dedup" -> incrementalDedup _,
    "d16_incremental_neardedup" -> incrementalNearDedup _,
    "a16_kmv_distinct"      -> kmvDistinct _,
    "t26_sample_bottomk"    -> sampleBottomK _,
    "t24_wordlist_filter"   -> wordlistGate _,
    "t25_countmin_heavy"    -> countMinHeavy _,
    "t27_split_assign"      -> splitAssign _,
    "t23_decontam_excise"   -> decontamExcise _,
    "t22_mixture_sample"    -> mixtureSample _,
    "t21_readability"       -> readabilityProfile _,
    "a15_ann_ivfpq"         -> annIvfPq _,
    "p18_curate_full"       -> curateFull _,
    "a13_gram_matrix"       -> gramMatrix _,
    "a14_pca_project"       -> pcaProject _,
    "a12_random_projection" -> randomProjection _,
    "t19_bigram_lm"         -> bigramLm _,
    "t20_boilerplate"       -> boilerplateRemoval _,
    "a11_bm25_topk"         -> bm25Search _,
    "a33_hard_negatives"    -> hardNegativeMining _,
    "a34_silhouette"        -> silhouette _,
    "a35_retrieval_bakeoff" -> retrievalBakeoff _,
    "d14_span_removal"      -> dedupSpanRemoval _,
    "a10_hybrid_search"     -> hybridSearch _,
    "t17_classifier_score"  -> classifierScore _,
    "t18_dsir_weights"      -> dsirWeights _,
    "d12_semantic_dedup"    -> semDedup _,
    "t14_gopher_ngrams"     -> gopherFractions _,
    "t15_tfidf_keywords"    -> tfIdf _,
    "t16_quality_verdict"   -> qualityVerdict _,
    "d11_dup_by_source"     -> dupBySource _,
    "d10_dedup_substring"   -> dedupSubstring _,
    "t12_domain_mixture"    -> domainMixture _,
    "t13_bloom_decontam"    -> bloomDecontaminate _,
    "p16_curate_pack"       -> curatePack _,
    "t11_unigram_score"     -> unigramScore _,
    "t10_contamination"     -> contamination _,
    "t09_compression"       -> compressionRatio _,
    "t04_sample_stratified" -> sampleStratified _,
    "t05_token_histogram"   -> tokenHistogram _,
    "t06_pii_scrub"         -> piiScrub _,
    "t07_line_dedup"        -> lineDedup _,
    "t08_repetition"        -> repetition _,
    "a04_vector_stats"    -> vectorStats _,
    "a07_centroids"       -> centroids _,
    "a08_ann_ivf_kmeans"  -> annIvfKmeans _,
    "a25_ann_sq8"         -> annSq8 _,
    "a05_embed_quantize"  -> quantize _,
    "a06_approx_distinct" -> approxDistinct _,
    "d01_dedup_exact"     -> dedupExact _,
    "d02_dedup_jaccard"   -> dedupJaccard _,
    "d20_prefix_join"     -> dedupPrefixJoin _,
    "d21_cosine_dedup"    -> dedupCosine _,
    "d23_cosine_links"    -> dedupCosineLinks _,
    "d03_dedup_minhash"   -> dedupMinHash _,
    "d19_band_plan"       -> dedupBandPlan _,
    "d22_kmv_jaccard"     -> dedupKmvJaccard _,
    "d04_dedup_simhash"   -> dedupSimHash _,
    "d05_dedup_embedding" -> dedupEmbedding _,
    "d07_dedup_embedding_lsh" -> dedupEmbeddingLsh _,
    "d06_dedup_winnow"    -> dedupWinnow _,
    "d08_dedup_clusters"  -> dedupClusters _,
    "d09_dedup_keep"      -> dedupKeep _,
    "a09_ann_pq"          -> annPq _,
    "a01_ann_bruteforce"  -> annBruteForce _,
    "a38_filtered_search" -> filteredSearch _,
    "a02_ann_signlsh"     -> annSignLsh _,
    "a03_ann_ivf"         -> annIvf _,
    "a32_knn_graph"       -> knnGraph _,
    "t01_text_profile"    -> textProfile _,
    "t02_quality_by_lang" -> qualityByLang _,
    "t03_winnow"          -> winnow _)

  private val qualitySql =
    """(0.5 * (len(list_filter(string_split(text, ' '), w -> list_contains(['the','a','of','and','to','in','is'], w))) / CAST(len(string_split(text, ' ')) AS DOUBLE))
      | + 0.3 * least(1.0, length(text) / 500.0)
      | + 0.2 * (1.0 - (length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))) / CAST(length(text) AS DOUBLE)))""".stripMargin

  def oracles: Map[String, String] =
    staticOracles ++ a14Oracle.map("a14_pca_project" -> _) ++
      d12Oracle.map("d12_semantic_dedup" -> _) ++
      a02Oracle.map("a02_ann_signlsh" -> _) ++
      a08Oracle.map("a08_ann_ivf_kmeans" -> _) ++
      a09Oracle.map("a09_ann_pq" -> _) ++
      a25Oracle.map("a25_ann_sq8" -> _) ++
      a15Oracle.map("a15_ann_ivfpq" -> _) ++
      t18Oracle.map("t18_dsir_weights" -> _)

  private val staticOracles: Map[String, String] = Map(
    "t03_winnow" ->
      """WITH g AS (SELECT doc_id, i,
        |    ('0x' || substr(md5(substr(text, i, 8)), 1, 15))::BIGINT AS h
        |  FROM documents, unnest(generate_series(1, len(text) - 7)) AS t(i)
        |  WHERE len(text) >= 8),
        |wins AS (SELECT doc_id, i,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m,
        |    count(*) OVER (PARTITION BY doc_id) AS n
        |  FROM g),
        |fp AS (SELECT DISTINCT doc_id, m FROM wins WHERE i <= n - 3),
        |agg AS (SELECT doc_id, count(*) AS n_fp, bit_xor(m) AS fp_xor
        |  FROM fp GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.n_fp, 0) AS n_fp,
        |  coalesce(a.fp_xor, 0) AS fp_xor
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "d06_dedup_winnow" ->
      """WITH g AS (SELECT doc_id, i,
        |    ('0x' || substr(md5(substr(text, i, 12)), 1, 15))::BIGINT AS h
        |  FROM documents, unnest(generate_series(1, len(text) - 11)) AS t(i)
        |  WHERE len(text) >= 12),
        |wins AS (SELECT doc_id, i,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m,
        |    count(*) OVER (PARTITION BY doc_id) AS n
        |  FROM g),
        |fp AS (SELECT DISTINCT doc_id, m AS fp FROM wins WHERE i <= n - 3),
        |rare AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) <= 100),
        |fps AS (SELECT f.doc_id, f.fp FROM fp f JOIN rare r USING (fp)),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared_fps
        |  FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, shared_fps FROM pairs WHERE shared_fps >= 25
        |ORDER BY id_a, id_b""".stripMargin,
    "d04_dedup_simhash" ->
      """WITH planted AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text || ' the' FROM documents),
        |w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM planted),
        |h AS (SELECT doc_id, ('0x' || substr(md5(word), 1, 16))::UBIGINT AS h FROM w),
        |votes AS (SELECT doc_id, b,
        |    sum(CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END) AS v
        |  FROM h, unnest(generate_series(0, 63)) AS t(b)
        |  GROUP BY 1, 2),
        |bits AS (SELECT doc_id,
        |    string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END, '' ORDER BY b) AS bs
        |  FROM votes GROUP BY 1)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(hamming(a.bs, b.bs) AS INT) AS hamming
        |FROM bits a JOIN bits b ON a.doc_id < b.doc_id
        |WHERE hamming(a.bs, b.bs) <= 3
        |ORDER BY id_a, id_b""".stripMargin,
    "d14_span_removal" ->
      """WITH planted AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents),
        |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM planted),
        |wins AS (
        |  SELECT doc_id, i AS pos, array_to_string(ws[i:i+7], ' ') AS win
        |  FROM w, unnest(generate_series(1, len(ws) - 7)) AS t(i)),
        |ranked AS (SELECT doc_id, pos,
        |  row_number() OVER (PARTITION BY win ORDER BY doc_id, pos) AS rn FROM wins),
        |cov AS (SELECT DISTINCT doc_id, pos + j AS rp
        |  FROM ranked, unnest(generate_series(0, 7)) AS s(j) WHERE rn > 1),
        |pos AS (SELECT doc_id, i AS p, ws[i] AS word
        |  FROM w, unnest(generate_series(1, len(ws))) AS t(i)),
        |kept AS (SELECT p.doc_id, p.p, p.word FROM pos p LEFT JOIN cov
        |  ON p.doc_id = cov.doc_id AND p.p = cov.rp WHERE cov.rp IS NULL),
        |agg AS (SELECT doc_id, string_agg(word, ' ' ORDER BY p) AS kept_text
        |  FROM kept GROUP BY doc_id),
        |rem AS (SELECT doc_id, count(*) AS n_removed FROM cov GROUP BY doc_id)
        |SELECT w.doc_id, CAST(len(w.ws) AS BIGINT) AS n_words,
        |  CAST(coalesce(rem.n_removed, 0) AS BIGINT) AS n_removed,
        |  coalesce(agg.kept_text, '') AS kept_text
        |FROM w LEFT JOIN agg ON w.doc_id = agg.doc_id
        |LEFT JOIN rem ON w.doc_id = rem.doc_id
        |ORDER BY w.doc_id""".stripMargin,
    "d15_incremental_dedup" ->
      """WITH base AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
        |today AS (
        |  SELECT doc_id + 1000000 AS doc_id, text FROM base WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000, text || ' fresh' FROM base WHERE doc_id % 2 = 1
        |  UNION ALL
        |  SELECT doc_id + 3000000, text || ' fresh' FROM base WHERE doc_id % 2 = 1),
        |grouped AS (SELECT text, min(doc_id) AS id,
        |    CAST(count(*) AS BIGINT) AS n_copies
        |  FROM today WHERE text IS NOT NULL GROUP BY text)
        |SELECT id, n_copies FROM grouped
        |WHERE text NOT IN (SELECT text FROM base)
        |ORDER BY id""".stripMargin,
    "d16_incremental_neardedup" ->
      """WITH base AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
        |today AS (
        |  SELECT doc_id + 1000000 AS id, text || ' updated' AS text
        |  FROM base WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS id,
        |    array_to_string(list_reverse(string_split(text, ' ')), ' ') AS text
        |  FROM base WHERE doc_id % 2 = 1),
        |shn AS (SELECT id, list_distinct(list_transform(
        |    generate_series(1, len(string_split(text, ' ')) - 2),
        |    i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))) AS sh
        |  FROM today),
        |shb AS (SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, len(string_split(text, ' ')) - 2),
        |    i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))) AS sh
        |  FROM base),
        |inter AS (
        |  SELECT n.id, b.doc_id AS base_id, count(*) AS n_inter
        |  FROM (SELECT id, unnest(sh) AS s FROM shn) n
        |  JOIN (SELECT doc_id, unnest(sh) AS s FROM shb) b ON n.s = b.s
        |  GROUP BY 1, 2),
        |j AS (SELECT id, base_id,
        |    n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) AS jac
        |  FROM inter
        |  JOIN (SELECT id, len(sh) AS n_sh FROM shn) sa USING (id)
        |  JOIN (SELECT doc_id, len(sh) AS n_sh FROM shb) sb ON sb.doc_id = base_id
        |  WHERE n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.5),
        |m AS (SELECT id, min(base_id) AS base_match,
        |    round(max(jac), 6) AS best_jaccard
        |  FROM j GROUP BY id)
        |SELECT t.id, m.base_match, m.best_jaccard
        |FROM today t LEFT JOIN m USING (id) ORDER BY t.id""".stripMargin,
    "a16_kmv_distinct" -> {
      val p = graft.operators.Kmv.oracleLeg(
        "lineitem", "l_returnflag", "l_partkey", "kp", "kmv_parts")
      val s = graft.operators.Kmv.oracleLeg(
        "lineitem", "l_returnflag", "l_suppkey", "ks", "kmv_supps")
      s"""WITH est_p AS ($p),
         |est_s AS ($s)
         |SELECT grp AS l_returnflag, kmv_parts, kmv_supps
         |FROM est_p JOIN est_s USING (grp)
         |ORDER BY l_returnflag""".stripMargin
    },
    "t26_sample_bottomk" ->
      """SELECT source, doc_id, rk FROM (
        |  SELECT source, doc_id, CAST(row_number() OVER (
        |      PARTITION BY source ORDER BY h, doc_id) AS INT) AS rk
        |  FROM (SELECT source, doc_id,
        |      ('0x' || substr(md5('smp|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
        |    FROM documents))
        |WHERE rk <= 20 ORDER BY source, rk""".stripMargin,
    "t27_split_assign" ->
      """WITH s AS (SELECT source, doc_id,
        |  CASE WHEN h % 100 < 98 THEN 'train'
        |       WHEN h % 100 = 98 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT source, doc_id,
        |  ('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM documents))
        |SELECT source, split, count(*) AS n_docs, bit_xor(doc_id) AS doc_checksum
        |FROM s GROUP BY source, split
        |ORDER BY source, split""".stripMargin,
    "t24_wordlist_filter" ->
      """SELECT doc_id,
        |CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
        |  ['spark', 'vector', 'stream'])) AS BIGINT) AS n_blocked,
        |CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
        |  ['spark', 'vector', 'stream'])) = 0 AS INT) AS keep
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t23_decontam_excise" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |bench AS (SELECT string_split(text, ' ')[1:60] AS bw
        |  FROM documents WHERE doc_id % 25 = 0),
        |bg AS (SELECT DISTINCT array_to_string(bw[i:i+7], ' ') AS g
        |  FROM bench, unnest(generate_series(1, len(bw) - 7)) AS t(i)),
        |wins AS (SELECT doc_id, i AS pos, array_to_string(ws[i:i+7], ' ') AS g
        |  FROM d, unnest(generate_series(1, len(ws) - 7)) AS t(i)),
        |cov AS (SELECT DISTINCT w.doc_id, w.pos + j AS rp
        |  FROM wins w JOIN bg USING (g), unnest(generate_series(0, 7)) AS s(j)),
        |pos AS (SELECT doc_id, i AS p, ws[i] AS word
        |  FROM d, unnest(generate_series(1, len(ws))) AS t(i)),
        |kept AS (SELECT p.doc_id, p.p, p.word FROM pos p LEFT JOIN cov
        |  ON p.doc_id = cov.doc_id AND p.p = cov.rp WHERE cov.rp IS NULL),
        |agg AS (SELECT doc_id, string_agg(word, ' ' ORDER BY p) AS kept_text
        |  FROM kept GROUP BY doc_id),
        |rem AS (SELECT doc_id, count(*) AS n_removed FROM cov GROUP BY doc_id)
        |SELECT d.doc_id, CAST(len(d.ws) AS BIGINT) AS n_words,
        |  CAST(coalesce(rem.n_removed, 0) AS BIGINT) AS n_removed,
        |  coalesce(agg.kept_text, '') AS kept_text
        |FROM d LEFT JOIN agg ON d.doc_id = agg.doc_id
        |LEFT JOIN rem ON d.doc_id = rem.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "t22_mixture_sample" ->
      """WITH per AS (
        |  SELECT source AS domain, count(*) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
        |  FROM documents GROUP BY source),
        |w AS (SELECT *, round(sqrt(CAST(total_tokens AS DOUBLE)), 6) AS w_raw FROM per),
        |tot AS (SELECT sum(CAST(w_raw AS DECIMAL(28,6))) AS w_sum FROM w),
        |budgets AS (SELECT domain, total_tokens,
        |  CAST(floor(round(w_raw / CAST(w_sum AS DOUBLE), 6) * 10000) AS BIGINT) AS sample_tokens
        |  FROM w, tot)
        |SELECT d.doc_id, d.source AS domain,
        |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
        |FROM documents d JOIN budgets b ON d.source = b.domain
        |WHERE CAST(('0x' || substr(md5(d.text), 1, 8))::BIGINT AS HUGEINT) * b.total_tokens
        |  < CAST(b.sample_tokens AS HUGEINT) * 4294967296
        |ORDER BY d.doc_id""".stripMargin,
    "t21_readability" ->
      """WITH w AS (SELECT doc_id, list_transform(string_split(text, ' '),
        |    x -> len(regexp_extract_all(lower(x), '[aeiouy]+'))) AS sylc,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words FROM documents),
        |syl AS (SELECT doc_id, n_words,
        |  CAST(coalesce(list_sum(sylc), 0) AS BIGINT) AS n_syllables,
        |  CAST(coalesce(list_sum(list_transform(sylc,
        |    x -> CASE WHEN x >= 3 THEN 1 ELSE 0 END)), 0) AS BIGINT) AS n_long_words
        |  FROM w)
        |SELECT doc_id, n_words, n_syllables, n_long_words,
        |  CASE WHEN n_words = 0 THEN 0.0
        |    ELSE CAST((2 * n_syllables * 1000000 + n_words) // (2 * n_words) AS DOUBLE) / 1e6
        |  END AS mean_syllables
        |FROM syl ORDER BY doc_id""".stripMargin,
    "p18_curate_full" ->
      """WITH planted AS (SELECT doc_id, source, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, source, text FROM documents),
        |docs AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM planted),
        |lined AS (SELECT doc_id, source,
        |    ['nav ' || source || ' home about contact'] ||
        |    list_transform(generate_series(0, (len(ws) + 9) // 10 - 1),
        |      i -> array_to_string(ws[i*10+1 : i*10+10], ' ')) ||
        |    ['footer ' || source || ' copyright'] AS ls
        |  FROM docs),
        |lines AS (SELECT doc_id, source, i AS pos, ls[i] AS line
        |  FROM lined, unnest(generate_series(1, len(ls))) AS t(i)),
        |ldf AS (SELECT source, line, count(DISTINCT doc_id) AS line_df
        |  FROM lines GROUP BY 1, 2),
        |keptl AS (SELECT l.doc_id, l.pos, l.line FROM lines l
        |  JOIN ldf ON ldf.source = l.source AND ldf.line = l.line
        |  WHERE ldf.line_df < 5),
        |cleaned AS (SELECT doc_id, array_to_string(list(line ORDER BY pos), ' ') AS text
        |  FROM keptl GROUP BY 1),
        |cw AS (SELECT doc_id, string_split(text, ' ') AS w FROM cleaned),
        |bi AS (SELECT doc_id, w[i] AS w1, w[i] || ' ' || w[i+1] AS big
        |  FROM cw, unnest(generate_series(1, len(w) - 1)) AS t(i) WHERE len(w) >= 2),
        |bcnt AS (SELECT big, max(w1) AS w1, count(*) AS c12 FROM bi GROUP BY 1),
        |ccnt AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS cctx FROM bcnt GROUP BY 1),
        |v AS (SELECT count(DISTINCT u) AS v FROM (SELECT unnest(w) AS u FROM cw)),
        |docbi AS (SELECT doc_id, big, count(*) AS k FROM bi GROUP BY 1, 2),
        |sc AS (SELECT d.doc_id,
        |    CAST(sum(d.k * CAST(round(ln(CAST(b.c12 + 1 AS DOUBLE) / (c.cctx + v.v)) * 1e6) AS BIGINT)) AS BIGINT) AS s,
        |    CAST(sum(d.k) AS BIGINT) AS nb
        |  FROM docbi d JOIN bcnt b USING (big) JOIN ccnt c ON b.w1 = c.w1, v
        |  GROUP BY 1),
        |nll AS (SELECT cw.doc_id,
        |    coalesce(CAST((-2 * sc.s + sc.nb) // (2 * sc.nb) AS DOUBLE) / 1e6, 0.0) AS nll
        |  FROM cw LEFT JOIN sc USING (doc_id)),
        |gated AS (SELECT c.doc_id, c.text FROM cleaned c
        |  JOIN nll USING (doc_id) WHERE nll.nll <= 3.45),
        |kept AS (SELECT doc_id, text FROM (
        |  SELECT doc_id, text,
        |    row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn FROM gated)
        |  WHERE rn = 1),
        |w2 AS (SELECT doc_id, string_split(text, ' ') AS ws FROM kept),
        |t2 AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n FROM w2),
        |off AS (SELECT doc_id, CAST(coalesce(sum(n) OVER (ORDER BY doc_id, n
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_token
        |  FROM t2),
        |vocab AS (SELECT word, CAST(row_number() OVER (ORDER BY cnt DESC, word) AS BIGINT) AS id
        |  FROM (SELECT word, count(*) AS cnt
        |    FROM (SELECT unnest(ws) AS word FROM w2) GROUP BY 1)),
        |pos2 AS (SELECT doc_id, i, ws[i] AS word
        |  FROM w2, unnest(generate_series(1, len(ws))) AS tt(i)),
        |enc AS (SELECT o.start_token + p.i - 1 AS idx, vv.id
        |  FROM pos2 p JOIN off o USING (doc_id) JOIN vocab vv USING (word))
        |SELECT idx // 128 AS seq_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(id) AS BIGINT) AS sum_id,
        |  arg_min(id, idx) AS first_id, arg_max(id, idx) AS last_id
        |FROM enc GROUP BY 1 ORDER BY 1""".stripMargin,
    "a13_gram_matrix" ->
      """WITH q AS (SELECT list_transform(embedding,
        |    x -> CAST(round(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS vq
        |  FROM embeddings),
        |pairs AS (SELECT d1, d2, CAST(vq[d1] AS HUGEINT) * vq[d2] AS p FROM q,
        |  unnest(generate_series(1, 64)) AS t1(d1),
        |  unnest(generate_series(1, 64)) AS t2(d2)
        |  WHERE d2 >= d1),
        |g AS (SELECT d1, d2, sum(p) AS s FROM pairs GROUP BY 1, 2)
        |SELECT CAST(d1 AS BIGINT) AS d1, CAST(d2 AS BIGINT) AS d2,
        |  CAST(s AS DOUBLE) / 1099511627776 AS g
        |FROM g ORDER BY d1, d2""".stripMargin,
    "a12_random_projection" ->
      """WITH q AS (SELECT vec_id, list_transform(embedding,
        |    x -> CAST(round(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS vq
        |  FROM embeddings),
        |cells AS (SELECT vec_id, j, vq[d] *
        |    (CASE WHEN ('0x' || substr(md5('rp' || j || '_' || d), 1, 8))::BIGINT % 2 = 0
        |      THEN 1 ELSE -1 END) AS c
        |  FROM q, unnest(generate_series(1, 16)) AS tj(j),
        |    unnest(generate_series(1, 64)) AS td(d)),
        |p AS (SELECT vec_id, j, CAST(sum(c) AS BIGINT) AS sy FROM cells GROUP BY 1, 2)
        |SELECT vec_id, CAST(j AS BIGINT) AS proj_dim, CAST(sy AS DOUBLE) / 1048576 AS y
        |FROM p ORDER BY vec_id, proj_dim""".stripMargin,
    "t19_bigram_lm" ->
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |bi AS (SELECT doc_id, w[i] AS w1, w[i] || ' ' || w[i+1] AS big
        |  FROM ws, unnest(generate_series(1, len(w) - 1)) AS t(i) WHERE len(w) >= 2),
        |bcnt AS (SELECT big, max(w1) AS w1, count(*) AS c12 FROM bi GROUP BY 1),
        |ccnt AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS cctx FROM bcnt GROUP BY 1),
        |v AS (SELECT count(DISTINCT u) AS v FROM (SELECT unnest(w) AS u FROM ws)),
        |docbi AS (SELECT doc_id, big, count(*) AS k FROM bi GROUP BY 1, 2),
        |sc AS (SELECT d.doc_id,
        |    CAST(sum(d.k * CAST(round(ln(CAST(b.c12 + 1 AS DOUBLE) / (c.cctx + v.v)) * 1e6) AS BIGINT)) AS BIGINT) AS s,
        |    CAST(sum(d.k) AS BIGINT) AS nb
        |  FROM docbi d JOIN bcnt b USING (big) JOIN ccnt c ON b.w1 = c.w1, v
        |  GROUP BY 1)
        |SELECT w.doc_id, CAST(coalesce(sc.nb, 0) AS BIGINT) AS n_bigrams,
        |  coalesce(CAST((-2 * sc.s + sc.nb) // (2 * sc.nb) AS DOUBLE) / 1e6, 0.0) AS nll
        |FROM ws w LEFT JOIN sc USING (doc_id) ORDER BY w.doc_id""".stripMargin,
    "t20_boilerplate" ->
      """WITH docs AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
        |lined AS (SELECT doc_id, source,
        |    ['nav ' || source || ' home about contact'] ||
        |    list_transform(generate_series(0, (len(ws) + 9) // 10 - 1),
        |      i -> array_to_string(ws[i*10+1 : i*10+10], ' ')) ||
        |    ['footer ' || source || ' copyright'] AS ls
        |  FROM docs),
        |lines AS (SELECT doc_id, source, i AS pos, ls[i] AS line
        |  FROM lined, unnest(generate_series(1, len(ls))) AS t(i)),
        |df AS (SELECT source, line, count(DISTINCT doc_id) AS line_df
        |  FROM lines GROUP BY 1, 2),
        |kept AS (SELECT l.doc_id, l.pos, l.line FROM lines l
        |  JOIN df ON df.source = l.source AND df.line = l.line
        |  WHERE df.line_df < 5),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    array_to_string(list(line ORDER BY pos), chr(10)) AS clean_text
        |  FROM kept GROUP BY 1)
        |SELECT l.doc_id, CAST(len(ls) AS BIGINT) AS n_lines,
        |  coalesce(a.n_kept, 0) AS n_kept, coalesce(a.clean_text, '') AS clean_text
        |FROM lined l LEFT JOIN agg a USING (doc_id) ORDER BY l.doc_id""".stripMargin,
    "a11_bm25_topk" ->
      """WITH corpus AS (SELECT doc_id, text,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents),
        |stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM corpus),
        |q AS (SELECT doc_id AS query_id,
        |    array_to_string(string_split(text, ' ')[1:12], ' ') AS qtext
        |  FROM corpus WHERE doc_id % 50 = 0),
        |qt AS (SELECT query_id, unnest(list_distinct(string_split(qtext, ' '))) AS term FROM q),
        |tf AS (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
        |  FROM (SELECT doc_id, dl, unnest(string_split(text, ' ')) AS term FROM corpus)
        |  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |contrib AS (SELECT qt.query_id, tf.doc_id,
        |    CAST(round(((s.n_docs - df.df + CAST(0.5 AS DOUBLE)) / (df.df + CAST(0.5 AS DOUBLE))) *
        |      (tf.tf * (CAST(1.2 AS DOUBLE) + 1) / (tf.tf + CAST(1.2 AS DOUBLE) *
        |        (1 - CAST(0.75 AS DOUBLE) + CAST(0.75 AS DOUBLE) * tf.dl /
        |          (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))) * 1e6) AS BIGINT) AS c
        |  FROM tf JOIN qt USING (term) JOIN df USING (term), stats s),
        |scored AS (SELECT query_id, doc_id, sum(c) AS score_scaled
        |  FROM contrib GROUP BY 1, 2),
        |ranked AS (SELECT query_id, doc_id,
        |    round(CAST(score_scaled AS DOUBLE) / 1e6, 6) AS bm25,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY score_scaled DESC, doc_id) AS BIGINT) AS rank
        |  FROM scored)
        |SELECT query_id, doc_id, bm25, rank FROM ranked
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    // a35: a33's Okapi CTEs (self-excluded BEFORE the rank) + a10's
    // hybrid chain + the dense truth; recall join per (query, method)
    "a35_retrieval_bakeoff" ->
      """WITH corpus AS (SELECT d.doc_id, d.text,
        |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS dl,
        |    CAST(e.embedding AS DOUBLE[]) AS v
        |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
        |stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM corpus),
        |q AS (SELECT doc_id AS query_id,
        |    array_to_string(string_split(text, ' ')[1:12], ' ') AS qtext, v AS qv
        |  FROM corpus WHERE doc_id % 50 = 0),
        |qt AS (SELECT query_id, unnest(list_distinct(string_split(qtext, ' '))) AS term FROM q),
        |tf AS (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
        |  FROM (SELECT doc_id, dl, unnest(string_split(text, ' ')) AS term FROM corpus)
        |  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |contrib AS (SELECT qt.query_id, tf.doc_id,
        |    CAST(round(((s.n_docs - df.df + CAST(0.5 AS DOUBLE)) / (df.df + CAST(0.5 AS DOUBLE))) *
        |      (tf.tf * (CAST(1.2 AS DOUBLE) + 1) / (tf.tf + CAST(1.2 AS DOUBLE) *
        |        (1 - CAST(0.75 AS DOUBLE) + CAST(0.75 AS DOUBLE) * tf.dl /
        |          (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))) * 1e6) AS BIGINT) AS c
        |  FROM tf JOIN qt USING (term) JOIN df USING (term), stats s),
        |scored AS (SELECT query_id, doc_id, sum(c) AS score_scaled
        |  FROM contrib GROUP BY 1, 2),
        |bm AS (SELECT query_id, doc_id FROM (
        |    SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
        |      ORDER BY score_scaled DESC, doc_id) AS rnk
        |    FROM scored WHERE doc_id <> query_id) WHERE rnk <= 10),
        |ct AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term FROM corpus),
        |dfq AS (SELECT term, count(*) AS df FROM ct
        |  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1),
        |hits AS (SELECT qt.query_id, ct.doc_id, count(*) AS n_shared, sum(dfq.df) AS df_sum
        |  FROM ct JOIN qt USING (term) JOIN dfq USING (term)
        |  WHERE ct.doc_id <> qt.query_id GROUP BY 1, 2),
        |lex AS (SELECT * FROM (SELECT query_id, doc_id, n_shared,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY n_shared DESC, df_sum ASC, doc_id) AS rank_lex
        |  FROM hits) WHERE rank_lex <= 20),
        |vec AS (SELECT * FROM (SELECT query_id, doc_id, cos_score,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos_score DESC, doc_id) AS rank_vec
        |  FROM (SELECT q.query_id, c.doc_id,
        |      round(list_cosine_similarity(q.qv, c.v), 6) AS cos_score
        |    FROM q JOIN corpus c ON q.query_id <> c.doc_id))
        |  WHERE rank_vec <= 20),
        |fused AS (
        |  SELECT coalesce(l.query_id, v.query_id) AS query_id,
        |    coalesce(l.doc_id, v.doc_id) AS doc_id,
        |    round(coalesce(1.0 / (60 + l.rank_lex), 0) +
        |          coalesce(1.0 / (60 + v.rank_vec), 0), 6) AS rrf
        |  FROM lex l FULL OUTER JOIN vec v
        |    ON l.query_id = v.query_id AND l.doc_id = v.doc_id),
        |hyb AS (SELECT query_id, doc_id FROM (
        |    SELECT query_id, doc_id,
        |      row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rank
        |    FROM fused) WHERE rank <= 10),
        |truth AS (SELECT query_id, doc_id FROM vec WHERE rank_vec <= 10),
        |u AS (SELECT query_id, doc_id, 'bm25' AS method FROM bm
        |  UNION ALL SELECT query_id, doc_id, 'hybrid' AS method FROM hyb)
        |SELECT u.query_id, u.method,
        |  CAST(count(t.doc_id) AS BIGINT) AS n_hits,
        |  CAST((count(t.doc_id) * 1000000) // 10 AS BIGINT) AS recall_ppm
        |FROM u LEFT JOIN truth t
        |  ON u.query_id = t.query_id AND u.doc_id = t.doc_id
        |GROUP BY 1, 2 ORDER BY u.query_id, u.method""".stripMargin,
    // a33: a11's Okapi CTEs over the joined corpus + a10's cosine leg;
    // negatives = lex candidates anti-joined against the semantic top-10
    "a33_hard_negatives" ->
      """WITH corpus AS (SELECT d.doc_id, d.text,
        |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS dl,
        |    CAST(e.embedding AS DOUBLE[]) AS v
        |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
        |stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM corpus),
        |q AS (SELECT doc_id AS query_id,
        |    array_to_string(string_split(text, ' ')[1:12], ' ') AS qtext, v AS qv
        |  FROM corpus WHERE doc_id % 50 = 0),
        |qt AS (SELECT query_id, unnest(list_distinct(string_split(qtext, ' '))) AS term FROM q),
        |tf AS (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
        |  FROM (SELECT doc_id, dl, unnest(string_split(text, ' ')) AS term FROM corpus)
        |  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |contrib AS (SELECT qt.query_id, tf.doc_id,
        |    CAST(round(((s.n_docs - df.df + CAST(0.5 AS DOUBLE)) / (df.df + CAST(0.5 AS DOUBLE))) *
        |      (tf.tf * (CAST(1.2 AS DOUBLE) + 1) / (tf.tf + CAST(1.2 AS DOUBLE) *
        |        (1 - CAST(0.75 AS DOUBLE) + CAST(0.75 AS DOUBLE) * tf.dl /
        |          (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))) * 1e6) AS BIGINT) AS c
        |  FROM tf JOIN qt USING (term) JOIN df USING (term), stats s),
        |scored AS (SELECT query_id, doc_id, sum(c) AS score_scaled
        |  FROM contrib GROUP BY 1, 2),
        |lex AS (SELECT * FROM (
        |    SELECT query_id, doc_id,
        |      round(CAST(score_scaled AS DOUBLE) / 1e6, 6) AS bm25,
        |      CAST(row_number() OVER (PARTITION BY query_id
        |        ORDER BY score_scaled DESC, doc_id) AS BIGINT) AS bm25_rank
        |    FROM scored WHERE doc_id <> query_id)
        |  WHERE bm25_rank <= 20),
        |vec AS (SELECT query_id, doc_id FROM (
        |    SELECT q.query_id, c.doc_id,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY round(list_cosine_similarity(q.qv, c.v), 6) DESC,
        |          c.doc_id) AS rv
        |    FROM q JOIN corpus c ON q.query_id <> c.doc_id) WHERE rv <= 10),
        |negs AS (SELECT l.query_id, l.doc_id, l.bm25, l.bm25_rank,
        |    CAST(row_number() OVER (PARTITION BY l.query_id
        |      ORDER BY l.bm25_rank) AS BIGINT) AS neg_rank
        |  FROM lex l ANTI JOIN vec v
        |    ON l.query_id = v.query_id AND l.doc_id = v.doc_id)
        |SELECT query_id, doc_id, bm25, bm25_rank, neg_rank
        |FROM negs WHERE neg_rank <= 5 ORDER BY query_id, neg_rank""".stripMargin,
    "a10_hybrid_search" ->
      """WITH corpus AS (SELECT d.doc_id, d.text, CAST(e.embedding AS DOUBLE[]) AS v
        |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
        |q AS (SELECT doc_id AS query_id,
        |    array_to_string(string_split(text, ' ')[1:12], ' ') AS qtext, v AS qv
        |  FROM corpus WHERE doc_id % 50 = 0),
        |qt AS (SELECT query_id, unnest(list_distinct(string_split(qtext, ' '))) AS term FROM q),
        |ct AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term FROM corpus),
        |dfq AS (SELECT term, count(*) AS df FROM ct
        |  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1),
        |hits AS (SELECT qt.query_id, ct.doc_id, count(*) AS n_shared, sum(dfq.df) AS df_sum
        |  FROM ct JOIN qt USING (term) JOIN dfq USING (term)
        |  WHERE ct.doc_id <> qt.query_id GROUP BY 1, 2),
        |lex AS (SELECT * FROM (SELECT query_id, doc_id, n_shared,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY n_shared DESC, df_sum ASC, doc_id) AS rank_lex
        |  FROM hits) WHERE rank_lex <= 20),
        |vec AS (SELECT * FROM (SELECT query_id, doc_id, cos_score,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos_score DESC, doc_id) AS rank_vec
        |  FROM (SELECT q.query_id, c.doc_id,
        |      round(list_cosine_similarity(q.qv, c.v), 6) AS cos_score
        |    FROM q JOIN corpus c ON q.query_id <> c.doc_id))
        |  WHERE rank_vec <= 20),
        |fused AS (
        |  SELECT coalesce(l.query_id, v.query_id) AS query_id,
        |    coalesce(l.doc_id, v.doc_id) AS doc_id,
        |    coalesce(l.n_shared, 0) AS n_shared,
        |    coalesce(l.rank_lex, 0) AS rank_lex,
        |    coalesce(v.rank_vec, 0) AS rank_vec,
        |    coalesce(v.cos_score, 0.0) AS cos_score,
        |    round(coalesce(1.0 / (60 + l.rank_lex), 0) +
        |          coalesce(1.0 / (60 + v.rank_vec), 0), 6) AS rrf
        |  FROM lex l FULL OUTER JOIN vec v
        |    ON l.query_id = v.query_id AND l.doc_id = v.doc_id)
        |SELECT * FROM (
        |  SELECT query_id, doc_id, CAST(n_shared AS BIGINT) AS n_shared,
        |    CAST(rank_lex AS BIGINT) AS rank_lex, CAST(rank_vec AS BIGINT) AS rank_vec,
        |    cos_score, rrf,
        |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank
        |  FROM fused)
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "t17_classifier_score" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    round(list_sum(list_transform(string_split(text, ' '),
        |      w -> ((('0x' || substr(md5(w), 1, 8))::BIGINT % 4096) * 2654435761) % 2001 - 1000))
        |      / (1000.0 * len(string_split(text, ' '))), 6) AS clf_score
        |  FROM documents)
        |SELECT doc_id, clf_score, CAST(clf_score >= 0.0 AS INT) AS keep
        |FROM s ORDER BY doc_id""".stripMargin,
    "t14_gopher_ngrams" ->
      """WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
        |c2 AS (SELECT doc_id, gram, count(*) AS cnt FROM (
        |  SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS gram
        |  FROM w, unnest(generate_series(1, len(ws) - 1)) AS t(i)) GROUP BY 1, 2),
        |t2 AS (SELECT doc_id, cnt, gram FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS rn
        |  FROM c2) WHERE rn = 1),
        |c3 AS (SELECT doc_id, gram, count(*) AS cnt FROM (
        |  SELECT doc_id, array_to_string(ws[i:i+2], ' ') AS gram
        |  FROM w, unnest(generate_series(1, len(ws) - 2)) AS t(i)) GROUP BY 1, 2),
        |t3 AS (SELECT doc_id, cnt, gram FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS rn
        |  FROM c3) WHERE rn = 1),
        |c4 AS (SELECT doc_id, gram, count(*) AS cnt FROM (
        |  SELECT doc_id, array_to_string(ws[i:i+3], ' ') AS gram
        |  FROM w, unnest(generate_series(1, len(ws) - 3)) AS t(i)) GROUP BY 1, 2),
        |t4 AS (SELECT doc_id, cnt, gram FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS rn
        |  FROM c4) WHERE rn = 1),
        |c5 AS (SELECT doc_id, gram, count(*) AS cnt FROM (
        |  SELECT doc_id, array_to_string(ws[i:i+4], ' ') AS gram
        |  FROM w, unnest(generate_series(1, len(ws) - 4)) AS t(i)) GROUP BY 1, 2),
        |d5 AS (SELECT doc_id, CAST(sum(cnt * length(gram)) AS BIGINT) AS dup_chars
        |  FROM c5 WHERE cnt >= 2 GROUP BY 1)
        |SELECT w.doc_id,
        |round(coalesce(t2.cnt * length(t2.gram) / length(w.text), 0), 6) AS top2_frac,
        |round(coalesce(t3.cnt * length(t3.gram) / length(w.text), 0), 6) AS top3_frac,
        |round(coalesce(t4.cnt * length(t4.gram) / length(w.text), 0), 6) AS top4_frac,
        |round(coalesce(d5.dup_chars / length(w.text), 0), 6) AS dup5_frac
        |FROM w LEFT JOIN t2 ON w.doc_id = t2.doc_id
        |LEFT JOIN t3 ON w.doc_id = t3.doc_id
        |LEFT JOIN t4 ON w.doc_id = t4.doc_id
        |LEFT JOIN d5 ON w.doc_id = d5.doc_id
        |ORDER BY w.doc_id""".stripMargin,
    "t16_quality_verdict" ->
      s"""WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
         |c2 AS (SELECT doc_id, gram, count(*) AS cnt FROM (
         |  SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS gram
         |  FROM w, unnest(generate_series(1, len(ws) - 1)) AS t(i)) GROUP BY 1, 2),
         |t2 AS (SELECT doc_id, cnt, gram FROM (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS rn
         |  FROM c2) WHERE rn = 1),
         |words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
         |vocab AS (SELECT word, count(*) AS freq FROM words
         |  GROUP BY word ORDER BY freq DESC, word LIMIT 500),
         |ov AS (SELECT wd.doc_id, count(*) AS n_words,
         |  round(1.0 - count(v.freq) / CAST(count(*) AS DOUBLE), 6) AS oov_ratio
         |  FROM words wd LEFT JOIN vocab v ON wd.word = v.word GROUP BY wd.doc_id),
         |sig AS (SELECT w.doc_id,
         |  round($qualitySql, 6) AS quality,
         |  CASE WHEN len(ws) < 2 THEN 0.0
         |    ELSE round(1.0 - len(list_distinct(list_transform(range(1, len(ws)),
         |      i -> ws[i] || ' ' || ws[i + 1]))) / CAST(len(ws) - 1 AS DOUBLE), 6) END AS rep_ratio,
         |  round(coalesce(t2.cnt * length(t2.gram) / length(w.text), 0), 6) AS top2_frac
         |  FROM w LEFT JOIN t2 ON w.doc_id = t2.doc_id)
         |SELECT s.doc_id, ov.n_words, s.quality, s.rep_ratio, s.top2_frac, ov.oov_ratio,
         |CAST(s.quality >= 0.3 AND s.rep_ratio <= 0.1 AND s.top2_frac <= 0.15
         |  AND ov.oov_ratio <= 0.7 AND ov.n_words >= 20 AS INT) AS keep
         |FROM sig s JOIN ov ON s.doc_id = ov.doc_id
         |ORDER BY s.doc_id""".stripMargin,
    "t15_tfidf_keywords" ->
      """WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM words GROUP BY 1, 2),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM words GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT t.doc_id, t.term, t.tf, d.df,
        |    round(t.tf * (CAST(n.n_docs AS DOUBLE) / d.df), 6) AS score
        |  FROM tf t JOIN df d USING (term), n),
        |ranked AS (SELECT *, CAST(row_number() OVER (
        |  PARTITION BY doc_id ORDER BY score DESC, term) AS BIGINT) AS rank FROM scored)
        |SELECT doc_id, rank, term, tf, df, score FROM ranked
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "d10_dedup_substring" ->
      """WITH ng AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, len(string_split(text,' ')) - 7),
        |    i -> array_to_string(string_split(text,' ')[i:i+7], ' ')))) AS w
        |  FROM documents),
        |d AS (SELECT doc_id, count(*) OVER (PARTITION BY w) AS df FROM ng)
        |SELECT doc_id, count(*) AS n_windows,
        |CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows,
        |round(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS dup_ratio
        |FROM d GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "p16_curate_pack" ->
      s"""WITH planted AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 1000000, text FROM documents),
         |q AS (
         |  SELECT doc_id, text FROM planted
         |  WHERE round($qualitySql, 6) >= 0.3),
         |k AS (SELECT min(doc_id) AS keep_id FROM q GROUP BY sha256(text)),
         |kept AS (SELECT q.doc_id, q.text FROM q JOIN k ON q.doc_id = k.keep_id),
         |bench AS (
         |  SELECT array_to_string(string_split(text,' ')[1:60], ' ') AS bench_text
         |  FROM documents WHERE doc_id % 25 = 0),
         |bng AS (
         |  SELECT DISTINCT unnest(list_distinct(list_transform(
         |    generate_series(1, len(string_split(bench_text,' ')) - 7),
         |    i -> array_to_string(string_split(bench_text,' ')[i:i+7], ' ')))) AS ngram
         |  FROM bench),
         |dirty AS (
         |  SELECT DISTINCT kn.doc_id FROM (
         |    SELECT doc_id, unnest(list_distinct(list_transform(
         |      generate_series(1, len(string_split(text,' ')) - 7),
         |      i -> array_to_string(string_split(text,' ')[i:i+7], ' ')))) AS ngram
         |    FROM kept) kn JOIN bng ON kn.ngram = bng.ngram),
         |clean AS (
         |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM kept WHERE doc_id NOT IN (SELECT doc_id FROM dirty))
         |SELECT doc_id, n_tokens,
         |CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_token,
         |CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 512 AS BIGINT) AS seq_id,
         |CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) % 512 AS BIGINT) AS seq_offset
         |FROM clean ORDER BY doc_id""".stripMargin,
    "t13_bloom_decontam" ->
      """WITH bench AS (
        |  SELECT array_to_string(string_split(text,' ')[1:60], ' ') AS bench_text
        |  FROM documents WHERE doc_id % 25 = 0),
        |bng AS (
        |  SELECT DISTINCT unnest(list_distinct(list_transform(
        |    generate_series(1, len(string_split(bench_text,' ')) - 7),
        |    i -> array_to_string(string_split(bench_text,' ')[i:i+7], ' ')))) AS ngram
        |  FROM bench),
        |cng AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, len(string_split(text,' ')) - 7),
        |    i -> array_to_string(string_split(text,' ')[i:i+7], ' ')))) AS ngram
        |  FROM documents)
        |SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_hits
        |FROM cng c JOIN bng b ON c.ngram = b.ngram
        |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin,
    "t12_domain_mixture" ->
      """WITH per AS (
        |  SELECT source AS domain, count(*) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
        |  FROM documents GROUP BY source),
        |w AS (SELECT *, round(sqrt(CAST(total_tokens AS DOUBLE)), 6) AS w_raw FROM per),
        |tot AS (SELECT CAST(sum(total_tokens) AS BIGINT) AS all_tokens,
        |  sum(CAST(w_raw AS DECIMAL(28,6))) AS w_sum FROM w)
        |SELECT domain, n_docs, total_tokens,
        |round(total_tokens / CAST(all_tokens AS DOUBLE), 6) AS token_share,
        |round(w_raw / CAST(w_sum AS DOUBLE), 6) AS weight,
        |CAST(floor(round(w_raw / CAST(w_sum AS DOUBLE), 6) * 1000000) AS BIGINT) AS sample_tokens
        |FROM w, tot ORDER BY domain""".stripMargin,
    "t11_unigram_score" ->
      """WITH words AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |vocab AS (
        |  SELECT word, count(*) AS freq FROM words
        |  GROUP BY word ORDER BY freq DESC, word LIMIT 500)
        |SELECT w.doc_id, count(*) AS n_words,
        |count(v.freq) AS n_in_vocab,
        |round(1.0 - count(v.freq) / CAST(count(*) AS DOUBLE), 6) AS oov_ratio,
        |CASE WHEN count(v.freq) = 0 THEN 0.0
        |     ELSE round(sum(coalesce(v.freq, 0)) / CAST(count(v.freq) AS DOUBLE), 6)
        |END AS mean_freq
        |FROM words w LEFT JOIN vocab v ON w.word = v.word
        |GROUP BY w.doc_id ORDER BY w.doc_id""".stripMargin,
    "t10_contamination" ->
      """WITH bench AS (
        |  SELECT doc_id AS bench_id,
        |         array_to_string(string_split(text,' ')[1:60], ' ') AS bench_text
        |  FROM documents WHERE doc_id % 25 = 0),
        |cng AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, len(string_split(text,' ')) - 7),
        |    i -> array_to_string(string_split(text,' ')[i:i+7], ' ')))) AS ngram
        |  FROM documents),
        |bng AS (
        |  SELECT bench_id, unnest(list_distinct(list_transform(
        |    generate_series(1, len(string_split(bench_text,' ')) - 7),
        |    i -> array_to_string(string_split(bench_text,' ')[i:i+7], ' ')))) AS ngram
        |  FROM bench)
        |SELECT c.doc_id, b.bench_id, count(*) AS shared_ngrams
        |FROM cng c JOIN bng b ON c.ngram = b.ngram
        |GROUP BY 1, 2
        |ORDER BY doc_id, bench_id""".stripMargin,
    "t06_pii_scrub" ->
      """WITH dirty AS (
        |  SELECT doc_id, text || ' contact user' || doc_id || '@example.com or 10.0.0.' ||
        |    (doc_id % 255) || ' id ' || (doc_id + 10000000) AS d
        |  FROM documents),
        |clean AS (
        |  SELECT doc_id, regexp_replace(
        |    regexp_replace(
        |      regexp_replace(d, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g'),
        |    '[0-9]{7,}', '<NUM>', 'g') AS clean
        |  FROM dirty)
        |SELECT doc_id, clean FROM clean
        |WHERE contains(clean, '<EMAIL>') AND contains(clean, '<IP>') AND contains(clean, '<NUM>')
        |ORDER BY doc_id""".stripMargin,
    "t07_line_dedup" ->
      """WITH nd AS (SELECT count(*) AS n FROM documents),
        |freq AS (
        |  SELECT w FROM (
        |    SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
        |    FROM documents) t
        |  GROUP BY w HAVING count(DISTINCT doc_id) > (SELECT n FROM nd) * 6 // 10),
        |words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |kept AS (
        |  SELECT doc_id, count(*) AS kept_words FROM words
        |  WHERE w NOT IN (SELECT w FROM freq) GROUP BY doc_id)
        |SELECT d.doc_id,
        |CAST(coalesce(k.kept_words, 0) AS BIGINT) AS kept_words,
        |CAST(len(string_split(d.text, ' ')) AS BIGINT) AS total_words
        |FROM documents d LEFT JOIN kept k ON d.doc_id = k.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "t09_compression" ->
      s"""WITH pins(sf_n, csv) AS (VALUES
        |  (500, '${OraclePins.deflate500}'),
        |  (5000, '${OraclePins.deflate5000}')),
        |sel AS (SELECT string_split(csv, ',') AS s FROM pins
        |  WHERE sf_n = (SELECT count(*) FROM documents)),
        |dz AS (SELECT i - 1 AS doc_id, CAST(s[i] AS INT) AS n_deflate
        |  FROM sel, unnest(generate_series(1, len(s))) AS t(i)),
        |b AS (
        |  SELECT doc_id,
        |    CASE WHEN len(string_split(text, ' ')) < 2 THEN []
        |    ELSE list_transform(range(1, len(string_split(text, ' '))),
        |      i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1]) END AS bigrams,
        |    len(string_split(text, ' ')) - 1 AS total
        |  FROM documents)
        |SELECT d.doc_id,
        |CAST(round(CAST(z.n_deflate AS DOUBLE) / octet_length(CAST(d.text AS BLOB)) * 1e6, 0) AS BIGINT) / 1e6 AS deflate_ratio,
        |CASE WHEN b.total <= 0 THEN 0.0
        |ELSE round(1.0 - len(list_distinct(b.bigrams)) / CAST(b.total AS DOUBLE), 6) END AS rep_ratio
        |FROM documents d JOIN dz z USING (doc_id) JOIN b USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "t08_repetition" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    CASE WHEN len(string_split(text, ' ')) < 2 THEN []
        |    ELSE list_transform(range(1, len(string_split(text, ' '))),
        |      i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1]) END AS bigrams,
        |    len(string_split(text, ' ')) - 1 AS total
        |  FROM documents)
        |SELECT doc_id,
        |CASE WHEN total <= 0 THEN 0.0
        |ELSE round(1.0 - len(list_distinct(bigrams)) / CAST(total AS DOUBLE), 6) END AS rep_ratio
        |FROM b ORDER BY doc_id""".stripMargin,
    "t04_sample_stratified" ->
      """SELECT doc_id, lang FROM documents
        |WHERE (lang = 'en' AND substring(md5(text), 1, 2) < '40')
        |   OR (lang <> 'en' AND substring(md5(text), 1, 2) < '10')
        |ORDER BY doc_id""".stripMargin,
    "t05_token_histogram" ->
      """SELECT CAST(len(string_split(text, ' ')) // 10 * 10 AS BIGINT) AS bucket,
        |count(*) AS n_docs,
        |CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
        |FROM documents GROUP BY 1 ORDER BY bucket""".stripMargin,
    "t25_countmin_heavy" ->
      """WITH words AS (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents),
        |sk AS (
        |  SELECT j,
        |    ('0x' || substr(md5('cm0|' || word), 1 + j * 8, 8))::BIGINT % 1024
        |      AS bucket,
        |    count(*) AS c
        |  FROM words, unnest(generate_series(0, 3)) AS t(j)
        |  GROUP BY 1, 2),
        |top AS (
        |  SELECT word, count(*) AS n_exact FROM words
        |  GROUP BY word ORDER BY n_exact DESC, word LIMIT 20)
        |SELECT t.word, t.n_exact, min(sk.c) AS n_est
        |FROM top t, unnest(generate_series(0, 3)) AS g(j)
        |JOIN sk ON sk.j = g.j
        |  AND sk.bucket =
        |    ('0x' || substr(md5('cm0|' || t.word), 1 + g.j * 8, 8))::BIGINT % 1024
        |GROUP BY t.word, t.n_exact
        |ORDER BY n_exact DESC, word""".stripMargin,
    "a06_approx_distinct" -> {
      val p = graft.operators.HyperLogLog.oracleLeg(
        "lineitem", "l_returnflag", "l_partkey", "p", "approx_parts")
      val s = graft.operators.HyperLogLog.oracleLeg(
        "lineitem", "l_returnflag", "l_suppkey", "s", "approx_supps")
      s"""WITH est_p AS ($p),
         |est_s AS ($s)
         |SELECT rf AS l_returnflag, approx_parts, approx_supps
         |FROM est_p JOIN est_s USING (rf)
         |ORDER BY l_returnflag""".stripMargin
    },
    // a34: the same shifted 2^20 quantization as the Spark side, floor
    // integer centroids, nearest-other argmin, signed nonneg-ppm readout
    "a34_silhouette" ->
      """WITH q AS (SELECT vec_id, label,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      x -> CAST(round(x * 1048576, 0) AS BIGINT) + 2097152) AS qv
        |  FROM embeddings),
        |n AS (SELECT label, count(*) AS n FROM q GROUP BY 1),
        |e AS (SELECT label, unnest(qv) AS x,
        |    unnest(range(1, len(qv) + 1)) AS pos FROM q),
        |sd AS (SELECT label, pos, CAST(sum(x) AS BIGINT) AS sd
        |  FROM e GROUP BY 1, 2),
        |cq AS (SELECT s.label AS m_label, list(s.sd // n.n ORDER BY s.pos) AS cq
        |  FROM sd s JOIN n ON n.label = s.label GROUP BY s.label),
        |d AS (SELECT q.vec_id, q.label, c.m_label,
        |    list_sum(list_transform(range(1, len(q.qv) + 1),
        |      i -> (q.qv[i] - c.cq[i]) * (q.qv[i] - c.cq[i]))) AS d2
        |  FROM q CROSS JOIN cq c),
        |own AS (SELECT vec_id, label, d2 AS a2 FROM d WHERE label = m_label),
        |oth AS (SELECT vec_id, m_label AS nearest_other, d2 AS b2 FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY d2, m_label) AS rn
        |    FROM d WHERE label <> m_label) WHERE rn = 1)
        |SELECT w.vec_id, w.label, o.nearest_other,
        |  CASE WHEN greatest(a2, b2) = 0 THEN NULL
        |       WHEN b2 >= a2 THEN
        |         CAST(((b2 - a2)::HUGEINT * 1000000) // greatest(a2, b2) AS BIGINT)
        |       ELSE
        |         -CAST(((a2 - b2)::HUGEINT * 1000000) // greatest(a2, b2) AS BIGINT)
        |  END AS s_ppm
        |FROM own w JOIN oth o ON w.vec_id = o.vec_id
        |ORDER BY w.vec_id""".stripMargin,
    "a07_centroids" ->
      """WITH e AS (SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS x,
        |  unnest(range(0, len(embedding))) AS pos FROM embeddings),
        |m AS (SELECT label, pos,
        |  CAST(sum(CAST(x AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS mval
        |  FROM e GROUP BY label, pos)
        |SELECT label,
        |round(max(CASE WHEN pos = 0 THEN mval END), 9) AS c0,
        |round(max(CASE WHEN pos = 1 THEN mval END), 9) AS c1,
        |round(max(CASE WHEN pos = 2 THEN mval END), 9) AS c2,
        |CAST(count(*) AS INT) AS dim
        |FROM m GROUP BY label ORDER BY label""".stripMargin,
    "a05_embed_quantize" ->
      """WITH d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |m AS (SELECT vec_id, v,
        |  list_aggregate(list_transform(v, x -> abs(x)), 'max') AS max_abs FROM d),
        |qd AS (SELECT vec_id, v, max_abs,
        |  list_transform(v, x -> CAST(round(x * 127.0 / max_abs, 0) AS BIGINT)) AS q
        |  FROM m)
        |SELECT vec_id, round(max_abs, 6) AS max_abs,
        |q[1] AS q0, q[2] AS q1,
        |round(list_aggregate(list_transform(range(1, len(v) + 1),
        |  i -> abs(v[i] - q[i] * max_abs / 127.0)), 'max'), 9) AS max_err
        |FROM qd ORDER BY vec_id""".stripMargin,
    "a04_vector_stats" ->
      """WITH d AS (SELECT label,
        |  sqrt(list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS norm,
        |  len(embedding) AS dim
        |  FROM embeddings)
        |SELECT label, count(*) AS n_vectors,
        |round(min(norm), 6) AS min_norm,
        |round(max(norm), 6) AS max_norm,
        |CAST(round(sum(CAST(norm AS DECIMAL(18,12))), 6) AS DOUBLE) AS sum_norm,
        |count(DISTINCT dim) AS n_dims
        |FROM d GROUP BY label ORDER BY label""".stripMargin,
    "d01_dedup_exact" ->
      """WITH planted AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents)
        |SELECT min(doc_id) AS kept_id, count(*) AS n_copies
        |FROM planted GROUP BY sha256(text) ORDER BY kept_id""".stripMargin,
    "d02_dedup_jaccard" -> exactJaccardPairsSql,
    "d21_cosine_dedup" ->
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_transform(
        |    generate_series(1, len(string_split(text, ' ')) - 2),
        |    i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))) AS s
        |  FROM documents),
        |tf0 AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5('tc|' || s), 1, 15))::BIGINT AS h,
        |    count(*) AS tf
        |  FROM sh GROUP BY 1, 2),
        |keep AS (SELECT h FROM tf0 GROUP BY h HAVING count(*) <= 64),
        |tf AS (SELECT tf0.* FROM tf0 JOIN keep USING (h)),
        |nrm AS (SELECT doc_id, sum(tf * tf) AS n2 FROM tf GROUP BY 1),
        |dots AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
        |  FROM tf a JOIN tf b ON a.h = b.h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT id_a, id_b, dot,
        |    CAST((CAST(dot AS HUGEINT) * dot * 1000000) //
        |      (CAST(x.n2 AS HUGEINT) * y.n2) AS BIGINT) AS cos2_ppm
        |  FROM dots JOIN nrm x ON x.doc_id = id_a
        |  JOIN nrm y ON y.doc_id = id_b)
        |SELECT id_a, id_b, dot, cos2_ppm FROM scored
        |WHERE cos2_ppm >= 640000 ORDER BY id_a, id_b""".stripMargin,
    // d23: d21's pair replay folded to min-id stars — one row per
    // involved doc, rep_id = min(partners ∪ self)
    "d23_cosine_links" ->
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_transform(
        |    generate_series(1, len(string_split(text, ' ')) - 2),
        |    i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))) AS s
        |  FROM documents),
        |tf0 AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5('tc|' || s), 1, 15))::BIGINT AS h,
        |    count(*) AS tf
        |  FROM sh GROUP BY 1, 2),
        |keep AS (SELECT h FROM tf0 GROUP BY h HAVING count(*) <= 64),
        |tf AS (SELECT tf0.* FROM tf0 JOIN keep USING (h)),
        |nrm AS (SELECT doc_id, sum(tf * tf) AS n2 FROM tf GROUP BY 1),
        |dots AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
        |  FROM tf a JOIN tf b ON a.h = b.h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT id_a, id_b FROM dots
        |  JOIN nrm x ON x.doc_id = id_a JOIN nrm y ON y.doc_id = id_b
        |  WHERE CAST((CAST(dot AS HUGEINT) * dot * 1000000) //
        |    (CAST(x.n2 AS HUGEINT) * y.n2) AS BIGINT) >= 640000),
        |e AS (SELECT id_a AS id, id_b AS nb FROM p
        |  UNION ALL SELECT id_b, id_a FROM p),
        |m AS (SELECT id, min(nb) AS mn FROM e GROUP BY 1)
        |SELECT least(mn, id) AS rep_id, id FROM m ORDER BY id""".stripMargin,
    // d20: prefix filtering changes the PLAN, not the answer — the
    // inverted-index SQL is the oracle for both exact-pair plans
    "d20_prefix_join" -> exactJaccardPairsSql,
    // d19: the FULL band-plan sweep replay — one 32-bit md5 base hash
    // per (doc, shingle), the spliced universal-hash lane constants,
    // d22: the full KMV-resemblance replay — t40's shingle+hash CTEs,
    // per-source bottom-256 rank, union bottom-k per pair, the same
    // membership count and ppm floor division
    "d22_kmv_jaccard" ->
      """WITH sh AS (
        |  SELECT source, list_distinct(list_transform(
        |    generate_series(1, len(string_split(text,' ')) - 2),
        |    i -> array_to_string(string_split(text,' ')[i:i+2], ' '))) AS shingles
        |  FROM documents),
        |g AS (SELECT DISTINCT source,
        |    ('0x' || substr(md5(unnest(shingles)), 1, 15))::BIGINT AS h FROM sh),
        |sk AS MATERIALIZED (SELECT source, h FROM (
        |    SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn
        |    FROM g) WHERE rn <= 256),
        |srcs AS (SELECT DISTINCT source FROM sk),
        |pairs AS (SELECT a.source AS sa, b.source AS sb
        |  FROM srcs a JOIN srcs b ON a.source < b.source),
        |u AS (SELECT sa, sb, h, max(in_a) AS in_a, max(in_b) AS in_b FROM (
        |    SELECT p.sa, p.sb, s.h, 1 AS in_a, 0 AS in_b
        |    FROM pairs p JOIN sk s ON s.source = p.sa
        |    UNION ALL
        |    SELECT p.sa, p.sb, s.h, 0 AS in_a, 1 AS in_b
        |    FROM pairs p JOIN sk s ON s.source = p.sb)
        |  GROUP BY 1, 2, 3),
        |tu AS (SELECT * FROM (
        |    SELECT u.*, row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rn
        |    FROM u) WHERE rn <= 256)
        |SELECT sa AS source_a, sb AS source_b,
        |  CAST(count(*) AS BIGINT) AS k_used,
        |  CAST(sum(in_a * in_b) AS BIGINT) AS n_common,
        |  CAST((sum(in_a * in_b) * 1000000) // count(*) AS BIGINT)
        |    AS jaccard_est_ppm
        |FROM tu GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // same i-ordered band keys, same d02 exact pair set; the candidate
    // counts themselves are hash-checked per plan
    "d19_band_plan" -> {
      val laneRows = graft.operators.Dedup.bandPlanLanes(64)
        .map { case (i, a, b) => s"($i, $a, $b)" }.mkString(",\n    ")
      s"""WITH ${jaccardCoreCtes("id")},
        |lanes(h, la, lb) AS (VALUES
        |    $laneRows),
        |base AS (SELECT id, ('0x' || substr(md5('mh|' || shingle), 1, 8))::BIGINT AS b
        |  FROM ex),
        |mh AS MATERIALIZED (
        |  SELECT e.id, l.h, min((l.la * e.b + l.lb) % 2147483647) AS mh
        |  FROM base e CROSS JOIN lanes l GROUP BY 1, 2),
        |plans(b, r) AS (VALUES (32, 2), (16, 4), (8, 8)),
        |bkey AS MATERIALIZED (
        |  SELECT p.b, p.r, m.id, m.h // p.r AS band,
        |    md5(string_agg(CAST(m.mh AS VARCHAR), ',' ORDER BY m.h)) AS bkey
        |  FROM mh m CROSS JOIN plans p GROUP BY 1, 2, 3, 4),
        |cand AS MATERIALIZED (
        |  SELECT DISTINCT a.b, a.r, a.id AS id_a, c.id AS id_b
        |  FROM bkey a JOIN bkey c
        |    ON a.b = c.b AND a.r = c.r AND a.band = c.band
        |      AND a.bkey = c.bkey AND a.id < c.id),
        |ep AS MATERIALIZED (
        |  SELECT id_a, id_b FROM inter
        |  JOIN sz sa ON sa.id = id_a JOIN sz sb ON sb.id = id_b
        |  WHERE n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.5),
        |nc AS (SELECT b, r, count(*) AS n_candidates FROM cand GROUP BY 1, 2),
        |nt AS (SELECT c.b, c.r, count(*) AS n_true
        |  FROM cand c JOIN ep USING (id_a, id_b) GROUP BY 1, 2),
        |ne AS (SELECT count(*) AS n_exact FROM ep)
        |SELECT p.b AS bands, p.r AS rows_per_band,
        |  COALESCE(nc.n_candidates, 0) AS n_candidates,
        |  COALESCE(nt.n_true, 0) AS n_true,
        |  ne.n_exact,
        |  CASE WHEN ne.n_exact = 0 THEN NULL
        |    ELSE round(COALESCE(nt.n_true, 0) / CAST(ne.n_exact AS DOUBLE), 6) END AS recall
        |FROM plans p CROSS JOIN ne
        |LEFT JOIN nc ON nc.b = p.b AND nc.r = p.r
        |LEFT JOIN nt ON nt.b = p.b AND nt.r = p.r
        |ORDER BY bands""".stripMargin
    },
    // the MinHash-LSH path's verified output must EQUAL the exact pair
    // set at full recall (64 hashes / 16 bands at threshold 0.5;
    // CurationSpec proves it) — so the exact SQL is its oracle too, and
    // any future recall loss fails this row instead of hiding
    "d03_dedup_minhash" -> exactJaccardPairsSql,
    "d08_dedup_clusters" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, len(string_split(text,' ')) - 2),
        |    i -> array_to_string(string_split(text,' ')[i:i+2], ' '))) AS shingles
        |  FROM documents),
        |ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
        |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |sz AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
        |pairs AS (
        |  SELECT id_a, id_b
        |  FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |  WHERE n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.5),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(id, lab) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, r.lab FROM edges e JOIN reach r ON r.id = e.dst),
        |cc AS (SELECT id, min(lab) AS cluster_id FROM reach GROUP BY id)
        |SELECT id, cluster_id,
        |count(*) OVER (PARTITION BY cluster_id) AS cluster_size
        |FROM cc ORDER BY id""".stripMargin,
    "d09_dedup_keep" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, len(string_split(text,' ')) - 2),
        |    i -> array_to_string(string_split(text,' ')[i:i+2], ' '))) AS shingles
        |  FROM documents),
        |ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
        |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |sz AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
        |pairs AS (
        |  SELECT id_a, id_b
        |  FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |  WHERE n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.5),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(id, lab) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, r.lab FROM edges e JOIN reach r ON r.id = e.dst),
        |cc AS (SELECT id, min(lab) AS cluster_id FROM reach GROUP BY id)
        |SELECT d.doc_id,
        |coalesce(cc.cluster_id, d.doc_id) AS cluster_id,
        |CAST(d.doc_id = coalesce(cc.cluster_id, d.doc_id) AS INT) AS keep
        |FROM documents d LEFT JOIN cc ON cc.id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "d11_dup_by_source" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, len(string_split(text,' ')) - 2),
        |    i -> array_to_string(string_split(text,' ')[i:i+2], ' '))) AS shingles
        |  FROM documents),
        |ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
        |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |sz AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
        |pairs AS (
        |  SELECT id_a, id_b
        |  FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |  WHERE n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.5),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(id, lab) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, r.lab FROM edges e JOIN reach r ON r.id = e.dst),
        |cc AS (SELECT id, min(lab) AS cluster_id FROM reach GROUP BY id),
        |keep AS (
        |  SELECT d.doc_id, d.source,
        |    CAST(d.doc_id = coalesce(cc.cluster_id, d.doc_id) AS INT) AS keep
        |  FROM documents d LEFT JOIN cc ON cc.id = d.doc_id)
        |SELECT source, count(*) AS n_docs,
        |CAST(sum(keep) AS BIGINT) AS n_kept,
        |round((count(*) - sum(keep)) / CAST(count(*) AS DOUBLE), 6) AS dup_rate
        |FROM keep GROUP BY source ORDER BY source""".stripMargin,
    "d05_dedup_embedding" ->
      """WITH planted AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id % 10 = 0),
        |d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM planted)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |round(list_cosine_similarity(a.v, b.v), 6) AS cosine
        |FROM d a JOIN d b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.95
        |ORDER BY id_a, id_b""".stripMargin,
    "d07_dedup_embedding_lsh" ->
      """WITH planted AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id % 10 = 0),
        |d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM planted)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |round(list_cosine_similarity(a.v, b.v), 6) AS cosine
        |FROM d a JOIN d b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.95
        |ORDER BY id_a, id_b""".stripMargin,
    "a32_knn_graph" ->
      """WITH d AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round(list_cosine_similarity(q.v, c.v), 6) AS score
        |  FROM d q JOIN d c ON q.label = c.label AND q.vec_id <> c.vec_id),
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
        |  FROM scored),
        |e AS (SELECT query_id, neighbor_id, score, rank FROM ranked
        |  WHERE rank <= 5),
        |m AS (SELECT a.query_id, count(*) AS n_mutual
        |  FROM e a JOIN e b ON a.neighbor_id = b.query_id
        |    AND b.neighbor_id = a.query_id
        |  GROUP BY 1)
        |SELECT e.query_id AS vec_id, e.neighbor_id AS nn1_id,
        |  e.score AS nn1_score,
        |  CAST(coalesce(m.n_mutual, 0) AS BIGINT) AS n_mutual
        |FROM e LEFT JOIN m ON m.query_id = e.query_id
        |WHERE e.rank = 1 ORDER BY vec_id""".stripMargin,
    "a03_ann_ivf" ->
      """WITH d AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round(list_cosine_similarity(q.v, c.v), 6) AS score
        |  FROM d q JOIN d c
        |    ON q.vec_id < 5 AND q.vec_id <> c.vec_id AND q.label = c.label),
        |ranked AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS INT) AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, score, rank FROM ranked
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "a38_filtered_search" ->
      """WITH d AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round(list_cosine_similarity(q.v, c.v), 6) AS score
        |  FROM d q JOIN d c ON q.vec_id < 5 AND q.vec_id <> c.vec_id
        |    AND q.label = c.label),
        |ranked AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS INT) AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, score, rank FROM ranked
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "a01_ann_bruteforce" ->
      """WITH d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round(list_cosine_similarity(q.v, c.v), 6) AS score
        |  FROM d q JOIN d c ON q.vec_id < 5 AND q.vec_id <> c.vec_id),
        |ranked AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS INT) AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, score, rank FROM ranked
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "t01_text_profile" ->
      s"""SELECT doc_id,
         |CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
         |CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS re_tokens,
         |CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS BIGINT) AS punct_chars,
         |round(length(regexp_replace(text, ' ', '', 'g')) / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS mean_word_len,
         |round($qualitySql, 6) AS quality,
         |CASE
         |  WHEN en >= de AND en >= es AND en >= fr AND en > 0 THEN 'en'
         |  WHEN de >= es AND de >= fr AND de > 0 THEN 'de'
         |  WHEN es >= fr AND es > 0 THEN 'es'
         |  WHEN fr > 0 THEN 'fr'
         |  ELSE 'und' END AS lang_guess,
         |md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS bow_fp
         |FROM (
         |  SELECT *,
         |    len(list_filter(string_split(text,' '), w -> list_contains(['the','a','is','and','of'], w))) AS en,
         |    len(list_filter(string_split(text,' '), w -> list_contains(['der','die','das','und','ist'], w))) AS de,
         |    len(list_filter(string_split(text,' '), w -> list_contains(['el','la','que','y','es'], w))) AS es,
         |    len(list_filter(string_split(text,' '), w -> list_contains(['le','la','et','est','les'], w))) AS fr
         |  FROM documents)
         |ORDER BY doc_id""".stripMargin,
    "t02_quality_by_lang" ->
      s"""SELECT lang, count(*) AS n_docs,
         |round(avg(round($qualitySql, 6)), 6) AS avg_quality,
         |CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)
}
