package graft.operators

import graft.core.Caching.LedgerOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate/exact nearest-neighbor search over an embedding column
  * (north-star similarity search; the reference documents but never
  * implemented `/images/search`, README.md:318-348 — SURVEY §7 quirk 9).
  *
  * Paths:
  *  - [[bruteForceTopK]]: exact cosine top-k — broadcast the (small)
  *    query set against the corpus, one pass, window top-k. The 100 TB
  *    shape: corpus stays partitioned, queries broadcast, no corpus
  *    shuffle before the per-query top-k (TakeOrdered per group).
  *  - [[signLshTopK]]: random-hyperplane (sign) LSH — bucket the corpus
  *    once (pure Catalyst bit arithmetic), probe only matching buckets,
  *    exact re-rank inside. Sub-linear probe cost at scale.
  */
object Similarity {

  /** Cosine similarity of two array columns via the native
    * [[graft.functions.CosineSimilarity]] expression: single codegen'd
    * pass, left-to-right accumulation in double (deterministic order for
    * cross-engine parity). Inputs need not be normalized. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.cosineSimilarity(a, b)

  private def asDouble(vecCol: String): Column =
    expr(s"transform($vecCol, x -> cast(x as double))")

  /** Exact top-k cosine neighbors for each query row.
    * `queries`/`corpus`: (id, vec). Self-matches (same id) are excluded.
    * Output: (query_id, neighbor_id, score, rank), rank 1..k by
    * (score desc, neighbor_id) — total order for determinism. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), asDouble(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), asDouble(vecCol).as("cv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("score", round(cosine(col("qv"), col("cv")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("score"), col("rank"))
  }

  /** FILTERED exact vector search — the metadata-constrained top-k
    * every production vector store serves (the reference uploads
    * `source_document` payloads to Pinecone/Qdrant/Weaviate for exactly
    * this): per query, rank only candidates whose `filterCol` equals
    * the query's own. The predicate lives IN the join condition, so
    * candidates prune BEFORE the cosine fan-out — per query the scored
    * set is the SEGMENT, not the corpus, which at 100 TB is the
    * difference between |corpus|·|queries| and Σ|segment|. Same
    * TopKPerKey bounded-heap prune as [[bruteForceTopKExec]]; output
    * (query_id, neighbor_id, score, rank). */
  def filteredBruteForceTopK(queries: DataFrame, corpus: DataFrame,
                             idCol: String, vecCol: String,
                             filterCol: String, k: Int): DataFrame =
    bruteForceTopKExec(queries, corpus, idCol, vecCol, k,
      filterCol = Some(filterCol))

  /** Exact top-k via the custom [[graft.plans.TopKPerKeyNode]] operator:
    * bounded per-key heaps, partial phase before the shuffle — only
    * ≤ k·|queries| survivor rows per input partition are exchanged, and
    * nothing is globally sorted (the window form shuffles and sorts every
    * scored row). Rank is attached afterwards on the tiny result. With
    * `filterCol` set, the metadata equality joins alongside the
    * self-exclusion, pruning candidates to the query's segment BEFORE
    * the cosine fan-out (the [[filteredBruteForceTopK]] contract). */
  def bruteForceTopKExec(queries: DataFrame, corpus: DataFrame, idCol: String,
                         vecCol: String, k: Int,
                         filterCol: Option[String] = None): DataFrame = {
    val q = queries.select(
      Seq(col(idCol).as("query_id"), asDouble(vecCol).as("qv")) ++
        filterCol.map(f => col(f).as("qf")): _*)
    val c = corpus.select(
      Seq(col(idCol).as("neighbor_id"), asDouble(vecCol).as("cv")) ++
        filterCol.map(f => col(f).as("cf")): _*)
    val cond = filterCol
      .map(_ => col("query_id") =!= col("neighbor_id") && col("qf") === col("cf"))
      .getOrElse(col("query_id") =!= col("neighbor_id"))
    val scored = c.join(broadcast(q), cond)
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("cv")), 6).as("score"))
    // attribute binding lives in TopKPerKey.prune (r9 review: this
    // method hand-rolled the same node construction and lacked the
    // k >= 1 fail-fast prune carries)
    val topk = graft.plans.TopKPerKey.prune(
      scored, "query_id", "score", "neighbor_id", k)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    topk
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("score"), col("rank"))
  }

  /** Sign-LSH bucket id: `nPlanes` deterministic hyperplanes; bit j is
    * the sign of the FIXED-POINT dot product vq · plane_j, where
    * vq = round(v·2^20) and plane_j(d) = the high 32 bits of
    * xxhash64(seed, j, d) — the native codegen'd [[graft.functions
    * .SignPlanesCode]] expression, no shuffle, one projection. The
    * integer form is
    * engine-exact (the a12/a14 principle): a SQL twin holding the plane
    * literals ([[signLshPlanes]]) replays every bucket bit-for-bit,
    * with no float-summation-order or sign-boundary hazard. Bounds:
    * |v| ≲ 500 keeps dim·|vq·plane| inside BIGINT (2^20 · 2^9 · 2^31 ·
    * 2^6 = 2^66 would overflow at |v| ≈ 2^12; embeddings are unit-ish). */
  def signLshBucket(vecCol: String, dim: Int, nPlanes: Int, seed: Long = 42L): Column =
    // coalesce preserves the SQL form's NULL-vector edge: a null array
    // made every CASE fall to the 0 bit (code 0, row still joinable on
    // bucket 0 — what the plane-literal oracles replay); the native
    // expression is a null-intolerant UnaryExpression and would emit
    // NULL, silently dropping the row from every bucket equi-join
    coalesce(
      graft.functions.GraftFunctions.signPlanesCode(col(vecCol), dim, nPlanes, seed),
      lit(0L))

  /** The interpreted SQL form [[signLshBucket]] compiled away — kept
    * (test-only) as the semantic pin: SignCodeSpec asserts the native
    * [[graft.functions.SignPlanesCode]] equals this expression on every
    * vector, including the short/null edges. The nested HOFs here are
    * CodegenFallback — at nPlanes = 64 they ran 4096 interpreted lambda
    * dispatches per row (a28's original 5.6 s at sf0.1). */
  private[graft] def signLshBucketSqlForm(vecCol: String, dim: Int,
                                          nPlanes: Int, seed: Long): Column =
    expr(
      s"""aggregate(sequence(0, ${nPlanes - 1}), 0L, (acc, j) ->
         |  acc + shiftleft(
         |    CASE WHEN aggregate(sequence(0, ${dim - 1}), 0L,
         |      (s, d) -> s + cast(round(cast(element_at($vecCol, d + 1) as double) * 1048576, 0) as bigint) *
         |        shiftright(xxhash64($seed, j, d), 32)) >= 0L
         |    THEN 1L ELSE 0L END, j))""".stripMargin)

  /** The plane matrix [[signLshBucket]] folds over, materialized
    * driver-side (one 1-row job running the SAME expression text, so
    * the xxhash64 argument typing cannot drift) — for splicing into an
    * oracle as literals. planes(j)(d) = xxhash64(seed, j, d) >> 32. */
  def signLshPlanes(spark: org.apache.spark.sql.SparkSession, dim: Int,
                    nPlanes: Int, seed: Long = 42L): Array[Array[Long]] =
    spark.range(1).select(expr(
      s"""transform(sequence(0, ${nPlanes - 1}), j ->
         |  transform(sequence(0, ${dim - 1}), d ->
         |    shiftright(xxhash64($seed, j, d), 32)))""".stripMargin).as("p"))
      .collect()(0).getSeq[scala.collection.Seq[Long]](0)
      .map(_.toArray).toArray

  /** ANN via sign-LSH: bucket corpus and queries with the same planes,
    * join on bucket, exact cosine re-rank within the bucket, top-k.
    * Recall is tunable via `nPlanes` (fewer planes = bigger buckets =
    * higher recall, more compute). */
  def signLshTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                  vecCol: String, dim: Int, k: Int, nPlanes: Int = 8,
                  seed: Long = 42L): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), asDouble(vecCol).as("qv"),
      signLshBucket(vecCol, dim, nPlanes, seed).as("bucket"))
    val c = corpus.select(col(idCol).as("neighbor_id"), asDouble(vecCol).as("cv"),
      signLshBucket(vecCol, dim, nPlanes, seed).as("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", round(cosine(col("qv"), col("cv")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    // bounded-heap prune before the ranking window (the a01 shape):
    // the shuffle carries survivors, not every bucket candidate
    graft.plans.TopKPerKey.prune(scored, "query_id", "score", "neighbor_id", k)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("score"), col("rank"))
  }

  /** IVF-style coarse quantization using an existing categorical column
    * (e.g. a cluster label) as the inverted list key: probe only the
    * query's list. Exact within-list re-rank. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, listCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), asDouble(vecCol).as("qv"),
      col(listCol).as("ivf_list"))
    val c = corpus.select(col(idCol).as("neighbor_id"), asDouble(vecCol).as("cv"),
      col(listCol).as("ivf_list"))
    val scored = c.join(broadcast(q), Seq("ivf_list"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", round(cosine(col("qv"), col("cv")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    // survivors-only shuffle; a multi-probe query's candidates stay
    // distinct (each corpus vector lives in exactly one list), so the
    // prune-then-rank result equals the full window
    graft.plans.TopKPerKey.prune(scored, "query_id", "score", "neighbor_id", k)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("score"), col("rank"))
  }

  /** k-NN GRAPH construction — every corpus vector's exact top-k
    * within its inverted list, the artifact semantic clustering,
    * graph-based dedup, and NN-descent seeding all start from. Unlike
    * [[ivfTopK]] (few queries → broadcast the query side), BOTH sides
    * here are the corpus, so the candidate join is a plain shuffle
    * equi-join on the list key — each list co-locates and joins with
    * itself, no broadcast of anything corpus-sized — and the bounded
    * heap prunes to k survivors per vector BEFORE the ranking window
    * sees a row. Per-list pair volume is Σ n_l² (the d03 hot-bucket
    * shape): a skewed list needs the same maxBucketDf-style guard or a
    * finer quantizer; the gate corpus's label lists are balanced by
    * construction. */
  def knnGraphEdges(corpus: DataFrame, idCol: String, vecCol: String,
                    listCol: String, k: Int): DataFrame = {
    val a = corpus.select(col(idCol).as("query_id"), asDouble(vecCol).as("qv"),
      col(listCol).as("ivf_list"))
    val b = corpus.select(col(idCol).as("neighbor_id"), asDouble(vecCol).as("cv"),
      col(listCol).as("ivf_list"))
    val scored = a.join(b, Seq("ivf_list"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", round(cosine(col("qv"), col("cv")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    graft.plans.TopKPerKey.prune(scored, "query_id", "score", "neighbor_id", k)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("score"), col("rank"))
  }

  /** Johnson–Lindenstrauss sign random projection — the standard
    * dimensionality reduction for embedding columns (Achlioptas 2003:
    * ±1 entries preserve pairwise distances in expectation like Gaussian
    * ones, and the projection is one integer dot product per output
    * dimension). The k×d sign matrix derives from MD5 parities of
    * "rp{j}_{d}", computed ONCE on the driver and baked into the plan as
    * literals — deterministic across engines (the t17 md5 principle),
    * free at row scope, and reproducible from the seed strings alone.
    *
    * Engine-exactness: float32 inputs are exact in double; each value is
    * quantized to 2⁻²⁰ units (round(v·2²⁰) as BIGINT), the dot product
    * is pure integer arithmetic (order-free), and the de-scale divides
    * by a power of two — exact in IEEE — so outputs are bit-identical
    * across engines with no rounding step at all.
    *
    * Scale posture: entirely scan-local — one narrow projection, no
    * shuffle, no UDF; the matrix rides in the plan (k·d ints), not in a
    * join. The 100 TB shape for "shrink every embedding 4×".
    *
    * Output: (id, proj_dim 1..k, y) long-format. */
  def signProjection(vectors: DataFrame, idCol: String, vecCol: String,
                     dim: Int, k: Int, seed: String = "rp"): DataFrame =
    // the k dot products come from ONE codegen'd native expression
    // ([[graft.functions.SignProjectDots]] — r12 verdict #6: the old
    // form evaluated k interpreted nested-aggregate() HOFs per row,
    // CodegenFallback, most of the 7.7× ×10-rows slope); same
    // quantization, signs, and integer sums, so outputs are
    // bit-identical (ProjectionSpec pins it) and the 2⁻²⁰ de-scale
    // stays an exact power-of-two division
    vectors
      .select(col(idCol).as("id"),
        graft.functions.GraftFunctions.signProjectDots(
          col(vecCol), dim, k, seed).as("dots"))
      .select(col("id"), posexplode(col("dots")).as(Seq("pos", "sy")))
      .select(col("id"), (col("pos") + 1).cast("long").as("proj_dim"),
        (col("sy").cast("double") / 1048576).as("y"))

  /** BM25 top-k lexical retrieval (Robertson & Spärck Jones probabilistic
    * ranking; the Okapi BM25 shape every full-text engine ships) with a
    * RATIONAL idf — idf(t) = (N − df + 0.5)/(df + 0.5) instead of
    * ln(1 + (N − df + 0.5)/(df + 0.5)) — for the t15 reason: ln is not
    * correctly rounded and differs across libm implementations, while the
    * rational form is two adds and one IEEE division, bit-identical in
    * every engine. The transform is monotone in the classic idf, so
    * single-term rankings are unchanged and multi-term rankings simply
    * weight rare terms more sharply (documented variant, not an accident).
    *
    * Engine-exactness of the SUM: float addition is not associative, so
    * summing per-term double contributions in engine-dependent order
    * would break cross-engine hashes. Each (query, doc, term)
    * contribution — idf(t) · tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl)),
    * every factor a deterministic IEEE expression of integers — is
    * rounded to a scaled BIGINT (×10⁶) BEFORE aggregation; integer
    * addition is order-free, and the final score is the exact quotient
    * scaled back. Ranking orders by the integer, so the cut is exact too.
    *
    * Scale posture: the corpus never shuffles for candidate generation —
    * corpus words are filtered map-side against the broadcast query
    * vocabulary, so the only shuffled rows are (doc, query-term) hits;
    * df and the N/Σdl scalars are query-vocab-sized / single-row
    * aggregates re-broadcast (q13 pattern); candidates prune through the
    * bounded-heap [[graft.plans.TopKPerKey]] operator before the ranking
    * window, so the final sort sees ≤ k rows per query.
    *
    * Output: (query_id, doc_id, bm25, rank), rank 1..k by
    * (score desc, doc_id). Docs sharing no term with the query simply
    * don't appear (score would be 0). */
  def bm25TopK(queries: DataFrame, corpus: DataFrame,
               idCol: String, textCol: String,
               qIdCol: String, qTextCol: String,
               k: Int, k1: Double = 1.2, b: Double = 0.75,
               persistTf: Boolean = true,
               excludeSelf: Boolean = false): DataFrame = {
    val c = corpus.select(col(idCol).as("doc_id"), col(textCol).as("dtext"),
      // native count — size(split(...)) materialized the token array
      // for every corpus doc inside the tf scan (r13)
      graft.functions.GraftFunctions.wordCount(col(textCol))
        .cast("long").as("dl"))
    val q = queries.select(col(qIdCol).as("query_id"), col(qTextCol).as("qtext"))

    // single-row corpus stats, broadcast (no driver collect)
    val stats = c.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))

    // terms live as 8-byte xxhash64 keys from the scan projection on —
    // strings never shuffle or join (the d10 convention)
    // (query_id, term-hash) rows COLLECTED once (query-vocab-sized —
    // the same bound the broadcast the old plan built already assumed)
    // and re-planted as a LocalRelation: the scoring fan-out join
    // broadcasts it without re-deriving the query frame inside the
    // action, and the sorted vocabulary array falls out driver-side
    // with no extra distinct job. The vocabulary feeds the scan-local
    // term_tfs pass: per-doc (term, tf) pairs computed IN the corpus
    // scan, replacing explode(all words) → xxhash64 →
    // broadcast-semi-join → groupBy(doc, term).count() — that chain
    // was the retrieval family's dominant cost (a11: 37 s executor
    // CPU at sf0.1). Same (doc_id, ht, tf, dl) rows, engine-exact
    // (same XXH64 seed-42 word hashes Spark's xxhash64 computes).
    // persist: tf feeds both the df aggregation and the weight join —
    // without it the corpus scan runs twice (the t15 pattern). Callers
    // invoking bm25TopK repeatedly in one session pass persistTf=false
    // (per-call cache entries are only freed by unpersist and would
    // otherwise accumulate for the session's life — the sequencePack
    // persistToks convention).
    val qtermsPlan = q.select(col("query_id"),
        explode(array_distinct(split(col("qtext"), " "))).as("term"))
      .select(col("query_id"), xxhash64(col("term")).as("ht"))
    val qtermRows = qtermsPlan.collectAsList()
    val spark = queries.sparkSession
    val qterms = spark.createDataFrame(qtermRows, qtermsPlan.schema)
    val vocab: Array[Long] = {
      import scala.jdk.CollectionConverters._
      val a = qtermRows.asScala.map(_.getLong(1)).toArray.distinct
      java.util.Arrays.sort(a)
      a
    }
    val tfRaw = c.select(col("doc_id"), col("dl"),
        explode(graft.functions.GraftFunctions.termTfs(col("dtext"), vocab))
          .as("e"))
      .select(col("doc_id"), col("e.ht").as("ht"), col("e.tf").as("tf"),
        col("dl"))
    val tf =
      if (persistTf)
        tfRaw.persistLedgered()
      else tfRaw
    val df = tf.groupBy(col("ht")).agg(count(lit(1)).as("df"))

    // per-(doc, term) weight — idf·tf-norm is QUERY-INDEPENDENT, so the
    // float work runs on the (doc, term) table BEFORE the query fan-out
    // (dense query vocabularies fan each row out to every query sharing
    // the term; evaluating first costs |tf| evaluations instead of
    // |tf|·|queries-per-term|). Scaled to integer here, so downstream is
    // integer-only and order-free.
    val weights = tf
      .join(broadcast(df), Seq("ht"))
      .crossJoin(broadcast(stats))
      .withColumn("c", expr(
        // D suffixes force DOUBLE literals (bare 0.5/1.2 would parse as
        // DECIMAL in both engines and change the arithmetic); the
        // operation sequence mirrors the DuckDB oracle token-for-token
        s"""cast(round(((n_docs - df + 0.5D) / (df + 0.5D)) *
           |  (tf * (${k1}D + 1) / (tf + ${k1}D * (1 - ${b}D + ${b}D * dl /
           |    (cast(sum_dl as double) / n_docs)))) * 1e6, 0) as bigint)"""
          .stripMargin))
    val scoredAll = weights
      .join(broadcast(qterms), Seq("ht"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("c")).as("score_scaled"))
      .withColumn("bm25", round(col("score_scaled").cast("double") / 1e6, 6))
    // excludeSelf ranks among NON-self docs (queries drawn from the
    // corpus otherwise waste rank 1 on their own source — the a35
    // bake-off wants retrieval quality, not identity lookup)
    val scored =
      if (excludeSelf) scoredAll.filter(col("doc_id") =!= col("query_id"))
      else scoredAll
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_scaled").desc, col("doc_id"))
    // the heap prune compares score_scaled AS BIGINT (TopKPerKey keeps
    // native orderings), so prune and window agree exactly at any
    // magnitude — no 2^53 widening bound
    graft.plans.TopKPerKey
      .prune(scored, "query_id", "score_scaled", "doc_id", k)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("bm25"), col("rank"))
  }

  /** Hybrid lexical+vector retrieval with reciprocal-rank fusion — the
    * standard hybrid-search shape of modern vector stores (and the
    * retrieval mode the reference's vector-DB sinks feed). Each leg
    * produces a per-query candidate ranking:
    *
    *  - lexical: candidates share ≥1 distinct term with the query,
    *    ranked by (shared distinct terms desc, Σ document-frequency of
    *    the shared terms asc — rarer terms win ties — then id). All
    *    integer comparisons: engine-exact by construction.
    *  - vector: exact cosine (the [[bruteForceTopK]] shape).
    *
    * Fusion scores 1/(rrfK + rank_lex) + 1/(rrfK + rank_vec) (Cormack
    * et al. 2009, rrfK = 60), a missing leg contributing 0 — two IEEE
    * divisions and one add, so fused scores are engine-exact too (the
    * t15 rational-score principle).
    *
    * Scale posture: the query set broadcasts twice (term postings and
    * vectors) — the corpus never shuffles for candidate generation;
    * document frequencies are computed for QUERY terms only (map-side
    * partial agg over one corpus-terms scan, a query-vocabulary-sized
    * result re-broadcast); the lexical leg shuffles only aggregated
    * (query, doc, n_shared, df_sum) tuples and the vector leg prunes
    * through the bounded-heap [[graft.plans.TopKPerKey]] operator, so
    * its shuffle carries ≤ depth·|queries| survivors.
    *
    * Output: (query_id, doc_id, n_shared, rank_lex, rank_vec,
    * cos_score, rrf, rank), rank 1..k by (rrf desc, doc_id); a leg the
    * doc didn't reach within `depth` reports rank 0 / score 0. */
  /** Hard-negative mining (a33) — the contrastive-training data
    * primitive (cf. Karpukhin et al., "Dense Passage Retrieval",
    * EMNLP'20 §3.2: BM25-retrieved non-positives are the negatives
    * that teach a dual encoder the most): per query, the documents
    * the LEXICAL ranker scores highest ([[bm25TopK]], depth
    * `lexDepth`, self excluded) that are NOT semantic neighbors (not
    * in the exact cosine top-`posK` — the positive proxy when no
    * labels exist). Lexically magnetic but semantically far is
    * exactly the "hard" axis. Output: top `negK` negatives per query
    * in BM25 order — (query_id, doc_id, bm25, bm25_rank, neg_rank).
    *
    * Scale posture: both legs are the proven a11/a10 shapes
    * (broadcast query vocab, bounded-heap prune); the set difference
    * is a left-anti join on (query, doc) — candidate-bounded, never
    * corpus-bounded. */
  def hardNegatives(queries: DataFrame, corpus: DataFrame,
                    idCol: String, textCol: String, vecCol: String,
                    qIdCol: String, qTextCol: String, qVecCol: String,
                    lexDepth: Int = 20, posK: Int = 10, negK: Int = 5)
  : DataFrame = {
    val q = queries.select(col(qIdCol).as("query_id"),
      col(qTextCol).as("qtext"), asDouble(qVecCol).as("qv"))
    // excludeSelf ranks among non-self docs BEFORE the depth cut, so
    // the source doc never consumes a candidate slot (a35's semantics;
    // a post-rank filter would silently leave depth−1 candidates)
    val lex = bm25TopK(
        q.select(col("query_id"), col("qtext")),
        corpus.select(col(idCol), col(textCol)),
        idCol, textCol, "query_id", "qtext", k = lexDepth,
        excludeSelf = true)
    val scoredVec = corpus
      .select(col(idCol).as("doc_id"), asDouble(vecCol).as("cv"))
      .join(broadcast(q.select(col("query_id"), col("qv"))),
        col("query_id") =!= col("doc_id"))
      .select(col("query_id"), col("doc_id"),
        round(cosine(col("qv"), col("cv")), 6).as("cos_score"))
    val wVec = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_score").desc, col("doc_id"))
    val pos = graft.plans.TopKPerKey
      .prune(scoredVec, "query_id", "cos_score", "doc_id", posK)
      .withColumn("rank_vec", row_number().over(wVec))
      .filter(col("rank_vec") <= posK)
      .select(col("query_id"), col("doc_id"))
    val wNeg = Window.partitionBy(col("query_id")).orderBy(col("rank"))
    lex.join(pos, Seq("query_id", "doc_id"), "left_anti")
      .withColumn("neg_rank", row_number().over(wNeg).cast("long"))
      .filter(col("neg_rank") <= negK)
      .select(col("query_id"), col("doc_id"), col("bm25"),
        col("rank").as("bm25_rank"), col("neg_rank"))
      .orderBy(col("query_id"), col("neg_rank"))
  }

  def hybridTopK(queries: DataFrame, corpus: DataFrame,
                 idCol: String, textCol: String, vecCol: String,
                 qIdCol: String, qTextCol: String, qVecCol: String,
                 k: Int, depth: Int, rrfK: Int = 60,
                 precomputedScoredVec: Option[DataFrame] = None): DataFrame = {
    require(depth >= k, "leg depth must be >= final k")
    val q = queries.select(col(qIdCol).as("query_id"),
      col(qTextCol).as("qtext"), asDouble(qVecCol).as("qv"))
    val c = corpus.select(col(idCol).as("doc_id"),
      col(textCol).as("dtext"), asDouble(vecCol).as("cv"))

    // --- lexical leg --- terms live as 8-byte xxhash64 keys (the d10
    // convention bm25TopK already follows; the string-keyed form
    // re-shuffled corpus words as strings), and the corpus side is the
    // scan-local term_tfs pass against the broadcast sorted query
    // vocabulary — only matched DISTINCT (doc, term) rows ever leave
    // the scan (tf is ignored here: the leg counts shared distinct
    // terms). Same rows as explode(array_distinct)+semi-join.
    val qtermsPlan = q.select(col("query_id"),
        explode(array_distinct(split(col("qtext"), " "))).as("term"))
      .select(col("query_id"), xxhash64(col("term")).as("ht"))
    // collected once, re-planted as a LocalRelation (the bm25TopK
    // convention): one job instead of per-consumer query-frame scans
    val qtermRows = qtermsPlan.collectAsList()
    val spark = queries.sparkSession
    val qterms = spark.createDataFrame(qtermRows, qtermsPlan.schema)
    val vocab: Array[Long] = {
      import scala.jdk.CollectionConverters._
      val a = qtermRows.asScala.map(_.getLong(1)).toArray.distinct
      java.util.Arrays.sort(a)
      a
    }
    // two consumers (the df census and the hits fan-out): persist so
    // the corpus scan runs once
    val cterms = c.select(col("doc_id"),
        explode(graft.functions.GraftFunctions.termTfs(col("dtext"), vocab))
          .as("e"))
      .select(col("doc_id"), col("e.ht").as("ht"))
      .persistLedgered()
    // df over query terms only: query-vocab-sized result re-broadcast
    val dfq = cterms.groupBy(col("ht")).agg(count(lit(1)).as("df"))
    val hits = cterms
      .join(broadcast(qterms), Seq("ht"))
      .join(broadcast(dfq), Seq("ht"))
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_shared"), sum(col("df")).as("df_sum"))
    val wLex = Window.partitionBy(col("query_id"))
      .orderBy(col("n_shared").desc, col("df_sum").asc, col("doc_id"))
    val lex = hits.withColumn("rank_lex", row_number().over(wLex))
      .filter(col("rank_lex") <= depth)
      .select(col("query_id"), col("doc_id"), col("n_shared"), col("rank_lex"))

    // --- vector leg (the a01 broadcast + bounded-heap shape); callers
    // that already own the (query_id, doc_id, cos_score) scan — a35
    // derives its truth set from the same leg — pass it in (the
    // ivfPqExact precomputedResid convention) so the corpus×queries
    // cosine fan-out runs once, not twice ---
    val scoredVec = precomputedScoredVec.getOrElse(
      c.select(col("doc_id"), col("cv"))
        .join(broadcast(q.select(col("query_id"), col("qv"))),
          col("query_id") =!= col("doc_id"))
        .select(col("query_id"), col("doc_id"),
          round(cosine(col("qv"), col("cv")), 6).as("cos_score")))
    val wVec = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_score").desc, col("doc_id"))
    val vec = graft.plans.TopKPerKey
      .prune(scoredVec, "query_id", "cos_score", "doc_id", depth)
      .withColumn("rank_vec", row_number().over(wVec))
      .filter(col("rank_vec") <= depth)
      .select(col("query_id"), col("doc_id"), col("cos_score"), col("rank_vec"))

    // --- reciprocal-rank fusion ---
    val fused = lex.join(vec, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(rrfK) + col("rank_lex")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("rank_vec")), lit(0.0)), 6))
    val wF = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(wF))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).cast("long").as("n_shared"),
        coalesce(col("rank_lex"), lit(0)).cast("long").as("rank_lex"),
        coalesce(col("rank_vec"), lit(0)).cast("long").as("rank_vec"),
        coalesce(col("cos_score"), lit(0.0)).as("cos_score"),
        col("rrf"), col("rank").cast("long").as("rank"))
  }

  /** MMR (maximal marginal relevance, Carbonell & Goldstein 1998)
    * result diversification at λ = 0.5: from each query's top-`poolK`
    * exact-cosine candidates, greedily select `selectK` maximizing
    * `rel(c) − max_{s ∈ selected} sim(c, s)` (first pick by pure
    * relevance; ties by id). The de-duplication step retrieval feeds
    * into RAG/labeling pipelines — near-identical top hits waste the
    * result budget.
    *
    * Engine-exactness: relevance and pair similarities are the a01
    * convention (`round(cos, 6)` doubles), so both engines subtract
    * and compare IDENTICAL bit patterns; the greedy trace is then
    * deterministic and the DuckDB twin ([[mmrOracleSql]]) replays it
    * step by step as unrolled CTEs (the g01 unrolled-iteration
    * pattern).
    *
    * Scale posture: the candidate pools are k-bounded per query (the
    * heavy lifting is a01's bounded-heap top-k); pair similarities and
    * the greedy loop run on |queries|·poolK² bounded rows — the greedy
    * itself is a per-query scalar UDF over collected ≤poolK-element
    * arrays, never a corpus operation. */
  def mmrDiversify(queries: DataFrame, corpus: DataFrame, idCol: String,
                   vecCol: String, poolK: Int, selectK: Int): DataFrame = {
    require(selectK >= 1 && selectK <= poolK, "need 1 <= selectK <= poolK")
    // ids normalize to BIGINT up front (the binaryHammingTopK/adcTopK
    // convention): the greedy pick UDF below reads Row.getLong, and an
    // int/short id column reached it as a ClassCastException task death
    // (r9 review). Output ids surface as bigint accordingly.
    val q = queries.select(col(idCol).cast("long").as(idCol), col(vecCol))
    val cor = corpus.select(col(idCol).cast("long").as(idCol), col(vecCol))
    // three consumers (pair self-join ×2, grouped pools): persist so the
    // brute-force top-k runs once, and so all three see ONE result even
    // if a future candidate generator is nondeterministic — the pick
    // UDF's sim lookups assume pairs and pools come from the same pool
    val cands = bruteForceTopKExec(q, cor, idCol, vecCol, poolK)
      .persistLedgered()
    val vecs = cor.select(col(idCol).as("vid"), asDouble(vecCol).as("v"))
    val candIds = cands.select(col("neighbor_id").as("vid")).distinct()
    val candVecs = vecs.join(broadcast(candIds), "vid")
    val pairs = cands.as("c1")
      .join(cands.as("c2"),
        col("c1.query_id") === col("c2.query_id") &&
          col("c1.neighbor_id") < col("c2.neighbor_id"))
      .select(col("c1.query_id").as("query_id"),
        col("c1.neighbor_id").as("a"), col("c2.neighbor_id").as("b"))
      .join(broadcast(candVecs.select(col("vid").as("a"), col("v").as("va"))), "a")
      .join(broadcast(candVecs.select(col("vid").as("b"), col("v").as("vb"))), "b")
      .select(col("query_id"), col("a"), col("b"),
        round(cosine(col("va"), col("vb")), 6).as("s"))
    val spark = queries.sparkSession
    val pick = org.apache.spark.sql.functions.udf(
      (cs: Seq[org.apache.spark.sql.Row], ss: Seq[org.apache.spark.sql.Row]) => {
        val rel = cs.map(r => r.getLong(0) -> r.getDouble(1)).toMap
        val sim = scala.collection.mutable.HashMap[(Long, Long), Double]()
        ss.foreach { r =>
          val (a, b, s) = (r.getLong(0), r.getLong(1), r.getDouble(2))
          sim((a, b)) = s; sim((b, a)) = s
        }
        val picked = scala.collection.mutable.ArrayBuffer[Long]()
        val remaining = scala.collection.mutable.TreeSet[Long]() ++ rel.keys
        while (picked.length < selectK && remaining.nonEmpty) {
          // first pick: pure relevance (an empty selected set has no
          // max-sim term — NOT a 0.0 stand-in, which would misorder
          // against negative cosines)
          val best = remaining.minBy { c =>
            val score = if (picked.isEmpty) rel(c)
              else rel(c) - picked.map { p =>
                // every (candidate, picked) pair exists by construction;
                // fail with the pair named rather than a bare
                // NoSuchElementException task death if that ever breaks
                sim.getOrElse((c, p), throw new IllegalStateException(
                  s"mmrDiversify: missing pair similarity ($c, $p) — " +
                    "candidate pool and pair table diverged"))
              }.max
            (-score, c)
          }
          picked += best
          remaining -= best
        }
        picked.toSeq
      })
      // pure, but marked nondeterministic for the same reason as
      // KMeans.assignExact (r12): the posexplode's inferred
      // size(...)>0 / isnotnull constraints otherwise push below the
      // Project and re-run the whole greedy selection per group in the
      // Filter — the plan dump showed the UDF three times in one plan
      .asNondeterministic()
    val grouped = cands
      .groupBy(col("query_id"))
      .agg(collect_list(struct(col("neighbor_id"), col("score"))).as("cs"))
      .join(pairs.groupBy(col("query_id"))
        .agg(collect_list(struct(col("a"), col("b"), col("s"))).as("ss")),
        Seq("query_id"), "left_outer")
      .select(col("query_id"),
        pick(col("cs"), coalesce(col("ss"),
          expr("cast(array() as array<struct<a:bigint,b:bigint,s:double>>)")))
          .as("picked"))
    grouped.select(col("query_id"),
        posexplode(col("picked")).as(Seq("pos", "doc_id")))
      .select(col("query_id"), col("doc_id"),
        (col("pos") + 1).cast("long").as("mmr_rank"))
  }

  /** The DuckDB replay of [[mmrDiversify]]: candidate pools + pair
    * sims by the a01 cosine convention, then `selectK` unrolled greedy
    * steps (each a window argmax over the not-yet-picked candidates
    * against the previous step's picked list). */
  def mmrOracleSql(maxQueryId: Int, poolK: Int, selectK: Int): String = {
    val steps = (2 to selectK).map { n =>
      // the UNION ALL leg carries exhausted queries forward: a pool
      // smaller than selectK must emit its PARTIAL pick list (the
      // Scala greedy stops at remaining.isEmpty), not vanish
      s"""s$n AS MATERIALIZED (
         |  SELECT c.q, list_append(p.picked, c.id) AS picked FROM (
         |    SELECT c.q, c.id,
         |      row_number() OVER (PARTITION BY c.q ORDER BY
         |        c.rel - (SELECT max(s) FROM sym
         |                 WHERE sym.q = c.q AND sym.x = c.id
         |                   AND list_contains(p.picked, sym.y)) DESC, c.id) AS rn
         |    FROM cands c JOIN s${n - 1} p ON p.q = c.q
         |    WHERE NOT list_contains(p.picked, c.id)) c
         |  JOIN s${n - 1} p ON p.q = c.q WHERE c.rn = 1
         |  UNION ALL
         |  SELECT p.q, p.picked FROM s${n - 1} p
         |  WHERE NOT EXISTS (SELECT 1 FROM cands c
         |    WHERE c.q = p.q AND NOT list_contains(p.picked, c.id)))""".stripMargin
    }.mkString(",\n")
    val stepsSql = if (steps.isEmpty) "" else ",\n" + steps
    s"""WITH d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cands AS MATERIALIZED (
       |  SELECT query_id AS q, neighbor_id AS id, score AS rel FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      round(list_cosine_similarity(q.v, c.v), 6) AS score,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY round(list_cosine_similarity(q.v, c.v), 6) DESC,
       |          c.vec_id) AS rank
       |    FROM d q JOIN d c ON q.vec_id < $maxQueryId AND q.vec_id <> c.vec_id)
       |  WHERE rank <= $poolK),
       |sym AS MATERIALIZED (
       |  SELECT c1.q, c1.id AS x, c2.id AS y,
       |    round(list_cosine_similarity(d1.v, d2.v), 6) AS s
       |  FROM cands c1 JOIN cands c2 ON c1.q = c2.q AND c1.id <> c2.id
       |  JOIN d d1 ON d1.vec_id = c1.id JOIN d d2 ON d2.vec_id = c2.id),
       |s1 AS MATERIALIZED (
       |  SELECT q, [id] AS picked FROM (
       |    SELECT q, id, row_number() OVER (PARTITION BY q
       |      ORDER BY rel DESC, id) AS rn FROM cands) WHERE rn = 1)$stepsSql
       |SELECT q AS query_id, unnest(picked) AS doc_id,
       |  CAST(generate_subscripts(picked, 1) AS BIGINT) AS mmr_rank
       |FROM s$selectK
       |ORDER BY query_id, mmr_rank""".stripMargin
  }

  /** Exact PHRASE search over a positional inverted index — the IR
    * operator BM25's bag-of-words scoring cannot express: a document
    * matches only where the query's words appear CONSECUTIVELY. The
    * classic positional-postings trick: a posting (doc, pos) for the
    * phrase's word at offset o votes for anchor `pos − o`; an anchor
    * collecting one vote per phrase offset is a full occurrence.
    *
    * Scale posture: corpus positions are filtered to the QUERY'S terms
    * (broadcast semi-join) before anything shuffles — the shuffled
    * volume is the query terms' postings, not the corpus; the
    * vote-count aggregate map-side combines on (query, doc, anchor).
    * Phrases with repeated words work (each offset votes once; a
    * position can't vote twice for one anchor).
    *
    * `phrases`: (query_id, phrase) with single-space-separated words.
    * Output: (query_id, doc_id, n_hits ≥ 1) — occurrence counts. */
  def phraseSearch(docs: DataFrame, idCol: String, textCol: String,
                   phrases: DataFrame): DataFrame = {
    val qterms = phrases.select(col("query_id"),
      posexplode(split(col("phrase"), " ")).as(Seq("offset", "term")))
    val lens = phrases.select(col("query_id"),
      size(split(col("phrase"), " ")).as("__len"))
    val terms = qterms.select(col("term")).distinct()
    val postings = docs
      .select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), " ")).as(Seq("pos", "term")))
      .join(broadcast(terms), "term")
    postings.join(broadcast(qterms), "term")
      .select(col("query_id"), col("doc_id"),
        (col("pos") - col("offset")).as("anchor"))
      .groupBy(col("query_id"), col("doc_id"), col("anchor"))
      .agg(count(lit(1)).as("__votes"))
      .join(broadcast(lens), "query_id")
      .filter(col("__votes") === col("__len"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Binary-quantized ANN (a28) — the 1-bit-per-plane compression path
    * every vector store now ships ("binary quantization"): each vector
    * becomes a 64-bit sign code against the [[signLshBucket]] plane
    * family (64 planes = one BIGINT — 32× smaller than float32 at
    * d=64), candidate distance is XOR-popcount hamming (one integer op
    * per pair against the a01 path's d multiply-adds), and a
    * `shortlist` of hamming-nearest candidates is re-ranked with exact
    * cosine — the Sq8/PQ refine shape with the cheapest codes of all.
    *
    * Engine-exact: the code bits are fixed-point integer dot-product
    * signs (the a02 discipline — plane literals splice into the
    * oracle, which counts per-plane disagreements instead of packing:
    * popcount(xor) ≡ Σ_j [bit_j differs], sidestepping DuckDB's
    * HUGEINT list_sum promotion on the 2⁶³ bit), the shortlist order
    * is (hamming, neighbor_id) — total, integer — and the refine is
    * the shared round-6 cosine.
    *
    * Scale posture: codes are scan-local projections; the corpus scan
    * carries 8-byte codes into the bounded-heap [[graft.plans
    * .TopKPerKey]] prune (≤ shortlist rows per query per partition
    * shuffle); full vectors are read only for shortlist members. */
  def binaryHammingTopK(queries: DataFrame, corpus: DataFrame,
                        idCol: String, vecCol: String, dim: Int,
                        shortlist: Int, topK: Int,
                        seed: Long = 42L): DataFrame = {
    require(shortlist >= topK, "shortlist must be at least topK")
    // null vectors OUT before coding (r9 review): signLshBucket
    // coalesces a null vector to code 0L, which looks hamming-close to
    // sparse queries and pollutes the shortlist with unverifiable rows
    // (cosine(q, null) is null in the refine) — the
    // cosinePairsLsh/pairwiseDiversity discipline applied here
    val code = signLshBucket(vecCol, dim, nPlanes = 64, seed)
    val c = corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("neighbor_id"), code.as("ccode"))
    val q = queries.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("query_id"), code.as("qcode"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        expr("cast(bit_count(qcode ^ ccode) as bigint)").as("ham"))
    val ws = Window.partitionBy(col("query_id"))
      .orderBy(col("ham").asc, col("neighbor_id"))
    val candidates = graft.plans.TopKPerKey.prune(
        scored.withColumn("neg_ham", -col("ham")),
        "query_id", "neg_ham", "neighbor_id", shortlist)
      .withColumn("rn", row_number().over(ws))
      .filter(col("rn") <= shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val qv = queries.select(col(idCol).cast("long").as("query_id"),
      asDouble(vecCol).as("qv"))
    val cv = corpus.select(col(idCol).cast("long").as("neighbor_id"),
      asDouble(vecCol).as("cv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    candidates
      .join(cv, "neighbor_id")
      .join(broadcast(qv), "query_id")
      .withColumn("score", round(cosine(col("qv"), col("cv")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("neighbor_id"), col("score"), col("rank"))
  }

  /** Exact cosine RANGE search (a26) — every corpus vector within
    * cosine ≥ `threshold` of each query: FAISS's `range_search`, the
    * radius companion of top-k. Dedup sweeps want "everything this
    * close" and calibrated-retrieval evaluation wants fixed-radius
    * sets; top-k can answer neither (k clips dense neighborhoods and
    * pads sparse ones with junk).
    *
    * Scale posture: queries broadcast (bounded query set), the corpus
    * NEVER shuffles — scoring is scan-local and the only exchanged
    * rows are the qualifying matches, so cost is one corpus scan +
    * output volume (range ops are output-bound by nature). Same
    * arithmetic as [[bruteForceTopK]]: the codegen'd left-to-right
    * double cosine, the threshold applied to the UNROUNDED value (the
    * d05 convention both engines replay), round-6 only in the
    * reported score. The sub-linear path at 100 TB is the same one
    * d07 proves for pairs: [[signLshBucket]] the corpus once, probe
    * matching buckets, verify with this exact cosine. */
  def rangeSearch(queries: DataFrame, corpus: DataFrame, idCol: String,
                  vecCol: String, threshold: Double): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), asDouble(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), asDouble(vecCol).as("cv"))
    c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("__cos", cosine(col("qv"), col("cv")))
      .filter(col("__cos") >= threshold)
      .select(col("query_id"), col("neighbor_id"),
        round(col("__cos"), 6).as("score"))
  }

  /** Corpus self-similarity / diversity readout (a27) — MEAN PAIRWISE
    * COSINE per label WITHOUT a pair space. For unit vectors,
    *   Σ_{i<j} u_i·u_j = (‖Σ_i u_i‖² − Σ_i ‖u_i‖²) / 2,
    * so the all-pairs mean needs only per-dimension component sums and
    * one squared-norm total: |labels|·d cells of state stand in for
    * n²/2 pairs — the identity that keeps "how redundant is this
    * corpus?" readable at 100 TB, where any materialized-pair plan is
    * dead on arrival (SemDeDup-style dedup decisions start from
    * exactly this statistic).
    *
    * EXACT (the t33 discipline end to end): raw components quantize to
    * 2²⁰ fixed point ([[graft.operators.Drift.quantize]] — the shared
    * builder), the squared norm is summed in INTEGER space (order-free,
    * so no engine's list-summation order matters), unit scaling is one
    * IEEE sqrt + one divide on exact inputs (both engines correctly
    * rounded), and every aggregate is DECIMAL(38). The mean is reported
    * in ppm of the 2⁴⁰ unit square via floor division, with the
    * numerator offset by +2·n_pairs·2⁴⁰ first so it is provably
    * nonnegative (cosine ≥ −1−ε) — integral division semantics on
    * NEGATIVE operands is exactly the cross-engine boundary the offset
    * sidesteps.
    *
    * Output: (label, n, n_pairs, pair_dot_sum2, mean_cos_ppm) — the
    * exact numerator rides along so a consumer can re-derive any other
    * denominator without rescanning. `pair_dot_sum2` is TWICE the pair
    * dot sum (ss − t, always even), deliberately undivided: Spark's
    * decimal division (ss − t)/2 yields DECIMAL(38,6) — 32 integer
    * digits — so halving silently truncates past ~10³², 45× below the
    * operator's own DECIMAL(38) aggregate ceiling (ss ≤ n²·2⁴⁰ binds
    * at n ≈ 10¹³ vectors/label; the halved form bound at n ≈ 2·10¹¹).
    * The doubled numerator keeps the full 38 digits, and it is emitted
    * as its canonical digit string (the Drift.tv_num convention: raw
    * decimal cells hash differently across engines even when equal). */
  def pairwiseDiversity(vectors: DataFrame, labelCol: String,
                        vecCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    val q20 = 1L << 20
    val q40 = 1L << 40
    val uq = vectors
      .filter(col(vecCol).isNotNull)
      .withColumn("__q", graft.operators.Drift.quantize(vecCol))
      // exact integer norm²: q_d² ≤ 2⁴², ×64 dims < 2⁴⁹ — BIGINT-safe,
      // and integer summation is order-free (no list_sum-order hazard)
      .withColumn("__n2",
        expr("aggregate(__q, 0L, (acc, x) -> acc + x * x)"))
      .filter(col("__n2") > 0)
      // unit-quantize: q_d·2²⁰ ≤ 2⁴¹ is double-exact; sqrt and the one
      // divide are IEEE correctly-rounded in both engines. The scalar
      // sqrt(__n2) rides in via array_repeat — a collection argument,
      // evaluated ONCE — because a lambda-body reference would let
      // ProjectCollapse inline the whole __n2 aggregate per element
      // (the a25/Sq8 failure mode, d² here: measured 3.9 → 0.9 s)
      .withColumn("uq", expr(
        s"zip_with(__q, array_repeat(sqrt(__n2), size(__q)), " +
          s"(x, n) -> cast(round(x * ${q20}.0D / n, 0) as bigint))"))
      .select(col(labelCol).as("label"), col("uq"))
    // the only corpus-sized aggregate: per-(label, dim) sums, map-side
    // combined to |labels|·d cells
    // cast INSIDE the sums (the oracle's HUGEINT discipline): x ≤ 2²⁰
    // so x² ≤ 2⁴⁰, and a BIGINT sum would silently wrap past ~2²³
    // same-label rows — exactly the 100 TB regime this operator exists
    // for
    val cell = uq
      .select(col("label"), posexplode(col("uq")).as(Seq("d", "x")))
      .groupBy(col("label"), col("d"))
      .agg(sum(col("x").cast(d38)).cast(d38).as("s"),
        sum(col("x").cast(d38) * col("x").cast(d38)).cast(d38).as("t"),
        count(lit(1)).as("n"))
    cell.groupBy(col("label"))
      .agg(sum(col("s") * col("s")).cast(d38).as("ss"),
        sum(col("t")).cast(d38).as("t"),
        // n is per (label, d) and constant across d ONLY when every
        // vector carries every component — enforced loudly below
        // instead of assumed (r9 review: one truncated vector made the
        // Σ-sum identity and max(n) disagree and the ppm was silently
        // wrong)
        max(col("n")).as("n"),
        min(col("n")).as("__n_min"))
      .withColumn("n", when(col("n") === col("__n_min"), col("n"))
        .otherwise(raise_error(concat(lit("pairwiseDiversity: label "),
          col("label").cast("string"),
          lit(" has ragged vector lengths — every vector must carry " +
            "every component")))))
      .drop("__n_min")
      .withColumn("n_pairs", expr("(n * (n - 1)) div 2"))
      // ss − t = 2·Σ_{i<j} dot by construction (always even); kept
      // UNDIVIDED — see the scaladoc — and the ppm derivation uses the
      // doubled denominator, an identical rational so an identical
      // floor: ((2P + 4·np·2⁴⁰)·10⁶) div (2·np·2⁴⁰) ≡
      // ((P + 2·np·2⁴⁰)·10⁶) div (np·2⁴⁰) when the numerator is even
      .withColumn("pair_dot_sum2", (col("ss") - col("t")).cast(d38))
      .withColumn("mean_cos_ppm",
        when(col("n_pairs") === 0, lit(null).cast("long"))
          // split-form ([[ExactArith]]): naive ·10⁶ overflows at
          // numerator > 10³²; the offset numerator is nonneg by the
          // cosine ≥ −1−ε bound, so the split identity is exact
          .otherwise(expr(
            "CAST(" + graft.operators.ExactArith.scaledFloorDivSql(
              s"pair_dot_sum2 + 4 * CAST(n_pairs AS DECIMAL(38,0)) * ${q40}L",
              s"2 * CAST(n_pairs AS DECIMAL(38,0)) * ${q40}L", 1000000L) +
              " - 2000000 AS BIGINT)")))
      .select(col("label"), col("n"), col("n_pairs"),
        col("pair_dot_sum2").cast("string").as("pair_dot_sum2"),
        col("mean_cos_ppm"))
      .orderBy(col("label"))
  }
}
