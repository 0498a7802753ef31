package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Product-quantization ANN: model determinism, encoding contract,
  * asymmetric-distance ranking, recall vs exact brute force. */
class PqSpec extends AnyFunSuite with graft.SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"

  private def emb = graft.Tables.embeddings(spark, sfDir)
    .select(col("vec_id"), col("embedding"))

  test("fit is deterministic and shaped (m x k x subDim)") {
    val a = ProductQuantizer.fit(emb, "vec_id", "embedding", m = 8, k = 16, iterations = 2)
    val b = ProductQuantizer.fit(emb, "vec_id", "embedding", m = 8, k = 16, iterations = 2)
    assert(a.m === 8 && a.k === 16 && a.subDim === 8)
    assert(a.codebooks.length === 8 && a.codebooks.forall(_.length === 16) &&
      a.codebooks.forall(_.forall(_.length === 8)))
    // exact-decimal centroid means make the trainer bit-reproducible
    assert(a.codebooks.flatten.flatten.toSeq === b.codebooks.flatten.flatten.toSeq)
  }

  test("local-regime fit ≡ distributed fit, bit for bit (r13)") {
    // the r13 local regime (bounded collect + driver subspace Lloyd's)
    // must reproduce the distributed trainer exactly — init slices,
    // per-subspace argmin tie-breaks, decimal-quantized means,
    // empty-cell keep-previous
    val local = ProductQuantizer.fit(emb, "vec_id", "embedding",
      m = 8, k = 16, iterations = 2)
    spark.conf.set("spark.graft.trainer.localFitMaxValues", "1")
    val dist = try ProductQuantizer.fit(emb, "vec_id", "embedding",
        m = 8, k = 16, iterations = 2)
      finally spark.conf.unset("spark.graft.trainer.localFitMaxValues")
    assert(local.m === dist.m && local.k === dist.k && local.subDim === dist.subDim)
    assert(local.codebooks.flatten.flatten.toSeq === dist.codebooks.flatten.flatten.toSeq)
    // and through the full IVF-PQ trainer (coarse kmeans + residual PQ)
    val mLocal = ProductQuantizer.fitIvfPqExact(emb, "vec_id", "embedding",
      coarseK = 8, m = 8, k = 8, iterations = 2)
    spark.conf.set("spark.graft.trainer.localFitMaxValues", "1")
    val mDist = try ProductQuantizer.fitIvfPqExact(emb, "vec_id", "embedding",
        coarseK = 8, m = 8, k = 8, iterations = 2)
      finally spark.conf.unset("spark.graft.trainer.localFitMaxValues")
    assert(mLocal.centsQ.flatten.toSeq === mDist.centsQ.flatten.toSeq)
    assert(mLocal.booksQ.flatten.flatten.toSeq === mDist.booksQ.flatten.flatten.toSeq)
  }

  test("fewer vectors than k: effective k shrinks (KMeans convention), " +
      "no crash (r9 regression)") {
    // 5 vectors, k = 16: the codebook rebuild used to index
    // codebooks(s)(c) for never-seeded codes c >= 5 and threw AIOOBE
    val small = emb.limit(5)
    val m5 = ProductQuantizer.fit(small, "vec_id", "embedding",
      m = 8, k = 16, iterations = 2)
    assert(m5.k === 5 && m5.codebooks.forall(_.length === 5))
    // the shrunk model still encodes and searches coherently
    val codes = ProductQuantizer.encode(small, "vec_id", "embedding", m5)
      .collect()
    assert(codes.forall(_.getSeq[Int](1).forall(c => c >= 0 && c < 5)))
  }

  test("encode emits one in-range code per subspace") {
    val model = ProductQuantizer.fit(emb, "vec_id", "embedding", m = 8, k = 16)
    val codes = ProductQuantizer.encode(emb, "vec_id", "embedding", model)
    assert(codes.count() === emb.count())
    val bad = codes.filter(
      size(col("codes")) =!= 8 ||
        exists(col("codes"), c => c < 0 || c >= 16)).count()
    assert(bad === 0)
  }

  test("a planted exact duplicate of the query ranks first") {
    val model = ProductQuantizer.fit(emb, "vec_id", "embedding", m = 8, k = 16)
    // clone query vector 0 under a fresh id: identical vectors encode to
    // identical codes, so the clone's ADC distance equals the query's own
    // quantization error — the minimum any code list can reach
    val q = emb.filter(col("vec_id") === 0)
    val planted = emb.unionAll(q.withColumn("vec_id", lit(1000000L)))
    val codes = ProductQuantizer.encode(planted, "vec_id", "embedding", model)
    val top = ProductQuantizer.adcTopK(q, codes, model, "vec_id", "embedding", topK = 3)
      .filter(col("rank") === 1).head()
    assert(top.getLong(top.fieldIndex("neighbor_id")) === 1000000L,
      s"clone must rank 1, got $top")
  }

  test("raw ADC vs refined recall@10: refine buys back what quantization loses") {
    val model = ProductQuantizer.fit(emb, "vec_id", "embedding", m = 8, k = 16, iterations = 2)
    val codes = ProductQuantizer.encode(emb, "vec_id", "embedding", model)
    val queries = emb.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopKExec(queries, emb, "vec_id", "embedding", k = 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
        .intersect(exact).size.toDouble / exact.size
    // raw ADC: bounded by quantization error — tight 8x16 codebooks on
    // near-random 64-dim unit vectors land around 0.3 (the tripwire is
    // a floor against silent scoring regressions, not a quality target)
    val raw = recallOf(ProductQuantizer.adcTopK(
      queries, codes, model, "vec_id", "embedding", topK = 10))
    assert(raw >= 0.15, s"raw ADC recall collapsed: $raw")
    // shortlist-100 + exact re-rank: the production search shape
    // (measured 0.94 on this corpus)
    val refined = recallOf(ProductQuantizer.adcTopKRefined(
      queries, codes, emb, model, "vec_id", "embedding", shortlist = 100, topK = 10))
    assert(refined >= 0.8, s"refined recall collapsed: $refined")
    assert(refined > raw, "refine must improve on raw ADC here")
  }
}
