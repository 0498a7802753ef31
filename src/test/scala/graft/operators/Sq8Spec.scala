package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Sq8]] — scalar 8-bit quantization ANN: model sanity, exact
  * self-duplicate retrieval, determinism, and refined recall vs exact
  * brute force (the a09/a15 quality-gate convention). */
class Sq8Spec extends AnyFunSuite with graft.SharedSpark {

  private def embeddings(dir: String) =
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))

  test("model bounds: min <= max per dim; fit is deterministic") {
    val e = embeddings("/root/testdata/sf0.001")
    val m1 = Sq8.fit(e, "vec_id", "embedding")
    val m2 = Sq8.fit(e, "vec_id", "embedding")
    assert(m1.minQ.length === 64)
    assert(m1.minQ.zip(m1.maxQ).forall { case (a, b) => a <= b })
    assert(m1.minQ.toSeq === m2.minQ.toSeq)
    assert(m1.maxQ.toSeq === m2.maxQ.toSeq)
  }

  test("planted duplicate ranks first with score 1.0") {
    val e = embeddings("/root/testdata/sf0.001")
    // clone vector 0 under a fresh id: its quantized codes are
    // identical, so SQ8 distance 0 puts it in the shortlist and the
    // exact refine scores cosine 1.0
    val clone = e.filter(col("vec_id") === 0)
      .select(lit(900000L).as("vec_id"), col("embedding"))
    val corpus = e.unionByName(clone)
    val out = Sq8.searchRefinedExact(
      e.filter(col("vec_id") === 0), corpus,
      Sq8.fit(corpus, "vec_id", "embedding"),
      "vec_id", "embedding", shortlist = 50, topK = 5)
    val top = out.filter(col("rank") === 1).head()
    assert(top.getLong(1) === 900000L)
    assert(top.getDouble(2) === 1.0)
  }

  test("determinism: two runs, identical rows") {
    val e = embeddings("/root/testdata/sf0.001")
    val m = Sq8.fit(e, "vec_id", "embedding")
    val q = e.filter(col("vec_id") < 3)
    def run() = Sq8.searchRefinedExact(q, e, m, "vec_id", "embedding", 40, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(run() === run())
  }

  test("refined recall@10 vs exact brute force >= 0.9 at sf0.01") {
    val e = embeddings("/root/testdata/sf0.01")
    val m = Sq8.fit(e, "vec_id", "embedding")
    val q = e.filter(col("vec_id") < 5)
    val sq = Sq8.searchRefinedExact(q, e, m, "vec_id", "embedding", 100, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Similarity.bruteForceTopK(q, e, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (sq intersect exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall@10 was $recall")
  }
}
