package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[ProductQuantizer.ivfAdcTopKRefined]] — the full IVF-PQ search:
  * full-probe/full-shortlist equivalence with brute force, planted
  * duplicates, probe-bounded candidate generation, and determinism. */
class IvfPqSpec extends AnyFunSuite with graft.SharedSpark {

  import spark.implicits._

  /** 80 deterministic 8-dim vectors in 4 well-separated blobs. */
  private lazy val corpus: DataFrame = (0 until 80).map { i =>
    val blob = i % 4
    val base = Array.tabulate(8)(d =>
      if (d == blob * 2) 10.0f else 0.0f)
    val jitter = Array.tabulate(8)(d =>
      (((i * 40503 + d * 2654435761L) % 100) / 500.0f))
    (i.toLong, base.zip(jitter).map { case (a, b) => a + b }.toSeq)
  }.toDF("id", "vec")

  private def queries = corpus.filter(col("id") < 4)

  test("full probe + full shortlist equals exact brute force") {
    val exact = Similarity.bruteForceTopK(queries, corpus, "id", "vec", 5)
      .collect().map(r => (r.getLong(0), r.getInt(3).toLong, r.getLong(1))).toSet
    val ivfpq = ProductQuantizer.ivfAdcTopKRefined(
        queries, corpus, "id", "vec",
        coarseK = 4, nprobe = 4, m = 4, k = 8, iterations = 2,
        shortlist = 79, topK = 5)
      .collect().map(r => (r.getLong(0), r.getInt(3).toLong, r.getLong(1))).toSet
    assert(ivfpq === exact)
  }

  test("a planted duplicate is every query's rank-1 neighbor") {
    val planted = corpus.unionAll(
      queries.select((col("id") + 1000L).as("id"), col("vec")))
    val got = ProductQuantizer.ivfAdcTopKRefined(
        queries, planted, "id", "vec",
        coarseK = 4, nprobe = 2, m = 4, k = 8, iterations = 2,
        shortlist = 20, topK = 3)
      .filter(col("rank") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 4L).foreach { q =>
      assert(got(q) === q + 1000L, s"query $q rank-1 should be its copy")
    }
  }

  test("nprobe=1 recall@5 stays high on blob-separated data") {
    val exact = Similarity.bruteForceTopK(queries, corpus, "id", "vec", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = ProductQuantizer.ivfAdcTopKRefined(
        queries, corpus, "id", "vec",
        coarseK = 4, nprobe = 1, m = 4, k = 8, iterations = 2,
        shortlist = 19, topK = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // blobs are well separated: each query's true neighbors share its
    // list, so probing one list loses nothing
    assert((exact -- got).isEmpty, s"missing: ${exact -- got}")
  }

  test("production parameters (a15) hold recall@10 >= 0.8 — regression gate") {
    // the a15/a21 parameter set, scaled down only in corpus size: a
    // future quantizer/assignment regression that silently degrades
    // recall fails HERE, not in a driver round. 512 vectors, 64 dims,
    // 8 loose clusters (jitter overlaps, so this is not a softball).
    val big = (0 until 512).map { i =>
      val c = i % 8
      val v = Array.tabulate(64) { d =>
        val base = if (d / 8 == c) 5.0f else 0.0f
        base + (((i * 2654435761L + d * 40503L) % 1000) / 250.0f)
      }
      (i.toLong, v.toSeq)
    }.toDF("id", "vec")
    val qs = big.filter(col("id") < 5)
    val exact = Similarity.bruteForceTopK(qs, big, "id", "vec", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = ProductQuantizer.ivfAdcTopKRefined(
        qs, big, "id", "vec",
        coarseK = 16, nprobe = 4, m = 8, k = 16, iterations = 2,
        shortlist = 100, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & got).size.toDouble / exact.size
    assert(recall >= 0.8, s"IVF-PQ recall@10 regressed: $recall")
  }

  test("search is deterministic across runs") {
    def run() = ProductQuantizer.ivfAdcTopKRefined(
        queries, corpus, "id", "vec",
        coarseK = 4, nprobe = 2, m = 4, k = 8, iterations = 2,
        shortlist = 20, topK = 5)
      .collect().map(_.toSeq).toSeq
    assert(run() === run())
  }

  test("combined exact form delegates bit-identically to fit + search") {
    val model = ProductQuantizer.fitIvfPqExact(
      corpus, "id", "vec", coarseK = 4, m = 4, k = 8, iterations = 2)
    val split = ProductQuantizer.searchIvfPqExact(
        queries, corpus, "id", "vec", model,
        nprobe = 2, shortlist = 20, topK = 5)
      .collect().map(_.toSeq).toSet
    val (df, centsQ, booksQ) = ProductQuantizer.ivfAdcTopKRefinedExact(
      queries, corpus, "id", "vec",
      coarseK = 4, nprobe = 2, m = 4, k = 8, iterations = 2,
      shortlist = 20, topK = 5)
    assert(df.collect().map(_.toSeq).toSet === split)
    assert(centsQ.map(_.toSeq).toSeq === model.centsQ.map(_.toSeq).toSeq)
    assert(booksQ.map(_.map(_.toSeq).toSeq).toSeq ===
      model.booksQ.map(_.map(_.toSeq).toSeq).toSeq)
    // bad search params must fail BEFORE training pays for itself
    assertThrows[IllegalArgumentException] {
      ProductQuantizer.ivfAdcTopKRefinedExact(
        queries, corpus, "id", "vec",
        coarseK = 4, nprobe = 9, m = 4, k = 8, iterations = 2,
        shortlist = 20, topK = 5)
    }
  }

  test("nprobe sweep legs are bit-identical to single-nprobe searches") {
    // the a24 contract: one corpus encode, per-leg probe restriction —
    // each sweep leg must equal searchIvfPqExact at that nprobe exactly
    val model = ProductQuantizer.fitIvfPqExact(
      corpus, "id", "vec", coarseK = 4, m = 4, k = 8, iterations = 2)
    val sweep = ProductQuantizer.searchIvfPqSweepExact(
        queries, corpus, "id", "vec", model,
        nprobes = Seq(1, 2, 4), shortlist = 20, topK = 5)
      .collect()
      .groupBy(_.getAs[Int]("nprobe"))
      .map { case (n, rows) =>
        n -> rows.map(r => (r.getAs[Long]("query_id"),
          r.getAs[Long]("neighbor_id"), r.getAs[Double]("score"),
          r.getAs[Int]("rank"))).toSet }
    Seq(1, 2, 4).foreach { n =>
      val single = ProductQuantizer.searchIvfPqExact(
          queries, corpus, "id", "vec", model,
          nprobe = n, shortlist = 20, topK = 5)
        .collect().map(r => (r.getAs[Long]("query_id"),
          r.getAs[Long]("neighbor_id"), r.getAs[Double]("score"),
          r.getAs[Int]("rank"))).toSet
      assert(sweep(n) === single, s"sweep leg nprobe=$n diverged")
    }
  }
}
