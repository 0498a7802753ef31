package graft.operators

import org.scalatest.funsuite.AnyFunSuite

class ContaminationSpec extends AnyFunSuite with graft.SharedSpark {

  import spark.implicits._

  private val corpus = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (2L, "unrelated words that share no long ngram with anything else here"),
    (3L, "prefix padding alpha beta gamma delta epsilon zeta eta theta end")
  ).toDF("doc_id", "text")

  test("corpus docs sharing an n-gram with an eval item are flagged") {
    // the eval item quotes 8 consecutive words present in docs 1 and 3
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("bench_id", "bench_text")
    val got = Dedup.contaminationPairs(corpus, bench,
        "doc_id", "text", "bench_id", "bench_text", n = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // doc 1: windows starting at alpha..iota contain the quoted 8-gram
    // once (positions align); doc 3 contains it once; doc 2 never
    assert(got === Set((1L, 100L, 1L), (3L, 100L, 1L)))
  }

  test("minShared raises the evidence bar") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta eta theta iota"))
      .toDF("bench_id", "bench_text")
    // bench has two distinct 8-grams; doc 1 contains both, doc 3 one
    val strict = Dedup.contaminationPairs(corpus, bench,
        "doc_id", "text", "bench_id", "bench_text", n = 8, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strict === Set((1L, 100L)))
  }

  test("boilerplate guard drops corpus-wide n-grams") {
    val boiler = "this page is copyright two thousand twenty four all rights"
    val docs = (1L to 5L).map(i => (i, s"doc body $i $boiler")).toDF("doc_id", "text")
    val bench = Seq((9L, boiler)).toDF("bench_id", "bench_text")
    val unguarded = Dedup.contaminationPairs(docs, bench,
      "doc_id", "text", "bench_id", "bench_text", n = 8)
    assert(unguarded.count() === 5) // every doc pairs with the eval item
    val guarded = Dedup.contaminationPairs(docs, bench,
      "doc_id", "text", "bench_id", "bench_text", n = 8, maxNgramDocFreq = Some(3))
    assert(guarded.count() === 0) // the shared n-grams exceed df cap
  }

  test("hashed-ngram mode returns exactly the string-mode result") {
    val d = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
    val bench = d.limit(20).withColumnRenamed("doc_id", "bench_id")
      .withColumnRenamed("text", "bench_text")
    def run(hashed: Boolean) = Dedup.contaminationPairs(d, bench,
        "doc_id", "text", "bench_id", "bench_text", n = 8, hashNgrams = hashed)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(run(true) === run(false))
  }

  test("t10 flags every eval item's source document") {
    val got = graft.queries.CurationQueries.contamination(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val benchIds = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(org.apache.spark.sql.functions.col("doc_id") % 25 === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(benchIds.nonEmpty)
    benchIds.foreach(b => assert(got.contains((b, b)), s"source doc $b not flagged"))
  }
}
