package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DSIR importance weights: hashed-n-gram LM log ratios select
  * target-like documents. */
class DsirSpec extends AnyFunSuite with graft.SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"

  test("synthetic: pure-target documents outscore pure-noise documents") {
    import spark.implicits._
    // target LM sees only A-vocabulary bigrams; raw corpus mixes both
    val target = (1 to 50).map(i => (i.toLong, "alpha beta gamma delta alpha beta"))
      .toDF("doc_id", "text")
    val raw = ((101 to 110).map(i => (i.toLong, "alpha beta gamma delta alpha beta")) ++
      (201 to 210).map(i => (i.toLong, "zig zag quux corge zig zag")))
      .toDF("doc_id", "text")
    val w = TextAnalysis.dsirWeights(raw, target, "doc_id", "text", n = 2, buckets = 1024)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val targetLike = (101 to 110).map(i => w(i.toLong))
    val noise = (201 to 210).map(i => w(i.toLong))
    assert(targetLike.min > noise.max,
      s"target-like docs must outscore noise: ${targetLike.min} vs ${noise.max}")
    assert(targetLike.min > 0 && noise.max < 0,
      "log weights must split around zero for disjoint vocabularies")
  }

  test("weights are deterministic and feature counts match the window count") {
    val a = graft.queries.CurationQueries.dsirWeights(spark, sfDir).collect()
    val b = graft.queries.CurationQueries.dsirWeights(spark, sfDir).collect()
    assert(a.toSeq === b.toSeq, "two runs must agree bit-for-bit")
    // n_features = word count - 1 for bigrams (duplicates kept)
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), (size(split(col("text"), " ")) - 1).cast("long").as("expect"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    a.foreach(r => assert(r.getLong(1) === math.max(0L, docs(r.getLong(0))),
      s"feature count mismatch for doc ${r.getLong(0)}"))
  }

  test("declared-English documents get higher average weight on the corpus") {
    val w = graft.queries.CurationQueries.dsirWeights(spark, sfDir)
    val docs = graft.Tables.documents(spark, sfDir).select("doc_id", "lang")
    val byLang = w.join(docs, "doc_id")
      .groupBy(col("lang") === "en").agg(avg(col("log_weight")))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(byLang(true) > byLang(false),
      s"en docs must score above non-en on an en-target model: $byLang")
  }
}
