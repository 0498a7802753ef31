package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Similarity.hybridTopK]] — reciprocal-rank fusion of the lexical
  * and vector legs: leg rankings, missing-leg zeros, self-exclusion,
  * and the exact RRF arithmetic (1/(60+rank) per leg). */
class HybridSearchSpec extends AnyFunSuite with graft.SharedSpark {

  import spark.implicits._

  private val corpus: DataFrame = Seq(
    (1L, "apple banana cherry", Seq(1.0f, 0.0f, 0.0f)),
    (2L, "apple banana date", Seq(0.9f, 0.1f, 0.0f)),
    (3L, "quince rhubarb fig", Seq(0.0f, 0.0f, 1.0f))
  ).toDF("id", "text", "vec")

  private def search(qid: Long, qtext: String, qvec: Seq[Float],
                     k: Int = 3, depth: Int = 10): Array[org.apache.spark.sql.Row] = {
    val q = Seq((qid, qtext, qvec)).toDF("qid", "qtext", "qvec")
    Similarity.hybridTopK(q, corpus, "id", "text", "vec",
        "qid", "qtext", "qvec", k = k, depth = depth)
      .orderBy(col("rank")).collect()
  }

  test("both-leg docs outrank single-leg docs; rrf is 1/(60+rank) per leg") {
    // query matches docs 1/2 lexically (2 shared terms each, equal df)
    // and all three by cosine (1.0, ~0.994, 0.0): doc 3 is vector-only
    val rows = search(100L, "apple banana", Seq(1.0f, 0.0f, 0.0f))
    assert(rows.map(_.getLong(1)).toSeq === Seq(1L, 2L, 3L))
    val byDoc = rows.map(r => r.getLong(1) ->
      ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(6)))).toMap
    // (n_shared, rank_lex, rank_vec, rrf)
    assert(byDoc(1L) === ((2L, 1L, 1L, math.rint(2.0 / 61 * 1e6) / 1e6)))
    assert(byDoc(2L) === ((2L, 2L, 2L, math.rint(2.0 / 62 * 1e6) / 1e6)))
    // vector-only: lexical leg reports 0s and contributes nothing
    assert(byDoc(3L) === ((0L, 0L, 3L, math.rint(1.0 / 63 * 1e6) / 1e6)))
  }

  test("a corpus doc with the query's own id is excluded from both legs") {
    val rows = search(1L, "apple banana cherry", Seq(1.0f, 0.0f, 0.0f))
    assert(!rows.map(_.getLong(1)).contains(1L))
    assert(rows.map(_.getLong(1)).toSeq === Seq(2L, 3L))
  }

  test("leg depth cuts a leg's contribution, not the doc") {
    // depth 1: only the single best candidate per leg survives its leg;
    // doc 2 (lex rank 2, vec rank 2) drops out entirely, doc 1 carries
    // both legs at rank 1, doc 3 nothing -> absent
    val rows = search(100L, "apple banana", Seq(1.0f, 0.0f, 0.0f), k = 1, depth = 1)
    assert(rows.map(_.getLong(1)).toSeq === Seq(1L))
    assert(rows.head.getDouble(6) === math.rint(2.0 / 61 * 1e6) / 1e6)
  }

  test("rarer shared terms win lexical ties") {
    // two docs share one term each with the query; 'banana' (df 2) is
    // commoner than 'date' (df 1) -> the date-doc ranks first lexically
    val q = Seq((100L, "banana date", Seq(0.0f, 1.0f, 0.0f)))
      .toDF("qid", "qtext", "qvec")
    val lexRanks = Similarity.hybridTopK(q, corpus, "id", "text", "vec",
        "qid", "qtext", "qvec", k = 3, depth = 10)
      .filter(col("rank_lex") > 0)
      .orderBy(col("rank_lex"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    // doc 2 shares both 'banana' and 'date' -> 2 shared, rank 1;
    // doc 1 shares only 'banana' -> rank 2
    assert(lexRanks.toSeq === Seq((2L, 2L), (1L, 1L)))
  }
}
