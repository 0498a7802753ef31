package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Similarity.bm25TopK]] — the Okapi ranking with rational idf and
  * scaled-integer summation: closed-form score checks, absent-term
  * exclusion, deterministic ties, and the k cut. */
class Bm25Spec extends AnyFunSuite with graft.SharedSpark {

  import spark.implicits._

  private val corpus: DataFrame = Seq(
    (1L, "apple banana cherry"),
    (2L, "apple apple banana date"),
    (3L, "quince rhubarb fig")
  ).toDF("id", "text")

  /** Independent closed-form reimplementation of one (query, doc) score:
    * rational idf × Okapi tf-norm, each term contribution rounded to a
    * scaled long exactly as the operator does. */
  private def expected(terms: Seq[(Long, Long, Long)], // (tf, df, dl)
                       nDocs: Long, sumDl: Long,
                       k1: Double = 1.2, b: Double = 0.75): Double = {
    val avgdl = sumDl.toDouble / nDocs
    val scaled = terms.map { case (tf, df, dl) =>
      val idf = (nDocs - df + 0.5) / (df + 0.5)
      val tfn = tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
      // HALF_UP like Spark's round() — math.rint is half-even and would
      // diverge on exact .5 boundaries
      java.math.BigDecimal.valueOf(idf * tfn * 1e6)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    }.sum
    scaled.toDouble / 1e6
  }

  private def search(qid: Long, qtext: String, k: Int = 10): Seq[(Long, Double, Long)] = {
    val q = Seq((qid, qtext)).toDF("qid", "qtext")
    Similarity.bm25TopK(q, corpus, "id", "text", "qid", "qtext", k)
      .orderBy(col("rank"))
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
  }

  test("scores equal the closed-form rational-idf Okapi computation") {
    // N=3, Σdl=10; df(apple)=2, df(date)=1
    val rows = search(100L, "apple date")
    val d2 = expected(Seq((2L, 2L, 4L), (1L, 1L, 4L)), 3L, 10L) // apple tf2 + date tf1
    val d1 = expected(Seq((1L, 2L, 3L)), 3L, 10L)               // apple tf1
    assert(rows === Seq((2L, d2, 1L), (1L, d1, 2L)))
    assert(d2 > d1) // two matching terms incl. the rare one outrank one common
  }

  test("docs sharing no query term are absent, not zero-scored") {
    val rows = search(100L, "apple date")
    assert(!rows.map(_._1).contains(3L))
  }

  test("identical docs tie on score and break by doc id") {
    val dup = corpus.unionAll(Seq((4L, "apple banana cherry")).toDF("id", "text"))
    val q = Seq((100L, "banana")).toDF("qid", "qtext")
    val rows = Similarity.bm25TopK(q, dup, "id", "text", "qid", "qtext", k = 10)
      .orderBy(col("rank"))
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    // docs 1 and 4 are identical -> equal scores, id order; doc 2 has the
    // same tf but a longer dl -> lower tf-norm, ranks after
    assert(rows.map(_._1) === Seq(1L, 4L, 2L))
    assert(rows(0)._2 === rows(1)._2)
  }

  test("k cuts the ranking") {
    assert(search(100L, "apple banana", k = 1).map(_._1) === Seq(2L))
  }
}
