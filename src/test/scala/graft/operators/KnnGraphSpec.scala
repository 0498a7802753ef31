package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Similarity.knnGraphEdges]] — the all-vectors top-k within lists:
  * equality with the plain window form, list isolation, and the
  * no-corpus-broadcast plan shape that separates it from ivfTopK. */
class KnnGraphSpec extends AnyFunSuite with graft.SharedSpark {

  private def corpus = {
    import spark.implicits._
    // two lists; vectors arranged so ranks are unambiguous
    (0 until 24).map { i =>
      val list = i % 2
      val v = Array.tabulate(8)(d =>
        (math.sin(i * 17 + d * 3) + (if (d == list) 2.0 else 0.0)).toFloat)
      (i.toLong, v, list)
    }.toDF("vec_id", "embedding", "label")
  }

  test("edges equal the unpruned window ranking") {
    val got = Similarity.knnGraphEdges(corpus, "vec_id", "embedding", "label", k = 3)
    val c = corpus.select(col("vec_id"), col("embedding"), col("label"))
    val all = c.as("q").join(c.as("x"), col("q.label") === col("x.label"))
      .filter(col("q.vec_id") =!= col("x.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("x.vec_id").as("neighbor_id"),
        round(Similarity.cosine(
          col("q.embedding").cast("array<double>"),
          col("x.embedding").cast("array<double>")), 6).as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    val want = all.withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
    assert(got.select("query_id", "neighbor_id", "score", "rank").except(want).count() === 0)
    assert(want.except(got.select("query_id", "neighbor_id", "score", "rank")).count() === 0)
  }

  test("neighbors never cross lists") {
    val got = Similarity.knnGraphEdges(corpus, "vec_id", "embedding", "label", k = 3)
    assert(got.filter(col("query_id") % 2 =!= col("neighbor_id") % 2).count() === 0)
  }

  test("every vector gets exactly k edges when its list is big enough") {
    val got = Similarity.knnGraphEdges(corpus, "vec_id", "embedding", "label", k = 3)
    val counts = got.groupBy("query_id").count().collect()
    assert(counts.length === 24 && counts.forall(_.getLong(1) === 3L))
  }

  test("no broadcast HINT: the operator never forces a corpus-sized broadcast") {
    // Catalyst may still pick a broadcast join when a side is
    // provably tiny (this test corpus is) — the contract is that the
    // operator does not FORCE one the way ivfTopK does for its
    // few-queries side, so a 100 TB corpus plans as a shuffle join.
    val logical = Similarity.knnGraphEdges(corpus, "vec_id", "embedding", "label", k = 3)
      .queryExecution.logical.toString
    assert(!logical.toLowerCase.contains("hint"),
      "kNN-graph candidate join must not carry a broadcast hint:\n" + logical)
  }
}
