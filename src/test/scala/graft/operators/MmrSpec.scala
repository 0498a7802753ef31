package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Similarity.mmrDiversify]]: the greedy MMR trace on a planted
  * geometry where relevance-only ranking and diversified ranking must
  * differ. */
class MmrSpec extends AnyFunSuite with graft.SharedSpark {

  import spark.implicits._

  // query 100 = e1; candidates: two near-duplicates hugging e1 and one
  // orthogonal-ish doc. Pure relevance ranks the twins 1-2; MMR must
  // demote the second twin below the diverse doc.
  private val vecs = Seq(
    (100L, Seq(1.0f, 0.0f, 0.0f)),
    (1L, Seq(0.99f, 0.14f, 0.0f)),
    (2L, Seq(0.99f, 0.141f, 0.0f)),  // near-duplicate of 1
    (3L, Seq(0.6f, 0.0f, 0.8f))
  ).toDF("vec_id", "embedding")

  test("MMR demotes the near-duplicate; relevance keeps it") {
    val queries = vecs.filter(col("vec_id") === 100L)
    val corpus = vecs.filter(col("vec_id") =!= 100L)
    val rel = Similarity.bruteForceTopK(queries, corpus, "vec_id",
        "embedding", 3)
      .orderBy(col("rank")).collect().map(_.getAs[Long]("neighbor_id"))
    assert(rel.take(2).toSet === Set(1L, 2L), "twins lead on relevance")
    val mmr = Similarity.mmrDiversify(queries, corpus, "vec_id",
        "embedding", poolK = 3, selectK = 3)
      .orderBy(col("mmr_rank")).collect().map(_.getAs[Long]("doc_id"))
    assert(mmr(0) === rel(0), "first pick is pure relevance")
    assert(mmr(1) === 3L, "second pick must be the diverse doc")
    assert(mmr.toSet === Set(1L, 2L, 3L))
  }

  test("int id columns work (ids normalize to bigint — r9 regression)") {
    // the greedy pick UDF reads Row.getLong; an INT id column used to
    // reach it uncast and die with ClassCastException
    val intIds = vecs.select(col("vec_id").cast("int").as("vec_id"),
      col("embedding"))
    val out = Similarity.mmrDiversify(
        intIds.filter(col("vec_id") === 100),
        intIds.filter(col("vec_id") =!= 100),
        "vec_id", "embedding", poolK = 3, selectK = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length === 2 && out.forall(_._1 == 100L))
  }

  test("pool smaller than selectK emits the partial pick list") {
    val queries = vecs.filter(col("vec_id") === 100L)
    val corpus = vecs.filter(col("vec_id") =!= 100L)
    // only 3 candidates exist; asking for 5 must return all 3 ranked
    val out = Similarity.mmrDiversify(queries, corpus, "vec_id",
        "embedding", poolK = 10, selectK = 5)
      .orderBy(col("mmr_rank")).collect()
    assert(out.length === 3)
    assert(out.map(_.getAs[Long]("mmr_rank")).toSeq === Seq(1L, 2L, 3L))
  }

  test("selectK caps output; determinism across partitionings") {
    val queries = vecs.filter(col("vec_id") === 100L)
    val corpus = vecs.filter(col("vec_id") =!= 100L)
    val a = Similarity.mmrDiversify(queries, corpus, "vec_id",
        "embedding", poolK = 3, selectK = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a.size === 2)
    val b = Similarity.mmrDiversify(queries, corpus.repartition(3),
        "vec_id", "embedding", poolK = 3, selectK = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a === b)
  }
}
