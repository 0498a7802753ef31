package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** [[ModelCache]] — the session-scoped trained-index registry: the
  * memo must hand every caller the SAME artifact, and that artifact
  * must equal a fresh train (fit determinism is pinned separately in
  * PqSpec; this pins the registry semantics a09/a15/a21/a24 rely on
  * for their shared-model hash oracles). */
class ModelCacheSpec extends AnyFunSuite with graft.SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  test("pqModel memoizes: same instance per (dir, params), equal to a fresh fit") {
    val a = ModelCache.pqModel(spark, dir)
    val b = ModelCache.pqModel(spark, dir)
    assert(a eq b, "second lookup must return the memoized instance")
    val fresh = graft.operators.ProductQuantizer.fit(
      graft.Tables.embeddings(spark, dir)
        .select(org.apache.spark.sql.functions.col("vec_id"),
          org.apache.spark.sql.functions.col("embedding")),
      "vec_id", "embedding", m = 8, k = 16, iterations = 2)
    assert(a.codebooks.map(_.map(_.toSeq).toSeq).toSeq ===
      fresh.codebooks.map(_.map(_.toSeq).toSeq).toSeq,
      "memoized model must equal a fresh deterministic train")
  }

  test("savePq/loadPq round-trip is bit-exact (the cross-JVM serve contract)") {
    val model = ModelCache.pqModel(spark, dir)
    val p = java.nio.file.Files.createTempDirectory("pq_rt").toString + "/m"
    graft.operators.IndexStore.savePq(spark, model, p)
    val loaded = graft.operators.IndexStore.loadPq(spark, p)
    assert(loaded.m === model.m && loaded.k === model.k &&
      loaded.subDim === model.subDim)
    assert(loaded.codebooks.map(_.map(_.toSeq).toSeq).toSeq ===
      model.codebooks.map(_.map(_.toSeq).toSeq).toSeq,
      "parquet doubles must round-trip exactly")
  }

  test("ivfPqModel memoizes and carries the a15 parameter shape") {
    val a = ModelCache.ivfPqModel(spark, dir)
    val b = ModelCache.ivfPqModel(spark, dir)
    assert(a eq b, "second lookup must return the memoized instance")
    assert(a.centsQ.length === 16 && a.m === 8 && a.k === 16)
    assert(a.booksQ.length === 8 && a.booksQ.forall(_.length === 16))
    assert(a.subDim * a.m === a.centsQ.head.length)
  }
}
