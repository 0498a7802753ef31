package graft.operators

import org.scalatest.funsuite.AnyFunSuite

class KmvJaccardSpec extends AnyFunSuite with graft.SharedSpark {

  import spark.implicits._

  // three-word docs make each word row one 3-gram shingle, so the
  // per-source gram set is exactly the planted vocabulary
  private def doc(words: String): String = words

  test("sketch estimate tracks the true Jaccard when sets fit the sketch") {
    // source A vocabulary = 40 grams, B shares exactly 20 of them (J =
    // 20/60 = 1/3), C is disjoint. Sets fit inside k=256, so the
    // sketch IS the set and the estimate is EXACT.
    def grams(tag: String, n: Int) =
      (0 until n).map(i => s"${tag}x$i ${tag}y$i ${tag}z$i")
    val a = grams("s", 20) ++ grams("t", 20) // shares the t-block with b
    val b = grams("t", 20) ++ grams("u", 20)
    val c = grams("v", 40)
    val docs = (a.map(("A", _)) ++ b.map(("B", _)) ++ c.map(("C", _)))
      .zipWithIndex.map { case ((s, t), i) => (i.toLong, s, t) }
      .toDF("doc_id", "source", "text")
    val out = Kmv.crossSourceJaccard(docs, "source", "text", n = 3, k = 256)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val (kAB, commonAB, jAB) = out(("A", "B"))
    assert(kAB === 60L && commonAB === 20L,
      "under-k sketches hold the full union with exact intersection")
    assert(jAB === (20L * 1000000L) / 60L)
    assert(out(("A", "C"))._3 === 0L && out(("B", "C"))._3 === 0L)
  }

  test("over-k sketches stay within estimator error of the true Jaccard") {
    // 2000 grams per source, half shared: J = 1000/3000 = 1/3; with
    // k=256 the bottom-k union samples it with σ ≈ J(1-J)/√k ≈ 0.03
    def grams(tag: String, n: Int) =
      (0 until n).map(i => s"${tag}a$i ${tag}b$i ${tag}c$i")
    val a = grams("sh", 1000) ++ grams("pa", 1000)
    val b = grams("sh", 1000) ++ grams("pb", 1000)
    val docs = (a.map(("A", _)) ++ b.map(("B", _)))
      .zipWithIndex.map { case ((s, t), i) => (i.toLong, s, t) }
      .toDF("doc_id", "source", "text")
    val est = Kmv.crossSourceJaccard(docs, "source", "text", n = 3, k = 256)
      .collect().head.getLong(4)
    assert(math.abs(est - 333333L) < 120000L,
      s"estimate $est ppm should sit within ~4σ of 333333 ppm")
  }
}
