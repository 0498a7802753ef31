package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** [[Dedup.cosinePairs]] — TF weighting must distinguish what set
  * Jaccard cannot, and the integer cos² must equal the real cosine. */
class CosinePairsSpec extends AnyFunSuite with graft.SharedSpark {

  private def pairs(rows: Seq[(Long, String)], thr: Long,
                    maxDf: Option[Int] = None) = {
    import spark.implicits._
    Dedup.cosinePairs(rows.toDF("doc_id", "text"), "doc_id", "text", n = 2,
        cos2PpmThreshold = thr, maxShingleDocFreq = maxDf)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(3))).toMap
  }

  test("identical texts score cos2_ppm = 1000000") {
    val p = pairs(Seq((1L, "a b c d"), (2L, "a b c d")), 0L)
    assert(p((1L, 2L)) === 1000000L)
  }

  test("repetition separates docs that set Jaccard ties") {
    // doc 2 copies doc 1; doc 3 contains ALL of doc 1's bigrams too,
    // but buried in heavy repetition — set measures stay high
    // (containment = 1), TF cosine must rank the faithful copy far
    // above the spammy one.
    val base = "x y z w"
    val spam = "x y z w " + Array.fill(8)("x y").mkString(" ")
    val p = pairs(Seq((1L, base), (2L, base), (3L, spam)), 0L)
    assert(p((1L, 2L)) === 1000000L)
    assert(p((1L, 3L)) < 700000L,
      s"spammy repetition must lower TF cosine, got ${p((1L, 3L))}")
  }

  test("integer cos2 matches the real cosine on a hand computation") {
    // doc1 bigrams: {ab:1, bc:1}; doc2 'a b a b c': {ab:2, ba:1, bc:1}
    // dot = 2+1 = 3; na = 2; nb = 6; cos² = 9/12 → 750000 ppm
    val p = pairs(Seq((1L, "a b c"), (2L, "a b a b c")), 0L)
    assert(p((1L, 2L)) === 750000L)
  }

  test("stop-gram guard: norms shrink with the filtered universe") {
    // 'q r' appears in 3 docs → df guard at 2 drops it EVERYWHERE;
    // remaining overlap of 1&2 is exact, so they still score 1.0
    val p = pairs(Seq(
      (1L, "q r s t"), (2L, "q r s t"), (3L, "q r u v")), 0L, maxDf = Some(2))
    assert(p((1L, 2L)) === 1000000L)
    assert(!p.contains((1L, 3L)) && !p.contains((2L, 3L)),
      "after dropping the shared stop-gram, 3 shares nothing with 1/2")
  }
}
