package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** [[TextAnalysis.stitchPairs]] — directed suffix→prefix matching
  * with graded overlap length. */
class StitchSpec extends AnyFunSuite with graft.SharedSpark {

  private def pairs(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    TextAnalysis.stitchPairs(rows.toDF("doc_id", "text"), "doc_id", "text",
        minK = 3, maxK = 8)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
  }

  test("a five-word overlap grades 5, direction matters") {
    val p = pairs(Seq(
      (1L, "intro words then p q r s t"),
      (2L, "p q r s t continues the page here")))
    assert(p === Map((1L, 2L) -> 5))
  }

  test("a chance three-word echo grades exactly 3") {
    val p = pairs(Seq(
      (1L, "alpha beta one two three"),
      (2L, "one two three gamma delta")))
    assert(p === Map((1L, 2L) -> 3))
  }

  test("an overlap of exactly maxK grades maxK") {
    val eight = "o1 o2 o3 o4 o5 o6 o7 o8"
    val p = pairs(Seq((1L, "lead " + eight), (2L, eight + " trail")))
    assert(p((1L, 2L)) === 8)
  }

  test("overlaps longer than maxK are out of scope (near-dup territory)") {
    val ten = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    val p = pairs(Seq((1L, "lead " + ten), (2L, ten + " trail")))
    assert(p.isEmpty,
      "a 10-word seam exceeds the maxK=8 window: wholesale copies are " +
        "the near-dup operators' job, stitch grades bounded seams")
  }

  test("short documents and non-matches produce nothing") {
    val p = pairs(Seq((1L, "a b"), (2L, "x y z w"), (3L, "m n o p")))
    assert(p.isEmpty)
  }

  test("self-stitching is excluded even for a periodic document") {
    val p = pairs(Seq((1L, "a b c a b c")))
    assert(p.isEmpty)
  }
}
