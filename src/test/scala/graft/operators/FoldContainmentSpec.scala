package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the round-5 text canonicalization + containment operators:
  * [[graft.functions.GraftFunctions.foldText]] (Unicode NFD/strip/
  * NFC/casefold) and [[Dedup.containmentPairs]] (asymmetric
  * doc-inside-doc near-dup). */
class FoldContainmentSpec extends AnyFunSuite with graft.SharedSpark {

  import spark.implicits._

  private def fold(s: String): String =
    Seq(s).toDF("t")
      .select(graft.functions.GraftFunctions.foldText(col("t")).as("f"))
      .head().getString(0)

  test("composed and decomposed forms fold to the same bytes") {
    val composed = "Café"          // é precomposed
    val decomposed = "Café"       // e + combining acute
    assert(fold(composed) === "cafe")
    assert(fold(decomposed) === "cafe")
    assert(composed != decomposed, "fixture must start distinct")
  }

  test("accent strip covers the Latin repertoire; ASCII untouched") {
    assert(fold("Zürich São crème ÜBER señor àéîõü") ===
      "zurich sao creme uber senor aeiou")
    assert(fold("plain ASCII text 123") === "plain ascii text 123")
  }

  test("unicode_norm NFC/NFD round-trip") {
    val f = graft.functions.GraftFunctions.unicodeNorm(col("t"), "NFD")
    val g = graft.functions.GraftFunctions.unicodeNorm(
      graft.functions.GraftFunctions.unicodeNorm(col("t"), "NFD"), "NFC")
    val row = Seq("Café").toDF("t")
      .select(length(f).as("nfd_len"), g.as("back")).head()
    assert(row.getInt(0) === 5)          // NFD expands é to e + mark
    assert(row.getString(1) === "Café")
  }

  test("containment catches doc-inside-doc that Jaccard misses") {
    val host = (1 to 60).map(i => s"w$i").mkString(" ")   // 60 words
    val quote = (11 to 22).map(i => s"w$i").mkString(" ") // 12-word excerpt
    val other = (100 to 140).map(i => s"x$i").mkString(" ")
    val df = Seq((1L, host), (2L, quote), (3L, other)).toDF("id", "text")
    val cont = Dedup.containmentPairs(df, "id", "text", n = 3, threshold = 0.9)
      .collect()
    assert(cont.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
    assert(cont.head.getAs[Double]("containment") === 1.0)
    // the same pair is invisible to Jaccard at any useful threshold:
    // J = 10/58 ≈ 0.17
    val jac = Dedup.jaccardPairs(df, "id", "text", n = 3, threshold = 0.5)
      .collect()
    assert(jac.isEmpty)
  }

  test("containment guard: filtered denominator keeps the contract") {
    // a stop-shingle present in every doc must not distort containment
    val common = "the same boilerplate line"
    val a = s"$common unique a1 a2 a3 a4 a5 a6 a7 a8"
    val b = s"$common unique a1 a2 a3 a4 a5 a6 a7 a8 tail b1 b2"
    val df = Seq((1L, a), (2L, b)).toDF("id", "text")
    val out = Dedup.containmentPairs(df, "id", "text", n = 3,
      threshold = 0.5, maxShingleDocFreq = Some(1))
    // every shingle shared by both docs is dropped at df<=1 → no pair
    assert(out.collect().isEmpty)
  }
}
