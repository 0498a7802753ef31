package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** [[TextAnalysis.removeBoilerplate]] — per-source line-frequency
  * stripping: threshold semantics, per-doc-distinct counting, source
  * isolation, order-preserving rebuild, and the all-boilerplate doc. */
class BoilerplateSpec extends AnyFunSuite with graft.SharedSpark {

  import spark.implicits._

  private def run(rows: Seq[(Long, String, String)], minDf: Long = 2L) =
    TextAnalysis.removeBoilerplate(
        rows.toDF("id", "src", "text"), "id", "src", "text", minDf)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap

  test("a line in >= minDocFreq docs of one source is stripped everywhere") {
    val out = run(Seq(
      (1L, "a", "menu\nalpha"),
      (2L, "a", "menu\nbeta"),
      (3L, "a", "gamma")))
    assert(out(1L) === ((2L, 1L, "alpha")))
    assert(out(2L) === ((2L, 1L, "beta")))
    assert(out(3L) === ((1L, 1L, "gamma")))
  }

  test("same line under different sources does not accumulate frequency") {
    val out = run(Seq(
      (1L, "a", "menu\nalpha"),
      (2L, "b", "menu\nbeta")))
    assert(out(1L) === ((2L, 2L, "menu\nalpha")))
    assert(out(2L) === ((2L, 2L, "menu\nbeta")))
  }

  test("a line repeated within one doc counts once toward frequency") {
    // 'echo' appears twice in doc 1 but in only 1 document -> kept (both
    // copies); 'menu' is in 2 docs -> stripped
    val out = run(Seq(
      (1L, "a", "echo\nmenu\necho"),
      (2L, "a", "menu")))
    assert(out(1L) === ((3L, 2L, "echo\necho")))
    assert(out(2L) === ((1L, 0L, "")))
  }

  test("rebuild preserves original line order") {
    val out = run(Seq(
      (1L, "a", "z\nmenu\na\nmenu\nm"),
      (2L, "a", "menu")))
    assert(out(1L) === ((5L, 3L, "z\na\nm")))
  }

  test("broadcast keep_lines path ≡ the distributed anti-join fallback") {
    // the two regimes (scan-local 128-bit probe vs anti-join on the
    // same keys) must agree row for row; cap 0 forces the fallback
    val rows = (1L to 40L).map { i =>
      val src = if (i % 2 == 0) "a" else "b"
      (i, src, s"nav $src home\nbody line $i\nword${i % 7} filler\n" +
        s"shared ${i % 3}\nfooter $src copyright")
    }
    val broadcastOut = run(rows, minDf = 5L)
    spark.conf.set("spark.graft.boiler.broadcastMaxKeys", "0")
    try {
      val fallbackOut = run(rows, minDf = 5L)
      assert(fallbackOut === broadcastOut)
    } finally spark.conf.unset("spark.graft.boiler.broadcastMaxKeys")
  }
}
