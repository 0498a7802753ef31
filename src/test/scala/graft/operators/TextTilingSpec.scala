package graft.operators

import org.scalatest.funsuite.AnyFunSuite

class TextTilingSpec extends AnyFunSuite with graft.SharedSpark {

  import spark.implicits._

  private def run(text: String, blockWords: Int = 20) =
    TextAnalysis.textTilingBoundaries(
        Seq((1L, text)).toDF("doc_id", "text"), "doc_id", "text", blockWords)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getInt(3)))

  test("a two-topic document puts its similarity valley at the topic seam") {
    // 3 blocks of topic A (shared vocab), 3 of topic B, block size 5:
    // gaps 0,1 cohesive, gap 2 is the seam (zero overlap), gaps 3,4
    // cohesive again → gap 2 is the unique strict valley
    val a = "apple banana cherry date elder"
    val b = "zinc yttrium xenon tungsten silver"
    val text = s"$a $a $a $b $b $b"
    val out = run(text, blockWords = 5)
    assert(out.length === 5)
    val bySim = out.map(g => g._1 -> g._2).toMap
    assert(bySim(0L) === 1000000L, "identical adjacent blocks read squared-cosine 1")
    assert(bySim(2L) === 0L, "the seam gap shares no vocabulary")
    assert(out.filter(_._3 == 1).map(_._1).toSeq === Seq(2L),
      "exactly the seam gap is a boundary")
  }

  test("uniform text yields no boundaries; single-block docs emit nothing") {
    val w = ("word " * 60).trim
    val out = run(w, blockWords = 20)
    assert(out.nonEmpty && out.forall(_._3 == 0),
      "constant-vocabulary text has no strict valleys")
    assert(run("short text only", blockWords = 20).isEmpty,
      "a single-block document has no gaps")
  }
}
