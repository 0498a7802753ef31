package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Dedup.removeDuplicateSpans]] — exact-substring removal semantics:
  * first occurrence (by doc_id, then position) survives, every word
  * covered by a later duplicate n-word window is dropped. */
class SpanRemovalSpec extends AnyFunSuite with graft.SharedSpark {

  import spark.implicits._

  private def run(n: Int, docs: (Long, String)*): Map[Long, (Long, Long, String)] =
    Dedup.removeDuplicateSpans(docs.toDF("doc_id", "text"), "doc_id", "text", n)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap

  test("full copy loses every word; the original keeps all of them") {
    val got = run(4,
      1L -> "a b c d e f g h i j",
      2L -> "a b c d e f g h i j")
    assert(got(1L) === ((10L, 0L, "a b c d e f g h i j")))
    assert(got(2L) === ((10L, 10L, "")))
  }

  test("a shared interior window removes exactly its covered span") {
    // doc 2 embeds doc 1's "a b c d" at positions 4-7; only that span goes
    val got = run(4,
      1L -> "a b c d e f g h",
      2L -> "x y z a b c d q r s")
    assert(got(1L)._2 === 0L)
    assert(got(2L) === ((10L, 4L, "x y z q r s")))
  }

  test("within-doc repetition keeps the first occurrence only") {
    // windows at positions 1..5; pos 5 repeats pos 1's "p q r s"
    val got = run(4, 1L -> "p q r s p q r s")
    assert(got(1L) === ((8L, 4L, "p q r s")))
  }

  test("docs shorter than one window pass through untouched") {
    val got = run(4, 1L -> "u v", 2L -> "")
    assert(got(1L) === ((2L, 0L, "u v")))
    assert(got(2L)._2 === 0L)
  }

  test("overlapping duplicate windows union their covered positions") {
    // doc 2 = doc 1 plus a fresh head word: every doc-1 window recurs
    // shifted by one; covered positions 2..11 union to one 10-word gap
    val got = run(4,
      1L -> "a b c d e f g h i j",
      2L -> "w a b c d e f g h i j")
    assert(got(2L) === ((11L, 10L, "w")))
  }

  test("order independence: first occurrence is by id, not input order") {
    val got = run(4,
      9L -> "a b c d e",
      3L -> "a b c d e")
    assert(got(3L)._2 === 0L)
    assert(got(9L)._2 === 5L)
  }

  private def excise(n: Int, bench: Seq[String],
                     docs: (Long, String)*): Map[Long, (Long, Long, String)] =
    Dedup.exciseContamination(docs.toDF("doc_id", "text"), "doc_id", "text",
        bench.toDF("bench_text"), "bench_text", n)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap

  test("excision removes exactly the eval-quoted span, keeps the rest") {
    val got = excise(4, Seq("q1 q2 q3 q4"),
      1L -> "intro words q1 q2 q3 q4 outro words",
      2L -> "clean document with no quote at all")
    assert(got(1L) === ((8L, 4L, "intro words outro words")))
    assert(got(2L)._2 === 0L)
    assert(got(2L)._3 === "clean document with no quote at all")
  }

  test("excision covers overlapping eval windows once and both quote sites") {
    // the eval text contributes two overlapping 4-gram windows; a doc
    // quoting 5 eval words loses all 5 (union of covers), and a second
    // quote of the same n-gram elsewhere is excised too
    val got = excise(4, Seq("q1 q2 q3 q4 q5"),
      1L -> "a q1 q2 q3 q4 q5 b q1 q2 q3 q4 c")
    assert(got(1L) === ((12L, 9L, "a b c")))
  }

  test("eval text shorter than one window excises nothing") {
    val got = excise(4, Seq("q1 q2"),
      1L -> "q1 q2 and more words here")
    assert(got(1L)._2 === 0L)
  }
}
