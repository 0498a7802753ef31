package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Profile.histogram]]: exact bin membership at the edges, the
  * [0, nBins) range invariant, degenerate single-value groups, and
  * count conservation. */
class HistogramSpec extends AnyFunSuite with graft.SharedSpark {

  import spark.implicits._

  private def hist(rows: Seq[(String, Long)], bins: Int) =
    Profile.histogram(rows.toDF("g", "v"), "g", col("v"), bins)
      .collect().map(r => ((r.getString(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap

  test("exact edges: min lands in bin 0, max in the last bin") {
    // values 0..99, 10 bins of width 10: bin = v div 10 exactly
    val out = hist((0L to 99L).map(("a", _)), 10)
    assert(out.keySet === (0L to 9L).map(("a", _)).toSet)
    (0L to 9L).foreach { b =>
      assert(out(("a", b)) === ((10L, b * 10, b * 10 + 9)), s"bin $b")
    }
  }

  test("non-divisible ranges still keep every bin in [0, nBins)") {
    val vals = Seq(3L, 4L, 5L, 6L, 7L, 8L, 9L, 10L)
    val out = hist(vals.map(("a", _)), 3)
    assert(out.keys.map(_._2).forall(b => b >= 0 && b < 3))
    assert(out.values.map(_._1).sum === vals.length)
    // per-bin occupied sub-ranges tile the value set without overlap
    val spans = out.toSeq.sortBy(_._1._2).map(_._2)
    spans.sliding(2).foreach {
      case Seq((_, _, hi1), (_, lo2, _)) => assert(hi1 < lo2)
      case _ =>
    }
  }

  test("degenerate group (min = max) lands wholly in bin 0") {
    val out = hist(Seq(("a", 7L), ("a", 7L), ("a", 7L)), 20)
    assert(out === Map(("a", 0L) -> ((3L, 7L, 7L))))
  }

  test("groups bin independently over their own ranges") {
    val out = hist(Seq(("a", 0L), ("a", 100L), ("b", 1000L), ("b", 1100L)), 2)
    assert(out(("a", 0L))._1 === 1L)
    assert(out(("a", 1L))._1 === 1L)
    assert(out(("b", 0L))._1 === 1L)
    assert(out(("b", 1L))._1 === 1L)
  }

  test("negative values bin exactly") {
    val out = hist(Seq(("a", -100L), ("a", -1L), ("a", 0L), ("a", 99L)), 2)
    // range [-100, 99], width 200, bin = ((v+100)*2) div 200
    assert(out(("a", 0L)) === ((2L, -100L, -1L)))
    assert(out(("a", 1L)) === ((2L, 0L, 99L)))
  }
}
