package graft.operators

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Profile.madOutliers]] (Hampel filter): hand-computed
  * median/MAD verdicts, robustness (the outlier itself doesn't shift
  * the gate, unlike a stddev z-score), group independence, and the
  * degenerate all-equal group. */
class MadOutlierSpec extends AnyFunSuite with graft.SharedSpark {

  import spark.implicits._

  private def run(rows: Seq[(String, Long, Long)], factor: Int = 3) =
    Profile.madOutliers(rows.toDF("g", "id", "v6"), "g", "id",
        col("v6"), factor)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet

  test("hand-computed: median 10, MAD 1, factor 3 flags |v-10| > 3") {
    // values 8,9,10,11,12,100 -> median (10+11)/2=10.5, devs from 10.5:
    // 2.5,1.5,.5,.5,1.5,89.5 -> MAD = (1.5+1.5)/2 = 1.5; gate 4.5
    val rows = Seq[(String, Long, Long)](
      ("a", 1, 8), ("a", 2, 9), ("a", 3, 10),
      ("a", 4, 11), ("a", 5, 12), ("a", 6, 100))
    assert(run(rows) === Set(("a", 6L)))
  }

  test("robust: a huge outlier can't widen the gate to hide a smaller one") {
    // mean/stddev would be dragged by 10_000; MAD ignores it
    val rows = Seq[(String, Long, Long)](
      ("a", 1, 10), ("a", 2, 10), ("a", 3, 11), ("a", 4, 11),
      ("a", 5, 9), ("a", 6, 40), ("a", 7, 10000))
    val got = run(rows)
    assert(got.contains(("a", 6L)), "moderate outlier masked")
    assert(got.contains(("a", 7L)))
    assert(got.size === 2)
  }

  test("groups are independent; all-equal group flags nothing") {
    val rows = Seq[(String, Long, Long)](
      ("a", 1, 5), ("a", 2, 5), ("a", 3, 5), ("a", 4, 5),
      ("b", 5, 1), ("b", 6, 2), ("b", 7, 3), ("b", 8, 1000))
    val got = run(rows)
    assert(!got.exists(_._1 == "a"), "constant group produced outliers")
    assert(got === Set(("b", 8L)))
  }
}
