package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** p34 leakage-safe split — near-dup clusters must be split-atomic. */
class LeakageSplitSpec extends AnyFunSuite with graft.SharedSpark {

  test("every near-dup cluster lands in exactly one split; moved is honest") {
    val dir = "/root/testdata/sf0.001"
    val rows = Relational13.p34LeakageSplit(spark, dir).collect()
    assert(rows.nonEmpty)
    // cluster-atomicity: one split per representative
    val perRep = rows.groupBy(_.getAs[Long]("rep"))
      .map { case (_, rs) => rs.map(_.getAs[String]("split")).distinct.length }
    assert(perRep.forall(_ === 1), "a cluster must never straddle splits")
    // moved is exactly the naive-vs-cluster disagreement
    rows.foreach { r =>
      val moved = r.getAs[Int]("moved")
      val expect =
        if (r.getAs[String]("split") != r.getAs[String]("naive_split")) 1 else 0
      assert(moved === expect)
    }
    // singletons keep their own id as representative → never moved
    val singles = rows.filter(r => r.getAs[Long]("rep") == r.getAs[Long]("doc_id"))
    assert(singles.nonEmpty)
    // the corpus plants duplicates, so SOME doc must actually move —
    // otherwise the operator is indistinguishable from the naive split
    val dupMembers = rows.filter(r => r.getAs[Long]("rep") != r.getAs[Long]("doc_id"))
    assert(dupMembers.nonEmpty, "fixture must exercise a real cluster")
  }

  test("split proportions are roughly 80/10/10 at sf0.01") {
    val rows = Relational13.p34LeakageSplit(spark, "/root/testdata/sf0.01")
      .groupBy(col("split")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = rows.values.sum.toDouble
    assert(rows("train") / n > 0.7 && rows("train") / n < 0.9)
    assert(rows("val") / n > 0.04 && rows("val") / n < 0.18)
    assert(rows("test") / n > 0.04 && rows("test") / n < 0.18)
  }
}
