package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CentroidsSpec extends AnyFunSuite with graft.SharedSpark {

  test("groupBy centroids == typed Aggregator centroids") {
    import spark.implicits._
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val viaGroupBy = Centroids.byGroupBy(e, "label", "embedding")
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    val typed = e.select(col("label"), col("embedding"))
      .as[(Int, Array[Float])]
    val viaAgg = Centroids.byAggregator(typed, dim = 64)
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(viaGroupBy.keySet == viaAgg.keySet && viaGroupBy.nonEmpty)
    viaGroupBy.foreach { case (label, c) =>
      val a = viaAgg(label)
      assert(c.length == 64 && a.length == 64)
      c.zip(a).foreach { case (x, y) =>
        // groupBy path uses exact decimal means rounded to 9; the typed
        // fold accumulates doubles in partition order — equal to ~1e-9
        assert(math.abs(x - y) < 1e-8, s"label $label: $x vs $y")
      }
    }
  }

  test("centroid of identical vectors is the vector itself") {
    import spark.implicits._
    val v = Array(1.5f, -2.25f, 0.5f)
    val df = Seq((1, v), (1, v), (1, v)).toDF("label", "embedding")
    val c = Centroids.byGroupBy(df, "label", "embedding")
      .collect().head.getSeq[Double](1)
    assert(c == Seq(1.5, -2.25, 0.5))
  }
}
