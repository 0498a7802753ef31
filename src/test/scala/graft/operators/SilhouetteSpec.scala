package graft.operators

import org.scalatest.funsuite.AnyFunSuite

class SilhouetteSpec extends AnyFunSuite with graft.SharedSpark {

  import spark.implicits._

  private def run(rows: Seq[(Long, String, Seq[Float])]) =
    Centroids.simplifiedSilhouette(
        rows.toDF("vec_id", "label", "embedding"),
        "vec_id", "label", "embedding")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))

  test("tight well-separated clusters score near +1e6, a planted mislabel negative") {
    val a = Seq[Float](1f, 0f)
    val b = Seq[Float](-1f, 0f)
    def jit(v: Seq[Float], d: Float) = Seq(v.head + d, v(1))
    val rows = Seq(
      (1L, "A", jit(a, 0.01f)), (2L, "A", jit(a, -0.01f)), (3L, "A", a),
      (4L, "B", jit(b, 0.01f)), (5L, "B", jit(b, -0.01f)),
      // vec 6 carries label B but sits at cluster A: must read negative
      (6L, "B", jit(a, 0.02f)))
    val out = run(rows).map(r => r._1 -> r).toMap
    assert(out(1L)._4.get > 900000L, "tight cluster member should approach +1e6")
    assert(out(4L)._3 === "A" && out(4L)._4.get > 0L)
    assert(out(6L)._4.get < 0L, "a mislabeled vector must score negative")
    assert(out(6L)._3 === "A", "its nearest other centroid is the cluster it sits in")
  }

  test("a vector equidistant from both centroids scores 0; on-centroid-of-both is null") {
    // two one-point clusters at x = ±1; probe C sits at 0 (equidistant)
    val rows = Seq(
      (1L, "L", Seq[Float](-1f)), (2L, "R", Seq[Float](1f)),
      (3L, "L", Seq[Float](-1f))) // duplicate so L's centroid stays at -1
    val out = run(rows).map(r => r._1 -> r._4).toMap
    // vec 1/3 sit ON their own centroid, other centroid 2 units away:
    // a=0, b>0 → s = +1e6 exactly
    assert(out(1L) === Some(1000000L))
    // degenerate: a cluster whose single member IS both centroids
    val deg = run(Seq(
      (1L, "X", Seq[Float](0f)), (2L, "Y", Seq[Float](0f))))
      .map(r => r._1 -> r._4).toMap
    assert(deg(1L) === None && deg(2L) === None,
      "zero distance to both centroids must read null, not divide by zero")
  }
}
