package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Coreset.farthestPointSample]] (a30) to a hand-computed
  * greedy k-center run, and g04's clustering coefficient to known
  * graphs. */
class CoresetSpec extends AnyFunSuite with graft.SharedSpark {

  import spark.implicits._

  test("farthest-point picks are the hand-run greedy sequence") {
    // 1-D layout: 0.0, 0.1, 1.0, 2.0 (ids 1..4). Seed = min id (1, at
    // 0.0). Farthest from {0.0} is 2.0 (id 4). Then farthest from
    // {0.0, 2.0} is 1.0 (id 3, min-dist 1.0²). Then 0.1 (id 2).
    val df = Seq(
      (1L, Array(0.0f)), (2L, Array(0.1f)), (3L, Array(1.0f)),
      (4L, Array(2.0f))).toDF("vec_id", "embedding")
    val got = Coreset.farthestPointSample(df, "vec_id", "embedding", 4)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val q = (x: Double) => Math.round(x * (1L << 20))
    def d2(a: Double, b: Double) = { val d = q(a) - q(b); d * d }
    assert(got.map(_._2).toSeq === Seq(1L, 4L, 3L, 2L))
    assert(got(1)._3 === d2(2.0, 0.0))
    assert(got(2)._3 === math.min(d2(1.0, 0.0), d2(1.0, 2.0)))
    assert(got(3)._3 === d2(0.1, 0.0))
  }

  test("ties break by minimum id; k caps at the corpus size") {
    // two coincident far points: the smaller id must win its round
    val df = Seq(
      (5L, Array(0.0f)), (7L, Array(1.0f)), (6L, Array(1.0f)))
      .toDF("vec_id", "embedding")
    val got = Coreset.farthestPointSample(df, "vec_id", "embedding", 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(got.map(_._2).toSeq === Seq(5L, 6L, 7L))
    // the duplicate's round covers radius 0
    assert(got(2)._3 === 0L)
    assert(got.length === 3, "k must cap at |corpus|")
  }

  test("local and distributed regimes agree on the sf0.001 embeddings") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding"))
    def run(localMax: Long) =
      Coreset.farthestPointSample(emb, "vec_id", "embedding", k = 16,
          localComputeMaxRows = localMax)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(run(200000L) === run(0L),
      "regimes must agree pick for pick — ids, order, and radii")
  }

  test("clustering coefficient: a triangle-closed neighborhood reads 10^6 ppm") {
    // K3 on parts {1,2,3} all inside one order: every vertex has
    // degree 2, one triangle -> cc = 2*1*1e6/(2*1) = 1e6. Part 4 links
    // to 1 only (degree 1 -> cc NULL).
    val li = Seq(
      (100L, 1L), (100L, 2L), (100L, 3L), // K3 via one order
      (200L, 1L), (200L, 4L)              // pendant edge 1-4
    ).toDF("l_orderkey", "l_partkey")
    val e = li.as("x").join(li.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_partkey") < col("y.l_partkey"))
      .select(col("x.l_partkey").as("a"), col("y.l_partkey").as("b"))
      .distinct()
    val deg = e.select(col("a").as("part")).unionAll(e.select(col("b")))
      .groupBy(col("part")).agg(count(lit(1)).as("degree"))
    val tri = Triangles.perNodeCounts(e, "a", "b")
      .select(col("node").as("part"), col("n_triangles"))
    val got = deg.join(tri, Seq("part"), "left_outer")
      .select(col("part"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("t"))
      .withColumn("cc", when(col("degree") < 2, lit(null).cast("long"))
        .otherwise(expr("(2 * t * 1000000) div (degree * (degree - 1))")))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(got(2L) === ((2L, 1L, Some(1000000L))))
    assert(got(3L) === ((2L, 1L, Some(1000000L))))
    // part 1: degree 3 (2,3,4), one triangle -> 2e6/6 = 333333
    assert(got(1L) === ((3L, 1L, Some(333333L))))
    assert(got(4L) === ((1L, 0L, None)))
  }
}
