package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** [[KCore.peel]] — hand-built graphs with known peel structure. */
class KCoreSpec extends AnyFunSuite with graft.SharedSpark {

  private def peel(edges: Seq[(Long, Long)], k: Int) = {
    import spark.implicits._
    val (df, r) = KCore.peel(edges.toDF("a", "b"), "a", "b", k)
    (df.collect().map(x => (x.getLong(0), x.getInt(1), x.getLong(2)))
      .sortBy(_._1).toSeq, r)
  }

  test("local and distributed regimes agree — rows AND round count") {
    import spark.implicits._
    // the real g05 shape: strong co-purchase edges at sf0.001
    val strong = graft.queries.GraphCache.coPurchaseStrongEdges(
      spark, "/root/testdata/sf0.001", minOrders = 2)
    def run(df: org.apache.spark.sql.DataFrame, localMax: Long) = {
      val (out, r) = KCore.peel(df, "a", "b", k = 2,
        localComputeMaxEdges = localMax)
      (out.collect().map(x => (x.getLong(0), x.getInt(1), x.getLong(2)))
        .sortBy(_._1).toSeq, r)
    }
    assert(run(strong, 10000000L) === run(strong, 0L))
    // plus a multi-wave synthetic (chain peels over several rounds)
    val chain = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
      (5L, 6L)).toDF("a", "b")
    assert(run(chain, 10000000L) === run(chain, 0L))
  }

  test("triangle with a pendant chain: chain peels in waves, triangle is the core") {
    // 1-2-3 triangle; chain 3-4-5-6 hangs off it
    val (got, rounds) = peel(
      Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L)), k = 2)
    // wave 1 removes 6 (deg 1); wave 2 removes 5; wave 3 removes 4
    assert(rounds === 3)
    assert(got === Seq(
      (1L, 0, 2L), (2L, 0, 2L), (3L, 0, 2L),
      (4L, 3, 0L), (5L, 2, 0L), (6L, 1, 0L)))
  }

  test("k above the densest structure empties the graph") {
    val (got, rounds) = peel(Seq((1L, 2L), (2L, 3L), (1L, 3L)), k = 3)
    assert(rounds === 1, "the whole triangle falls in one wave at k=3")
    assert(got.forall(_._2 === 1) && got.forall(_._3 === 0L))
  }

  test("already-converged graph: zero rounds, every vertex in the core") {
    val (got, rounds) = peel(Seq((1L, 2L), (2L, 3L), (1L, 3L)), k = 2)
    assert(rounds === 0)
    assert(got === Seq((1L, 0, 2L), (2L, 0, 2L), (3L, 0, 2L)))
  }

  test("two components peel independently") {
    // square (2-core) + path of 3 (peels: ends wave 1, middle wave 2)
    val (got, rounds) = peel(
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (10L, 11L), (11L, 12L)),
      k = 2)
    assert(rounds === 2)
    val m = got.map { case (n, r, _) => (n, r) }.toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(n => m(n) === 0))
    assert(m(10L) === 1 && m(12L) === 1 && m(11L) === 2)
  }
}
