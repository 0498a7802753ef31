package graft.operators

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[PageRank.pageRank]]: symmetry (a regular graph keeps equal
  * ranks), centrality ordering (a star's hub outranks its spokes),
  * determinism across partitionings, and mass conservation up to the
  * documented floor loss. */
class PageRankSpec extends AnyFunSuite with graft.SharedSpark {

  import spark.implicits._

  private def run(edges: Seq[(Long, Long)], iters: Int = 5): Map[Long, Long] =
    PageRank.pageRank(edges.toDF("src", "dst"), "src", "dst", iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def undirected(pairs: Seq[(Long, Long)]): Seq[(Long, Long)] =
    pairs ++ pairs.map(_.swap)

  test("local and distributed regimes agree bit for bit") {
    // the sf0.001 trade graph: the real g01 shape (bipartite, both
    // directions, ids 2k/2k+1), plus a tiny asymmetric synthetic
    val trade = graft.queries.GraphCache.tradePairs(spark, "/root/testdata/sf0.001")
    val edges = trade.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(trade.select(col("b").as("src"), col("a").as("dst")))
    def both(df: org.apache.spark.sql.DataFrame): Unit = {
      val local = PageRank.pageRank(df, "src", "dst", iterations = 5,
          edgesDistinct = true)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dist = PageRank.pageRank(df, "src", "dst", iterations = 5,
          edgesDistinct = true, localComputeMaxEdges = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(local === dist)
    }
    both(edges)
    both(undirected(Seq((1L, 2L), (1L, 3L), (3L, 4L), (4L, 5L), (2L, 5L),
      (1L, 5L))).toDF("src", "dst"))
    // DIRECTED with a pure source: node 1 receives nothing and drops
    // out of the rank vector after round 1 on both paths (the local
    // regime must not mis-handle the missing-key lookup)
    both(Seq((1L, 2L), (2L, 3L), (3L, 2L)).toDF("src", "dst"))
    // DIRECTED with a pure SINK: node 4 receives mass but has no
    // out-edges — the r11 packed regime must skip its contribution
    // (od = 0) like the distributed inner join does, not divide by
    // zero (r11 review regression)
    both(Seq((1L, 2L), (2L, 1L), (2L, 4L), (1L, 4L)).toDF("src", "dst"))
  }

  test("ids past the packing bound still take the LOCAL path (dictionary pre-pass)") {
    // ids straddle 2³¹ and 2³² (r12 stretch): direct packing is
    // impossible, so LocalGraph.collectIndexed must route through the
    // id dictionary — and the result must still be a driver-built
    // LocalRelation (the local regime), bit-equal to the distributed
    // plan
    val big = 5000000000L // 5e9 > 2³²
    val edges = undirected(Seq(
      (big, big + 7L), (big + 7L, 2147483648L), (2147483648L, 3L),
      (3L, big), (big + 7L, 3L))).toDF("src", "dst")
    val localDf = PageRank.pageRank(edges, "src", "dst", iterations = 5,
      edgesDistinct = true)
    assert(localDf.queryExecution.logical.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
      "big-id graph fell off the local regime")
    val local = localDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = PageRank.pageRank(edges, "src", "dst", iterations = 5,
        edgesDistinct = true, localComputeMaxEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local === dist)
    assert(local.keySet === Set(big, big + 7L, 2147483648L, 3L))
  }

  test("regular graph: every node keeps the same rank") {
    // undirected 4-cycle: perfectly symmetric
    val got = run(undirected(Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L))))
    assert(got.size === 4)
    assert(got.values.toSet.size === 1, s"asymmetric ranks: $got")
  }

  test("star: hub outranks spokes; spokes identical") {
    val got = run(undirected((1L to 6L).map(i => (0L, i))))
    val hub = got(0L)
    val spokes = (1L to 6L).map(got)
    assert(spokes.toSet.size === 1, s"spokes differ: $got")
    assert(hub > spokes.head * 3, s"hub not dominant: $got")
  }

  test("deterministic across input partitionings") {
    val pairs = undirected((1L to 40L).map(i => (i % 7, i + 10)))
    val a = run(pairs)
    val b = PageRank.pageRank(pairs.toDF("src", "dst").repartition(13),
      "src", "dst", 5).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === b)
  }

  test("mass conserved up to floor loss") {
    val pairs = undirected(Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L),
      (0L, 2L), (1L, 3L)))
    val got = run(pairs)
    val total = got.values.sum
    assert(total <= PageRank.Scale)
    assert(total > PageRank.Scale * 99 / 100, s"lost too much mass: $total")
  }
}
