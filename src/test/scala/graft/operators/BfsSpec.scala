package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Bfs.hopDistances]]: exact shortest hop counts on a chain,
  * shortest-of-several-paths, the hop cap, unreachable exclusion, and
  * multi-source minimums. */
class BfsSpec extends AnyFunSuite with graft.SharedSpark {

  import spark.implicits._

  private def run(edges: Seq[(Long, Long)], sources: Seq[Long],
                  hops: Int): Map[Long, Long] =
    Bfs.hopDistances(edges.toDF("src", "dst"), "src", "dst",
        sources.toDF("id"), hops)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("local and distributed regimes agree on the sf0.001 trade graph") {
    val trade = graft.queries.GraphCache.tradePairs(spark, "/root/testdata/sf0.001")
    val edges = trade.select(org.apache.spark.sql.functions.col("a").as("src"),
        org.apache.spark.sql.functions.col("b").as("dst"))
      .unionAll(trade.select(org.apache.spark.sql.functions.col("b").as("src"),
        org.apache.spark.sql.functions.col("a").as("dst")))
    val sources = Seq(3L).toDF("id")
    def run2(localMax: Long) =
      Bfs.hopDistances(edges, "src", "dst", sources, maxHops = 3,
          edgesDistinct = true, localComputeMaxEdges = localMax)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run2(10000000L) === run2(0L))
  }

  test("chain distances; cap truncates; unreachable excluded") {
    val chain = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (9L, 10L))
    assert(run(chain, Seq(0L), 3) ===
      Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L))
    assert(run(chain, Seq(0L), 10) ===
      Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
  }

  test("shortest of several paths wins; cycles don't revisit") {
    // 0->1->2->3 and shortcut 0->3; cycle 3->0
    val g = Seq((0L, 1L), (1L, 2L), (2L, 3L), (0L, 3L), (3L, 0L))
    assert(run(g, Seq(0L), 5) ===
      Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 1L))
  }

  test("multi-source takes the minimum distance") {
    val chain = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L))
    assert(run(chain, Seq(0L, 3L), 2) ===
      Map(0L -> 0L, 3L -> 0L, 1L -> 1L, 4L -> 1L, 2L -> 2L))
  }
}
