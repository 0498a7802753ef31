package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ClustersSpec extends AnyFunSuite with graft.SharedSpark {

  import spark.implicits._

  private def cc(edges: (Long, Long)*): Map[Long, Long] =
    Clusters.connectedComponents(edges.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("chain + separate pair + triangle resolve to component minima") {
    // chain 1-2-3-4, pair 10-11, triangle 20-21-22 (one edge redundant)
    val got = cc((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L))
    assert(got === Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("transitive closure across pair direction and long path") {
    // min id is at one END of a 6-node path, and edges arrive in mixed
    // orientation — the label must walk the full diameter
    val got = cc((6L, 5L), (4L, 5L), (3L, 4L), (3L, 2L), (1L, 2L))
    assert(got.values.toSet === Set(1L))
    assert(got.keySet === Set(1L, 2L, 3L, 4L, 5L, 6L))
  }

  test("hitting maxIterations without convergence fails loudly, never silently") {
    // a 4-hop path needs 4 rounds; capping at 1 must THROW — a partial
    // labeling would split one true cluster and the dedup pass would
    // keep extra copies with no signal (r2 review finding)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("id_a", "id_b")
    // the DISTRIBUTED path (forced: the local union-find is always
    // converged and deliberately never raises)
    val e = intercept[IllegalStateException] {
      Clusters.connectedComponents(pairs, maxIterations = 1,
        localComputeMaxEdges = 0L)
    }
    assert(e.getMessage.contains("did not converge"))
    // the same graph with a sufficient cap converges to the global min
    val full = Clusters.connectedComponents(pairs, maxIterations = 10,
        localComputeMaxEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(full.values.toSet === Set(1L))
  }

  test("local union-find equals distributed propagation on the sf0.001 pair graph") {
    val pairs = graft.queries.GraphCache.docJaccardPairs(spark, "/root/testdata/sf0.001")
      .select(col("id_a"), col("id_b"))
    def run(localMax: Long) =
      Clusters.connectedComponents(pairs, localComputeMaxEdges = localMax)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = run(10000000L)
    assert(local.nonEmpty)
    assert(local === run(0L))
  }

  test("ids past the packing bound still take the LOCAL path (dictionary pre-pass)") {
    // two components whose ids straddle 2³¹/2³² (r12 stretch) — the
    // union-find must route through LocalGraph's id dictionary and
    // still return a driver-built LocalRelation, equal to the
    // distributed propagation
    val big = 5000000000L
    val pairs = Seq((big, big + 3L), (big + 3L, 2147483648L),
      (7L, big + 100L)).toDF("id_a", "id_b")
    val localDf = Clusters.connectedComponents(pairs)
    assert(localDf.queryExecution.logical.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
      "big-id pair graph fell off the local regime")
    val local = localDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Clusters.connectedComponents(pairs, localComputeMaxEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local === dist)
    assert(local === Map(
      big -> 2147483648L, (big + 3L) -> 2147483648L,
      2147483648L -> 2147483648L,
      7L -> 7L, (big + 100L) -> 7L))
  }

  test("empty pair graph yields empty labeling") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Clusters.connectedComponents(empty).isEmpty)
  }

  test("canonicalize keeps cluster minima and singleton docs") {
    val docs = Seq((1L, "a"), (2L, "a'"), (3L, "a''"), (7L, "solo"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val got = Clusters.canonicalize(docs, pairs, "doc_id")
      .select("doc_id", "cluster_id", "keep")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got === Set((1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (7L, 7L, true)))
  }

  test("d08 equals a driver-side union-find on the d02 pair graph") {
    val sfDir = "/root/testdata/sf0.001"
    val pairDf = Dedup.jaccardPairs(
      graft.Tables.documents(spark, sfDir), "doc_id", "text", n = 3, threshold = 0.5)
    val edges = pairDf.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // reference union-find
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val expect = parent.keys.map(k => k -> find(k)).toMap
    val got = Clusters.connectedComponents(pairDf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expect)
  }
}
