package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Triangles.perNodeCounts]]: hand-counted graphs, and equality
  * of the broadcast-probe path vs the shuffle-join fallback (same
  * algorithm, two physical forms — the a03/a08 full-probe principle). */
class TrianglesSpec extends AnyFunSuite with graft.SharedSpark {

  import spark.implicits._

  test("K4: every vertex sits in C(3,2)=3 triangles") {
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("a", "b")
    val out = Triangles.perNodeCounts(e, "a", "b").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("path graph has no triangles; pendant triangle counts once") {
    // 1-2-3-4 path (no triangles) plus triangle 5-6-7
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (5L, 6L), (6L, 7L), (5L, 7L)).toDF("a", "b")
    val out = Triangles.perNodeCounts(e, "a", "b").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(5L -> 1L, 6L -> 1L, 7L -> 1L))
  }

  test("packed-probe boundary: id 2³¹−1 closing edges are found; ids " +
      "≥ 2³¹ and negative ids now KEEP the broadcast path (r12 #7)") {
    // r9 review regression context: with RAW-id packing the CSR
    // end-key (v+1)·2³² overflowed signed Long at v = 2³¹−1, so the
    // guard excluded ids ≥ 2³¹ from the broadcast path entirely. The
    // probe set now lives in dense-INDEX space (LocalGraph
    // .collectIndexed), so any id range keeps the local probe regime.
    val hi = (1L << 31) - 1
    val tri = Seq((10L, hi), (10L, 20L), (20L, hi)).toDF("a", "b")
    val out = Triangles.perNodeCounts(tri, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(10L -> 1L, 20L -> 1L, hi -> 1L))
    // ids past the old bound, and negative: still counted, and through
    // the BROADCAST path (the object-flatMap probe plan, not the
    // three-join legs) — the regime-equality twin of the r12 g-family
    // LocalGraph pins
    val big = (1L << 31) + 7L
    val tri2 = Seq((-5L, big), (-5L, 20L), (20L, big)).toDF("a", "b")
    val plan2 = Triangles.perNodeCounts(tri2, "a", "b")
    assert(plan2.queryExecution.executedPlan.toString
        .contains("SerializeFromObject"),
      "big-id graph under the edge cap must take the broadcast probe path")
    val out2 = plan2.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out2 == Map(-5L -> 1L, 20L -> 1L, big -> 1L))
    // and it must agree with the forced shuffle-join regime
    val joined = Triangles.perNodeCounts(tri2, "a", "b",
        maxBroadcastEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(joined === out2)
  }

  test("broadcast-probe and shuffle-join paths agree on a random graph") {
    // deterministic pseudo-random graph: 40 vertices, edge iff
    // xxhash-free arithmetic gate (no Math.random — reproducible)
    val pairs = for {
      i <- 1L to 40L; j <- (i + 1) to 40L
      if (i * 2654435761L + j * 40503L) % 7 == 0
    } yield (i, j)
    val e = pairs.toDF("a", "b")
    val broad = Triangles.perNodeCounts(e, "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val joined = Triangles.perNodeCounts(e, "a", "b", maxBroadcastEdges = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(broad.nonEmpty)
    assert(broad === joined)
  }
}
