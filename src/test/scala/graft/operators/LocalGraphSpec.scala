package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Pins the [[LocalGraph]] primitive toolkit every local graph regime
  * (PageRank/BFS/KCore/Clusters/HITS) builds on: the packed-long
  * collect round-trips (src, dst) exactly, the node dictionary is
  * sorted-distinct over both endpoints, and the CSR preserves edge
  * MULTIPLICITY with ascending out-lists — the properties the peel /
  * rank / walk loops assume without re-checking. */
class LocalGraphSpec extends AnyFunSuite with graft.SharedSpark {

  import spark.implicits._

  test("packed collect round-trips (src, dst) including duplicates and the id bound") {
    val edges = Seq((0L, 5L), (5L, 0L), (5L, 0L), // duplicate preserved
      (LocalGraph.MaxId, 0L), (0L, LocalGraph.MaxId), (7L, 7L))
    val packed = LocalGraph.collectPacked(
      edges.toDF("src", "dst"), "src", "dst")
    val back = packed.map(p => (LocalGraph.src(p), LocalGraph.dst(p)))
      .toSeq.sorted
    assert(back === edges.sorted, "packing must be lossless at both id extremes")
  }

  test("nodeIds: sorted distinct over BOTH endpoints") {
    val packed = LocalGraph.collectPacked(
      Seq((3L, 9L), (9L, 3L), (3L, 7L), (1L, 1L)).toDF("s", "d"), "s", "d")
    assert(LocalGraph.nodeIds(packed).toSeq === Seq(1L, 3L, 7L, 9L))
  }

  test("csr: multiplicity preserved, out-lists ascending, offsets consistent") {
    // node 5 has out-edges [0, 0, 9] (duplicate kept); 0 has [5]; 9 none
    val packed = LocalGraph.collectPacked(
      Seq((5L, 9L), (5L, 0L), (5L, 0L), (0L, 5L)).toDF("s", "d"), "s", "d")
    val ids = LocalGraph.nodeIds(packed)
    assert(ids.toSeq === Seq(0L, 5L, 9L))
    val (offsets, targets) = LocalGraph.csr(packed, ids)
    assert(offsets.toSeq === Seq(0, 1, 4, 4))
    def out(i: Int): Seq[Long] =
      (offsets(i) until offsets(i + 1)).map(k => ids(targets(k)))
    assert(out(0) === Seq(5L))
    assert(out(1) === Seq(0L, 0L, 9L), "duplicates kept, ascending")
    assert(out(2) === Seq.empty)
    // the CSR edge multiset equals the input multiset
    val csrEdges = ids.indices.flatMap(i => out(i).map(d => (ids(i), d))).sorted
    assert(csrEdges === Seq((0L, 5L), (5L, 0L), (5L, 0L), (5L, 9L)))
  }

  test("idx: exact hit and absent id") {
    val ids = Array(2L, 4L, 8L)
    assert(LocalGraph.idx(ids, 4L) === 1)
    assert(LocalGraph.idx(ids, 5L) < 0)
  }
}
