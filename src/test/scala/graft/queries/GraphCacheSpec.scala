package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GraphCacheSpec extends AnyFunSuite with graft.SharedSpark {

  import spark.implicits._

  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_gc_spec").toString
    // a triangle (parts 1,2,3 share orders pairwise) + a pendant (4)
    Seq((10L, 1L), (10L, 2L), (11L, 2L), (11L, 3L), (12L, 1L), (12L, 3L),
        (13L, 3L), (13L, 4L))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    d
  }

  test("triangle artifact resolves its nested edges artifact first (no recursive memo)") {
    // calling the TRIANGLE artifact on a fresh key forces the edges
    // build from inside its code path — the regression this pins:
    // a computeIfAbsent inside another's mapping function throws
    // "Recursive update" whenever both keys land in one CHM bin
    val tri = GraphCache.coPurchaseTriangles(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tri === Map(1L -> 1L, 2L -> 1L, 3L -> 1L),
      "the planted triangle's three corners each count it once")
  }

  test("cross-JVM store: memo reset re-serves the published artifact; " +
       "corpus change invalidates via the data fingerprint") {
    val d = java.nio.file.Files.createTempDirectory("graft_gc_fp").toString
    def writeLineitem(rows: Seq[(Long, Long)]): Unit = {
      rows.toDF("l_orderkey", "l_partkey")
        .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
      // mtime resolution can be coarse; make the rewrite unambiguous
      val p = java.nio.file.Paths.get(s"$d/lineitem.parquet")
      java.nio.file.Files.list(p).forEach(f =>
        java.nio.file.Files.setLastModifiedTime(f,
          java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis() + scala.util.Random.nextInt(5000))))
    }
    writeLineitem(Seq((10L, 1L), (10L, 2L)))
    val first = GraphCache.coPurchaseEdges(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(first === Set((1L, 2L)))
    // a fresh process (simulated: memo cleared) must READ the
    // published build, not retrain — same result, no exception
    GraphCache.resetMemoForTest()
    val served = GraphCache.coPurchaseEdges(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(served === first)
    // corpus change: the fingerprint moves, the stale artifact is
    // unreachable, and the result reflects the NEW data
    writeLineitem(Seq((20L, 5L), (20L, 6L), (20L, 7L)))
    GraphCache.resetMemoForTest()
    val fresh = GraphCache.coPurchaseEdges(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fresh === Set((5L, 6L), (5L, 7L), (6L, 7L)),
      "stale artifact served after the corpus changed")
  }

  test("concurrent first callers: one build, every thread served the same artifact") {
    val d = java.nio.file.Files.createTempDirectory("graft_gc_conc").toString
    Seq((10L, 1L), (10L, 2L), (11L, 2L), (11L, 3L))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    GraphCache.resetMemoForTest()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 8).map(_ => pool.submit(
        new java.util.concurrent.Callable[Set[(Long, Long)]] {
          override def call(): Set[(Long, Long)] =
            GraphCache.coPurchaseEdges(spark, d)
              .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        }))
      val results = futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(results.forall(_ === Set((1L, 2L), (2L, 3L))),
        "every concurrent caller must see the same (correct) artifact")
    } finally pool.shutdownNow()
  }

  test("artifact reads are stable across repeated calls and match a direct build") {
    val viaCache = GraphCache.coPurchaseEdges(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val again = GraphCache.coPurchaseEdges(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaCache === again)
    assert(viaCache === Set((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)))
  }
}
