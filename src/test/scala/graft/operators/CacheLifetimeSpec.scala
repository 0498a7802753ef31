package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Caching

/** Pins the round-7 cache-lifetime contract: operators with BOUNDED
  * outputs (Hits top-k, distributed quantiles) release every internal
  * persist before returning — nothing survives the call, with NO
  * caller cleanup — and operators with corpus-sized outputs
  * (GlobalIds, boilerplate) register their persists with
  * [[Caching.CacheLedger]] so one `releaseAll()` at a query boundary
  * drops them. Assertions are DELTAS over `getPersistentRDDs` (other
  * suites share the forked JVM's SparkContext). */
class CacheLifetimeSpec extends AnyFunSuite with graft.SharedSpark {

  import spark.implicits._

  private def cachedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("Hits.hits releases every internal persist before returning") {
    val edges = (for { c <- 1L to 40L; p <- 1L to (c % 5 + 1) }
      yield (c, p * 100)).toDF("c", "p")
    val before = cachedIds
    val out = Hits.hits(edges, "c", "p", iterations = 2, topK = 5)
    assert((cachedIds -- before).isEmpty,
      "HITS must unpersist edge list + score vectors before returning")
    // and the returned frame is self-contained (LocalRelation): it can
    // still be consumed repeatedly after the unpersist
    assert(out.count() === 10L)
    assert(out.count() === 10L)
  }

  test("exactQuantilesDistributed releases its range snapshot") {
    val df = (1 to 500).map(i => (s"g${i % 3}", i.toLong)).toDF("g", "v")
    val before = cachedIds
    // force the distributed path: the snapshot under test only exists
    // there (the r11 local regime releases its own projection in
    // finally — asserted by the same cachedIds check on a second call)
    val out = Profile.exactQuantilesDistributed(df, "g", col("v"),
      Seq(50, 90), localComputeMaxRows = 0L)
    assert((cachedIds -- before).isEmpty,
      "the bounded-output quantile form must not leave its snapshot pinned")
    assert(out.count() === 6L)
    val outLocal = Profile.exactQuantilesDistributed(df, "g", col("v"), Seq(50, 90))
    assert((cachedIds -- before).isEmpty,
      "the local regime must release its projection before returning")
    assert(outLocal.count() === 6L)
  }

  test("GlobalIds persists are ledger-registered; releaseAll drops them") {
    Caching.CacheLedger.releaseAll() // start from a clean ledger
    val before = cachedIds
    val ids = GlobalIds.assign((1L to 200L).toDF("k"), "k")
    assert(ids.count() === 200L)
    assert((cachedIds -- before).nonEmpty,
      "corpus-sized two-consumer snapshot is expected to stay pinned " +
        "while the lazy result lives")
    Caching.CacheLedger.releaseAll()
    assert((cachedIds -- before).isEmpty,
      "releaseAll must unpersist every ledger-registered frame")
  }

  test("headline queries leave ZERO persisted RDDs after one releaseAll") {
    // the round-6 verdict's acceptance: no cached RDDs survive a
    // completed headline query. Drive the most cache-heavy families
    // (graph fixpoints, minhash dedup, global ids, boilerplate,
    // triangles) end-to-end at sf0.001 and assert the ledger sweep
    // catches every internal persist.
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/lineitem.parquet").exists())
    val names = Seq("g01_pagerank", "g02_bfs", "g05_kcore", "g03_triangles",
      "d03_dedup_minhash", "p25_global_ids", "t20_boilerplate",
      "q54_abc_pareto")
    Caching.CacheLedger.releaseAll()
    spark.catalog.clearCache()
    val before = cachedIds
    names.foreach { n =>
      graft.SparkEntry.queries(n)(spark, dir).count()
      Caching.CacheLedger.releaseAll()
      val leftover = cachedIds -- before
      assert(leftover.isEmpty,
        s"$n left persisted RDDs ${leftover.mkString(",")} after releaseAll")
    }
  }

  test("removeBoilerplate line stream is ledger-registered") {
    Caching.CacheLedger.releaseAll()
    val docs = (1 to 40).map(i =>
      (i.toLong, "s", s"nav menu\nbody $i\nfooter")).toDF("id", "src", "text")
    val before = cachedIds
    val out = TextAnalysis.removeBoilerplate(docs, "id", "src", "text", 30L)
    assert(out.count() === 40L)
    Caching.CacheLedger.releaseAll()
    assert((cachedIds -- before).isEmpty)
  }
}
