package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.CurationQueries

/** Round-3 curation additions: the hashed-linear classifier filter
  * (t17) and SemDeDup semantic deduplication (d12). */
class SemDedupClassifierSpec extends AnyFunSuite with graft.SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"

  test("classifier score matches hand-computed md5 feature weights") {
    import spark.implicits._
    // weight(w) = ((int(md5(w)[:8],16) % 4096) * 2654435761) % 2001 - 1000,
    // computed independently (python hashlib): hello=-331 world=-648 the=549
    val got = Seq("hello world", "the", "hello")
      .toDF("text")
      .select(graft.functions.GraftFunctions.classifierScore(col("text"), 4096).as("s"))
      .collect().map(_.getDouble(0))
    assert(got(0) === (-331.0 - 648.0) / 2000.0) // two words
    assert(got(1) === 549.0 / 1000.0)
    assert(got(2) === -331.0 / 1000.0)
  }

  test("classifier score: null text is null, empty text is defined") {
    import spark.implicits._
    val df = Seq[(java.lang.Long, String)]((1L, null), (2L, ""))
      .toDF("id", "text")
      .select(col("id"), graft.functions.GraftFunctions.classifierScore(col("text"), 4096).as("s"))
    val rows = df.collect().sortBy(_.getLong(0))
    assert(rows(0).isNullAt(1), "null text must stay null")
    // split('', ' ') = [''] -> one md5('') feature (python: weight 840)
    assert(rows(1).getDouble(1) === 840.0 / 1000.0)
  }

  test("t17 keep bit uses the rounded score on both sides") {
    val out = CurationQueries.classifierScore(spark, sfDir)
    val bad = out.filter(
      (col("clf_score") >= 0.0 && col("keep") =!= 1) ||
        (col("clf_score") < 0.0 && col("keep") =!= 0)).count()
    assert(bad === 0)
    // the fixed weight table is roughly zero-mean, so both classes exist
    val keeps = out.agg(sum(col("keep"))).head.getLong(0)
    assert(keeps > 0 && keeps < out.count(), s"degenerate keep split: $keeps")
  }

  test("semantic dedup: planted exact duplicates drop, one copy kept per pair") {
    val out = CurationQueries.semDedup(spark, sfDir).cache()
    val planted = out.filter(col("id") >= 1000000L)
    // identical vectors always share the k-means cell and verify at
    // cosine 1, so every planted copy clusters with its original...
    assert(planted.filter(col("cluster_id") === col("id") - 1000000L).count()
      === planted.count(), "every planted copy must join its original's cluster")
    // ...and the original (minimum id) is the kept canonical member
    assert(planted.filter(col("keep") === 1).count() === 0)
    val originals = out.filter(col("id") < 1000000L)
    assert(originals.filter(col("keep") === 0).count() === 0,
      "an original must never be dropped for its own planted copy")
    out.unpersist()
  }

  test("semantic dedup agrees with brute-force cosine pairs on this corpus") {
    // d05's threshold admits only the planted identical pairs (natural
    // max ~0.51); SemDeDup's within-cluster search must find exactly the
    // same duplicate set here because identical vectors cannot be split
    // across clusters
    val brute = CurationQueries.dedupEmbedding(spark, sfDir)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val dropped = CurationQueries.semDedup(spark, sfDir)
      .filter(col("keep") === 0)
      .select(col("cluster_id"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dropped === brute,
      s"missing=${brute.diff(dropped).take(3)} extra=${dropped.diff(brute).take(3)}")
  }

  test("fixed-point exact assignment agrees with the double-precision surface") {
    // the d12 oracle path quantizes vectors+centroids to 2^20 fixed
    // point for an engine-portable argmin; on this corpus (clusters far
    // wider than a quantization ulp) the assignment — and therefore the
    // whole (id, cluster_id, keep) output — must match the double form
    val e = graft.Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val planted = e.unionAll(
      e.filter(col("vec_id") % 10 === 0)
        .withColumn("vec_id", col("vec_id") + 1000000L))
    val dbl = Dedup.semanticDedup(planted, "vec_id", "embedding",
        k = 8, iterations = 2, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val (exactDf, centroidsQ) = Dedup.semanticDedupExact(planted, "vec_id",
      "embedding", k = 8, iterations = 2, threshold = 0.95)
    val exact = exactDf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(exact === dbl,
      s"missing=${dbl.diff(exact).take(3)} extra=${exact.diff(dbl).take(3)}")
    assert(centroidsQ.length === 8 && centroidsQ.forall(_.length === 64))
  }

  test("hot-cluster cap is a documented recall trade: dropped set shrinks, never grows") {
    val e = graft.Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val planted = e.unionAll(
      e.filter(col("vec_id") % 10 === 0)
        .withColumn("vec_id", col("vec_id") + 1000000L))
    def droppedIds(cap: Option[Int]): Set[Long] =
      Dedup.semanticDedup(planted, "vec_id", "embedding",
        k = 4, iterations = 1, threshold = 0.95, maxClusterPairs = cap)
        .filter(col("keep") === 0).select("id").collect().map(_.getLong(0)).toSet
    val uncapped = droppedIds(None)
    val capped = droppedIds(Some(5))
    // under the cap only star links to the cluster representative are
    // verified, so a copy whose original is not the representative can
    // slip through — but nothing NEW may be dropped (precision holds:
    // every emitted pair still passed the exact cosine verify)
    assert(capped.subsetOf(uncapped),
      s"cap must not invent duplicates: ${capped.diff(uncapped).take(3)}")
    assert(uncapped.nonEmpty, "baseline must drop the planted copies")
  }
}
