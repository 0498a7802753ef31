package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[IndexStore]]: a trained IVF-PQ model round-trips through
  * parquet bit-exactly, and a search served from the RELOADED model
  * equals the trainer's own search row for row — the
  * train-once-serve-many contract across process boundaries. */
class IndexStoreSpec extends AnyFunSuite with graft.SharedSpark {

  import spark.implicits._

  private def corpus = (0L until 200L).map(i =>
    (i, Array.tabulate(16)(d => math.sin(i * 16 + d).toFloat).toSeq))
    .toDF("vec_id", "embedding")

  test("IVF-PQ model round-trips bit-exactly and serves identical results") {
    val df = corpus
    val model = ProductQuantizer.fitIvfPqExact(
      df, "vec_id", "embedding", coarseK = 4, m = 4, k = 8, iterations = 3)
    val path = java.nio.file.Files.createTempDirectory("ivfpq_store").toString
    IndexStore.saveIvfPq(spark, model, path)
    val loaded = IndexStore.loadIvfPq(spark, path)

    assert(loaded.subDim === model.subDim)
    assert(loaded.m === model.m && loaded.k === model.k)
    assert(loaded.scale === model.scale)
    assert(loaded.centsQ.map(_.toSeq).toSeq === model.centsQ.map(_.toSeq).toSeq)
    assert(loaded.booksQ.map(_.map(_.toSeq).toSeq).toSeq
      === model.booksQ.map(_.map(_.toSeq).toSeq).toSeq)

    val q = df.filter(col("vec_id") < 3)
    def run(m: ProductQuantizer.IvfPqModel) =
      ProductQuantizer.searchIvfPqExact(q, df, "vec_id", "embedding", m,
          nprobe = 2, shortlist = 20, topK = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(run(loaded) === run(model),
      "served search must equal the trainer's search row for row")
    graft.core.Caching.CacheLedger.releaseAll()
  }

  test("k-means coarse quantizer round-trips bit-exactly and " +
      "loadOrPublish trains exactly once") {
    val centroidsQ = Array.tabulate(8)(i =>
      Array.tabulate(16)(d => (i * 1000003L + d * 7L) - 42L))
    val root = java.nio.file.Files.createTempDirectory("km_pub")
    val path = root.resolve("km_8").toString
    var trained = 0
    val m1 = IndexStore.loadOrPublishKmeans(spark, path) {
      trained += 1; centroidsQ
    }
    assert(trained === 1)
    assert(m1.map(_.toSeq).toSeq === centroidsQ.map(_.toSeq).toSeq)
    // "JVM 2": loads the artifact, never invokes the trainer
    val m2 = IndexStore.loadOrPublishKmeans(spark, path) {
      trained += 1; sys.error("must not retrain")
    }
    assert(trained === 1)
    assert(m2.map(_.toSeq).toSeq === centroidsQ.map(_.toSeq).toSeq)
  }

  test("sq8 bounds round-trip bit-exactly and loadOrPublish fits exactly once") {
    val model = Sq8.Model(
      Array.tabulate(16)(d => -1000L - d * 13L),
      Array.tabulate(16)(d => 2000L + d * 7L),
      Sq8.Scale)
    val root = java.nio.file.Files.createTempDirectory("sq8_pub")
    val path = root.resolve("sq8_16").toString
    var fitted = 0
    val m1 = IndexStore.loadOrPublishSq8(spark, path) { fitted += 1; model }
    assert(fitted === 1)
    assert(m1.minQ.toSeq === model.minQ.toSeq)
    assert(m1.maxQ.toSeq === model.maxQ.toSeq)
    assert(m1.scale === model.scale)
    // "JVM 2": loads the artifact, never invokes the fit
    val m2 = IndexStore.loadOrPublishSq8(spark, path) {
      fitted += 1; sys.error("must not refit")
    }
    assert(fitted === 1)
    assert(m2.minQ.toSeq === model.minQ.toSeq)
    assert(m2.maxQ.toSeq === model.maxQ.toSeq)
  }

  test("loadOrPublish serves a prior publisher's artifact without retraining") {
    val df = corpus
    val model = ProductQuantizer.fitIvfPqExact(
      df, "vec_id", "embedding", coarseK = 4, m = 4, k = 8, iterations = 3)
    val root = java.nio.file.Files.createTempDirectory("ivfpq_pub")
    val path = root.resolve("ivfpq_4-4-8").toString
    // "JVM 1": first contact trains and publishes atomically
    var trained = 0
    val m1 = IndexStore.loadOrPublishIvfPq(spark, path) { trained += 1; model }
    assert(trained === 1)
    // "JVM 2": the store path is the ONLY shared state (no in-memory
    // memo exists) — a second process must load the artifact and never
    // invoke its trainer. A throwing trainer proves the load path.
    val m2 = IndexStore.loadOrPublishIvfPq(spark, path) {
      fail("second session must serve the published artifact, not retrain")
    }
    assert(m2.centsQ.map(_.toSeq).toSeq === m1.centsQ.map(_.toSeq).toSeq)
    assert(m2.booksQ.map(_.map(_.toSeq).toSeq).toSeq
      === m1.booksQ.map(_.map(_.toSeq).toSeq).toSeq)
    val q = df.filter(col("vec_id") < 3)
    def run(m: ProductQuantizer.IvfPqModel) =
      ProductQuantizer.searchIvfPqExact(q, df, "vec_id", "embedding", m,
          nprobe = 2, shortlist = 20, topK = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(run(m2) === run(model),
      "a pure-server session's search must equal the trainer's")
    // a half-written artifact (no atomic rename ever happened) must
    // retrain, not serve garbage: corrupt by deleting the model file
    IndexStore.saveIvfPq(spark, model, path + "_broken")
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(path + "_broken", "model.bin"))
    var retrained = 0
    val m3 = IndexStore.loadOrPublishIvfPq(spark, path + "_broken") {
      retrained += 1; model
    }
    assert(retrained === 1 &&
      m3.centsQ.map(_.toSeq).toSeq === model.centsQ.map(_.toSeq).toSeq)
    graft.core.Caching.CacheLedger.releaseAll()
  }

  test("compaction: key handoff, threshold gate, and masked ≡ compacted serve") {
    val df = corpus
    val model = ProductQuantizer.fitIvfPqExact(
      df, "vec_id", "embedding", coarseK = 4, m = 4, k = 8, iterations = 3)
    val root = java.nio.file.Files.createTempDirectory("ivfpq_compact")
    val basePath = root.resolve("post").toString
    val compactPath = root.resolve("post_compact1").toString
    val resid = ProductQuantizer.fitIvfPqExactWithResid(
      df, "vec_id", "embedding", coarseK = 4, m = 4, k = 8, iterations = 3)._2
    val postings = IndexStore.loadOrPublishPostings(spark, basePath) {
      ProductQuantizer.encodeIvfPqPostings(resid, model)
    }
    assert(postings.count() === 200L)
    // below threshold: nothing published under the compaction key,
    // serving falls back to the tombstone-masked base
    val rare = col("id") % 100 === 0 // 2/200 = 1% dead
    val (servedRare, compactedRare) = IndexStore.compactPostings(
      spark, basePath, compactPath, rare, threshold = 0.10)
    assert(!compactedRare &&
      !java.nio.file.Files.isDirectory(java.nio.file.Paths.get(compactPath)))
    assert(servedRare.count() === 198L)
    // above threshold: the rewrite publishes under the COMPACTION key
    // (base untouched — masking remains the hot path for other readers)
    val dead = col("id") % 5 === 0 // 40/200 = 20% dead
    val (served, compacted) = IndexStore.compactPostings(
      spark, basePath, compactPath, dead, threshold = 0.10)
    assert(compacted &&
      java.nio.file.Files.isDirectory(java.nio.file.Paths.get(compactPath)))
    assert(served.count() === 160L)
    assert(spark.read.parquet(basePath).count() === 200L,
      "compaction must never rewrite the base artifact in place")
    // a second call serves the EXISTING compacted artifact (no rewrite)
    val (served2, again) = IndexStore.compactPostings(
      spark, basePath, compactPath, dead, threshold = 0.10)
    assert(again && served2.count() === 160L)
    // masked-serve ≡ compacted-serve, row for row
    val q = df.filter(col("vec_id") < 3)
    def run(codes: org.apache.spark.sql.DataFrame) =
      ProductQuantizer.searchIvfPqExact(q, df, "vec_id", "embedding", model,
          nprobe = 2, shortlist = 20, topK = 5,
          precomputedCodes = Some(codes))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSeq
    val masked = run(spark.read.parquet(basePath).filter(!dead))
    assert(masked === run(served), "compacted serve must equal masked serve")
    // deletions that arrive AFTER the compaction was published must not
    // resurface: an existing compact artifact re-applies the CURRENT
    // mask (r9 review — the early return used to serve T2\T1 live)
    val grown = dead || col("id") % 7 === 1
    val (served3, _) = IndexStore.compactPostings(
      spark, basePath, compactPath, grown, threshold = 0.10)
    val expectGrown = spark.read.parquet(basePath).filter(!grown).count()
    assert(served3.count() === expectGrown,
      "post-compaction tombstones must be masked on the compact artifact")
    // a NULL tombstone value means LIVE consistently (threshold count
    // and mask agree; r9 review — filter(!t) silently dropped nulls)
    val nullTs = when(col("id") % 5 === 0, lit(true))
      .otherwise(lit(null).cast("boolean"))
    val (servedN, _) = IndexStore.compactPostings(
      spark, basePath, root.resolve("post_compact_nullts").toString,
      nullTs, threshold = 0.99)
    assert(servedN.count() === 160L,
      "null tombstone = live: no silent row loss through 3VL filters")
    graft.core.Caching.CacheLedger.releaseAll()
  }

  test("load rejects a corrupted store loudly") {
    val df = corpus
    val model = ProductQuantizer.fitIvfPqExact(
      df, "vec_id", "embedding", coarseK = 4, m = 4, k = 8, iterations = 2)
    val path = java.nio.file.Files.createTempDirectory("ivfpq_bad").toString
    IndexStore.saveIvfPq(spark, model, path)
    // truncate the artifact mid-codebook: the structural checks must
    // fail loudly, not serve a silently-wrong index
    val bin = java.nio.file.Paths.get(path, "model.bin")
    val bytes = java.nio.file.Files.readAllBytes(bin)
    java.nio.file.Files.write(bin,
      java.util.Arrays.copyOf(bytes, bytes.length - 16))
    val ex = intercept[IllegalArgumentException] {
      IndexStore.loadIvfPq(spark, path)
    }
    assert(ex.getMessage.contains("corrupt"))
    // restoring the original bytes loads cleanly again — the checks
    // reject the corruption, not the format
    java.nio.file.Files.write(bin, bytes)
    val model2 = IndexStore.loadIvfPq(spark, path)
    assert(model2.booksQ.length === model.booksQ.length)
    graft.core.Caching.CacheLedger.releaseAll()
  }

  test("mergePostings: latest-wins by id, dedup on overlap, atomic publish") {
    val base = Seq(
      (1L, 10, Seq(1, 1)), (2L, 10, Seq(2, 2)), (3L, 11, Seq(3, 3)))
      .toDF("id", "cluster", "codes")
    // delta re-ingests id 2 with a NEW encoding and adds id 4; id 3
    // appears unchanged (the dedup case)
    val delta = Seq(
      (2L, 12, Seq(9, 9)), (3L, 11, Seq(3, 3)), (4L, 13, Seq(4, 4)))
      .toDF("id", "cluster", "codes")
    val path = java.nio.file.Files
      .createTempDirectory("merge_store").toString + "/merged"
    val merged = IndexStore.mergePostings(spark, path, Seq(base, delta))
      .collect()
      .map(r => r.getLong(0) ->
        (r.getInt(1), r.getSeq[Int](2).toList)).toMap
    assert(merged.keySet === Set(1L, 2L, 3L, 4L), "one row per live id")
    assert(merged(2L) === ((12, List(9, 9))),
      "re-ingested id must serve the NEWEST encoding")
    assert(merged(1L) === ((10, List(1, 1))) &&
      merged(3L) === ((11, List(3, 3))) && merged(4L) === ((13, List(4, 4))))
    // the artifact published: a fresh read sees the same merged set
    assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(path)))
    assert(spark.read.parquet(path).count() === 4L)
  }
}
