package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class BloomSpec extends AnyFunSuite with graft.SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"

  test("bit round-trip: everything set is found") {
    val bits = new Array[Long](16) // 1024 bits
    val hashes = (1L to 200L).map(i => i * 0x9e3779b97f4a7c15L)
    hashes.foreach(h => BloomBits.set(bits, h, 5))
    assert(hashes.forall(h => BloomBits.mightContain(bits, h, 5)),
      "a Bloom filter must never produce a false negative")
  }

  /** Exact per-doc hit counts via the join the filter replaces. */
  private def exactHits(n: Int): Map[Long, Long] = {
    val d = graft.Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val bench = d.filter(col("doc_id") % 25 === 0)
      .select(array_join(slice(split(col("text"), " "), 1, 60), " ").as("bench_text"))
    val bng = bench.select(explode(Dedup.hashedNgrams("bench_text", n)).as("h")).distinct()
    d.select(col("doc_id"), explode(Dedup.hashedNgrams("text", n)).as("h"))
      .join(bng, "h")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("full-size filter equals the exact join (fp odds ~1e-10)") {
    val got = graft.queries.CurationQueries.bloomDecontaminate(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === exactHits(8))
  }

  test("undersized filter: one-sided error — supersets, never misses") {
    val d = graft.Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val bench = d.filter(col("doc_id") % 25 === 0)
      .select(array_join(slice(split(col("text"), " "), 1, 60), " ").as("bench_text"))
    // 1024 bits for ~1k n-grams: saturated, so false positives are certain
    val bits = Bloom.ngramFilter(bench, "bench_text", n = 8, numBits = 1024)
    val got = d.select(col("doc_id"),
        Bloom.ngramHitCount("text", 8, bits).cast("long").as("n_hits"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = exactHits(8)
    exact.foreach { case (id, hits) =>
      assert(got(id) >= hits, s"doc $id: bloom ${got(id)} < exact $hits (false negative!)")
    }
    assert(got.values.sum > exact.values.sum,
      "a saturated filter must show false positives (or the probe is vacuous)")
  }
}
