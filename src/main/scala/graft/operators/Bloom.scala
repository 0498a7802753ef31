package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bloom-filter decontamination: membership of a benchmark/eval n-gram
  * set as a broadcast bitset test instead of a shuffle join.
  *
  * [[Dedup.contaminationPairs]] answers "which (corpus doc, eval item)
  * pairs overlap, and by how much" — that needs the join. The common
  * production question is cheaper: "does this document touch the eval
  * set AT ALL" (drop it if so). For that, the eval side collapses to a
  * Bloom bitset of its n-gram hashes — a few hundred KB for any
  * real-world eval suite — and the corpus side becomes a SCAN-SIDE
  * probe: no shuffle, no explode, no join, one codegen'd expression per
  * document. At 100 TB that is the difference between re-shuffling the
  * corpus n-gram postings and a map-only pass.
  *
  * One-sided error: a Bloom filter has NO false negatives (a document
  * sharing an eval n-gram is always flagged), and the false-positive
  * rate is (k·n/m)^k — sized at [[DefaultNumBits]]/[[DefaultNumHashes]]
  * for n ≈ 10⁴ eval n-grams that is ~1e-10 per probe, so exact-join
  * parity is expected at any test scale (BloomSpec pins both the
  * no-false-negative contract and a deliberately undersized filter's
  * false positives). */
object Bloom {

  /** 2²³ bits = 1 MiB — far past eval-suite scale. */
  val DefaultNumBits: Int = 1 << 23
  val DefaultNumHashes: Int = 5

  /** Build a filter over a column of 64-bit hashes: per-partition local
    * bitsets OR-merged on the driver (the filter is a model artifact,
    * like k-means centroids — collecting it is the point). */
  def buildFilter(hashes: DataFrame, hashCol: String,
                  numBits: Int = DefaultNumBits,
                  numHashes: Int = DefaultNumHashes): Array[Long] = {
    require(numBits % 64 == 0 && numBits > 0, s"numBits must be a positive multiple of 64, got $numBits")
    import hashes.sparkSession.implicits._
    val words = numBits / 64
    hashes.select(col(hashCol).cast("long")).as[Long]
      .mapPartitions { it =>
        // empty partitions contribute nothing — without this guard every
        // idle partition ships a zero bitset (32 cores × 1 MiB) through
        // the merge
        if (!it.hasNext) Iterator.empty
        else {
          val bits = new Array[Long](words)
          it.foreach(h => BloomBits.set(bits, h, numHashes))
          Iterator.single(bits)
        }
      }
      // fold over Option, not reduce: an empty input (empty eval set)
      // yields the all-zero filter instead of throwing. The zero is None,
      // not a zero bitset, because RDD.fold ships its zero inside every
      // task's binary (1 MiB each at the default size)
      .rdd.map(Option(_)).fold(None) {
        case (Some(a), Some(b)) =>
          var i = 0
          while (i < a.length) { a(i) |= b(i); i += 1 }
          Some(a)
        case (a, b) => a.orElse(b)
      }
      .getOrElse(new Array[Long](words))
  }

  /** Filter over the distinct word `n`-gram hashes of a text column
    * (same [[Dedup.hashedNgrams]] key the join-based decontamination
    * uses, so the two paths are interchangeable). */
  def ngramFilter(docs: DataFrame, textCol: String, n: Int,
                  numBits: Int = DefaultNumBits,
                  numHashes: Int = DefaultNumHashes): Array[Long] =
    buildFilter(
      docs.select(explode(Dedup.hashedNgrams(textCol, n)).as("h")),
      "h", numBits, numHashes)

  /** Scan-side decontamination: per document, how many of its distinct
    * word `n`-grams might be in the filter (0 = provably clean). */
  def ngramHitCount(textCol: String, n: Int, bits: Array[Long],
                    numHashes: Int = DefaultNumHashes): Column =
    graft.functions.GraftFunctions.bloomHitCount(
      Dedup.hashedNgrams(textCol, n), bits, numHashes)
}

/** Bit-level Bloom probe shared by the builder and the native
  * `bloom_hit_count` probe ([[graft.functions.helpers.bloomHitCount]]):
  * both sides MUST derive probe positions identically.
  * Kirsch–Mitzenmacher double hashing: probe_i = h1 + i·h2 over the
  * already-64-bit input hash, h2 remixed (SplitMix64 finalizer, forced
  * odd) so the probe stride is independent of h1. */
object BloomBits {

  private def h2(h: Long): Long = {
    var z = h
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    (z ^ (z >>> 31)) | 1L
  }

  def set(bits: Array[Long], hash: Long, numHashes: Int): Unit = {
    val m = bits.length.toLong * 64L
    val step = h2(hash)
    var i = 0
    var probe = hash
    while (i < numHashes) {
      val idx = ((probe % m) + m) % m
      bits((idx >>> 6).toInt) |= 1L << (idx & 63)
      probe += step
      i += 1
    }
  }

  def mightContain(bits: Array[Long], hash: Long, numHashes: Int): Boolean = {
    val m = bits.length.toLong * 64L
    val step = h2(hash)
    var i = 0
    var probe = hash
    while (i < numHashes) {
      val idx = ((probe % m) + m) % m
      if ((bits((idx >>> 6).toInt) & (1L << (idx & 63))) == 0L) return false
      probe += step
      i += 1
    }
    true
  }
}
