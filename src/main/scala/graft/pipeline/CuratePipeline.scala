package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.core.ChunkStrategy
import graft.operators.{Dedup, TextAnalysis}

/** The full training-data curation pipeline in one composable program —
  * what a 100 TB pretraining-data run chains together:
  *
  *   quality gate → exact dedup (keep-first) → near-dup removal
  *   (MinHash-LSH) → chunk → embed → vector records
  *
  * Every stage is one of the engine's tested operators; this composes
  * them with the keep/drop bookkeeping and a per-stage funnel report.
  * Shuffle inventory: exact dedup (digest keys), LSH bucket join +
  * candidate semi-join, and nothing else — chunking and embedding stay
  * narrow.
  */
object CuratePipeline {

  final case class Report(input: Long, afterQuality: Long, afterExact: Long,
                          afterNearDup: Long, vectors: Long)

  /** @param minQuality   drop docs scoring below this (TextAnalysis.qualityScore)
    * @param jaccard      near-dup threshold: of each pair ≥ it, the higher
    *                     doc_id is dropped (keep-first, like the exact path) */
  def run(docs: DataFrame,
          minQuality: Double = 0.2,
          jaccard: Double = 0.8,
          strategy: ChunkStrategy = ChunkStrategy.ExactByCharacters,
          chunkSize: Int = 256, chunkOverlap: Int = 128,
          embedder: Embedder = new HashEmbedder(64)): (Dataset[VectorRecord], Report) = {
    val input = docs.count()

    // each counted stage is persisted so the funnel counts don't
    // re-execute the whole upstream lineage (with a paid HTTP embedder
    // that would literally double the API bill); the returned vectors
    // dataset stays persisted — callers unpersist() after their write
    val quality = docs.filter(TextAnalysis.qualityScore(col("text")) >= minQuality).persist()
    val nQuality = quality.count()

    val exact = Dedup.keepFirst(quality, "doc_id", "text").persist()
    val nExact = exact.count()

    // near-dup removal: drop the higher id of every ≥-threshold pair
    val drops = Dedup.minHashLshPairs(exact, "doc_id", "text",
        n = 3, numHashes = 64, bands = 16, threshold = jaccard)
      .select(col("id_b").as("doc_id")).distinct()
    val surviving = exact.join(drops, Seq("doc_id"), "left_anti").persist()
    val nNear = surviving.count()

    // ledger-registered: the returned dataset stays persisted for the
    // caller's write; the next query boundary (CacheLedger.releaseAll)
    // or an explicit unpersist() releases it (the toDF view shares the
    // logical plan, so its unpersist uncaches this dataset)
    val vectors = EmbedPipeline.run(surviving, strategy, chunkSize, chunkOverlap, embedder).persist()
    graft.core.Caching.CacheLedger.register(vectors.toDF())
    val nVec = vectors.count()
    quality.unpersist(); exact.unpersist(); surviving.unpersist()

    (vectors, Report(input, nQuality, nExact, nNear, nVec))
  }
}
