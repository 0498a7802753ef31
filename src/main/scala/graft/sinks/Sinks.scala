package graft.sinks

import org.apache.spark.sql.Dataset

/** Vector sinks (SURVEY.md §2.6). The vector-DB uploads (Pinecone /
  * Qdrant / Weaviate, K1-K3) and the raw-embeddings webhook (K4) all
  * reduce to: per partition, micro-batches of ≤128 records POSTed to an
  * endpoint, with deterministic ids making retried tasks idempotent
  * upserts (reference vector_uploader.py:74,116,145; README.md:210).
  * They share one writer, [[VectorDbDataSource]] (called through
  * [[VectorDbSinks.write]]): per-batch failures are counted in its
  * commit stats instead of failing the job, preserving the reference's
  * partial-failure semantics (a failed batch makes the job
  * PARTIALLY_COMPLETED, not dead — job_service.py:32-51).
  */
object Sinks {

  /** Reference PINECONE_BATCH_SIZE, reused for every sink
    * (src/worker/config.py:3). */
  final val UpsertBatchSize = 128

  /** F4: chunk-validation webhook — a semi-join against an external
    * service: POST the partition's chunk texts, keep only the indices the
    * service returns (reference worker.py:148-172; the row set is
    * *replaced* by the service's answer, so this cannot be a Catalyst
    * filter). The `validate` function abstracts the HTTP call so tests
    * can inject a local stub; calls run one at a time per task on the
    * remote legs' one call loop, [[InFlight]]. */
  def validateChunks[T](ds: Dataset[T], batchSize: Int = UpsertBatchSize)(
      validate: Seq[T] => Seq[T]): Dataset[T] =
    ds.mapPartitions(it =>
      InFlight.ordered(it.grouped(batchSize), limit = 1, "graft-validate")(validate).flatten)(ds.encoder)
}
