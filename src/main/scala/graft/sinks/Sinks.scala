package graft.sinks

import java.net.http.HttpClient
import java.time.Duration

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.util.LongAccumulator

import graft.pipeline.VectorRecord
import graft.sinks.VectorDbSinks.q

/** Vector sinks (SURVEY.md §2.6). The vector-DB uploads (Pinecone /
  * Qdrant / Weaviate, K1-K3) and the raw-embeddings webhook (K4) all
  * reduce to: per partition, micro-batches of ≤128 records POSTed to an
  * endpoint, with deterministic ids making retried tasks idempotent
  * upserts (reference vector_uploader.py:74,116,145; README.md:210).
  *
  * `foreachPartition` keeps the write distributed; per-batch failures
  * count into an accumulator instead of failing the job, preserving the
  * reference's partial-failure semantics (a failed batch makes the job
  * PARTIALLY_COMPLETED, not dead — job_service.py:32-51).
  */
object Sinks {

  /** Reference PINECONE_BATCH_SIZE, reused for every sink
    * (src/worker/config.py:3). */
  final val UpsertBatchSize = 128

  /** K6: parquet vector store — the local/test oracle sink. */
  def writeParquet(records: Dataset[VectorRecord], path: String): Unit =
    records.write.mode("overwrite").parquet(path)

  /** K4: raw-embeddings webhook. POSTs
    * `{"Embeddings":[...],"DocumentID":…,"JobID":…}` with the
    * X-Embeddings-Webhook-Key header (reference src/shared/utils.py:15-32),
    * in micro-batches of [[UpsertBatchSize]], `attempts` tries each.
    * Returns nothing; failures tally into the accumulators. */
  def webhook(records: Dataset[VectorRecord], url: String, key: String,
              jobId: String, batchSize: Int = UpsertBatchSize,
              attempts: Int = 3, baseDelayMs: Long = 200L,
              sent: LongAccumulator = null,
              failed: LongAccumulator = null): Unit = {
    records.foreachPartition { (it: Iterator[VectorRecord]) =>
      val client = HttpClient.newBuilder()
        .connectTimeout(Duration.ofSeconds(30)).build()
      it.grouped(batchSize).foreach { batch =>
        val body = batch.map { r =>
          val vec = r.vector.mkString("[", ",", "]")
          s"""{"id":"${r.id}","source_text":${q(r.source_text)},"source_document":${q(r.source_document)},"vector":$vec}"""
        }.mkString("""{"Embeddings":[""", ",", s"""],"DocumentID":"","JobID":${q(jobId)}}""")
        val ok = VectorDbSinks.postWithRetry(client, url,
          ("X-Embeddings-Webhook-Key", key), body, attempts, baseDelayMs)
        if (ok) { if (sent != null) sent.add(batch.length.toLong) }
        else if (failed != null) failed.add(batch.length.toLong)
      }
    }
  }

  /** F4: chunk-validation webhook — a semi-join against an external
    * service: POST the partition's chunk texts, keep only the indices the
    * service returns (reference worker.py:148-172; the row set is
    * *replaced* by the service's answer, so this cannot be a Catalyst
    * filter). The `validate` function abstracts the HTTP call so tests
    * can inject a local stub. */
  def validateChunks[T](ds: Dataset[T], batchSize: Int = UpsertBatchSize)(
      validate: Seq[T] => Seq[T]): Dataset[T] = {
    import ds.sparkSession.implicits._
    implicit val enc = ds.encoder
    ds.mapPartitions { it =>
      it.grouped(batchSize).flatMap(b => validate(b.toSeq))
    }
  }
}
