package graft.pipeline

import scala.util.{Failure, Success}

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.core.{ChunkStrategy, Uuid5}
import graft.operators.Chunking
import graft.sinks.InFlight

/** One chunk flowing through the embed stage. */
final case class ChunkRow(doc_id: Long, source: String, chunk_seq: Int,
                          chunk_id: String, chunk_text: String)

/** A chunk with its vector — the standardized sink record
  * (reference README.md:201-210: id, source_data, source_document,
  * embeddings). */
final case class VectorRecord(id: String, source_text: String,
                              source_document: String, vector: Array[Float])

/** The reference pipeline restated as one declarative Spark job
  * (SURVEY.md §3.1): documents → chunk → embed → vector records (+ jobs
  * ledger). Queue hops become stage boundaries; the embed map runs in
  * `mapPartitions` with the reference's batching envelope.
  *
  * Scale posture: chunking is narrow (no shuffle); embedding is narrow;
  * the only shuffle is the optional ledger aggregation. Each task keeps
  * up to the embedder's `concurrency` calls in flight, so embed-API
  * parallelism is `concurrency` × concurrently running tasks.
  */
object EmbedPipeline {

  /** documents(doc_id, text, source) → typed chunk rows. */
  def chunkStage(docs: DataFrame, strategy: ChunkStrategy,
                 size: Int, overlap: Int): Dataset[ChunkRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("source"), Chunking.chunks(col("text"), strategy, size, overlap))
      .as[ChunkRow]
  }

  /** The embed map (reference E1, worker.py:92-113): each task cuts
    * `embedder.maxBatchSize`-text calls as chunks arrive, keeps up to
    * `embedder.concurrency` of them in flight, and yields each call's
    * records in input order once it settles. A failed call fails the
    * task. */
  def embedStage(chunks: Dataset[ChunkRow], embedder: Embedder): Dataset[VectorRecord] = {
    val spark = chunks.sparkSession
    import spark.implicits._
    chunks.mapPartitions(embedCalls(embedder, _).flatMap { case (batch, vecs) => records(batch, vecs.get) })
  }

  /** One task's embedding calls, each with its chunks, in input order. */
  private def embedCalls(embedder: Embedder, chunks: Iterator[ChunkRow]) =
    InFlight.batched(chunks, embedder.maxBatchSize, embedder.concurrency, "embed")(
      batch => embedder.embedBatch(batch.map(_.chunk_text)))

  private def records(chunks: IndexedSeq[ChunkRow], vecs: IndexedSeq[Array[Float]]): Iterator[VectorRecord] =
    chunks.iterator.zip(vecs.iterator).map { case (c, v) => VectorRecord(sinkId(c), c.chunk_text, c.source, v) }

  /** The sink id carries document context (like the reference's
    * uuid5(batch_id, job_id, i), vector_uploader.py:59) — chunk_id alone
    * is uuid5(text, pos, label) and collides across documents that share
    * a window. */
  private def sinkId(c: ChunkRow): String = Uuid5.ofParts(c.doc_id, c.chunk_seq, c.chunk_text)

  /** Full ingestion: the `/jobs` lifecycle as one DataFrame program. */
  def run(docs: DataFrame, strategy: ChunkStrategy = ChunkStrategy.ExactByCharacters,
          size: Int = 256, overlap: Int = 128,
          embedder: Embedder = new HashEmbedder(64)): Dataset[VectorRecord] =
    embedStage(chunkStage(docs, strategy, size, overlap), embedder)

  /** A vector record plus its batch outcome: `ok=false` rows carry the
    * failure cause instead of a vector (the reference's FAILED batch,
    * worker.py:327-335). */
  final case class StatusRecord(id: String, source_text: String,
                                source_document: String, vector: Array[Float],
                                ok: Boolean, error: String)

  /** Embed with the reference's partial-failure semantics: an embedding
    * call that fails (after the embedder's own retries) fails THOSE
    * chunks, not the Spark job — failed rows flow to the ledger as batch
    * failures so the job lands on PARTIALLY_COMPLETED / FAILED exactly
    * like update_job_with_batch (job_service.py:32-51). The failure unit
    * is one call: `embedder.maxBatchSize` chunks. */
  def embedStageWithStatus(chunks: Dataset[ChunkRow], embedder: Embedder): Dataset[StatusRecord] = {
    val spark = chunks.sparkSession
    import spark.implicits._
    chunks.mapPartitions(embedCalls(embedder, _).flatMap {
      case (batch, Success(vecs)) => records(batch, vecs).map(r =>
        StatusRecord(r.id, r.source_text, r.source_document, r.vector, ok = true, error = ""))
      case (batch, Failure(e)) => batch.iterator.map(c => StatusRecord(sinkId(c), c.chunk_text,
        c.source, Array.empty[Float], ok = false, error = String.valueOf(e.getMessage)))
    })
  }

  /** A1 job status from a job's batch outcomes
    * (update_job_with_batch, job_service.py:32-51): COMPLETED when every
    * batch succeeded, FAILED when none did, else PARTIALLY_COMPLETED. */
  def jobStatus(succeeded: Column, total: Column): Column =
    when(succeeded === total, "COMPLETED")
      .when(succeeded > 0, "PARTIALLY_COMPLETED")
      .otherwise("FAILED")

  /** A1 ledger over status records, one batch per chunk. */
  def statusLedger(records: Dataset[StatusRecord]): DataFrame =
    records.toDF()
      .groupBy(col("source_document").as("job_id"))
      .agg(
        count(lit(1)).as("total_chunks"),
        sum(when(col("ok"), 1L).otherwise(0L)).as("chunks_succeeded"))
      .withColumn("job_status", jobStatus(col("chunks_succeeded"), col("total_chunks")))

  /** Jobs ledger from the embedded output: per-source batch accounting
    * (A1 semantics — COMPLETED / PARTIALLY_COMPLETED / FAILED). `ok`
    * marks per-chunk success; callers computing partial failures pass the
    * per-partition success flags. */
  def ledger(records: DataFrame): DataFrame =
    records
      .groupBy(col("source_document").as("job_id"))
      .agg(count(lit(1)).as("vectors_written"),
        countDistinct(col("id")).as("distinct_ids"))
      .withColumn("job_status",
        when(col("vectors_written") === col("distinct_ids"), "COMPLETED")
          .otherwise("PARTIALLY_COMPLETED"))
}
