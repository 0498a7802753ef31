package graft.sinks

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import org.apache.spark.sql.Dataset
import org.apache.spark.util.LongAccumulator

import graft.core.Uuid5
import graft.pipeline.VectorRecord

/** Vector-database upsert sinks (SURVEY §2.6 K1-K3). Each builds the
  * exact upsert payload shape of the reference uploader and POSTs it in
  * micro-batches of 128 via `foreachPartition`; deterministic
  * uuid5(job, batch, i) record ids make retried tasks idempotent
  * upserts — the reference's own design (README.md:210).
  *
  * Payload shapes (reference src/worker/vector_uploader.py):
  *  - Pinecone (:55-61): `{id, values, metadata:{source_text, source_document}}`
  *  - Qdrant   (:88-97): `{id, vector, payload:{source_text, source_document}}`
  *  - Weaviate (:131-157): `{class, properties:{source_data, vectoflow_id,
  *    source_document}, vector}` — `vectoflow_id` [sic] replicates the
  *    reference's typo (SURVEY §7 quirk 6) for drop-in parity with data
  *    written by the reference.
  */
object VectorDbSinks {

  /** One upsert entry (payload JSON object) for a record. The id is
    * uuid5(jobId, batchId, i) exactly like the reference (so re-running
    * a batch overwrites, never duplicates). */
  sealed trait PayloadShape {
    def entry(r: VectorRecord, jobId: String, batchId: Long, i: Int): String
    /** Wrap a micro-batch of entries into the POST body. */
    def body(entries: Seq[String]): String
    def path: String
    /** Auth header (name, value) for this store: Pinecone and Qdrant
      * take an `Api-Key` header, Weaviate expects a Bearer token. */
    def authHeader(apiKey: String): (String, String) = ("Api-Key", apiKey)
  }

  private def vec(r: VectorRecord): String = r.vector.mkString("[", ",", "]")

  case object Pinecone extends PayloadShape {
    override def entry(r: VectorRecord, jobId: String, batchId: Long, i: Int): String =
      s"""{"id":"${Uuid5.ofParts(jobId, batchId, i)}","values":${vec(r)},""" +
        s""""metadata":{"source_text":${q(r.source_text)},"source_document":${q(r.source_document)}}}"""
    override def body(entries: Seq[String]): String =
      entries.mkString("""{"vectors":[""", ",", "]}")
    override val path = "/vectors/upsert"
  }

  case object Qdrant extends PayloadShape {
    override def entry(r: VectorRecord, jobId: String, batchId: Long, i: Int): String =
      s"""{"id":"${Uuid5.ofParts(jobId, batchId, i)}","vector":${vec(r)},""" +
        s""""payload":{"source_text":${q(r.source_text)},"source_document":${q(r.source_document)}}}"""
    override def body(entries: Seq[String]): String =
      entries.mkString("""{"points":[""", ",", "]}")
    override val path = "/points"
  }

  case object Weaviate extends PayloadShape {
    override def entry(r: VectorRecord, jobId: String, batchId: Long, i: Int): String =
      s"""{"class":"VectorflowChunk","properties":{"source_data":${q(r.source_text)},""" +
        // [sic] "vectoflow_id": the reference writes this misspelled
        // property (vector_uploader.py:149) while its README documents
        // "vectorflow_id" — replicated for data-level parity
        s""""vectoflow_id":"${Uuid5.ofParts(jobId, batchId, i)}",""" +
        s""""source_document":${q(r.source_document)}},"vector":${vec(r)}}"""
    override def body(entries: Seq[String]): String =
      entries.mkString("""{"objects":[""", ",", "]}")
    override val path = "/v1/batch/objects"
    override def authHeader(apiKey: String): (String, String) =
      ("Authorization", s"Bearer $apiKey")
  }

  def shapeFor(vectorDbType: String): PayloadShape = vectorDbType.toUpperCase match {
    case "PINECONE" => Pinecone
    case "QDRANT"   => Qdrant
    case "WEAVIATE" => Weaviate
    case other => throw new IllegalArgumentException(
      // reference: unsupported DB types log-and-fail the batch
      // (vector_uploader.py:52-53)
      s"Unsupported vector DB type: $other (implemented: PINECONE, QDRANT, WEAVIATE)")
  }

  /** POST `body` to `url` with `attempts` tries and exponential backoff
    * starting at `baseDelayMs`; returns success. Shared transport for
    * the foreachPartition sink, the DataSourceV2 writer and the webhook
    * — a protocol fix (status handling, retry policy) lands in exactly
    * one place. */
  private[sinks] def postWithRetry(client: HttpClient, url: String,
                                   auth: (String, String), body: String,
                                   attempts: Int, baseDelayMs: Long): Boolean = {
    var attempt = 0
    var ok = false
    while (!ok && attempt < attempts) {
      try {
        val req = HttpRequest.newBuilder(URI.create(url))
          .timeout(Duration.ofSeconds(30))
          .header("Content-Type", "application/json")
          .header(auth._1, auth._2)
          .POST(HttpRequest.BodyPublishers.ofString(body))
          .build()
        ok = client.send(req, HttpResponse.BodyHandlers.ofString()).statusCode() == 200
      } catch { case _: java.io.IOException => }
      if (!ok) {
        attempt += 1
        if (attempt < attempts && baseDelayMs > 0)
          Thread.sleep(baseDelayMs * (1L << (attempt - 1)))
      }
    }
    ok
  }

  /** Upsert `records` to an endpoint speaking `shape`, 128 per POST,
    * `attempts` tries with exponential backoff. Partition-local batch
    * indices feed the uuid5 ids (partitionId → batchId, like the
    * reference's DB-assigned batch ids). */
  def upsert(records: Dataset[VectorRecord], baseUrl: String, apiKey: String,
             shape: PayloadShape, jobId: String,
             batchSize: Int = Sinks.UpsertBatchSize, attempts: Int = 3,
             baseDelayMs: Long = 200L,
             uploaded: LongAccumulator = null, failed: LongAccumulator = null): Unit = {
    records.foreachPartition { (it: Iterator[VectorRecord]) =>
      val partitionId = org.apache.spark.TaskContext.getPartitionId().toLong
      val client = HttpClient.newBuilder().connectTimeout(Duration.ofSeconds(30)).build()
      var i = 0
      it.grouped(batchSize).foreach { batch =>
        val entries = batch.map { r =>
          val e = shape.entry(r, jobId, partitionId, i); i += 1; e
        }
        val ok = postWithRetry(client, s"$baseUrl${shape.path}",
          shape.authHeader(apiKey), shape.body(entries), attempts, baseDelayMs)
        if (ok) { if (uploaded != null) uploaded.add(batch.length.toLong) }
        else if (failed != null) failed.add(batch.length.toLong)
      }
    }
  }

  /** `s` as a JSON string literal. */
  private[sinks] def q(s: String): String = {
    val b = new StringBuilder(s.length + 8).append('"')
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').result()
  }
}
