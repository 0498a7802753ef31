package graft.sinks

import java.lang.{StringBuilder => JStringBuilder}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import org.apache.spark.sql.Dataset

import graft.core.Uuid5
import graft.pipeline.VectorRecord

/** Vector-database upsert payloads (SURVEY §2.6 K1-K4) and the one HTTP
  * retry loop of the ingest pipeline's remote legs. Each shape builds the
  * exact payload of the reference uploader; [[VectorDbDataSource]] POSTs
  * them in micro-batches of 128, and deterministic uuid5(job, batch, i)
  * record ids make retried tasks idempotent upserts — the reference's own
  * design (README.md:210).
  *
  * Payload shapes (reference src/worker/vector_uploader.py):
  *  - Pinecone (:55-61): `{id, values, metadata:{source_text, source_document}}`
  *  - Qdrant   (:88-97): `{id, vector, payload:{source_text, source_document}}`
  *  - Weaviate (:131-157): `{class, properties:{source_data, vectoflow_id,
  *    source_document}, vector}` — `vectoflow_id` [sic] replicates the
  *    reference's typo (SURVEY §7 quirk 6) for drop-in parity with data
  *    written by the reference.
  *  - Webhook (src/shared/utils.py:15-32): the raw records wrapped as
  *    `{"Embeddings":[…],"DocumentID":"","JobID":…}`.
  */
object VectorDbSinks {

  /** How one store wants its upsert entries and POST bodies. Each entry
    * is a payload JSON object whose id is uuid5(jobId, batchId, i)
    * exactly like the reference (so re-running a batch overwrites, never
    * duplicates). A micro-batch is encoded into one builder: no
    * per-entry `String`, no boxed vector `mkString`. */
  sealed trait PayloadShape {
    /** Append the upsert entry for `r` to `b`. */
    def entry(b: JStringBuilder, r: VectorRecord, jobId: String, batchId: Long, i: Int): Unit
    /** The POST body of a micro-batch: `records` as entries numbered
      * from `first`, wrapped in this store's envelope. */
    final def body(records: Iterable[VectorRecord], jobId: String, batchId: Long, first: Int): String = {
      // every float prints in at most 15 chars ("-1.17549435E-38"); the
      // fixed parts of an entry and the envelope stay under 160 chars.
      // Escapes in the strings may still grow the builder once.
      var size = prefix.length + 160 + jobId.length
      records.foreach { r =>
        size += 160 + r.id.length + r.source_text.length + r.source_document.length +
          16 * r.vector.length
      }
      val b = new JStringBuilder(size).append(prefix)
      var k = 0
      records.foreach { r =>
        if (k > 0) b.append(',')
        entry(b, r, jobId, batchId, first + k)
        k += 1
      }
      suffix(b, jobId)
      b.toString
    }
    protected def prefix: String
    protected def suffix(b: JStringBuilder, jobId: String): Unit = b.append("]}")
    def path: String
    /** Auth header (name, value) for this store: Pinecone and Qdrant
      * take an `Api-Key` header, Weaviate expects a Bearer token. */
    def authHeader(apiKey: String): (String, String) = ("Api-Key", apiKey)
  }

  /** `r.vector` as a JSON array, each float as `Float.toString` writes
    * it. `NaN` and `Infinity` are not JSON numbers: a record carrying one
    * (from an in-process embedder; the HTTP embedders reject them on
    * read) fails its batch here, naming the record and the component. */
  private def vec(b: JStringBuilder, r: VectorRecord): Unit = {
    val v = r.vector
    b.append('[')
    var k = 0
    while (k < v.length) {
      if (!java.lang.Float.isFinite(v(k))) throw new IllegalArgumentException(
        s"record ${r.id} vector has a non-finite component '${v(k)}' at position $k")
      if (k > 0) b.append(',')
      b.append(v(k))
      k += 1
    }
    b.append(']')
  }

  case object Pinecone extends PayloadShape {
    override def entry(b: JStringBuilder, r: VectorRecord, jobId: String, batchId: Long, i: Int): Unit = {
      b.append("{\"id\":\"").append(Uuid5.ofParts(jobId, batchId, i)).append("\",\"values\":")
      vec(b, r)
      b.append(",\"metadata\":{\"source_text\":"); q(b, r.source_text)
      b.append(",\"source_document\":"); q(b, r.source_document)
      b.append("}}")
    }
    override protected val prefix = "{\"vectors\":["
    override val path = "/vectors/upsert"
  }

  case object Qdrant extends PayloadShape {
    override def entry(b: JStringBuilder, r: VectorRecord, jobId: String, batchId: Long, i: Int): Unit = {
      b.append("{\"id\":\"").append(Uuid5.ofParts(jobId, batchId, i)).append("\",\"vector\":")
      vec(b, r)
      b.append(",\"payload\":{\"source_text\":"); q(b, r.source_text)
      b.append(",\"source_document\":"); q(b, r.source_document)
      b.append("}}")
    }
    override protected val prefix = "{\"points\":["
    override val path = "/points"
  }

  case object Weaviate extends PayloadShape {
    override def entry(b: JStringBuilder, r: VectorRecord, jobId: String, batchId: Long, i: Int): Unit = {
      b.append("{\"class\":\"VectorflowChunk\",\"properties\":{\"source_data\":"); q(b, r.source_text)
      // [sic] "vectoflow_id": the reference writes this misspelled
      // property (vector_uploader.py:149) while its README documents
      // "vectorflow_id" — replicated for data-level parity
      b.append(",\"vectoflow_id\":\"").append(Uuid5.ofParts(jobId, batchId, i))
      b.append("\",\"source_document\":"); q(b, r.source_document)
      b.append("},\"vector\":")
      vec(b, r)
      b.append('}')
    }
    override protected val prefix = "{\"objects\":["
    override val path = "/v1/batch/objects"
    override def authHeader(apiKey: String): (String, String) =
      ("Authorization", s"Bearer $apiKey")
  }

  /** K4: the raw-embeddings webhook. Entries keep the record's own id,
    * the URL is used as given, and the key travels in the reference's
    * `X-Embeddings-Webhook-Key` header. */
  case object Webhook extends PayloadShape {
    override def entry(b: JStringBuilder, r: VectorRecord, jobId: String, batchId: Long, i: Int): Unit = {
      b.append("{\"id\":"); q(b, r.id)
      b.append(",\"source_text\":"); q(b, r.source_text)
      b.append(",\"source_document\":"); q(b, r.source_document)
      b.append(",\"vector\":")
      vec(b, r)
      b.append('}')
    }
    override protected val prefix = "{\"Embeddings\":["
    override protected def suffix(b: JStringBuilder, jobId: String): Unit = {
      b.append("],\"DocumentID\":\"\",\"JobID\":"); q(b, jobId)
      b.append('}')
    }
    override val path = ""
    override def authHeader(apiKey: String): (String, String) =
      ("X-Embeddings-Webhook-Key", apiKey)
  }

  /** The store for a request's `vector_db_type`. */
  def shapeFor(vectorDbType: String): PayloadShape = vectorDbType.toUpperCase match {
    case "PINECONE" => Pinecone
    case "QDRANT"   => Qdrant
    case "WEAVIATE" => Weaviate
    case other => throw new IllegalArgumentException(
      // reference: unsupported DB types log-and-fail the batch
      // (vector_uploader.py:52-53)
      s"Unsupported vector DB type: $other (implemented: PINECONE, QDRANT, WEAVIATE)")
  }

  /** The writer's `shape` option: a vector-DB type or `WEBHOOK`. */
  private[sinks] def formatShape(name: String): PayloadShape =
    if (name.equalsIgnoreCase(Webhook.toString)) Webhook else shapeFor(name)

  /** Write `records` to `url` in `shape` through [[VectorDbDataSource]]
    * and return that write's commit stats. */
  def write(records: Dataset[VectorRecord], url: String, apiKey: String,
            shape: PayloadShape, jobId: String): VectorDbDataSource.CommitStats = {
    records.toDF().write.format("graft.sinks.VectorDbDataSource")
      .option("url", url).option("apiKey", apiKey)
      .option("shape", shape.toString).option("jobId", jobId)
      .mode("append").save()
    VectorDbDataSource.lastCommitStats.get
  }

  /** The client every remote leg sends through. */
  private[graft] def httpClient(): HttpClient =
    HttpClient.newBuilder().connectTimeout(Duration.ofSeconds(30)).build()

  /** POST `body` to `url` with `attempts` tries and exponential backoff
    * starting at `baseDelayMs`: Right(response body) on the first 200,
    * else Left(the last failure). The one retry loop of the remote legs —
    * every sink batch and every embedding call is one such call, so a
    * protocol fix (status handling, retry policy) lands in one place. */
  private[graft] def postWithRetry(client: HttpClient, url: String,
                                   headers: Seq[(String, String)], body: String,
                                   attempts: Int, baseDelayMs: Long,
                                   timeout: Duration = Duration.ofSeconds(30)): Either[String, String] = {
    var failure = "no attempt made"
    var attempt = 0
    while (attempt < attempts) {
      if (attempt > 0 && baseDelayMs > 0) Thread.sleep(baseDelayMs << (attempt - 1))
      try {
        val req = headers.foldLeft(HttpRequest.newBuilder(URI.create(url)).timeout(timeout)
            .header("Content-Type", "application/json")) { case (b, (k, v)) => b.header(k, v) }
          .POST(HttpRequest.BodyPublishers.ofString(body))
          .build()
        val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
        if (resp.statusCode() == 200) return Right(resp.body())
        failure = s"HTTP ${resp.statusCode()} ${resp.body().take(200)}"
      } catch { case e: java.io.IOException => failure = e.toString }
      attempt += 1
    }
    Left(failure)
  }

  /** `s` as a JSON string literal. */
  private[graft] def q(s: String): String = {
    val b = new JStringBuilder(s.length + 8)
    q(b, s)
    b.toString
  }

  /** Append `s` to `b` as a JSON string literal; runs of characters that
    * need no escape are copied in bulk. */
  private[graft] def q(b: JStringBuilder, s: String): Unit = {
    b.append('"')
    var run = 0
    var k = 0
    while (k < s.length) {
      val c = s.charAt(k)
      if (c == '"' || c == '\\' || c < ' ') {
        b.append(s, run, k)
        c match {
          case '"' => b.append("\\\"")
          case '\\' => b.append("\\\\")
          case '\n' => b.append("\\n")
          case '\r' => b.append("\\r")
          case '\t' => b.append("\\t")
          case _ => b.append(f"\\u${c.toInt}%04x")
        }
        run = k + 1
      }
      k += 1
    }
    b.append(s, run, s.length).append('"')
  }
}
