package graft.pipeline

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.core.{IngestRequest, VectorDbConfig}
import graft.sinks.VectorDbDataSource.CommitStats
import graft.sinks.VectorDbSinks

/** Embedding-type dispatch (E3) and sink routing (K5) — the worker's
  * two dispatch points restated over the typed config.
  */
object Routing {

  /** E3 (reference worker.py:51-73): OPEN_AI builds the HTTP embedder
    * envelope; HUGGING_FACE builds the local-model-server leg the
    * reference designed but never shipped worker code for (enum +
    * validator + k8s deployment + batch-size constant all exist
    * server-side — validators.py:22, kube/hugging_face_deployment
    * .yaml:27-29, worker config.py:6) and requires the model name,
    * failing with the validator's reserved message otherwise; any
    * other declared type is a permanent failure (`bypass_retries=True`
    * — no retry). Both HTTP legs retry each call 5 times with
    * exponential backoff ([[HttpEmbedder]]). The deterministic local
    * embedder is reachable as LOCAL for tests/benchmarks. */
  def embedderFor(embeddingsType: String, baseUrl: String = "https://api.openai.com",
                  apiKey: String = "", model: String = "text-embedding-ada-002",
                  dim: Int = 1536,
                  huggingFaceModelName: Option[String] = None): Either[String, Embedder] =
    embeddingsType.toUpperCase match {
      case "OPEN_AI" =>
        Right(new OpenAiHttpEmbedder(baseUrl, model, apiKey, dim))
      case "HUGGING_FACE" =>
        huggingFaceModelName.filter(_.nonEmpty) match {
          case Some(name) => Right(new HuggingFaceHttpEmbedder(baseUrl, name, dim))
          case None => Left("Hugging face embeddings models require a " +
            "\"hugging_face_model_name\" in the \"embeddings_metadata\"")
        }
      case "LOCAL" => Right(new HashEmbedder(dim))
      case other => Left(s"Embeddings type $other not supported")
    }

  /** K5 (reference worker.py:57-62): a job with webhook URL + key sends
    * raw embeddings to the webhook; otherwise it upserts to the
    * configured vector DB. Both go through the one sink writer; the
    * result is its commit stats (failed batches counted, a partition
    * whose every batch failed fails the write). */
  def writeRecords(records: Dataset[VectorRecord], request: IngestRequest,
                   jobId: String, vectorDbBaseUrl: String = ""): CommitStats =
    (request.webhookUrl, request.webhookKey) match {
      case (Some(url), Some(key)) =>
        VectorDbSinks.write(records, url, key, VectorDbSinks.Webhook, jobId)
      case _ =>
        val db: VectorDbConfig = request.vectorDb.getOrElse(
          throw new IllegalArgumentException("no webhook and no vector DB configured"))
        VectorDbSinks.write(records, vectorDbBaseUrl, request.vectorDbKey.getOrElse(""),
          VectorDbSinks.shapeFor(db.vectorDbType), jobId)
    }

  /** S7: object-store access — executors read `s3a://` URIs directly
    * (no staging hop, SURVEY §2.1 S8); this sets the standard Hadoop
    * S3A credentials/endpoint on the active session so
    * `DocumentReader.scan(spark, "s3a://bucket/prefix")` just works. */
  def configureS3a(spark: SparkSession, endpoint: String, accessKey: String,
                   secretKey: String, pathStyle: Boolean = true): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.s3a.endpoint", endpoint)
    hc.set("fs.s3a.access.key", accessKey)
    hc.set("fs.s3a.secret.key", secretKey)
    hc.set("fs.s3a.path.style.access", pathStyle.toString)
  }
}
