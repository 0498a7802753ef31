package graft.pipeline

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.time.Duration

import graft.sinks.VectorDbSinks
import graft.sinks.VectorDbSinks.q

/** Text → vector embedding stage (the reference pipeline's hot operator,
  * SURVEY.md §2.5).
  *
  * Implementations must be pure/idempotent per text so that Spark task
  * re-execution (the retry unit, reference batch retry
  * src/worker/worker.py:327-335) is safe, and must preserve input order —
  * the reference zips responses positionally (worker.py:75-76), which we
  * harden by index-tagging (SURVEY §7 quirk 7).
  *
  * The embed stage ([[EmbedPipeline.embedStage]]) cuts each task's chunks
  * into `maxBatchSize`-text calls and keeps up to `concurrency` of them
  * in flight, so embed parallelism is `concurrency` per task × tasks.
  */
trait Embedder extends Serializable {
  def dim: Int
  /** Embed the texts of one call, preserving order: result(i) belongs to
    * texts(i). */
  def embedBatch(texts: IndexedSeq[String]): IndexedSeq[Array[Float]]
  /** Texts per call (reference MAX_OPENAI_EMBEDDING_BATCH_SIZE=2048,
    * src/worker/config.py:2). */
  def maxBatchSize: Int = 2048
  /** Calls in flight per task. */
  def concurrency: Int = 1
}

/** Deterministic local embedder for tests/benchmarks: seeds SplitMix64
  * from the MD5 of the text, draws `dim` floats, L2-normalizes. Stands in
  * for a real embedding service with zero egress while exercising the
  * identical dataflow. */
final class HashEmbedder(override val dim: Int = 64) extends Embedder {
  override def embedBatch(texts: IndexedSeq[String]): IndexedSeq[Array[Float]] =
    texts.map(embedOne)

  def embedOne(text: String): Array[Float] = {
    val md5 = MessageDigest.getInstance("MD5").digest(text.getBytes(StandardCharsets.UTF_8))
    var seed = java.nio.ByteBuffer.wrap(md5).getLong
    val v = new Array[Float](dim)
    var i = 0
    var norm = 0.0
    while (i < dim) {
      // SplitMix64 step
      seed += 0x9e3779b97f4a7c15L
      var z = seed
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z = z ^ (z >>> 31)
      val f = ((z >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0
      v(i) = f.toFloat
      norm += f * f
      i += 1
    }
    val inv = (1.0 / math.sqrt(norm)).toFloat
    i = 0
    while (i < dim) { v(i) *= inv; i += 1 }
    v
  }
}

/** Deterministic ORACLE-RECOMPUTABLE embedder — the flagship pipeline's
  * test embedder, built so a SQL engine can recompute every component
  * exactly (the t17 [[graft.functions.GraftFunctions.classifierScore]]
  * md5-arithmetic principle):
  *
  *   component(text, k) = (u32(md5(text ++ ":" ++ k)) mod 2001) − 1000
  *
  * where u32 is the first 4 bytes of the digest, big-endian unsigned
  * (DuckDB: `('0x' || substr(md5(t || ':' || k), 1, 8))::BIGINT`).
  * Components are exact integers in [−1000, 1000] — fixed-point with a
  * 1e-3 scale, stored as Float (integers ≤ 2^24 are exact) — so there is
  * no float rounding anywhere and the vectors hash identically across
  * engines. Like [[HashEmbedder]] it stands in for a real embedding
  * service with zero egress while exercising the identical dataflow;
  * unlike it, the p08 CORRECTNESS row can hash-check the output.
  * Consumers needing unit vectors normalize downstream. */
final class Md5Embedder(override val dim: Int = 64) extends Embedder {
  override def embedBatch(texts: IndexedSeq[String]): IndexedSeq[Array[Float]] =
    texts.map(embedOne)

  def embedOne(text: String): Array[Float] = {
    val md = MessageDigest.getInstance("MD5")
    val v = new Array[Float](dim)
    var k = 0
    while (k < dim) {
      val d = md.digest((text + ":" + k).getBytes(StandardCharsets.UTF_8))
      val u32 = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      v(k) = (u32 % 2001L - 1000L).toFloat
      md.reset()
      k += 1
    }
    v
  }
}

/** The HTTP embedders' one body. Each `embedBatch` is one call: one
  * [[graft.sinks.VectorDbSinks.postWithRetry]] of 5 tries with a 2^i s
  * backoff (reference get_openai_embedding, worker.py:77-90), so a
  * transient failure resends only its own texts; a call that fails its
  * last try fails its texts (worker.py:92-113). The embed stage keeps up
  * to `concurrency` calls in flight per task. Subclasses give only the
  * wire format. */
sealed abstract class HttpEmbedder(url: String, override val maxBatchSize: Int,
                                   override val concurrency: Int)
    extends Embedder {

  protected def headers: Seq[(String, String)]
  protected def requestBody(texts: IndexedSeq[String]): String
  private[pipeline] def parseResponse(body: String, n: Int): IndexedSeq[Array[Float]]

  /** `head`, then `texts` as a JSON array of strings, then `tail`: one
    * builder sized for the finished body. Escapes lengthen a text; the
    * 1/16 spare covers one escaped char in 16 without growing the
    * builder (measuring each text's escapes first costs more than a
    * rare regrowth). */
  protected final def textsBody(head: String, texts: IndexedSeq[String], tail: String): String = {
    var size = head.length + tail.length + 2
    texts.foreach(t => size += t.length + 3)
    val b = new java.lang.StringBuilder(size + size / 16).append(head).append('[')
    var k = 0
    while (k < texts.length) {
      if (k > 0) b.append(',')
      q(b, texts(k))
      k += 1
    }
    b.append(']').append(tail).toString
  }

  @transient private lazy val client = VectorDbSinks.httpClient()

  override def embedBatch(texts: IndexedSeq[String]): IndexedSeq[Array[Float]] =
    VectorDbSinks.postWithRetry(client, url, headers, requestBody(texts),
        attempts = 5, baseDelayMs = 1000L, timeout = Duration.ofSeconds(60))
      .fold(e => throw new java.io.IOException(s"embedding call to $url failed: $e"),
        parseResponse(_, texts.length))
}

/** OpenAI-compatible `/v1/embeddings` HTTP embedder.
  *
  * Matches the reference's designed throughput envelope: ≤2048 texts per
  * call (worker.py:96), up to 20 calls in flight per task
  * (MAX_THREADS_OPENAI=20, worker.py:100-102). The response's `index`
  * tags place each vector. Intended for real deployments; tests exercise
  * it against a local stub server. */
final class OpenAiHttpEmbedder(baseUrl: String, model: String,
                               apiKey: String, override val dim: Int)
    extends HttpEmbedder(s"$baseUrl/v1/embeddings", maxBatchSize = 2048, concurrency = 20) {

  override protected def headers: Seq[(String, String)] =
    Seq("Authorization" -> s"Bearer $apiKey")

  override protected def requestBody(texts: IndexedSeq[String]): String =
    textsBody(s"""{"model":${q(model)},"input":""", texts, "}")

  /** `{"data":[{"index":i,"embedding":[...]},...]}`, read in one pass by
    * [[EmbeddingResponse.openAi]]: vectors placed by their `index` tags. */
  private[pipeline] def parseResponse(body: String, n: Int): IndexedSeq[Array[Float]] =
    EmbeddingResponse.openAi(body, n, dim)
}

/** HUGGING_FACE local-HTTP embedder — the dispatch leg the reference
  * DESIGNED but never shipped worker code for: the enum/validator
  * reserve it (src/api/validators.py:22 requires a
  * `hugging_face_model_name`), the k8s tree deploys a local
  * `BAAI/bge-small-en` model server
  * (kube/hugging_face_deployment.yaml:27-29), and the worker config
  * pins `HUGGING_FACE_BATCH_SIZE = 32` (src/worker/config.py:6).
  *
  * Speaks the public text-embeddings-inference convention: POST
  * `$baseUrl/embed` with `{"inputs":[...]}`, response a top-level
  * array of float arrays in request order. Calls of 32 texts per the
  * reference's constant, one in flight per task (the reference's HF
  * consumer is a single local model server fed one queue message at a
  * time — fanning 20 concurrent calls at one local GPU would just
  * queue there). */
final class HuggingFaceHttpEmbedder(baseUrl: String, modelName: String,
                                    override val dim: Int)
    extends HttpEmbedder(s"$baseUrl/embed", maxBatchSize = 32, concurrency = 1) {
  require(modelName.nonEmpty, "hugging_face_model_name required")

  override protected def headers: Seq[(String, String)] = Nil

  override protected def requestBody(texts: IndexedSeq[String]): String =
    textsBody("""{"inputs":""", texts, "}")

  /** `[[0.1,0.2],[...],...]`: one vector per inner array, in request
    * order ([[EmbeddingResponse.tei]]). */
  private[pipeline] def parseResponse(body: String, n: Int): IndexedSeq[Array[Float]] =
    EmbeddingResponse.tei(body, n, dim)
}
