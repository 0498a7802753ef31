package graft.sinks

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{IngestRequest, RequestValidator, Uuid5, VectorDbConfig}
import graft.pipeline.{ChunkRow, EmbedPipeline, Embedder, VectorRecord}

/** A local embedder whose 4-text calls take 20 ms each, up to 4 in flight
  * per task. Top-level so the task closure doesn't capture the suite. */
class SlowEmbedder extends Embedder {
  override val dim = 1
  override val maxBatchSize = 4
  override val concurrency = 4
  override def embedBatch(texts: IndexedSeq[String]): IndexedSeq[Array[Float]] = {
    Thread.sleep(20)
    texts.map(t => Array(t.length.toFloat))
  }
}

class VectorDbSinksSpec extends AnyFunSuite with graft.SharedSpark {

  private val rec = VectorRecord("ignored", "some \"text\"", "doc.txt", Array(0.5f, 1.0f))

  private def entry(shape: VectorDbSinks.PayloadShape): String = {
    val b = new java.lang.StringBuilder()
    shape.entry(b, rec, "job1", 7L, 0)
    b.toString
  }

  test("payload shapes match the reference uploader structs") {
    val pine = entry(VectorDbSinks.Pinecone)
    assert(pine == s"""{"id":"${Uuid5.ofParts("job1", 7L, 0)}","values":[0.5,1.0],"metadata":{"source_text":"some \\"text\\"","source_document":"doc.txt"}}""")
    val qd = entry(VectorDbSinks.Qdrant)
    assert(qd.contains(""""vector":[0.5,1.0]""") && qd.contains(""""payload":{"source_text""""))
    val weav = entry(VectorDbSinks.Weaviate)
    // quirk 6: the reference writes the misspelled property
    assert(weav.contains(""""vectoflow_id":""") && !weav.contains(""""vectorflow_id":"""))
    assert(weav.contains(""""source_data":"some \"text\""""))
    // same (job,batch,i) -> same id on every shape: idempotent upserts
    assert(pine.contains(Uuid5.ofParts("job1", 7L, 0)) && qd.contains(Uuid5.ofParts("job1", 7L, 0)))
  }

  test("a non-finite vector component fails the body, naming the record and the component") {
    for (shape <- Seq(VectorDbSinks.Pinecone, VectorDbSinks.Qdrant, VectorDbSinks.Weaviate,
        VectorDbSinks.Webhook); bad <- Seq(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity)) {
      val records = Seq(rec, VectorRecord("rec-7", "t", "d", Array(0.5f, bad)))
      val err = intercept[IllegalArgumentException](shape.body(records, "job1", 7L, 0))
      assert(err.getMessage.contains(s"record rec-7 vector has a non-finite component '$bad' at position 1"),
        err.getMessage)
    }
    // a finite body is unchanged
    assert(VectorDbSinks.Qdrant.body(Seq(rec), "job1", 7L, 0) == s"""{"points":[${entry(VectorDbSinks.Qdrant)}]}""")
  }

  test("unsupported DB types are rejected like the reference dispatch") {
    assert(VectorDbSinks.shapeFor("QDRANT") == VectorDbSinks.Qdrant)
    val e = intercept[IllegalArgumentException](VectorDbSinks.shapeFor("MILVUS"))
    assert(e.getMessage.contains("Unsupported vector DB type"))
  }

  test("auth headers per store: Api-Key for Pinecone/Qdrant, Bearer for Weaviate") {
    import spark.implicits._
    assert(VectorDbSinks.Pinecone.authHeader("k") == ("Api-Key", "k"))
    assert(VectorDbSinks.Qdrant.authHeader("k") == ("Api-Key", "k"))
    assert(VectorDbSinks.Weaviate.authHeader("k") == ("Authorization", "Bearer k"))
    // end-to-end: the Weaviate sink actually sends the Bearer header
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/v1/batch/objects", (ex: HttpExchange) => {
      seen.add(ex.getRequestHeaders.getFirst("Authorization"))
      respond(ex, 200, "ok")
    })
    server.start()
    try {
      val records = Seq(rec).toDS().coalesce(1)
      VectorDbSinks.write(records, s"http://127.0.0.1:${server.getAddress.getPort}",
        "secret", VectorDbSinks.Weaviate, "job-w")
      assert(seen.peek() == "Bearer secret")
    } finally server.stop(0)
  }

  test("DataSourceV2 writer: batched upserts, commit accounting, deterministic ids") {
    import spark.implicits._
    val received = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val failures = new java.util.concurrent.atomic.AtomicInteger(1)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/points", (ex: HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      if (failures.getAndDecrement() > 0) respond(ex, 500, "boom")
      else { received.add(body); respond(ex, 200, "ok") }
    })
    server.start()
    try {
      def writeOnce(): Unit = (0 until 300)
        .map(i => VectorRecord(s"r$i", s"text$i", "doc", Array(i.toFloat)))
        .toDS().toDF().coalesce(1)
        .write.format("graft.sinks.VectorDbDataSource")
        .option("url", s"http://127.0.0.1:${server.getAddress.getPort}")
        .option("apiKey", "key").option("shape", "QDRANT").option("jobId", "dsv2-job")
        .mode("append").save()
      writeOnce()
      // 300 rows -> POSTs of 128/128/44; the first POST failed once and
      // was retried
      assert(received.size() == 3)
      val stats = VectorDbDataSource.lastCommitStats
      assert(stats.exists(s => s.uploaded == 300L && s.failed == 0L && s.tasks == 1))
      def ids(bodies: Iterable[String]): Set[String] =
        bodies.flatMap("\"id\":\"([0-9a-f-]+)\"".r.findAllMatchIn(_).map(_.group(1))).toSet
      val firstBodies = scala.jdk.CollectionConverters.IteratorHasAsScala(
        received.iterator()).asScala.toList
      assert(firstBodies.forall(_.startsWith("""{"points":[""")))
      val first = ids(firstBodies)
      assert(first.size == 300)
      received.clear()
      // re-run: identical uuid5 ids -> pure upsert overwrite, no growth
      writeOnce()
      val second = ids(scala.jdk.CollectionConverters.IteratorHasAsScala(
        received.iterator()).asScala.toList)
      assert(second == first, "re-delivery must target identical record ids")
    } finally server.stop(0)
  }

  test("chaos: DataSourceV2 task retry — zero duplicate upserts, commit " +
      "stats count the surviving attempt only") {
    import spark.implicits._
    val store = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val posts = new java.util.concurrent.atomic.AtomicInteger()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/points", (ex: HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      posts.incrementAndGet()
      "\"id\":\"([0-9a-f-]+)\"".r.findAllMatchIn(body)
        .foreach(m => store.put(m.group(1), body))
      respond(ex, 200, "ok")
    })
    server.start()
    try {
      (0 until 300)
        .map(i => VectorRecord(s"r$i", s"text$i", "doc", Array(i.toFloat)))
        .toDS()
        .coalesce(1)
        // the V2 write exec consumes this iterator IN-TASK, so the
        // throw lands mid-write after the first 128-row flush
        .map { r =>
          val tc = org.apache.spark.TaskContext.get()
          if (r.id == "r150" && tc != null && tc.attemptNumber() == 0)
            throw new RuntimeException("chaos: injected task death")
          r
        }
        .toDF()
        .write.format("graft.sinks.VectorDbDataSource")
        .option("url", s"http://127.0.0.1:${server.getAddress.getPort}")
        .option("apiKey", "key").option("shape", "QDRANT")
        .option("jobId", "dsv2-chaos")
        .mode("append").save()
      assert(posts.get() > 3, "the dead attempt must have POSTed first")
      assert(store.size() === 300,
        "uuid5(job, partition, i) is identical across attempts: the " +
          "retry targets the dead attempt's exact ids")
      val stats = VectorDbDataSource.lastCommitStats
      assert(stats.exists(s => s.uploaded == 300L && s.failed == 0L &&
        s.tasks == 1),
        s"commit must aggregate the surviving attempt only, got $stats")
    } finally server.stop(0)
  }

  test("DataSourceV2 writer: up to 4 upserts in flight, ids numbered in row order") {
    // the store holds each request until 4 are inside at once (30 s
    // timeout), so the write completes only if the writer overlaps 4
    val store = new SlowStore(latencyMs = 0, together = 4)
    try {
      val batches = 40
      val n = batches * 4
      writeRows(n, store.url, "overlap-job", batchSize = 4)
      assert(store.timeouts.get() == 0, "requests waited 30 s for 4 to be in flight at once")
      assert(store.peak.get() == 4, "a write task keeps exactly 4 upserts in flight")
      val entries = store.entries()
      assert(entries.size == n, "each row is delivered once")
      assert(entries.map(_._1).toSet == (0 until n).map(Uuid5.ofParts("overlap-job", 0L, _)).toSet)
      // the id of row i is uuid5(job, partition, i), whichever thread sent it
      entries.foreach { case (id, row) => assert(id == Uuid5.ofParts("overlap-job", 0L, row)) }
      assert(VectorDbDataSource.lastCommitStats.contains(VectorDbDataSource.CommitStats(n, 0, 1)))
      assert(liveThreads("graft-vdb-upsert").isEmpty)
    } finally store.stop()
  }

  test("DataSourceV2 writer: a batch failing beside in-flight ones is counted; " +
      "no upsert thread outlives a write or a task death") {
    // the 4-row batch holding row 13 500s on every try
    val store = new SlowStore(latencyMs = 50, fail = _.contains("\"text13\""))
    try {
      writeRows(160, store.url, "fail-job", batchSize = 4)
      assert(store.peak.get() == 4)
      assert(VectorDbDataSource.lastCommitStats.contains(VectorDbDataSource.CommitStats(156, 4, 1)))
      assert(liveThreads("graft-vdb-upsert").isEmpty)
    } finally store.stop()
    // the first attempt dies at row 150 with batches in flight; they
    // finish (not interrupted) and the retry re-sends the same ids.
    // Without and then with an embed stage keeping 4 calls in flight
    // ahead of the writer: no embed thread outlives the dead attempt.
    Seq(None, Some(new SlowEmbedder)).foreach { embedder =>
      val chaos = new SlowStore(latencyMs = 50)
      try {
        writeRows(300, chaos.url, "death-job", batchSize = 4, dieAt = Some(150), embedder = embedder)
        // the dead attempt's 37 submitted batches all land (rows 148-149
        // were still buffered), then the retry's 75
        assert(chaos.entries().size == 148 + 300)
        assert(chaos.entries().map(_._1).toSet.size == 300)
        assert(VectorDbDataSource.lastCommitStats.contains(VectorDbDataSource.CommitStats(300, 0, 1)))
        assert(liveThreads("graft-vdb-upsert").isEmpty)
        assert(liveThreads("graft-embed").isEmpty)
      } finally chaos.stop()
    }
  }

  test("DataSourceV2 writer rejects unknown shapes at planning time") {
    import spark.implicits._
    val df = Seq(VectorRecord("a", "t", "d", Array(1f))).toDS().toDF()
    val e = intercept[Exception] {
      df.write.format("graft.sinks.VectorDbDataSource")
        .option("url", "http://x").option("shape", "MILVUS").mode("append").save()
    }
    assert(e.getMessage.contains("Unsupported vector DB type") ||
      e.getCause != null && e.getCause.getMessage.contains("Unsupported vector DB type"))
  }

  test("request validation mirrors the reference's dispatch order") {
    val ok = IngestRequest(vectorDb = Some(VectorDbConfig("QDRANT", "idx")),
      vectorDbKey = Some("k"))
    assert(RequestValidator.validate(ok).isEmpty)
    // vector DB configured but no key and not local -> METADATA failure
    val noKey = ok.copy(vectorDbKey = None)
    assert(RequestValidator.validate(noKey).contains(RequestValidator.Metadata))
    assert(RequestValidator.validate(noKey, localVectorDb = true).isEmpty)
    // HUGGING_FACE without its model name rejected with the reference's
    // reserved message (validators.py:22); with the name it passes (r10)
    val hf = ok.copy(embeddings = graft.core.EmbeddingsConfig(embeddingsType = "HUGGING_FACE"))
    assert(RequestValidator.validate(hf).contains(RequestValidator.EmbeddingType))
    assert(RequestValidator.EmbeddingType.error.contains("hugging_face_model_name"))
    val hfNamed = ok.copy(embeddings = graft.core.EmbeddingsConfig(
      embeddingsType = "HUGGING_FACE",
      huggingFaceModelName = Some("BAAI/bge-small-en")))
    assert(RequestValidator.validate(hfNamed).isEmpty)
    // a type the worker never dispatches stays rejected
    val cohere = ok.copy(embeddings = graft.core.EmbeddingsConfig(embeddingsType = "COHERE"))
    assert(RequestValidator.validate(cohere).contains(RequestValidator.EmbeddingType))
    // webhook URL without key rejected
    val wh = ok.copy(webhookUrl = Some("http://x"), webhookKey = None)
    assert(RequestValidator.validate(wh).contains(RequestValidator.Webhook))
  }

  /** Write rows `text0`… of one partition to `url` in the Qdrant shape,
    * through `embedder`'s embed stage when one is given; with `dieAt`,
    * the task's first attempt dies at that row. */
  private def writeRows(n: Int, url: String, jobId: String, batchSize: Int,
                        dieAt: Option[Int] = None, embedder: Option[Embedder] = None): Unit = {
    import spark.implicits._
    val records = embedder match {
      case Some(e) => EmbedPipeline.embedStage((0 until n)
        .map(i => ChunkRow(i.toLong, "doc", 0, s"c$i", s"text$i")).toDS().coalesce(1), e)
      case None => (0 until n)
        .map(i => VectorRecord(s"r$i", s"text$i", "doc", Array(i.toFloat))).toDS().coalesce(1)
    }
    records
      .map { r =>
        val tc = org.apache.spark.TaskContext.get()
        if (dieAt.exists(d => r.source_text == s"text$d") && tc != null && tc.attemptNumber() == 0)
          throw new RuntimeException("chaos: injected task death")
        r
      }
      .toDF()
      .write.format("graft.sinks.VectorDbDataSource")
      .option("url", url).option("apiKey", "key").option("shape", "QDRANT")
      .option("jobId", jobId).option("batchSize", batchSize.toString)
      .mode("append").save()
  }

  /** A Qdrant store that holds each POST until `together` are inside at
    * once (a request that waits 30 s for that counts a timeout and 500s),
    * then answers after `latencyMs` (500 when `fail` holds for its body),
    * serving requests concurrently and recording the peak number in
    * progress at once. */
  private final class SlowStore(latencyMs: Long, fail: String => Boolean = _ => false,
                                together: Int = 1) {
    private val bodies = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    private val inFlight = new java.util.concurrent.atomic.AtomicInteger()
    private val gate = new java.util.concurrent.CyclicBarrier(together)
    val peak = new java.util.concurrent.atomic.AtomicInteger()
    val timeouts = new java.util.concurrent.atomic.AtomicInteger()
    private val threads = java.util.concurrent.Executors.newFixedThreadPool(8)
    private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.setExecutor(threads)
    server.createContext("/points", (ex: HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      peak.accumulateAndGet(inFlight.incrementAndGet(), math.max)
      val held = try { gate.await(30, java.util.concurrent.TimeUnit.SECONDS); true }
        catch { case _: java.util.concurrent.TimeoutException |
                     _: java.util.concurrent.BrokenBarrierException => timeouts.incrementAndGet(); false }
      Thread.sleep(latencyMs)
      // leave before answering, so the writer's next POST cannot overlap
      inFlight.decrementAndGet()
      if (!held || fail(body)) respond(ex, 500, "boom")
      else { bodies.add(body); respond(ex, 200, "ok") }
    })
    server.start()
    val url = s"http://127.0.0.1:${server.getAddress.getPort}"
    /** (id, row number) of every delivered entry. */
    def entries(): Seq[(String, Int)] =
      scala.jdk.CollectionConverters.IteratorHasAsScala(bodies.iterator()).asScala.toSeq
        .flatMap(""""id":"([0-9a-f-]+)","vector":\[[^\]]*\],"payload":\{"source_text":"text(\d+)"""".r
          .findAllMatchIn(_).map(m => (m.group(1), m.group(2).toInt)))
    def stop(): Unit = { server.stop(0); threads.shutdownNow() }
  }

  /** Names of live threads named `prefix…`, after giving exiting ones a
    * moment. */
  private def liveThreads(prefix: String): Seq[String] = {
    def live = scala.jdk.CollectionConverters.SetHasAsScala(Thread.getAllStackTraces.keySet)
      .asScala.toSeq.filter(t => t.isAlive && t.getName.startsWith(prefix)).map(_.getName)
    val deadline = System.nanoTime() + 5000000000L
    while (live.nonEmpty && System.nanoTime() < deadline) Thread.sleep(10)
    live
  }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(code, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  }
}
