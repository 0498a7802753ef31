package graft.pipeline

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.{Sinks, VectorDbDataSource, VectorDbSinks}

/** End-to-end pipeline tests, including the HTTP embedder and webhook
  * sink driven against a local in-JVM stub server (zero egress). */
class EmbedPipelineSpec extends AnyFunSuite with graft.SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"

  test("pipeline is deterministic and ids are unique") {
    val docs = graft.Tables.documents(spark, sfDir)
    val a = EmbedPipeline.run(docs).collect().sortBy(_.id)
    val b = EmbedPipeline.run(docs).collect().sortBy(_.id)
    assert(a.length == b.length && a.length > 0)
    a.zip(b).foreach { case (x, y) =>
      assert(x.id == y.id && x.vector.toSeq == y.vector.toSeq)
    }
    assert(a.map(_.id).distinct.length == a.length, "chunk ids must be unique")
    // unit norm
    val n = math.sqrt(a.head.vector.map(v => v.toDouble * v).sum)
    assert(math.abs(n - 1.0) < 1e-4)
  }

  test("Md5Embedder components are exact md5-arithmetic integers") {
    val e = new Md5Embedder(8)
    val v = e.embedOne("hello")
    // recompute component 0 by hand: u32(md5("hello:0")) % 2001 - 1000
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest("hello:0".getBytes(StandardCharsets.UTF_8))
    val u32 = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    assert(v(0) == (u32 % 2001L - 1000L).toFloat)
    // every component is an integer in [-1000, 1000] — fixed-point with
    // no float rounding, the property the p08 oracle depends on
    assert(v.forall(c => c == math.rint(c) && math.abs(c) <= 1000f))
    assert(v.length == 8)
    // deterministic
    assert(e.embedOne("hello").toSeq == v.toSeq)
    assert(e.embedOne("world").toSeq != v.toSeq)
  }

  test("embed batching respects maxBatchSize and preserves order") {
    val calls = new AtomicInteger(0)
    val tiny = new Embedder {
      override val dim = 4
      override val maxBatchSize = 7
      override def embedBatch(texts: IndexedSeq[String]): IndexedSeq[Array[Float]] = {
        calls.incrementAndGet()
        assert(texts.length <= 7)
        texts.map(t => Array(t.length.toFloat, 0f, 0f, 0f))
      }
    }
    import spark.implicits._
    val chunks = (0 until 40).map(i => ChunkRow(i.toLong, "s", i, s"id$i", "x" * (i + 1))).toDS().repartition(2)
    val out = EmbedPipeline.embedStage(chunks, tiny).collect()
    assert(out.length == 40)
    out.foreach(r => assert(r.vector(0) == r.source_text.length.toFloat, "order scrambled"))
  }

  test("HTTP embedder: order-preserving parse, retry on failure, then webhook sink") {
    val failFirst = new AtomicInteger(2) // fail the first 2 embed calls
    val received = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/v1/embeddings", (ex: HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      if (failFirst.getAndDecrement() > 0) respond(ex, 500, """{"error":"flaky"}""")
      else {
        val n = "\"((?:[^\"\\\\]|\\\\.)*)\"".r.findAllIn(body.substring(body.indexOf("input"))).length
        // respond with REVERSED data order to prove index-tagged zip
        val data = (0 until n).reverse.map(i =>
          s"""{"index":$i,"embedding":[${i}.0,1.0]}""").mkString(",")
        respond(ex, 200, s"""{"data":[$data]}""")
      }
    })
    // the first webhook POST is refused with a 503 and must be retried;
    // every request, refused or not, must carry the key header
    val hookFailFirst = new AtomicInteger(1)
    val hookRequests, hookKeyed = new AtomicInteger(0)
    server.createContext("/webhook", (ex: HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      hookRequests.incrementAndGet()
      if (ex.getRequestHeaders.getFirst("X-Embeddings-Webhook-Key") == "secret")
        hookKeyed.incrementAndGet()
      if (hookFailFirst.getAndDecrement() > 0) respond(ex, 503, "busy")
      else { received.add(body); respond(ex, 200, "ok") }
    })
    server.start()
    val port = server.getAddress.getPort
    try {
      import spark.implicits._
      val embedder = new OpenAiHttpEmbedder(s"http://127.0.0.1:$port", "test-model", "k", dim = 2)
      val chunks = (0 until 10).map(i => ChunkRow(i.toLong, "doc", i, s"id$i", s"text$i")).toDS().coalesce(1)
      val out = EmbedPipeline.embedStage(chunks, embedder).collect().sortBy(_.id)
      assert(out.length == 10)
      // index i must carry embedding [i, 1] even though the server reversed order
      out.foreach { r =>
        val i = r.source_text.stripPrefix("text").toInt
        assert(r.vector.toSeq == Seq(i.toFloat, 1f), s"index tag broken for $i")
      }
      // webhook sink: 10 records, batch size 4 -> 3 batches, the first
      // refused once -> 4 POSTs, every batch delivered exactly once
      EmbedPipeline.embedStage(chunks, embedder).toDF()
        .write.format("graft.sinks.VectorDbDataSource")
        .option("url", s"http://127.0.0.1:$port/webhook").option("apiKey", "secret")
        .option("shape", "WEBHOOK").option("jobId", "job-1").option("batchSize", "4")
        .mode("append").save()
      assert(hookRequests.get() == 4, "the 503 was not retried")
      assert(hookKeyed.get() == 4, "a request went out without the key header")
      assert(received.size() == 3)
      assert(received.asScala.forall(_.contains("\"JobID\":\"job-1\"")))
      val ids = received.asScala.toSeq.flatMap("\"id\":\"([^\"]*)\"".r.findAllMatchIn(_).map(_.group(1)))
      assert(ids.sorted == out.map(_.id).toSeq.sorted, "a record was lost or delivered twice")
      assert(VectorDbDataSource.lastCommitStats.contains(VectorDbDataSource.CommitStats(10L, 0L, 1)))
    } finally server.stop(0)
  }

  test("wire bytes: OpenAI, TEI and webhook bodies match their golden captures") {
    // bodies captured from the pre-refactor embedders and webhook sink;
    // the texts cover every escape the JSON quoter emits plus non-ASCII
    val texts = IndexedSeq("plain text", "quote \" back\\slash",
      "nl\nrt\rtab\tctl\u0001\u001f", "unicode \u00e9 \u20ac \ud83d\ude00 </script>")
    val bodies = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    def capture(path: String, reply: String): Unit =
      server.createContext(path, (ex: HttpExchange) => {
        bodies.put(path, new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
        respond(ex, 200, reply)
      })
    capture("/v1/embeddings", texts.indices
      .map(i => s"""{"index":$i,"embedding":[$i.0,1.0]}""").mkString("""{"data":[""", ",", "]}"))
    capture("/embed", texts.indices.map(i => s"[$i.0,1.0]").mkString("[", ",", "]"))
    capture("/hook", "ok")
    server.start()
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    def golden(name: String): String = {
      val in = getClass.getResourceAsStream(s"/golden/$name.json")
      try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
    }
    try {
      new OpenAiHttpEmbedder(base, "text-embedding-ada-002", "k", dim = 2).embedBatch(texts)
      assert(bodies.get("/v1/embeddings") == golden("openai"))
      new HuggingFaceHttpEmbedder(base, "BAAI/bge-small-en", dim = 2).embedBatch(texts)
      assert(bodies.get("/embed") == golden("tei"))
      import spark.implicits._
      val records = Seq(
        VectorRecord("0b0e8c47-6c3e-5d0e-9a4b-7f3c2a1d9e01", texts(1), "doc \"a\".txt",
          Array(0.5f, -1.25f, 3.0e-8f)),
        VectorRecord("5f1d2e3c-4b5a-5968-8776-a5b4c3d2e1f0", texts(2), "b.md",
          Array(1.0f, 0f, 1234567.9f)),
        VectorRecord("9a8b7c6d-5e4f-5a3b-9c2d-1e0f9a8b7c6d", texts(3), "c.html",
          Array.empty[Float])).toDS().coalesce(1)
      VectorDbSinks.write(records, s"$base/hook", "secret", VectorDbSinks.Webhook, "job-\"golden\"")
      assert(bodies.get("/hook") == golden("webhook"))
    } finally server.stop(0)
  }

  test("OpenAI parser rejects non-finite components and out-of-range indices by name") {
    val e = new OpenAiHttpEmbedder("http://127.0.0.1:1", "m", "k", dim = 2)
    assert(e.parseResponse("""{"data":[{"index":0,"embedding":[0.5,-1.25]}]}""", 1)
      .map(_.toSeq) == Seq(Seq(0.5f, -1.25f)))
    for (bad <- Seq("NaN", "Infinity", "-Infinity", "1e39")) {
      val err = intercept[IllegalArgumentException](e.parseResponse(
        s"""{"data":[{"index":0,"embedding":[0.5,$bad]}]}""", 1))
      assert(err.getMessage.contains(s"non-finite component '$bad'"), err.getMessage)
    }
    val err = intercept[IllegalArgumentException](e.parseResponse(
      """{"data":[{"index":0,"embedding":[1.0]},{"index":2,"embedding":[2.0]}]}""", 2))
    assert(err.getMessage.contains("index 2 is out of range for 2 inputs"), err.getMessage)
  }

  test("TEI parser rejects non-finite components by name") {
    val e = new HuggingFaceHttpEmbedder("http://127.0.0.1:1", "BAAI/bge-small-en", dim = 2)
    assert(e.parseResponse("[[0.5,-1.25],[3e-8,1]]", 2).map(_.toSeq) ==
      Seq(Seq(0.5f, -1.25f), Seq(3e-8f, 1f)))
    for (bad <- Seq("NaN", "Infinity", "-1e39")) {
      val err = intercept[IllegalArgumentException](
        e.parseResponse(s"[[0.5,1.0],[2.0, $bad]]", 2))
      assert(err.getMessage.contains(s"vector 1 has a non-finite component '$bad'"),
        err.getMessage)
    }
  }

  test("chunk-validation semi-join keeps only service-approved rows") {
    import spark.implicits._
    val chunks = (0 until 20).map(i => ChunkRow(i.toLong, "s", i, s"id$i", s"t$i")).toDS().coalesce(1)
    // the reference webhook_test_api keeps every 2nd chunk (:60-62);
    // one partition -> batches of 6,6,6,2 -> 3+3+3+1 kept
    val kept = Sinks.validateChunks(chunks, batchSize = 6)(batch =>
      batch.zipWithIndex.collect { case (c, i) if i % 2 == 0 => c })
    assert(kept.count() == 10)
  }

  test("ledger marks jobs COMPLETED when all ids are distinct") {
    val docs = graft.Tables.documents(spark, sfDir)
    val led = EmbedPipeline.ledger(EmbedPipeline.run(docs).toDF()).collect()
    assert(led.nonEmpty)
    assert(led.forall(_.getAs[String]("job_status") == "COMPLETED"))
  }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(code, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private implicit class QueueOps[T](q: java.util.concurrent.ConcurrentLinkedQueue[T]) {
    def asScala: Iterator[T] = {
      import scala.jdk.CollectionConverters._
      q.iterator().asScala
    }
  }
}
