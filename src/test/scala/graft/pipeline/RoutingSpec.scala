package graft.pipeline

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{IngestRequest, VectorDbConfig}
import graft.sinks.VectorDbDataSource.CommitStats

class RoutingSpec extends AnyFunSuite with graft.SharedSpark {

  test("E3: OPEN_AI/HUGGING_FACE/LOCAL resolve; others are permanent failures") {
    assert(Routing.embedderFor("LOCAL", dim = 8).isRight)
    assert(Routing.embedderFor("OPEN_AI", apiKey = "k").isRight)
    // HUGGING_FACE needs its model name (the validator's reserved
    // message, reference validators.py:22); with it, the leg resolves
    assert(Routing.embedderFor("HUGGING_FACE") == Left(
      "Hugging face embeddings models require a " +
        "\"hugging_face_model_name\" in the \"embeddings_metadata\""))
    assert(Routing.embedderFor("HUGGING_FACE", dim = 8,
      huggingFaceModelName = Some("BAAI/bge-small-en")).isRight)
    assert(Routing.embedderFor("COHERE") ==
      Left("Embeddings type COHERE not supported"))
  }

  test("HUGGING_FACE leg: 32-text sub-batches against a local /embed stub, " +
      "retry envelope recovers from a transient 500") {
    val posts = new java.util.concurrent.atomic.AtomicInteger(0)
    val failures = new java.util.concurrent.atomic.AtomicInteger(1) // first call 500s
    val maxBatchSeen = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/embed", (ex: HttpExchange) => {
      posts.incrementAndGet()
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      // {"inputs":["a","b",...]}: the "inputs" key itself is one quoted
      // token, every text another
      val n = body.count(_ == '"') / 2 - 1
      maxBatchSeen.accumulateAndGet(n, math.max(_, _))
      if (failures.getAndDecrement() > 0) respond(ex, 500, "overloaded")
      else respond(ex, 200,
        (0 until n).map(i => s"[0.5,$i.0]").mkString("[", ",", "]"))
    })
    server.start()
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    try {
      val emb = Routing.embedderFor("HUGGING_FACE", baseUrl = base, dim = 2,
        huggingFaceModelName = Some("BAAI/bge-small-en"))
        .fold(e => fail(e), identity)
      // 65 texts = 3 calls (32 + 32 + 1 per HUGGING_FACE_BATCH_SIZE,
      // worker config.py:6)
      val out = embed(emb, (0 until 65).map(i => s"text $i"))
      assert(out.length == 65)
      assert(out.forall(_.length == 2))
      assert(maxBatchSeen.get() == 32, "a call must cap at 32 texts")
      // 3 calls + 1 resend of the 500'd one alone = 4 POSTs; then
      // 10 texts fit 1 call
      assert(posts.get() == 4)
      assert(embed(emb, (0 until 10).map(_.toString)).length == 10)
      assert(posts.get() == 5)
    } finally server.stop(0)
  }

  test("K5: webhook config routes to webhook; DB config routes to upsert") {
    import spark.implicits._
    val webhookHits = new java.util.concurrent.atomic.AtomicInteger(0)
    val upsertHits = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/hook", (ex: HttpExchange) => {
      webhookHits.incrementAndGet(); respond(ex, 200, "ok")
    })
    server.createContext("/points", (ex: HttpExchange) => {
      upsertHits.incrementAndGet(); respond(ex, 200, "ok")
    })
    server.start()
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    try {
      val records = (0 until 10).map(i =>
        VectorRecord(s"id$i", s"t$i", "doc", Array(1f))).toDS().coalesce(1)
      val hooked = Routing.writeRecords(records,
        IngestRequest(webhookUrl = Some(s"$base/hook"), webhookKey = Some("k")), "j1")
      assert(webhookHits.get() == 1 && upsertHits.get() == 0)
      assert(hooked == CommitStats(10L, 0L, 1))
      val upserted = Routing.writeRecords(records,
        IngestRequest(vectorDb = Some(VectorDbConfig("QDRANT", "idx")),
          vectorDbKey = Some("k")), "j2", vectorDbBaseUrl = base)
      assert(upsertHits.get() == 1)
      assert(upserted == CommitStats(10L, 0L, 1))
      intercept[IllegalArgumentException](
        Routing.writeRecords(records, IngestRequest(), "j3"))
    } finally server.stop(0)
  }

  test("OPEN_AI leg: a 503 resends only its own 2048-text sub-call") {
    // 2049 texts = 2 calls (2048 + 1, worker.py:96), both in flight at
    // once; the first POST to arrive is refused once. The failed call
    // alone is retried: 3 POSTs, and every text reaches a 200 exactly
    // once.
    val posts = new java.util.concurrent.atomic.AtomicInteger(0)
    val answered = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/v1/embeddings", (ex: HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      val texts = "\"(t\\d+)\"".r.findAllMatchIn(body).map(_.group(1)).toSeq
      if (posts.incrementAndGet() == 1) respond(ex, 503, "busy")
      else {
        texts.foreach(answered.add)
        respond(ex, 200, texts.indices
          .map(i => s"""{"index":$i,"embedding":[$i.0,1.0]}""").mkString("""{"data":[""", ",", "]}"))
      }
    })
    server.start()
    try {
      val emb = Routing.embedderFor("OPEN_AI", baseUrl = s"http://127.0.0.1:${server.getAddress.getPort}",
        apiKey = "k", dim = 2).fold(e => fail(e), identity)
      val texts = (0 until 2049).map(i => s"t$i")
      val out = embed(emb, texts)
      assert(out.length == 2049)
      assert(out(2048).toSeq == Seq(0f, 1f), "the second call's vector is misplaced")
      assert(posts.get() == 3, "a failed call must resend only itself")
      import scala.jdk.CollectionConverters._
      assert(answered.asScala.toSeq.sorted == texts.sorted,
        "every text must reach a 200 exactly once")
    } finally server.stop(0)
  }

  test("OPEN_AI leg: the failure unit of embedStageWithStatus is one 2048-text call") {
    // 4097 chunks in one partition = 3 calls (2048 + 2048 + 1), all in
    // flight at once; every try of the call holding "t3000" 500s. Only
    // that call's 2048 chunks come back failed.
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/v1/embeddings", (ex: HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      val n = "\"t\\d+\"".r.findAllMatchIn(body).length
      if (body.contains("\"t3000\"")) respond(ex, 500, "poisoned")
      else respond(ex, 200, (0 until n)
        .map(i => s"""{"index":$i,"embedding":[$i.0,1.0]}""").mkString("""{"data":[""", ",", "]}"))
    })
    server.start()
    try {
      import spark.implicits._
      val emb = Routing.embedderFor("OPEN_AI", baseUrl = s"http://127.0.0.1:${server.getAddress.getPort}",
        apiKey = "k", dim = 2).fold(e => fail(e), identity)
      val chunks = (0 until 4097).map(i => ChunkRow(i.toLong, "doc", 0, s"c$i", s"t$i")).toDS().coalesce(1)
      val rows = EmbedPipeline.embedStageWithStatus(chunks, emb).collect()
      assert(rows.map(_.source_text).toSeq == (0 until 4097).map(i => s"t$i"), "rows out of input order")
      val failed = rows.filter(!_.ok).map(_.source_text.drop(1).toInt)
      assert(failed.toSeq == (2048 until 4096), "only the poisoned call's 2048 rows fail")
      assert(rows.filter(!_.ok).forall(r => r.error.contains("HTTP 500") && r.vector.isEmpty))
      assert(rows.filter(_.ok).forall(_.vector.length == 2))
    } finally server.stop(0)
  }

  test("K5: failed sink batches surface in the commit stats; a dead store fails the write") {
    import spark.implicits._
    // one 128-row batch (the one holding row 150) 500s on every attempt
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/points", (ex: HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      if (body.contains("\"t150\"")) respond(ex, 500, "boom") else respond(ex, 200, "ok")
    })
    server.createContext("/down", (ex: HttpExchange) => {
      ex.getRequestBody.readAllBytes(); respond(ex, 500, "down")
    })
    server.start()
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    val qdrant = IngestRequest(vectorDb = Some(VectorDbConfig("QDRANT", "idx")), vectorDbKey = Some("k"))
    try {
      val records = (0 until 300).map(i =>
        VectorRecord(s"id$i", s"t$i", "doc", Array(1f))).toDS().coalesce(1)
      val stats = Routing.writeRecords(records, qdrant, "j1", vectorDbBaseUrl = base)
      assert(stats == CommitStats(172L, 128L, 1))
      // every batch of the partition fails: the task throws, Spark's
      // retry fails the same way, and the write fails
      val dead = intercept[Exception](Routing.writeRecords(records.limit(10), qdrant, "j2",
        vectorDbBaseUrl = s"$base/down"))
      assert(Iterator.iterate[Throwable](dead)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("all 10 upserts failed")))
      // WEBHOOK is a sink, not a vector_db_type
      val e = intercept[IllegalArgumentException](Routing.writeRecords(records,
        qdrant.copy(vectorDb = Some(VectorDbConfig("WEBHOOK", "idx"))), "j3", base))
      assert(e.getMessage.contains("Unsupported vector DB type"))
    } finally server.stop(0)
  }

  test("S7: s3a configuration lands on the Hadoop conf") {
    Routing.configureS3a(spark, "http://minio:9000", "ak", "sk")
    val hc = spark.sparkContext.hadoopConfiguration
    assert(hc.get("fs.s3a.endpoint") == "http://minio:9000")
    assert(hc.get("fs.s3a.path.style.access") == "true")
  }

  /** `texts` through the embed stage as one partition: one vector per
    * text, in order. */
  private def embed(emb: Embedder, texts: Seq[String]): Seq[Array[Float]] = {
    import spark.implicits._
    val chunks = texts.zipWithIndex.map { case (t, i) => ChunkRow(i.toLong, "doc", 0, s"c$i", t) }
      .toDS().coalesce(1)
    val out = EmbedPipeline.embedStage(chunks, emb).collect()
    assert(out.map(_.source_text).toSeq == texts, "records out of input order")
    out.map(_.vector).toSeq
  }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(code, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  }
}
