package perfbench

import java.lang.management.ManagementFactory
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.concurrent._
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.StreamReadFeature
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** What one stub saw between two `reset()` calls. */
final case class StubStats(calls: Long, failed5xx: Long, items: Long, bytesIn: Long,
                           inflightMax: Int, busyS: Double)

/** One request as a span: nanoTime bounds, HTTP status, and the id of the
  * benchmark span that was active when it arrived. */
final case class RequestSpan(startNs: Long, endNs: Long, status: Int, parent: Int)

/** The vectors the embedding stub serves: a fixed table indexed by a
  * 64-bit hash of the text, so a vector can be checked against its text
  * anywhere downstream without recomputing an embedding. Components are
  * multiples of 1/256, exact in a float. */
final class VectorTable(val dim: Int, size: Int = 1024) {
  private val rows: Array[Array[Float]] = {
    val r = new java.util.Random(20240517L)
    Array.fill(size)(Array.fill(dim)((r.nextInt(511) - 255) / 256f))
  }
  /** Each row as the JSON text a float array prints to. */
  val json: Array[String] = rows.map(_.mkString("[", ",", "]"))

  def indexOf(text: String): Int = ((VectorTable.hash64(text) >>> 1) % size).toInt
  def row(text: String): Array[Float] = rows(indexOf(text))
}

object VectorTable {
  def hash64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h = (h ^ s.charAt(i)) * 0x100000001b3L; i += 1 }
    h ^ (h >>> 29)
  }
}

/** A loopback HTTP endpoint in the benchmark's own process.
  *
  *  - Latency: each response is sent `latencyMs` after its request arrived,
  *    from a timer; no thread is held while waiting, so any number of
  *    requests can be in flight.
  *  - Failures: first attempts (bodies not seen since `reset`) are numbered
  *    in arrival order, and every `failEvery`-th one, starting with number
  *    `failEvery / 2`, gets a 503; a resent body always succeeds. The
  *    number of 503s per job therefore follows from the number of distinct
  *    requests alone, and repeats exactly for every seed.
  *  - Accounting: calls, 503s, items, bytes, peak in-flight requests and
  *    the union of in-flight intervals. */
abstract class Stub(path: String, latencyMs: Long, failEvery: Int) {
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 512)
  private val io = Executors.newFixedThreadPool(8, Stub.named("perfbench-stub-io"))
  private val timer = Executors.newSingleThreadScheduledExecutor(Stub.named("perfbench-stub-timer"))
  // more senders than the program has requests in flight; fixed, so the
  // threads (and the CPU they used) live as long as the stub
  private val send = Executors.newFixedThreadPool(32, Stub.named("perfbench-stub-send"))

  private val seen = ConcurrentHashMap.newKeySet[String]()
  private val calls, fails, items, bytesIn, firstAttempts = new AtomicLong
  private var inflight, inflightMax = 0
  private var busySinceNs, busyNs = 0L
  private val spans = new ConcurrentLinkedQueue[RequestSpan]()
  @volatile var traceParent: Int = -1

  server.createContext(path, (ex: HttpExchange) => handle(ex))
  server.setExecutor(io)
  server.start()

  val url: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  /** The 200 response to an accepted request body; counts its items with
    * `addItems`. */
  protected def respond(body: JsonNode): String
  protected def addItems(n: Long): Unit = items.addAndGet(n)
  protected def resetState(): Unit

  def reset(): Unit = synchronized {
    seen.clear(); calls.set(0); fails.set(0); items.set(0); bytesIn.set(0); firstAttempts.set(0)
    inflightMax = inflight; busyNs = 0L; busySinceNs = System.nanoTime()
    spans.clear()
    resetState()
  }

  def stats(): StubStats = synchronized {
    val open = if (inflight > 0) System.nanoTime() - busySinceNs else 0L
    StubStats(calls.get, fails.get, items.get, bytesIn.get, inflightMax, (busyNs + open) / 1e9)
  }

  def requestSpans(): Seq[RequestSpan] = spans.asScala.toVector

  private def enter(now: Long): Unit = synchronized {
    if (inflight == 0) busySinceNs = now
    inflight += 1
    inflightMax = math.max(inflightMax, inflight)
  }

  private def exit(now: Long): Unit = synchronized {
    inflight -= 1
    if (inflight == 0) busyNs += now - busySinceNs
  }

  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    enter(t0)
    val parent = traceParent
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    calls.incrementAndGet()
    bytesIn.addAndGet(body.length)
    val (status, out) =
      try {
        if (seen.add(Stub.md5(body)) && firstAttempts.incrementAndGet() % failEvery == failEvery / 2) {
          fails.incrementAndGet()
          (503, """{"error":"service unavailable"}""")
        } else (200, respond(Stub.mapper.readTree(body)))
      } catch { case scala.util.control.NonFatal(e) => (400, Stub.mapper.writeValueAsString(Map("error" -> String.valueOf(e)))) }
    val wait = latencyMs * 1000000L - (System.nanoTime() - t0)
    timer.schedule(new Runnable {
      def run(): Unit = send.execute(() => reply(ex, status, out, t0, parent))
    }, math.max(0L, wait), TimeUnit.NANOSECONDS)
  }

  private def reply(ex: HttpExchange, status: Int, out: String, t0: Long, parent: Int): Unit = {
    try {
      val bytes = out.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(status, bytes.length.toLong)
      val os = ex.getResponseBody
      os.write(bytes)
      os.close()
    } catch { case _: java.io.IOException => }
    finally {
      val now = System.nanoTime()
      exit(now)
      if (parent >= 0) spans.add(RequestSpan(t0, now, status, parent))
    }
  }

  def close(): Unit = {
    server.stop(0)
    Seq(io, timer, send).foreach { p => p.shutdownNow(); p.awaitTermination(10, TimeUnit.SECONDS) }
  }
}

object Stub {
  /** Reads request bodies and the generator's manifest, writes the run's
    * report. */
  val mapper: ObjectMapper = JsonMapper.builder().addModule(DefaultScalaModule)
    .enable(StreamReadFeature.USE_FAST_DOUBLE_PARSER).build()

  private def md5(s: String): String =
    java.util.Base64.getEncoder.encodeToString(
      MessageDigest.getInstance("MD5").digest(s.getBytes(StandardCharsets.UTF_8)))

  private def named(prefix: String): ThreadFactory = {
    val n = new AtomicInteger
    (r: Runnable) => {
      val t = new Thread(r, s"$prefix-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  }

  /** CPU nanoseconds used so far by the stub threads and the HTTP
    * server's dispatcher — the part of process CPU that is not the
    * program's. */
  def cpuNs(): Long = {
    val mx = ManagementFactory.getThreadMXBean
    Thread.getAllStackTraces.keySet.asScala.iterator
      .filter(t => t.getName.startsWith("perfbench-stub") || t.getName.startsWith("HTTP-Dispatcher"))
      .map(t => math.max(0L, mx.getThreadCpuTime(t.getId)))
      .sum
  }
}

/** OpenAI-shape `POST /v1/embeddings`: vectors from the [[VectorTable]],
  * in request order, each tagged with its index. */
final class EmbeddingStub(table: VectorTable, latencyMs: Long, failEvery: Int)
    extends Stub("/v1/embeddings", latencyMs, failEvery) {
  private val texts = ConcurrentHashMap.newKeySet[java.lang.Long]()

  def distinctTexts: Int = texts.size

  override protected def resetState(): Unit = texts.clear()

  override protected def respond(body: JsonNode): String = {
    val input = body.get("input").asScala.map(_.asText).toVector
    addItems(input.length.toLong)
    val b = new java.lang.StringBuilder(input.length * (table.dim * 11 + 48) + 64)
    b.append("""{"object":"list","data":[""")
    var i = 0
    input.foreach { t =>
      texts.add(VectorTable.hash64(t))
      if (i > 0) b.append(',')
      b.append("""{"object":"embedding","index":""").append(i)
        .append(""","embedding":""").append(table.json(table.indexOf(t))).append('}')
      i += 1
    }
    b.append("""],"model":"stub"}""").toString
  }
}

/** Qdrant-shape `POST /points`: records every accepted point's id and
  * document, and checks each vector against the [[VectorTable]] row of
  * its `source_text`. */
final class VectorDbStub(table: VectorTable, latencyMs: Long, failEvery: Int)
    extends Stub("/points", latencyMs, failEvery) {
  private val docOf = new ConcurrentHashMap[String, String]()
  private val mismatched = new AtomicLong

  /** Accepted points by document (distinct ids only). */
  def pointsByDocument(): Map[String, Int] =
    docOf.values.asScala.groupBy(identity).map { case (d, xs) => d -> xs.size }

  def distinctIds: Int = docOf.size
  def vectorMismatches: Long = mismatched.get

  override protected def resetState(): Unit = { docOf.clear(); mismatched.set(0) }

  override protected def respond(body: JsonNode): String = {
    val points = body.get("points").asScala.toVector
    points.foreach { p =>
      val payload = p.get("payload")
      val row = table.row(payload.get("source_text").asText)
      val vec = p.get("vector")
      if (vec.size != row.length || row.indices.exists(i => vec.get(i).floatValue != row(i)))
        mismatched.incrementAndGet()
      docOf.put(p.get("id").asText, payload.get("source_document").asText)
    }
    addItems(points.length.toLong)
    """{"result":{"operation_id":0,"status":"acknowledged"},"status":"ok"}"""
  }
}
