package graft.sources

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.HttpServer
import org.scalatest.funsuite.AnyFunSuite

/** S7 presigned-URL ingestion: fetch over a real (local, in-JVM) HTTP
  * server, content sniffing, extractor dispatch, and the dead
  * text/plain branch quirk (reference src/api/app.py:180-226). */
class UrlFetchSpec extends AnyFunSuite with graft.SharedSpark {

  override protected def suiteConf = Seq(
    "spark.sql.shuffle.partitions" -> "2")

  test("s3 file name parse matches the reference's own test vector") {
    // reference test_app.py:145-153
    assert(UrlFetch.s3FileName(
      "https://s3.amazonaws.com/my-bucket-name/myfolder/myfile.txt") == "myfile.txt")
    // presigned query strings are dropped
    assert(UrlFetch.s3FileName(
      "https://s3.amazonaws.com/b/f.pdf?X-Amz-Expires=60&X-Amz-Signature=ab") == "f.pdf")
  }

  test("content sniffing keys on bytes, not extension") {
    val pdf = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/reference/src/api/tests/fixtures/test_pdf.pdf"))
    assert(UrlFetch.sniffMime(pdf) == "application/pdf")
    assert(UrlFetch.sniffMime("plain words here".getBytes(StandardCharsets.UTF_8))
      == "text/plain")
    assert(UrlFetch.sniffMime("<!DOCTYPE html><html></html>".getBytes(StandardCharsets.UTF_8))
      == "text/html")
    assert(UrlFetch.sniffMime(Array[Byte](0, -1, -2, -60, 0, -77, 9, 1))
      == "application/octet-stream")
  }

  test("HTTP fetch: dispatch, dead text/plain branch, sane mode, and 404") {
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    val lines = (1 to 2500).map(i => s"line $i").mkString("\n")
    server.createContext("/bucket/doc.txt", ex => {
      val b = lines.getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(200, b.length); ex.getResponseBody.write(b); ex.close()
    })
    server.createContext("/bucket/gone.txt", ex => {
      ex.sendResponseHeaders(404, -1); ex.close()
    })
    server.start()
    val base = s"http://127.0.0.1:${server.getAddress.getPort}/bucket"
    try {
      val urls = Seq(s"$base/doc.txt?X-Amz-Expires=60", s"$base/gone.txt")
      // quirk mode: text/plain is the dead branch — no batches
      val quirk = UrlFetch.fetchUrls(spark, urls).collect()
        .map(r => r.getString(1) -> r).toMap
      assert(quirk("doc.txt").getString(3) == "text/plain")
      assert(quirk("doc.txt").getString(6) == "DEAD_BRANCH")
      assert(quirk("doc.txt").isNullAt(5), "dead branch must not batch")
      assert(quirk("gone.txt").getInt(2) == 404)
      assert(quirk("gone.txt").getString(6) == "Failed to download file")
      // sane mode: 2500 lines at 1000/batch = 3 batches (split_file rule)
      val sane = UrlFetch.fetchUrls(spark, Seq(s"$base/doc.txt"),
          replicateTextPlainQuirk = false).collect().head
      assert(sane.getLong(5) == 3L)
      assert(sane.getLong(4) == lines.length.toLong)
    } finally server.stop(0)
  }

  test("mid-character 1KB truncation still sniffs text/plain") {
    // 1023 ASCII bytes then a 2-byte UTF-8 char spanning the window edge
    val s = "a" * 1023 + "é" + ("plain text continues " * 20)
    assert(UrlFetch.sniffMime(s.getBytes(StandardCharsets.UTF_8)) == "text/plain")
  }

  test("malformed URLs produce error rows, not task failures") {
    val rows = UrlFetch.fetchUrls(spark,
        Seq("http://host/with space.txt", "mailto:someone@example.com"))
      .collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      assert(r.getInt(2) == -1, s"expected error row: $r")
      assert(!r.isNullAt(6) && r.getString(6).nonEmpty)
    }
  }

  test("redirects are followed like the reference's requests.get") {
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    val body = "redirected content line".getBytes(StandardCharsets.UTF_8)
    server.createContext("/old/doc.txt", ex => {
      ex.getResponseHeaders.add("Location",
        s"http://127.0.0.1:${server.getAddress.getPort}/new/doc.txt")
      ex.sendResponseHeaders(307, -1); ex.close()
    })
    server.createContext("/new/doc.txt", ex => {
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body); ex.close()
    })
    server.start()
    try {
      val r = UrlFetch.fetchUrls(spark,
        Seq(s"http://127.0.0.1:${server.getAddress.getPort}/old/doc.txt")).collect().head
      assert(r.getInt(2) == 200)
      assert(r.getLong(4) == body.length.toLong)
    } finally server.stop(0)
  }

  test("pdf and docx fetched bytes run the real extractors") {
    val fx = "file:///root/reference/src/api/tests/fixtures"
    val row = UrlFetch.fetchUrls(spark, Seq(s"$fx/test_pdf.pdf")).collect().head
    assert(row.getString(3) == "application/pdf")
    // parity with the p10 extraction: total chars = sum of page lengths
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/reference/src/api/tests/fixtures/test_pdf.pdf"))
    val expected = PdfText.extractPages(bytes)
      .map(PdfText.pageWithTrailingNewline).map(_.length.toLong).sum
    assert(row.getLong(4) == expected)
    assert(row.getLong(5) == 3L, "42 extracted pages split into 3 line-batches")
  }
}
