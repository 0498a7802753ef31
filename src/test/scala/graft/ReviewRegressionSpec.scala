package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Chunkers
import graft.operators.{Dedup, KMeans, Similarity}

/** Regressions for the round-1 and round-2 code-review findings. */
class ReviewRegressionSpec extends AnyFunSuite with SharedSpark {

  test("nested /Pages trees walk to the leaf pages (r2 review)") {
    import java.nio.charset.StandardCharsets
    // catalog -> root Pages -> two intermediate Pages -> one leaf each
    def content(i: Int) = s"BT 72 700 Td (leaf $i) Tj ET"
    val pdf =
      s"""%PDF-1.4
         |1 0 obj
         |<</Type/Catalog/Pages 2 0 R>>
         |endobj
         |2 0 obj
         |<</Type/Pages/Count 2/Kids[3 0 R 4 0 R]>>
         |endobj
         |3 0 obj
         |<</Type/Pages/Parent 2 0 R/Count 1/Kids[5 0 R]>>
         |endobj
         |4 0 obj
         |<</Type/Pages/Parent 2 0 R/Count 1/Kids[6 0 R]>>
         |endobj
         |5 0 obj
         |<</Type/Page/Parent 3 0 R/Contents 7 0 R>>
         |endobj
         |6 0 obj
         |<</Type/Page/Parent 4 0 R/Contents 8 0 R>>
         |endobj
         |7 0 obj
         |<</Length ${content(1).length}>>
         |stream
         |${content(1)}
         |endstream
         |endobj
         |8 0 obj
         |<</Length ${content(2).length}>>
         |stream
         |${content(2)}
         |endstream
         |endobj
         |%%EOF""".stripMargin
    val pages = graft.sources.PdfText.extractPages(pdf.getBytes(StandardCharsets.ISO_8859_1))
    assert(pages == Vector("leaf 1", "leaf 2"),
      "intermediate /Pages nodes must not become phantom empty pages")
  }

  test("null embedding rows get a null cluster, not an NPE (r2 review)") {
    import spark.implicits._
    val df = Seq((1L, Some(Array(1f, 2f))), (2L, None), (3L, Some(Array(5f, 6f))))
      .toDF("id", "v")
    val centroids = Array(Array(1.0, 2.0), Array(5.0, 6.0))
    val rows = KMeans.assign(df, "id", "v", centroids)
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(2)) -1 else r.getInt(2))).toMap
    assert(rows(1L) == 0 && rows(3L) == 1)
    assert(rows(2L) == -1, "null vector must yield null cluster")
  }

  test("short media payloads degrade to a zero record, never throw (r2 review)") {
    import spark.implicits._
    import graft.operators.Multimodal
    val rows = Multimodal.decodeImages(Seq(
      Multimodal.MediaRow(1L, "image", Array[Byte](66, 77)),       // 'BM' truncated
      Multimodal.MediaRow(2L, "image", Array[Byte](1, 2, 3, 4, 5)) // garbage
    ).toDS()).collect().map(d => d.media_id -> d).toMap
    assert(rows(1L).width == 0 && rows(1L).features.forall(_ == 0f))
    assert(rows(2L).width == 0)
  }

  test("null media payload never kills the decode batch (r2 review 2)") {
    import spark.implicits._
    import graft.operators.Multimodal
    val d = Multimodal.decodeImages(Seq(
      Multimodal.MediaRow(1L, "image", null)).toDS()).head()
    assert(d.width == 0 && d.channels == 0)
  }

  test("assignTopP keeps null-vector rows with a null cluster (r2 review 2)") {
    import spark.implicits._
    val df = Seq((1L, Some(Array(1f, 2f))), (2L, None)).toDF("id", "v")
    val centroids = Array(Array(1.0, 2.0), Array(5.0, 6.0))
    val rows = KMeans.assignTopP(df, "id", "v", centroids, p = 2).collect()
    assert(rows.count(_.getLong(0) == 1L) == 2, "valid row explodes to p probes")
    val nullRow = rows.filter(_.getLong(0) == 2L)
    assert(nullRow.length == 1 && nullRow.head.isNullAt(2),
      "null vector must survive with a null cluster, like assign()")
  }

  test("DSv2 writer ships empties for null fields instead of NPEing (r2 review 2)") {
    import spark.implicits._
    val received = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/points", (ex: com.sun.net.httpserver.HttpExchange) => {
      received.add(new String(ex.getRequestBody.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8))
      val ok = "ok".getBytes
      ex.sendResponseHeaders(200, ok.length.toLong)
      ex.getResponseBody.write(ok); ex.close()
    })
    server.start()
    try {
      Seq(("a", Option.empty[String], Option("d"), Option(Array(1f))),
          ("b", Option("t"), Option.empty[String], Option.empty[Array[Float]]))
        .toDF("id", "source_text", "source_document", "vector")
        .coalesce(1)
        .write.format("graft.sinks.VectorDbDataSource")
        .option("url", s"http://127.0.0.1:${server.getAddress.getPort}")
        .option("shape", "QDRANT").option("jobId", "nulls")
        .mode("append").save()
      assert(received.size() == 1, "both poison rows still ship")
    } finally server.stop(0)
  }

  test("malformed ranks lines fail with a clear parse error (r2 review)") {
    val e = intercept[IllegalArgumentException](
      graft.core.BpeTokenizer.parseRanks(Iterator("dGU= 0", "broken-no-rank")))
    assert(e.getMessage.contains("line 2"))
  }

  test("paragraph chunker terminates when floor(bound*size) == 0") {
    // size=1, bound=0.75 -> checkBound would floor to 0 and spin forever
    val chunks = Chunkers.paragraph(Seq("a\n\nb\n\nc"), size = 1, overlap = 0)
    assert(chunks.nonEmpty && chunks.length <= 10)
  }

  test("custom top-k accepts string ids as tiebreak") {
    import spark.implicits._
    val vecs = (0 until 30).map(i => (s"uuid-${"%03d".format(i)}", Array(i.toFloat, 1f)))
      .toDF("id", "v")
    val out = Similarity.bruteForceTopKExec(
      vecs.filter(col("id") === "uuid-000"), vecs, "id", "v", k = 5)
    assert(out.count() == 5)
    // and ties on score resolve to the lexicographically smallest ids
    val tied = (0 until 20).map(i => (s"t-${"%02d".format(i)}", Array(1f, 0f))).toDF("id", "v")
    val picked = Similarity.bruteForceTopKExec(
        tied.filter(col("id") === "t-19"), tied, "id", "v", k = 3)
      .collect().map(_.getString(1)).sorted
    assert(picked.toSeq == Seq("t-00", "t-01", "t-02"))
  }

  test("k-means shrinks k to the row count and rejects zero iterations") {
    import spark.implicits._
    val tiny = (0 until 3).map(i => (i.toLong, Array(i.toFloat, 0f))).toDF("id", "v")
    val (assigned, centroids) = KMeans.fit(tiny, "id", "v", k = 8, iterations = 2)
    assert(centroids.length == 3)
    assert(assigned.count() == 3)
    intercept[IllegalArgumentException](KMeans.fit(tiny, "id", "v", k = 2, iterations = 0))
  }

  test("simhash pairs tolerate null text rows") {
    import spark.implicits._
    val df = Seq((1L, "a b c d"), (2L, null.asInstanceOf[String]), (3L, "a b c d"))
      .toDF("id", "text")
    val pairs = Dedup.simHashPairs(df, "id", "text", maxDistance = 0).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 3L)))
  }

  test("vocabEncode rejects duplicate doc ids loudly (r3 review)") {
    import spark.implicits._
    val dup = Seq((7L, "a b"), (7L, "c d"), (8L, "e")).toDF("doc_id", "text")
    val e = intercept[Exception](
      graft.operators.Packing.vocabEncode(dup, "doc_id", "text", 4).collect())
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("duplicate doc id")),
      s"expected the duplicate-id guard, got: $e")
  }

  test("gram matrix survives large-magnitude values without i64 wrap (r3 review)") {
    import spark.implicits._
    // q = 3000 * 2^20; q^2 = 9.9e18 > Long.MaxValue — the decimal cast
    // before the multiply keeps it exact: g = 3000^2 = 9e6
    val df = Seq((1L, Seq(3000.0f, 3000.0f))).toDF("id", "vec")
    val g = graft.operators.LinAlg.gramMatrix(df, "vec", 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(g((1L, 1L)) === 9000000.0)
    assert(g((1L, 2L)) === 9000000.0)
  }

  test("LinAlg excludes null vectors instead of skewing n or NPEing (r3 review)") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(3.0f, 0.0f)),
      (3L, null.asInstanceOf[Seq[Float]])).toDF("id", "vec")
    // covariance over the two non-null rows: var(x)= (1-2)^2+(3-2)^2 / 1 = 2
    val (proj, evals) = graft.operators.LinAlg.pca(df, "id", "vec", 2, 1)
    assert(math.abs(evals(0) - 2.0) < 1e-9)
    assert(proj.count() === 2) // null row projects to nothing
  }

  test("embedder returning short batches fails loudly instead of dropping chunks") {
    import spark.implicits._
    val lying = new graft.pipeline.Embedder {
      override val dim = 2
      override val maxBatchSize = 8
      override def embedBatch(texts: IndexedSeq[String]): IndexedSeq[Array[Float]] =
        texts.drop(1).map(_ => Array(0f, 1f)) // one short
    }
    val chunks = (0 until 6).map(i =>
      graft.pipeline.ChunkRow(i.toLong, "s", i, s"c$i", s"t$i")).toDS().coalesce(1)
    val e = intercept[Exception](
      graft.pipeline.EmbedPipeline.embedStage(chunks, lying).collect())
    assert(e.getMessage != null)
  }
}
