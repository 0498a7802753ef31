package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Chunk, ChunkStrategy, Chunkers}
import graft.functions.GraftFunctions

class SqlSurfaceSpec extends AnyFunSuite with graft.SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  test("LATERAL VIEW chunk_text == DataFrame chunker path") {
    GraftFunctions.register(spark)
    import spark.implicits._
    // the sf0.001 texts have no paragraph or sentence breaks; two planted
    // documents give the paragraph/sentence strategies something to split
    val texts = graft.Tables.documents(spark, dir).limit(50).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq ++ Seq(
        -1L -> "First one. Second one!\n\nA new paragraph\u2026 and more.\n\n\n\nEnd.",
        -2L -> ("word " * 300 + "\n\n" + "tail end. " * 40))
    val docs = texts.toDF("doc_id", "text")
    docs.createOrReplaceTempView("docs_v")
    def byDoc(rows: Array[Row]) = rows.groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getInt(1)).map(r => Chunk(r.getString(3), r.getString(2))).toVector).toMap
    for ((name, size, overlap) <- Seq(("EXACT", 32, 8), ("EXACT_BY_CHARACTERS", 200, 0),
        ("PARAGRAPH", 64, 8), ("PARAGRAPH_BY_CHARACTERS", 300, 20),
        ("SENTENCE", 24, 4), ("SENTENCE_BY_CHARACTERS", 80, 0))) {
      val viaSql = byDoc(spark.sql(
        s"""SELECT doc_id, c.chunk_seq, c.chunk_id, c.chunk_text
           |FROM docs_v
           |LATERAL VIEW chunk_text(text, '$name', $size, $overlap) c AS chunk_seq, chunk_id, chunk_text
           |""".stripMargin).collect())
      val strategy = ChunkStrategy.fromString(name)
      val viaDf = byDoc(docs.select(col("doc_id"),
        Chunking.chunks(col("text"), strategy, size, overlap)).collect())
      assert(viaSql.nonEmpty && viaSql == viaDf, name)
      texts.foreach { case (id, text) =>
        assert(viaSql.getOrElse(id, Vector.empty) == Chunkers.chunk(strategy, Seq(text), size, overlap),
          s"$name doc $id")
      }
    }
  }

  test("chunk_text rejects non-literal config") {
    GraftFunctions.register(spark)
    graft.Tables.documents(spark, dir).createOrReplaceTempView("docs_v2")
    val e = intercept[Exception](spark.sql(
      "SELECT chunk_seq FROM docs_v2 LATERAL VIEW chunk_text(text, lang, 32, 8) c AS chunk_seq, chunk_id, chunk_text").collect())
    assert(e.getMessage.contains("literal"))
  }

  test("SQL extractors: pdf_pages / graft_extract / markdown_text over binary scans") {
    GraftFunctions.register(spark)
    spark.read.format("binaryFile")
      .load("/root/reference/src/api/tests/fixtures/test_pdf.pdf")
      .createOrReplaceTempView("pdf_files")
    val row = spark.sql(
      """SELECT size(pdf_pages(content)) AS n_pages,
        |       substring(graft_extract(content, '.pdf'), 1, 25) AS head
        |FROM pdf_files""".stripMargin).head()
    assert(row.getInt(0) == 42)
    assert(row.getString(1) == "Welcome to vector flow!!!")
    val md = spark.sql(
      "SELECT markdown_text('# T\\nbody [x](http://y)') AS t").head().getString(0)
    assert(md.contains("T\nbody x"))
    // poison-file guard (r2 review finding): corrupt payloads degrade to
    // an empty page list instead of throwing through the scan — bytes
    // chosen to trip the object scanner ('<obj num> 0 obj' over raw data)
    val poison = spark.sql(
      """SELECT size(pdf_pages(CAST('99999999999 0 obj garbage' AS BINARY))) AS p,
        |       size(docx_paragraphs(CAST('PK torn zip' AS BINARY))) AS d""".stripMargin).head()
    assert(poison.getInt(0) == 0 && poison.getInt(1) == 0)
  }

  test("SQL text-signal functions match their Column twins") {
    GraftFunctions.register(spark)
    import spark.implicits._
    Seq((1L, "the cat sat on the cat mat the cat sat"))
      .toDF("doc_id", "text").createOrReplaceTempView("sqlsig_docs")
    val row = spark.sql(
      """SELECT round(quality_score(text), 6) AS q,
        |       round(repetition_ratio(text), 6) AS r,
        |       round(top_gram_fraction(text, 2), 6) AS t2,
        |       lang_id(text) AS lang,
        |       size(ngram_strings(text, 3)) AS n3,
        |       size(ngram_hashes(split(text, ' '), 3)) AS h3
        |FROM sqlsig_docs""".stripMargin).head()
    val df = spark.table("sqlsig_docs")
    val expect = df.select(
      graft.operators.TextAnalysis.qualityScore(col("text")),
      graft.operators.TextAnalysis.repetitionRatio(col("text"))).head()
    assert(row.getDouble(0) == expect.getDouble(0))
    assert(row.getDouble(1) == expect.getDouble(1))
    assert(row.getDouble(2) > 0 && row.getString(3) == "en")
    assert(row.getInt(4) == row.getInt(5), "string and hashed n-gram counts agree")
  }

  test("salted aggregation equals plain groupBy on skewed data") {
    import spark.implicits._
    // 90% of rows share one key — the classic hot-key shape
    val skewed = (0 until 10000).map { i =>
      val k = if (i % 10 == 0) s"key${i % 7}" else "hotkey"
      (k, i.toLong, i.toDouble / 3)
    }.toDF("k", "row_id", "v").repartition(8)
    val salted = Skew.saltedStats(skewed, "k", "v", saltSource = "row_id", buckets = 16)
      .orderBy("k").collect()
    val plain = skewed.groupBy(col("k"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sum"),
        min(col("v")).as("min"), max(col("v")).as("max"))
      .orderBy("k").collect()
    assert(salted.length == plain.length)
    salted.zip(plain).foreach { case (s, p) =>
      assert(s.getString(0) == p.getString(0))
      assert(s.getLong(1) == p.getLong(1))
      assert(math.abs(s.getDouble(2) - p.getDouble(2)) < 1e-6)
      assert(s.getDouble(3) == p.getDouble(3) && s.getDouble(4) == p.getDouble(4))
    }
    // the partial phase really groups on (key, salt): hot key splits 16 ways
    val p = Skew.saltedStats(skewed, "k", "v", "row_id", 16)
      .queryExecution.executedPlan.toString
    assert(p.contains("__salt"), "partial phase must group by (key, salt)")
  }
}
