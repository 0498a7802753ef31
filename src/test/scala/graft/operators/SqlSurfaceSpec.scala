package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.ChunkStrategy
import graft.functions.GraftFunctions

class SqlSurfaceSpec extends AnyFunSuite with graft.SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  test("LATERAL VIEW chunk_text == DataFrame chunker path") {
    GraftFunctions.register(spark)
    graft.Tables.documents(spark, dir).limit(50).createOrReplaceTempView("docs_v")
    val viaSql = spark.sql(
      """SELECT doc_id, c.chunk_seq, c.chunk_id, c.chunk_text
        |FROM docs_v
        |LATERAL VIEW chunk_text(text, 'EXACT', 32, 8) c AS chunk_seq, chunk_id, chunk_text
        |ORDER BY doc_id, chunk_seq""".stripMargin).collect()
    val viaDf = Chunking.chunkDocuments(
        graft.Tables.documents(spark, dir).limit(50), ChunkStrategy.Exact, 32, 8)
      .orderBy(col("doc_id"), col("chunk_seq")).collect()
    assert(viaSql.length == viaDf.length && viaSql.nonEmpty)
    viaSql.zip(viaDf).foreach { case (a, b) =>
      assert(a.getLong(0) == b.getLong(0) && a.getInt(1) == b.getInt(1) &&
        a.getString(2) == b.getString(2) && a.getString(3) == b.getString(3))
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
