package graft.sources

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

class DocumentReaderSpec extends AnyFunSuite with graft.SharedSpark {

  private def fixtures(): String = {
    val dir = Files.createTempDirectory("intake")
    Files.writeString(dir.resolve("plain.txt"), "hello spark\nsecond line")
    Files.writeString(dir.resolve("notes.md"), "# title\nbody text")
    Files.writeString(dir.resolve("page.html"), "<p>It's html</p>")
    Files.write(dir.resolve("report.pdf"), Array[Byte](0x25, 0x50, 0x44, 0x46, 1, 2, 3))
    Files.write(dir.resolve("doc.docx"), Array[Byte](0x50, 0x4b, 3, 4, 5))
    Files.writeString(dir.resolve("noext"), "sniffable utf8 prose")
    Files.write(dir.resolve("binary.bin"), Array.tabulate[Byte](64)(i => (0x80 | i).toByte))
    Files.writeString(dir.resolve("empty.txt"), "")
    dir.toString
  }

  test("intake: filters, sniffing, dedup, format dispatch, accounting") {
    val dir = fixtures()
    val df = DocumentReader.intake(spark, dir)
    val rows = df.collect().map(r => r.getString(1) -> r.getString(2)).toMap

    // valid: plain.txt, notes.md, page.html, report.pdf, doc.docx, noext (sniffed)
    assert(rows.keySet == Set("plain.txt", "notes.md", "page.html", "report.pdf", "doc.docx", "noext"))
    assert(rows("plain.txt") == "hello spark\nsecond line")
    assert(rows("noext") == "sniffable utf8 prose")
    // S5 quirk: html is repr()'d, not stripped
    assert(rows("page.html") == "\"<p>It's html</p>\"")
    assert(rows("report.pdf").startsWith("[pdf:"))
    assert(rows("doc.docx").startsWith("[docx:"))

    // observed intake accounting — Spark's binaryFile file index skips
    // zero-length files before the scan, so empty.txt never shows up:
    // the reference's empty-skip (F3) happens structurally
    val observed = df.queryExecution.observedMetrics("intake")
    assert(observed.getAs[Long]("files_seen") == 7)
    assert(observed.getAs[Long]("empty_files") == 0)
    assert(observed.getAs[Long]("invalid_type_files") == 1) // binary.bin
  }

  test("upper- and mixed-case extensions pass the whitelist and dispatch; " +
      "a non-ASCII extension is still sniffed") {
    val dir = Files.createTempDirectory("intake-case")
    Files.write(dir.resolve("REPORT.PDF"), Array[Byte](0x25, 0x50, 0x44, 0x46, 1, 2, 3))
    Files.writeString(dir.resolve("Notes.Md"), "# title\nbody")
    Files.writeString(dir.resolve("PAGE.HTML"), "<p>hi</p>")
    val rows = DocumentReader.intake(spark, dir.toString)
      .collect().map(r => r.getString(1) -> r.getString(2)).toMap
    assert(rows.keySet == Set("REPORT.PDF", "Notes.Md", "PAGE.HTML"))
    assert(rows("REPORT.PDF").startsWith("[pdf:"))
    assert(rows("Notes.Md") == "# title\nbody")
    assert(rows("PAGE.HTML") == "'<p>hi</p>'")

    // non-ASCII names, as paths (not files: the JVM's file-name charset
    // may not encode them): only A-Z is lowercased, and an extension
    // outside the whitelist is decided by the UTF-8 sniff
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val text = "sniffed prose".getBytes("UTF-8")
    val binary = Array.tabulate[Byte](64)(i => (0x80 | i).toByte)
    val decided = Seq(("/d/data.\u00c4\u00d6", text), ("/d/blob.\u00c9X", binary), ("/d/a.TxT", binary))
      .toDF("path", "content")
      .select(DocumentReader.extension(col("path")).as("ext"), col("content"))
      .select(col("ext"), DocumentReader.isValidType(col("ext"), col("content")))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toSeq
    assert(decided == Seq(".\u00c4\u00d6" -> true, ".\u00c9x" -> false, ".txt" -> true))
  }

  test("pythonRepr matches Python repr() on tricky strings") {
    // python: repr("plain") == "'plain'"
    assert(DocumentReader.pythonRepr("plain") == "'plain'")
    // python: repr("It's") == '"It\'s"' -> "It's" with double quotes
    assert(DocumentReader.pythonRepr("It's") == "\"It's\"")
    // python: repr("a\nb") == "'a\\nb'"
    assert(DocumentReader.pythonRepr("a\nb") == "'a\\nb'")
    // python: repr("mix'and\"quotes") uses single quotes, escapes the single
    assert(DocumentReader.pythonRepr("mix'and\"quotes") == "'mix\\'and\"quotes'")
  }

  test("sensible HTML mode strips tags when the quirk flag is off") {
    val dir = fixtures()
    val rows = DocumentReader.intake(spark, dir, faithfulHtml = false)
      .collect().map(r => r.getString(1) -> r.getString(2)).toMap
    assert(rows("page.html") == "It's html")
  }
}
