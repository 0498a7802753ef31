package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Chunkers

/** FIXTURES.md §1: synthetic equivalents of the reference fixture files
  * with the same line counts, so the expected batch/chunk counts carry
  * over — driven end-to-end through intake → split_file → chunk. */
class FixtureParitySpec extends AnyFunSuite with graft.SharedSpark {

  /** (name, lines) mirroring the reference fixtures: test_short_text 4,
    * test_medium_text 146, test_text 1107, test_long_text 12000. */
  private val fixtures = Seq(
    ("test_short_text.txt", 4),
    ("test_medium_text.txt", 146),
    ("test_text.txt", 1107),
    ("test_long_text.txt", 12000))

  private def writeFixtures(): String = {
    val dir = Files.createTempDirectory("ref_fixtures")
    fixtures.foreach { case (name, lines) =>
      val content = (0 until lines)
        .map(i => s"fixture line $i with a repeated sentence about spark engines.")
        .mkString("\n")
      Files.writeString(dir.resolve(name), content)
    }
    dir.toString
  }

  test("split_file batch counts match the reference fixture expectations") {
    // reference: <1000 lines -> 1 block; 1107 -> 2; 12000 -> 12
    // (src/api/app.py:278-281 with LinesPerBatch=1000)
    val expected = Map(
      "test_short_text.txt" -> 1, "test_medium_text.txt" -> 1,
      "test_text.txt" -> 2, "test_long_text.txt" -> 12)
    val dir = writeFixtures()
    val docs = DocumentReader.intake(spark, dir)
    val rows = docs.collect().map(r => r.getString(1) -> r.getString(2)).toMap
    expected.foreach { case (name, blocks) =>
      val got = Chunkers.splitFile(rows(name), 1000).length
      assert(got == blocks, s"$name: $got blocks, expected $blocks")
    }
  }

  test("full pipeline over the fixture files produces deterministic vectors") {
    val dir = writeFixtures()
    val docs = DocumentReader.intake(spark, dir)
    val a = graft.pipeline.EmbedPipeline.run(docs).collect().sortBy(_.id)
    val b = graft.pipeline.EmbedPipeline.run(docs).collect().sortBy(_.id)
    assert(a.length == b.length && a.length > 0)
    assert(a.map(_.id).toSeq == b.map(_.id).toSeq)
    // 12000-line doc dominates: ~900 KB -> ~7000 chunks at 256/128
    val bySource = a.groupBy(_.source_document).view.mapValues(_.length).toMap
    assert(bySource("test_long_text.txt") > bySource("test_short_text.txt") * 100)
  }

  test("REAL reference PDF through the full pipeline: extract -> chunk -> embed") {
    // the actual 42-page fixture, not a synthetic stand-in: intake
    // dispatches .pdf to PdfText, and the extracted text must carry the
    // full word mass of the source through chunking into vectors
    val dir = Files.createTempDirectory("pdf_e2e")
    Files.copy(Paths.get("/root/reference/src/api/tests/fixtures/test_pdf.pdf"),
      dir.resolve("test_pdf.pdf"))
    val docs = DocumentReader.intake(spark, dir.toString)
    val extracted = docs.collect()
    assert(extracted.length == 1)
    val text = extracted.head.getString(2)
    assert(text.startsWith("Welcome to vector flow!!!"))
    val srcWords = Files.readString(
      Paths.get("/root/reference/src/api/tests/fixtures/test_text.txt"))
      .split("\\s+").count(_.nonEmpty)
    assert(text.split("\\s+").count(_.nonEmpty) == srcWords,
      "extraction must preserve the full word mass")
    val vectors = graft.pipeline.EmbedPipeline.run(docs).collect()
    // ~87k chars at 256-char windows, 128 step -> ~680 chunks
    assert(vectors.length > 600 && vectors.length < 800, s"${vectors.length} chunks")
    assert(vectors.map(_.id).distinct.length == vectors.length)
  }

  test("intake + ledger lifecycle: every fixture lands COMPLETED") {
    val dir = writeFixtures()
    val docs = DocumentReader.intake(spark, dir)
    val status = graft.pipeline.EmbedPipeline.statusLedger(
      graft.pipeline.EmbedPipeline.embedStageWithStatus(
        graft.pipeline.EmbedPipeline.chunkStage(docs,
          graft.core.ChunkStrategy.ExactByCharacters, 256, 128),
        new graft.pipeline.HashEmbedder(16)))
    val statuses = status.collect().map(r => r.getString(0) -> r.getString(3)).toMap
    assert(statuses.size == fixtures.size)
    assert(statuses.values.forall(_ == "COMPLETED"))
  }
}
