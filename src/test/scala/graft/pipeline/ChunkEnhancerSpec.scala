package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.core.ChunkStrategy

class ChunkEnhancerSpec extends AnyFunSuite with graft.SharedSpark {

  private def chunks = EmbedPipeline.chunkStage(
    graft.Tables.documents(spark, "/root/testdata/sf0.001").limit(20),
    ChunkStrategy.ExactByCharacters, 128, 0)

  test("per-chunk enhancement appends facts, preserves count and order") {
    val before = chunks.collect().sortBy(c => (c.doc_id, c.chunk_seq))
    val after = ChunkEnhancer.enhanceChunks(chunks).collect().sortBy(c => (c.doc_id, c.chunk_seq))
    assert(after.length == before.length)
    before.zip(after).foreach { case (b, a) =>
      assert(a.chunk_text.startsWith(b.chunk_text))
      assert(a.chunk_text.contains("Facts: "))
    }
    // deterministic: same result twice
    val again = ChunkEnhancer.enhanceChunks(chunks).collect().sortBy(c => (c.doc_id, c.chunk_seq))
    assert(after.map(_.chunk_text).toSeq == again.map(_.chunk_text).toSeq)
  }

  test("summary chunks: exactly one per document, sorts first") {
    val out = ChunkEnhancer.withSummaryChunks(chunks).collect()
    val byDoc = out.groupBy(_.doc_id)
    byDoc.foreach { case (_, rows) =>
      val summaries = rows.filter(_.chunk_seq == -1)
      assert(summaries.length == 1)
      assert(summaries.head.chunk_text.startsWith("Summary: "))
    }
    assert(out.length == chunks.count() + byDoc.size)
  }

  test("batched chat calls respect the batch size") {
    // closures are serialized per task even in local mode — collect the
    // observed batch sizes through an accumulator, not a captured queue
    val sizes = spark.sparkContext.collectionAccumulator[Int]("batch_sizes")
    val probe: ChunkEnhancer.ChatFn = (_, prompts) => {
      sizes.add(prompts.length); prompts.map(_ => "x")
    }
    ChunkEnhancer.enhanceChunks(chunks.coalesce(1), probe, batchSize = 7).count()
    assert(!sizes.value.isEmpty)
    sizes.value.forEach(n => assert(n <= 7))
  }

  test("a chat answer short of its prompts fails by name instead of dropping chunks") {
    val short: ChunkEnhancer.ChatFn = (_, prompts) => prompts.drop(1).map(_ => "x")
    val e = intercept[Exception](ChunkEnhancer.enhanceChunks(chunks, short).collect())
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(messages.exists(_.matches("(?s).*enhance call returned (\\d+) results for \\d+ inputs.*")),
      messages.mkString("\n"))
  }
}
