package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Chunk, ChunkStrategy}

/** A user-supplied chunker (`ChunkStrategy.Custom`, the reference's
  * CUSTOM strategy) runs through the chunk generator like the named
  * strategies, and its shape check fails the job. */
class CustomChunkerSpec extends AnyFunSuite with graft.SharedSpark {

  private def docs = {
    import spark.implicits._
    Seq((1L, "s1", "alpha beta|gamma"), (2L, "s2", "delta"), (3L, "s3", null.asInstanceOf[String]))
      .toDF("doc_id", "source", "text")
  }

  test("Custom chunks become chunk rows through EmbedPipeline.chunkStage") {
    val bars = ChunkStrategy.Custom(t => t.split('|').toSeq.map(p => Chunk(p, s"id-$p")))
    val rows = EmbedPipeline.chunkStage(docs, bars, 0, 0).collect()
      .sortBy(r => (r.doc_id, r.chunk_seq)).toSeq
    assert(rows == Seq(
      ChunkRow(1L, "s1", 0, "id-alpha beta", "alpha beta"),
      ChunkRow(1L, "s1", 1, "id-gamma", "gamma"),
      ChunkRow(2L, "s2", 0, "id-delta", "delta")))
  }

  test("a Custom chunk with null text fails the job") {
    val noText = ChunkStrategy.Custom(_ => Seq(Chunk(null, "id")))
    val e = intercept[Exception](EmbedPipeline.chunkStage(docs, noText, 0, 0).collect())
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(messages.exists(m => m != null && m.contains("each chunk must have a 'text'")), e)
  }
}
