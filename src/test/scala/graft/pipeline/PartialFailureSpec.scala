package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.ChunkStrategy

/** The reference's partial-failure contract: a batch that exhausts its
  * retries fails alone; the job records PARTIALLY_COMPLETED (SURVEY §7
  * "what's hard"; job_service.py:32-51). */
/** Fails any batch containing a poisoned chunk. Top-level so the task
  * closure doesn't capture the (non-serializable) suite instance. */
class PoisonEmbedder(poison: String) extends Embedder {
  private val inner = new HashEmbedder(8)
  override val dim = 8
  override val maxBatchSize = 4
  override def embedBatch(texts: IndexedSeq[String]): IndexedSeq[Array[Float]] = {
    if (texts.exists(_.contains(poison))) throw new RuntimeException("poisoned batch")
    inner.embedBatch(texts)
  }
}

class PartialFailureSpec extends AnyFunSuite with graft.SharedSpark {

  test("a failing embed batch yields PARTIALLY_COMPLETED, not a dead job") {
    import spark.implicits._
    val docs = Seq(
      (1L, "src_ok", "clean text about spark tables and joins " * 8),
      (2L, "src_ok", "more clean text rows columns filters " * 8),
      (3L, "src_bad", "POISON in this document breaks embedding " * 8),
      (4L, "src_bad", "this one is clean though and should pass " * 8))
      .toDF("doc_id", "source", "text")
    val chunks = EmbedPipeline.chunkStage(docs, ChunkStrategy.ExactByCharacters, 64, 0)
      .repartition(4, col("doc_id"))
    val status = EmbedPipeline.embedStageWithStatus(chunks, new PoisonEmbedder("POISON"))
    val ledger = EmbedPipeline.statusLedger(status).collect()
      .map(r => r.getString(0) -> r.getString(3)).toMap
    assert(ledger("src_ok") == "COMPLETED")
    assert(ledger("src_bad") == "PARTIALLY_COMPLETED")
    // failed rows carry the cause; successful rows carry vectors
    val rows = status.collect()
    assert(rows.filter(!_.ok).forall(r => r.error.contains("poisoned") && r.vector.isEmpty))
    assert(rows.filter(_.ok).forall(_.vector.length == 8))
    // the Spark job itself survived (we got here) and every chunk is accounted
    assert(rows.length == chunks.count())
  }

  test("all batches failing yields FAILED") {
    import spark.implicits._
    val docs = Seq((1L, "s", "POISON everywhere " * 20)).toDF("doc_id", "source", "text")
    val chunks = EmbedPipeline.chunkStage(docs, ChunkStrategy.ExactByCharacters, 64, 0)
    val ledger = EmbedPipeline.statusLedger(
      EmbedPipeline.embedStageWithStatus(chunks, new PoisonEmbedder("POISON")))
      .collect()
    assert(ledger.head.getString(3) == "FAILED")
  }
}
