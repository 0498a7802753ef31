package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.sinks.InFlight

/** Chunk enhancement — the reference client's LLM pipeline
  * (client/src/vectorflow_client/chunk_enhancer.py): derive a use case,
  * extract document-level entities/keywords/themes, append relevant
  * facts to each chunk, and add one document-summary chunk.
  *
  * Spark restatement: `mapPartitions` with batched chat calls (the
  * reference uses a 20-thread map, :289-338) for the per-chunk step and
  * a per-document aggregation + `union` for the summary chunk (:194-263).
  *
  * `ChatFn` abstracts the LLM call so tests inject a deterministic
  * stand-in; a real deployment passes an OpenAI-compatible chat client
  * with the same batching envelope as [[OpenAiHttpEmbedder]].
  */
object ChunkEnhancer {

  /** (systemPrompt, userPrompts) => one completion per prompt, order
    * preserved. Must be pure per prompt (Spark retry safety). */
  type ChatFn = (String, IndexedSeq[String]) => IndexedSeq[String]

  /** Deterministic local "LLM": keyword extraction by frequency — stands
    * in for the chat model with zero egress. */
  val localChat: ChatFn = (system, prompts) => prompts.map { p =>
    val words = p.split("\\s+").filter(_.length > 3)
    val top = words.groupBy(identity).view.mapValues(_.length).toSeq
      .sortBy { case (w, n) => (-n, w) }.take(5).map(_._1)
    if (system.contains("summarize")) s"Summary: ${top.mkString(", ")}"
    else s"Facts: ${top.mkString(", ")}"
  }

  /** Append model-derived facts to every chunk text (the per-chunk
    * enhancement), batched `batchSize` prompts per call, one call at a
    * time per task. A chat answer with fewer completions than prompts
    * fails the task rather than dropping chunks. */
  def enhanceChunks(chunks: Dataset[ChunkRow], chat: ChatFn = localChat,
                    batchSize: Int = 20): Dataset[ChunkRow] = {
    val spark = chunks.sparkSession
    import spark.implicits._
    chunks.mapPartitions(InFlight.batched(_, batchSize, limit = 1, "enhance")(
        batch => chat("enrich", batch.map(_.chunk_text))).flatMap { case (batch, facts) =>
      batch.iterator.zip(facts.get.iterator).map { case (c, f) => c.copy(chunk_text = s"${c.chunk_text}\n$f") }
    })
  }

  /** One summary chunk per document appended to the chunk set
    * (enhancer :194-263: summary becomes an extra chunk). The summary
    * chunk takes chunk_seq = -1 so it sorts first and cannot collide. */
  def withSummaryChunks(chunks: Dataset[ChunkRow], chat: ChatFn = localChat): Dataset[ChunkRow] = {
    val spark = chunks.sparkSession
    import spark.implicits._
    val summaries = chunks
      .groupByKey(c => (c.doc_id, c.source))
      .mapGroups { (key: (Long, String), rows: Iterator[ChunkRow]) =>
        val text = rows.map(_.chunk_text).mkString(" ")
        val summary = chat("summarize", IndexedSeq(text)).head
        ChunkRow(key._1, key._2, -1,
          graft.core.Uuid5.ofParts(key._1, -1, summary), summary)
      }
    chunks.unionByName(summaries)
  }
}
