package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{Chunk, ChunkStrategy, Chunkers, Tokenizer, Tokenizers}

/** DataFrame-level chunking: one document row in, N chunk rows out
  * (the reference's extract→chunk stages, SURVEY.md §2.2-2.3).
  *
  * Two execution paths:
  *
  *  - [[exactByCharsColumns]]: EXACT_BY_CHARACTERS expressed in pure
  *    Catalyst (`sequence` + `substring` + `posexplode`) — whole-stage
  *    codegen, no serialization boundary, the 100 TB path. Verified
  *    byte-identical to the Scala chunker by ChunkingSpec.
  *  - [[chunkUdf]]: the token-based strategies (BPE windows are not
  *    expressible in Catalyst) as one UDF returning the chunk array,
  *    exploded by the caller. The UDF is a pure function of (text,
  *    config) so Spark task retries are safe.
  */
object Chunking {

  /** Chunk array column via the pure-Scala chunkers (any strategy). */
  def chunkUdf(strategy: ChunkStrategy, size: Int, overlap: Int,
               tok: Tokenizer = Tokenizers.default): Column = {
    val f = udf { (text: String) =>
      if (text == null) Array.empty[Chunk]
      else Chunkers.chunk(strategy, Seq(text), size, overlap, tok).toArray
    }
    f(col("text"))
  }

  /** documents(doc_id, text, ...) -> chunks(doc_id, chunk_seq, chunk_id,
    * chunk_text) using the UDF path. */
  def chunkDocuments(docs: DataFrame, strategy: ChunkStrategy,
                     size: Int, overlap: Int): DataFrame =
    docs
      .select(col("doc_id"), posexplode(chunkUdf(strategy, size, overlap)))
      .select(
        col("doc_id"),
        col("pos").as("chunk_seq"),
        col("col.chunkId").as("chunk_id"),
        col("col.text").as("chunk_text"))

  /** EXACT_BY_CHARACTERS in pure Catalyst: window starts are
    * `sequence(0, length-1, step)` (Python `range(0, len, step)`), the
    * window text `substring(text, start+1, size)`. Stays inside
    * whole-stage codegen; scales by repartitioning documents, with no
    * shuffle introduced by the chunking itself. */
  def exactByCharsColumns(size: Int, overlap: Int): Column = {
    val step = size - overlap
    require(step > 0, s"chunk_overlap ($overlap) must be < chunk_size ($size)")
    expr(s"transform(sequence(0, length(text) - 1, $step), s -> struct(s AS start, substring(text, s + 1, $size) AS chunk_text))")
  }

  /** documents -> (doc_id, chunk_start, chunk_text) via the codegen path. */
  def chunkExactByChars(docs: DataFrame, size: Int, overlap: Int): DataFrame =
    docs
      .select(col("doc_id"), explode(exactByCharsColumns(size, overlap)).as("c"))
      .select(col("doc_id"), col("c.start").as("chunk_start"), col("c.chunk_text"))

  /** `split_file` semantics at the DataFrame level: documents split into
    * fixed-size blocks of whitespace "lines" (the testdata documents are
    * single-line, so words stand in for lines; the reference unit is 1000
    * lines/block, src/api/app.py:278-281). Block text is the bare
    * concatenation — the reference's newline-loss quirk (SURVEY §7.1).
    * Pure Catalyst: per-row `sequence` over block indices + `slice`. */
  def splitBlocks(docs: DataFrame, perBlock: Int): DataFrame =
    docs
      .withColumn("words", split(col("text"), " "))
      .select(
        col("doc_id"),
        posexplode(expr(
          s"""transform(
             |  sequence(0, cast(ceil(size(words) / ${perBlock}d) as int) - 1),
             |  b -> struct(
             |    array_join(slice(words, b * $perBlock + 1, $perBlock), '') AS block_text,
             |    size(slice(words, b * $perBlock + 1, $perBlock)) AS n_words))""".stripMargin)))
      .select(
        col("doc_id"),
        col("pos").cast("long").as("block_id"),
        col("col.block_text"),
        col("col.n_words").cast("long").as("n_words"))
}
